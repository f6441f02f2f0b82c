package graft

import graft.TestDirs.withTempDir
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[Tables.load]]: the footer schema is inferred once per version of
  * a table. */
class TablesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  /** Runs `body` in its own job group; returns the Spark jobs it
    * started. The listener bus is asynchronous: a marker job after
    * `body` is delivered after all of them. */
  private def jobsOf[A](body: => A): (Int, A) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("graft-tables-body") => jobs.incrementAndGet()
          case Some("graft-tables-marker") => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-tables-body", "Tables.load")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup("graft-tables-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus stalled")
      (jobs.get, a)
    } finally sc.removeSparkListener(listener)
  }

  test("a second load of an unchanged table starts no Spark job; a rewrite is inferred again") {
    withTempDir("graft-tables-memo") { dir =>
      val d = dir.getPath
      spark.range(5).selectExpr("id", "cast(id as string) as s").write.parquet(s"$d/t.parquet")
      val (firstJobs, first) = jobsOf(Tables.load(spark, d, "t"))
      assert(firstJobs > 0, "the first load inferred its schema without a job")
      val (secondJobs, second) = jobsOf(Tables.load(spark, d, "t"))
      assert(secondJobs == 0, s"the second load started $secondJobs jobs")
      assert(second.schema == first.schema)
      assert(second.orderBy("id").collect().map(_.getString(1)).toSeq == (0 until 5).map(_.toString))

      spark.range(3).selectExpr("id * 2 as x").write.mode("overwrite").parquet(s"$d/t.parquet")
      val third = Tables.load(spark, d, "t")
      assert(third.columns.toSeq == Seq("x"))
      assert(third.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L))
    }
  }
}
