package graft

import org.apache.spark.JobExecutionStatus
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[Harness.run]], the one way a main runs a roster entry: what it
  * returns for a good, a throwing and a capped entry, and what it
  * leaves in the session afterwards. */
class HarnessSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("a good entry returns its wall and rows") {
    val (wall, rows) = Harness.run(spark, "harness-ok", 60)(spark.range(10).count())
    assert(rows == 10L)
    assert(wall > 0.0 && wall < 60.0, s"wall $wall")
  }

  test("a throwing entry returns rows -1") {
    val (_, rows) = Harness.run(spark, "harness-boom", 60) {
      spark.range(3).count()
      throw new IllegalStateException("boom")
    }
    assert(rows == -1L)
  }

  test("an entry past its cap returns -2 and leaves no job of its group running") {
    val (wall, rows) = Harness.run(spark, "harness-slow", 2) {
      spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(120000); i }.count()
    }
    assert(rows == -2L)
    assert(wall >= 2.0 && wall < 60.0, s"wall $wall")
    val tracker = spark.sparkContext.statusTracker
    // the status store is fed by the asynchronous listener bus
    eventually(timeout(30.seconds), interval(100.millis)) {
      val jobs = tracker.getJobIdsForGroup("graft-harness-slow")
      assert(jobs.nonEmpty, "the capped entry never started a job")
      val running = jobs.filter(j =>
        tracker.getJobInfo(j).forall(_.status == JobExecutionStatus.RUNNING))
      assert(running.isEmpty, s"jobs still running: ${running.mkString(",")}")
    }
  }

  test("persists and checkpoints the entry registers are released") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var during = Set.empty[Int]
    val (_, rows) = Harness.run(spark, "harness-persist", 60) {
      val p = CacheScope.persisted(spark.range(100).toDF("id"))
      val c = CacheScope.checkpointed(spark.range(50).toDF("id"))
      val n = p.join(c, "id").count()
      during = sc.getPersistentRDDs.keySet.toSet
      n
    }
    assert(rows == 50L)
    assert(during.diff(before).nonEmpty, "the entry persisted nothing")
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("the session's codegen cache holds every class a roster pass generates") {
    // static conf: it can only be set when the session is built
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") ==
      Harness.CodegenCacheEntries.toString)
    // a graft.Bench run at sf0.01 compiles about 2,700 distinct classes
    assert(Harness.CodegenCacheEntries > 2700)
  }

  test("Harness.scala is the only source file that builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val sources = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    // comments do not count: a scaladoc may show the call
    def code(p: Path): String = Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val builders = sources.filter(p => builder.findFirstIn(code(p)).isDefined)
      .map(_.getFileName.toString)
    assert(builders == Seq("Harness.scala"), s"session builders in: ${builders.mkString(", ")}")
  }
}
