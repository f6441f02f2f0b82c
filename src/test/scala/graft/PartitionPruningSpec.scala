package graft

import graft.TestDirs.withTempDir
import graft.sources.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition pruning: a date-partitioned layout must turn an equality
  * filter on the partition column into directory-level pruning
  * (PartitionFilters), reading only the matching slice.
  */
class PartitionPruningSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("date-partitioned events scan prunes to one partition") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")))
    withTempDir("graft-part") { tmp =>
      val dir = tmp.toString
      Sinks.writePartitioned(events, dir, "events", Seq("event_date"))

      val someDay = events.select(min(to_date(col("ts")))).first().getDate(0)
      val q = spark.read.parquet(s"$dir/events")
        .filter(col("event_date") === lit(someDay))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"))
      assert(plan.contains("event_date"), plan)
      // pruned scan reads exactly that day's rows
      val expected = events.filter(to_date(col("ts")) === lit(someDay)).count()
      assert(q.count() == expected && expected > 0)
      // and the partition filter appears in the scan, not as a post-filter
      assert(plan.contains(s"PartitionFilters: [isnotnull(event_date"),
        s"partition filter not pushed:\n$plan")
    }
  }

  test("compactParquet collapses small files and preserves every row") {
    import spark.implicits._
    withTempDir("graft-compact") { tmp =>
      val dir = s"$tmp/t"
      (1 to 5000).toDF("v").repartition(40).write.parquet(dir)
      def parquetFiles() = new java.io.File(dir).listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(parquetFiles() == 40)
      val (before, after) = Sinks.compactParquet(spark, dir, targetMB = 128)
      assert(before == 40 && after == 1, s"($before, $after)")
      assert(parquetFiles() == 1)
      assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq
        == (1 to 5000))
      // idempotent on an already-compact table; clusterBy preserves rows
      val (b2, a2) = Sinks.compactParquet(spark, dir, targetMB = 128,
        clusterBy = Seq("v"))
      assert(b2 == 1 && a2 == 1)
      assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq
        == (1 to 5000))
      // partitioned layouts are refused, not silently flattened
      val pdir = s"$tmp/p"
      (1 to 100).toDF("v").withColumn("k", col("v") % 2)
        .write.partitionBy("k").parquet(pdir)
      intercept[IllegalArgumentException] {
        Sinks.compactParquet(spark, pdir)
      }
    }
  }
}
