package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cache-hygiene contract: every persist/localCheckpoint a query
  * builder takes is registered with [[CacheScope]], and one
  * `releaseAll()` after the consuming action frees ALL of it —
  * including the RDD-level checkpoint blocks that
  * `spark.catalog.clearCache()` cannot evict. A long-lived session
  * running pipelines repeatedly must not accumulate blocks.
  */
class CacheScopeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("releaseAll frees persists AND checkpoint blocks from finished queries") {
    import spark.implicits._
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // exercises every caching flavor in the engine:
    //   d04 — persist()ed intermediate under a lazy plan
    //   d09 distributed tier — per-round localCheckpoints + final labels
    //   q67 — conf-windowed plan materialized via localCheckpoint
    operators.Dedup.d04_ngram_jaccard(spark, sfDir).collect()
    operators.Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b"), 0L).collect()
    operators.Relational2.q67_bloom_join(spark, sfDir).collect()
    val during = spark.sparkContext.getPersistentRDDs.keySet
    assert(during.diff(before).nonEmpty,
      "expected live cached/checkpointed blocks after the queries ran")
    CacheScope.releaseAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.subsetOf(before),
      s"leaked blocks survived releaseAll: ${after.diff(before)}")
  }

  test("q67 conf window never mutates the caller's session") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val out = operators.Relational2.q67_bloom_join(spark, sfDir).count()
    assert(out > 0)
    val now = keys.map(k => k -> spark.conf.getOption(k))
    assert(now == saved,
      "q67 changed session confs visible to concurrent queries")
    CacheScope.releaseAll()
  }
}
