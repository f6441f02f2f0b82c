package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-distribution robustness: constant columns, zero
  * vectors, and single-user event streams are routine slices of a
  * 100 TB corpus (one day of a stuck sensor, an all-zero embedding
  * batch from a failed encoder). Range- and variance-derived
  * divisors go to zero on them — this gate pins that the stats/
  * histogram/quantize operators complete instead of ANSI-throwing.
  */
// @Slow: excluded from the driver fast lane (`sbt test`; see
// build.sbt) — all-queries degenerate-input sweep (~40 s); run with the full suite: `sbt "testOnly *"`
@org.scalatest.tags.Slow
class DegenerateInputSpec extends AnyFunSuite with SuiteTempDir {

  lazy val spark = TestSpark.spark

  private lazy val degDir: String = {
    val dir = suiteTempDir("graft-degen").toString
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // one user, one type, CONSTANT value — ranges and variances are 0
    val events = java.util.Arrays.asList((1 to 20).map(i =>
      Row(i.toLong, t0, 1L, "view", 5.0, "{}")): _*)
    spark.createDataFrame(events, evSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    // all-zero vectors: norm 0, max|x| 0
    val embs = java.util.Arrays.asList(
      Row(1L, Seq(0f, 0f, 0f), 0),
      Row(2L, Seq(0f, 0f, 0f), 0),
      Row(3L, Seq(1f, 2f, 2f), 0))
    spark.createDataFrame(embs, embSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val orderSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val orders = java.util.Arrays.asList((1 to 10).map(i =>
      Row(i.toLong, 1L, "O", 100.0, t0, "1-URGENT")): _*)
    spark.createDataFrame(orders, orderSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val liSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    // every numeric column CONSTANT — zero variance, zero covariance
    val lines = java.util.Arrays.asList((1 to 10).map(i =>
      Row(i.toLong, 1L, 1L, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", t0)): _*)
    spark.createDataFrame(lines, liSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  private val targets = Seq(
    "q29_histogram",   // bucket width from (max - min) = 0
    "q33_outliers",    // stddev = 0
    "q52_corr_stats",  // zero variance → corr undefined
    "q41_ntile",
    "q23_percentile",
    "q63_hopping_window",
    "q74_sketch_rollup",
    "s04_norm_stats",  // zero-norm vectors
    "s06_quantize_int8", // scale = max|x|/127 = 0
    "s07_label_centroids",
    "d05_embedding_neardup", // cosine with zero-norm vector
    "d15_semantic_dedup",
    "s14_knn_graph", "s15_communities",
    "s16_int8_search",  // scale = 0 on zero vectors
    "s19_ivf_exact",    // all-zero milli vectors, distance 0 ties
    "s20_nn_descent",   // every candidate at d2 = 0 → pure id ties
    "s21_graph_search", "s22_cell_graph",
    "s23_cell_search",  // one cell absorbs everything, medoid pure-tie
    "s24_incremental_graph", "s25_standing_search",
    "s32_filtered_search", // label filter over pure d2=0 ties
    "s34_serving_recall")  // truth == every candidate at d2 = 0

  for (name <- targets)
    test(s"$name survives constant/zero-range slices") {
      // the contract is count() completing without throwing (constant
      // slices hit zero variance / zero range paths); the value itself
      // carries no signal
      val _ = SparkEntry.queries(name)(spark, degDir).count()
      CacheScope.releaseAll()
      spark.catalog.clearCache()
    }
}
