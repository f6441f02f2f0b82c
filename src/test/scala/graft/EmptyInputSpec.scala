package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Empty-input robustness: at 100 TB scale, empty slices are routine
  * (a partition filter that matches nothing, a day with no delivery,
  * a label block with no vectors). Every operator must return an
  * empty (or degenerate-aggregate) result — never throw — when its
  * input tables have zero rows. This pins the edge paths: d05's
  * dim-scan fallback, d13's count-derived modulus, d10's cap count,
  * the IVF index's empty centroid set, q69's empty user universe.
  */
// @Slow: excluded from the driver fast lane (`sbt test`; see
// build.sbt) — all-queries empty-input sweep (~1 min); run with the full suite: `sbt "testOnly *"`
@org.scalatest.tags.Slow
class EmptyInputSpec extends AnyFunSuite with SuiteTempDir {

  lazy val spark = TestSpark.spark

  private lazy val emptyDir: String = {
    val dir = suiteTempDir("graft-empty").toString
    def write(name: String, schema: StructType): Unit =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    write("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))))
    dir
  }

  // aggregate-shaped queries legitimately emit one degenerate row on
  // empty input (e.g. d13's recall summary); everything else must be
  // empty
  private val degenerateRowOk = Set("d13_lsh_recall", "t19_zipf")

  private val targets = Seq(
    "d01_dedup_exact", "d02_minhash_lsh", "d03_simhash", "d04_ngram_jaccard",
    "d05_embedding_neardup", "d07_snapshot_diff", "d09_dup_clusters",
    "d10_decontam", "d13_lsh_recall", "d15_semantic_dedup",
    "d16_incremental_neardup", "d17_multimodal_clusters",
    "t01_lang_id", "t02_quality", "t03_tokens", "t04_fingerprint",
    "s01_ann_bruteforce", "s02_ann_lsh", "s03_ann_ivf", "s06_quantize_int8",
    "s19_ivf_exact",
    "q69_funnel", "m03_media_stats", "m05_phash_groups",
    "m06_media_dedup_groups", "m07_video_frame_dedup",
    "t16_bm25", "t17_shards", "d18_source_overlap", "s07_label_centroids",
    "t18_lm_perplexity", "d19_repeated_ngrams", "s08_semantic_decontam",
    "d20_bloom_decontam", "d21_crossmodal_cc", "d22_substring_pairs",
    "d23_gram_novelty", "d24_line_dedup", "t19_zipf", "t20_heavy_hitters",
    "t21_code_switch", "t22_dsir", "q70_cohort", "d25_pair_rank",
    "t23_bpe_merges", "s09_pq_codes", "q71_zorder", "p01_pipeline",
    "p03_training_build", "p04_semantic_build", "p06_epoch_build",
    "t24_quality_classifier", "t25_bpe_encode", "s10_pq_search",
    "q72_merge_upsert", "d26_boilerplate", "d27_containment", "s11_mmr",
    "s12_drift", "d28_cluster_density", "p02_incremental",
    "q73_incremental_agg", "t26_kneser_ney",
    "d29_canonicalize", "d30_span_scrub", "s13_hybrid_rrf", "s14_knn_graph",
    "s15_communities", "d32_screen_core", "s16_int8_search",
    "s17_community_dedup", "s18_filtered_ann", "s20_nn_descent",
    "s21_graph_search", "s22_cell_graph", "s23_cell_search",
    "s24_incremental_graph", "s25_standing_search", "s26_index_health",
    "p07_serving_pipeline", "s27_index_refresh", "s28_pq_serving",
    "s29_tombstone_serve", "s30_delete_compact", "s31_pq_standing",
    "s32_filtered_search", "s33_hybrid_rrf", "p08_hybrid_pipeline",
    "s34_serving_recall",
    "d33_leakage_split",
    "p05_epoch_mixture",
    "t27_fertility", "t28_token_drift", "d31_corpus_report",
    "q74_sketch_rollup")

  for (name <- targets)
    test(s"$name tolerates zero-row inputs") {
      val n = SparkEntry.queries(name)(spark, emptyDir).count()
      CacheScope.releaseAll()
      spark.catalog.clearCache()
      if (degenerateRowOk(name)) assert(n <= 1)
      else assert(n == 0, s"$name returned $n rows from empty tables")
    }
}
