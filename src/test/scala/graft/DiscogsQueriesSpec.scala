package graft

import org.scalatest.funsuite.AnyFunSuite

/** The discogs star's query surface: the dq roster entries over the
  * grown star. */
class DiscogsQueriesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("dq staging: grown star is FK-consistent, clone-exact, and " +
      "the dq entries return real rows") {
    import org.apache.spark.sql.functions._
    val dir = operators.DiscogsStar.ensureStaged(spark)
    val f = operators.DiscogsStar.GrowFactor
    val rel = spark.read.parquet(s"$dir/release")
    val rl = spark.read.parquet(s"$dir/release_label")
    val ma = spark.read.parquet(s"$dir/master_artist")
    val m = spark.read.parquet(s"$dir/master")
    // clone growth: exactly factor × the fixture's 3 releases, ids
    // disjoint across clones
    assert(rel.count() == 3L * f)
    assert(rel.select(col("id")).distinct().count() == 3L * f)
    // FK consistency survives the id-offset: every fan-out row joins
    // back to its parent, every master_artist to its master
    assert(rl.join(rel, rl("release_id") === rel("id"), "left_anti")
      .count() == 0, "release_label rows orphaned by the clone offset")
    assert(ma.join(m, ma("master_id") === m("id"), "left_anti")
      .count() == 0, "master_artist rows orphaned by the clone offset")
    // master_id = 0 stays the no-master sentinel in every clone
    assert(rel.filter(col("master_id") % operators.DiscogsStar.CloneOffset
      === 0 && col("master_id") =!= 0).count() == 0)
    // the suite entries produce rows (the oracle gate checks values)
    Seq("dq01_label_fanout", "dq02_genre_agg",
      "dq03_top_videos_per_label", "dq04_artist_dups",
      "dq05_master_credits").foreach { q =>
      assert(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .count() > 0, s"$q returned no rows")
    }
    // the fixture's own documented dup family survives normalization
    // into one key group: The Persuader / Persuader / The Presuader
    val dups = SparkEntry.queries("dq04_artist_dups")(
      spark, "/root/testdata/sf0.001").collect()
    assert(dups.exists(_.getAs[String]("name_key") == "thepersuader"),
      "the fixture's Persuader dup family is missing from dq04")
    CacheScope.releaseAll()
  }
}
