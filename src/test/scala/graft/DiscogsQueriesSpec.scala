package graft

import graft.sources.DiscogsXml
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The discogs star's query surface: cross-dump first-wins on the
  * fixture-loaded tables, and the dq roster entries over the grown
  * star. */
class DiscogsQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = TestSpark.spark
  private def res(name: String) = getClass.getResource(s"/$name").getPath

  @volatile private var loaded = false
  private lazy val t: Map[String, DataFrame] = {
    val m = DiscogsXml.loadAll(spark, Seq(
      res("releases.xml.gz"), res("artists.xml.gz"),
      res("labels.xml.gz"), res("masters.xml.gz")))
    loaded = true
    m.map { case (k, v) => k -> v.cache() }
  }

  // the tables are cached in the shared test session: left there, any
  // later suite's plan over the same fixture dumps reads these caches
  // instead of its own scans
  override def afterAll(): Unit =
    try if (loaded) t.values.foreach(_.unpersist()) finally super.afterAll()

  test("union of two dumps keeps the first dump's rows for shared ids") {
    // a second dump of the same ids with changed titles: every id keeps
    // the row of the dump given first, whichever that is
    val first = t("release")
    val second = first.withColumn("title", concat(col("title"), lit(" (reissue)")))
    def idTitles(df: DataFrame) =
      df.select(col("id"), col("title")).collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    val u = DiscogsXml.unionDumps(first, second)
    assert(u.count() == first.count())
    assert(idTitles(u) == idTitles(first))
    assert(idTitles(DiscogsXml.unionDumps(second, first)) == idTitles(second))
  }

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
