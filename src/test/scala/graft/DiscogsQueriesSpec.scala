package graft

import graft.operators.DiscogsQueries._
import graft.sources.DiscogsXml
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.3 query surface exercised on the fixture-loaded discogs
  * star schema. */
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

  test("point lookup by PK") {
    val r = releaseById(t("release"), 8).collect()
    assert(r.length == 1 && r.head.getAs[String]("title") == "Spreading Outward EP")
  }

  test("fan-out joins: labels and videos per release") {
    assert(releaseWithLabels(t("release"), t("release_label")).count() == 4)
    val vids = releaseWithVideos(t("release"), t("release_video"))
    assert(vids.count() == 26)
    assert(vids.filter(col("video_title") === "").count() == 0)
  }

  test("snowflake dim join: release -> master -> artist") {
    val r = releaseMasterArtists(t("release"), t("master"),
      t("master_artist"), t("artist"))
    // fixture releases reference masters 48282/595959/612551 which are
    // NOT in the 3-master fixture dump → inner join is empty, but the
    // master->artist arm must still resolve
    assert(r.count() == 0)
    val ma = t("master").join(t("master_artist"),
      t("master")("id") === t("master_artist")("master_id"))
    assert(ma.count() == 3)
  }

  test("label dim join resolves label names") {
    val r = releaseLabelDim(t("release_label"), t("label")).collect()
    // only label_ids 9/10 appear in releases; fixture labels are 1-4 →
    // no overlap, so check the shape on a synthetic match instead
    assert(r.isEmpty)
    import spark.implicits._
    val rl = Seq((8, "Planet E", "PE-1", 1)).toDF("release_id", "label", "catno", "label_id")
    val joined = releaseLabelDim(rl, t("label")).collect()
    assert(joined.length == 1 && joined.head.getAs[String]("label_name") == "Planet E")
  }

  test("aggregations: per country and exploded per genre") {
    val byCountry = releasesPerCountry(t("release")).collect()
    assert(byCountry.map(_.getLong(1)).sum == 3)
    val byGenre = releasesPerGenre(t("release")).collect()
    assert(byGenre.map(r => r.getString(0) -> r.getLong(1)).toMap
      .getOrElse("Electronic", 0L) == 3L)
  }

  test("distinct + approx-distinct credited artists") {
    val r = distinctCreditedArtists(t("master_artist")).first()
    assert(r.getLong(0) == 2) // Vince Watson on 2 masters, Soleil on 1
    assert(r.getLong(1) >= 1)
  }

  test("top-N per label window") {
    val r = topReleasesPerLabel(t("release"), t("release_label"), n = 2)
    assert(r.filter(col("rk") > 2).count() == 0)
    assert(r.count() >= 3)
  }

  test("latest releases sort+limit parses partial dates") {
    val r = latestReleases(t("release"), 3).collect()
    assert(r.length == 3)
    assert(r.head.getAs[java.sql.Date]("released_date").toString == "2000-01-01")
  }

  test("union of two dumps is first-wins idempotent; diff is empty") {
    val u = unionDumps(t("release"), t("release"))
    assert(u.count() == t("release").count())
    assert(diffDumps(t("release"), t("release")).count() == 0)
  }

  test("title search is case-insensitive") {
    assert(searchTitles(t("release"), "SPREADING").count() == 1)
  }

  test("near-duplicate artist names via blocked levenshtein") {
    import spark.implicits._
    val artists = Seq(
      (1, "The Persuader"), (2, "The Persuadar"), (3, "Zebra"))
      .toDF("id", "name")
    val pairs = nearDuplicateArtists(artists).collect()
    assert(pairs.length == 1 && pairs.head.getAs[Int]("dist") == 1)
  }

  test("artist duplicate clusters collapse chained name variants") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val artists = Seq(
      (1, "The Persuader"), (2, "The Persuadar"), (3, "The Persuadir"),
      (7, "Zebra"), (8, "Zebro")).toDF("id", "name")
    val got = artistDupClusters(artists)
      .select(col("artist_id").cast("long"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("genre co-occurrence counts unordered pairs once") {
    import spark.implicits._
    val rel = Seq(
      (1, Seq("Electronic", "House")),
      (2, Seq("Electronic", "House", "Ambient")),
      (3, Seq("Rock"))).toDF("id", "genres")
    val pairs = genreCooccurrence(rel).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(pairs == Set(
      ("Electronic", "House", 2L),
      ("Ambient", "Electronic", 1L),
      ("Ambient", "House", 1L)))
  }

  test("label catalog stats over the fan-out table") {
    val stats = labelCatalogStats(t("release_label")).collect()
    // fixture rows: (8,D4L12004,9), (9,NM008,10), (10,NM003,10), (10,nm 003,10)
    assert(stats.map(_.getLong(2)).sum == 4) // total rows
    val l10 = stats.find(_.getInt(0) == 10).get
    assert(l10.getLong(2) == 3)  // 3 fan-out rows
    assert(l10.getLong(3) == 2)  // on 2 distinct releases (9, 10)
    assert(l10.getLong(4) == 3)  // 3 distinct catnos
  }

  test("partial-date parsing: year-only, year-month, full, junk") {
    import spark.implicits._
    val df = Seq("2000", "1999-03", "1999-03-05", "0000", "garbage", "")
      .toDF("released")
    val parsed = withReleasedDate(df).select(col("released_date").cast("string"))
      .collect().map(r => Option(r.getString(0)).getOrElse("null"))
    assert(parsed.toSeq == Seq("2000-01-01", "1999-03-01", "1999-03-05",
      "0000-01-01", "null", "null"))
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
