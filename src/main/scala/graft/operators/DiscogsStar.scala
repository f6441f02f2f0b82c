package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's OWN domain under the driver's DuckDB hash gate:
  * suite entries (dq01–dq05) over the discogs star schema, staged
  * once from the four fixture dumps that ship on the main classpath
  * ([[FixtureResources]], the reference's test_data slices as gzip
  * XML) through the production parse path and grown ScaleGen-style
  * (deterministic clone × [[GrowFactor]] with id-offsets,
  * FK-consistent).
  *
  * These entries put the §2.3 declared queries over the actual loaded
  * star — fan-out joins, array explodes, per-label top-k,
  * duplicate-artist clustering, the master⋈master_artist snowflake —
  * under the same hash check as everything else.
  *
  * Staging contract: [[ensureStaged]] copies the four fixture
  * resources into a directory under [[StageDir]] (Spark cannot read a
  * path inside a jar), parses the copies with
  * [[graft.sources.DiscogsXml.loadAll]], clones every table
  * [[GrowFactor]]× with a [[CloneOffset]]·k id shift — primary ids
  * always, FK columns 0-preserving (`master_id = 0` means "no
  * master", `release.rs:84`) — and writes the 7 tables as parquet under
  * [[StageDir]]. The oracle SQL reads the SAME staged parquet via
  * `read_parquet`, so engine and oracle share one input by
  * construction; the fixture content is fixed, so the result is
  * SF-independent (the driver's per-SF runs re-verify the same
  * contract). Marker-last discipline: a crash mid-stage leaves no
  * marker and the next call re-stages.
  *
  * Plan shape: the star is a fixed few thousand rows (fixture ×
  * [[GrowFactor]], whatever the SF), so each entry coalesces its rows
  * to one partition where they meet their grouping. Grouping and the
  * final sort then need no exchange; only the broadcasts of the small
  * sides, and dq03's two shuffles, remain as jobs.
  *
  * Fixture reality the queries embrace: the reference's test slices
  * come from different parts of the real dump, so CROSS-entity ids
  * do not line up (release_label.label_id ∉ label.id, master_id ∉
  * master.id, master_artist.artist_id ∉ artist.id). The dim joins
  * here are therefore LEFT joins reporting conformance (exactly what
  * a load-validation query over a partial dump does), while the
  * intra-dump fan-outs (release → release_label/release_video,
  * master → master_artist) join for real.
  */
object DiscogsStar {

  type Q = (SparkSession, String) => DataFrame

  private[graft] val StageDir = "/tmp/graft_discogs_star"
  private[graft] val GrowFactor = 50
  private[graft] val CloneOffset = 1000000
  /** The fixture dumps, main-classpath resources (gzip XML). */
  private[graft] val FixtureResources =
    Seq("releases.xml.gz", "labels.xml.gz", "artists.xml.gz", "masters.xml.gz")
  /** Bump to invalidate stale stagings when the growth recipe or its
    * input moves. */
  private[graft] val StageVersion = 2

  @volatile private var stagedOk = false

  private def markerFile =
    new java.io.File(s"$StageDir/_staged_v${StageVersion}_f$GrowFactor")

  /** Per-table (primary-id columns, 0-preserving FK columns). */
  private val idColumns: Map[String, (Seq[String], Seq[String])] = Map(
    "release" -> (Seq("id"), Seq("master_id")),
    "release_label" -> (Seq("release_id"), Seq("label_id")),
    "release_video" -> (Seq("release_id"), Seq.empty),
    "artist" -> (Seq("id"), Seq.empty),
    "label" -> (Seq("id"), Seq.empty),
    "master" -> (Seq("id"), Seq("release_id")),
    "master_artist" -> (Seq("master_id"), Seq("artist_id")))

  /** Parse + grow + write, once per JVM/stage-dir (marker-gated). */
  private[graft] def ensureStaged(s: SparkSession): String = synchronized {
    if (stagedOk || markerFile.exists()) { stagedOk = true; return StageDir }
    val tables = graft.sources.DiscogsXml.loadAll(s, copyFixtures())
    val ks = broadcast(s.range(GrowFactor)
      .select(col("id").cast("int").as("__k")))
    tables.foreach { case (name, df) =>
      val (pks, fks) = idColumns(name)
      var g = df.crossJoin(ks)
      def shifted(c: Column) = (c + col("__k") * CloneOffset).cast("int")
      pks.foreach(c => g = g.withColumn(c, shifted(col(c))))
      fks.foreach(c => g = g.withColumn(c,
        when(col(c).isNull || col(c) === 0, col(c))
          .otherwise(shifted(col(c)))))
      g.drop("__k").write.mode("overwrite").parquet(s"$StageDir/$name")
    }
    markerFile.createNewFile()
    stagedOk = true
    StageDir
  }

  /** The [[FixtureResources]] copied to local files under
    * [[StageDir]]; their paths, in order. */
  private def copyFixtures(): Seq[String] = {
    val dir = java.nio.file.Paths.get(StageDir, "_fixtures")
    java.nio.file.Files.createDirectories(dir)
    FixtureResources.map { name =>
      val in = getClass.getResourceAsStream(s"/$name")
      require(in != null, s"fixture resource /$name is not on the classpath")
      val f = dir.resolve(name)
      try java.nio.file.Files.copy(in, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      f.toString
    }
  }

  /** A staged table, read with its declared schema (no inference job). */
  private def t(s: SparkSession, name: String): DataFrame = {
    ensureStaged(s)
    s.read.schema(graft.schemas.Discogs.tableSchemas(name))
      .parquet(s"$StageDir/$name")
  }

  private def rp(name: String) = s"read_parquet('$StageDir/$name/*.parquet')"

  /** dq01 — the §2.3-2 fan-out + §2.3-3 dim join as a load-validation
    * rollup: per label NAME on the release side, how many releases /
    * catalog numbers / countries it links, and whether the label dim
    * carries that name (the reference slices don't share ids, so the
    * dim join is by name and LEFT — conformance reporting, the query
    * a loader runs right after `COPY`). Dim is broadcast. The distinct
    * counts are set sizes: several COUNT DISTINCTs would plan as an
    * Expand, which needs its own exchanges even over one partition. */
  def dq01_label_fanout: Q = (s, _) => {
    val rl = t(s, "release_label"); val r = t(s, "release")
    val l = t(s, "label")
    def nDistinct(c: String) = size(collect_set(col(c))).cast("long")
    rl.join(r, rl("release_id") === r("id"))
      .join(broadcast(l.select(col("name").as("label"), lit(1).as("__dim"))
        .coalesce(1).dropDuplicates("label")), Seq("label"), "left")
      .coalesce(1)
      .groupBy(col("label"))
      .agg(nDistinct("release_id").as("n_releases"),
        nDistinct("catno").as("n_catnos"),
        nDistinct("country").as("n_countries"),
        max(col("__dim").isNotNull).as("in_label_dim"))
      .orderBy(col("label"))
  }

  /** dq02 — the §2.3-4 array-explode aggregate on the real dump
    * shape: releases per (genre, country) with total style mass. */
  def dq02_genre_agg: Q = (s, _) => {
    val r = t(s, "release")
    r.select(explode(col("genres")).as("genre"), col("country"),
        size(col("styles")).as("n_styles"))
      .coalesce(1)
      .groupBy(col("genre"), col("country"))
      .agg(count(lit(1)).as("n_releases"),
        sum(col("n_styles")).as("n_styles_total"))
      .orderBy(col("genre"), col("country"))
  }

  /** dq03 — §2.3-6 top-k per group on the star: per label, the top-3
    * releases by video count (ties to the smaller release id). The
    * video side pre-aggregates BEFORE the window (partial counts, no
    * row-level fan-out through the sort), in the one task that
    * collects it for the broadcast. The only entry that keeps its
    * shuffles: the per-label top-3 is cut before the window's
    * exchange, the shape the query has over a star of any size. */
  def dq03_top_videos_per_label: Q = (s, _) => {
    val rl = t(s, "release_label"); val rv = t(s, "release_video")
    val vc = broadcast(rv.coalesce(1).groupBy(col("release_id"))
      .agg(count(lit(1)).as("n_videos")))
    val j = rl.select(col("label"), col("release_id")).distinct()
      .join(vc, Seq("release_id"), "left")
      .na.fill(0L, Seq("n_videos"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n_videos").desc, col("release_id"))
    j.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("label"), col("rk"), col("release_id"), col("n_videos"))
      .coalesce(1)
      .orderBy(col("label"), col("rk"))
  }

  /** dq04 — duplicate-artist clusters: artists sharing a normalized
    * name key, where a key is the t04-style fingerprint (lower,
    * strip non-alphanumerics) of the artist's own name OR any of its
    * name_variations — the dedup question the discogs dump actually
    * poses ("The Persuader" / "Persuader" / "The Presuader" are the
    * fixture's own example). Output: one row per key with > 1
    * distinct artist. */
  def dq04_artist_dups: Q = (s, _) => {
    val a = t(s, "artist")
    val keys = a.select(col("id"),
        explode(array_union(array(col("name")),
          coalesce(col("name_variations"),
            expr("CAST(array() AS array<string>)")))).as("nm"))
      .select(col("id"),
        regexp_replace(lower(col("nm")), "[^a-z0-9]", "").as("name_key"))
      .filter(col("name_key") =!= "").coalesce(1).distinct()
    keys.groupBy(col("name_key"))
      .agg(countDistinct(col("id")).as("n_artists"),
        min(col("id")).as("canonical_id"))
      .filter(col("n_artists") > 1)
      .orderBy(col("name_key"))
  }

  /** dq05 — the master⋈master_artist snowflake fan-out (ids line up:
    * both sides come from the same records): per release year, master
    * count, artist-credit count, and the lexically-first credited
    * artist name. */
  def dq05_master_credits: Q = (s, _) => {
    val m = t(s, "master"); val ma = t(s, "master_artist")
    m.join(ma, m("id") === ma("master_id"))
      .coalesce(1)
      .groupBy(col("year"))
      .agg(countDistinct(m("id")).as("n_masters"),
        count(lit(1)).as("n_credits"),
        min(ma("name")).as("first_artist"))
      .orderBy(col("year"))
  }

  val queries: Map[String, Q] = Map(
    "dq01_label_fanout" -> dq01_label_fanout,
    "dq02_genre_agg" -> dq02_genre_agg,
    "dq03_top_videos_per_label" -> dq03_top_videos_per_label,
    "dq04_artist_dups" -> dq04_artist_dups,
    "dq05_master_credits" -> dq05_master_credits)

  val oracles: Map[String, String] = Map(
    "dq01_label_fanout" ->
      s"""WITH dim AS (
         |  SELECT DISTINCT name AS label, 1 AS __dim FROM ${rp("label")})
         |SELECT rl.label,
         |  COUNT(DISTINCT rl.release_id) AS n_releases,
         |  COUNT(DISTINCT rl.catno) AS n_catnos,
         |  COUNT(DISTINCT r.country) AS n_countries,
         |  MAX(d.__dim IS NOT NULL) AS in_label_dim
         |FROM ${rp("release_label")} rl
         |JOIN ${rp("release")} r ON r.id = rl.release_id
         |LEFT JOIN dim d ON d.label = rl.label
         |GROUP BY rl.label ORDER BY rl.label""".stripMargin,
    "dq02_genre_agg" ->
      s"""SELECT genre, country, COUNT(*) AS n_releases,
         |  CAST(SUM(n_styles) AS BIGINT) AS n_styles_total
         |FROM (
         |  SELECT unnest(genres) AS genre, country,
         |    len(styles) AS n_styles
         |  FROM ${rp("release")})
         |GROUP BY genre, country ORDER BY genre, country""".stripMargin,
    "dq03_top_videos_per_label" ->
      s"""WITH vc AS (
         |  SELECT release_id, COUNT(*) AS n_videos
         |  FROM ${rp("release_video")} GROUP BY release_id),
         |j AS (
         |  SELECT rl.label, rl.release_id,
         |    COALESCE(vc.n_videos, 0) AS n_videos
         |  FROM (SELECT DISTINCT label, release_id
         |        FROM ${rp("release_label")}) rl
         |  LEFT JOIN vc ON vc.release_id = rl.release_id)
         |SELECT label, rk, release_id, n_videos FROM (
         |  SELECT label, release_id, n_videos,
         |    ROW_NUMBER() OVER (PARTITION BY label
         |      ORDER BY n_videos DESC, release_id) AS rk
         |  FROM j)
         |WHERE rk <= 3 ORDER BY label, rk""".stripMargin,
    "dq04_artist_dups" ->
      s"""WITH keys AS (
         |  SELECT DISTINCT id,
         |    regexp_replace(lower(nm), '[^a-z0-9]', '', 'g') AS name_key
         |  FROM (
         |    SELECT id, unnest(list_distinct(
         |      list_append(COALESCE(name_variations, []), name))) AS nm
         |    FROM ${rp("artist")})
         |  WHERE regexp_replace(lower(nm), '[^a-z0-9]', '', 'g') <> '')
         |SELECT name_key, COUNT(DISTINCT id) AS n_artists,
         |  MIN(id) AS canonical_id
         |FROM keys GROUP BY name_key
         |HAVING COUNT(DISTINCT id) > 1
         |ORDER BY name_key""".stripMargin,
    "dq05_master_credits" ->
      s"""SELECT m.year, COUNT(DISTINCT m.id) AS n_masters,
         |  COUNT(*) AS n_credits, MIN(ma.name) AS first_artist
         |FROM ${rp("master")} m
         |JOIN ${rp("master_artist")} ma ON ma.master_id = m.id
         |GROUP BY m.year ORDER BY m.year""".stripMargin)
}
