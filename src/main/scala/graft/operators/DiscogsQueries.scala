package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declared query surface of SURVEY.md §2.3 over the loaded
  * discogs star schema (the capability the reference delegates to
  * Postgres + its indexes, `sql/indexes.sql:7-16`), expressed as
  * library functions over the 7 tables produced by
  * [[graft.sources.DiscogsXml]].
  *
  * Conventions: `master_id = 0` means "no master" (reference writes 0
  * for absent FKs, `release.rs:84`) — every master join filters it;
  * dims (label, master, artist) are broadcast — they stay small
  * relative to release/release_label at any dump size.
  */
object DiscogsQueries {

  /** §2.3-1: point lookup by PK (parquet row-group skipping serves the
    * reference's btree, `sql/indexes.sql:2`). */
  def releaseById(release: DataFrame, id: Int): DataFrame =
    release.filter(col("id") === id)

  /** §2.3-2: child fan-out joins. */
  def releaseWithLabels(release: DataFrame, releaseLabel: DataFrame): DataFrame =
    release.join(releaseLabel,
      release("id") === releaseLabel("release_id"))
      .select(release("id"), col("title"), col("label"), col("catno"), col("label_id"))

  def releaseWithVideos(release: DataFrame, releaseVideo: DataFrame): DataFrame =
    release.join(releaseVideo, release("id") === releaseVideo("release_id"))
      .select(release("id"), release("title"), col("src"), col("duration"),
        releaseVideo("title").as("video_title"))

  /** §2.3-3: dim joins across the snowflake. */
  def releaseMasterArtists(release: DataFrame, master: DataFrame,
      masterArtist: DataFrame, artist: DataFrame): DataFrame =
    release.filter(col("master_id") =!= 0)
      .join(broadcast(master), release("master_id") === master("id"))
      .join(masterArtist, master("id") === masterArtist("master_id"))
      .join(broadcast(artist), masterArtist("artist_id") === artist("id"))
      .select(release("id").as("release_id"), release("title"),
        master("id").as("master_id"), artist("id").as("artist_id"),
        artist("name").as("artist_name"), masterArtist("role"))

  def releaseLabelDim(releaseLabel: DataFrame, label: DataFrame): DataFrame =
    releaseLabel.join(broadcast(label),
      releaseLabel("label_id") === label("id"))
      .select(col("release_id"), label("id").as("label_id"),
        label("name").as("label_name"), col("catno"), col("data_quality"))

  /** §2.3-4: grouped aggregation — releases per country, and per genre
    * via the exploded array column. */
  def releasesPerCountry(release: DataFrame): DataFrame =
    release.groupBy(col("country"))
      .agg(count(lit(1)).as("n_releases"))
      .orderBy(col("n_releases").desc, col("country"))

  def releasesPerGenre(release: DataFrame): DataFrame =
    release.select(explode(col("genres")).as("genre"))
      .groupBy(col("genre"))
      .agg(count(lit(1)).as("n_releases"))
      .orderBy(col("n_releases").desc, col("genre"))

  /** §2.3-5: exact + approximate distinct artists credited on masters. */
  def distinctCreditedArtists(masterArtist: DataFrame): DataFrame =
    masterArtist.agg(
      countDistinct(col("artist_id")).as("n_artists"),
      approx_count_distinct(col("artist_id"), 0.01).as("n_artists_approx"))

  /** §2.3-6: top-N releases per label by (parsed) release date. */
  def topReleasesPerLabel(release: DataFrame, releaseLabel: DataFrame,
      n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("label_id"))
      .orderBy(col("released_date").desc_nulls_last, col("id"))
    withReleasedDate(release)
      .join(releaseLabel, col("id") === releaseLabel("release_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select(col("label_id"), col("rk"), col("id"), col("title"),
        col("released_date"))
  }

  /** §2.3-7: latest releases by parsed date (sort + limit →
    * TakeOrderedAndProject, no global sort). */
  def latestReleases(release: DataFrame, n: Int = 10): DataFrame =
    withReleasedDate(release)
      .orderBy(col("released_date").desc_nulls_last, col("id"))
      .select(col("id"), col("title"), col("released"), col("released_date"))
      .limit(n)

  /** §2.3-8: monthly-dump set ops — union two dumps (first-wins on id),
    * and diff them. */
  def unionDumps(a: DataFrame, b: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("__src"))
    a.withColumn("__src", lit(0)).unionByName(b.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__src", "__rn")
  }

  def diffDumps(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  /** §2.3-10a: case-insensitive title search. */
  def searchTitles(release: DataFrame, needle: String): DataFrame =
    release.filter(lower(col("title")).contains(needle.toLowerCase))
      .select(col("id"), col("title"), col("country"))

  /** §2.3-10b: Levenshtein near-duplicate artist names via the shared
    * [[EditDistanceJoin]] (q-gram prefix filtering + symmetric-
    * deletion neighborhoods for short names like "ABBA"). Replaces the
    * original first-letter blocking, which was both recall-LOSSY (one
    * edit can change the first letter: "Zebra"/"Aebra" never met) and
    * quadratic at scale (26 fixed blocks ⇒ block size ∝ catalog). */
  def nearDuplicateArtists(artist: DataFrame, maxDist: Int = 2): DataFrame =
    EditDistanceJoin.pairs(artist.select(col("id"), col("name")),
        Seq.empty, maxDist)
      .select(col("id_a"), col("name_a"), col("id_b"), col("name_b"),
        col("dist"))

  /** Duplicate-artist clusters: connected components over the
    * [[nearDuplicateArtists]] pair set, so chained name variants
    * ("NM003" ~ "NM008" ~ "nm 003") collapse to one canonical
    * artist_id — [[Dedup.dupClusters]] reused unchanged on the
    * discogs star (same pattern as d09 on the documents corpus). */
  def artistDupClusters(artist: DataFrame, maxDist: Int = 2): DataFrame =
    Dedup.dupClusters(
      nearDuplicateArtists(artist, maxDist).select(col("id_a"), col("id_b")))
      .withColumnRenamed("doc_id", "artist_id")

  /** Genre co-occurrence: pairs of genres tagged on the same release,
    * with counts — double explode of the array column, pair order
    * normalized (a < b) so each unordered pair counts once. */
  def genreCooccurrence(release: DataFrame): DataFrame =
    release
      .select(col("id"), explode(col("genres")).as("g_a"), col("genres"))
      .select(col("id"), col("g_a"), explode(col("genres")).as("g_b"))
      .filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("n_releases"))
      .orderBy(col("n_releases").desc, col("g_a"), col("g_b"))

  /** Per-label catalog stats over the fan-out table: releases carried,
    * distinct catalog numbers, approximate distinct releases (HLL). */
  def labelCatalogStats(releaseLabel: DataFrame): DataFrame =
    releaseLabel
      .groupBy(col("label_id"), col("label"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("release_id")).as("n_releases"),
        countDistinct(col("catno")).as("n_catnos"))
      .orderBy(col("n_releases").desc, col("label_id"))

  /** Additive derived column for the Discogs partial-date text
    * (SURVEY §1.3: '2000', '1999-03', '1999-03-05' are all valid);
    * raw `released` is preserved (parity), `released_date` is the
    * best-effort DATE: missing month/day default to 01, junk → null.
    */
  def withReleasedDate(release: DataFrame): DataFrame = {
    val r = col("released")
    val year = regexp_extract(r, "^(\\d{4})", 1)
    val month = regexp_extract(r, "^\\d{4}-(\\d{2})", 1)
    val day = regexp_extract(r, "^\\d{4}-\\d{2}-(\\d{2})", 1)
    release.withColumn("released_date",
      when(year === "", lit(null).cast(DateType))
        .otherwise(make_date(
          year.cast(IntegerType),
          when(month === "" || month === "00", 1).otherwise(month.cast(IntegerType)),
          when(day === "" || day === "00", 1).otherwise(day.cast(IntegerType)))))
  }
}
