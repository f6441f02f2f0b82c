package graft.sources

import graft.schemas.Discogs
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import java.io.{BufferedInputStream, FileInputStream}
import java.util.zip.GZIPInputStream

/** Discogs XML dump ingest — the Spark-native rebuild of the
  * reference's FSM parsers (reference operators O1-O12, SURVEY §2.1).
  *
  * Architecture: one declarative `spark.read.format("xml")` per entity
  * with an explicit pruned schema (no inference pass), then flat
  * normalization — nested selects for array columns, `explode` for the
  * one-to-many child tables, first-wins global dedup. Catalyst fuses
  * the whole normalize stage into the parse scan; a gz dump parses as
  * a single task per file (gzip is non-splittable — identical
  * parallelism to the reference's single thread per file, but files ×
  * entities run concurrently, and a decompressed/bgzip'd dump scales
  * out to one task per split).
  *
  * Quirk policy (SURVEY §2.4): declared semantics, not bug parity —
  * aliases/namevariations load correctly (vs Q2/Q3), absent scalars
  * are ''/0 not carried over (vs Q1), release_label keeps every label
  * row (vs Q5), video titles load (vs Q6), master year/genres/styles/
  * notes load (vs Q9).
  */
object DiscogsXml {

  /** Result of ingesting one releases dump: parent + 2 fan-out tables
    * (reference writes all three per batch, `db.rs:55-97`). */
  final case class ReleaseTables(release: DataFrame,
      releaseLabel: DataFrame, releaseVideo: DataFrame)

  final case class MasterTables(master: DataFrame, masterArtist: DataFrame)

  /** The dumps of one entity: their first-wins-deduped raw rows (each
    * file deduped on its own, then UNION ALL — see [[loadAll]]) and the
    * tables derived from `raw`, in write order. A fan-out entity
    * (releases, masters) derives several tables from the same `raw`,
    * so a caller that writes them all persists `raw` once first. */
  final case class DumpGroup(raw: DataFrame, tables: Seq[(String, DataFrame)])

  private def str0(c: org.apache.spark.sql.Column) = coalesce(c, lit(""))
  private def int0(c: org.apache.spark.sql.Column) = coalesce(c, lit(0))
  private def arr0(c: org.apache.spark.sql.Column) =
    coalesce(c, array().cast("array<string>"))
  /** Lenient int conversion for string-declared XML attributes (see
    * [[graft.schemas.Discogs.releaseXmlSchema]]): bad value → null, not
    * an ANSI cast error. */
  private def tryInt(c: org.apache.spark.sql.Column) = c.try_cast(IntegerType)

  /** Corrupt-record spill column (explicit malformed-record policy). */
  val CorruptCol = "_graft_corrupt"

  /** O1/O3: one declarative XML read with an EXPLICIT malformed-record
    * policy. The reference FSM skips unknown/broken elements silently
    * (`release.rs:181`); default PERMISSIVE parsing would instead emit
    * an all-null row (null id) that flows into dedup and joins. Here a
    * record that fails to parse lands in [[CorruptCol]] and a record
    * with no id is equally rejectable — [[dropRejects]] filters both
    * out of every reader, and [[rejects]] exposes them as counted,
    * inspectable rows rather than silent nulls.
    */
  private def readXml(spark: SparkSession, path: String, rowTag: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema.add(CorruptCol, StringType))
      .load(path)

  /** Reject policy: a row is good iff it parsed clean AND carries a
    * primary key. Null-id rows must never reach [[firstWinsById]] —
    * they would all collapse into one surviving "record". */
  private def dropRejects(df: DataFrame, idCol: String): DataFrame =
    df.filter(col(CorruptCol).isNull && col(idCol).isNotNull)
      .drop(CorruptCol)

  /** (rowTag, read schema, id column) per root entity. */
  private val entityMeta = Map(
    "releases" -> (("release", Discogs.releaseXmlSchema, "_id")),
    "artists" -> (("artist", Discogs.artistXmlSchema, "id")),
    "labels" -> (("label", Discogs.labelXmlSchema, "id")),
    "masters" -> (("master", Discogs.masterXmlSchema, "_id")))

  /** Counted rejects of a dump: one row per record that failed the
    * parse (raw text in `corrupt_record`) or parsed without an id.
    * Diagnostic scan — the entity readers already exclude these.
    */
  def rejects(spark: SparkSession, path: String): DataFrame = {
    val (tag, schema, idCol) = entityMeta(detectEntity(path))
    readXml(spark, path, tag, schema)
      .filter(col(CorruptCol).isNotNull || tryInt(col(idCol)).isNull)
      .select(
        when(col(CorruptCol).isNotNull, "corrupt")
          .otherwise("null_id").as("reason"),
        // the raw (uncast) id value — for null_id rejects this is what
        // failed to parse, the triage handle a bare NULL row lacks
        col(idCol).cast(StringType).as("id_raw"),
        col(CorruptCol).as("corrupt_record"))
  }

  /** Parse one dump to clean raw rows: explicit schema, corrupt and
    * null-id records dropped, id cast to int. The shared front of the
    * direct readers and [[restage]]. */
  private def parseGood(spark: SparkSession, path: String, entity: String): DataFrame = {
    val (tag, schema, idCol) = entityMeta(entity)
    dropRejects(
      readXml(spark, path, tag, schema)
        .withColumn(idCol, tryInt(col(idCol))), idCol)
  }

  /** First-wins global dedup by id — reference O12 semantics
    * (`HashMap.entry(id).or_insert`, `release.rs:185-187`) made exact
    * across the whole dump instead of per 10k batch. One shuffle on
    * the key.
    *
    * Ordering: `monotonically_increasing_id` is monotone within a
    * partition, and a gz file is exactly one partition, so within a
    * file it is exact document order. ACROSS files the partition index
    * is planning-dependent (the file source bin-packs partitions
    * sorted by size descending), so the order key is (file path, id):
    * deterministic for any multi-file read — file paths ascending,
    * document order within each file — instead of silently depending
    * on file sizes.
    */
  private def firstWinsById(df: DataFrame, key: String = "id"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("__file"), col("__ord"))
    // a re-staged table carries its own dump's document order as a
    // materialized __ord column (partition index no longer tracks
    // document order after a repartition); a direct XML read derives
    // it here. __ord is only meaningful WITHIN one staged dump —
    // cross-dump unions must route through unionDumps instead.
    val ordered =
      if (df.columns.contains("__ord")) df.withColumn("__file", lit(""))
      else df.withColumn("__file", input_file_name())
        .withColumn("__ord", monotonically_increasing_id())
    ordered
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__file", "__ord", "__rn")
  }

  /** [[parseGood]] + [[firstWinsById]]: the raw rows every table of
    * one dump file derives from. */
  private def parseDeduped(spark: SparkSession, path: String, entity: String): DataFrame =
    firstWinsById(parseGood(spark, path, entity), entityMeta(entity)._3)

  /** O2: root-element dispatch — peek the first bytes of the (possibly
    * gzip'd) file on the driver; no full reopen of the stream (fixes
    * quirk Q11). */
  def detectEntity(path: String): String = {
    val fin = new FileInputStream(path)
    try {
      val in = new BufferedInputStream(
        if (path.endsWith(".gz")) new GZIPInputStream(fin) else fin)
      val buf = new Array[Byte](4096)
      var off = 0
      var n = 0
      while (off < buf.length && { n = in.read(buf, off, buf.length - off); n > 0 })
        off += n // GZIPInputStream returns one deflate block per read
      val head = new String(buf, 0, off, "UTF-8")
      // the ROOT element is the earliest of the four candidate tags —
      // record types also appear as children (e.g. <artists> inside a
      // <master>), so priority order would misdispatch
      Seq("releases", "artists", "labels", "masters")
        .flatMap { t =>
          Seq(s"<$t>", s"<$t ").map(head.indexOf).filter(_ >= 0).map(t -> _)
        }
        .minByOption(_._2).map(_._1)
        .getOrElse(throw new IllegalArgumentException(
          s"$path: no discogs root element in first 4 KB"))
    } finally fin.close()
  }

  /** O4: releases dump → release + release_label + release_video.
    * The raw parse is first-wins-deduped BEFORE the fan-out extraction
    * so children of dropped duplicate parents are dropped with them —
    * child tables always reference exactly the surviving parent rows.
    */
  def readReleases(spark: SparkSession, path: String): ReleaseTables =
    normalizeReleases(parseDeduped(spark, path, "releases"))

  /** Releases normalization over clean, deduped raw rows (direct parse
    * or re-staged parquet). */
  private def normalizeReleases(raw: DataFrame): ReleaseTables = {
    val release = (
      raw.select(
        col("_id").as("id"),
        str0(col("_status")).as("status"),
        str0(col("title")).as("title"),
        str0(col("country")).as("country"),
        str0(col("released")).as("released"),
        str0(col("notes")).as("notes"),
        arr0(col("genres.genre")).as("genres"),
        arr0(col("styles.style")).as("styles"),
        int0(col("master_id._VALUE")).as("master_id"),
        str0(col("data_quality")).as("data_quality")))
    // fan-out children: one row per <label/> / <video> element, in
    // document order (reference `release.rs:325-371`). NO dedup by
    // label_id — quirk Q5 fixed per declared DDL.
    val releaseLabel = raw
      .select(col("_id").as("release_id"), explode(col("labels.label")).as("l"))
      .select(col("release_id"),
        str0(col("l._name")).as("label"),
        str0(col("l._catno")).as("catno"),
        int0(tryInt(col("l._id"))).as("label_id"))
    val releaseVideo = raw
      .select(col("_id").as("release_id"), explode(col("videos.video")).as("v"))
      .select(col("release_id"),
        int0(tryInt(col("v._duration"))).as("duration"),
        str0(col("v._src")).as("src"),
        str0(col("v.title")).as("title"))
    ReleaseTables(release, releaseLabel, releaseVideo)
  }

  /** O5: artists dump → artist (4 array columns; aliases and
    * namevariations populated correctly — quirks Q2/Q3 fixed). */
  def readArtists(spark: SparkSession, path: String): DataFrame =
    normalizeArtists(parseDeduped(spark, path, "artists"))

  private def normalizeArtists(raw: DataFrame): DataFrame =
    raw.select(
      col("id"),
      str0(col("name")).as("name"),
      str0(col("realname")).as("real_name"),
      str0(col("profile")).as("profile"),
      str0(col("data_quality")).as("data_quality"),
      arr0(col("namevariations.name")).as("name_variations"),
      arr0(col("urls.url")).as("urls"),
      arr0(col("aliases.name._VALUE")).as("aliases"),
      arr0(col("members.name._VALUE")).as("members"))

  /** O6: labels dump → label. */
  def readLabels(spark: SparkSession, path: String): DataFrame =
    normalizeLabels(parseDeduped(spark, path, "labels"))

  private def normalizeLabels(raw: DataFrame): DataFrame =
    raw.select(
      col("id"),
      str0(col("name")).as("name"),
      str0(col("contactinfo")).as("contactinfo"),
      str0(col("profile")).as("profile"),
      str0(col("parentLabel._VALUE")).as("parent_label"),
      arr0(col("sublabels.label._VALUE")).as("sublabels"),
      arr0(col("urls.url")).as("urls"),
      str0(col("data_quality")).as("data_quality"))

  /** O7: masters dump → master + master_artist (year/genres/styles/
    * notes populated — quirk Q9 fixed). Raw parse deduped before the
    * master_artist fan-out, as in [[readReleases]]. */
  def readMasters(spark: SparkSession, path: String): MasterTables =
    normalizeMasters(parseDeduped(spark, path, "masters"))

  private def normalizeMasters(raw: DataFrame): MasterTables = {
    val master = (raw.select(
      col("_id").as("id"),
      str0(col("title")).as("title"),
      int0(col("main_release")).as("release_id"),
      int0(col("year")).as("year"),
      str0(col("notes")).as("notes"),
      arr0(col("genres.genre")).as("genres"),
      arr0(col("styles.style")).as("styles"),
      str0(col("data_quality")).as("data_quality")))
    val masterArtist = raw
      .select(col("_id").as("master_id"), explode(col("artists.artist")).as("a"))
      .select(
        int0(col("a.id")).as("artist_id"),
        col("master_id"),
        str0(col("a.name")).as("name"),
        str0(col("a.anv")).as("anv"),
        str0(col("a.role")).as("role"))
    MasterTables(master, masterArtist)
  }

  /** Splittable re-stage (SURVEY §7.4): one pass through the
    * non-splittable gz XML dump, out as `partitions`-way parquet of
    * the clean raw rows with document order materialized as `__ord`.
    *
    * gz gives ONE task per file no matter the cluster size — every
    * downstream full scan is serialized behind a single core. Paying
    * the single-stream parse exactly once and re-staging to parquet
    * makes every later pass splittable (one task per row-group split),
    * column-pruned, and ~an order of magnitude cheaper to decode.
    * This is the first thing a 100 TB load should do with its input.
    * Returns the staged path, `outDir/<entity>`.
    */
  def restage(spark: SparkSession, path: String, outDir: String,
      partitions: Int = 0): String = {
    val entity = detectEntity(path)
    val (_, _, idCol) = entityMeta(entity)
    val n = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val staged = s"$outDir/$entity"
    // first-wins dedup runs HERE, once: document order must be captured
    // while it still exists (the gz read is one in-order partition),
    // and paying the dedup shuffle at stage time means every staged
    // read afterwards is pure map-side work — no shuffle at all.
    // __ord is KEPT in the staged files (firstWinsById would drop it):
    // it is the only durable record of THIS dump's document order
    // (post-repartition partition indexes are arbitrary). Scope: the
    // column orders rows within ONE staged dump only — each dump's
    // __ord restarts at 0, so cross-dump precedence must go through
    // DiscogsQueries.unionDumps, never a raw union + first-wins.
    // survivor choice must not depend on planning: for a multi-file
    // path partitions are bin-packed size-descending, so bare
    // monotonically_increasing_id order is planning-dependent ACROSS
    // files — order by (file, in-file position) exactly like
    // firstWinsById. Caveat shared with firstWinsById: __ord's high
    // bits are the PARTITION index, so for a SPLITTABLE plain .xml
    // big enough to get several splits, duplicate ids straddling
    // splits of the same file still order by partition index, not
    // byte offset (no offset column exists to do better). Real dumps
    // are gz — one split per file — where (file, __ord) IS document
    // order. One shuffle total: the explicit repartition on the id
    // satisfies the window's required clustering, so the window sorts
    // in place and the writer inherits the n-way partitioning with no
    // second exchange.
    val w = Window.partitionBy(col(idCol)).orderBy(col("__file"), col("__ord"))
    parseGood(spark, path, entity)
      .withColumn("__file", input_file_name())
      .withColumn("__ord", monotonically_increasing_id())
      .repartition(n, col(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__file")
      .write.mode("overwrite").parquet(staged)
    staged
  }

  /** Readers over a [[restage]]d dump — same output tables, but the
    * input is already first-wins-deduped clean rows, so these are
    * shuffle-free projections over a splittable, column-pruned
    * parquet scan (one task per split instead of one gz stream). */
  def readReleasesStaged(spark: SparkSession, stagedPath: String): ReleaseTables =
    normalizeReleases(readStagedRaw(spark, stagedPath))

  def readArtistsStaged(spark: SparkSession, stagedPath: String): DataFrame =
    normalizeArtists(readStagedRaw(spark, stagedPath))

  def readLabelsStaged(spark: SparkSession, stagedPath: String): DataFrame =
    normalizeLabels(readStagedRaw(spark, stagedPath))

  def readMastersStaged(spark: SparkSession, stagedPath: String): MasterTables =
    normalizeMasters(readStagedRaw(spark, stagedPath))

  /** A staged dump's raw rows, without the `__ord` column (its job was
    * the dedup, which [[restage]] already ran). */
  private def readStagedRaw(spark: SparkSession, stagedPath: String): DataFrame =
    spark.read.parquet(stagedPath).drop("__ord")

  /** The entity of a [[restage]]d path: its directory name. */
  private def stagedEntity(stagedPath: String): String = {
    val name = new java.io.File(stagedPath).getName
    require(entityMeta.contains(name),
      s"$stagedPath: not a re-staged entity directory (got '$name')")
    name
  }

  /** [[readGroup]] over [[restage]]d paths of one entity (each
    * `.../[entity]`): shuffle-free, the dedup ran at stage time. */
  def readStagedGroup(spark: SparkSession, entity: String,
      stagedPaths: Seq[String]): DumpGroup = {
    require(stagedPaths.forall(stagedEntity(_) == entity),
      s"not all $entity: ${stagedPaths.mkString(", ")}")
    group(entity, stagedPaths.map(readStagedRaw(spark, _)))
  }

  /** [[loadAll]] over [[restage]]d paths (each `.../[entity]`). Same
    * union semantics; the scans parallelize across parquet splits. */
  def loadAllStaged(spark: SparkSession, stagedPaths: Seq[String]): Map[String, DataFrame] =
    byEntity(stagedPaths, stagedEntity)
      .flatMap { case (e, ps) => readStagedGroup(spark, e, ps).tables }.toMap

  /** Typed Dataset accessors — compile-time field checks for callers
    * that work row-wise (Encoders derive from the case classes in
    * [[graft.schemas.Discogs]]; the DataFrame plans are unchanged).
    */
  def readArtistsTyped(spark: SparkSession, path: String): Dataset[Discogs.Artist] = {
    import spark.implicits._
    readArtists(spark, path).as[Discogs.Artist]
  }

  def readLabelsTyped(spark: SparkSession, path: String): Dataset[Discogs.Label] = {
    import spark.implicits._
    readLabels(spark, path).as[Discogs.Label]
  }

  def readReleasesTyped(spark: SparkSession, path: String): Dataset[Discogs.Release] = {
    import spark.implicits._
    readReleases(spark, path).release.as[Discogs.Release]
  }

  def readMastersTyped(spark: SparkSession, path: String): Dataset[Discogs.Master] = {
    import spark.implicits._
    readMasters(spark, path).master.as[Discogs.Master]
  }

  /** O2+O20: dispatch-and-load a set of dump files (the reference's
    * sequential per-file loop, `main.rs:43-103`, except each entity's
    * tables land as separate DataFrames and multiple files of the same
    * entity union together — monthly-dump union, SURVEY §2.2 set ops).
    *
    * NOTE: the union is a plain UNION ALL — dedup is per FILE (each
    * reader call), so an id present in two dumps keeps both rows, as
    * two monthly snapshots of the same record. Cross-dump first-wins
    * semantics are a policy choice, not a default: route the result
    * through [[graft.operators.DiscogsQueries.unionDumps]] (or pass
    * all files of one logical dump in a single reader call, where
    * (file, document-order) first-wins applies).
    */
  def loadAll(spark: SparkSession, paths: Seq[String]): Map[String, DataFrame] =
    groupByEntity(paths).flatMap { case (e, ps) => readGroup(spark, e, ps).tables }.toMap

  /** Dump files grouped by [[detectEntity]], groups and files in order
    * of first appearance. */
  def groupByEntity(paths: Seq[String]): Seq[(String, Seq[String])] =
    byEntity(paths, detectEntity)

  private def byEntity(paths: Seq[String], entityOf: String => String)
      : Seq[(String, Seq[String])] = {
    val tagged = paths.map(p => entityOf(p) -> p)
    tagged.map(_._1).distinct.map(e => e -> tagged.collect { case (`e`, p) => p })
  }

  /** One entity's dump files, parsed directly: each file deduped on
    * its own, the raw rows unioned, the entity's tables derived. */
  def readGroup(spark: SparkSession, entity: String, paths: Seq[String]): DumpGroup = {
    require(entityMeta.contains(entity), s"unknown entity $entity")
    group(entity, paths.map(parseDeduped(spark, _, entity)))
  }

  private def group(entity: String, raws: Seq[DataFrame]): DumpGroup = {
    val raw = raws.reduce(_.unionByName(_))
    val tables = entity match {
      case "releases" =>
        val t = normalizeReleases(raw)
        Seq("release" -> t.release, "release_label" -> t.releaseLabel,
          "release_video" -> t.releaseVideo)
      case "artists" => Seq("artist" -> normalizeArtists(raw))
      case "labels" => Seq("label" -> normalizeLabels(raw))
      case "masters" =>
        val t = normalizeMasters(raw)
        Seq("master" -> t.master, "master_artist" -> t.masterArtist)
    }
    DumpGroup(raw, tables)
  }
}
