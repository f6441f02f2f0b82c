package graft.sources

import graft.CacheScope
import graft.schemas.Discogs
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.RowsBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.util.CollectionAccumulator
import org.roaringbitmap.RoaringBitmap

import java.io.{BufferedInputStream, File, FileInputStream}
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._

/** Discogs XML dump ingest — the Spark-native rebuild of the
  * reference's FSM parsers (reference operators O1-O12, SURVEY §2.1).
  *
  * Architecture: the reader parses the dumps itself, in the tasks that
  * own their byte ranges. Each dump file is read in ranges, its share
  * of the cores by size ([[rangeCount]]), each range one task of one
  * RDD scan: the task inflates the file from its start, finds the
  * records whose start tag falls in its range with a depth-tracking
  * tag scan, and parses each with a StAX cursor walk driven by the
  * entity's declared read schema ([[graft.schemas.Discogs]]) straight
  * into rows — the rows Spark's XML data source gives for the same
  * records, without its generic per-record path. gzip is not
  * splittable, so each range inflates the prefix before it; the parse,
  * which costs far more, runs once per record. First wins per id with
  * no shuffle: each range's task keeps the first good row of each id
  * it reads, and a later range of the same dump drops the ids an
  * earlier one kept ([[read]]). Then flat normalization — nested
  * selects for array columns, `explode` for the one-to-many child
  * tables — which Catalyst fuses into the scan.
  *
  * Quirk policy (SURVEY §2.4): declared semantics, not bug parity —
  * aliases/namevariations load correctly (vs Q2/Q3), absent scalars
  * are ''/0 not carried over (vs Q1), release_label keeps every label
  * row (vs Q5), video titles load (vs Q6), master year/genres/styles/
  * notes load (vs Q9).
  */
object DiscogsXml {

  /** The dumps of one entity: their first-wins-deduped raw rows (each
    * file deduped on its own, then UNION ALL — see [[loadAll]]) and the
    * tables derived from `raw`, in write order. `cut` is the lineage
    * cut `raw` reads from, when there is one ([[CacheScope.cut]]); its
    * owner frees it with [[release]] once every table is consumed. A
    * fan-out entity (releases, masters) derives several tables from
    * the same `raw`, so a caller that writes them all reads them from
    * one cut ([[landed]]). */
  final case class DumpGroup(entity: String, raw: DataFrame, cut: Option[DataFrame] = None) {
    /** Whether several tables derive from `raw`; known without building
      * them. */
    def fanOut: Boolean = entity == "releases" || entity == "masters"
    /** This group with `raw` read from one cut: itself when it has one
      * already (a file read in several ranges is cut as it is read),
      * else `raw` cut now. */
    def landed: DumpGroup =
      if (cut.isDefined) this
      else { val c = CacheScope.cut(raw); DumpGroup(entity, c, Some(c)) }
    /** Unpersists the cut, if any. Idempotent. */
    def release(): Unit = cut.foreach(CacheScope.release)
    lazy val tables: Seq[(String, DataFrame)] = entity match {
      case "releases" => normalizeReleases(raw)
      case "artists" => normalizeArtists(raw)
      case "labels" => normalizeLabels(raw)
      case "masters" => normalizeMasters(raw)
    }
  }

  private def str0(c: org.apache.spark.sql.Column) = coalesce(c, lit(""))
  private def int0(c: org.apache.spark.sql.Column) = coalesce(c, lit(0))
  private def arr0(c: org.apache.spark.sql.Column) =
    coalesce(c, array().cast(ArrayType(StringType)))
  /** Lenient int conversion for string-declared XML attributes (see
    * [[graft.schemas.Discogs.releaseXmlSchema]]): bad value → null, not
    * an ANSI cast error. */
  private def tryInt(c: org.apache.spark.sql.Column) = c.try_cast(IntegerType)

  /** Corrupt-record spill column (explicit malformed-record policy). */
  private val CorruptCol = "_graft_corrupt"

  /** The order key every parsed row carries: its file's path and its
    * byte offset in the (inflated) file, where [[parsed]] shows it.
    * The dedup needs none: a range's rows come in document order. */
  private val FileCol = "_graft_file"
  private val OffsetCol = "_graft_offset"

  /** O1/O3: the records of `ranges`, parsed with the entity's read
    * schema, with an EXPLICIT malformed-record policy, plus the order
    * key. The reference FSM skips unknown/broken elements silently
    * (`release.rs:181`); a parse that nulled a broken record would
    * instead emit an all-null row (null id) that flows into dedup and
    * joins. Here a record that fails to parse keeps its raw text in
    * [[CorruptCol]] (as Spark's XML reader does in PERMISSIVE mode) and
    * a record with no id is equally rejectable — [[dropRejects]]
    * filters both out of every reader, and [[rejects]] exposes them as
    * counted, inspectable rows rather than silent nulls.
    */
  private def readRaw(spark: SparkSession, entity: String, ranges: Seq[DumpRange]): DataFrame = {
    val (tag, schema, _) = entityMeta(entity)
    RowsBridge.dataFrame(spark,
      new DumpRangeRDD(spark.sparkContext, ranges.toArray, tag, schema),
      schema.add(CorruptCol, StringType).add(FileCol, StringType).add(OffsetCol, LongType))
  }

  /** Reject policy: a row is good iff it parsed clean AND carries a
    * primary key. A reject never claims an id in the first-wins dedup;
    * null-id rows would all collapse into one surviving "record". */
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
    val idCol = entityMeta(detectEntity(path))._3
    parsed(spark, path)
      .filter(col(CorruptCol).isNotNull || tryInt(col(idCol)).isNull)
      .select(
        when(col(CorruptCol).isNotNull, "corrupt")
          .otherwise("null_id").as("reason"),
        // the raw (uncast) id value — for null_id rejects this is what
        // failed to parse, the triage handle a bare NULL row lacks
        col(idCol).cast(StringType).as("id_raw"),
        col(CorruptCol).as("corrupt_record"))
  }

  /** Every record of the dump at `path` as parsed, read on every core,
    * before any reject or dedup: the entity's read-schema fields, the
    * corrupt column (`_graft_corrupt`) and the order key (`_graft_file`,
    * `_graft_offset`). */
  private[graft] def parsed(spark: SparkSession, path: String): DataFrame =
    readRaw(spark, detectEntity(path), plan(spark, Seq(Seq(path))).head.head)

  /** One entity's dumps, `paths` the ranges of each dump file in
    * document order: first wins by id — reference O12 semantics
    * (`HashMap.entry(id).or_insert`, `release.rs:185-187`), exact across
    * each file instead of per 10k batch — and the files' survivors
    * unioned, with no shuffle. Corrupt and null-id records are dropped
    * and the id cast to int first. Each range's task keeps the first
    * good row of each id it reads ([[firstPerRange]]), so a file read in
    * one range is deduped as it streams. A file read in several ranges
    * also needs the ids its earlier ranges kept: the group is then cut
    * once, its tasks report what each range kept, and [[dropKeptBefore]]
    * drops those ids from the later ranges. */
  private def read(spark: SparkSession, entity: String, paths: Seq[Seq[DumpRange]])
      : DumpGroup = {
    val idCol = entityMeta(entity)._3
    // the partitions are the ranges, in document order: no order key
    val good = paths.map(ranges =>
      dropRejects(readRaw(spark, entity, ranges).withColumn(idCol, tryInt(col(idCol))), idCol)
        .drop(FileCol, OffsetCol))
    val schema = good.head.schema
    val id = schema.fieldIndex(idCol)
    val split = paths.exists(_.size > 1)
    val kept = if (split) Some(spark.sparkContext.collectionAccumulator[KeptIds]) else None
    val firsts = spark.sparkContext.union(
      good.map(_.queryExecution.toRdd.mapPartitions(firstPerRange(id, kept))))
    val raw = RowsBridge.dataFrame(spark, firsts, schema)
    if (!split) DumpGroup(entity, raw)
    else {
      val cut = CacheScope.cut(raw)
      // a task that ran twice reported the same entry twice
      try DumpGroup(entity,
        dropKeptBefore(spark, cut, paths.map(_.size), id, kept.get.value.asScala.toMap), Some(cut))
      catch { case e: Throwable => CacheScope.release(cut); throw e }
    }
  }

  /** A range's partition, the ids it kept and the bytes of their rows. */
  private type KeptIds = (Int, (RoaringBitmap, Long))

  /** The first row of each id (an int at ordinal `id`) in `rows`. With
    * `kept`, the task reports what it kept (a bitmap of ids, about 2
    * bytes per dense id). */
  private def firstPerRange(id: Int, kept: Option[CollectionAccumulator[KeptIds]])(
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val ids = new RoaringBitmap
    var bytes = 0L
    kept.foreach(k => TaskContext.get().addTaskCompletionListener[Unit] { tc =>
      ids.runOptimize()
      k.add(tc.partitionId -> (ids -> bytes))
    })
    rows.filter { r =>
      val first = ids.checkedAdd(r.getInt(id))
      if (first) bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes
      first
    }
  }

  /** The rows of `cut` — one partition per range, paths in order, path
    * p read in `sizes(p)` ranges, each range deduped on its own and
    * `ranges` what it kept — less every row whose id an earlier range
    * of the same path kept: the task of range k ORs the kept ids of
    * the ranges before it. The result has ceil(bytes of the rows the
    * ranges kept / the session's advisory partition size) partitions,
    * at most one per range, as AQE sizes a shuffle's. */
  private def dropKeptBefore(spark: SparkSession, cut: DataFrame, sizes: Seq[Int], id: Int,
      ranges: Map[Int, (RoaringBitmap, Long)]): DataFrame = {
    val rows = CacheScope.rddsOf(cut).head
    val n = rows.getNumPartitions
    require(ranges.keySet == (0 until n).toSet, s"kept ids of ${ranges.size} of $n ranges")
    val kept = (0 until n).map(ranges(_)._1).toArray
    // per partition: the first partition of its path, or -1 when its
    // path is read in one range
    val first = sizes.zip(sizes.scanLeft(0)(_ + _))
      .flatMap { case (k, at) => Seq.fill(k)(if (k > 1) at else -1) }.toArray
    val keptBytes = ranges.values.map(_._2).sum
    val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = math.min(n, math.max(1L, (keptBytes + advisory - 1) / advisory).toInt)
    val dropped = rows.mapPartitionsWithIndex { (i, it) =>
      if (first(i) < 0 || first(i) == i) it
      else {
        val seen = RoaringBitmap.or(kept.slice(first(i), i): _*)
        it.filter(r => !seen.contains(r.getInt(id)))
      }
    }
    RowsBridge.dataFrame(spark, if (parts < n) dropped.coalesce(parts) else dropped, cut.schema)
  }

  /** O2: root-element dispatch — peek the first bytes of the (possibly
    * gzip'd) file on the driver; no full reopen of the stream (fixes
    * quirk Q11). A path that is not a file (missing, or a directory) is
    * refused with its name. */
  def detectEntity(path: String): String = {
    require(new File(path).isFile, s"$path: not a dump file (missing, or a directory)")
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

  /** O4: releases → release + release_label + release_video, over
    * clean first-wins-deduped raw rows. The dedup runs BEFORE the
    * fan-out extraction, so children of dropped duplicate parents are
    * dropped with them — child tables always reference exactly the
    * surviving parent rows.
    */
  private def normalizeReleases(raw: DataFrame): Seq[(String, DataFrame)] = {
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
    Seq("release" -> release, "release_label" -> releaseLabel,
      "release_video" -> releaseVideo)
  }

  /** O5: artists → artist (4 array columns; aliases and
    * namevariations populated correctly — quirks Q2/Q3 fixed). */
  private def normalizeArtists(raw: DataFrame): Seq[(String, DataFrame)] =
    Seq("artist" -> raw.select(
      col("id"),
      str0(col("name")).as("name"),
      str0(col("realname")).as("real_name"),
      str0(col("profile")).as("profile"),
      str0(col("data_quality")).as("data_quality"),
      arr0(col("namevariations.name")).as("name_variations"),
      arr0(col("urls.url")).as("urls"),
      arr0(col("aliases.name._VALUE")).as("aliases"),
      arr0(col("members.name._VALUE")).as("members")))

  /** O6: labels → label. */
  private def normalizeLabels(raw: DataFrame): Seq[(String, DataFrame)] =
    Seq("label" -> raw.select(
      col("id"),
      str0(col("name")).as("name"),
      str0(col("contactinfo")).as("contactinfo"),
      str0(col("profile")).as("profile"),
      str0(col("parentLabel._VALUE")).as("parent_label"),
      arr0(col("sublabels.label._VALUE")).as("sublabels"),
      arr0(col("urls.url")).as("urls"),
      str0(col("data_quality")).as("data_quality")))

  /** O7: masters → master + master_artist (year/genres/styles/notes
    * populated — quirk Q9 fixed); fan-out over deduped raw rows, as in
    * [[normalizeReleases]]. */
  private def normalizeMasters(raw: DataFrame): Seq[(String, DataFrame)] = {
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
    Seq("master" -> master, "master_artist" -> masterArtist)
  }

  /** The range line: a dump file smaller than this is read as one
    * range. A range costs one task and a scan of the file before it, so
    * the line is where a second core pays for that. One gz releases
    * dump read alone on 4 cores, 1 range against 2: slower in 2 at
    * 24 KB, no steady difference at 47 KB, 25-40% less wall from 94 KB
    * up; the line sits above that, where the gain is clear. */
  val SplitMinBytes: Long = 128L * 1024

  /** How many ranges the dump file at `path` is read in, in a load whose
    * files total `loadBytes` on `cores` cores: the file's share of the
    * cores by size, rounded, so that a range carries about as much as
    * each core gets of the whole load (a file alone gets every core). 1
    * for a file under [[SplitMinBytes]] or whose share rounds to one
    * core: more ranges would add work on a path that is not the load's
    * longest. */
  def rangeCount(path: String, loadBytes: Long, cores: Int): Int = {
    val bytes = new File(path).length
    if (bytes < SplitMinBytes) 1
    else math.max(1, math.round(cores.toDouble * bytes / math.max(loadBytes, bytes)).toInt)
  }

  /** The ranges of every dump file of `groups`, cut for one load of
    * all of them: per group, per file, its ranges in order. A range is a
    * local file read on an executor, as [[detectEntity]] reads it on the
    * driver. */
  private def plan(spark: SparkSession, groups: Seq[Seq[String]]): Seq[Seq[Seq[DumpRange]]] = {
    val cores = spark.sparkContext.defaultParallelism
    val loadBytes = groups.flatten.distinct.map(new File(_).length).sum
    groups.map(_.map { f =>
      val n = rangeCount(f, loadBytes, cores)
      val bytes = new File(f).length
      (0 until n).map(i =>
        DumpRange(f, bytes * i / n, if (i == n - 1) Long.MaxValue else bytes * (i + 1) / n))
    })
  }

  /** O2+O20: dispatch-and-load a set of dump files (the reference's
    * sequential per-file loop, `main.rs:43-103`, except each entity's
    * tables land as separate DataFrames and multiple files of the same
    * entity union together — monthly-dump union, SURVEY §2.2 set ops).
    *
    * NOTE: the union is a plain UNION ALL — dedup is per FILE, so an id
    * present in two dumps keeps both rows, as two monthly snapshots of
    * the same record. A group's cut stays registered with [[CacheScope]]
    * until [[CacheScope.releaseAll]].
    */
  def loadAll(spark: SparkSession, paths: Seq[String]): Map[String, DataFrame] =
    readGroups(spark, paths).flatMap { open =>
      val g = open()
      g.cut.foreach(CacheScope.trackRddsOf)
      g.tables
    }.toMap

  /** The dump files `paths` grouped by [[detectEntity]] (groups and
    * files in order of first appearance), every file's ranges cut for
    * one load of all of them: each file gets its share of the cores by
    * size ([[rangeCount]]). Each group is its files parsed directly,
    * each first-wins-deduped on its own, the raw rows unioned
    * ([[read]]). A group's frames are built when its function is
    * called, so a caller that loads the groups side by side also plans
    * them side by side; a group with a file read in several ranges is
    * cut then, and the caller frees the cut with [[DumpGroup.release]]. */
  def readGroups(spark: SparkSession, paths: Seq[String]): Seq[() => DumpGroup] = {
    val tagged = paths.map(p => detectEntity(p) -> p)
    val entities = tagged.map(_._1).distinct
    val files = entities.map(e => tagged.collect { case (`e`, p) => p })
    entities.zip(plan(spark, files)).map { case (e, ranges) => () => read(spark, e, ranges) }
  }
}
