package graft.sources

import graft.schemas.Discogs
import org.apache.hadoop.fs.Path
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import java.io.{BufferedInputStream, ByteArrayOutputStream, File, FileInputStream,
  FilterInputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.zip.{Deflater, GZIPInputStream, GZIPOutputStream}
import scala.annotation.switch

/** Discogs XML dump ingest — the Spark-native rebuild of the
  * reference's FSM parsers (reference operators O1-O12, SURVEY §2.1).
  *
  * Architecture: one declarative `spark.read.format("xml")` per entity
  * with an explicit pruned schema (no inference pass), then flat
  * normalization — nested selects for array columns, `explode` for the
  * one-to-many child tables, first-wins global dedup. Catalyst fuses
  * the whole normalize stage into the parse scan. gzip is not
  * splittable, so a gz dump read as it is parses as one task (the
  * reference's single thread); [[withChunks]] first [[split]]s a big
  * gz dump into chunks, its share of the cores, so its parse runs on
  * that many cores.
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
    * tables derived from `raw`, in write order. A fan-out entity
    * (releases, masters) derives several tables from the same `raw`,
    * so a caller that writes them all materializes `raw` once first
    * and derives the tables from that copy (`copy(raw = ...)`). */
  final case class DumpGroup(entity: String, raw: DataFrame) {
    def tables: Seq[(String, DataFrame)] = entity match {
      case "releases" => normalizeReleases(raw)
      case "artists" => normalizeArtists(raw)
      case "labels" => normalizeLabels(raw)
      case "masters" => normalizeMasters(raw)
    }
  }

  private def str0(c: org.apache.spark.sql.Column) = coalesce(c, lit(""))
  private def int0(c: org.apache.spark.sql.Column) = coalesce(c, lit(0))
  private def arr0(c: org.apache.spark.sql.Column) =
    coalesce(c, array().cast("array<string>"))
  /** Lenient int conversion for string-declared XML attributes (see
    * [[graft.schemas.Discogs.releaseXmlSchema]]): bad value → null, not
    * an ANSI cast error. */
  private def tryInt(c: org.apache.spark.sql.Column) = c.try_cast(IntegerType)

  /** Corrupt-record spill column (explicit malformed-record policy). */
  private val CorruptCol = "_graft_corrupt"

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
    * null-id records dropped, id cast to int. The shared front of
    * [[readGroup]] and [[restage]]. */
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
    * sorted by size descending), so the order key is (file path,
    * in-file position):
    * deterministic for any multi-file read — file paths ascending,
    * document order within each file — instead of silently depending
    * on file sizes.
    */
  private def firstWinsById(df: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("__file"), col("__ord"))
    df.withColumn("__file", input_file_name())
      .withColumn("__ord", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__file", "__ord", "__rn")
  }

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

  /** O4: releases → release + release_label + release_video, over
    * clean first-wins-deduped raw rows (direct parse or re-staged
    * parquet). The dedup runs BEFORE the fan-out extraction, so
    * children of dropped duplicate parents are dropped with them —
    * child tables always reference exactly the surviving parent rows.
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

  /** The split line: a gz dump smaller than this parses as one task.
    * The line is where the parse is long enough to pay for the split
    * job: a 255 KB releases dump parses in about 310 ms of CPU on one
    * core, while its split costs about 70 ms of CPU and a job's fixed
    * wall; a 105 KB artists dump, below the line, is parsed well before
    * the releases dump either way. */
  val SplitMinGzBytes: Long = 128L * 1024

  /** How many chunks [[withChunks]] splits the dump at `path` into, in
    * a load whose dumps total `loadBytes` on `cores` cores: the dump's
    * share of the cores by size, rounded, so that a chunk carries about
    * as much as each core gets of the whole load (a dump alone gets
    * every core). 1, no split, for a dump that is not gz, is under
    * [[SplitMinGzBytes]] or whose share rounds to one core: splitting
    * it would add work on a path that is not the load's longest. */
  def chunkCount(path: String, loadBytes: Long, cores: Int): Int = {
    val bytes = new File(path).length
    if (!path.endsWith(".gz") || bytes < SplitMinGzBytes) 1
    else math.max(1, math.round(cores.toDouble * bytes / math.max(loadBytes, bytes)).toInt)
  }

  /** Runs `body` over `groups` (entity, dump paths) with every dump
    * that [[chunkCount]] splits replaced by the directory of its chunks,
    * and removes the chunks when `body` returns or throws. Every split
    * runs in one job before `body` starts. The chunks go under
    * `scratch` (`_chunks-<uuid>`, hidden from readers of `scratch`),
    * which every executor must be able to read and write. */
  def withChunks[A](spark: SparkSession, groups: Seq[(String, Seq[String])],
      scratch: String)(body: Seq[(String, Seq[String])] => A): A = {
    val cores = spark.sparkContext.defaultParallelism
    val root = new Path(scratch, s"_chunks-${UUID.randomUUID()}")
    val dumps = groups.flatMap { case (e, ps) => ps.map(e -> _) }.distinctBy(_._2)
    val loadBytes = dumps.map(d => new File(d._2).length).sum
    val splits = dumps.zipWithIndex.flatMap { case ((e, p), k) =>
      val n = chunkCount(p, loadBytes, cores)
      if (n > 1) Some(Split(p, e, entityMeta(e)._1, new Path(root, k.toString).toString, n))
      else None
    }
    val dirOf = splits.map(s => s.path -> s.dir).toMap
    try {
      split(spark, splits)
      body(groups.map { case (e, ps) => e -> ps.map(p => dirOf.getOrElse(p, p)) })
    } finally root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
  }

  /** One dump to split: the records of `entity` are `tag` elements;
    * its `n` chunks go in `dir`. */
  private final case class Split(path: String, entity: String, tag: String, dir: String,
      n: Int)

  /** Splits each dump of `splits` into its `n` chunk files, in one job
    * with a task per chunk. Task i of a dump inflates it from its start
    * and keeps the records whose start tag comes out while the inflater
    * reads the i-th n-th of the compressed bytes (the last range is
    * open-ended), so each record lands in exactly one chunk. The ranges
    * are in compressed bytes because the inflated size is unknown up
    * front (the gzip trailer holds it mod 2^32).
    *
    * A chunk is its records' verbatim text under the root element,
    * gzip level 1, written by its task, so `dir` must be on a file
    * system every executor can write; the dump is read as a local file,
    * as [[detectEntity]] reads it. gzip is not splittable, so each
    * chunk is read as one partition in document order, and chunk names
    * sort in task order: [[firstWinsById]]'s order key over `dir`,
    * (file path, in-file position), is the dump's document order. A
    * plain chunk would be split by the reader once it is bigger than
    * `spark.sql.files.maxPartitionBytes`, with the splits ordered by
    * size. Level 1 took about as long as plain text and is about 13x
    * smaller on disk. */
  private def split(spark: SparkSession, splits: Seq[Split]): Unit = if (splits.nonEmpty) {
    // broadcast, as a file scan ships it: in a task closure the conf
    // costs more to ship than the split's own work at this size
    val conf = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val tasks = splits.flatMap(s => (0 until s.n).map(s -> _))
    spark.sparkContext.parallelize(tasks, tasks.size).foreach { case (s, i) =>
      val gzBytes = new File(s.path).length
      val chunk = new Path(s.dir, f"chunk-$i%05d.xml.gz")
      val fs = chunk.getFileSystem(conf.value.value)
      // written under a hidden name, then renamed: a reader never sees
      // a part-written chunk, and a retried task writes its own file
      val part = new Path(s.dir, s"_${chunk.getName}.${TaskContext.get().taskAttemptId()}")
      val out = new GZIPOutputStream(fs.create(part, true), 1 << 16) {
        `def`.setLevel(Deflater.BEST_SPEED)
      }
      try {
        out.write(s"<${s.entity}>\n".getBytes(UTF_8))
        new RecordCopier(s.path, s.tag, gzBytes * i / s.n,
          if (i == s.n - 1) Long.MaxValue else gzBytes * (i + 1) / s.n, out).copy()
        out.write(s"</${s.entity}>\n".getBytes(UTF_8))
      } finally out.close()
      if (!fs.rename(part, chunk)) {
        fs.delete(part, false) // another attempt of this task renamed first
        if (!fs.exists(chunk)) throw new java.io.IOException(s"cannot rename $part to $chunk")
      }
    }
  }

  /** Counts the bytes read through it. Every read is filled as far as
    * the stream allows, so the count at a given point of the inflated
    * output is the same in every task that inflates the same file. */
  private final class CountingInput(in: InputStream) extends FilterInputStream(in) {
    var count = 0L
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) count += 1
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      var r = 0
      while (n < len && { r = in.read(b, off + n, len - n); r > 0 }) n += r
      count += n
      if (n == 0 && r < 0) -1 else n
    }
  }

  /** Copies out the records of the gz dump at `path` whose start tag
    * comes out of the inflater while it has read compressed bytes in
    * [lo, hi) to `out`, as verbatim text, in document order. A record
    * is an element named `tag` that no other such element encloses,
    * which is how the XML reader finds its rows. The scan tracks the
    * depth of `tag` elements and steps over comments, CDATA sections,
    * processing instructions, declarations and quoted attribute
    * values, so a self-closing record, tag text inside any of those and
    * a same-name element nested in a record are all read as the reader
    * reads them. Any other tag is dropped at its first byte that
    * differs from `tag`: no `<` can occur inside a tag, so the scan
    * resumes at the next `<`. */
  private final class RecordCopier(path: String, tag: String, lo: Long, hi: Long,
      out: OutputStream) {
    import RecordCopier._
    private val tagBytes = tag.getBytes(UTF_8)
    private val buf = new Array[Byte](1 << 16)
    private var len = 0
    private var i = 0
    private var pos = 0L // compressed bytes read when `buf` came out
    private val rec = new ByteArrayOutputStream(1 << 12)
    private var keep = -1 // where in `buf` the bytes to keep start
    private var state = Text
    private var depth = 0 // open `tag` elements
    private var ltPos = 0L // `pos` at the current markup's '<'
    private var nameLen = 0 // bytes of `tag` matched so far
    private var selfClose = false
    private var run = 0 // per state: '-' or ']' run, "CDATA[" matched, '?' seen, '[' depth
    private var done = false

    /** Writes the records to `out`, each followed by a newline. */
    def copy(): Unit = {
      val raw = new CountingInput(new FileInputStream(path))
      val in = new GZIPInputStream(raw, 8192)
      try while (!done) {
        if (i == len) {
          if (keep >= 0) { rec.write(buf, keep, len - keep); keep = 0 }
          len = in.read(buf)
          if (len < 0) { done = true; len = 0 }
          pos = raw.count
          i = 0
        } else if (state == Text) {
          // most bytes are text or other tags: run to the next '<'
          while (i < len && buf(i) != '<') i += 1
          if (i < len) { lt(); i += 1 }
        } else {
          step(buf(i))
          i += 1
        }
      } finally in.close()
    }

    private def lt(): Unit = {
      state = Lt
      ltPos = pos
      if (depth == 0 && ltPos >= lo && ltPos < hi) keep = i
    }

    private def step(b: Byte): Unit = (state: @switch) match {
      case Lt =>
        nameLen = 0
        if (b == '/') state = EndTag
        else if (b == '!') state = Bang
        else if (b == '?') { state = Pi; run = 0 }
        else { state = StartTag; selfClose = false; name(b) }
      case StartTag => name(b)
      case Attrs =>
        if (b == '>') startTag()
        else if (b == '/') selfClose = true
        else if (b == '"') { state = DoubleQuoted; selfClose = false }
        else if (b == '\'') { state = SingleQuoted; selfClose = false }
        else if (!isSpace(b)) selfClose = false
      case DoubleQuoted => if (b == '"') state = Attrs
      case SingleQuoted => if (b == '\'') state = Attrs
      case EndTag =>
        if (nameLen < tagBytes.length) {
          if (b == tagBytes(nameLen)) nameLen += 1 else markupEnd()
        } else if (b == '>') endTag()
        else if (!isSpace(b)) markupEnd()
      case Bang =>
        if (b == '-') state = BangDash
        else if (b == '[') { state = CdataOpen; run = 0 }
        else declaration(b)
      case BangDash =>
        if (b == '-') { state = Comment; run = 0 } else declaration(b)
      case Comment =>
        if (b == '-') run += 1
        else { if (b == '>' && run >= 2) markupEnd(); run = 0 }
      case CdataOpen =>
        if (b == CdataWord(run)) {
          run += 1
          if (run == CdataWord.length) { state = Cdata; run = 0 }
        } else declaration(b)
      case Cdata =>
        if (b == ']') run += 1
        else { if (b == '>' && run >= 2) markupEnd(); run = 0 }
      case Pi =>
        if (b == '>' && run == 1) markupEnd() else run = if (b == '?') 1 else 0
      case Decl =>
        if (b == '[') run += 1
        else if (b == ']') run -= 1
        else if (b == '>' && run <= 0) markupEnd()
    }

    /** One byte of a start tag's name; a tag not named `tag` ends here. */
    private def name(b: Byte): Unit =
      if (nameLen < tagBytes.length) {
        if (b == tagBytes(nameLen)) nameLen += 1 else markupEnd()
      } else if (b == '>') startTag()
      else if (b == '/') { selfClose = true; state = Attrs }
      else if (isSpace(b)) state = Attrs
      else markupEnd()

    /** `<!` that opens neither a comment nor a CDATA section. */
    private def declaration(b: Byte): Unit = {
      state = Decl
      run = if (b == '[') 1 else 0
      if (b == '>') markupEnd()
    }

    private def markupEnd(): Unit = {
      state = Text
      if (depth == 0) dropKept()
    }

    private def startTag(): Unit = {
      state = Text
      if (depth == 0) {
        if (ltPos >= hi) done = true // the first record of the next range
        else if (selfClose && keep >= 0) emit()
      }
      if (!selfClose) depth += 1
    }

    private def endTag(): Unit =
      if (depth == 0) markupEnd() // a stray end tag
      else {
        state = Text
        depth -= 1
        if (depth == 0 && keep >= 0) emit()
      }

    private def dropKept(): Unit = {
      keep = -1
      rec.reset()
    }

    private def emit(): Unit = {
      rec.write(buf, keep, i + 1 - keep)
      rec.write('\n')
      rec.writeTo(out)
      dropKept()
    }
  }

  private object RecordCopier {
    final val Text = 0
    final val Lt = 1
    final val StartTag = 2
    final val Attrs = 3
    final val DoubleQuoted = 4
    final val SingleQuoted = 5
    final val EndTag = 6
    final val Bang = 7
    final val BangDash = 8
    final val Comment = 9
    final val CdataOpen = 10
    final val Cdata = 11
    final val Pi = 12
    final val Decl = 13
    val CdataWord: Array[Byte] = "CDATA[".getBytes(UTF_8)
    def isSpace(b: Byte): Boolean = b == ' ' || b == '\n' || b == '\r' || b == '\t'
  }

  /** Splittable re-stage (SURVEY §7.4): one pass through the
    * non-splittable gz XML dump, out as `partitions`-way parquet of
    * the clean raw rows with document order materialized as `__ord`.
    *
    * Every pass over a gz dump pays the XML parse again, split into
    * chunks ([[withChunks]]) or not. Paying the parse exactly once and
    * re-staging to parquet makes every later pass splittable (one task
    * per row-group split), column-pruned, and ~an order of magnitude
    * cheaper to decode.
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
    // (post-repartition partition indexes are arbitrary); for a dump
    // parsed from chunks, only within one chunk. Scope: the
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
    // second exchange. A big gz dump is parsed from its chunks
    // (withChunks), where (file, __ord) is (chunk, in-chunk position).
    val w = Window.partitionBy(col(idCol)).orderBy(col("__file"), col("__ord"))
    withChunks(spark, Seq(entity -> Seq(path)), outDir) { parsed =>
      parseGood(spark, parsed.head._2.head, entity)
        .withColumn("__file", input_file_name())
        .withColumn("__ord", monotonically_increasing_id())
        .repartition(n, col(idCol))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__file")
        .write.mode("overwrite").parquet(staged)
    }
    staged
  }

  /** O2+O20: dispatch-and-load a set of dump files (the reference's
    * sequential per-file loop, `main.rs:43-103`, except each entity's
    * tables land as separate DataFrames and multiple files of the same
    * entity union together — monthly-dump union, SURVEY §2.2 set ops).
    *
    * NOTE: the union is a plain UNION ALL — dedup is per FILE, so an id
    * present in two dumps keeps both rows, as two monthly snapshots of
    * the same record. Cross-dump first-wins semantics are a policy
    * choice, not a default: route the result through
    * [[graft.operators.DiscogsQueries.unionDumps]], or pass a directory
    * holding all files of one logical dump to [[readGroup]], where
    * (file, document-order) first-wins applies across its files.
    */
  def loadAll(spark: SparkSession, paths: Seq[String]): Map[String, DataFrame] =
    groupByEntity(paths).flatMap { case (e, ps) => readGroup(spark, e, ps).tables }.toMap

  /** Dump files grouped by [[detectEntity]], groups and files in order
    * of first appearance. */
  def groupByEntity(paths: Seq[String]): Seq[(String, Seq[String])] = {
    val tagged = paths.map(p => detectEntity(p) -> p)
    tagged.map(_._1).distinct.map(e => e -> tagged.collect { case (`e`, p) => p })
  }

  /** One entity's dumps, parsed directly: each path first-wins-deduped
    * on its own, the raw rows unioned, the entity's tables derived. A
    * path may be a directory, read as one logical dump (first wins in
    * (file path, document order) across its files). */
  def readGroup(spark: SparkSession, entity: String, paths: Seq[String]): DumpGroup = {
    require(entityMeta.contains(entity), s"unknown entity $entity")
    group(entity, paths.map { p =>
      firstWinsById(parseGood(spark, p, entity), entityMeta(entity)._3)
    })
  }

  /** [[readGroup]] over [[restage]]d paths of one entity (each
    * `.../[entity]`): shuffle-free projections over a splittable,
    * column-pruned parquet scan — the dedup ran at stage time, so the
    * staged `__ord` column is dropped unread. */
  def readStagedGroup(spark: SparkSession, entity: String,
      stagedPaths: Seq[String]): DumpGroup = {
    require(entityMeta.contains(entity), s"unknown entity $entity")
    val foreign = stagedPaths.filterNot(new java.io.File(_).getName == entity)
    require(foreign.isEmpty,
      s"not re-staged $entity directories: ${foreign.mkString(", ")}")
    group(entity, stagedPaths.map(spark.read.parquet(_).drop("__ord")))
  }

  private def group(entity: String, raws: Seq[DataFrame]): DumpGroup =
    DumpGroup(entity, raws.reduce(_.unionByName(_)))
}
