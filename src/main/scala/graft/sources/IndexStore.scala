package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Standing-index lifecycle for the ANN family — the piece that turns
  * the s19–s23 structures from per-query rebuilds into what they are
  * at 100 TB: batch-built artifacts a query path READS.
  *
  *  - The s22/s23 serving index ([[saveCellIndex]]/[[loadCellIndex]]):
  *    centroids + cell-assigned vectors + per-cell entry points + the
  *    symmetrized, component-bridged search graph. The two corpus-
  *    sized tables are laid out PARTITIONED BY CELL, so a query that
  *    probes nprobe of ncells cells reads exactly that fraction of
  *    the index off disk (partition pruning) — the IVF promise made
  *    physical.
  *  - The s20 corpus-wide kNN graph ([[saveKnnGraph]]): a catalog
  *    table BUCKETED BY src, so every later src-keyed join/group
  *    (incremental maintenance, degree audits, s21 deliveries at
  *    batch size) is exchange-free.
  *  - The d16 MinHash band index ([[saveBandIndex]]): bucketed by the
  *    band hash — the probe join's index side scans matching buckets
  *    only, and an equality probe prunes to ONE bucket.
  *
  * Freshness is fingerprint-gated: [[ensureCellIndex]] re-reads a
  * saved index only when the corpus fingerprint (count + id sum + a
  * content term) matches what the index was built from, and rebuilds
  * otherwise — a stale index can mis-serve silently, so the gate is
  * on every load, not on a human remembering to invalidate.
  *
  * Locally the catalog is per-session (in-memory + spark-warehouse
  * files); on a real cluster the same calls land in the shared
  * metastore. [[registerKnnGraph]] re-attaches bucketing metadata to
  * the on-disk files for a fresh session — bucket info lives in the
  * catalog, not in parquet.
  */
object IndexStore {

  /** Root for path-addressed index artifacts. Overridable for tests. */
  @volatile var root: String = "/tmp/graft_index"

  /** Content-strong corpus identity: (row count, Σ vec_id,
    * Σ xxhash64(vec_id, embedding)). Still one aggregate scan and
    * order-independent (sum-folded), but the per-row term hashes the
    * FULL (id, vector) content — any single-row edit changes the fold
    * with 2⁻⁶⁴ collision odds, including edits that preserve first-dim
    * mass or swap two rows' embeddings (which the earlier
    * Σ floor(x₀·1000) term could not see and would have silently
    * served a stale index through). */
  def corpusFingerprint(e: DataFrame): String = {
    // the hash sum folds as DECIMAL(38,0): full-range 64-bit hashes
    // overflow a long sum within a handful of rows under ANSI mode,
    // while 38 digits hold ~10¹⁹ hash magnitudes × 10¹⁹ rows exactly
    val r = e.agg(
      count(lit(1)),
      coalesce(sum(col("vec_id")), lit(0L)),
      coalesce(sum(xxhash64(col("vec_id"), col("embedding"))
        .cast("decimal(38,0)")), lit(0)).cast("string")
    ).head()
    s"${r.getLong(0)}_${r.getLong(1)}_${r.getString(2)}"
  }

  /** [[corpusFingerprint]] behind a physical-identity memo — the
    * round-14 fix for "every warm ensure* resolve pays a full corpus
    * scan to decide nothing changed" (at 100 TB that scan IS the
    * query). The memo key is the corpus frame's PHYSICAL identity:
    * the canonicalized optimized plan plus (path, length, mtime) of
    * every leaf parquet file it reads. Parquet files are immutable —
    * data changes arrive as new/replaced files — so an identical
    * identity implies identical content and the cached content
    * fingerprint is exact, not approximate; ANY file or plan change
    * misses and falls back to the full content scan (which then
    * refreshes the memo). Frames with non-file leaves (checkpointed
    * lineage → ExistingRDD, local relations), subqueries or
    * non-deterministic expressions are never memoized — they scan,
    * as before. The memo lives under [[root]] beside the artifacts it
    * guards, so the bench's cold-stores delete wipes it with them
    * (rep 1 pays the scan; warm resolves skip it — exactly the
    * standing-index lifecycle the artifacts themselves follow). */
  def corpusFingerprintMemo(e: DataFrame): String =
    physicalIdentity(e) match {
      case Some(id) =>
        memoGet(e.sparkSession, id).getOrElse {
          val fp = corpusFingerprint(e)
          memoPut(e.sparkSession, id, fp)
          fp
        }
      case None => corpusFingerprint(e)
    }

  private def physicalIdentity(e: DataFrame): Option[String] =
    try {
      import org.apache.spark.sql.execution.datasources.{
        HadoopFsRelation, LogicalRelation}
      val plan = e.queryExecution.optimizedPlan
      // a subquery's files would not be walked below — never memoize
      if (plan.subqueriesAll.nonEmpty) return None
      val files = new StringBuilder
      var pure = true
      plan.foreachUp {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation =>
            files.append(filesIdentity(e.sparkSession, h.location.inputFiles.toSeq))
          case _ => pure = false
        }
        case leaf if leaf.children.isEmpty => pure = false
        case node =>
          if (!node.expressions.forall(_.deterministic)) pure = false
      }
      if (!pure || files.isEmpty) None
      else Some(org.apache.commons.codec.digest.DigestUtils.md5Hex(
        plan.canonicalized.toString + "#" + files))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The physical identity of `paths`: one `path|length|mtime` line
    * per file, in path order, a directory standing for every visible
    * file under it (names starting with `_` or `.` are not data).
    * Keys [[corpusFingerprintMemo]] and [[graft.Tables.load]]'s schema
    * memo. Throws when a path does not exist. The walk uses
    * `listStatus`: `listFiles` builds a `LocatedFileStatus` per file,
    * which loads the file's permissions, and on a local file system
    * without the native Hadoop library that forks `ls -ld` per file. */
  private[graft] def filesIdentity(spark: SparkSession, paths: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path)
        : Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap(s => if (s.isDirectory) walk(fs, s.getPath) else Seq(s))
    val files = paths.flatMap { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) Seq(f -> st)
      else walk(fs, p)
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .map(s => s.getPath.toString -> s)
    }
    val sb = new StringBuilder
    files.sortBy(_._1).foreach { case (f, st) =>
      sb.append(f).append('|').append(st.getLen).append('|')
        .append(st.getModificationTime).append('\n')
    }
    sb.toString
  }

  private def memoGet(spark: SparkSession, id: String): Option[String] =
    readMeta(spark, s"$root/_fp_cache/$id") // same torn-read discipline:
      // unreadable/absent = miss; content is "<fp>" written atomically
      .map(_.linesIterator.next()).filter(_.nonEmpty)

  private def memoPut(spark: SparkSession, id: String, fp: String): Unit =
    try {
      val dir = s"$root/_fp_cache/$id"
      val (f, tmp) = fs(spark, s"$dir/_graft_meta.tmp")
      val out = f.create(tmp, true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
      // rename is atomic on a local/HDFS fs: readers see old-or-new,
      // never a torn fingerprint
      f.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/_graft_meta"))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeMeta(spark: SparkSession, dir: String,
      fingerprint: String): Unit = {
    val (f, p) = fs(spark, s"$dir/_graft_meta")
    val out = f.create(p, true)
    try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
  }

  /** The artifact directory [[ensureCellIndex]] keys `corpusDir` to. */
  def cellIndexDir(corpusDir: String): String =
    s"$root/${corpusDir.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** The meta file's line 1 — the fingerprint the freshness gate
    * compares. Line 2+ carry build-time properties (the adaptive
    * nprobe recommendation), which must NOT participate in the gate:
    * a property-only rewrite is the same artifact. */
  private def metaFp(meta: Option[String]): Option[String] =
    meta.map(_.linesIterator.next())

  /** Parse the [[graft.operators.Similarity.adaptiveNProbe]]
    * recommendation off a meta string ([[readMeta]]'s value). */
  private def nProbeOfMeta(meta: Option[String]): Option[Int] =
    meta.flatMap(_.linesIterator.drop(1).collectFirst {
      case l if l.startsWith("nprobe=") =>
        scala.util.Try(l.stripPrefix("nprobe=").trim.toInt).toOption
    }.flatten)

  /** The standing artifact's build-time probe recommendation (None
    * when the artifact is absent or was built with a PINNED cell
    * count — fixture builds carry no recommendation by design: their
    * committed oracles pin the static knobs). */
  def recommendedNProbe(spark: SparkSession, corpusDir: String): Option[Int] =
    nProbeOfMeta(readMeta(spark, cellIndexDir(corpusDir)))

  /** The corpus row count the artifact at `corpusDir`'s key was built
    * from — the fingerprint's leading term, parsed off the SAME meta
    * read the freshness gate and the nprobe recommendation use. Query
    * paths use it to pick the rescore-join build side on DATA (the
    * artifact's true cardinality) instead of a planner size estimate:
    * see [[graft.operators.Similarity.cellProbeSearchFor]]. None when
    * the artifact is absent/unreadable (callers fall back to the
    * scale-safe beam-broadcast shape). */
  private def corpusRowsOfMeta(meta: Option[String]): Option[Long] =
    metaFp(meta).flatMap(fp =>
      scala.util.Try(fp.takeWhile(_ != '_').toLong).toOption)

  /** [[corpusRowsOfMeta]] for the cell-index artifact namespace. */
  def corpusRows(spark: SparkSession, corpusDir: String): Option[Long] =
    corpusRowsOfMeta(readMeta(spark, cellIndexDir(corpusDir)))

  /** The meta of the artifact at `dir`: the fingerprint it serves,
    * then its build-time properties (None when absent/unreadable). */
  private[graft] def readMeta(spark: SparkSession, dir: String): Option[String] =
    // ANY unreadable meta (absent, truncated, checksum-corrupt) is a
    // fingerprint miss: the caller rebuilds and rewrites — a damaged
    // artifact must force a rebuild, never an error or a stale serve
    try {
      val (f, p) = fs(spark, s"$dir/_graft_meta")
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try {
          val bytes = new Array[Byte](256)
          val n = in.read(bytes)
          Some(new String(bytes, 0, math.max(n, 0), "UTF-8"))
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Persist a serving index built by
    * [[graft.operators.Similarity.servingIndex]]. The corpus-sized
    * tables (assignment "lists" and the search graph) go partitioned
    * by cell; centroids and entries are tiny flat files. The meta
    * fingerprint is written LAST — and any PRIOR meta is deleted
    * FIRST, so a crash at any point mid-save leaves no fingerprint at
    * all (without the upfront delete, a crash between the data
    * overwrites would leave the OLD fingerprint pointing at a mixed
    * artifact, and a job later re-pointed at the old corpus would
    * match it and silently serve the mix). */
  def saveCellIndex(spark: SparkSession, dir: String, fingerprint: String,
      cents: DataFrame, asg: DataFrame, entries: DataFrame,
      graph: DataFrame): Unit = {
    val (f, p) = fs(spark, s"$dir/_graft_meta")
    if (f.exists(p)) f.delete(p, false)
    cents.write.mode(SaveMode.Overwrite).parquet(s"$dir/cents")
    entries.write.mode(SaveMode.Overwrite).parquet(s"$dir/entries")
    asg.write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$dir/asg")
    graph.write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$dir/graph")
    writeMeta(spark, dir, fingerprint)
  }

  /** Artifact schemas, stated EXPLICITLY on every load (matching what
    * the builders write + Spark's partition-column inference): with an
    * explicit schema, a partitioned directory holding ZERO data files
    * reads back as an empty frame instead of failing schema inference.
    * That corner is real — a 1-vector corpus (e.g. a near-empty
    * curated slice) has a legitimately EMPTY search graph, and
    * `partitionBy` of an empty frame writes no parquet footers. */
  private def schemaOf(fields: (String, org.apache.spark.sql.types.DataType)*) =
    org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t) })
  private val LongArr =
    org.apache.spark.sql.types.ArrayType(LongType)
  private val IntT = org.apache.spark.sql.types.IntegerType
  private val CentsSchema = schemaOf("j" -> IntT, "c_mv" -> LongArr)
  private val AsgSchema = schemaOf("vec_id" -> LongType, "cd" -> LongType,
    "mv" -> LongArr, "cell" -> IntT)
  private val EntriesSchema = schemaOf("cell" -> IntT, "entry" -> LongType)
  private val GraphSchema =
    schemaOf("src" -> LongType, "dst" -> LongType, "cell" -> IntT)

  /** Read a saved serving index back as (cents, asg, entries, graph),
    * columns in the builder's order. The partitioned reads are where
    * the layout pays: a filter or join on `cell` prunes directories
    * at planning time. */
  def loadCellIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cents = spark.read.schema(CentsSchema)
      .parquet(s"$dir/cents").select("j", "c_mv")
    val asg = spark.read.schema(AsgSchema).parquet(s"$dir/asg")
      .select("vec_id", "cell", "cd", "mv")
    val entries = spark.read.schema(EntriesSchema)
      .parquet(s"$dir/entries").select("cell", "entry")
    val graph = spark.read.schema(GraphSchema).parquet(s"$dir/graph")
      .select("cell", "src", "dst")
    (cents, asg, entries, graph)
  }

  /** Load-or-build: returns the serving index for `corpusDir`'s
    * embeddings, READ FROM the saved artifact (a hit costs zero build
    * work — the query path consumes parquet, not a rebuild). On a
    * fingerprint miss the index is rebuilt, saved, and read back, so
    * the returned frames are the artifact either way. An EMPTY corpus
    * never persists (empty partitioned writes produce no readable
    * files); it returns the builder's frames directly. */
  /** `nCells` ≤ 0 resolves to the √n serving default
    * ([[graft.operators.Similarity.servingNCells]], computed off the
    * row count the fingerprint scan already paid for); the suite
    * entries pin their fixture sizing instead (their committed
    * oracles carry the cell count as Lloyd-CTE literals). The
    * RESOLVED count is folded into the fingerprint, so a knob change
    * — or corpus growth moving the √n default — busts the artifact
    * instead of silently serving the stale layout. */
  def ensureCellIndex(spark: SparkSession, corpusDir: String,
      e: DataFrame, nCells: Int = -1)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dir = cellIndexDir(corpusDir)
    val corpusFp = corpusFingerprintMemo(e)
    if (corpusFp.startsWith("0_"))
      return graft.operators.Similarity.servingIndex(e,
        if (nCells > 0) nCells else graft.operators.Similarity.IvfNCells)
    val nc =
      if (nCells > 0) nCells
      else graft.operators.Similarity.servingNCells(
        corpusFp.takeWhile(_ != '_').toLong)
    // builder version folded in: a servingIndex algorithm change must
    // invalidate every saved artifact, not silently serve a v1 index
    val fp = s"${corpusFp}_b" +
      graft.operators.Similarity.IndexBuilderVersion + s"_c$nc"
    if (!metaFp(readMeta(spark, dir)).contains(fp)) {
      val (cents, asg, entries, graph) =
        graft.operators.Similarity.servingIndex(e, nc)
      saveCellIndex(spark, dir, fp, cents, asg, entries, graph)
      // √n-defaulted (production) builds additionally measure the
      // corpus-shape-aware probe recommendation and append it to the
      // meta (line 2) — computed off the just-SAVED frames, so the
      // pass reads parquet, not the builder's lineage. A crash in
      // this window leaves a valid fp-only meta: consumers fall back
      // to the static default, never a broken artifact. PINNED builds
      // (the suite's fixture sizing) skip it — their committed
      // oracles carry the static knobs as literals.
      if (nCells <= 0) {
        val (lc, la, _, _) = loadCellIndex(spark, dir)
        writeMeta(spark, dir, s"$fp\nnprobe=" +
          graft.operators.Similarity.adaptiveNProbe(lc, la))
      }
    }
    loadCellIndex(spark, dir)
  }

  /** The artifact directory [[ensurePqIndex]] keys `corpusDir` to —
    * its own namespace beside [[cellIndexDir]]'s, so the graph index
    * and the PQ index of the same corpus coexist. */
  def pqIndexDir(corpusDir: String): String =
    s"$root/pq_${corpusDir.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** Persist a PQ serving index built by
    * [[graft.operators.Similarity.pqIndex]]. The corpus-sized tables
    * — the code table (the ADC scan's only input, m ints/vector) and
    * the milli lists (read only by the shortlist re-rank) — go
    * partitioned by cell; the coarse centroids and the fine codebook
    * are tiny flat files. Same crash discipline as
    * [[saveCellIndex]]: prior meta deleted first, new meta written
    * last, so any mid-save state reads as a fingerprint miss. */
  def savePqIndex(spark: SparkSession, dir: String, fingerprint: String,
      cents: DataFrame, asg: DataFrame, codebook: DataFrame,
      codes: DataFrame): Unit = {
    val (f, p) = fs(spark, s"$dir/_graft_meta")
    if (f.exists(p)) f.delete(p, false)
    cents.write.mode(SaveMode.Overwrite).parquet(s"$dir/cents")
    codebook.write.mode(SaveMode.Overwrite).parquet(s"$dir/codebook")
    asg.write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$dir/asg")
    codes.write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$dir/codes")
    writeMeta(spark, dir, fingerprint)
  }

  /** Read a saved PQ index back as (cents, asg, codebook, codes),
    * columns in the builder's order. The partitioned reads are where
    * the layout pays: the ADC scan's probe join prunes the code table
    * to the probed cells, and the shortlist's (cell, cand) re-rank
    * join prunes the lists the same way. */
  def loadPqIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // explicit schemas for the same empty-partitioned-write reason as
    // loadCellIndex
    val cents = spark.read.schema(CentsSchema)
      .parquet(s"$dir/cents").select("j", "c_mv")
    val asg = spark.read
      .schema(schemaOf("vec_id" -> LongType, "mv" -> LongArr,
        "cell" -> IntT))
      .parquet(s"$dir/asg").select("vec_id", "cell", "mv")
    val codebook = spark.read
      .schema(schemaOf("blk" -> IntT, "j" -> IntT, "dim" -> IntT,
        "cv" -> LongType))
      .parquet(s"$dir/codebook").select("blk", "j", "dim", "cv")
    val codes = spark.read
      .schema(schemaOf("cand" -> LongType, "blk" -> IntT, "j" -> IntT,
        "cell" -> IntT))
      .parquet(s"$dir/codes").select("cand", "cell", "blk", "j")
    (cents, asg, codebook, codes)
  }

  /** Load-or-build for the PQ serving index — [[ensureCellIndex]]'s
    * contract for the s28/s31 path: fingerprint-gated (corpus
    * content + builder version + resolved cell count + the fine
    * quantizer's shape, so a PQ knob change busts the artifact), an
    * empty corpus never persists, and the returned frames are the
    * artifact either way on a non-empty corpus. */
  def ensurePqIndex(spark: SparkSession, corpusDir: String,
      e: DataFrame, nCells: Int = -1)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.operators.Similarity
    val dir = pqIndexDir(corpusDir)
    val corpusFp = corpusFingerprintMemo(e)
    if (corpusFp.startsWith("0_"))
      return Similarity.pqIndex(e,
        if (nCells > 0) nCells else Similarity.IvfNCells)
    val nc =
      if (nCells > 0) nCells
      else Similarity.servingNCells(corpusFp.takeWhile(_ != '_').toLong)
    val fp = s"${corpusFp}_b${Similarity.IndexBuilderVersion}_c${nc}_pq" +
      s"${Similarity.PqK}x${Similarity.PqBlockDim}r${Similarity.PqRounds}"
    if (!metaFp(readMeta(spark, dir)).contains(fp)) {
      val (cents, asg, codebook, codes) = Similarity.pqIndex(e, nc)
      savePqIndex(spark, dir, fp, cents, asg, codebook, codes)
      // same adaptive-probe discipline as ensureCellIndex: the coarse
      // quantizer is the same structure, so the coverage measurement
      // applies verbatim (the PQ asg carries the (vec_id, cell, mv)
      // columns the measurement reads)
      if (nCells <= 0) {
        val (lc, la, _, _) = loadPqIndex(spark, dir)
        writeMeta(spark, dir, s"$fp\nnprobe=" +
          Similarity.adaptiveNProbe(lc, la))
      }
    }
    loadPqIndex(spark, dir)
  }

  /** Load-or-build for a standing kNN graph (the s21 query path's and
    * s24 maintenance path's consumer seam): fingerprint-gated like
    * [[ensureCellIndex]], but the artifact is a catalog table BUCKETED
    * BY src ([[saveKnnGraph]]'s layout), so every consumer join /
    * aggregation / window keyed on src reads bucket-local files with
    * no exchange. `params` folds the builder's knobs (k, rounds) into
    * the fingerprint — a knob change is a rebuild, never a stale
    * serve. A fingerprint hit with no catalog entry (a fresh session
    * over an existing warehouse) re-attaches the bucket spec via
    * [[registerKnnGraph]] instead of rebuilding; a fingerprint hit
    * whose table location is missing is a miss; an empty corpus never
    * persists. Same crash discipline as [[saveCellIndex]]: the prior
    * meta is deleted before the table overwrite and the new meta is
    * written last, so any mid-save state reads as a miss. */
  def ensureKnnGraph(spark: SparkSession, key: String, standing: DataFrame,
      params: String, build: DataFrame => DataFrame,
      buckets: Int = 32): DataFrame = {
    val safe = key.replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
    // the table name carries a tag of THIS root: the meta lives under
    // `root` (mutable — tests re-point it) while the catalog table is
    // globally named in the session warehouse, so without the tag a
    // meta hit under one root could pair with a table last built
    // under a DIFFERENT root for a different corpus state and serve a
    // stale graph with no rebuild. Tagged, each root owns its tables.
    val rootTag = f"${root.hashCode & 0x7fffffff}%08x"
    val table = s"graft_knn_${rootTag}_$safe"
    val metaDir = s"$root/knn_$safe"
    val fp = s"${corpusFingerprintMemo(standing)}_$params"
    if (fp.startsWith("0_")) return build(standing)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val (wf, wp) = fs(spark, s"$wh/$table")
    // the meta is only half the artifact: a hit whose table files are
    // gone (a fresh warehouse, a dropped managed table) is a miss
    val hit = metaFp(readMeta(spark, metaDir)).contains(fp) && wf.exists(wp)
    if (hit && !spark.catalog.tableExists(table)) {
      registerKnnGraph(spark, table, s"$wh/$table", buckets)
    } else if (!hit) {
      val (f, p) = fs(spark, s"$metaDir/_graft_meta")
      if (f.exists(p)) f.delete(p, false)
      // clear any prior incarnation before rebuilding: a stale
      // catalog entry may be EXTERNAL (the re-register path), whose
      // drop leaves files behind, and a fresh session may find files
      // with no catalog entry at all — either way saveAsTable refuses
      // an existing location, so drop the entry AND the location
      // (ours by construction: the graft_knn_ prefix + this key)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      if (wf.exists(wp)) wf.delete(wp, true)
      saveKnnGraph(build(standing), table, buckets)
      writeMeta(spark, metaDir, fp)
    }
    spark.table(table)
  }

  /** Persist the s20 corpus-wide kNN graph as a catalog table bucketed
    * and sorted by src: every later equi-join/aggregation on src scans
    * matching buckets with no exchange. */
  def saveKnnGraph(g: DataFrame, table: String, buckets: Int = 32): Unit =
    g.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "src").sortBy("src")
      .format("parquet").saveAsTable(table)

  /** Re-attach bucketing metadata to an existing saved graph in a
    * FRESH session (bucket info lives in the catalog, which is
    * per-session locally): point a new table at the files with the
    * same bucket spec. The schema is read from the files. */
  def registerKnnGraph(spark: SparkSession, table: String, path: String,
      buckets: Int = 32): Unit = {
    val schema = spark.read.parquet(path).schema.toDDL
    // dropping a MANAGED table deletes its warehouse files — if the
    // name resolves to the managed table saveKnnGraph created at this
    // very path, the DROP would delete the data being registered and
    // leave the new external table pointing at nothing. Refuse loudly.
    if (spark.catalog.tableExists(table)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      require(meta.tableType !=
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED,
        s"registerKnnGraph: '$table' exists as a MANAGED table — " +
          "dropping it would delete its warehouse files (possibly the " +
          s"very files at '$path'); register under a new name or drop " +
          "the managed table explicitly first")
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($schema) USING parquet
         |CLUSTERED BY (src) SORTED BY (src) INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /** Persist d16's standing band index (band hash → corpus doc)
    * bucketed by the band hash: the delivery probe join reads matching
    * buckets only, and an equality probe prunes to one bucket. */
  def saveBandIndex(idx: DataFrame, table: String, buckets: Int = 32): Unit =
    idx.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "bh").sortBy("bh")
      .format("parquet").saveAsTable(table)
}
