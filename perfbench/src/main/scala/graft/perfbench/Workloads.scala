package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The two workloads and the op runner they share.
  *
  * `load` runs the paper's pipeline: `DiscogsLoad.run` over four seeded
  * gzip dumps into parquet, then every table drained through
  * `PgBinaryCopy.RowStream`. `roster` runs a fixed set of
  * `SparkEntry.queries` entries over generated tables, in an order
  * shuffled by the seed. See `perfbench/README.md` for why each
  * workload exists and how large it is.
  */
object Workloads {

  val names: Seq[String] = Seq("load", "roster")

  /** Release records per load; artists, labels and masters follow the
    * reference ratio (see [[Dumps]]). */
  val Releases = 6000

  /** Per-op cap: an op still running after it is cancelled and counted
    * as timed out. */
  val CapSeconds = 40

  /** The `roster` workload's entries (README.md gives the reasons):
    * every 16th `q` entry in name order and all five `dq` entries; then
    * one entry per non-relational module, the one ROADMAP names where
    * it names one (d02 MinHash bands, t23 BPE fold, m05 regression),
    * t12 for `Curation`, and s26 for `Similarity`, whose standing index
    * is built in set-up. */
  val roster: Seq[String] = {
    val q = graft.SparkEntry.queries.keys.toSeq.sorted
    q.filter(_.matches("q[0-9].*")).zipWithIndex.collect { case (n, i) if i % 16 == 0 => n } ++
      q.filter(_.startsWith("dq")) ++
      Seq("d02_minhash_lsh", "t23_bpe_merges", "m05_phash_groups", "t12_pii_scrub",
        "s26_index_health")
  }

  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> graft.operators.Relational.queries,
    "relational2" -> graft.operators.Relational2.queries,
    "discogsstar" -> graft.operators.DiscogsStar.queries,
    "dedup" -> graft.operators.Dedup.queries,
    "textanalysis" -> graft.operators.TextAnalysis.queries,
    "multimodal" -> graft.operators.Multimodal.queries,
    "similarity" -> graft.operators.Similarity.queries,
    "retrieval" -> graft.operators.Retrieval.queries,
    "curation" -> graft.operators.Curation.queries)

  def moduleOf(op: String): String =
    modules.find(_._2.contains(op)).map(_._1).getOrElse("other")

  val tables: Seq[String] = Seq("release", "release_label", "release_video",
    "artist", "label", "master", "master_artist")

  def now(): Long = System.currentTimeMillis()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Bytes of the `.parquet` files under `dir`, and their number. */
  def parquetFiles(dir: File): (Long, Int) = {
    val fs = Option(dir.listFiles()).toSeq.flatten
    fs.map { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) (f.length, 1) else (0L, 0)
    }.foldLeft((0L, 0)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- op runner ---------------------------------------------------------

  /** One timed op: outcome is ok, failed, wrong, timeout or unchecked
    * (ran, but no expected value is kept for it). */
  final case class OpRec(id: Int, name: String, module: String, phase: String,
      start: Long, end: Long, outcome: String, rows: Long, artifacts: Int,
      extra: Map[String, Double]) {
    def wall: Double = (end - start) / 1000.0
    def group: String = s"bench-$name#$id"
    def done: Boolean = outcome == "ok" || outcome == "unchecked"
  }

  final class Runner(spark: SparkSession, val trace: Option[Trace], work: File) {
    val recs = ArrayBuffer[OpRec]()
    var peakCached = 0L
    var blocksLeft = 0L
    private var nextId = 0
    private val artifactRoots = Seq(new File(work, "index"), new File(work, "warehouse"))

    /** Artifact directory → newest file time under it. */
    private def artifacts(): Map[String, Long] = {
      def newest(f: File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(newest)
          .foldLeft(f.lastModified)(math.max)
        else f.lastModified
      artifactRoots.flatMap(r => Option(r.listFiles()).toSeq.flatten)
        .map(f => f.getPath -> newest(f)).toMap
    }

    /** Runs `body` as op `name` on its own thread under job group
      * `bench-<name>#<id>`, cancelled after [[CapSeconds]]. `check`
      * turns the body's value into (rows, fingerprint, verdict, extra
      * figures) outside the timed span; the verdict is Some(true) for
      * ok, Some(false) for wrong and None for unchecked. */
    def op[A](name: String, module: String, phase: String)(body: => A)(
        check: A => (Long, Long, Option[Boolean], Map[String, Double])): OpRec = {
      nextId += 1
      val id = nextId
      val group = s"bench-$name#$id"
      val before = artifacts()
      @volatile var result: Either[Throwable, A] = Left(new IllegalStateException("not run"))
      val th = new Thread(() => {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try result = Right(body)
        catch { case e: Throwable => result = Left(e) }
      }, group)
      th.setDaemon(true)
      val t0 = now()
      th.start()
      th.join(CapSeconds * 1000L)
      val timedOut = th.isAlive
      if (timedOut) {
        spark.sparkContext.cancelJobGroup(group)
        th.interrupt()
        th.join(15000)
      }
      val t1 = now()
      val storage = spark.sparkContext.getRDDStorageInfo
      peakCached = math.max(peakCached, storage.map(i => i.memSize + i.diskSize).sum)
      graft.CacheScope.releaseAll()
      blocksLeft = math.max(blocksLeft,
        spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum)
      spark.catalog.clearCache()
      val after = artifacts()
      val changed = after.count { case (k, t) => !before.get(k).contains(t) }
      val rec = if (timedOut) OpRec(id, name, module, phase, t0, t1, "timeout", 0, changed, Map.empty)
        else result match {
          case Left(e) =>
            System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).linesIterator.take(1).mkString)
            OpRec(id, name, module, phase, t0, t1, "failed", 0, changed, Map.empty)
          case Right(v) =>
            val (rows, fp, verdict, extra) = check(v)
            val outcome = verdict match {
              case Some(true) => "ok"
              case Some(false) => "wrong"
              case None => "unchecked"
            }
            if (outcome == "wrong") System.err.println(s"[perfbench] $name wrong output")
            OpRec(id, name, module, phase, t0, t1, outcome, rows, changed, extra)
        }
      System.err.println(f"[perfbench] $phase%-8s $name%-28s ${rec.wall}%7.3fs ${rec.outcome} rows=${rec.rows}")
      if (phase != "untraced") trace.foreach(_.ops.add(rec))
      recs += rec
      rec
    }
  }

  // ---- full consumption and fingerprint ----------------------------------

  /** Values as the fingerprint sees them: doubles at 10 significant
    * digits (an aggregate's last bits depend on merge order), maps as
    * key-sorted entry arrays, anything unhashable as text. */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull, lit(null).cast(StringType))
        .when(abs(d) < 1e-9, lit("0"))
        .otherwise(format_string("%.9e", d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(norm(e.getField("key"), kt), norm(e.getField("value"), vt))))
    case st: StructType if st.nonEmpty =>
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: NumericType | StringType | BooleanType | BinaryType | DateType |
         TimestampType | TimestampNTZType => c
    case _ => c.cast(StringType)
  }

  /** Consumes every row and every column of `df` in one execution and
    * returns (rows, order-insensitive fingerprint, planning seconds).
    * The hash projection sits on top of the op's own plan, so nothing
    * the op computes can be pruned, and the sum is taken outside the
    * query so no sort below it can be dropped either. */
  def consume(df: DataFrame): (Long, Long, Double) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val qe = named.select(h.as("h")).queryExecution
    val parts = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) { s += it.next().getLong(0); n += 1 }
      Iterator((n, s))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum, qe.tracker.phases.values.map(_.durationMs).sum / 1000.0)
  }

  /** Drains `df` through `PgBinaryCopy.RowStream`, one stream per
    * partition as the JDBC sink does, into a byte-counting null sink.
    * Returns (tuples, bytes). */
  def copyDrain(spark: SparkSession, df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val tuples = spark.sparkContext.longAccumulator("copy.tuples")
    val bytes = spark.sparkContext.longAccumulator("copy.bytes")
    df.foreachPartition { (rows: Iterator[Row]) =>
      var n = 0L
      val in = new graft.sources.PgBinaryCopy.RowStream(rows.map { r => n += 1; r }, schema)
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      var k = in.read(buf, 0, buf.length)
      while (k >= 0) { total += k; k = in.read(buf, 0, buf.length) }
      tuples.add(n)
      bytes.add(total)
    }
    (tuples.value.longValue, bytes.value.longValue)
  }

  // ---- workloads ---------------------------------------------------------

  def run(spark: SparkSession, args: Main.Args, work: File, trace: Option[Trace],
      jvmStart: Long): Result = {
    val runner = new Runner(spark, trace, work)
    val t0 = now()
    val r = if (args.workload == "load") load(spark, args, work, runner, jvmStart)
      else rosterRun(spark, args, work, runner, jvmStart)
    trace.foreach { t =>
      val deadline = now() + 10000
      while (!t.settled && now() < deadline) Thread.sleep(50)
      t.write(new File(work, "spans.jsonl").getPath, args.workload, t0, now())
    }
    val measured = runner.recs.filter(_.phase == "measure").toSeq
    val traced = trace.map(t => Layers.metrics(t, runner, measured, r.passes,
      r.untracedPass, r.layerExtra.toMap)).getOrElse(Seq.empty)
    val failed = measured.count(_.outcome == "failed")
    val wrong = measured.count(_.outcome == "wrong")
    val timeout = measured.count(_.outcome == "timeout")
    val attempted = math.max(1, measured.size)
    val failedRatio = (failed + wrong + timeout).toDouble / attempted
    val metrics =
      if (trace.isDefined) traced :+ ("failed_ratio" -> (failedRatio, "ratio"))
      else r.endToEnd
    Result(attempted, failed, wrong, timeout, measured.count(_.outcome == "unchecked"),
      metrics, r.notes :+ f"failed_ratio=$failedRatio%.4f samples=${measured.count(_.done)}")
  }

  /** A workload's own figures before the shared bookkeeping. */
  final case class Run(endToEnd: Seq[(String, (Double, String))], passes: Seq[Double],
      untracedPass: Double,
      layerExtra: Seq[(String, (Double, String))], notes: Seq[String])

  private def endToEnd(setup: Double, passes: Seq[Double], recordsPerS: Double,
      ops: Seq[OpRec], storedRatio: Double): Seq[(String, (Double, String))] = {
    val walls = ops.filter(_.done).map(_.wall)
    Seq(
      "setup_s" -> (setup, "s"),
      "pass_s" -> (median(passes), "s"),
      "load_records_per_s" -> (recordsPerS, "1/s"),
      "op_p50_s" -> (median(walls), "s"),
      "op_p90_s" -> (pct(walls, 0.9), "s"),
      "peak_rss_mb" -> (peakRssMb(), "MiB"),
      "stored_bytes_per_input_byte" -> (storedRatio, "ratio"))
  }

  /** Measured passes after set-up: back to back until `seconds` have
    * passed, at least one. With tracing on, one extra pass runs first
    * with the listeners detached; the traced passes are compared with
    * it. Returns (pass walls, untraced pass wall). */
  private def passes(spark: SparkSession, args: Main.Args, runner: Runner,
      pass: String => Unit): (Seq[Double], Double) = {
    def timed(phase: String): Double = {
      val t = now()
      pass(phase)
      (now() - t) / 1000.0
    }
    val untraced = runner.trace.fold(0.0) { t =>
      spark.sparkContext.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      val u = timed("untraced")
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      u
    }
    // a pass starts only while at least half of one still fits, so the
    // pass count does not hinge on a few milliseconds
    val out = ArrayBuffer[Double]()
    val start = now()
    do out += timed("measure")
    while (now() - start + out.last * 500 < args.seconds * 1000L)
    (out.toSeq, untraced)
  }

  // -- load

  private def load(spark: SparkSession, args: Main.Args, work: File, runner: Runner,
      jvmStart: Long): Run = {
    val t0 = now()
    val truth = Dumps.write(new File(work, "dumps").getPath, args.seed, Releases)
    val gen = (now() - t0) / 1000.0
    // the cold load, which pays class loading, code generation and JIT
    // once per process, runs on a dump a tenth the size
    val warmTruth = Dumps.write(new File(work, "dumps-cold").getPath, args.seed, Releases / 10)
    val gzBytes = truth.files.map(f => new File(f).length).sum
    var iter = 0
    var stored = 0L
    var files = 0

    def oneLoad(phase: String, truth: Dumps.Truth): Double = {
      iter += 1
      val out = new File(work, s"out/$iter")
      val t = now()
      runner.op("discogsload.run", "discogsload", phase) {
        graft.DiscogsLoad.run(graft.DiscogsLoad.Opts(files = truth.files, out = out.getPath), spark)
      } { _ =>
        val counts = tables.map(n => n -> spark.read.parquet(s"$out/$n").count()).toMap
        val rowsOk = tables.forall(n => counts(n) == truth.rows(n))
        val survivorsOk = Dumps.witness.forall { case (entity, (table, column)) =>
          val want = truth.survivors(entity)
          val got = spark.read.parquet(s"$out/$table")
            .filter(col("id").isin(want.keys.toSeq: _*))
            .select(col("id"), col(column)).collect()
            .map(r => r.getInt(0) -> r.getString(1)).toMap
          got == want
        }
        if (!rowsOk) System.err.println(s"[perfbench] load rows $counts vs ${truth.rows}")
        val (b, n) = parquetFiles(out)
        stored = b
        files = n
        (counts.values.sum, 0L, Some(rowsOk && survivorsOk), Map.empty)
      }
      tables.foreach { n =>
        runner.op(s"copy.$n", "pgbinarycopy", phase) {
          copyDrain(spark, spark.read.parquet(s"$out/$n"))
        } { case (tuples, bytes) =>
          (tuples, 0L, Some(tuples == truth.rows(n)), Map("bytes" -> bytes.toDouble))
        }
      }
      val wall = (now() - t) / 1000.0
      deleteTree(out)
      wall
    }

    val cold = oneLoad("setup", warmTruth)
    oneLoad("setup", truth)
    val setup = (now() - jvmStart) / 1000.0
    val (walls, untraced) = passes(spark, args, runner, p => { oneLoad(p, truth); () })
    val measured = runner.recs.filter(_.phase == "measure").toSeq
    val pass = median(walls)
    Run(endToEnd(setup, walls, truth.records / pass, measured,
        stored.toDouble / truth.xmlBytes),
      walls, untraced,
      Seq("sinks.files_written" -> (files.toDouble, "count"),
        "gz_bytes" -> (gzBytes.toDouble, "B")),
      Seq(s"load gen_s=$gen cold_s=$cold " +
        s"records=${truth.records} xml_bytes=${truth.xmlBytes} gz_bytes=$gzBytes " +
        s"loads=${walls.size} rows=${tables.map(n => s"$n:${truth.rows(n)}").mkString(",")}"))
  }

  // -- roster

  private def rosterRun(spark: SparkSession, args: Main.Args, work: File, runner: Runner,
      jvmStart: Long): Run = {
    val data = new File(work, "data").getPath
    val t0 = now()
    val raw = TestTables.write(spark, data)
    val gen = (now() - t0) / 1000.0
    val (stored, _) = parquetFiles(new File(data))
    val expected = Expected.load(args.expected)
    val recording = scala.collection.mutable.Map[String, (Long, Long)]()
    val ops = roster
    val rnd = new scala.util.Random(args.seed)

    def pass(phase: String): Unit =
      rnd.shuffle(ops).foreach { name =>
        val fn = graft.SparkEntry.queries(name)
        runner.op(name, moduleOf(name), phase)(consume(fn(spark, data))) { case (rows, fp, plan) =>
          recording(name) = (rows, fp)
          (rows, fp, expected.verdict(name, rows, fp), Map("plan_s" -> plan))
        }
      }

    // set-up: the cold pass, then one warm pass, because the JIT keeps
    // compiling Spark's planning code well past the first pass
    val coldStart = now()
    pass("setup")
    val cold = (now() - coldStart) / 1000.0
    pass("setup")
    val setup = (now() - jvmStart) / 1000.0
    val (walls, untraced) = passes(spark, args, runner, pass)
    args.recordExpected.foreach(f => Expected.save(f, ops, recording.toMap))
    val measured = runner.recs.filter(_.phase == "measure").toSeq
    val done = measured.filter(_.done)
    val builds = runner.recs.filter(r => r.phase == "setup" && r.artifacts > 0)
    Run(endToEnd(setup, walls, done.map(_.rows).sum / math.max(1e-9, done.map(_.wall).sum),
        measured, stored.toDouble / raw),
      walls, untraced,
      Seq(
        "indexstore.build_s" -> (builds.map(_.wall).sum, "s"),
        "indexstore.artifacts_rebuilt" ->
          (measured.map(_.artifacts).sum.toDouble / math.max(1, walls.size), "count")),
      Seq(s"${args.workload} gen_s=$gen cold_s=$cold " +
        s"ops=${ops.size} passes=${walls.size} pass_walls=${walls.mkString(",")} " +
        s"input_rows_bytes=$raw stored_bytes=$stored"))
  }
}
