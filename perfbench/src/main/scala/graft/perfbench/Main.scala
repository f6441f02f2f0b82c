package graft.perfbench

import java.io.File
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  *   Main --workload load|roster --seed N --seconds S
  *        --trace 0|1 --work DIR [--record-expected FILE]
  *
  * Set-up (session start, input generation, the first cold pass with
  * the cold index builds it causes, and one warm pass) is timed as
  * `setup_s`. Then passes over the workload's ops run back to back for
  * about `--seconds`, at least one. Every op consumes every row and column of its
  * output, and its row count and content fingerprint are checked. The
  * last stdout line is the result object; `--trace 1` adds the
  * per-layer figures and writes the span file under `--work`.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", recordExpected: Option[String] = None,
      expected: Option[String] = None)

  private def parse(a: List[String], o: Args = Args()): Args = a match {
    case Nil => o
    case "--workload" :: v :: r => parse(r, o.copy(workload = v))
    case "--seed" :: v :: r => parse(r, o.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, o.copy(seconds = v.toInt))
    case "--trace" :: v :: r => parse(r, o.copy(trace = v == "1"))
    case "--work" :: v :: r => parse(r, o.copy(work = v))
    case "--expected" :: v :: r => parse(r, o.copy(expected = Some(v)))
    case "--record-expected" :: v :: r => parse(r, o.copy(recordExpected = Some(v)))
    case bad :: _ => throw new IllegalArgumentException(s"unknown argument $bad")
  }

  /** A measured value with all its digits (JSON has no NaN). */
  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(Workloads.names.contains(args.workload),
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    require(args.work.nonEmpty, "--work DIR required")
    val work = new File(args.work).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.IndexStore.root = s"$work/index"
    val trace = if (args.trace) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try {
      val r = Workloads.run(spark, args, work, trace, jvmStart)
      val loadEnd = os.getSystemLoadAverage
      val heapMb = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
      println(String.format(Locale.ROOT,
        "[perfbench] workload=%s seed=%d nproc=%d heap_mb=%.0f load_avg_start=%.2f " +
          "load_avg_end=%.2f session_s=%.3f ops=%d failed=%d wrong=%d timeout=%d unchecked=%d",
        args.workload, Long.box(args.seed), Int.box(cores), Double.box(heapMb),
        Double.box(loadStart), Double.box(loadEnd), Double.box(sessionS),
        Int.box(r.attempted), Int.box(r.failed), Int.box(r.wrong), Int.box(r.timeout),
        Int.box(r.unchecked)))
      r.notes.foreach(n => println(s"[perfbench] $n"))
      val metrics = r.metrics.map { case (k, (v, u)) =>
        s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
      println(s"""{"correct":${r.wrong == 0},"attempted":${r.attempted},"failed":${r.failed + r.wrong + r.timeout},"metrics":$metrics}""")
    } finally spark.stop()
  }
}

/** What a workload run reports. */
final case class Result(attempted: Int, failed: Int, wrong: Int, timeout: Int,
    unchecked: Int, metrics: Seq[(String, (Double, String))], notes: Seq[String])
