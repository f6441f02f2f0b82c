package graft

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream

/** XML-ingest throughput measurement, comparable to the reference's
  * only published number (~16,600 releases/s single-threaded,
  * BASELINE.md): generate a synthetic releases dump shaped like the
  * fixture corpus, parse it through the production
  * [[graft.sources.DiscogsXml.readGroup]] path, report records/s.
  *
  * The dump is written once to /tmp and reused across runs. gzip is
  * non-splittable, so like the reference this measures ONE parse
  * stream; cluster throughput scales with files × entities.
  */
object IngestBench {

  val defaultRecords = 100000

  /** The release table of a releases dump group. The entity is named
    * by the caller, so no root-element peek runs inside a timed region. */
  private def release(g: sources.DiscogsXml.DumpGroup) = g.tables.toMap.apply("release")

  def dumpPath(n: Int, idOffset: Int = 0): String =
    if (idOffset == 0) s"/tmp/graft_ingest_bench_$n.xml.gz"
    else s"/tmp/graft_ingest_bench_${n}_o$idOffset.xml.gz"

  /** Deterministic synthetic releases dump (fixture-shaped: attributes,
    * nested arrays, fan-out children, XML entities). `idOffset` shifts
    * the id range so multi-file benchmarks have disjoint keys. */
  def ensureDump(n: Int = defaultRecords, idOffset: Int = 0): String = {
    val path = dumpPath(n, idOffset)
    if (new java.io.File(path).exists()) return path
    // write-then-rename: an interrupted write must not leave a
    // truncated (but gzip-valid) dump that later runs silently reuse
    val tmp = path + ".tmp"
    val out = new OutputStreamWriter(new GZIPOutputStream(
      new BufferedOutputStream(new FileOutputStream(tmp), 1 << 16)), "UTF-8")
    try {
      val genres = Array("Electronic", "Rock", "Jazz", "Hip Hop", "Folk, World, &amp; Country")
      val styles = Array("Deep House", "Techno", "Ambient", "Experimental", "Tech House")
      val countries = Array("US", "UK", "DE", "FR", "SE", "JP", "NL")
      out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<releases>\n")
      var i = 0
      while (i < n) {
        val id = idOffset + i + 1
        out.write(s"""   <release id="$id" status="Accepted">\n""")
        out.write(s"      <title>Synthetic Release &amp; Co. #$id</title>\n")
        out.write(s"""      <labels><label name="Label ${id % 997}" catno="CAT$id" id="${id % 997}"/></labels>\n""")
        out.write(s"      <country>${countries(id % countries.length)}</country>\n")
        out.write(s"      <released>${1960 + id % 60}-${1 + id % 12}</released>\n")
        if (id % 3 == 0)
          out.write(s"      <notes>Recorded &#xD; at studio $id.</notes>\n")
        out.write(s"      <genres><genre>${genres(id % genres.length)}</genre></genres>\n")
        out.write("      <styles>")
        out.write(s"<style>${styles(id % styles.length)}</style>")
        if (id % 2 == 0) out.write(s"<style>${styles((id + 1) % styles.length)}</style>")
        out.write("</styles>\n")
        out.write(s"""      <master_id is_main_release="true">${id % 50000}</master_id>\n""")
        out.write("      <data_quality>Correct</data_quality>\n")
        if (id % 4 == 0)
          out.write(s"""      <videos><video src="https://example.invalid/v$id" duration="${60 + id % 600}" embed="true"><title>Video $id</title><description/></video></videos>\n""")
        out.write("   </release>\n")
        i += 1
      }
      out.write("</releases>\n")
      out.close()
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally {
      try out.close() catch { case _: Throwable => () }
      new java.io.File(tmp).delete(): Unit
    }
    path
  }

  /** Parse the dump through the production path; returns
    * (records, seconds, records/s). */
  def run(spark: org.apache.spark.sql.SparkSession,
      n: Int = defaultRecords): (Long, Double, Double) = {
    val path = ensureDump(n)
    val t0 = System.nanoTime()
    val rows = release(sources.DiscogsXml.readGroup(spark, "releases", Seq(path))).count()
    val sec = (System.nanoTime() - t0) / 1e9
    (rows, sec, rows / sec)
  }

  /** Splittable re-stage throughput: one-time gz → parquet re-stage
    * (timed as `stageSec`), then the SAME normalize+dedup pipeline
    * over the staged parquet (timed as `scanSec`). The scan rate ÷
    * the gz single-stream rate is the per-pass speedup every
    * downstream consumer gets once the re-stage cost is paid. */
  def runRestaged(spark: org.apache.spark.sql.SparkSession,
      n: Int = defaultRecords): (Long, Double, Double, Double) = {
    val path = ensureDump(n)
    val outDir = s"/tmp/graft_restage_$n"
    val t0 = System.nanoTime()
    val staged = sources.DiscogsXml.restage(spark, path, outDir)
    val stageSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val rows = release(
      sources.DiscogsXml.readStagedGroup(spark, "releases", Seq(staged))).count()
    val scanSec = (System.nanoTime() - t1) / 1e9
    (rows, stageSec, scanSec, rows / scanSec)
  }

  /** Multi-file parallel parse: gzip is non-splittable, so cluster
    * ingest throughput scales with file count (one task each). Runs
    * the SAME readGroup pipeline as [[run]] (parse + normalize +
    * dedup) over `files` copies in one directory, read as one dump, so
    * the rate ÷ the single-stream rate is a clean file-parallelism
    * speedup. */
  def runParallel(spark: org.apache.spark.sql.SparkSession,
      files: Int = 4, nPerFile: Int = defaultRecords): (Long, Double, Double) = {
    // one dedicated directory, not a glob: DataSource.resolveRelation
    // stats the raw path string for a streaming-sink metadata dir and a
    // glob logs a spurious FileNotFoundException stack trace (benign but
    // it polluted the round-1 bench output past parseability)
    val dir = new java.io.File(s"/tmp/graft_ingest_par_$nPerFile")
    dir.mkdirs()
    // disjoint id ranges per file — identical copies would collapse
    // to one file's rows under the pipeline's first-wins dedup
    (0 until files).foreach { i =>
      val p = new java.io.File(dir, s"f$i.xml.gz")
      if (!p.exists()) {
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(ensureDump(nPerFile, idOffset = i * nPerFile)),
          p.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // small files get bin-packed into one partition by default —
    // force one task per file so this measures file-level parallelism
    // (on a real dump each gz is GBs and gets its own task anyway)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.files.maxPartitionBytes", 1L << 20)
    try {
      val t0 = System.nanoTime()
      val rows = release(sources.DiscogsXml.readGroup(spark, "releases",
        Seq(dir.getAbsolutePath))).count()
      val sec = (System.nanoTime() - t0) / 1e9
      (rows, sec, rows / sec)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}
