package graft

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream

/** XML-ingest throughput measurement, comparable to the reference's
  * only published number (~16,600 releases/s single-threaded, parse
  * plus binary COPY of the release tables, BASELINE.md): generate a
  * synthetic releases dump shaped like the fixture corpus, load it
  * through [[DiscogsLoad.run]] (parse, dedup, the three release
  * tables landed as parquet), report records/s.
  *
  * Each run writes its dump and its output under a directory of its
  * own in the JVM's temp dir, and removes it when it ends.
  */
object IngestBench {

  val defaultRecords = 100000

  /** `body` on a scratch directory created for it and removed, with
    * everything in it, when it returns or throws. */
  private def withScratch[A](body: File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-bench").toFile
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** Writes a deterministic synthetic releases dump (fixture-shaped:
    * attributes, nested arrays, fan-out children, XML entities), ids 1
    * to `n`, into `dir`; returns its path. */
  private def writeDump(dir: File, n: Int): String = {
    val path = new File(dir, s"releases-$n.xml.gz").getPath
    val out = new OutputStreamWriter(new GZIPOutputStream(
      new BufferedOutputStream(new FileOutputStream(path), 1 << 16)), "UTF-8")
    try {
      val genres = Array("Electronic", "Rock", "Jazz", "Hip Hop", "Folk, World, &amp; Country")
      val styles = Array("Deep House", "Techno", "Ambient", "Experimental", "Tech House")
      val countries = Array("US", "UK", "DE", "FR", "SE", "JP", "NL")
      out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<releases>\n")
      var i = 0
      while (i < n) {
        val id = i + 1
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
    } finally out.close()
    path
  }

  /** Load an `n`-record dump through [[DiscogsLoad.run]]; returns
    * (records, seconds, records/s). Every id of the dump is unique, so
    * records = `n`. */
  def run(spark: org.apache.spark.sql.SparkSession,
      n: Int = defaultRecords): (Long, Double, Double) = withScratch { dir =>
    val path = writeDump(dir, n)
    val t0 = System.nanoTime()
    DiscogsLoad.run(DiscogsLoad.Opts(files = Seq(path), out = new File(dir, "out").getPath), spark)
    val sec = (System.nanoTime() - t0) / 1e9
    (n.toLong, sec, n / sec)
  }
}
