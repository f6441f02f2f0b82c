package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter, Writer}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded generator of the four gzip Discogs dumps the `load` workload
  * feeds to `DiscogsLoad.run`, plus the ground truth the load is
  * checked against.
  *
  * Record shapes follow the fixture dumps under `src/test/resources`
  * (attributes, nested arrays, fan-out children, XML entities). Entity
  * counts follow the reference dump ratio releases : artists : labels :
  * masters = 1 : 0.53 : 0.12 : 0.12. A share [[DupShare]] of the ids
  * of every entity appears a second time, later in the same file and
  * with different content (title/name and child count), so the
  * first-wins dedup keeps exactly the first copy and does real work.
  */
object Dumps {

  val DupShare = 0.03

  /** What the load must produce: rows per table, and the surviving
    * title/name of every planted duplicate id per entity table. */
  final case class Truth(rows: Map[String, Long],
      survivors: Map[String, Map[Int, String]], records: Long,
      xmlBytes: Long, files: Seq[String])

  private val genres = Array("Electronic", "Rock", "Jazz", "Hip Hop",
    "Folk, World, &amp; Country")
  private val styles = Array("Deep House", "Techno", "Ambient",
    "Experimental", "Tech House", "Minimal")
  private val countries = Array("US", "UK", "DE", "FR", "SE", "JP", "NL")
  private val quality = Array("Correct", "Needs Vote", "Complete and Correct")
  private val roles = Array("", "Producer", "Written-By", "Remix")

  /** Counts bytes on their way to the gzip stream: the uncompressed
    * XML size is the denominator of `stored_bytes_per_input_byte`. */
  private final class Counting(w: Writer) extends Writer {
    var n = 0L
    def write(c: Array[Char], off: Int, len: Int): Unit = {
      w.write(c, off, len); n += len
    }
    override def write(s: String): Unit = { w.write(s); n += s.length }
    def flush(): Unit = w.flush()
    def close(): Unit = w.close()
  }

  /** Document order of one entity file: every id once, in ascending
    * order, plus a second copy of a seeded [[DupShare]] of them at a
    * seeded later position. (id, copy) with copy 1 = first, 2 = later. */
  private def order(n: Int, rnd: SplittableRandom): Array[(Int, Int)] = {
    val later = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = 0
    while (i < n) {
      if (rnd.nextDouble() < DupShare) later += ((i + 1 + rnd.nextInt(n - i), i + 1))
      i += 1
    }
    val byPos = later.groupBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    i = 1
    while (i <= n) {
      out += ((i, 1))
      byPos.get(i).foreach(_.foreach { case (_, id) => out += ((id, 2)) })
      i += 1
    }
    out.toArray
  }

  private def open(path: String): Counting = new Counting(
    new OutputStreamWriter(new GZIPOutputStream(
      new BufferedOutputStream(new FileOutputStream(path), 1 << 16)), "UTF-8"))

  /** Writes the four dumps under `dir` for `releases` release records
    * and returns the load's ground truth. Same seed, same bytes. */
  def write(dir: String, seed: Long, releases: Int): Truth = {
    new File(dir).mkdirs()
    val nArtists = math.round(releases * 0.53).toInt
    val nLabels = math.round(releases * 0.12).toInt
    val nMasters = math.round(releases * 0.12).toInt
    val rows = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val survivors = scala.collection.mutable.Map[String, Map[Int, String]]()
    var records = 0L
    var bytes = 0L

    def entity(file: String, root: String, n: Int, salt: Long)(
        rec: (Writer, SplittableRandom, Int, Int) => String): Unit = {
      val rnd = new SplittableRandom(seed * 1000003L + salt)
      val w = open(s"$dir/$file")
      val planted = scala.collection.mutable.Map[Int, String]()
      val first = new Array[String](n + 1)
      try {
        w.write(s"""<?xml version="1.0" encoding="UTF-8"?>\n<$root>\n""")
        order(n, rnd).foreach { case (id, copy) =>
          val key = rec(w, rnd, id, copy)
          records += 1
          if (copy == 1) first(id) = key else planted(id) = first(id)
        }
        w.write(s"</$root>\n")
      } finally w.close()
      bytes += w.n
      survivors(root) = planted.toMap
    }

    entity("releases.xml.gz", "releases", releases, 1L) { (w, rnd, id, copy) =>
      val title = s"Synthetic Release & Co. #$id v$copy"
      val nLab = 1 + rnd.nextInt(2) + (copy - 1)
      val nVid = if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(2) else 0
      if (copy == 1) {
        rows("release") += 1; rows("release_label") += nLab
        rows("release_video") += nVid
      }
      w.write(s"""   <release id="$id" status="Accepted">\n""")
      w.write(s"      <title>${title.replace("&", "&amp;")}</title>\n")
      w.write("      <labels>")
      for (k <- 0 until nLab) {
        val lid = 1 + rnd.nextInt(math.max(nLabels, 1))
        w.write(s"""<label name="Label $lid" catno="CAT$id-$k" id="$lid"/>""")
      }
      w.write("</labels>\n")
      w.write(s"      <country>${countries(rnd.nextInt(countries.length))}</country>\n")
      w.write(s"      <released>${1960 + rnd.nextInt(60)}-${1 + rnd.nextInt(12)}</released>\n")
      if (rnd.nextInt(3) == 0)
        w.write(s"      <notes>Recorded &#xD; at studio ${rnd.nextInt(1000)}.</notes>\n")
      w.write(s"      <genres><genre>${genres(rnd.nextInt(genres.length))}</genre></genres>\n")
      w.write("      <styles>")
      for (_ <- 0 to rnd.nextInt(3))
        w.write(s"<style>${styles(rnd.nextInt(styles.length))}</style>")
      w.write("</styles>\n")
      w.write(s"""      <master_id is_main_release="true">${1 + rnd.nextInt(math.max(nMasters, 1))}</master_id>\n""")
      w.write(s"      <data_quality>${quality(rnd.nextInt(quality.length))}</data_quality>\n")
      if (nVid > 0) {
        w.write("      <videos>")
        for (k <- 0 until nVid)
          w.write(s"""<video src="https://example.invalid/v$id-$k" duration="${30 + rnd.nextInt(600)}" embed="true"><title>Video $id-$k</title><description/></video>""")
        w.write("</videos>\n")
      }
      w.write("   </release>\n")
      title
    }

    entity("artists.xml.gz", "artists", nArtists, 2L) { (w, rnd, id, copy) =>
      val name = s"Artist $id & Friends v$copy"
      if (copy == 1) rows("artist") += 1
      w.write("   <artist>\n")
      w.write(s"      <id>$id</id>\n")
      w.write(s"      <name>${name.replace("&", "&amp;")}</name>\n")
      w.write(s"      <realname>Real Name ${rnd.nextInt(100000)}</realname>\n")
      if (rnd.nextBoolean()) w.write("      <profile />\n")
      else w.write(s"      <profile>Profile text ${rnd.nextInt(1000)}&#xD;\nsecond line</profile>\n")
      w.write(s"      <data_quality>${quality(rnd.nextInt(quality.length))}</data_quality>\n")
      val nUrl = rnd.nextInt(3)
      if (nUrl > 0) {
        w.write("      <urls>")
        for (k <- 0 until nUrl) w.write(s"<url>https://example.invalid/a$id/$k</url>")
        w.write("</urls>\n")
      }
      val nVar = rnd.nextInt(3)
      if (nVar > 0) {
        w.write("      <namevariations>")
        for (k <- 0 until nVar) w.write(s"<name>Artist $id var $k</name>")
        w.write("</namevariations>\n")
      }
      val nAl = rnd.nextInt(3)
      if (nAl > 0) {
        w.write("      <aliases>")
        for (_ <- 0 until nAl) {
          val a = 1 + rnd.nextInt(nArtists)
          w.write(s"""<name id="$a">Artist $a</name>""")
        }
        w.write("</aliases>\n")
      }
      if (rnd.nextInt(5) == 0) {
        val m = 1 + rnd.nextInt(nArtists)
        w.write(s"""      <members><id>$m</id><name id="$m">Artist $m</name></members>\n""")
      }
      w.write("   </artist>\n")
      name
    }

    entity("labels.xml.gz", "labels", nLabels, 3L) { (w, rnd, id, copy) =>
      val name = s"Label $id v$copy"
      if (copy == 1) rows("label") += 1
      w.write("   <label>\n")
      w.write(s"      <id>$id</id>\n")
      w.write(s"      <name>$name</name>\n")
      w.write(s"      <contactinfo>P.O. Box ${rnd.nextInt(99999)}&#xD;\nCity ${rnd.nextInt(100)}</contactinfo>\n")
      w.write(s"      <profile>Label profile ${rnd.nextInt(1000)}</profile>\n")
      w.write(s"      <data_quality>${quality(rnd.nextInt(quality.length))}</data_quality>\n")
      if (rnd.nextInt(3) == 0) {
        val p = 1 + rnd.nextInt(nLabels)
        w.write(s"""      <parentLabel id="$p">Label $p</parentLabel>\n""")
      }
      val nSub = rnd.nextInt(3)
      if (nSub > 0) {
        w.write("      <sublabels>")
        for (_ <- 0 until nSub) {
          val s = 1 + rnd.nextInt(nLabels)
          w.write(s"""<label id="$s">Label $s</label>""")
        }
        w.write("</sublabels>\n")
      }
      w.write(s"      <urls><url>https://example.invalid/l$id</url></urls>\n")
      w.write("   </label>\n")
      name
    }

    entity("masters.xml.gz", "masters", nMasters, 4L) { (w, rnd, id, copy) =>
      val title = s"Master Title $id v$copy"
      val nArt = 1 + rnd.nextInt(2) + (copy - 1)
      if (copy == 1) { rows("master") += 1; rows("master_artist") += nArt }
      w.write(s"""   <master id="$id">\n""")
      w.write(s"      <main_release>${1 + rnd.nextInt(releases)}</main_release>\n")
      w.write("      <artists>\n")
      for (_ <- 0 until nArt) {
        val a = 1 + rnd.nextInt(math.max(nArtists, 1))
        w.write(s"         <artist><id>$a</id><name>Artist $a</name><anv /><join /><role>${roles(rnd.nextInt(roles.length))}</role><tracks /></artist>\n")
      }
      w.write("      </artists>\n")
      w.write(s"      <genres><genre>${genres(rnd.nextInt(genres.length))}</genre></genres>\n")
      w.write(s"      <styles><style>${styles(rnd.nextInt(styles.length))}</style></styles>\n")
      w.write(s"      <year>${1960 + rnd.nextInt(60)}</year>\n")
      w.write(s"      <title>$title</title>\n")
      w.write(s"      <data_quality>${quality(rnd.nextInt(quality.length))}</data_quality>\n")
      w.write("   </master>\n")
      title
    }

    Truth(rows.toMap, survivors.toMap, records, bytes,
      Seq("releases", "artists", "labels", "masters").map(e => s"$dir/$e.xml.gz"))
  }

  /** The table and the column holding the first-wins witness of each
    * entity: the survivor of a duplicated id must carry copy 1's value. */
  val witness: Map[String, (String, String)] = Map(
    "releases" -> (("release", "title")),
    "artists" -> (("artist", "name")),
    "labels" -> (("label", "name")),
    "masters" -> (("master", "title")))
}
