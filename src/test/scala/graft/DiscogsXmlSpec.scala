package graft

import graft.sources.DiscogsXml
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Parity tests on the reference's truncated real dump fixtures
  * (FIXTURES.md §3 golden expectations — declared semantics, with the
  * reference's Q2/Q3/Q5/Q6/Q9 bugs fixed). */
class DiscogsXmlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  def res(name: String): String = getClass.getResource(s"/$name").getPath

  private def withTempDir[A](prefix: String)(f: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("detectEntity dispatches on root element, plain and gz") {
    assert(DiscogsXml.detectEntity(res("releases.xml")) == "releases")
    assert(DiscogsXml.detectEntity(res("artists.xml.gz")) == "artists")
    assert(DiscogsXml.detectEntity(res("labels.xml")) == "labels")
    assert(DiscogsXml.detectEntity(res("masters.xml.gz")) == "masters")
  }

  test("releases: 3 rows with declared-schema fields") {
    val t = DiscogsXml.readReleases(spark, res("releases.xml.gz"))
    val rel = t.release.collect().map(r => r.getInt(0) -> r).toMap
    assert(rel.keySet == Set(8, 9, 10))
    val r8 = rel(8)
    assert(r8.getString(2) == "Spreading Outward EP")
    assert(r8.getString(3) == "US")
    assert(r8.getString(4) == "2000")
    assert(r8.getSeq[String](6) == Seq("Electronic"))
    assert(r8.getSeq[String](7) == Seq("Deep House"))
    assert(r8.getInt(8) == 48282)
    assert(r8.getString(1) == "Accepted")
    assert(r8.getString(9) == "Needs Vote")
  }

  test("release_label: all 4 fan-out rows (reference Q5 would drop 2)") {
    val t = DiscogsXml.readReleases(spark, res("releases.xml.gz"))
    val rl = t.releaseLabel.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(rl.length == 4)
    assert(rl.contains((8, "Deep4Life", "D4L12004", 9)))
    assert(rl.count(_._1 == 10) == 2) // two labels incl catno variants
  }

  test("release_video: 26 rows, titles populated (reference Q6 writes '')") {
    val t = DiscogsXml.readReleases(spark, res("releases.xml.gz"))
    val rv = t.releaseVideo.collect()
    assert(rv.length == 26)
    val r8 = rv.filter(_.getInt(0) == 8).map(v => (v.getInt(1), v.getString(3)))
    assert(r8.map(_._1).sorted.toSeq == Seq(395, 440, 450))
    assert(r8.forall(_._2.nonEmpty))
  }

  test("artists: 4 rows; aliases/name_variations correct (vs Q2/Q3)") {
    val a = DiscogsXml.readArtists(spark, res("artists.xml.gz"))
    val m = a.collect().map(r => r.getInt(0) -> r).toMap
    assert(m.keySet == Set(1, 2, 3, 4))
    val a1 = m(1)
    assert(a1.getString(1) == "The Persuader")
    assert(a1.getString(2) == "Jesper Dahlbäck")
    assert(a1.getSeq[String](5) == Seq("Persuader", "The Presuader"))
    assert(a1.getSeq[String](6).length == 1)
    assert(a1.getSeq[String](7).length == 7) // aliases — reference loses these
    val a2 = m(2)
    assert(a2.getSeq[String](8) == Seq("Alexi Delano", "Cari Lekebusch"))
  }

  test("labels: 4 rows; entity unescape + multiline text") {
    val l = DiscogsXml.readLabels(spark, res("labels.xml.gz"))
    val m = l.collect().map(r => r.getInt(0) -> r).toMap
    assert(m.keySet == Set(1, 2, 3, 4))
    assert(m(1).getString(1) == "Planet E")
    assert(m(1).getSeq[String](6).length == 13)
    assert(m(1).getString(7) == "Correct")
    assert(m(1).getString(2).contains("Planet E Communications"))
  }

  test("masters: 3 rows with year/genres/styles (reference Q9 zeroes them)") {
    val t = DiscogsXml.readMasters(spark, res("masters.xml.gz"))
    val m = t.master.collect().map(r => r.getInt(0) -> r).toMap
    assert(m.keySet == Set(113, 114, 115))
    val m113 = m(113)
    assert(m113.getString(1) == "Moments In Time")
    assert(m113.getInt(2) == 116925)
    assert(m113.getInt(3) == 2002)
    assert(m113.getSeq[String](5) == Seq("Electronic"))
    assert(m113.getSeq[String](6) == Seq("Techno", "Tech House"))
  }

  test("master_artist: one row per <artist> incl. (3225, 113)") {
    val t = DiscogsXml.readMasters(spark, res("masters.xml.gz"))
    val ma = t.masterArtist.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(ma.length == 3)
    assert(ma.contains((3225, 113, "Vince Watson", "", "")))
  }

  test("gz and plain inputs produce identical DataFrames") {
    val gz = DiscogsXml.readArtists(spark, res("artists.xml.gz")).collect().toSet
    val plain = DiscogsXml.readArtists(spark, res("artists.xml")).collect().toSet
    assert(gz == plain)
  }

  test("dedup idempotence: loading the same file twice yields same ids") {
    val once = DiscogsXml.readLabels(spark, res("labels.xml"))
    val twiceDf = DiscogsXml.loadAll(spark,
      Seq(res("labels.xml"), res("labels.xml.gz")))("label")
    // union of two identical monthly dumps, then first-wins per id
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(monotonically_increasing_id())
    val deduped = twiceDf.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    assert(deduped.count() == once.count())
  }

  test("children of dropped duplicate parents are dropped (first-wins)") {
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<releases>
        |  <release id="1" status="Accepted">
        |    <title>First</title>
        |    <labels><label name="KeepMe" catno="A1" id="10"/></labels>
        |  </release>
        |  <release id="1" status="Accepted">
        |    <title>Duplicate</title>
        |    <labels><label name="DropMe" catno="B1" id="20"/></labels>
        |    <videos><video src="http://x" duration="5" embed="true"><title>v</title></video></videos>
        |  </release>
        |</releases>
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("dup-releases", ".xml")
    java.nio.file.Files.writeString(f, xml)
    val t = DiscogsXml.readReleases(spark, f.toString)
    assert(t.release.count() == 1)
    assert(t.release.first().getString(2) == "First")
    val labels = t.releaseLabel.collect().map(_.getString(1))
    assert(labels.toSeq == Seq("KeepMe")) // duplicate parent's child dropped
    assert(t.releaseVideo.count() == 0) // video belonged to the dropped copy
  }

  test("malformed records become counted rejects, not silent null rows") {
    // one unparseable id (Integer schema), one record with no id at
    // all, two clean records — reference behavior is skip-don't-crash
    // (release.rs:181); ours is skip-and-count
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<releases>
        |  <release id="1" status="Accepted"><title>Good A</title></release>
        |  <release id="oops" status="Accepted"><title>Bad id</title></release>
        |  <release status="Accepted"><title>No id</title></release>
        |  <release id="2" status="Accepted"><title>Good B</title></release>
        |</releases>
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("corrupt-releases", ".xml")
    java.nio.file.Files.writeString(f, xml)
    val t = DiscogsXml.readReleases(spark, f.toString)
    assert(t.release.count() == 2)
    assert(t.release.collect().map(_.getInt(0)).toSet == Set(1, 2))
    // no null-id row survived into the table
    assert(t.release.filter("id IS NULL").count() == 0)
    val rej = DiscogsXml.rejects(spark, f.toString)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    // both rejects are inspectable: reason + the raw id that failed
    assert(rej == Set(("null_id", Some("oops")), ("null_id", None)))
  }

  test("element-id entities get the same reject triage as attribute ids") {
    // artists carry id as an ELEMENT; the read schema declares it
    // STRING so a bad value reaches rejects() as raw text instead of
    // being silently nulled by lenient element conversion
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<artists>
        |  <artist><id>1</id><name>Good</name></artist>
        |  <artist><id>xyz</id><name>Bad id</name></artist>
        |</artists>
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("corrupt-artists", ".xml")
    java.nio.file.Files.writeString(f, xml)
    val a = DiscogsXml.readArtists(spark, f.toString)
    assert(a.collect().map(_.getInt(0)).toSeq == Seq(1))
    val rej = DiscogsXml.rejects(spark, f.toString)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rej == Set(("null_id", Some("xyz"))))
  }

  test("multi-file first-wins follows file order, not partition size") {
    // same id in two files; b.xml is much larger, so Spark's
    // size-descending bin-packing would schedule it first — the
    // survivor must still come from a.xml (file paths ascending)
    withTempDir("multifile") { dir =>
      def release(id: Int, title: String) =
        s"""  <release id="$id" status="Accepted"><title>$title</title></release>"""
      java.nio.file.Files.writeString(dir.resolve("a.xml"),
        s"""<releases>\n${release(1, "FromA")}\n</releases>\n""")
      val padding = (100 to 160).map(i => release(i, s"Pad $i")).mkString("\n")
      java.nio.file.Files.writeString(dir.resolve("b.xml"),
        s"""<releases>\n${release(1, "FromB")}\n$padding\n</releases>\n""")
      val t = DiscogsXml.readReleases(spark, dir.toString)
      assert(t.release.filter("id = 1").first().getString(2) == "FromA")
      assert(t.release.count() == 62) // 1 survivor + 61 padding
    }
  }

  test("restage preserves rows, schema, and first-wins document order") {
    // duplicate-id fixture: the survivor must still be the FIRST
    // occurrence after the re-stage's repartition scrambles physical
    // order (__ord column carries document order through)
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<releases>
        |  <release id="7" status="Accepted"><title>First</title></release>
        |  <release id="8" status="Accepted"><title>Other</title></release>
        |  <release id="7" status="Accepted"><title>Duplicate</title></release>
        |</releases>
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("restage-releases", ".xml")
    java.nio.file.Files.writeString(f, xml)
    withTempDir("restage-out") { out =>
      val staged = DiscogsXml.restage(spark, f.toString, out.toString, partitions = 3)
      val direct = DiscogsXml.readReleases(spark, f.toString).release
      val viaStage = DiscogsXml.readReleasesStaged(spark, staged).release
      assert(viaStage.schema == direct.schema)
      assert(viaStage.collect().toSet == direct.collect().toSet)
      assert(viaStage.filter("id = 7").first().getString(2) == "First")
      // gz fixture round-trips through restage for the other entities too
      val aStaged = DiscogsXml.restage(spark, res("artists.xml.gz"), out.toString)
      assert(DiscogsXml.readArtistsStaged(spark, aStaged).collect().toSet ==
        DiscogsXml.readArtists(spark, res("artists.xml.gz")).collect().toSet)
    }
  }

  test("loadAllStaged over re-staged dumps matches direct loadAll") {
    withTempDir("staged-all") { out =>
      val staged = Seq(res("releases.xml.gz"), res("artists.xml.gz"),
        res("labels.xml.gz"), res("masters.xml.gz")).zipWithIndex.map {
        case (f, i) => DiscogsXml.restage(spark, f, s"$out/d$i")
      }
      val viaStage = DiscogsXml.loadAllStaged(spark, staged)
      val direct = DiscogsXml.loadAll(spark, Seq(
        res("releases.xml.gz"), res("artists.xml.gz"),
        res("labels.xml.gz"), res("masters.xml.gz")))
      assert(viaStage.keySet == direct.keySet)
      viaStage.keySet.foreach { t =>
        assert(viaStage(t).collect().toSet == direct(t).collect().toSet, s"table $t")
      }
    }
  }

  test("loadAll dispatches all four entities") {
    val all = DiscogsXml.loadAll(spark, Seq(
      res("releases.xml.gz"), res("artists.xml.gz"),
      res("labels.xml.gz"), res("masters.xml.gz")))
    assert(all.keySet == Set("release", "release_label", "release_video",
      "artist", "label", "master", "master_artist"))
    assert(all("release").count() == 3)
    assert(all("artist").count() == 4)
  }

  test("typed Dataset accessors round-trip through case-class encoders") {
    val artists = DiscogsXml.readArtistsTyped(spark, res("artists.xml.gz"))
      .collect().map(a => a.id -> a).toMap
    assert(artists(1).name == "The Persuader")
    assert(artists(1).aliases.length == 7)
    assert(artists(2).members == Seq("Alexi Delano", "Cari Lekebusch"))
    val masters = DiscogsXml.readMastersTyped(spark, res("masters.xml.gz"))
      .filter(_.year > 2000).collect()
    assert(masters.map(_.id).sorted.toSeq == Seq(113, 115))
  }

  test("output schemas match the declared FIXTURES §2 schemas") {
    val t = DiscogsXml.readReleases(spark, res("releases.xml.gz"))
    assert(t.release.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      graft.schemas.Discogs.releaseSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = DiscogsXml.readArtists(spark, res("artists.xml.gz"))
    assert(a.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      graft.schemas.Discogs.artistSchema.fields.map(f => (f.name, f.dataType)).toSeq)
  }
}
