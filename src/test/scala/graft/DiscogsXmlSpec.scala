package graft

import graft.TestDirs.withTempDir
import graft.sources.DiscogsXml
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Parity tests on the reference's truncated real dump fixtures
  * (FIXTURES.md §3 golden expectations — declared semantics, with the
  * reference's Q2/Q3/Q5/Q6/Q9 bugs fixed). */
class DiscogsXmlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  def res(name: String): String = getClass.getResource(s"/$name").getPath

  private val fixtures = Seq("releases.xml.gz", "artists.xml.gz",
    "labels.xml.gz", "masters.xml.gz").map(res)

  /** The tables of one dump file, by name. */
  private def load(path: String): Map[String, DataFrame] =
    DiscogsXml.loadAll(spark, Seq(path))

  /** `xml` written to `name` inside a scratch dir, then `f` on its path. */
  private def withXml[A](name: String, xml: String)(f: String => A): A =
    withTempDir("graft-xml") { dir =>
      val file = new File(dir, name)
      Files.writeString(file.toPath, xml)
      f(file.getPath)
    }

  /** `got` and `want` hold the same rows, duplicates counted. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what:\n  not in the referee: ${extra.mkString("; ")}\n  missing: ${missing.mkString("; ")}")
  }

  /** The parsed rows and all tables of `path` against the referee's. */
  private def assertRefereeAgrees(path: String): Unit = {
    val name = new File(path).getName
    val got = DiscogsXml.parsed(spark, path).drop("_graft_file", "_graft_offset")
    assertSameRows(got, XmlReferee.rows(spark, path), s"$name parsed rows")
    val tables = load(path)
    XmlReferee.tables(spark, path).foreach { case (t, want) =>
      assertSameRows(tables(t), want, s"$name $t")
    }
  }

  test("rows and tables equal the XML data source's: fixture dumps, hard-case dump") {
    withTempDir("graft-referee") { dir =>
      val big = DumpFixtures.bigReleases(dir)
      assert(DiscogsXml.rangeCount(big, new File(big).length,
        spark.sparkContext.defaultParallelism) > 1, "the hard-case dump is read in one range")
      XmlReferee.withParser(spark, legacy = false)((fixtures :+ big).foreach(assertRefereeAgrees))
    }
  }

  test("rows and tables equal the per-record XML data source's on dirty dumps") {
    // Spark's default XML parser turns the rest of a dump into one
    // corrupt row at the first record that is not well-formed; its
    // per-record parser, like this reader, rejects just that record
    withTempDir("graft-referee-dirty") { dir =>
      XmlReferee.withParser(spark, legacy = true)(DumpFixtures.dirtyDumps(dir).foreach(assertRefereeAgrees))
    }
  }

  test("dirty records: broken ones and bad integers are corrupt rejects, bad ids null_id") {
    withTempDir("graft-dirty-rejects") { dir =>
      val releases = DumpFixtures.dirtyDumps(dir).head
      val rej = DiscogsXml.rejects(spark, releases).collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq
      // a mismatched tag keeps no field; a bad integer and an
      // undeclared entity keep what was read before them, the id too
      assert(rej == Seq(("corrupt", None), ("corrupt", Some("4")), ("corrupt", Some("9")),
        ("null_id", None), ("null_id", Some("oops"))))
      val release = load(releases)("release")
      assert(release.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 5, 6, 7, 8, 10))
      val byId = release.collect().map(r => r.getInt(0) -> r).toMap
      assert(byId(1).getString(2) == "Padded title" && byId(1).getString(3) == "US")
      assert(byId(6).getString(2) == "A & B <C> \u00e9" && byId(6).getString(5) == "x < y & z tail")
      assert(byId(7).getString(2) == "middleend")
      assert(byId(8).getString(2) == "second" && byId(8).getInt(8) == 77)
      assert(byId(10).getInt(8) == -5)
      assert(byId(5).getSeq[String](6) == Seq("", "Rock"))
    }
  }

  test("each parsed record carries its file and its byte offset in the document") {
    withTempDir("graft-order-key") { dir =>
      val xml = (Seq("<releases>") ++ (1 to 50).map(i =>
        s"""  <release id="$i" status="Accepted"><title>T\u00e9 $i</title></release>""") ++
        Seq("</releases>")).mkString("\n")
      val plain = new File(dir, "keyed.xml")
      Files.writeString(plain.toPath, xml)
      val bytes = xml.getBytes(UTF_8)
      def offsetOf(i: Int): Long = {
        val needle = s"""<release id="$i" """.getBytes(UTF_8)
        bytes.indices.find(k => bytes.startsWith(needle, k)).get.toLong
      }
      val rows = DiscogsXml.parsed(spark, plain.getPath)
        .select("_id", "_graft_file", "_graft_offset").collect()
      assert(rows.map(r => r.getString(0).toInt -> r.getLong(2)).toMap ==
        (1 to 50).map(i => i -> offsetOf(i)).toMap)
      assert(rows.forall(_.getString(1) == plain.getPath))
      // a gz dump read in several ranges: offsets follow document order
      val big = DumpFixtures.bigReleases(dir)
      val ids = DiscogsXml.parsed(spark, big).orderBy("_graft_offset")
        .select("_id").collect().map(_.getString(0).toInt).toSeq
      assert(ids == (1 to 4000) :+ 7)
    }
  }

  test("each range's task reports the file bytes it read and its records as its input") {
    withTempDir("graft-input-metrics") { dir =>
      val big = DumpFixtures.bigReleases(dir)
      val sc = spark.sparkContext
      val stages = ConcurrentHashMap.newKeySet[Int]()
      val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
      val marker = new CountDownLatch(1)
      // the listener bus is asynchronous: a marker job after the parse
      // is delivered after every task of it
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
            case Some("graft-input-parse") => e.stageIds.foreach(stages.add)
            case Some("graft-input-marker") => marker.countDown()
            case _ => ()
          }
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId)) {
            val m = e.taskMetrics.inputMetrics
            tasks.add(m.bytesRead -> m.recordsRead)
          }
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("graft-input-parse", "parse")
        try DiscogsXml.parsed(spark, big).collect() finally sc.clearJobGroup()
        sc.setJobGroup("graft-input-marker", "marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        assert(marker.await(60, TimeUnit.SECONDS), "listener bus stalled")
      } finally sc.removeSparkListener(listener)
      val got = tasks.asScala.toSeq
      assert(got.size == sc.defaultParallelism, got.mkString(", "))
      // each task reads the file from its start up to its range's end;
      // the last one reads all of it
      assert(got.forall(_._1 > 0) && got.map(_._1).max == new File(big).length, got.mkString(", "))
      assert(got.map(_._2).sum == 4001, got.mkString(", "))
    }
  }

  test("detectEntity dispatches on root element, plain and gz") {
    assert(DiscogsXml.detectEntity(res("releases.xml")) == "releases")
    assert(DiscogsXml.detectEntity(res("artists.xml.gz")) == "artists")
    assert(DiscogsXml.detectEntity(res("labels.xml")) == "labels")
    assert(DiscogsXml.detectEntity(res("masters.xml.gz")) == "masters")
  }

  test("releases: 3 rows with declared-schema fields") {
    val rel = load(res("releases.xml.gz"))("release").collect().map(r => r.getInt(0) -> r).toMap
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
    val rl = load(res("releases.xml.gz"))("release_label").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(rl.length == 4)
    assert(rl.contains((8, "Deep4Life", "D4L12004", 9)))
    assert(rl.count(_._1 == 10) == 2) // two labels incl catno variants
  }

  test("release_video: 26 rows, titles populated (reference Q6 writes '')") {
    val rv = load(res("releases.xml.gz"))("release_video").collect()
    assert(rv.length == 26)
    val r8 = rv.filter(_.getInt(0) == 8).map(v => (v.getInt(1), v.getString(3)))
    assert(r8.map(_._1).sorted.toSeq == Seq(395, 440, 450))
    assert(r8.forall(_._2.nonEmpty))
  }

  test("artists: 4 rows; aliases/name_variations correct (vs Q2/Q3)") {
    val m = load(res("artists.xml.gz"))("artist").collect().map(r => r.getInt(0) -> r).toMap
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
    val m = load(res("labels.xml.gz"))("label").collect().map(r => r.getInt(0) -> r).toMap
    assert(m.keySet == Set(1, 2, 3, 4))
    assert(m(1).getString(1) == "Planet E")
    assert(m(1).getSeq[String](6).length == 13)
    assert(m(1).getString(7) == "Correct")
    assert(m(1).getString(2).contains("Planet E Communications"))
  }

  test("masters: 3 rows with year/genres/styles (reference Q9 zeroes them)") {
    val m = load(res("masters.xml.gz"))("master").collect().map(r => r.getInt(0) -> r).toMap
    assert(m.keySet == Set(113, 114, 115))
    val m113 = m(113)
    assert(m113.getString(1) == "Moments In Time")
    assert(m113.getInt(2) == 116925)
    assert(m113.getInt(3) == 2002)
    assert(m113.getSeq[String](5) == Seq("Electronic"))
    assert(m113.getSeq[String](6) == Seq("Techno", "Tech House"))
  }

  test("master_artist: one row per <artist> incl. (3225, 113)") {
    val ma = load(res("masters.xml.gz"))("master_artist").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(ma.length == 3)
    assert(ma.contains((3225, 113, "Vince Watson", "", "")))
  }

  test("gz and plain inputs produce identical DataFrames") {
    val gz = load(res("artists.xml.gz"))("artist").collect().toSet
    val plain = load(res("artists.xml"))("artist").collect().toSet
    assert(gz == plain)
  }

  test("dedup idempotence: loading the same file twice yields same ids") {
    val once = load(res("labels.xml"))("label")
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
    withXml("dup-releases.xml", xml) { f =>
      val t = load(f)
      assert(t("release").count() == 1)
      assert(t("release").first().getString(2) == "First")
      val labels = t("release_label").collect().map(_.getString(1))
      assert(labels.toSeq == Seq("KeepMe")) // duplicate parent's child dropped
      assert(t("release_video").count() == 0) // video belonged to the dropped copy
    }
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
    withXml("corrupt-releases.xml", xml) { f =>
      val release = load(f)("release")
      assert(release.count() == 2)
      assert(release.collect().map(_.getInt(0)).toSet == Set(1, 2))
      // no null-id row survived into the table
      assert(release.filter("id IS NULL").count() == 0)
      val rej = DiscogsXml.rejects(spark, f)
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      // both rejects are inspectable: reason + the raw id that failed
      assert(rej == Set(("null_id", Some("oops")), ("null_id", None)))
    }
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
    withXml("corrupt-artists.xml", xml) { f =>
      assert(load(f)("artist").collect().map(_.getInt(0)).toSeq == Seq(1))
      val rej = DiscogsXml.rejects(spark, f)
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(rej == Set(("null_id", Some("xyz"))))
    }
  }

  test("loadAll dispatches all four entities") {
    val all = DiscogsXml.loadAll(spark, fixtures)
    assert(all.keySet == Set("release", "release_label", "release_video",
      "artist", "label", "master", "master_artist"))
    assert(all("release").count() == 3)
    assert(all("artist").count() == 4)
  }

  test("output schemas match the declared FIXTURES §2 schemas") {
    import graft.schemas.Discogs._
    val declared = Map("release" -> releaseSchema,
      "release_label" -> releaseLabelSchema, "release_video" -> releaseVideoSchema,
      "artist" -> artistSchema, "label" -> labelSchema,
      "master" -> masterSchema, "master_artist" -> masterArtistSchema)
    val all = DiscogsXml.loadAll(spark, fixtures)
    assert(all.keySet == declared.keySet)
    declared.foreach { case (t, schema) =>
      assert(all(t).schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq, s"table $t")
    }
  }
}
