package graft

import graft.DumpFixtures.bigReleases
import graft.TestDirs.withTempDir
import graft.sources.{DiscogsXml, DumpRange, DumpRangeRDD}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** [[DiscogsLoad.run]] on the fixture dumps: what it lands, how often
  * it parses each dump, and what it leaves behind in the session. */
class DiscogsLoadSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private def res(name: String): String = getClass.getResource(s"/$name").getPath
  private val fixtures = Seq("releases.xml.gz", "artists.xml.gz", "labels.xml.gz",
    "masters.xml.gz").map(res)
  private val tableNames = Seq("release", "release_label", "release_video",
    "artist", "label", "master", "master_artist")

  /** A second releases dump: ids 8 and 9 again with other content (two
    * monthly snapshots keep both copies), and id 500 twice inside the
    * file, where the first copy and only its children must survive. */
  private def secondReleases(dir: File): String = {
    val f = new File(dir, "releases-2.xml")
    Files.writeString(f.toPath,
      """<?xml version="1.0" encoding="UTF-8"?>
        |<releases>
        |  <release id="8" status="Accepted"><title>Eight again</title>
        |    <labels><label name="Relabel" catno="R8" id="77"/></labels></release>
        |  <release id="500" status="Accepted"><title>First 500</title>
        |    <videos><video src="http://v/1" duration="12" embed="true"><title>kept</title></video></videos></release>
        |  <release id="9" status="Draft"><title>Nine again</title></release>
        |  <release id="500" status="Accepted"><title>Second 500</title>
        |    <labels><label name="Dropped" catno="D1" id="5"/></labels></release>
        |</releases>
        |""".stripMargin)
    f.getPath
  }

  /** Runs the load with its stdout captured; returns the printed row
    * count per table. */
  private def runCounted(opts: DiscogsLoad.Opts): Map[String, Long] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(DiscogsLoad.run(opts, spark))
    val line = """\[discogs-load\] (\w+): (\d+) rows -> .*""".r
    buf.toString("UTF-8").linesIterator.collect { case line(t, n) => t -> n.toLong }.toMap
  }

  test("landed tables equal loadAll, first-wins survivors and printed counts included") {
    withTempDir("graft-load-eq") { dir =>
      val files = fixtures :+ secondReleases(dir)
      val want = DiscogsXml.loadAll(spark, files)
      assert(want.keySet == tableNames.toSet)
      val out = new File(dir, "out").getPath
      val printed = runCounted(DiscogsLoad.Opts(files = files, out = out))
      tableNames.foreach { t =>
        val got = spark.read.parquet(s"$out/$t")
        val exp = want(t).select(got.columns.map(org.apache.spark.sql.functions.col): _*)
        assert(got.exceptAll(exp).isEmpty, s"$t: rows loadAll does not have")
        assert(exp.exceptAll(got).isEmpty, s"$t: loadAll rows missing")
        assert(printed.get(t).contains(got.count()), s"$t: printed ${printed.get(t)}")
      }
      val release = spark.read.parquet(s"$out/release")
      assert(release.filter("id = 500").collect().map(_.getAs[String]("title")).toSeq ==
        Seq("First 500"))
      assert(release.filter("id = 8").count() == 2)
      val labels = spark.read.parquet(s"$out/release_label")
      assert(labels.filter("label = 'Dropped'").isEmpty)
      assert(labels.filter("release_id = 8").count() == 2)
    }
  }

  test("a table with no rows lands and is counted as 0") {
    withTempDir("graft-load-empty") { dir =>
      val f = new File(dir, "releases.xml")
      Files.writeString(f.toPath,
        """<releases><release id="1" status="Accepted"><title>Bare</title></release></releases>""")
      val out = new File(dir, "out").getPath
      val printed = runCounted(DiscogsLoad.Opts(files = Seq(f.getPath), out = out))
      assert(printed == Map("release" -> 1L, "release_label" -> 0L, "release_video" -> 0L))
      assert(spark.read.parquet(s"$out/release_video").isEmpty)
    }
  }

  test("run leaves the session's persisted RDDs as it found them, on success and on failure") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    withTempDir("graft-load-cache") { dir =>
      val before = persisted
      DiscogsLoad.run(DiscogsLoad.Opts(files = fixtures, out = new File(dir, "ok").getPath), spark)
      assert(persisted == before)

      // release_label cannot be created (a dangling symlink holds its
      // name), so the releases group fails while its sibling tables
      // land from the cut; the other groups still finish
      val out = badOut(dir)
      val e = intercept[Exception](
        DiscogsLoad.run(DiscogsLoad.Opts(files = fixtures, out = out.getPath), spark))
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e.toString)
      Seq("release", "release_video").foreach { t =>
        assert(new File(out, s"$t/_SUCCESS").exists(), s"sibling $t did not land")
      }
      assert(new File(out, "master_artist/_SUCCESS").exists(), "a healthy group was not joined")
      assert(persisted == before)
    }
  }

  /** An output directory where `release_label` cannot be created: a
    * dangling symlink holds its name. */
  private def badOut(dir: File): File = {
    val out = new File(dir, "bad")
    out.mkdirs()
    Files.createSymbolicLink(new File(out, "release_label").toPath,
      new File(dir, "nowhere").toPath)
    out
  }

  test("a dump above the split line lands what the one-task parse lands, first-wins survivors included") {
    // the one-task parse: the XML data source reads a gz dump in one task
    withTempDir("graft-load-split") { dir =>
      val files = Seq(bigReleases(dir))
      assert(DiscogsXml.rangeCount(files.head, new File(files.head).length,
        spark.sparkContext.defaultParallelism) > 1)
      val want = XmlReferee.tables(spark, files.head)
      val out = new File(dir, "out").getPath
      val printed = runCounted(DiscogsLoad.Opts(files = files, out = out))
      Seq("release", "release_label", "release_video").foreach { t =>
        val got = spark.read.parquet(s"$out/$t")
        val exp = want(t).select(got.columns.map(org.apache.spark.sql.functions.col): _*)
        assert(got.exceptAll(exp).isEmpty, s"$t: rows the one-task parse does not have")
        assert(exp.exceptAll(got).isEmpty, s"$t: one-task parse rows missing")
        assert(printed.get(t).contains(got.count()), s"$t: printed ${printed.get(t)}")
      }
      val release = spark.read.parquet(s"$out/release")
      assert(release.count() == 4000)
      assert(release.filter("id = 7").collect().map(_.getAs[String]("title")).toSeq
        .map(_.startsWith("Release 7 ")) == Seq(true))
      assert(spark.read.parquet(s"$out/release_label").filter("label = 'Late'").isEmpty)
      assert(new File(out).list().toSet == Set("release", "release_label", "release_video"),
        s"left under --out: ${new File(out).list().mkString(", ")}")
    }
  }

  test("first wins across ranges as in one task: a reject claims no id, a repeat goes with its children") {
    withTempDir("graft-load-repeats") { dir =>
      val f = DumpFixtures.repeatedReleases(dir)
      // the ranges each copy of ids 2, 3 and 1600 is read in: 0 and a
      // later one but the next, 0 and a later one, and two adjacent ones
      val ranges = DiscogsXml.parsed(spark, f).select("_id").rdd
        .mapPartitionsWithIndex((i, rows) => rows.map(r => r.getString(0) -> i))
        .filter(r => Set("2", "3", "1600")(r._1)).collect().toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      assert(ranges("2").head == 0 && ranges("2")(1) >= 2, ranges)
      assert(ranges("3").head == 0 && ranges("3")(1) >= 1, ranges)
      assert(ranges("1600")(1) == ranges("1600").head + 1 && ranges("1600").head > 0, ranges)
      val want = XmlReferee.tables(spark, f)
      val tables = Seq("release", "release_label", "release_video")
      val out = new File(dir, "out").getPath
      runCounted(DiscogsLoad.Opts(files = Seq(f), out = out))
      val got = tables.map(t => t -> spark.read.parquet(s"$out/$t")).toMap
      tables.foreach(t => assertSameRows(got(t), want(t), t))
      assert(got("release").filter("id in (2, 3, 1600)").orderBy("id").collect()
        .map(_.getAs[String]("title").split(' ').take(2).mkString(" ")).toSeq ==
        Seq("Good two", "Release 3", "Release 1600"))
      Seq("release_label" -> "label", "release_video" -> "title").foreach { case (t, c) =>
        val byRelease = got(t).filter("release_id in (2, 3, 1600)").collect()
          .map(r => r.getAs[Int]("release_id") -> r.getAs[String](c)).toSet
        assert(byRelease == Set(2 -> "Two", 3 -> "L3", 1600 -> "L1600"), s"$t: $byRelease")
      }
    }
  }

  /** `got` and `want` hold the same rows, duplicates counted. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val w = want.select(got.columns.map(org.apache.spark.sql.functions.col): _*)
    val extra = got.exceptAll(w).collect()
    val missing = w.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what:\n  not in the referee: ${extra.mkString("; ")}\n  missing: ${missing.mkString("; ")}")
  }

  test("a dump's ranges are each scanned once; a failed run leaves only landed tables") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    withTempDir("graft-load-ranges") { dir =>
      val big = bigReleases(dir)
      val out = new File(dir, "out").getPath
      val plans = executedPlans(DiscogsLoad.run(DiscogsLoad.Opts(files = Seq(big), out = out), spark))
      val ranges = rangeScans(plans)
      assert(ranges.map(_.path).distinct == Seq(big))
      assert(ranges.size == sc.defaultParallelism, ranges.mkString("\n"))
      assertScannedOnceAndCovered(ranges)
      // the ranges' survivors land without a shuffle, one file a table
      assert(!plans.flatMap(nodes).exists(_.isInstanceOf[ShuffleExchangeExec]))
      assertOneFileEach(out, Seq("release", "release_label", "release_video"))

      val before = persisted
      val bad = badOut(dir)
      intercept[Exception](DiscogsLoad.run(DiscogsLoad.Opts(files = Seq(big), out = bad.getPath), spark))
      Seq("release", "release_video").foreach { t =>
        assert(new File(bad, s"$t/_SUCCESS").exists(), s"sibling $t did not land")
      }
      // the dangling symlink is the run's input, not its output
      assert(bad.list().toSet == Set("release", "release_video", "release_label"),
        s"left under --out: ${bad.list().mkString(", ")}")
      assert(persisted == before)
    }
  }

  /** Each range in `ranges` is scanned once, and the ranges of each
    * file cover it from byte 0 to its end, with no gap or overlap. */
  private def assertScannedOnceAndCovered(ranges: Seq[DumpRange]): Unit = {
    assert(ranges.size == ranges.distinct.size, s"a range was scanned twice:\n${ranges.mkString("\n")}")
    ranges.groupBy(_.path).foreach { case (f, rs) =>
      val sorted = rs.sortBy(_.lo)
      assert(sorted.head.lo == 0L, s"$f: bytes before ${sorted.head.lo} unread")
      sorted.zip(sorted.tail).foreach { case (a, b) => assert(a.hi == b.lo, s"$f: $a then $b") }
      assert(sorted.last.hi == Long.MaxValue, s"$f: the last range ends at ${sorted.last.hi}")
    }
  }

  /** Every executed plan of the queries `body` runs. The listener bus is
    * asynchronous: a marker query after `body` is delivered after all
    * of them. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains("graft_load_marker")) marker.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("graft_load_marker").collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The plan's nodes, through adaptive wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Scanned files of each file scan across `plans`. */
  private def fileScans(plans: Seq[SparkPlan]): Seq[Seq[String]] =
    plans.flatMap(nodes).collect { case s: FileSourceScanExec =>
      s.relation.location.inputFiles.toSeq.map(u => new File(new java.net.URI(u)).getPath)
    }

  /** The dump ranges the reader's scans across `plans` read, one entry
    * per scan of a range: each scan's RDD is the reader's or is derived
    * from it (the first-wins dedup runs in the scan's tasks). A cut's
    * RDD depends on its stored blocks, not on what it was cut from. */
  private def rangeScans(plans: Seq[SparkPlan]): Seq[DumpRange] = {
    def readers(r: RDD[_]): Seq[DumpRangeRDD] = r match {
      case d: DumpRangeRDD => Seq(d)
      case other => other.dependencies.flatMap(d => readers(d.rdd))
    }
    plans.flatMap(nodes).collect { case s: RDDScanExec => s.rdd }
      .flatMap(readers).flatMap(_.ranges.toSeq)
  }

  /** Asserts that every table of `tables` landed under `out` in one
    * parquet file. */
  private def assertOneFileEach(out: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val parts = new File(out, t).list().filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length == 1, s"$t landed in ${parts.length} files")
    }

  test("each dump's ranges are scanned once and cover it; output is never read back") {
    withTempDir("graft-load-scans") { dir =>
      val files = fixtures :+ secondReleases(dir)
      val out = new File(dir, "out").getPath
      val plans = executedPlans(DiscogsLoad.run(DiscogsLoad.Opts(files = files, out = out), spark))
      val ranges = rangeScans(plans)
      assert(ranges.map(_.path).distinct.sorted == files.sorted, ranges.mkString("\n"))
      assertScannedOnceAndCovered(ranges)
      assert(!fileScans(plans).flatten.exists(_.startsWith(out)), "a query of the load read its output back")
    }
  }

  test("at fixture size the load plans no shuffle and each table lands in one file") {
    withTempDir("graft-load-layout") { dir =>
      val out = new File(dir, "out").getPath
      val plans = executedPlans(DiscogsLoad.run(DiscogsLoad.Opts(files = fixtures, out = out), spark))
      assertOneFileEach(out, tableNames)
      val exchanges = plans.flatMap(nodes).collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty, s"${exchanges.size} shuffles:\n${exchanges.mkString("\n")}")
    }
  }

  test("parseArgs: every flag lands in Opts, files in order; an unknown flag is refused") {
    val o = DiscogsLoad.parseArgs(List("b.xml.gz", "--out", "o", "--batch-size", "7",
      "--db-url", "jdbc:x", "--db-user", "u", "--db-password", "p", "a.xml",
      "--create-indexes", "c.xml"))
    assert(o == DiscogsLoad.Opts(files = Seq("b.xml.gz", "a.xml", "c.xml"), out = "o",
      batchSize = 7, dbUrl = Some("jdbc:x"), dbUser = "u", dbPassword = "p",
      createIndexes = true))
    // --create-indexes takes no value: the word after it is a file
    assert(DiscogsLoad.parseArgs(List("--create-indexes", "a.xml")) ==
      DiscogsLoad.Opts(files = Seq("a.xml"), createIndexes = true))
    Seq(List("--restage", "staged", "a.xml"), List("a.xml", "--bogus")).foreach { args =>
      val e = intercept[IllegalArgumentException](DiscogsLoad.parseArgs(args))
      assert(e.getMessage == s"unknown flag ${args.find(_.startsWith("--")).get}", e.getMessage)
    }
  }

  test("a missing path or a directory is refused by name and nothing lands") {
    withTempDir("graft-load-paths") { dir =>
      val out = new File(dir, "out").getPath
      Seq(new File(dir, "nope.xml.gz").getPath, dir.getPath).foreach { p =>
        val e = intercept[IllegalArgumentException](
          DiscogsLoad.run(DiscogsLoad.Opts(files = fixtures :+ p, out = out), spark))
        assert(e.getMessage.contains(p), e.getMessage)
      }
      assert(!new File(out).exists(), "a table landed")
    }
  }
}
