package graft

import graft.sources.DiscogsXml
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
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

  private def withTempDir[A](prefix: String)(f: File => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try f(dir) finally FileUtils.deleteDirectory(dir)
  }

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
      // direct parse, then the same dumps restaged first
      Seq(None, Some(new File(dir, "staged").getPath)).foreach { restage =>
        val out = new File(dir, s"out-${restage.isDefined}").getPath
        val printed = runCounted(DiscogsLoad.Opts(files = files, out = out, restageDir = restage))
        tableNames.foreach { t =>
          val got = spark.read.parquet(s"$out/$t")
          val exp = want(t).select(got.columns.map(org.apache.spark.sql.functions.col): _*)
          assert(got.exceptAll(exp).isEmpty, s"$t ($restage): rows loadAll does not have")
          assert(exp.exceptAll(got).isEmpty, s"$t ($restage): loadAll rows missing")
          assert(printed.get(t).contains(got.count()), s"$t ($restage): printed ${printed.get(t)}")
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
      // name), so the releases group fails after `release` landed from
      // its cache; the other groups still finish
      val out = new File(dir, "bad")
      out.mkdirs()
      Files.createSymbolicLink(new File(out, "release_label").toPath,
        new File(dir, "nowhere").toPath)
      val e = intercept[Exception](
        DiscogsLoad.run(DiscogsLoad.Opts(files = fixtures, out = out.getPath), spark))
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e.toString)
      assert(new File(out, "release/_SUCCESS").exists(), "the failure came before the cache was read")
      assert(new File(out, "master_artist/_SUCCESS").exists(), "a healthy group was not joined")
      assert(persisted == before)
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

  /** Scanned files of each file scan across `plans`, counting the plan
    * behind a cached relation once however many queries read it. */
  private def fileScans(plans: Seq[SparkPlan]): Seq[Seq[String]] = {
    val all = plans.flatMap(nodes)
    val cached = all.collect { case m: InMemoryTableScanExec => m.relation.cacheBuilder }
      .distinct.flatMap(b => nodes(b.cachedPlan))
    (all ++ cached).collect { case s: FileSourceScanExec =>
      s.relation.location.inputFiles.toSeq.map(u => new File(new java.net.URI(u)).getPath)
    }
  }

  test("each dump file is scanned once per run and the output is never read back") {
    withTempDir("graft-load-scans") { dir =>
      val files = fixtures :+ secondReleases(dir)
      val out = new File(dir, "out").getPath
      val scans = fileScans(executedPlans(DiscogsLoad.run(DiscogsLoad.Opts(files = files, out = out), spark)))
      files.foreach { f =>
        assert(scans.count(_.contains(f)) == 1, s"$f scanned ${scans.count(_.contains(f))} times")
      }
      assert(!scans.flatten.exists(_.startsWith(out)), "a query of the load read its output back")
    }
  }
}
