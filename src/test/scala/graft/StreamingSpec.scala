package graft

import graft.TestDirs.withIndexRoot
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Structured Streaming parity: the incremental windowed aggregate and
  * stateful sessionization must agree with their batch (oracle-checked)
  * twins q18/q21 when the whole dataset is replayed through the stream.
  */
// @Slow: excluded from the driver fast lane (`sbt test`; see
// build.sbt) — streaming replay e2e (~4 min); run with the full suite: `sbt "testOnly *"`
@org.scalatest.tags.Slow
class StreamingSpec extends AnyFunSuite with SuiteTempDir {

  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def stageDir(): String = {
    val dir = suiteTempDir("graft-stream").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("streaming near-dup screen matches the batch d16 verdicts") {
    import graft.functions.TextHashFunctions.{array_jaccard, minhash_bands, word_shingles}
    val all = Tables.documents(spark, sfDir)
    val corpus = all.filter(col("doc_id") % 17 =!= 0)
    // stage the d16 delivery slice as the arriving stream
    val dir = suiteTempDir("graft-docstream").toString
    all.filter(col("doc_id") % 17 === 0)
      .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
      .select("doc_id", "text", "lang", "source", "arrival")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStreams.neardupScreenStream(
        EventStreams.readDocStream(spark, dir), corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("screen_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("screen_out")
        .select(col("doc_id"), col("corpus_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // every pair exactly once despite multi-band collisions
      assert(streamed.length == streamed.distinct.length)
      // truth: the batch band-join + exact verify on the same data
      def sh(c: org.apache.spark.sql.Column) =
        word_shingles(split(lower(c), "\\s+"), 3)
      val idx = corpus.select(col("doc_id").as("corpus_id"),
          sh(col("text")).as("sh_c"))
        .withColumn("bh", explode(array_distinct(minhash_bands(col("sh_c"), 16, 4))))
      val want = all.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), sh(col("text")).as("sh_d"))
        .withColumn("bh", explode(array_distinct(minhash_bands(col("sh_d"), 16, 4))))
        .join(idx, Seq("bh"))
        .filter(col("doc_id") =!= col("corpus_id"))
        .select(col("doc_id"), col("corpus_id"), col("sh_d"), col("sh_c"))
        .distinct()
        .filter(array_jaccard(col("sh_d"), col("sh_c")) >= 0.5)
        .select(col("doc_id"), col("corpus_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "no near-dup matches in the fixture — vacuous")
      assert(streamed.toSet == want)
      // and the rejected-doc set is exactly batch d16's accepted=false
      val d16Rejected = operators.Dedup.d16_incremental_neardup(spark, sfDir)
        .filter(!col("accepted")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(streamed.map(_._1).toSet == d16Rejected)
    } finally {
      q.stop()
      CacheScope.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("streaming windowed counts == batch q18 aggregate") {
    val dir = stageDir()
    val q = EventStreams.windowedCounts(EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .select(col("hour"), col("event_type"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getAs[Any](0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = operators.Relational.q18_time_window(spark, sfDir)
        .collect().map(r => (r.getAs[Any](0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup keeps one row per (user_id, event_type)") {
    val dir = stageDir()
    val q = EventStreams.dedupStream(EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_out")
        .select(col("user_id"), col("event_type")).collect()
      assert(streamed.length == streamed.distinct.length)
      // same key set as the batch first-wins dedup (q10)
      val batchKeys = operators.Relational.q10_dedup_first_wins(spark, sfDir)
        .select(col("user_id"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed.map(r => (r.getLong(0), r.getString(1))).toSet == batchKeys)
    } finally q.stop()
  }

  test("stream-static enrichment join == batch join, with no streaming state") {
    val dir = stageDir()
    val customers = Tables.customer(spark, sfDir)
    val q = EventStreams.enrichedEvents(
        EventStreams.readEventStream(spark, dir), customers)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
        .select(col("event_id"), col("nation")).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
      val batch = Tables.events(spark, sfDir)
        .join(customers, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("c_nationkey")).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
      assert(batch.nonEmpty && streamed == batch)
      // stateless: a pure stream-static join must report zero state rows
      val progress = q.lastProgress
      assert(progress == null || progress.stateOperators.isEmpty ||
        progress.stateOperators.forall(_.numRowsTotal == 0L))
    } finally q.stop()
  }

  test("stream-stream interval join == static join on the same data") {
    val dir = stageDir()
    // the testdata orders (1995-2001) and events (2024) never overlap
    // in time, so derive an order stream FROM the events: every 50th
    // event becomes an "order" at its timestamp — same-user events in
    // the 24 h before it are guaranteed to exist
    val odir = suiteTempDir("graft-orders").toString
    val pseudoOrders = Tables.events(spark, sfDir)
      .filter(col("event_id") % 50 === 0)
      .select(col("event_id").as("o_orderkey"),
        col("user_id").as("o_custkey"), col("ts").as("o_orderdate"))
    pseudoOrders.coalesce(1).write.mode("overwrite").parquet(odir)
    val q = EventStreams.orderEventIntervalJoin(
        EventStreams.readOrderStream(spark, odir),
        EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("ivj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ivj_out")
        .select(col("o_orderkey"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // static twin: identical predicate over batch reads
      val e = Tables.events(spark, sfDir)
      val want = pseudoOrders.join(e,
          col("o_custkey") === col("user_id") &&
            col("ts") >= col("o_orderdate") - expr("INTERVAL 24 HOURS") &&
            col("ts") < col("o_orderdate"))
        .select(col("o_orderkey"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "static twin matched nothing — vacuous test")
      assert(streamed == want)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join == static left join, state evicted at watermark") {
    import spark.implicits._
    val edir = suiteTempDir("graft-loj-events").toString
    val odir = suiteTempDir("graft-loj-orders").toString
    // orders derived from events (same trick as the inner-join test),
    // but every 3rd order is re-keyed to a user that produces no
    // events (negative custkey) so the left-outer null path has rows
    val events = Tables.events(spark, sfDir)
    val pseudoOrders = events
      .filter(col("event_id") % 50 === 0)
      .select(col("event_id").as("o_orderkey"),
        when(col("event_id") % 150 === 0, -col("user_id") - 1)
          .otherwise(col("user_id")).as("o_custkey"),
        col("ts").as("o_orderdate"))
    // stage with ts as raw nanos (LongType) — the shape eventSchema
    // declares and the flush appends share
    events.select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(edir)
    pseudoOrders.coalesce(1).write.mode("overwrite").parquet(odir)
    val q = EventStreams.orderEventLeftOuterJoin(
        EventStreams.readOrderStream(spark, odir),
        EventStreams.readEventStream(spark, edir))
      .writeStream.outputMode("append")
      .format("memory").queryName("loj_out").start()
    try {
      q.processAllAvailable()
      // outer rows only finalize once BOTH watermarks pass the order's
      // interval: push them with far-future flush rows (match nothing:
      // flush order key is excluded below, flush event user is -1e9)
      // in TWO steps, because watermark advance takes effect the batch
      // after the data that moved it
      val maxUs = events.agg(max(unix_micros(col("ts")))).head.getLong(0)
      def flush(dayOffset: Int): Unit = {
        val fts = maxUs + dayOffset * 86400000000L
        Seq((-1L, fts * 1000L, -1000000000L, "flush", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(edir)
        Seq((-1L, -1000000000L, fts))
          .toDF("o_orderkey", "o_custkey", "ts_us")
          .select(col("o_orderkey"), col("o_custkey"),
            timestamp_micros(col("ts_us")).as("o_orderdate"))
          .coalesce(1).write.mode("append").parquet(odir)
        q.processAllAvailable()
      }
      flush(2); flush(3)
      val streamed = spark.table("loj_out")
        .filter(col("o_orderkey") =!= -1L) // drop the flush order itself
        .select(col("o_orderkey"),
          coalesce(col("event_id"), lit(Long.MinValue)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // static twin: identical predicate, batch left join
      val want = pseudoOrders.join(events,
          col("o_custkey") === col("user_id") &&
            col("ts") >= col("o_orderdate") - expr("INTERVAL 24 HOURS") &&
            col("ts") < col("o_orderdate"),
          "leftOuter")
        .select(col("o_orderkey"),
          coalesce(col("event_id"), lit(Long.MinValue)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nullRows = want.count(_._2 == Long.MinValue)
      assert(nullRows > 0, "no unmatched orders — outer path untested")
      assert(streamed == want)
      // watermark eviction: after the flush batches the join state must
      // hold only the flush rows themselves, not the corpus
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 10,
        s"join state $stateRows rows — watermark did not evict")
    } finally q.stop()
  }

  test("native session_window stream agrees with batch q21b sessions") {
    val dir = stageDir()
    val q = EventStreams.sessionWindowAgg(EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("swin_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("swin_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // batch q21b reports end_us as the LAST EVENT's µs; the native
      // session window's end is last event + gap
      val batch = operators.Relational.q21b_session_window(spark, sfDir)
        .select(col("user_id"), col("start_us"),
          (col("end_us") + 1800L * 1000000L).as("window_end_us"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed.nonEmpty, "no session emitted — watermark never closed one")
      // append mode can only emit true sessions...
      assert(streamed.subsetOf(batch))
      // ...and MUST have emitted every session whose window end lies
      // strictly before the final watermark (max event time − 1 h)
      val maxUs = Tables.events(spark, sfDir)
        .agg(max(unix_micros(col("ts")))).first().getLong(0)
      val mustEmit = batch.filter(_._3 < maxUs - 3600L * 1000000L)
      assert(mustEmit.nonEmpty, "vacuous: no session closed before the watermark")
      assert(mustEmit.subsetOf(streamed))
    } finally q.stop()
  }

  test("streaming funnel state machine agrees with batch q69 stages") {
    import spark.implicits._
    val dir = stageDir()
    val events = EventStreams.readEventStream(spark, dir)
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event]
    val q = EventStreams.funnelStream(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("funnel_out").count()
      // stage is monotone per user: the max emitted stage IS the
      // user's final funnel position
      val streamed = spark.table("funnel_out")
        .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val batch = operators.Relational2.q69_funnel(spark, sfDir)
        .select(col("user_id"), col("stage"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == batch)
      assert(batch.values.exists(_ == 3), "vacuous: no user completed the funnel")
      // replaying the identical events must not advance any state —
      // first-hit times are idempotent under duplicate delivery
      Files.copy(Paths.get(s"$sfDir/events.parquet"),
        Paths.get(s"$dir/events2.parquet"))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() == n1,
        "duplicate replay emitted new funnel updates")
    } finally q.stop()
  }

  test("streaming funnel advances across micro-batches") {
    import spark.implicits._
    val dir = suiteTempDir("graft-funnel").toString
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/$name")
    // all three stages for one user, split across two files so the
    // click/purchase arrive in a LATER micro-batch than the view
    val ns = 1000000000L
    write("f", Seq((1L, 1L * ns, 7L, "view", 0.0, "")))
    val events = spark.readStream.schema(EventStreams.eventSchema)
      .parquet(s"$dir/f")
      .withColumn("ts_ns", col("ts"))
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event]
    val q = EventStreams.funnelStream(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel2_out").start()
    try {
      q.processAllAvailable()
      write("f", Seq((2L, 2L * ns, 7L, "click", 0.0, ""),
        (3L, 3L * ns, 7L, "purchase", 0.0, "")))
      q.processAllAvailable()
      val stages = spark.table("funnel2_out")
        .select(col("stage")).collect().map(_.getInt(0)).sorted.toSeq
      // batch 1 emitted stage 1; batch 2 advanced the SAME state to 3
      assert(stages == Seq(1, 3))
    } finally q.stop()
  }

  test("streaming sessionization emits exactly the closed batch sessions") {
    import spark.implicits._
    val dir = stageDir()
    val events = EventStreams.readEventStream(spark, dir)
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event]
    // AvailableNow: process the backlog then stop — with
    // ProcessingTimeTimeout an unbounded trigger reruns empty batches
    // forever to evaluate future timeouts and never quiesces
    val q = EventStreams.sessionize(events)
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("sess_out").start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("sess_out")
        .select(col("user_id"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      // batch sessions, minus the final (still-open) session per user
      val batch = operators.Relational.q21_sessionize(spark, sfDir)
      val lastPerUser = batch.groupBy(col("user_id"))
        .agg(max(col("session_id")).as("max_sid"))
      val closed = batch.join(lastPerUser, Seq("user_id"))
        .filter(col("session_id") < col("max_sid"))
        .select(col("user_id"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(streamed == closed)
    } finally q.stop()
  }

  test("streaming embedding-drift gate reports exactly batch s12, zero state") {
    val all = Tables.embeddings(spark, sfDir)
    val corpus = all.filter(col("vec_id") % 5 =!= 0)
    val dir = suiteTempDir("graft-driftstream").toString
    all.filter(col("vec_id") % 5 === 0)
      .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"), col("arrival"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = EventStreams.embeddingDriftReports(
        EventStreams.readLabeledEmbStream(spark, dir), corpus) {
        (id, rep) => reports += ((id, rep.collect())); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "drift gate grew streaming state")
      assert(reports.nonEmpty, "no micro-batch report emitted")
      val streamed = reports.flatMap(_._2).map(_.mkString("|")).toSet
      // truth: batch s12 on the same table (its is_new split IS this
      // corpus/delivery split)
      val want = SparkEntry.queries("s12_drift")(spark, sfDir).collect()
        .map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      assert(want.nonEmpty, "batch s12 empty — vacuous")
      assert(streamed == want)
    } finally {
      q.stop()
      CacheScope.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("streaming token-drift gate reports exactly batch t28, zero state") {
    val all = Tables.documents(spark, sfDir)
    val corpus = all.filter(col("doc_id") % 17 =!= 0)
    val dir = suiteTempDir("graft-tokdriftstream").toString
    all.filter(col("doc_id") % 17 === 0)
      .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
      .select("doc_id", "text", "lang", "source", "arrival")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = EventStreams.tokenDriftReports(
        EventStreams.readDocStream(spark, dir), corpus) {
        (id, rep) => reports += ((id, rep.collect())); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "token-drift gate grew streaming state")
      assert(reports.nonEmpty, "no micro-batch report emitted")
      val streamed = reports.flatMap(_._2)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // truth: batch t28 (its doc_id % 17 split IS this split)
      val want = SparkEntry.queries("t28_token_drift")(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      CacheScope.releaseAll()
      assert(want.nonEmpty, "batch t28 empty — vacuous")
      assert(streamed == want)
    } finally {
      q.stop()
      CacheScope.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("streaming IVF ingest matches the batch join+argmin assignment, zero state") {
    import graft.functions.VectorFunctions.milli_l2
    val all = Tables.embeddings(spark, sfDir)
    val corpus = all.filter(col("vec_id") % 13 =!= 0)
    val delivery = all.filter(col("vec_id") % 13 === 0)
    val dir = suiteTempDir("graft-embstream").toString
    delivery
      .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("arrival"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStreams.ivfIngestStream(
        EventStreams.readEmbStream(spark, dir), corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivf_out").start()
    try {
      q.processAllAvailable()
      // the map is stateless: no stateful operator may appear
      assert(q.lastProgress.stateOperators.isEmpty,
        "IVF ingest grew streaming state")
      val streamed = spark.table("ivf_out")
        .select(col("vec_id"), col("cell"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // truth: the INDEPENDENT batch formulation — s19's broadcast
      // fan join + combinable min(struct) argmin over the same
      // trained centroids
      val cents = operators.Similarity.ivfCentroids(corpus)
      val want = delivery.select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long")).as("mv"))
        .join(broadcast(cents), lit(true))
        .select(col("vec_id"),
          struct(milli_l2(col("mv"), col("c_mv")).as("d"),
            col("j").as("cell")).as("dc"))
        .groupBy(col("vec_id")).agg(min(col("dc")).as("mdc"))
        .select(col("vec_id"), col("mdc.cell"), col("mdc.d"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      CacheScope.releaseAll()
      assert(want.nonEmpty, "empty delivery — vacuous")
      assert(want.map(_._2).size > 0 && streamed.map(_._2).toSet.size > 1,
        "all vectors landed in one cell — fixture carries no signal")
      assert(streamed == want)
    } finally {
      q.stop()
      CacheScope.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("streaming ANN serve answers exactly batch s25, zero state") {
    withIndexRoot("graft_index_annserve") {
      val all = Tables.embeddings(spark, sfDir)
      // the query stream: s23/s25's own query set (%97 convention),
      // arriving as a delivery — answers must equal the batch path's
      val dir = suiteTempDir("graft-annserve").toString
      all.filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
        .select(col("vec_id"), col("embedding").cast("array<double>"),
          col("arrival"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val reports = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[org.apache.spark.sql.Row])]
      val q = EventStreams.annServeStream(
          EventStreams.readEmbStream(spark, dir), sfDir, all,
          nCells = operators.Similarity.IvfNCells) {
          (id, rep) => reports += ((id, rep.collect())); ()
        }.start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "ANN serve grew streaming state")
        assert(reports.nonEmpty, "no micro-batch answer emitted")
        val streamed = reports.flatMap(_._2).map(_.mkString("|")).toSet
        val want = SparkEntry.queries("s25_standing_search")(spark, sfDir)
          .collect().map(_.mkString("|")).toSet
        CacheScope.releaseAll()
        assert(want.nonEmpty, "batch s25 empty — vacuous")
        assert(streamed == want)
      } finally {
        q.stop()
        CacheScope.releaseAll()
        spark.catalog.clearCache()
      }
    }
  }

  test("streaming ANN serve picks up a refreshed index mid-stream, " +
      "zero state") {
    withIndexRoot("graft_index_annrefresh") {
      val nc = operators.Similarity.IvfNCells
      val e = Tables.embeddings(spark, sfDir)
      val standing = e.filter(col("vec_id") % 5 =!= 0)
      val drifted = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), transform(col("embedding"),
          x => x.cast("double") + lit(0.5)).as("embedding"))
      val key = s"${sfDir}_annrefresh"
      val dir = sources.IndexStore.cellIndexDir(key)
      // the query batch: standing members of the %97 convention
      val queries = standing
        .filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
        .select(col("vec_id"), col("embedding").cast("array<double>"),
          col("arrival"))
      val qdir = suiteTempDir("graft-annrefresh").toString
      queries.coalesce(1).write.mode("overwrite").parquet(qdir)
      def expectedFromArtifact(): Set[String] = {
        val (cents, asg, entries, graph) =
          sources.IndexStore.loadCellIndex(spark, dir)
        val qm = queries.select(col("vec_id").as("q_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long")).as("q_mv"))
        val got = operators.Similarity
          .cellProbeSearchFor(qm, cents, asg, entries, graph)
          .collect().map(_.mkString("|")).toSet
        CacheScope.releaseAll()
        got
      }
      val reports = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[org.apache.spark.sql.Row])]
      val q = EventStreams.annServeStream(
          EventStreams.readEmbStream(spark, qdir), key, standing,
          nCells = nc) {
          (id, rep) => reports += ((id, rep.collect())); ()
        }.start()
      try {
        q.processAllAvailable()
        val before = reports.flatMap(_._2).map(_.mkString("|")).toSet
        val expectedBefore = expectedFromArtifact()
        assert(before.nonEmpty && before == expectedBefore,
          "pre-refresh batch did not serve the standing artifact")
        reports.clear()
        // swap the artifact MID-STREAM: the drifted delivery trips the
        // audit and the refresh re-trains on standing ∪ delivery
        val (refreshed, _) = operators.Similarity.refreshIfNeeded(
          spark, key, standing, drifted, nCells = nc)
        CacheScope.releaseAll()
        assert(refreshed, "fixture did not trip the refresh — vacuous")
        val expectedAfter = expectedFromArtifact()
        assert(expectedAfter != before,
          "refresh did not change the served answers — fixture carries " +
            "no signal")
        // the SAME queries as a second micro-batch: answers must come
        // from the refreshed index, with no restart and no state
        queries.coalesce(1).write.mode("append").parquet(qdir)
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "ANN serve grew streaming state")
        val after = reports.flatMap(_._2).map(_.mkString("|")).toSet
        assert(after == expectedAfter,
          "post-refresh batch did not serve the refreshed artifact")
      } finally {
        q.stop()
        CacheScope.releaseAll()
        spark.catalog.clearCache()
      }
    }
  }

  test("streaming ANN serve picks up tombstones published mid-stream, " +
      "zero state") {
    import spark.implicits._
    withIndexRoot("graft_index_anntomb") {
      val nc = operators.Similarity.IvfNCells
      val e = Tables.embeddings(spark, sfDir)
      val key = s"${sfDir}_anntomb"
      val queries = e
        .filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
        .select(col("vec_id"), col("embedding").cast("array<double>"),
          col("arrival"))
      val qdir = suiteTempDir("graft-anntomb").toString
      queries.coalesce(1).write.mode("overwrite").parquet(qdir)
      // the delete-set location does NOT exist yet: batch 1 must treat
      // the unreadable dir as "no deletes", not fail
      val tdir = suiteTempDir("graft-anntomb-meta").toString +
        "/deletes"
      val reports = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[org.apache.spark.sql.Row])]
      val q = EventStreams.annServeStream(
          EventStreams.readEmbStream(spark, qdir), key, e,
          nCells = nc, tombstonesDir = tdir) {
          (id, rep) => reports += ((id, rep.collect())); ()
        }.start()
      try {
        q.processAllAvailable()
        val before = reports.flatMap(_._2)
        assert(before.nonEmpty,
          "pre-delete batch served nothing (or the absent delete dir " +
            "failed the batch)")
        // delete a vector the stream just SERVED — the next batch must
        // not return it, and deeper candidates must backfill
        val victim = before.head.getLong(2)
        Seq(victim).toDF("del_id")
          .coalesce(1).write.mode("overwrite").parquet(tdir)
        reports.clear()
        queries.coalesce(1).write.mode("append").parquet(qdir)
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "ANN serve grew streaming state")
        val after = reports.flatMap(_._2)
        assert(after.nonEmpty, "post-delete batch served nothing")
        assert(!after.exists(_.getLong(2) == victim),
          s"deleted id $victim was served after its tombstone published")
        // parity: the post-delete batch equals the batch tombstoned
        // serve over the same artifact and delete set
        val (cents, asg, entries, graph) = sources.IndexStore
          .loadCellIndex(spark, sources.IndexStore.cellIndexDir(key))
        val qm = queries.select(col("vec_id").as("q_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long")).as("q_mv"))
        val want = operators.Similarity.cellProbeSearchFor(
            qm, cents, asg, entries, graph,
            tombstones = Seq(victim).toDF("del_id"))
          .collect().map(_.mkString("|")).toSet
        CacheScope.releaseAll()
        assert(after.map(_.mkString("|")).toSet == want,
          "streamed tombstoned serve diverged from the batch twin")
      } finally {
        q.stop()
        CacheScope.releaseAll()
        spark.catalog.clearCache()
      }
    }
  }

  test("streaming ANN serve honors an attribute fuse filter, " +
      "exactly batch s32, zero state") {
    withIndexRoot("graft_index_annfilter") {
      val e = Tables.embeddings(spark, sfDir)
      // the query stream: s32's own query set (%97 convention)
      val qIds = e.filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .select(col("vec_id").as("q_id"))
      val qdir = suiteTempDir("graft-annfilter").toString
      e.filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
        .select(col("vec_id"), col("embedding").cast("array<double>"),
          col("arrival"))
        .coalesce(1).write.mode("overwrite").parquet(qdir)
      val reports = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[org.apache.spark.sql.Row])]
      val q = EventStreams.annServeStream(
          EventStreams.readEmbStream(spark, qdir), sfDir, e,
          nCells = operators.Similarity.IvfNCells,
          fuseKeep = operators.Retrieval.labelFuseKeep(e, qIds)) {
          (id, rep) => reports += ((id, rep.collect())); ()
        }.start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "filtered ANN serve grew streaming state")
        assert(reports.nonEmpty, "no micro-batch answer emitted")
        val streamed = reports.flatMap(_._2).map(_.mkString("|")).toSet
        val want = SparkEntry.queries("s32_filtered_search")(spark, sfDir)
          .collect().map(_.mkString("|")).toSet
        CacheScope.releaseAll()
        assert(want.nonEmpty, "batch s32 empty -- vacuous")
        assert(streamed == want,
          "streamed filtered serve diverged from batch s32")
      } finally {
        q.stop()
        CacheScope.releaseAll()
        spark.catalog.clearCache()
      }
    }
  }

  test("streaming hybrid serve answers exactly batch s33, zero state") {
    withIndexRoot("graft_index_hybserve") {
      val e = Tables.embeddings(spark, sfDir)
      val docs = Tables.documents(spark, sfDir)
      // the query stream: s33's own query set (%97 convention)
      val qdir = suiteTempDir("graft-hybserve").toString
      e.filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .withColumn("arrival", to_timestamp(lit("2026-01-01 00:00:00")))
        .select(col("vec_id"), col("embedding").cast("array<double>"),
          col("arrival"))
        .coalesce(1).write.mode("overwrite").parquet(qdir)
      val reports = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[org.apache.spark.sql.Row])]
      val q = EventStreams.hybridServeStream(
          EventStreams.readEmbStream(spark, qdir), sfDir, e, docs,
          nCells = operators.Similarity.IvfNCells) {
          (id, rep) => reports += ((id, rep.collect())); ()
        }.start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "hybrid serve grew streaming state")
        assert(reports.nonEmpty, "no micro-batch answer emitted")
        val streamed = reports.flatMap(_._2).map(_.mkString("|")).toSet
        val want = SparkEntry.queries("s33_hybrid_rrf")(spark, sfDir)
          .collect().map(_.mkString("|")).toSet
        CacheScope.releaseAll()
        assert(want.nonEmpty, "batch s33 empty -- vacuous")
        assert(streamed == want,
          "streamed hybrid serve diverged from batch s33")
      } finally {
        q.stop()
        CacheScope.releaseAll()
        spark.catalog.clearCache()
      }
    }
  }
}
