package graft

import graft.TestDirs.withIndexRoot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property gates for the retrieval-serving operators (s32/s33) — the
  * facets their DuckDB oracles cannot express: recall against the
  * brute-force filtered truth, the query-time knobs as the recall
  * lever for selective filters, and an independent pure-Scala
  * recomputation of the lexical + RRF stages.
  */
class RetrievalSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  // 6 queries / 500 vectors — sf0.001's single query is too noisy for
  // a recall gate
  private val sfDir = "/root/testdata/sf0.01"

  /** Brute-force SAME-LABEL top-5 per query in the serving path's own
    * metric (milli-L2, ties to the smaller id) — the filtered truth. */
  private def filteredTruth(): Map[Long, Set[Long]] = {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("mv"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Long]]("mv").toArray))
    val qs = e.filter(v => v._1 % 97 == 0 &&
      v._1 < operators.Similarity.QueryIdBound)
    qs.map { case (qid, qlbl, qmv) =>
      val top = e
        .filter(c => c._1 != qid && c._2 == qlbl)
        .map { case (cid, _, cmv) =>
          (cmv.zip(qmv).map { case (a, b) =>
            val d = a - b; d * d
          }.sum, cid)
        }
        .sortBy(identity).take(5).map(_._2).toSet
      qid -> top
    }.toMap
  }

  private def recallOf(rows: Array[org.apache.spark.sql.Row],
      truth: Map[Long, Set[Long]]): Double = {
    val got = rows.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
    val hits = truth.toSeq.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t.contains)
    }.sum
    hits.toDouble / truth.values.map(_.size).sum
  }

  test("s32: every served candidate matches its query's label; ranks dense, d2 ranked") {
    val rows = SparkEntry.queries("s32_filtered_search")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val lbl = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id"); val c = r.getAs[Long]("nn_id")
      assert(lbl(c) == lbl(q),
        s"q=$q label ${lbl(q)} served cand=$c label ${lbl(c)}")
      assert(c != q, "self served")
    }
    // backfill discipline: ranks are 1..m per query with no holes, d2
    // non-decreasing — filtered-out beam members freed their ranks
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq ==
        (1 to sorted.length).toSeq, s"q=$q ranks not dense")
      val d2s = sorted.map(_.getAs[Long]("d2")).toSeq
      assert(d2s == d2s.sorted, s"q=$q d2 not ranked")
    }
    CacheScope.releaseAll()
  }

  test("s32: query-time knobs price filtered recall; widened >= default >= floor") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val idx = graft.sources.IndexStore.ensureCellIndex(spark, sfDir, e,
      nCells = 16)
    val truth = filteredTruth()
    val dflt = recallOf(operators.Retrieval
      .filteredSearch(e, idx._1, idx._2, idx._3, idx._4).collect(), truth)
    val wide = recallOf(operators.Retrieval
      .filteredSearch(e, idx._1, idx._2, idx._3, idx._4,
        nProbe = 16, beamWidth = 32).collect(), truth)
    info(s"s32 filtered recall@5: default=$dflt widened=$wide")
    // a 1/10-selective filter thins each fused beam ~10×, so the
    // default-knob path keeps a moderate floor; probing every cell
    // with a 4× beam must recover most of the filtered truth — the
    // measured fixture values are 0.43 / 0.97
    assert(dflt >= 0.4, s"default-knob filtered recall $dflt below 0.4")
    assert(wide >= dflt - 1e-9,
      s"widened knobs lost recall: $wide < $dflt")
    assert(wide >= 0.8, s"widened filtered recall $wide below 0.8")
    CacheScope.releaseAll()
  }

  test("s33: lexical + RRF stages match an independent pure-Scala recompute") {
    val got = SparkEntry.queries("s33_hybrid_rrf")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("hyb_rk"),
        r.getAs[Long]("cand"), r.getAs[Long]("rrf_nano"),
        r.getAs[Long]("ann_rk"), r.getAs[Long]("lex_rk")))
      .sortBy(t => (t._1, t._2)).toSeq

    // dense ranks from the serving path (oracle-proven elsewhere)
    val e = graft.Tables.embeddings(spark, sfDir)
    val idx = graft.sources.IndexStore.ensureCellIndex(spark, sfDir, e,
      nCells = 16)
    val ann = operators.Similarity
      .cellProbeSearchOn(idx._1, idx._2, idx._3, idx._4).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("nn_id")) ->
        r.getAs[Int]("rk").toLong).toMap

    // pure-Scala lexical: shingle sets → df → rare postings →
    // candidates → exact Jaccard micro → top-10
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val gs: Map[Long, Set[String]] = docs.map { case (id, t) =>
      val ts = t.toLowerCase.split("\\s+", -1)
      val w = operators.Retrieval.LexShingle
      id -> (if (ts.length < w) Set.empty[String]
             else ts.sliding(w).map(_.mkString(" ")).toSet)
    }.toMap
    val df = gs.values.flatten.groupBy(identity).map { case (g, o) =>
      g -> o.size
    }
    val rare: Map[Long, Set[String]] =
      gs.map { case (id, s) => id -> s.filter(df(_) <= 8) }
    val qids = docs.map(_._1)
      .filter(id => id % 97 == 0 && id < operators.Similarity.QueryIdBound)
    val lex: Map[(Long, Long), Long] = qids.flatMap { q =>
      val cands = docs.map(_._1).filter(c => c != q &&
        rare(q).exists(rare(c).contains))
      val scored = cands.map { c =>
        val inter = gs(q).count(gs(c).contains).toLong
        val union = gs(q).size + gs(c).size - inter
        (inter * 1000000L / union, c)
      }
      scored.sortBy { case (j, c) => (-j, c) }.take(10).zipWithIndex
        .map { case ((_, c), i) => (q, c) -> (i + 1).toLong }
    }.toMap

    // RRF fuse + top-10, pure Scala
    val expected = qids.flatMap { q =>
      val cands = (ann.keySet.filter(_._1 == q).map(_._2) ++
        lex.keySet.filter(_._1 == q).map(_._2)).toSeq
      val fused = cands.map { c =>
        val ar = ann.getOrElse((q, c), 0L)
        val lr = lex.getOrElse((q, c), 0L)
        val rrf = (if (ar > 0) 1000000000L / (60 + ar) else 0L) +
          (if (lr > 0) 1000000000L / (60 + lr) else 0L)
        (c, rrf, ar, lr)
      }
      fused.sortBy { case (c, rrf, _, _) => (-rrf, c) }.take(10).zipWithIndex
        .map { case ((c, rrf, ar, lr), i) => (q, i + 1, c, rrf, ar, lr) }
    }.sortBy(t => (t._1, t._2)).toSeq

    assert(got == expected,
      s"engine hybrid diverges from the independent recompute:\n" +
        s"got     ${got.take(8)}\nexpected ${expected.take(8)}")
    CacheScope.releaseAll()
  }

  test("p08: every fused candidate and query is a p06-kept document") {
    val rows = SparkEntry.queries("p08_hybrid_pipeline")(spark, sfDir)
      .collect()
    CacheScope.releaseAll()
    assert(rows.nonEmpty)
    val kept = SparkEntry.queries("p06_epoch_build")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    CacheScope.releaseAll()
    assert(kept.nonEmpty, "p06 kept nothing -- vacuous")
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id"); val c = r.getAs[Long]("cand")
      assert(kept(q), s"query $q is not a kept doc")
      assert(kept(c), s"candidate $c (q=$q) is not a kept doc")
    }
    // both arms contributed somewhere: the composition is a real
    // fusion, not one list passing through
    assert(rows.exists(_.getAs[Long]("ann_rk") > 0), "dense arm empty")
    assert(rows.exists(_.getAs[Long]("lex_rk") > 0), "sparse arm empty")
  }

  test("s34: hash-checked recall eval agrees with the spec's own recall math") {
    val rows = SparkEntry.queries("s34_serving_recall")(spark, sfDir).collect()
    CacheScope.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Long]("n_true"); val h = r.getAs[Long]("n_hits")
      assert(t == 5, s"truth list not K-deep: $t")
      assert(h >= 0 && h <= t)
      assert(r.getAs[Long]("recall_micro") == h * 1000000L / t)
    }
    // the PINNED-knob serving floor on this fixture (measured 0.57 in
    // SERVECURVE terms); an index/serve regression drops this. The
    // suite entry pins (16 cells, nprobe 6) by oracle contract, so
    // the adaptive recommendation does not move this number — the
    // shipped-default path has its own, HIGHER floor below
    val mean = rows.map(_.getAs[Long]("recall_micro")).sum / rows.length
    info(s"s34 mean recall_micro=$mean over ${rows.length} queries")
    assert(mean >= 400000L, s"serving recall collapsed: $mean")
  }

  test("shipped-default serve (√n cells + adaptive nprobe) holds the " +
      "raised recall floor on a diffuse corpus") {
    // the round-13 fix under test: the shipped default previously
    // served recall@5 = 0.34 on the diffuse sf0.1 shape (SERVECURVE,
    // static nprobe 6 of 48 cells) vs a 0.76 full-probe ceiling; the
    // build-time adaptive recommendation must hold ≥ 0.6 — measured
    // 0.6857 at sf0.1 and flat walls. This gate runs the REAL shipped
    // path end to end: ensureCellIndex with the √n default, the
    // recommendation read off the artifact meta, the serve resolving
    // it with no explicit knob
    import graft.functions.VectorFunctions.milli_l2
    import org.apache.spark.sql.expressions.Window
    withIndexRoot("graft_index_shipped_gate") {
      val e = graft.Tables.embeddings(spark, sfDir)
      val idx = graft.sources.IndexStore.ensureCellIndex(spark, sfDir, e)
      val rec = graft.sources.IndexStore.recommendedNProbe(spark, sfDir)
      assert(rec.isDefined, "shipped build carried no recommendation")
      // unfiltered truth in the serving metric
      val m = e.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("mv"))
      val q = m.filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .select(col("vec_id").as("q_id"), col("mv").as("q_mv"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
      val truth = m.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("d2", milli_l2(col("q_mv"), col("mv")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      // the serve resolves the artifact recommendation (no explicit
      // nprobe, no conf) — the exact path a production caller gets
      val served = operators.Similarity.cellProbeSearchOn(
        idx._1, idx._2, idx._3, idx._4, nProbeMeta = rec)
        .collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (k, v) => k -> v.map(_.getAs[Long]("nn_id")).toSet }
      CacheScope.releaseAll()
      val hits = truth.toSeq.map { case (qid, t) =>
        served.getOrElse(qid, Set.empty).count(t.contains) }.sum
      val recall = hits.toDouble / truth.values.map(_.size).sum
      info(s"shipped-default recall@5=$recall (adaptive nprobe=${rec.get})")
      assert(recall >= 0.6,
        s"shipped-default serving recall $recall below the raised 0.6 " +
          s"floor (adaptive nprobe=${rec.get})")
    }
  }
}
