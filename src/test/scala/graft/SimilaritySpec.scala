package graft

import graft.TestDirs.withIndexRoot
import org.scalatest.funsuite.AnyFunSuite

/** Index-quality GATES for the approximate-nearest-neighbor methods:
  * s05 measures recall@K of s02 (multi-table LSH) and s03 (IVF)
  * against the exact brute-force top-K; these tests put a floor under
  * the measurement so a parameter nerf (fewer tables, narrower
  * probes) fails the suite instead of silently shipping a worse
  * index. An eval that cannot fail is a report, not a gate.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("s05 recall gate: LSH >= 0.8, IVF >= 0.8 at test SF") {
    val rows = operators.Similarity.s05_ann_recall(spark, sfDir).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_queries"), r.getAs[Double]("recall_at_k"))).toMap
    CacheScope.releaseAll()
    assert(rows.keySet == Set("lsh", "ivf"))
    val (lshQ, lshR) = rows("lsh")
    val (ivfQ, ivfR) = rows("ivf")
    assert(lshQ > 0 && ivfQ > 0, "no queries evaluated — gate is vacuous")
    // measured 0.9667 (lsh) / 0.8333 (ivf, 16 cells × 10 probes
    // of s19's index — round-7 sweep; 0.8762 at sf0.1) on this fixture;
    // both measurements are deterministic (fixed seeds), so the floors
    // gate real parameter/code regressions, not noise — the round-4
    // single-table LSH measured 0.0 and the pre-sweep IVF (probe 4,
    // 2 iters) measured 0.5; neither may return
    assert(lshR >= 0.8, s"LSH recall@5 $lshR below floor 0.8")
    assert(ivfR >= 0.8, s"IVF recall@5 $ivfR below floor 0.8")
  }

  test("s19 exact IVF: K rows/query, ranked dists, recall >= 0.8 vs milli brute force") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.functions.VectorFunctions.milli_l2
    val got = SparkEntry.queries("s19_ivf_exact")(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.length == 5, s"query $qid returned ${rows.length} != 5 rows")
      val byRank = rows.sortBy(_.getInt(3)).map(_.getLong(2))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        s"query $qid: distances not non-decreasing in rank")
    }
    // the same exact-arithmetic brute force the probe approximates —
    // a floor well below the measurement fails param/code nerfs, not noise
    val e = Tables.embeddings(spark, sfDir)
    val m = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("mv"))
    val q = m.filter(col("vec_id") % 97 === 0 &&
        col("vec_id") < operators.Similarity.QueryIdBound)
      .select(col("vec_id").as("q_id"), col("mv").as("q_mv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("vec_id"))
    val truth = m.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("dist", milli_l2(col("q_mv"), col("mv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheScope.releaseAll()
    val gotSet = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = gotSet.count(truth.contains).toDouble / truth.size
    assert(recall >= 0.8, s"s19 recall@5 $recall below floor 0.8")
  }

  test("s03 and s19 share one index") {
    import org.apache.spark.sql.functions.col
    import operators.Similarity.{IvfNProbe, ivfCentroids}
    val e = Tables.embeddings(spark, sfDir)
    val cents = ivfCentroids(e).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    val mv = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1000).toLong).toArray)
      .toMap
    val got = SparkEntry.queries("s03_ann_ivf")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id"))
    CacheScope.releaseAll()
    assert(cents.length == operators.Similarity.IvfNCells)
    // s19's cells by hand: exact long L2 to every centroid, ties to
    // the smaller cell; a query probes its IvfNProbe nearest
    def byDist(v: Array[Long]): Seq[Int] = cents.toSeq
      .map { case (j, c) =>
        (v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum, j) }
      .sorted.map(_._2)
    val cellOf = mv.map { case (id, v) => id -> byDist(v).head }
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length == 5, s"query $q returned ${rows.length} != 5 rows")
      val probed = byDist(mv(q)).take(IvfNProbe).toSet
      rows.foreach { case (_, v) =>
        assert(probed.contains(cellOf(v)),
          s"s03 neighbour $v of query $q sits in cell ${cellOf(v)}, " +
            s"outside s19's probed cells $probed")
      }
    }
  }

  test("s06 int8 quantization: exact zero error on lattice vectors, bounded otherwise") {
    import spark.implicits._
    // scale = 127/127 = 1.0 and every component is an integer →
    // dequantization is exact, error must be exactly 0
    val lattice = Seq((1L, "a", Array(127f, -64f, 3f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val r0 = operators.Similarity.quantizeInt8(lattice).collect().head
    assert(r0.getAs[Double]("avg_err") == 0.0)
    assert(r0.getAs[Double]("max_err") == 0.0)
    assert(r0.getAs[Double]("avg_scale") == 1.0)
    // all-zero vector: the scale-0 guard must yield 0 error, not NaN
    val zero = Seq((1L, "z", Array(0f, 0f))).toDF("vec_id", "label", "embedding")
    val rz = operators.Similarity.quantizeInt8(zero).collect().head
    assert(rz.getAs[Double]("avg_err") == 0.0)
    // real embeddings: per-element error is bounded by scale/2, and
    // scale ≈ max|x|/127 is small — a loose absolute ceiling catches
    // a broken quantizer without pinning float noise
    val stats = operators.Similarity.quantizeInt8(
      Tables.embeddings(spark, sfDir)).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val avg = r.getAs[Double]("avg_err"); val mx = r.getAs[Double]("max_err")
      assert(avg > 0.0, "zero avg error on random floats means nothing was measured")
      assert(mx < 0.05, s"max_err $mx exceeds any plausible scale/2 bound")
      assert(avg <= mx)
    }
  }

  test("s09 PQ codes match hand-computed exact-integer Lloyd rounds") {
    import spark.implicits._
    // 2 dims as 2 one-dim blocks, k=2, 1 round. Milli-quantized:
    // v1=[0,0] v2=[1,0] v3=[1000,1000] v4=[1001,1000]; init = v1,v2.
    // Round 1 block 0: {v1}→j0 stays 0, {v2,v3,v4}→j1 moves to
    // floor(2002/3)=667; block 1: both codes start at 0, ties → j0
    // absorbs everyone → 500, j1 empty keeps 0. Final assignment and
    // exact squared distances verified below.
    val emb = Seq(
      (1L, Array(0f, 0f), 0), (2L, Array(0.001f, 0f), 0),
      (3L, Array(1f, 1f), 0), (4L, Array(1.001f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = operators.Similarity
      .pqCodes(emb, k = 2, blockDim = 1, rounds = 1).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("block"),
        r.getAs[Int]("code"), r.getAs[Long]("dist"))).toSeq
    CacheScope.releaseAll()
    assert(got == Seq(
      (1L, 0, 0, 0L), (1L, 1, 1, 0L),
      (2L, 0, 0, 1L), (2L, 1, 1, 0L),
      (3L, 0, 1, 110889L), (3L, 1, 0, 250000L),
      (4L, 0, 1, 111556L), (4L, 1, 0, 250000L)))
  }

  test("s10 ADC search ranks by exact lookup-table sums with vec_id ties") {
    import spark.implicits._
    // 4 dims as 2 two-dim blocks, k=4, 1 round. The 4 init vectors
    // (ids 0-3) are the exact lattice points 0/1/2/3 per dim, so the
    // codebook is immediately stable and ids 4/5 (duplicates of v1/v2)
    // assign with zero error. Query = id 0 (0 % 31 == 0), database =
    // ids 1-5. ADC lookup per block: j0→0, j1→2·1000², j2→2·2000²,
    // j3→2·3000². Scores: id1/id4 (code j1,j1) = 4e6 — tie breaks to
    // the smaller vec_id; id2/id5 = 16e6; id3 = 36e6.
    val emb = Seq(
      (0L, Array(0f, 0f, 0f, 0f), 0), (1L, Array(1f, 1f, 1f, 1f), 0),
      (2L, Array(2f, 2f, 2f, 2f), 0), (3L, Array(3f, 3f, 3f, 3f), 0),
      (4L, Array(1f, 1f, 1f, 1f), 0), (5L, Array(2f, 2f, 2f, 2f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = operators.Similarity
      .pqSearch(emb, k = 4, blockDim = 2, rounds = 1, topK = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("adc_dist"))).toSeq
    CacheScope.releaseAll()
    assert(got == Seq(
      (0L, 1, 1L, 4000000L),
      (0L, 2, 4L, 4000000L),
      (0L, 3, 2L, 16000000L)))
  }

  test("s11 MMR prefers the diverse candidate over the redundant twin") {
    import spark.implicits._
    // query id 0 = (1,0). Three candidates with EQUAL relevance
    // (~0.94): id 1 at +20 deg, id 2 an exact twin of id 1, id 3 the
    // -20 deg mirror. Plain top-k returns 1,2,3 (tie order); MMR must
    // pick 1 (lowest id among ties), then 3 (sim to 1 is cos40 ~0.77
    // vs the twin's 1.0), and only then the redundant 2.
    val e = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0.94f, 0.342f), 0),
      (2L, Array(0.94f, 0.342f), 0),
      (3L, Array(0.94f, -0.342f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.mmrDiversified(e).collect()
      .map(r => (r.getAs[Int]("rk"), r.getAs[Long]("vec_id"))).toSeq
    CacheScope.releaseAll()
    // 3 candidates, 5 rounds: rounds 4-5 have empty remainders
    assert(got == Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("s12 drift reports exact micro-unit mean shift, skips one-sided labels") {
    import spark.implicits._
    // label 0: old = ids 1,2 (means 0.2/0.3 micro-floored), new = id 5
    // (0.5/0.6) → delta 300000 on BOTH dims: l1 = 600000, max ties →
    // dim 0. label 1 has no new-side vector → excluded.
    val e = Seq(
      (1L, Array(0.1f, 0.2f), 0), (2L, Array(0.3f, 0.4f), 0),
      (5L, Array(0.5f, 0.6f), 0),
      (3L, Array(0.9f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.embeddingDrift(e).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("n_old"),
        r.getAs[Long]("n_new"), r.getAs[Long]("l1_shift_micro"),
        r.getAs[Long]("max_shift_micro"), r.getAs[Int]("max_shift_dim")))
    CacheScope.releaseAll()
    assert(got.toSeq == Seq((0, 2L, 1L, 600000L, 300000L, 0)))
  }

  test("s08 semantic decontam flags benchmark twins and clears orthogonals") {
    import spark.implicits._
    // id 0 is benchmark (0 % 31 == 0); id 1 duplicates it exactly,
    // id 2 is orthogonal, id 3 is a near-paraphrase above tau
    val e = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(2f, 0f), 0),      // cos 1.0 with the benchmark
      (2L, Array(0f, 1f), 0),      // cos 0.0
      (3L, Array(1f, 1f), 0),      // cos ~0.7071
    ).toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.semanticDecontam(e).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("max_benchmark_cos"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), "benchmark vectors must not be scored")
    assert(got(1L) == ((1.0, true)))
    assert(got(2L) == ((0.0, false)))
    assert(got(3L)._1 == 0.7071 && got(3L)._2)
  }

  test("s07 label centroids are exact per-dimension means") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1f, 3f), 0),
      (2L, Array(3f, 5f), 0),
      (3L, Array(-1.5f, 0.25f), 1),
    ).toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.labelCentroids(e).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("dim")) ->
        (r.getAs[Long]("n_vectors"), r.getAs[Double]("centroid"))).toMap
    assert(got == Map(
      (0, 0) -> (2L, 2.0), (0, 1) -> (2L, 4.0),
      (1, 0) -> (1L, -1.5), (1, 1) -> (1L, 0.25)))
    // real corpus: one centroid per (label, dim), each averaging the
    // full label population — shape check against the raw table
    val emb = Tables.embeddings(spark, sfDir)
    val dim = emb.selectExpr("size(embedding) d").head.getInt(0)
    val labels = emb.select("label").distinct().count()
    val rows = operators.Similarity.s07_label_centroids(spark, sfDir).collect()
    assert(rows.length == labels * dim)
    assert(rows.forall(r => math.abs(r.getAs[Double]("centroid")) < 1.0))
  }

  test("s13 RRF fuses dense and lexical ranks with exact micro-unit scores") {
    import spark.implicits._
    // vec 0 is the one eval query (0 % 97 = 0). doc 1 is close in BOTH
    // arms, doc 2 only dense, doc 3 only lexical. 4 docs → rare cap
    // max(2, 0.05·4) = 2, and every content token has df <= 2.
    val docs = Seq(
      (0L, "foo bar baz"),        // the query document
      (1L, "foo bar qux"),        // shares 2 rare tokens
      (2L, "unrelated words here"),
      (3L, "baz quux zap"),       // shares 1 rare token
    ).map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val emb = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(1f, 0.01f), 0),  // dense rank 1
      (2L, Array(1f, 0.1f), 0),   // dense rank 2
      (3L, Array(0f, 1f), 0),     // dense rank 3 (cos 0)
    ).toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.hybridRrf(docs, emb)
      .as[(Long, Long, Long, Int, Int, Int)].collect().toSeq
    def rrf(r: Int) = math.floor(1e6 / (60 + r)).toLong
    assert(got == Seq(
      (0L, 1L, rrf(1) + rrf(1), 1, 1, 1),
      (0L, 3L, rrf(3) + rrf(2), 3, 2, 2),
      (0L, 2L, rrf(2), 2, 0, 3)))
  }

  test("s13 on the corpus: both-arm hits always outrank single-arm hits") {
    // floor(1e6/65)·2 = 30768 > 16393 = floor(1e6/61): ANY doc found
    // by both rankers beats ANY doc found by one — check it holds in
    // the produced scores, and that per-query output is a ranked
    // prefix of <= 5
    val rows = operators.Similarity.s13_hybrid_rrf(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rrf_micro"),
        r.getAs[Int]("dense_rk"), r.getAs[Int]("lex_rk"),
        r.getAs[Int]("fused_rank")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_._5).sorted.toSeq == (1 to rs.length))
      val minBoth = rs.filter(r => r._3 > 0 && r._4 > 0).map(_._2)
      val maxSingle = rs.filter(r => r._3 == 0 || r._4 == 0).map(_._2)
      if (minBoth.nonEmpty && maxSingle.nonEmpty)
        assert(minBoth.min > maxSingle.max, s"query $q fusion inverted")
    }
  }

  test("s16 scores exactly on lattice vectors and tracks the float ranking on the corpus") {
    import spark.implicits._
    // scale = max|x|/127 = 1 and every component integral → codes == x
    // and the reconstructed dot IS the exact dot product
    val lattice = Seq(
      (0L, Array(127f, 0f, 64f), 0),
      (1L, Array(127f, -64f, 0f), 0),
      (2L, Array(0f, 127f, 32f), 0),
      (3L, Array(64f, 64f, 127f), 0)).toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.int8Search(lattice).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("score")).toMap
    // hand dots: (0,1)=127*127=16129, (0,2)=64*32=2048,
    // (0,3)=127*64+64*127=16256
    assert(got == Map((0L, 3L) -> 16256.0, (0L, 1L) -> 16129.0,
      (0L, 2L) -> 2048.0))
    // on the real corpus the int8 reconstruction must track the exact
    // float ranking closely: top-5 overlap with s01 per query
    val exact = operators.Similarity.s01_ann_bruteforce(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val quant = operators.Similarity.s16_int8_search(spark, sfDir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    CacheScope.releaseAll()
    assert(exact.nonEmpty && quant.nonEmpty)
    val overlap = exact.intersect(quant).size.toDouble / exact.size
    // measured 0.97 on this fixture (int8 error ~1e-3 of the score
    // range only flips near-ties); floor well below to gate real
    // regressions (e.g. a broken scale or code formula → ~0)
    assert(overlap >= 0.8, s"int8 top-5 overlap $overlap below 0.8")
  }

  test("s15 matches reference LPA and splits bridge-connected clusters CC would merge") {
    import spark.implicits._
    def nrm(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    // two dense angular clusters, plus two midway nodes chaining them
    // into ONE connected component: 12 sits at the exact bisector (its
    // cosine ties route to cluster-A ids by the id tie-break), 13 sits
    // nearest 12 and then cluster B — so every node is reachable from
    // every other, yet the dense neighborhoods outvote the bridge
    val vecs: Seq[(Long, Array[Float], Int)] =
      (0 until 6).map(i => (i.toLong, nrm(Array(1.0, 0.002 * i, 0.0)), 0)) ++
        (6 until 12).map(j =>
          (j.toLong, nrm(Array(0.0, 1.0, 0.002 * (j - 6))), 0)) ++
        Seq((12L, nrm(Array(1.0, 1.0, 0.0)), 0),
          (13L, nrm(Array(0.5, 0.8660254, 0.0)), 0))
    val e = vecs.toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.communitiesOf(e).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("community"),
        r.getAs[Long]("csize"))).toSet
    CacheScope.releaseAll()
    // reference: same rounded top-3 graph + synchronous LPA rounds
    val ids = vecs.map(_._1)
    val byId = vecs.map(v => v._1 -> v._2).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / math.sqrt(na * nb)
    }
    def r4(x: Double): BigDecimal =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val knn = ids.flatMap { a =>
      ids.filter(_ != a)
        .map(b => (b, r4(cos(byId(a), byId(b)))))
        .sortBy { case (b, c) => (-c, b) }
        .take(3).map { case (b, _) => (a, b) }
    }
    // self-loops: each node votes for its own label once (mirrors the
    // operator's self-vote variant)
    val edges = (knn ++ knn.map(p => (p._2, p._1)) ++ ids.map(i => (i, i))).distinct
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = ids.map(i => i -> i).toMap
    for (_ <- 1 to operators.Similarity.LpaRounds) {
      lbl = ids.map { v =>
        v -> nbrs(v).groupBy(lbl).view.mapValues(_.size).toSeq
          .sortBy { case (l, n) => (-n, l) }.head._1
      }.toMap
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = ids.map(i => (i, lbl(i), sizes(lbl(i)))).toSet
    assert(got == want, s"s15 diverged from reference LPA:\n got=$got\nwant=$want")
    // the property connected components cannot give: the graph is one
    // component, yet LPA keeps more than one community
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert(ids.map(find(_)).toSet.size == 1,
      "fixture graph must be ONE connected component (bridged)")
    assert(lbl.values.toSet.size > 1,
      "LPA must keep the bridged dense clusters distinct")
  }

  /** The s15 bridged-twin-clusters fixture plus a from-scratch
    * reference pipeline (kNN → symmetrized+self-loop LPA → per-
    * community min-id domination) shared by the s17 tests. */
  private object S17Fixture {
    def nrm(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    // two dense angular clusters bridged into one connected component
    // (the s15 fixture): label-agnostic dedup scopes must come from
    // the GRAPH — each dense cluster is one community, and its lowest
    // id dominates every member (pairwise cos ≈ 1 ≥ τ), while the two
    // community roots survive even though the bridge connects them
    val vecs: Seq[(Long, Array[Float], Int)] =
      (0 until 6).map(i => (i.toLong, nrm(Array(1.0, 0.002 * i, 0.0)), 0)) ++
        (6 until 12).map(j =>
          (j.toLong, nrm(Array(0.0, 1.0, 0.002 * (j - 6))), 0)) ++
        Seq((12L, nrm(Array(1.0, 1.0, 0.0)), 0),
          (13L, nrm(Array(0.5, 0.8660254, 0.0)), 0))
    val ids: Seq[Long] = vecs.map(_._1)
    private val byId = vecs.map(v => v._1 -> v._2).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (byId(a), byId(b))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- x.indices) {
        dot += x(i).toDouble * y(i); na += x(i).toDouble * x(i)
        nb += y(i).toDouble * y(i)
      }
      dot / math.sqrt(na * nb)
    }
    def r4(x: Double): BigDecimal =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val tau = BigDecimal(0.35)
    /** Reference synchronous LPA over the rounded top-3 graph. */
    lazy val community: Map[Long, Long] = {
      val knn = ids.flatMap { a =>
        ids.filter(_ != a)
          .map(b => (b, r4(cos(a, b))))
          .sortBy { case (b, c) => (-c, b) }
          .take(3).map { case (b, _) => (a, b) }
      }
      val edges =
        (knn ++ knn.map(p => (p._2, p._1)) ++ ids.map(i => (i, i))).distinct
      val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = ids.map(i => i -> i).toMap
      for (_ <- 1 to operators.Similarity.LpaRounds)
        lbl = ids.map { v =>
          v -> nbrs(v).groupBy(lbl).view.mapValues(_.size).toSeq
            .sortBy { case (l, n) => (-n, l) }.head._1
        }.toMap
      lbl
    }
    /** True dominators of v: same community, lower id, cos ≥ τ. */
    def dominators(v: Long): Seq[Long] =
      ids.filter(d => d < v && community(d) == community(v) &&
        r4(cos(d, v)) >= tau)
    lazy val want: Set[(Long, Long, Option[Long], Boolean)] =
      ids.map { v =>
        val dom = dominators(v)
        (v, community(v), dom.minOption, dom.isEmpty)
      }.toSet
  }

  test("s17 dedups within LPA communities and keeps both bridged cluster roots") {
    import spark.implicits._
    val e = S17Fixture.vecs.toDF("vec_id", "embedding", "label")
    val got = operators.Similarity
      .communityDedup(e, operators.Similarity.S17MaxExactCommunity)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("community"),
        Option(r.getAs[java.lang.Long]("dominated_by")).map(_.longValue()),
        r.getAs[Boolean]("kept"))).toSet
    CacheScope.releaseAll()
    assert(got == S17Fixture.want,
      s"s17 diverged from reference:\n got=$got\nwant=${S17Fixture.want}")
    // the property d15's label blocks cannot express on this fixture:
    // the scopes are data-adaptive (≥ 2 communities out of ONE label
    // block), in-community twins are dominated, and each community's
    // root survives
    val communities = got.map(_._2)
    assert(communities.size >= 2)
    assert(got.count(!_._4) >= 8, "dense-cluster twins must be dominated")
    for (c <- communities)
      assert(got.exists(r => r._2 == c && r._4),
        s"community $c lost all members")
  }

  test("s17 oversized communities reroute through LSH: subset-of-truth, twins still caught") {
    import spark.implicits._
    val e = S17Fixture.vecs.toDF("vec_id", "embedding", "label")
    // cap of 4 forces EVERY community (sizes ~6-8) onto the approx tier
    val got = operators.Similarity.communityDedup(e, 4L).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        Option(r.getAs[java.lang.Long]("dominated_by")).map(_.longValue())))
      .toMap
    CacheScope.releaseAll()
    for ((v, domBy) <- got; d <- domBy) {
      // anything the LSH tier reports must be a TRUE domination —
      // same community, lower id, cosine over τ (no false positives;
      // the reported dominator may be a larger id than the exact min
      // when multi-probe misses the global minimum's bucket)
      assert(S17Fixture.dominators(v).contains(d),
        s"LSH tier fabricated dominator $d for $v")
    }
    // near-identical twins hash to the same bucket (angle ≪ any
    // hyperplane gap), so the reroute still catches the bulk of the
    // dense-cluster duplicates
    assert(got.values.count(_.isDefined) >= 8,
      "LSH reroute lost the dense-cluster twins")
  }

  test("s14 kNN graph matches the naive blocked top-3 on the exact tier") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine_similarity
    val e = Tables.embeddings(spark, sfDir)
    val got = operators.Similarity.s14_knn_graph(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect().toSet
    val a = e.select(col("label"), col("vec_id"), col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("nn_id"),
      col("embedding").as("emb_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    val want = a.join(b, Seq("label"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos", round(cosine_similarity(col("emb_a"), col("emb_b")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("vec_id"), col("nn_id"), col("cos"), col("rk"))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("s14 LSH tier emits ranked prefixes with true cosines") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine_similarity
    val e = Tables.embeddings(spark, sfDir)
    // ceiling 0: every block routes through LSH multi-probe
    val approx = operators.Dedup.blockedKnn(e, 3, 0L)
    val rows = approx.as[(Long, Long, Double, Int)].collect()
    assert(rows.nonEmpty, "LSH path returned nothing")
    // per node: ranks are a prefix 1..m, m <= 3, neighbors distinct
    rows.groupBy(_._1).foreach { case (id, ns) =>
      assert(ns.map(_._4).sorted.toSeq == (1 to ns.length),
        s"node $id ranks not a prefix")
      assert(ns.map(_._2).distinct.length == ns.length)
      assert(ns.length <= 3)
    }
    // reported cosines are the true cosines and labels match
    val verify = approx
      .join(e.select(col("vec_id"), col("label").as("la"),
        col("embedding").as("ea")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("nn_id"), col("label").as("lb"),
        col("embedding").as("eb")), Seq("nn_id"))
      .withColumn("true_cos", round(cosine_similarity(col("ea"), col("eb")), 4))
    assert(verify.filter(col("la") =!= col("lb")).count() == 0)
    assert(verify.filter(col("cos") =!= col("true_cos")).count() == 0)
  }

  test("s18 filtered top-k honors both predicates and never beats unfiltered") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("s18_filtered_ann")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) % 3 != 0, "static predicate violated")
      assert(r.getInt(3) != r.getInt(1), "label predicate violated")
      assert(r.getLong(2) != r.getLong(0))
    }
    // the filter leaves ample corpus at this SF: exactly K per query
    rows.groupBy(_.getLong(0)).foreach { case (q, ns) =>
      assert(ns.length == 5, s"query $q returned ${ns.length} != 5 rows")
    }
    // filtered search ranks over a subset, so its best hit can never
    // beat the unfiltered brute-force best
    val s01top = SparkEntry.queries("s01_ann_bruteforce")(spark, dir)
      .filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.filter(_.getInt(5) == 1).foreach { r =>
      assert(r.getDouble(4) <= s01top(r.getLong(0)) + 1e-9,
        s"query ${r.getLong(0)}: filtered top-1 beats unfiltered")
    }
  }

  test("s20 NN-descent: refinement strictly improves recall over the init graph") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.functions.VectorFunctions.milli_l2
    val e = Tables.embeddings(spark, sfDir)
    val k = operators.Similarity.NdK
    // exact milli-L2 top-k over ALL pairs — the truth both graphs chase
    val m = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("mv"))
    val w = Window.partitionBy(col("src")).orderBy(col("d2"), col("dst"))
    val truth = m.select(col("vec_id").as("src"), col("mv").as("ma"))
      .join(m.select(col("vec_id").as("dst"), col("mv").as("mb")),
        col("src") =!= col("dst"))
      .withColumn("d2", milli_l2(col("ma"), col("mb")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rounds: Int): Double = {
      val g = operators.Similarity.nnDescent(e, k, rounds).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      CacheScope.releaseAll()
      g.count(truth.contains).toDouble / truth.size
    }
    val init = recallOf(0)
    val got = SparkEntry.queries("s20_nn_descent")(spark, sfDir).collect()
    CacheScope.releaseAll()
    // structure: per node the ranks are a prefix and d2 non-decreasing
    got.groupBy(_.getLong(0)).foreach { case (id, ns) =>
      assert(ns.map(_.getInt(1)).sorted.toSeq == (1 to ns.length),
        s"node $id ranks not a prefix")
      val byRk = ns.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a <= b },
        s"node $id d2 not non-decreasing in rank")
    }
    val refined = got.map(r => (r.getLong(0), r.getLong(2))).toSet
      .count(truth.contains).toDouble / truth.size
    // the POINT of the op: neighbors-of-neighbors rounds must widen
    // recall well past the geometry-blind digit-group init. Measured
    // on this fixture: init 0.142 (the init IS a ~2·span random
    // subset of 499 candidates, so ~0.14 is its ceiling), refined
    // 0.3795 after 3 rounds — 2.7×. Both deterministic, so the floors
    // gate code regressions (the single-group init that trapped every
    // node in a disjoint clique measured refined == init), not noise.
    assert(refined > init + 0.15,
      s"refinement did not improve recall: init=$init refined=$refined")
    assert(refined >= 0.3, s"s20 refined recall $refined below floor 0.3")
  }

  test("s21 graph search: expansion rounds beat the seed neighbors alone") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.functions.VectorFunctions.milli_l2
    val e = Tables.embeddings(spark, sfDir)
    // exact milli-L2 top-5 for the SAME deterministic query set — the
    // truth the beam chases
    val m = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("mv"))
    val q = m.filter(col("vec_id") % 97 === 0 &&
        col("vec_id") < operators.Similarity.QueryIdBound)
      .select(col("vec_id").as("q_id"), col("mv").as("q_mv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val truth = m.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("d2", milli_l2(col("q_mv"), col("mv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
        .count(truth.contains).toDouble / truth.size
    val seeds = operators.Similarity.graphSearch(e, 0).collect()
    CacheScope.releaseAll()
    val got = SparkEntry.queries("s21_graph_search")(spark, sfDir).collect()
    CacheScope.releaseAll()
    // structure: ≤5 per query, prefix ranks, d2 non-decreasing
    got.groupBy(_.getLong(0)).foreach { case (qid, ns) =>
      assert(ns.length <= 5)
      assert(ns.map(_.getInt(1)).sorted.toSeq == (1 to ns.length),
        s"query $qid ranks not a prefix")
      val byRk = ns.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a <= b })
    }
    val seedR = recallOf(seeds)
    val gotR = recallOf(got)
    // expansion is monotone (a displaced candidate is displaced by a
    // strictly closer one, which then belongs to the truth set too),
    // so >= always holds — the STRICT gate is what catches a broken
    // expansion join. Measured on this fixture: seeds 0.43 → 0.63
    // after 2 rounds; deterministic, so floors gate regressions.
    assert(gotR > seedR + 0.1,
      s"expansion did not improve recall: seeds=$seedR final=$gotR")
    assert(gotR >= 0.5, s"s21 recall $gotR below floor 0.5")
  }

  test("s22 cell graph: edges stay in-cell; a cell equals restricted NN-descent") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    val got = SparkEntry.queries("s22_cell_graph")(spark, sfDir).collect()
    CacheScope.releaseAll()
    assert(got.nonEmpty)
    // edges never cross cells: every neighbor that has out-edges of
    // its own sits in the same cell as its source
    val cellOf = got.map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { r =>
      assert(cellOf.get(r.getLong(3)).forall(_ == r.getInt(1)),
        s"edge ${r.getLong(0)}→${r.getLong(3)} crosses cells")
    }
    assert(cellOf.values.toSet.size > 1, "one cell — scoping is vacuous")
    // the strong property: the busiest cell's subgraph is EXACTLY
    // nnDescent run on a corpus restricted to that cell's members —
    // cell scoping changes where the graph is built, never what it is
    val c = got.groupBy(_.getInt(1)).maxBy(_._2.length)._1
    val members = got.filter(_.getInt(1) == c).map(_.getLong(0)).toSet
    val gotSub = got.filter(_.getInt(1) == c)
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = operators.Similarity.nnDescent(
        e.filter(col("vec_id").isInCollection(members))).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    CacheScope.releaseAll()
    assert(gotSub == want,
      s"cell $c subgraph diverged from restricted NN-descent")
  }

  test("s23 cell-probed search: recall holds at 6/16 cells; more probes only help") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.functions.VectorFunctions.milli_l2
    val e = Tables.embeddings(spark, sfDir)
    // exact milli-L2 top-5 for the same deterministic query set
    val m = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("mv"))
    val q = m.filter(col("vec_id") % 97 === 0 &&
        col("vec_id") < operators.Similarity.QueryIdBound)
      .select(col("vec_id").as("q_id"), col("mv").as("q_mv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val truth = m.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("d2", milli_l2(col("q_mv"), col("mv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
        .count(truth.contains).toDouble / truth.size
    val got = SparkEntry.queries("s23_cell_search")(spark, sfDir).collect()
    CacheScope.releaseAll()
    // structure: ≤5 per query, prefix ranks, d2 non-decreasing
    got.groupBy(_.getLong(0)).foreach { case (qid, ns) =>
      assert(ns.length <= 5)
      assert(ns.map(_.getInt(1)).sorted.toSeq == (1 to ns.length),
        s"query $qid ranks not a prefix")
      val byRk = ns.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a <= b })
    }
    // probing every cell searches a superset of candidates per query,
    // so its recall bounds the nprobe=4 recall from above — a broken
    // probe ranking (wrong cells) shows up as a gap the floor catches
    val all = operators.Similarity.cellProbeSearch(
      e, nProbe = operators.Similarity.IvfNCells).collect()
    CacheScope.releaseAll()
    val gotR = recallOf(got)
    val allR = recallOf(all)
    // a truth member entering ANY probed cell's beam always survives
    // the fuse (only other truth members can outrank it), and per-cell
    // beams are independent of how many cells are probed — so more
    // probes means a candidate superset and recall is exactly monotone
    assert(allR >= gotR,
      s"probing all cells lost recall: nprobe6=$gotR all=$allR")
    // measured on this fixture: 0.5667 at 6/16 cells, 0.8667 at 16/16
    // (the exact-within-probed-cells ceilings are 0.70 and 1.0; the
    // gap is beam greediness). Deterministic → floors gate regressions
    // — a broken bridge/probe/entry join, not noise. s21's floor is
    // 0.5; the cell-probed path must not serve worse.
    assert(gotR >= 0.5, s"s23 recall $gotR at 6/16 cells below floor 0.5")
  }

  test("s28 PQ serving: exact re-rank of the ADC shortlist; bigger budget only helps") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.functions.VectorFunctions.milli_l2
    val e = Tables.embeddings(spark, sfDir)
    val m = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("mv"))
    val q = m.filter(col("vec_id") % 97 === 0 &&
        col("vec_id") < operators.Similarity.QueryIdBound)
      .select(col("vec_id").as("q_id"), col("mv").as("q_mv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val truth = m.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("d2", milli_l2(col("q_mv"), col("mv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
        .count(truth.contains).toDouble / truth.size
    val got = SparkEntry.queries("s28_pq_serving")(spark, sfDir).collect()
    CacheScope.releaseAll()
    // structure: ≤5 per query, prefix ranks, d2 non-decreasing — and
    // the d2 column is the EXACT milli distance (re-ranked), so every
    // returned pair's d2 must equal the brute-force distance
    got.groupBy(_.getLong(0)).foreach { case (qid, ns) =>
      assert(ns.length <= 5)
      assert(ns.map(_.getInt(1)).sorted.toSeq == (1 to ns.length),
        s"query $qid ranks not a prefix")
      val byRk = ns.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a <= b })
    }
    // an unbounded re-rank budget keeps EVERY probed-cell member in
    // the shortlist — exact search within the probed cells, the same
    // ceiling s23's beams chase. The shipped budget trades under it;
    // a growing budget is a candidate superset, so recall is exactly
    // monotone — a broken ADC ranking (wrong codes, wrong lookup
    // join) shows up as the shipped budget falling far below the
    // ceiling, which the floor catches
    val exhaustive = operators.Similarity.pqServing(e,
      nCells = operators.Similarity.IvfNCells, rerank = Int.MaxValue)
      .collect()
    CacheScope.releaseAll()
    val gotR = recallOf(got)
    val exR = recallOf(exhaustive)
    assert(exR >= gotR,
      s"bigger re-rank budget lost recall: shipped=$gotR exhaustive=$exR")
    info(s"s28 recall@5: shipped(rerank=16)=$gotR exhaustive=$exR")
    assert(gotR >= 0.5, s"s28 recall $gotR below floor 0.5")
  }

  test("s24 incremental maintenance recalls >=0.9x a full rebuild") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.functions.VectorFunctions.milli_l2
    val e = Tables.embeddings(spark, sfDir)
    val k = operators.Similarity.NdK
    // exact milli-L2 top-k over ALL pairs of the FULL corpus — the
    // truth both graphs chase (the s20 spec's construction)
    val m = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("mv"))
    val w = Window.partitionBy(col("src")).orderBy(col("d2"), col("dst"))
    val truth = m.select(col("vec_id").as("src"), col("mv").as("ma"))
      .join(m.select(col("vec_id").as("dst"), col("mv").as("mb")),
        col("src") =!= col("dst"))
      .withColumn("d2", milli_l2(col("ma"), col("mb")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
        .count(truth.contains).toDouble / truth.size
    val merged = SparkEntry.queries("s24_incremental_graph")(spark, sfDir)
      .collect()
    CacheScope.releaseAll()
    // structure: prefix ranks, d2 non-decreasing, out-degree <= k,
    // and EVERY corpus node (standing + delivery) has a list
    merged.groupBy(_.getLong(0)).foreach { case (id, ns) =>
      assert(ns.length <= k)
      assert(ns.map(_.getInt(1)).sorted.toSeq == (1 to ns.length),
        s"node $id ranks not a prefix")
      val byRk = ns.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a <= b })
    }
    val nNodes = e.count()
    assert(merged.map(_.getLong(0)).distinct.length == nNodes,
      "a corpus node is missing from the merged graph")
    val full = operators.Similarity.nnDescent(e).collect()
    CacheScope.releaseAll()
    val rm = recallOf(merged)
    val rf = recallOf(full)
    // the point of the op: absorbing the delivery with delivery-bounded
    // work must not degrade the graph materially vs rebuilding it all
    assert(rm >= 0.9 * rf,
      s"incremental merge degraded recall: merged=$rm full-rebuild=$rf")
  }

  test("s26 health gate: skewed deliveries flip the rebuild trigger") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    val standing = e.filter(col("vec_id") % 5 =!= 0)
    val (cents, asg, _) = operators.Similarity.cellIndex(standing)
    val asgP = CacheScope.persisted(asg)
    // target the least-loaded cell — the sharpest contrast between
    // the undisturbed audit and the skewed one
    val tcell = asgP.groupBy(col("cell")).count()
      .orderBy(col("count"), col("cell")).head().getAs[Number](0).longValue
    val member = asgP.filter(col("cell") === tcell)
      .orderBy(col("vec_id")).head().getLong(0)
    val emb = e.filter(col("vec_id") === member)
      .select(col("embedding")).head().getSeq[Float](0)
    def auditRow(delivery: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.Row = {
      val rep = operators.Similarity.indexHealth(cents, asgP, delivery)
        .filter(col("cell") === tcell).collect()
      assert(rep.length == 1)
      rep.head
    }
    // undisturbed: no deliveries — nothing may fire for the target
    // cell (load is its build share, mean distance is unchanged)
    val quiet = auditRow(e.filter(lit(false)))
    assert(!quiet.getAs[Boolean]("rebuild"),
      s"undisturbed least-loaded cell already triggers: $quiet")
    // skewed: every delivery clones a member of the target cell, so
    // all of them route there — the load trigger must fire
    val skew = auditRow(e.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding", typedLit(emb)))
    assert(skew.getAs[Long]("load_permille") >=
      operators.Similarity.S26LoadTrigger,
      s"skewed deliveries did not overload the target cell: $skew")
    assert(skew.getAs[Boolean]("rebuild"),
      s"overloaded cell did not trigger a rebuild: $skew")
    CacheScope.releaseAll()
  }

  test("s27 refresh gate: quiet delivery keeps the artifact, drifted " +
      "delivery swaps it and restores fresh-build recall") {
    import org.apache.spark.sql.functions._
    withIndexRoot("graft_index_s27spec") {
      val e = Tables.embeddings(spark, sfDir)
      val standing = e.filter(col("vec_id") % 5 =!= 0)
      val key = s"${sfDir}_s27spec"
      val dir = sources.IndexStore.cellIndexDir(key)
      def meta(): Option[String] = sources.IndexStore.readMeta(spark, dir)
      // undisturbed delivery: the audit must NOT fire and the standing
      // artifact must survive byte-identical (same fingerprint)
      val quietDelivery = e.filter(col("vec_id") % 5 === 0)
      val (r1, _) = operators.Similarity.refreshIfNeeded(
        spark, key, standing, quietDelivery,
        nCells = operators.Similarity.IvfNCells)
      CacheScope.releaseAll()
      val standingFp = meta()
      assert(!r1, "an undisturbed delivery tripped the refresh")
      assert(standingFp.isDefined, "standing artifact has no fingerprint")
      assert(meta() == standingFp)
      // drifted delivery: the audit fires, the refresh re-trains on
      // standing ∪ delivery and SWAPS the artifact in place
      val drifted = quietDelivery.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") + lit(0.5))
          .as("embedding"))
      val (r2, (cents, asg, entries, graph)) =
        operators.Similarity.refreshIfNeeded(spark, key, standing, drifted,
          nCells = operators.Similarity.IvfNCells)
      assert(r2, "the drifted delivery did not trip the refresh")
      val refreshedFp = meta()
      assert(refreshedFp.isDefined && refreshedFp != standingFp,
        "refresh did not swap the artifact fingerprint")
      // post-refresh serve ≡ a fresh build over the absorbed corpus —
      // the refresh must restore exactly fresh-build recall, because
      // the refreshed artifact IS a fresh build (spec-pinned, so a
      // future 'cheaper' refresh path cannot silently degrade it)
      val served = operators.Similarity
        .cellProbeSearchOn(cents, asg, entries, graph)
        .collect().map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      def wide(f: org.apache.spark.sql.DataFrame) = f.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val fresh = operators.Similarity
        .cellProbeSearch(wide(standing).unionByName(wide(drifted)),
          nCells = operators.Similarity.IvfNCells)
        .collect().map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      assert(served.nonEmpty, "post-refresh serve returned nothing — vacuous")
      assert(served == fresh,
        "post-refresh serve diverged from a fresh build on the absorbed corpus")
    }
  }

  test("s29 tombstones: ghosts leave results, stay traversable, never rebuild") {
    import org.apache.spark.sql.functions._
    withIndexRoot("graft_index_s29spec") {
      val e = Tables.embeddings(spark, sfDir)
      val (cents, asg, entries, graph) = sources.IndexStore
        .ensureCellIndex(spark, s"${sfDir}_s29spec", e,
          nCells = operators.Similarity.IvfNCells)
      val fpBefore = sources.IndexStore.readMeta(spark,
        sources.IndexStore.cellIndexDir(s"${sfDir}_s29spec"))
      val q = asg.filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < operators.Similarity.QueryIdBound)
        .select(col("vec_id").as("q_id"), col("mv").as("q_mv"))
      val deletes = e.filter(col("vec_id") %
          operators.Similarity.S29DeleteMod === 0)
        .select(col("vec_id").as("del_id"))
      val plain = operators.Similarity
        .cellProbeSearchFor(q, cents, asg, entries, graph)
        .collect()
      CacheScope.releaseAll()
      val tomb = operators.Similarity
        .cellProbeSearchFor(q, cents, asg, entries, graph,
          tombstones = deletes)
        .collect()
      CacheScope.releaseAll()
      val delSet = deletes.collect().map(_.getLong(0)).toSet
      assert(tomb.nonEmpty && delSet.nonEmpty, "vacuous fixture")
      // 1. no ghost is ever served
      assert(tomb.forall(r => !delSet.contains(r.getLong(2))),
        "a tombstoned id appeared in the served top-K")
      // 2. ghosts stay traversable: the beams are IDENTICAL (the filter
      // sits at the fuse), so every live candidate the plain serve
      // found must survive the tombstoned serve — deletion can only
      // PROMOTE live candidates, never lose one
      val tombSet = tomb.map(r => (r.getLong(0), r.getLong(2))).toSet
      val lostLive = plain
        .filter(r => !delSet.contains(r.getLong(2)))
        .map(r => (r.getLong(0), r.getLong(2)))
        .filterNot(tombSet.contains)
      assert(lostLive.isEmpty,
        s"live results lost under tombstoning (beam was disturbed): " +
          lostLive.take(5).mkString(", "))
      // 3. backfill: ranks stay a prefix per query
      tomb.groupBy(_.getLong(0)).foreach { case (qid, ns) =>
        assert(ns.map(_.getInt(1)).sorted.toSeq == (1 to ns.length),
          s"query $qid ranks not a prefix after tombstoning")
      }
      // 4. the standing artifact was never touched
      assert(sources.IndexStore.readMeta(spark,
        sources.IndexStore.cellIndexDir(s"${sfDir}_s29spec")) == fpBefore,
        "tombstoned serving modified the standing artifact")
    }
  }

  test("s30 deletion audit arithmetic + compact gate: quiet keeps the " +
      "artifact, tripped swap serves exactly a fresh retained build") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand-checked audit arithmetic: cell 0 has 5 members, 1 deleted
    // (200 permille ≥ 100 → compact); cell 1 has 4 members, 0 deleted
    val asg = Seq((0L, 0), (1L, 0), (2L, 0), (3L, 0), (4L, 0),
      (10L, 1), (11L, 1), (12L, 1), (13L, 1)).toDF("vec_id", "cell")
    val dels = Seq(3L).toDF("del_id")
    val audit = operators.Similarity.deletionAudit(asg, dels).collect()
      .map(r => r.getInt(0) -> r).toMap
    // columns: cell, n_members, n_deleted, del_permille, compact
    assert(audit(0).getLong(1) == 5 && audit(0).getLong(2) == 1)
    assert(audit(0).getLong(3) == 200 && audit(0).getBoolean(4))
    assert(audit(1).getLong(1) == 4 && audit(1).getLong(2) == 0)
    assert(audit(1).getLong(3) == 0 && !audit(1).getBoolean(4))
    // the composed gate on the fixture corpus
    withIndexRoot("graft_index_s30spec") {
      val e = Tables.embeddings(spark, sfDir)
      val key = s"${sfDir}_s30spec"
      def meta(): Option[String] = sources.IndexStore.readMeta(spark,
        sources.IndexStore.cellIndexDir(key))
      // quiet: an empty delete set must not trip or swap
      val none = e.filter(lit(false)).select(col("vec_id").as("del_id"))
      val (c1, _) = operators.Similarity.compactIfNeeded(spark, key, e, none,
        nCells = operators.Similarity.IvfNCells)
      CacheScope.releaseAll()
      val fpFull = meta()
      assert(!c1, "an empty delete set tripped compaction")
      assert(fpFull.isDefined)
      // tripped: the %7 set (~143 permille/cell) must swap the artifact
      val deletes = e.filter(col("vec_id") %
          operators.Similarity.S29DeleteMod === 0)
        .select(col("vec_id").as("del_id"))
      val (c2, (cents, asg2, entries, graph)) =
        operators.Similarity.compactIfNeeded(spark, key, e, deletes,
          nCells = operators.Similarity.IvfNCells)
      assert(c2, "the %7 delete set did not trip compaction")
      assert(meta().isDefined && meta() != fpFull,
        "compaction did not swap the artifact fingerprint")
      // the compacted lists carry no ghost
      val delSet = deletes.collect().map(_.getLong(0)).toSet
      val ghost = asg2.select(col("vec_id")).collect().map(_.getLong(0))
        .filter(delSet.contains)
      assert(ghost.isEmpty, s"ghosts survived compaction: ${ghost.take(5)}")
      // post-compaction serve ≡ a fresh inline build on the retained
      // corpus — the swap must not be a cheaper degraded path
      val served = operators.Similarity
        .cellProbeSearchOn(cents, asg2, entries, graph)
        .collect().map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      val fresh = operators.Similarity
        .cellProbeSearch(e.join(deletes, e("vec_id") === col("del_id"),
            "left_anti"),
          nCells = operators.Similarity.IvfNCells)
        .collect().map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      assert(served.nonEmpty, "post-compaction serve returned nothing")
      assert(served == fresh,
        "post-compaction serve diverged from a fresh retained build")
    }
  }

  test("s31 standing PQ index: saved serve ≡ inline build, warm hit keeps " +
      "the fingerprint") {
    import org.apache.spark.sql.functions._
    withIndexRoot("graft_index_s31spec") {
      val e = Tables.embeddings(spark, sfDir)
      val key = s"${sfDir}_s31spec"
      def meta(): Option[String] = sources.IndexStore.readMeta(spark,
        sources.IndexStore.pqIndexDir(key))
      val (c1, a1, cb1, cd1) = sources.IndexStore.ensurePqIndex(spark, key, e,
        nCells = operators.Similarity.IvfNCells)
      val fp1 = meta()
      assert(fp1.isDefined, "cold build left no fingerprint")
      val served = operators.Similarity.pqServeOn(c1, a1, cb1, cd1)
        .collect().map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      val inline = operators.Similarity.pqServing(e,
        nCells = operators.Similarity.IvfNCells)
        .collect().map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      assert(served.nonEmpty, "standing PQ serve returned nothing — vacuous")
      assert(served == inline,
        "the saved PQ artifact serves differently from the inline build")
      // warm: a second ensure must be a pure load — same fingerprint
      val (c2, a2, _, _) = sources.IndexStore.ensurePqIndex(spark, key, e,
        nCells = operators.Similarity.IvfNCells)
      assert(meta() == fp1, "a warm hit rewrote the artifact")
      // the artifact's corpus-sized frames come back off parquet with
      // the cell key the layout partitions by
      assert(a2.columns.toSeq == Seq("vec_id", "cell", "mv"))
      assert(c2.columns.toSeq == Seq("j", "c_mv"))
      CacheScope.releaseAll()
    }
  }

  test("servingNCells: sqrt-scaled, IvfNCells-floored, rounded, capped") {
    import operators.Similarity.{servingNCells, IvfNCells}
    assert(servingNCells(0L) == IvfNCells)
    assert(servingNCells(1L) == IvfNCells)
    assert(servingNCells(256L) == IvfNCells) // √256 = 16
    // √2000 ≈ 44.7 → 45 → next multiple of 16
    assert(servingNCells(2000L) == 48)
    // √20000 ≈ 141.4 → 144
    assert(servingNCells(20000L) == 144)
    // monotone: more data never means fewer cells
    val pts = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
    assert(pts.map(servingNCells).sliding(2).forall(p => p(0) <= p(1)))
    // capped so the centroid table stays broadcastable
    assert(servingNCells(Long.MaxValue) == (1 << 18))
  }

  test("beam width resolves explicit > session conf > shipped default") {
    import org.apache.spark.sql.functions._
    import operators.Similarity.{beamWidthOf, nProbeOf, GsBeam, S23NProbe}
    assert(beamWidthOf(spark) == GsBeam)
    assert(beamWidthOf(spark, 32) == 32)
    // the probe-count knob resolves the same way
    assert(nProbeOf(spark) == S23NProbe)
    assert(nProbeOf(spark, 12) == 12)
    spark.conf.set("spark.graft.ann.nprobe", "10")
    try {
      assert(nProbeOf(spark) == 10)
      assert(nProbeOf(spark, 12) == 12, "explicit nprobe must win")
    } finally spark.conf.unset("spark.graft.ann.nprobe")
    spark.conf.set("spark.graft.ann.beamWidth", "24")
    try {
      assert(beamWidthOf(spark) == 24)
      assert(beamWidthOf(spark, 32) == 32, "explicit width must win")
      // the knob reaches the serving path: a wider beam can only add
      // results per (q, cell) — and the default-path result equals
      // the explicitly-pinned one, so the conf is actually read
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      val (cents, asg, entries, graph) =
        operators.Similarity.servingIndex(e,
          operators.Similarity.IvfNCells)
      val viaConf = operators.Similarity
        .cellProbeSearchOn(cents, asg, entries, graph)
        .collect().map(_.mkString("|")).toSet
      spark.conf.unset("spark.graft.ann.beamWidth")
      val pinned24 = operators.Similarity.cellProbeSearchFor(
        asg.filter(col("vec_id") % 97 === 0 &&
            col("vec_id") < operators.Similarity.QueryIdBound)
          .select(col("vec_id").as("q_id"), col("mv").as("q_mv")),
        cents, asg, entries, graph, beamWidth = 24)
        .collect().map(_.mkString("|")).toSet
      CacheScope.releaseAll()
      assert(viaConf == pinned24,
        "session-conf beam width did not reach the serving path")
    } finally {
      if (spark.conf.getOption("spark.graft.ann.beamWidth").isDefined)
        spark.conf.unset("spark.graft.ann.beamWidth")
    }
  }

  test("LSH-mirror suite entries refuse a non-fixture embedding dim " +
      "loudly; dim-generic entries stay generic") {
    spark.conf.set("spark.graft.embedding.dim", "128")
    try {
      // entries across the mirror families — the blockedKnn family,
      // the v2-init graph family, and the refresh composite — all
      // wear the one SparkEntry-level guard
      for (name <- Seq("d05_embedding_neardup", "s20_nn_descent",
          "s23_cell_search", "s27_index_refresh")) {
        val ex = intercept[IllegalArgumentException] {
          SparkEntry.queries(name)(spark, sfDir)
        }
        assert(ex.getMessage.contains("plane matrices"),
          s"$name failed for the wrong reason: ${ex.getMessage}")
      }
      // an entry whose oracle has no plane literals must stay
      // dim-generic (128 > the actual 64-wide rows is a configured
      // UPPER BOUND, not a mismatch, for the engine paths)
      assert(SparkEntry.queries("s01_ann_bruteforce")(spark, sfDir)
        .count() > 0)
      CacheScope.releaseAll()
    } finally spark.conf.unset("spark.graft.embedding.dim")
  }

  test("cell-probe search for a corpus vector excludes the query's own id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val (cents, asg, entries, graph) =
      operators.Similarity.servingIndex(e, operators.Similarity.IvfNCells)
    val asgP = CacheScope.persisted(asg)
    // a query that clones corpus vector v under v's own id: v is 'self'
    // (it would win at d2 = 0) and must leave its top-K
    val v = asgP.orderBy(col("vec_id")).head()
    val vid = v.getLong(0)
    val vmv = v.getAs[scala.collection.Seq[Long]]("mv").toList
    val q = Seq((vid, vmv)).toDF("q_id", "q_mv")
    val inc = operators.Similarity.cellProbeSearchFor(
      q, cents, asgP, entries, graph).collect()
    CacheScope.releaseAll()
    assert(inc.nonEmpty, "the query found no neighbour")
    assert(!inc.exists(_.getLong(2) == vid),
      "the query's own id was not excluded")
  }
}
