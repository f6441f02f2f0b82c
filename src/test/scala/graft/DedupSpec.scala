package graft

import graft.TestDirs.withTempDir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the scale-guarded dedup operators: prefix filtering
  * must be lossless (d04), and the d05 block-size guard must be a
  * no-op below the ceiling and route above it.
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("d04 prefix-filtered join finds exactly the naive all-pairs result") {
    import spark.implicits._
    val got = operators.Dedup.d04_ngram_jaccard(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    // naive reference: unfiltered inverted-index intersection counts
    val docs = Tables.documents(spark, sfDir)
    val tok = docs
      .select(col("doc_id"), col("source"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
    val ta = tok.select(col("source"), col("lang"), col("doc_id").as("id_a"), col("tok"))
    val tb = tok.select(col("source"), col("lang"), col("doc_id").as("id_b"), col("tok"))
    val inter = ta.join(tb, Seq("source", "lang", "tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val want = inter
      .join(sizes.toDF("id_a", "n_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("jaccard", Tables.rhalfup(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")), 4))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "fixture produced no near-dup pairs — test is vacuous")
    assert(got == want)
  }

  test("d04 prefix filtering is lossless on randomized corpora") {
    import spark.implicits._
    // small vocab forces hot tokens, exact-duplicate docs, and
    // threshold-boundary jaccards — the regimes where a buggy prefix
    // bound silently drops pairs
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val vocab = ('a' to 'l').map(_.toString)
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
      for (i <- 0 until 40) {
        val n = 1 + rnd.nextInt(8)
        val fresh = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
        // 25% of docs copy the PREVIOUS doc's text with one extra
        // token — near-identical-but-not-equal pairs at the threshold
        // boundary, the regime a wrong prefix bound drops
        val text =
          if (rnd.nextInt(4) == 0 && i > 0)
            docs(i - 1)._4 + " " + vocab(rnd.nextInt(vocab.length))
          else fresh
        // block key changes every 4 docs so consecutive (near-dup)
        // pairs usually share a block and actually get compared
        docs += ((i.toLong, s"src${(i / 4) % 2}", s"l${(i / 4) % 2}", text))
      }
      // force a few exact duplicates (jaccard 1.0 must survive)
      val withDups = docs.toSeq ++ docs.take(5).map {
        case (id, s0, l0, t) => (id + 1000, s0, l0, t)
      }
      val df = withDups.toDF("doc_id", "source", "lang", "text")
      val got = operators.Dedup.ngramJaccardPairs(df)
        .as[(Long, Long, Double)].collect().toSet
      // naive in-memory reference
      def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
      val rows = withDups.map { case (id, s0, l0, t) => (id, (s0, l0), toks(t)) }
      val want = (for {
        a <- rows; b <- rows
        if a._1 < b._1 && a._2 == b._2
        inter = (a._3 & b._3).size
        union = (a._3 | b._3).size
        if union > 0
        // same engine-stable half-up form as Tables.rhalfup
        j = math.floor(inter.toDouble / union * 1e4 + 0.5) / 1e4
        if j >= 0.8
      } yield (a._1, b._1, j)).toSet
      assert(want.exists(_._3 == 1.0), s"seed $seed: no exact dups — weak test")
      assert(got == want, s"seed $seed")
    }
  }

  test("d05 guard is a no-op when every block is under the ceiling") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val got = operators.Dedup.embeddingNearDup(e, Long.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    // naive reference: exact blocked top-1 via a plain window
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.cosine_similarity
    val a = e.select(col("label"), col("vec_id"), col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("nn_id"), col("embedding").as("emb_b"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nn_id"))
    val want = a.join(b, Seq("label"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos", round(cosine_similarity(col("emb_a"), col("emb_b")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("nn_id"), col("cos"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("d05 routes oversize blocks through LSH with correct cosines") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    // ceiling 0: every block is "oversize" — all rows take the LSH path
    val approx = operators.Dedup.embeddingNearDup(e, 0L)
    val rows = approx.as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "LSH path returned nothing")
    // at most one neighbor per vector
    assert(rows.map(_._1).distinct.length == rows.length)
    // every reported pair must share a label and report the true cosine
    import graft.functions.VectorFunctions.cosine_similarity
    val verify = approx
      .join(e.select(col("vec_id"), col("label").as("la"),
        col("embedding").as("ea")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("nn_id"), col("label").as("lb"),
        col("embedding").as("eb")), Seq("nn_id"))
      .withColumn("true_cos", round(cosine_similarity(col("ea"), col("eb")), 4))
    assert(verify.filter(col("la") =!= col("lb")).count() == 0)
    assert(verify.filter(col("cos") =!= col("true_cos")).count() == 0)
  }

  test("d13 truth sample is fixed-size: bounded at any corpus size") {
    import spark.implicits._
    val target = operators.Dedup.D13TargetSample
    // corpus far above the target: the hash-bucket modulus must keep
    // the sample near the target, NOT proportional to the corpus
    val big = spark.range(0L, 50000L).toDF("doc_id")
    val n = operators.Dedup.d13Sample(big, target).count()
    assert(n >= target / 2 && n <= 3 * target,
      s"sample $n outside [${target / 2}, ${3 * target}] for corpus 50k")
    // ten times the corpus again: the sample must NOT grow 10×
    val bigger = spark.range(0L, 500000L).toDF("doc_id")
    val n10 = operators.Dedup.d13Sample(bigger, target).count()
    assert(n10 >= target / 2 && n10 <= 3 * target,
      s"sample $n10 grew with the corpus — the proportional-sample bug is back")
    // corpus under the target: keep everything (k = 1)
    val small = spark.range(0L, 500L).toDF("doc_id")
    assert(operators.Dedup.d13Sample(small, target).count() == 500L)
  }

  test("d13 recall gate: banded MinHash finds >= 0.7 of exact truth") {
    val row = operators.Dedup.d13_lsh_recall(spark, sfDir).collect().head
    val nTrue = row.getAs[Long]("n_true_pairs")
    val recall = row.getAs[Double]("recall")
    assert(nTrue > 0, "no true near-dup pairs in fixture — gate is vacuous")
    // a deliberate nerf of the band parameters (e.g. 4 bands × 16 rows)
    // must fail here: this is a GATE on index quality, not a report
    assert(recall >= 0.7, s"LSH recall $recall below floor 0.7 ($nTrue truth pairs)")
    CacheScope.releaseAll()
  }

  test("d03 collision gate trips on a planted hot chunk, passes under the cap") {
    import spark.implicits._
    // 40 near-identical docs: every signature shares chunks, so
    // candidate volume ≈ 4·(40·39/2) — far over a cap of 100
    val hot = (0 until 40).map(i =>
        (i.toLong, s"the same boilerplate text repeated everywhere $i",
          "en", "web", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      operators.Dedup.simhashPairs(hot, 100L).count()
    }
    assert(e.getMessage.contains("candidate volume"),
      s"gate threw the wrong message: ${e.getMessage}")
    // the same corpus under the real cap completes (and still finds
    // the planted near-dups)
    assert(operators.Dedup.simhashPairs(hot, operators.Dedup.D03MaxCandidates)
      .count() > 0L)
  }

  test("d32 counts every true near-dup; d16's LSH matches are a subset") {
    // J(a,b) >= 0.5 > 0 implies a shared shingle, so d32's digest
    // banding generates EVERY true pair as a candidate and its verify
    // keeps exactly the truth; d16's MinHash banding may only miss
    // (never invent) — per-doc counts are componentwise <=
    val d32 = operators.Dedup.d32_screen_core(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_matches")).toMap
    CacheScope.releaseAll()
    val d16 = operators.Dedup.d16_incremental_neardup(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_matches")).toMap
    CacheScope.releaseAll()
    assert(d32.keySet == d16.keySet, "screen twins disagree on the delivery set")
    assert(d32.values.exists(_ > 0), "no true near-dups in fixture — vacuous")
    d16.foreach { case (doc, n16) =>
      assert(n16 <= d32(doc),
        s"doc $doc: LSH screen found $n16 matches > digest-band truth ${d32(doc)}")
    }
  }

  test("t05 bounded summary agrees with the full winnowing pair listing") {
    import spark.implicits._
    // truth: the corpus-shaped pair listing t05 now reduces
    val full = operators.TextAnalysis.winnowPairs(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    CacheScope.releaseAll()
    assert(full.nonEmpty, "fixture produced no winnowing pairs — vacuous")
    val byDoc = (full.map { case (a, b, n) => (a, (b, n)) } ++
      full.map { case (a, b, n) => (b, (a, n)) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = operators.TextAnalysis.t05_winnow_neardup(spark, sfDir).collect()
    CacheScope.releaseAll()
    assert(got.map(_.getAs[Long]("doc_id")).toSet == byDoc.keySet,
      "summary docs != docs appearing in the pair listing")
    got.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      val partners = byDoc(doc)
      assert(r.getAs[Long]("n_matches") == partners.length.toLong)
      assert(r.getAs[Long]("max_shared") == partners.map(_._2).max)
      val ex = r.getAs[String]("exemplars").split(";").toSeq
        .filter(_.nonEmpty)
        .map { kv =>
          val Array(p, n) = kv.split(":"); (p.toLong, n.toLong)
        }
      // exemplars must be EXACTLY the top-k of the truth (score desc,
      // partner asc) — not merely a subset
      val wantTop = partners.sortBy { case (p, n) => (-n, p) }.take(3).toSeq
      assert(ex == wantTop, s"doc $doc exemplars $ex != truth top-k $wantTop")
    }
  }

  test("t05 anchored pair build: exact under the cap, family-complete subset above it") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    // a 6-member duplicate family (df = 6 on every family fingerprint)
    // plus unrelated docs; anchor cap 2 < 6 < 20 exercises the capped
    // path while the stoplist floor keeps every fingerprint alive
    val famText = ("winnowing anchors bound the pair mass of replicated " +
      "duplicate families without losing any member of the family ") * 4
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows: Seq[Row] =
      (1L to 6L).map(i => Row(i, famText, "en", "src0", famText.length.toLong)) ++
        Seq(Row(50L, "completely different content about spark plans and " +
          "shuffles that matches nobody in this corpus at all", "en", "src0", 100L),
          Row(60L, "another unrelated document talking about parquet " +
            "footers and column pruning exclusively", "en", "src0", 90L))
    withTempDir("graft-anchor") { tmp =>
      val dir = tmp.toString
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def pairsOf(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
        df.as[(Long, Long, Long)].collect()
          .map { case (a, b, n) => (a, b) -> n }.toMap
      val exact = pairsOf(operators.TextAnalysis.winnowPairs(spark, dir))
      CacheScope.releaseAll()
      val capped = pairsOf(
        operators.TextAnalysis.winnowPairsAnchored(spark, dir, 2))
      CacheScope.releaseAll()
      val wide = pairsOf(
        operators.TextAnalysis.winnowPairsAnchored(spark, dir,
          operators.TextAnalysis.T05AnchorC))
      CacheScope.releaseAll()
      assert(exact.size == 15, s"family should form all 15 pairs, got $exact")
      // cap ABOVE every df: anchored build is the exact build, verbatim
      assert(wide == exact)
      // cap BELOW the family size: a subset anchored at the lowest ids,
      // with exact counts on every reported pair
      assert(capped.keySet == exact.keySet.filter { case (a, _) => a <= 2 })
      capped.foreach { case (k, n) => assert(n == exact(k),
        s"pair $k count $n != exact ${exact(k)}") }
      // family completeness: every doc in the exact listing still
      // appears in the capped one (as either side)
      val docsOf = (m: Map[(Long, Long), Long]) =>
        m.keySet.flatMap { case (a, b) => Set(a, b) }
      assert(docsOf(capped) == docsOf(exact))
    }
  }

  test("d02 verified pairs are a subset of brute-force shingle-Jaccard truth") {
    import graft.functions.TextHashFunctions.{word_shingles, array_jaccard}
    import spark.implicits._
    val got = operators.Dedup.d02_minhash_lsh(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    CacheScope.releaseAll()
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        word_shingles(split(lower(col("text")), "\\s+"), 3).as("sh"))
    val want = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        Tables.rhalfup(array_jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "fixture has no 0.5-Jaccard shingle pairs — vacuous")
    assert(got.nonEmpty, "d02 found nothing")
    // every d02 output pair is exact-verified, so it MUST appear in the
    // brute-force truth with the identical jaccard (LSH may miss pairs —
    // that loss is what the d13 recall gate bounds — but can never
    // invent or mis-score one)
    assert(got.subsetOf(want),
      s"d02 emitted pairs outside truth: ${got.diff(want).take(5)}")
  }

  test("d03 output equals brute-force hamming<=3 truth (pigeonhole is lossless)") {
    import graft.functions.TextHashFunctions.simhash64
    import spark.implicits._
    val got = operators.Dedup.d03_simhash(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        simhash64(split(lower(col("text")), "\\s+")).as("fp"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ida, fa) <- sigs; (idb, fb) <- sigs
      if ida < idb
      h = java.lang.Long.bitCount(fa ^ fb)
      if h <= 3
    } yield (ida, idb, h.toLong)).toSet
    assert(want.nonEmpty, "fixture has no hamming<=3 simhash pairs — vacuous")
    // 4 chunks of 16 bits and hamming <= 3 ⇒ at least one chunk is
    // identical (pigeonhole), so chunk-blocking loses nothing and the
    // verify filter removes every false candidate: exact equality
    assert(got == want)
  }

  test("d16 incremental screen: matches are a subset of brute-force truth, rejects are real") {
    import graft.functions.TextHashFunctions.{word_shingles, array_jaccard}
    import spark.implicits._
    val got = operators.Dedup.d16_incremental_neardup(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Boolean]("accepted"))).toMap
    CacheScope.releaseAll()
    // brute-force truth: shingle-Jaccard >= 0.5 of every delivery doc
    // against every corpus doc
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        word_shingles(split(lower(col("text")), "\\s+"), 3).as("sh"))
    val truth = sh.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), col("sh").as("sh_d"))
      .crossJoin(sh.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")))
      .filter(array_jaccard(col("sh_d"), col("sh_c")) >= 0.5)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every delivery doc must appear exactly once in the output
    val deliveryIds = sh.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got.keySet == deliveryIds)
    assert(truth.nonEmpty, "no true near-dups between delivery and corpus — vacuous")
    got.foreach { case (id, (n, acc)) =>
      // LSH can miss (bounded by the d13 recall gate) but never invent:
      // reported matches are exact-verified, so n <= truth count and a
      // rejection implies at least one true near-dup
      assert(n <= truth.getOrElse(id, 0L), s"doc $id: $n > truth")
      assert(acc == (n == 0L))
    }
    // and the screen must actually catch most of the truth docs
    val caught = got.count { case (id, (n, _)) => n > 0 && truth.contains(id) }
    assert(caught.toDouble >= 0.7 * truth.size,
      s"screen caught $caught of ${truth.size} truth docs")
  }

  test("d17 chains text pairs and media phash collisions into one cluster") {
    import spark.implicits._
    // text signal links 1-2; media signal links 2-3 (identical bytes);
    // doc 4's media is distinct -> stays out of every cluster
    val textPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val sharedBytes = Array.tabulate[Byte](64)(i => (i * 3).toByte)
    val media = Seq(
      operators.Multimodal.MediaRow(1L, Array.tabulate[Byte](64)(_.toByte), "webm", 8, 8, 1),
      operators.Multimodal.MediaRow(2L, sharedBytes, "webm", 8, 8, 1),
      operators.Multimodal.MediaRow(3L, sharedBytes.clone(), "webm", 8, 8, 1),
      operators.Multimodal.MediaRow(4L, Array.tabulate[Byte](64)(i => (i + 9).toByte), "webm", 8, 8, 1),
    ).toDF()
    val got = operators.Dedup.multimodalClusters(textPairs, media)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "cross-signal chain 1-2 (text) + 2-3 (media) must form ONE cluster")
  }

  test("d15 semantic dedup: domination by ANY lower-id same-cluster near-twin") {
    import spark.implicits._
    val e = Seq(
      // label a: v1≡v2 (cos 1 → v2 dominated by v1); v3 orthogonal (kept)
      (1L, "a", Array(1f, 0f, 0f)),
      (2L, "a", Array(2f, 0f, 0f)),
      (3L, "a", Array(0f, 1f, 0f)),
      // label b: identical to v1 but a DIFFERENT cluster — kept (SemDeDup
      // only compares within a cluster)
      (4L, "b", Array(1f, 0f, 0f)),
      // label b: near-twin of v4 above the 0.9 test threshold
      (5L, "b", Array(1f, 0.1f, 0f)),
    ).toDF("vec_id", "label", "embedding")
    val got = operators.Dedup.semanticDedup(e, 0.9)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("kept"), Option(r.getAs[Any]("dominated_by")))).toMap
    assert(got(1L) == (true, None))
    assert(got(2L) == (false, Some(1L)))
    assert(got(3L) == (true, None))
    assert(got(4L) == (true, None))
    assert(got(5L) == (false, Some(4L)))
  }

  test("d15 routes oversize blocks through LSH: subset-of-truth, twins still caught") {
    import spark.implicits._
    val e = Seq(
      (1L, "a", Array(1f, 0f, 0f)),
      (2L, "a", Array(2f, 0f, 0f)),   // identical direction to v1
      (3L, "a", Array(0f, 1f, 0f)),
      (4L, "b", Array(1f, 0f, 0f)),
      (5L, "b", Array(1f, 0.1f, 0f)), // near-twin of v4 (cos ≈ 0.995)
    ).toDF("vec_id", "label", "embedding")
    def collectDom(maxBlock: Long) =
      operators.Dedup.semanticDedup(e, 0.9, maxBlock).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          Option(r.getAs[java.lang.Long]("dominated_by")).map(_.longValue()))
        .toMap
    val exact = collectDom(Long.MaxValue)
    CacheScope.releaseAll()
    // ceiling 0: every block is "oversize" — all rows take the LSH path
    val approx = collectDom(0L)
    CacheScope.releaseAll()
    // every vector still carried; no fabricated dominations (LSH
    // candidates ⊆ all pairs, so a reported dominator must be real)
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (v, d) =>
      assert(d.isEmpty || d == exact(v),
        s"LSH tier fabricated dominator $d for $v (exact ${exact(v)})")
    }
    // exact same-direction twins always share a bucket — the LSH tier
    // must catch them
    assert(approx(2L) == Some(1L))
  }

  test("d15 planted skew: a 10k-member block rides the REAL ceiling's LSH tier") {
    import spark.implicits._
    import org.apache.spark.sql.types.FloatType
    // one label block 10× over D05MaxExactBlock — the reroute under a
    // genuinely oversized scope, not a fixture with the ceiling forced
    // to 0. 500 planted directions × 20 colinear members each:
    // positive scaling preserves every hyperplane sign, so colinear
    // twins share their LSH bucket DETERMINISTICALLY — recall on them
    // is a hard guarantee, not a probabilistic hope.
    val dim = Tables.embeddingDim(spark)
    val nVecs = 10000L
    val nDirs = 500
    val e = spark.range(nVecs).toDF("vec_id")
      .withColumn("label", lit(1))
      .withColumn("dir", (col("vec_id") % nDirs).cast("int"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)),
          j => ((pmod(hash(col("dir"), j), lit(2001)) - 1000).cast(FloatType)
            * (lit(1f) + col("vec_id").cast(FloatType) / lit(1e7f)))))
      .select(col("vec_id"), col("label"), col("embedding"))
    val out = operators.Dedup.semanticDedup(e, operators.Dedup.D15Tau).collect()
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    CacheScope.releaseAll()
    assert(out.length == nVecs, "oversized block lost carry rows")
    val dom = out.flatMap(r =>
      Option(r.getAs[java.lang.Long]("dominated_by"))
        .map(d => r.getAs[Long]("vec_id") -> d.longValue()))
    // recall: every non-first member of a direction group must be
    // dominated (its lower-id colinear twin is a guaranteed collision)
    val dominated = dom.map(_._1).toSet
    val missed = (nDirs.toLong until nVecs).filterNot(dominated.contains)
    assert(missed.isEmpty,
      s"${missed.length} colinear twins escaped the LSH tier, e.g. ${missed.take(5)}")
    // soundness (subset-of-truth): every reported domination is a real
    // lower-id τ-pair — LSH can only DROP pairs, never invent them
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    dom.foreach { case (v, d) =>
      assert(d < v, s"dominator $d not lower than victim $v")
      assert(cos(vecs(d), vecs(v)) >= operators.Dedup.D15Tau - 1e-4,
        s"fabricated domination $d -> $v below tau")
    }
  }

  test("d21 hub-and-spoke edges are linear and cluster like the clique") {
    import spark.implicits._
    // k1 = {2,5,9} → hub 2, two spokes; k2 singleton → no edge
    val groups = Seq(("k1", 5L), ("k1", 2L), ("k1", 9L), ("k2", 7L))
      .toDF("gkey", "doc_id")
    val edges = operators.Dedup.hubSpokeEdges(groups)
      .as[(Long, Long)].collect().toSet
    assert(edges == Set((2L, 5L), (2L, 9L)))
    // |group|-1 edges must produce the same components as the n² clique
    val clique = Seq((2L, 5L), (2L, 9L), (5L, 9L)).toDF("id_a", "id_b")
    val viaSpokes = operators.Dedup.dupClusters(
      edges.toSeq.toDF("id_a", "id_b")).as[(Long, Long)].collect().toSet
    val viaClique = operators.Dedup.dupClusters(clique)
      .as[(Long, Long)].collect().toSet
    assert(viaSpokes == viaClique)
  }

  test("d09 connected components: chain, triangle, isolated pair") {
    import spark.implicits._
    // chain 1-2-3-4-5: diameter 4, so min-label propagation needs
    // several rounds to pull 1 all the way to node 5; triangle with a
    // redundant edge; and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L),
    ).toDF("id_a", "id_b")
    val want = Set(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    // both tiers must emit the identical labeling: the union-find
    // fast path (default threshold) and the distributed propagation
    // loop (threshold 0 forces it)
    for (localMax <- Seq(operators.Dedup.LocalCCMaxEdges, 0L)) {
      val got = operators.Dedup.dupClusters(pairs, localMax)
        .as[(Long, Long)].collect().toSet
      assert(got == want, s"localMaxEdges=$localMax")
    }
  }

  test("d09 pointer jumping converges on a 300-deep chain within the cap") {
    import spark.implicits._
    // a path graph of diameter 299: plain min-label propagation needs
    // 299 rounds (far past the 25-round cap); with pointer jumping the
    // label chain halves every round (~log2 300 ≈ 9 rounds)
    val pairs = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // threshold 0 forces the distributed tier — this test exists to
    // pin the pointer-jumping round bound, which the union-find fast
    // path would otherwise bypass
    val got = operators.Dedup.dupClusters(pairs, 0L)
      .as[(Long, Long)].collect().toSet
    assert(got == (0L to 299L).map(_ -> 0L).toSet)
  }

  test("d09 distributed tier under reliable checkpoint(dir) — cluster mode") {
    import spark.implicits._
    // spark.graft.checkpointDir flips every CacheScope.cut in the
    // engine from localCheckpoint (blocks die with their executor) to
    // reliable checkpoint(dir) (files survive executor loss) — the
    // cluster deployment mode. Same labeling must come out, and the
    // cut must actually have written checkpoint files under the dir.
    withTempDir("graft-ckpt") { dir =>
      spark.conf.set("spark.graft.checkpointDir", dir.getAbsolutePath)
      try {
        val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
        val got = operators.Dedup.dupClusters(pairs, 0L) // force distributed tier
          .as[(Long, Long)].collect().toSet
        assert(got == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
          10L -> 10L, 11L -> 10L))
        def files(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
        assert(files(dir).exists(_.getName.startsWith("part-")),
          "no reliable checkpoint files written under spark.graft.checkpointDir")
      } finally {
        spark.conf.unset("spark.graft.checkpointDir")
        graft.CacheScope.releaseAll()
      }
    }
  }

  test("d09 connected components match union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    for (_ <- 1 to 3) {
      val n = 40 + rnd.nextInt(40)
      val edges = Seq.fill(n) {
        val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
        if (a < b) (a, b) else (b, a + 1) // no self loops
      }.distinct
      val gotLocal = operators.Dedup.dupClusters(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val got = operators.Dedup.dupClusters(edges.toDF("id_a", "id_b"), 0L)
        .as[(Long, Long)].collect().toMap
      assert(gotLocal == got)
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(v => v -> find(v)).toMap
      assert(got == want)
    }
  }

  test("d18 source overlap counts canonical dups once and gets Jaccard exact") {
    import spark.implicits._
    // srcA: {X, Y}; srcB: {X as a case/punct variant, Z, Z-dup}
    // canonical fp sets: A = {x, y} (2), B = {x, z} (2) — the exact
    // duplicate inside B must collapse in the DISTINCT, the case/punct
    // variant of X must still collide across sources
    val docs = Seq(
      (1L, "Alpha beta GAMMA", "en", "srcA"),
      (2L, "something else entirely", "en", "srcA"),
      (3L, "alpha, beta... gamma!!", "en", "srcB"),
      (4L, "unique to source b", "en", "srcB"),
      (5L, "unique to source b", "en", "srcB"),
    ).toDF("doc_id", "text", "lang", "source")
    val rows = operators.Dedup.sourceOverlap(docs).collect()
    CacheScope.releaseAll()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("src_a") == "srcA")
    assert(r.getAs[String]("src_b") == "srcB")
    assert(r.getAs[Long]("n_shared") == 1L)
    // jaccard = 1 / (2 + 2 - 1) = 0.333333 at 6 digits (half-up)
    assert(r.getAs[Double]("jaccard") == 0.333333)
  }

  test("d22 longest shared run: single 12-token run measured exactly") {
    import spark.implicits._
    val run12 = (1 to 12).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, run12 + " ua1 ua2 ua3"),
      (2L, "ub1 ub2 " + run12 + " ub3"),
      (3L, (1 to 12).map(i => s"z$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val rows = operators.Dedup.substringPairs(docs).collect()
    CacheScope.releaseAll()
    // a 12-token run ⇒ 5 consecutive shared 8-grams ⇒ max run 5+7=12,
    // robust to the differing offsets (diagonal-invariant)
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Long]("max_run_tokens") == 12L)
    assert(r.getAs[Long]("n_shared_grams") == 5L)
  }

  test("d22 disjoint runs don't merge; 8-token runs are below threshold") {
    import spark.implicits._
    val runA = (1 to 9).map(i => s"a$i").mkString(" ")
    val runB = (1 to 9).map(i => s"b$i").mkString(" ")
    val run8 = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      // same filler length ⇒ same diagonal, but the unshared gap
      // still has to split the islands
      (1L, runA + " fillx " + runB),
      (2L, runA + " filly " + runB),
      // an exactly-8-token shared run (one gram) must NOT qualify
      (10L, run8 + " ud1 ud2"),
      (11L, "ue1 " + run8),
    ).toDF("doc_id", "text")
    val rows = operators.Dedup.substringPairs(docs).collect()
    CacheScope.releaseAll()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Long]("max_run_tokens") == 9L,
      "two disjoint 9-token runs must not merge into one island")
    assert(r.getAs[Long]("n_shared_grams") == 4L)
  }

  test("d22 boilerplate grams above the df cap never generate pairs") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
    // 30 docs all sharing the same 10-token boilerplate: gram df=30 >
    // cap=greatest(20, 30/250)=20 ⇒ stoplisted, no quadratic pair set
    val docs = (1L to 30L).map(i => (i, boiler + s" u$i")).toDF("doc_id", "text")
    assert(operators.Dedup.substringPairs(docs).isEmpty)
    CacheScope.releaseAll()
  }

  test("d23 novelty fractions are exact on a crafted delivery") {
    import spark.implicits._
    val t = (1 to 15).map(i => s"t$i")
    val docs = Seq(
      // batch doc (3 % 7 == 3): 15 tokens ⇒ 8 grams; standing doc 1
      // holds its first 12 tokens ⇒ windows 1-5 seen, 6-8 novel
      (1L, t.take(12).mkString(" ")),
      (3L, t.mkString(" ")),
      // batch doc 10 (10 % 7 == 3): all grams novel
      (10L, (1 to 15).map(i => s"n$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val got = operators.Dedup.gramNovelty(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty")))).toMap
    CacheScope.releaseAll()
    assert(got.keySet == Set(3L, 10L))
    assert(got(3L) == ((8L, 3L, 0.375)))
    assert(got(10L) == ((8L, 8L, 1.0)))
  }

  test("d24 line dedup keeps first occurrence and reassembles in order") {
    import spark.implicits._
    val header = (1 to 10).map(i => s"h$i").mkString(" ")  // one full line
    val body1 = (1 to 10).map(i => s"a$i").mkString(" ")
    val body2 = (1 to 10).map(i => s"b$i").mkString(" ")
    val tail = "x1 x2 x3" // partial (3-token) final line
    val docs = Seq(
      (1L, s"$header $body1"),
      // doc 2 repeats the header (dropped) then unique body + short tail
      (2L, s"$header $body2 $tail"),
      // doc 3 is entirely the header: everything dedups away
      (3L, header),
    ).toDF("doc_id", "text")
    val got = operators.Dedup.lineDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text")))).toMap
    CacheScope.releaseAll()
    assert(got(1L) == ((2L, 2L, s"$header $body1")))
    assert(got(2L) == ((3L, 2L, s"$body2 $tail")))
    assert(got(3L) == ((1L, 0L, "")))
  }

  test("d26 boilerplate scrub removes >=minDocs lines everywhere, keeps rarer") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"n$i").mkString(" ")  // in 3 docs
    val shared2 = (1 to 10).map(i => s"s$i").mkString(" ") // in only 2
    val b1 = (1 to 10).map(i => s"a$i").mkString(" ")
    val b2 = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler $b1"),
      (2L, s"$boiler $shared2 $b2"),
      (3L, s"$boiler $shared2"),
    ).toDF("doc_id", "text")
    val got = operators.Dedup.boilerplateScrub(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text")))).toMap
    CacheScope.releaseAll()
    // boiler (3 docs) scrubbed from ALL — including its first
    // occurrence, the d24 difference; shared2 (2 docs) kept everywhere
    assert(got(1L) == ((2L, 1L, b1)))
    assert(got(2L) == ((3L, 2L, s"$shared2 $b2")))
    assert(got(3L) == ((2L, 1L, shared2)))
  }

  test("d27 shingle containment finds quoted doc, skips low overlap, folds mirrors") {
    import spark.implicits._
    val bigToks = (1 to 30).map(i => s"w$i")
    val big = bigToks.mkString(" ")              // 23 shingles
    val quoted = bigToks.take(12).mkString(" ")  // 5 shingles, all ⊂ big
    val half = (bigToks.take(6) ++ Seq("zz") ++ bigToks.drop(20)).mkString(" ")
    val docs = Seq(
      (1L, quoted, "en"),   // contained in 2: C = 5/5 = 1.0
      (2L, big, "en"),
      (3L, big, "en"),      // exact dup of 2: mirror emitted once (2,3)
      (4L, half, "en"),     // shares no 8-run with big → no row
      (5L, quoted, "fr"),   // other lang block: no cross-lang row
    ).toDF("doc_id", "text", "lang")
    val got = operators.Dedup.containmentPairs(docs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"))).toSet
    CacheScope.releaseAll()
    assert(got == Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
  }

  test("d28 density audit: clique clean, 5-path flagged as chain risk") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),                    // 3-clique
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))  // 5-path
      .toDF("id_a", "id_b")
    val got = operators.Dedup.clusterDensity(pairs).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_edges"), r.getAs[Double]("density"),
        r.getAs[Boolean]("is_clique"), r.getAs[Boolean]("chain_risk"))).toSeq
    CacheScope.releaseAll()
    assert(got == Seq(
      (1L, 3L, 3L, 1.0, true, false),
      (10L, 5L, 4L, 0.4, false, true)))
  }

  test("d25 integer pagerank matches hand-computed rounds on a path graph") {
    import spark.implicits._
    // path 1—2—3: deg(1)=deg(3)=1, deg(2)=2. Five damped integer
    // rounds (0.15 base, 17/20 share, floor div) computed by hand.
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = operators.Dedup.pairRank(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("rank_micro")))).toMap
    CacheScope.releaseAll()
    assert(got(1L) == ((1L, 668336L)))
    assert(got(2L) == ((2L, 1663322L)))
    assert(got(3L) == ((1L, 668336L)))
    // endpoints are symmetric; the hub strictly dominates
    assert(got(1L) == got(3L) && got(2L)._2 > got(1L)._2)
  }

  test("d19 finds the shared 8-gram span once per doc and ignores singles") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, span + " uniqA"),          // span at the head
      (2L, "uniqB " + span),          // same span, shifted
      (3L, (1 to 9).map(i => s"z$i").mkString(" ")), // disjoint
      (4L, span + " " + span),        // span TWICE in one doc
    ).map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val rows = operators.Dedup.repeatedNgrams(docs).collect()
    // the only gram in ≥2 docs is the span itself: docs 1, 2, 4 — the
    // double occurrence inside doc 4 must count once (distinct per doc)
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n_docs") == 3L)
    assert(rows.head.getAs[Long]("first_doc") == 1L)
  }

  test("d29 canonical is the best-quality cluster member; singletons self-map") {
    import spark.implicits._
    // docs 1/2: identical token SET (jaccard 1.0, same block) but doc 2
    // is twice as long → higher d08 quality → canonical; cluster label
    // stays min-id (1). doc 3 is an unrelated singleton.
    val set5 = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, set5),
      (2L, set5 + " " + set5),
      (3L, "zeta eta theta iota kappa"),
    ).map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val got = operators.Dedup.canonicalize(docs)
      .select("doc_id", "cluster_id", "canonical_id", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, 2L, false),
      (2L, 1L, 2L, true),
      (3L, 3L, 3L, true)))
  }

  test("d29 quality tie breaks to the smaller doc_id") {
    import spark.implicits._
    val t = (1 to 12).map(i => s"q$i").mkString(" ")
    val docs = Seq((7L, t), (4L, t))
      .map { case (id, x) => (id, x, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val got = operators.Dedup.canonicalize(docs)
      .select("doc_id", "canonical_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 4L), (7L, 4L)))
  }

  test("d30 removes cross-doc shared spans, keeps within-doc repetition") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"t$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $run a3 a4"),     // shares run with doc 2
      (2L, s"b1 $run b2"),           // shares run with doc 1
      (3L, s"c1 $rep c2 $rep c3"),   // rep twice but only in doc 3
      (4L, "d1 d2 d3"),              // shorter than the gram window
    ).map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val got = operators.Dedup.spanScrub(docs)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((12L, 8L, "a1 a2 a3 a4")))
    assert(got(2L) == ((10L, 8L, "b1 b2")))
    assert(got(3L) == ((19L, 0L, s"c1 $rep c2 $rep c3")))
    assert(got(4L) == ((3L, 0L, "d1 d2 d3")))
  }

  test("d31 report counts exact/near/boilerplate docs and exact mean quality") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
    val n10 = (1 to 10).map(i => s"n$i")
    val docs = Seq(
      (1L, "srcA", "alpha beta gamma delta"),
      (2L, "srcA", "alpha beta gamma delta"), // exact (and near) dup of 1
      (3L, "srcA", boiler + " tail3 x3"),     // boilerplate line holder
      (7L, "srcA", boiler + " tail7 y7"),     // boilerplate line holder
      (4L, "srcB", n10.mkString(" ")),
      (5L, "srcB", n10.reverse.mkString(" ")), // near dup of 4 (same set)
      (6L, "srcB", boiler + " tail6 z6"),      // 3rd boiler doc
    ).map { case (id, src, t) => (id, t, "en", src) }
      .toDF("doc_id", "text", "lang", "source")
    def q4(t: String): Long = {
      val nTok = t.split("\\s+").length
      val nPunct = t.count(c => ".,!?;:".contains(c))
      math.floor(math.min(nTok / 50.0, 1.0) *
        (1.0 - nPunct.toDouble / t.length) * 1e4 + 0.5).toLong
    }
    val rows = operators.Dedup.corpusReport(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    CacheScope.releaseAll()
    val qa = Seq("alpha beta gamma delta", "alpha beta gamma delta",
      boiler + " tail3 x3", boiler + " tail7 y7").map(q4)
    val qb = Seq(n10.mkString(" "), n10.reverse.mkString(" "),
      boiler + " tail6 z6").map(q4)
    // srcA: docs 1/2 exact+near dups; docs 3/7 hold the boiler line
    // (3/7 jaccard 10/14 < 0.8 — shared boilerplate is NOT near-dup)
    assert(rows("srcA") == ((4L, 2L, 2L, 2L, qa.sum / 4)))
    // srcB: 4/5 near (same token set, different text), 6 boiler
    assert(rows("srcB") == ((3L, 0L, 2L, 1L, qb.sum / 3)))
  }

  test("d30 scrubs overlapping shared spans to the exact covered union") {
    import spark.implicits._
    // doc 1 holds a 9-token run; doc 2 shares its first 8 tokens, doc 3
    // its last 8 — every position of doc 1's run is covered by some
    // shared gram (two overlapping gram windows), so all 9 go
    val r9 = (1 to 9).map(i => s"v$i").mkString(" ")
    val first8 = (1 to 8).map(i => s"v$i").mkString(" ")
    val last8 = (2 to 9).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 $r9 x2"),
      (2L, s"y1 $first8 y2"),
      (3L, s"z1 $last8 z2"),
    ).map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val got = operators.Dedup.spanScrub(docs)
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((9L, "x1 x2")))
    assert(got(2L) == ((8L, "y1 y2")))
    assert(got(3L) == ((8L, "z1 z2")))
  }

  test("d33 split never separates a near-dup pair; folds follow the cluster hash") {
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("d33_leakage_split")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val pairs = operators.Dedup
      .ngramJaccardPairs(Tables.documents(spark, dir))
      .select(col("id_a"), col("id_b")).collect()
    CacheScope.releaseAll()
    assert(pairs.nonEmpty, "no near-dup pairs at sf0.01 — test is vacuous")
    // the leakage invariant: both ends of every verified pair share a
    // fold key, hence a fold
    pairs.foreach { p =>
      val (a, b) = (out(p.getLong(0)), out(p.getLong(1)))
      assert(a._1 == b._1, s"pair ${p.getLong(0)}/${p.getLong(1)} fold keys differ")
      assert(a._2 == b._2, s"pair ${p.getLong(0)}/${p.getLong(1)} split leaks")
    }
    // every document is assigned, by the documented hash of its key
    assert(out.size == Tables.documents(spark, dir).count())
    out.foreach { case (_, (key, split)) =>
      val h = key % 2147483648L * 2654435761L % 4294967296L % 10L
      val want = if (h < 8) "train" else if (h == 8) "valid" else "test"
      assert(split == want)
    }
    assert(out.values.map(_._2).toSet == Set("train", "valid", "test"))
  }
}
