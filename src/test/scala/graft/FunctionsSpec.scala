package graft

import graft.functions.TextHashFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Unit + property tests for the native expressions (both the
  * interpreted eval path, used inside broadcast builds, and the
  * codegen path, used in WholeStageCodegen stages, are exercised —
  * DataFrame execution takes codegen, literal folding takes eval). */
class FunctionsSpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine_similarity known values + SQL registration") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 2f), Array(2f, 4f), 1.0),
      (Array(1f, 0f), Array(-1f, 0f), -1.0),
      (Array(0f, 0f), Array(1f, 1f), 0.0), // zero vector convention
    ).toDF("a", "b", "expected")
    val got = df.select(cosine_similarity($"a", $"b").as("c"), $"expected").collect()
    got.foreach { r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9) }

    val s2 = spark.newSession()
    graft.functions.VectorFunctions.register(s2)
    graft.functions.TextHashFunctions.register(s2)
    import s2.implicits._
    Seq((Array(3f, 4f), Array(3f, 4f))).toDF("a", "b").createOrReplaceTempView("v")
    assert(s2.sql("SELECT cosine_similarity(a, b) FROM v").first().getDouble(0) === 1.0)
    // integer literals reach the expression; an omitted one takes the
    // Column API's default
    val r = s2.sql(
      """SELECT simhash64(array('a','b')) AS h,
        |  array_jaccard(array('a','b'), array('b','c')) AS j,
        |  cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  minhash_bands(word_shingles(array('a','b','c','d'))) AS mb,
        |  hyperplane_sigs(array(1.0D, 2.0D), 3, 5, 8, 42) AS hs,
        |  size(word_shingles(array('a','b','c','d'))) AS sh_default,
        |  size(word_shingles(array('a','b','c','d'), 2)) AS sh_2,
        |  size(minhash_signature(array('a','b'))) AS sig_default,
        |  size(minhash_signature(array('a','b'), 8)) AS sig_8,
        |  size(minhash_bands(array('a','b'), 4, 2)) AS bands_4
        |""".stripMargin).first()
    assert(!r.isNullAt(0))
    assert(math.abs(r.getAs[Double]("j") - 1.0 / 3.0) < 1e-9)
    assert(r.getAs[Double]("c") === 1.0)
    assert(r.getAs[scala.collection.Seq[Long]]("mb").length == 16)
    assert(r.getAs[Int]("sh_default") == 2 && r.getAs[Int]("sh_2") == 3)
    assert(r.getAs[Int]("sig_default") == 64 && r.getAs[Int]("sig_8") == 8)
    assert(r.getAs[Int]("bands_4") == 4)
    val byColumn = spark.range(1)
      .select(hyperplane_sigs(array(lit(1.0), lit(2.0)), 3, 5, 8, 42L)).first()
    assert(r.getAs[scala.collection.Seq[Int]]("hs") == byColumn.getSeq[Int](0))
    // a column where an integer literal belongs is rejected, not ignored
    val err = intercept[Exception](s2.sql(
      "SELECT word_shingles(toks, n) FROM VALUES (array('a','b','c'), 2) AS t(toks, n)")
      .collect())
    assert(err.getMessage.contains("word_shingles: argument 2 must be an integer literal"),
      err.getMessage)
  }

  test("dot_product mixed float/double arrays") {
    val df = Seq((Array(1f, 2f, 3f), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    assert(df.select(dot_product($"a", $"b")).first().getDouble(0) === 32.0)
  }

  test("simhash64: identical token sets → identical fingerprints; null-safe") {
    val df = Seq(
      Tuple1(Seq("a", "b", "c")),
      Tuple1(Seq("a", "b", "c")),
      Tuple1(Seq("x", "y", "z"))).toDF("toks")
    val fps = df.select(simhash64($"toks")).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
    val withNull = Seq(Tuple1(null: Seq[String])).toDF("toks")
      .select(simhash64($"toks")).first()
    assert(withNull.isNullAt(0))
  }

  test("word_shingles edge cases") {
    def sh(toks: Seq[String]): Seq[String] =
      Seq(Tuple1(toks)).toDF("t").select(word_shingles($"t", 3))
        .first().getAs[scala.collection.Seq[String]](0).toSeq
    assert(sh(Seq("a", "b", "c", "d")) == Seq("a b c", "b c d"))
    assert(sh(Seq("a", "b")) == Seq("a b")) // shorter than n → one shingle
    assert(sh(Seq.empty) == Seq.empty)
  }

  test("minhash signature/bands shapes and determinism") {
    val df = Seq(Tuple1(Seq("s1", "s2", "s3"))).toDF("sh")
    val sig = df.select(minhash_signature($"sh", 64)).first()
      .getAs[scala.collection.Seq[Long]](0)
    assert(sig.length == 64)
    val bands = df.select(minhash_bands($"sh", 16, 4)).first()
      .getAs[scala.collection.Seq[Long]](0)
    assert(bands.length == 16)
    val bands2 = df.select(minhash_bands($"sh", 16, 4)).first()
      .getAs[scala.collection.Seq[Long]](0)
    assert(bands == bands2)
  }

  test("array_jaccard properties: bounds, symmetry, self=1") {
    val tok = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val arrGen = Gen.nonEmptyListOf(tok)
    check(Prop.forAll(arrGen, arrGen) { (a: List[String], b: List[String]) =>
      val df = Seq((a, b)).toDF("a", "b")
      val j = df.select(array_jaccard($"a", $"b"), array_jaccard($"b", $"a"),
        array_jaccard($"a", $"a")).first()
      val jab = j.getDouble(0); val jba = j.getDouble(1); val jaa = j.getDouble(2)
      jab >= 0.0 && jab <= 1.0 && jab == jba && jaa == 1.0
    })
  }

  test("minhash approximates jaccard (property, coarse bound)") {
    // two sets with known overlap: minhash agreement rate ≈ jaccard
    val a = (1 to 100).map(i => s"t$i")
    val b = (51 to 150).map(i => s"t$i") // jaccard = 50/150 = 1/3
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(minhash_signature($"a", 256).as("sa"),
      minhash_signature($"b", 256).as("sb")).first()
    val sa = r.getAs[scala.collection.Seq[Long]](0)
    val sb = r.getAs[scala.collection.Seq[Long]](1)
    val agree = sa.zip(sb).count { case (x, y) => x == y } / 256.0
    assert(math.abs(agree - 1.0 / 3.0) < 0.12) // ±4σ
  }

  test("simhash hamming distance tracks token overlap") {
    def fp(toks: Seq[String]): Long =
      Seq(Tuple1(toks)).toDF("t").select(simhash64($"t")).first().getLong(0)
    val base = (1 to 50).map(i => s"w$i")
    val near = base.updated(0, "CHANGED")
    val far = (100 to 150).map(i => s"v$i")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(fp(base), fp(near)) < ham(fp(base), fp(far)))
  }

  test("hyperplane_sigs matches a literal-plane reference and is deterministic") {
    val nTables = 3; val bits = 5; val dim = 8; val seed = 42L
    val vecs = Seq(
      Array(1f, -2f, 3f, 0.5f, -0.25f, 4f, -1f, 2f),
      Array(-1f, 0f, 0f, 0f, 0f, 0f, 0f, 1f),
      Array.fill(8)(0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = df.select(col("id"),
        hyperplane_sigs(col("v"), nTables, bits, dim, seed).as("sigs"))
      .orderBy("id").collect()
      .map(_.getAs[scala.collection.Seq[Int]]("sigs").toSeq)
    // reference: same seeded gaussian stream, plain scala dot loop —
    // pins both the plane draw ORDER ([table][bit][dim]) and the
    // bit-set convention (bit b iff dot >= 0)
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nTables * bits * dim)(rnd.nextGaussian())
    val want = vecs.map { v =>
      (0 until nTables).map { t =>
        (0 until bits).foldLeft(0) { (sig, b) =>
          val off = (t * bits + b) * dim
          val dot = (0 until dim).map(d => v(d).toDouble * planes(off + d)).sum
          if (dot >= 0.0) sig | (1 << b) else sig
        }
      }
    }
    assert(got.toSeq == want)
    // second evaluation identical (cached plane matrix is stable)
    val again = df.select(hyperplane_sigs(col("v"), nTables, bits, dim, seed))
      .collect().map(_.getAs[scala.collection.Seq[Int]](0).toSeq)
    assert(again.toSeq == want)
    // truncation: a SHORTER vector hashes with the same plane prefix
    // as its zero-padded twin iff the tail contributes nothing — here
    // simply assert it evaluates and yields nTables signatures
    val short = Seq((0L, Array(1f, 2f))).toDF("id", "v")
      .select(hyperplane_sigs(col("v"), nTables, bits, dim, seed))
      .collect().head.getAs[scala.collection.Seq[Int]](0)
    assert(short.length == nTables)
  }

  test("l2_normalize: unit norm, zero-vector passthrough, cosine==dot after") {
    import graft.functions.VectorFunctions.l2_normalize
    val df = Seq((Array(3f, 4f), Array(0f, 0f))).toDF("v", "z")
    val r = df.select(l2_normalize($"v"), l2_normalize($"z")).first()
    val v = r.getAs[scala.collection.Seq[Double]](0)
    assert(math.abs(v(0) - 0.6) < 1e-12 && math.abs(v(1) - 0.8) < 1e-12)
    assert(r.getAs[scala.collection.Seq[Double]](1).toSeq == Seq(0.0, 0.0))
    val both = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .select(
        cosine_similarity($"a", $"b").as("cos"),
        dot_product(l2_normalize($"a"), l2_normalize($"b")).as("dotn"))
      .first()
    assert(math.abs(both.getDouble(0) - both.getDouble(1)) < 1e-12)
  }

  test("winnow_fingerprints: shared-substring guarantee and edge cases") {
    import graft.functions.TextHashFunctions.winnow_fingerprints
    def fps(t: String): Set[Long] =
      Seq(Tuple1(t)).toDF("t").select(winnow_fingerprints($"t", 8, 4))
        .first().getAs[scala.collection.Seq[Long]](0).toSet
    val shared = "a long shared passage of text that both documents contain"
    val a = fps(s"prefix one $shared suffix alpha")
    val b = fps(s"different beginning $shared and another ending")
    // winnowing guarantees a common fingerprint for any shared
    // substring of length >= w + k - 1 = 11
    assert(a.intersect(b).nonEmpty)
    assert(fps("short") == Set.empty[Long] || fps("short").size <= 1)
    assert(fps("") == Set.empty[Long])
    assert(fps("abcdefghij") == fps("abcdefghij")) // deterministic
    assert(fps("abcdefghij") != fps("abcdefghiX"))
  }

  test("TopKPairsAgg: exact top-k across partitions, bounded ties broken by id") {
    import graft.functions.TopKPairsAgg.top_k_by
    val rnd = new scala.util.Random(7)
    val rows = for (g <- 0 until 5; i <- 0 until 40)
      yield (g.toLong, rnd.nextInt(10).toLong, (g * 1000 + i).toLong)
    // repartition(8) forces the merge path (partial buffers combined
    // across tasks), not just single-buffer reduce
    val got = rows.toDF("g", "score", "id").repartition(8)
      .groupBy($"g").agg(top_k_by($"score", $"id", 3).as("topk"))
      .collect()
      .map(r => r.getAs[Long]("g") ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getAs[Long]("_1"), e.getAs[Long]("_2")))).toMap
    val want = rows.groupBy(_._1).view.mapValues(
      _.map(t => (t._2, t._3)).sortBy { case (s, id) => (-s, id) }.take(3).toSeq).toMap
    assert(got == want)
    // k larger than the group: returns everything, still sorted
    val small = Seq((1L, 5L, 10L), (1L, 9L, 11L)).toDF("g", "score", "id")
      .groupBy($"g").agg(top_k_by($"score", $"id", 4).as("topk"))
      .first().getSeq[org.apache.spark.sql.Row](1)
      .map(e => (e.getAs[Long]("_1"), e.getAs[Long]("_2")))
    assert(small == Seq((9L, 11L), (5L, 10L)))
  }

  test("MinHashUnionAgg: union signature == signature of the union") {
    import graft.functions.TextHashFunctions.minhash_signature
    import graft.functions.MinHashUnionAgg.minhash_union
    val parts = Seq(
      (1, Seq("a", "b", "c")),
      (1, Seq("c", "d")),
      (1, Seq("e"))).toDF("g", "toks")
    val viaAgg = parts
      .select($"g", minhash_signature($"toks", 64).as("sig"))
      .groupBy($"g").agg(minhash_union($"sig", 64).as("usig"))
      .first().getAs[scala.collection.Seq[Long]]("usig").toSeq
    val direct = Seq(Tuple1(Seq("a", "b", "c", "d", "e"))).toDF("toks")
      .select(minhash_signature($"toks", 64))
      .first().getAs[scala.collection.Seq[Long]](0).toSeq
    assert(viaAgg == direct)
  }

  test("estimated_jaccard ignores never-updated identity slots") {
    import spark.implicits._
    import graft.functions.MinHashUnionAgg.estimated_jaccard
    val M = Long.MaxValue
    val rows = Seq(
      // both all-identity (two empty groups): must be 0.0, not 1.0
      (Seq(M, M, M, M), Seq(M, M, M, M), 0.0),
      // 2 informative slots (1 agree, 1 differ), 2 both-identity
      (Seq(1L, 2L, M, M), Seq(1L, 3L, M, M), 0.5),
      // one-sided identity IS informative (one group saw shingles)
      (Seq(1L, M), Seq(1L, 5L), 0.5),
      // fully informative, all agree
      (Seq(7L, 8L), Seq(7L, 8L), 1.0))
    rows.zipWithIndex.foreach { case ((a, b, want), i) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(estimated_jaccard($"a", $"b")).first().getDouble(0)
      assert(got == want, s"case $i: got $got, want $want")
    }
  }

  test("normalized_dot == dot_product(l2_normalize, l2_normalize), full-length norms") {
    val df = Seq(
      (Array(1f, 2f, 2f), Array(2f, 1f, 2f)),
      (Array(0f, 0f, 0f), Array(1f, 0f, 0f)), // zero vector: both forms 0.0
      (Array(3f, 4f), Array(1f)), // mixed width: full-norm semantics
    ).toDF("a", "b")
      .select(
        dot_product(l2_normalize($"a"), l2_normalize($"b")).as("unfused"),
        graft.functions.VectorFunctions.normalized_dot($"a", $"b").as("fused"))
    // exact for zero vectors, ulp-level otherwise — including UNEQUAL
    // lengths, where CosineSimilarity (min-length norms) would give 1.0
    // but the unfused form gives 0.6
    df.as[(Double, Double)].collect().foreach { case (u, f) =>
      assert(math.abs(u - f) < 1e-12, s"unfused $u vs fused $f")
    }
    val mixed = df.as[(Double, Double)].collect().last
    assert(math.abs(mixed._1 - 0.6) < 1e-9)
  }

  test("int8_quantize/int8_dot match the HOF-lambda formulation bit for bit") {
    import org.apache.spark.sql.types.DoubleType
    // the lambda chain s16 shipped with in round 8 — kept here as the
    // reference semantics the codegen'd expressions must reproduce
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val xd = transform(col("embedding"), x => x.cast(DoubleType))
    val scaleL = aggregate(xd, lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / 127.0
    val codesL = when(col("scale_l") === 0.0,
        transform(col("embedding"), _ => lit(0.0)))
      .otherwise(transform(xd, x => floor(x / col("scale_l") + 0.5)))
    val qz = int8_quantize(col("embedding"))
    val both = e.withColumn("scale_l", scaleL).withColumn("codes_l", codesL)
      .withColumn("scale_n", qz.getField("scale"))
      .withColumn("codes_n", transform(qz.getField("codes"),
        b => b.cast(DoubleType)))
    assert(both.filter(col("scale_l") =!= col("scale_n")).count() == 0,
      "scale diverged from lambda formulation")
    assert(both.filter(col("codes_l") =!= col("codes_n")).count() == 0,
      "codes diverged from lambda formulation")
    // dot parity on consecutive-row pairs (self-join on vec_id+1)
    val qt = e.select(col("vec_id"), qz.getField("codes").as("codes"))
    val pairs = qt.join(qt.select((col("vec_id") - 1).as("vec_id"),
      col("codes").as("codes_b")), Seq("vec_id"))
    val dotL = aggregate(
      zip_with(transform(col("codes"), _.cast(DoubleType)),
        transform(col("codes_b"), _.cast(DoubleType)), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    assert(pairs.filter(
      int8_dot(col("codes"), col("codes_b")).cast(DoubleType) =!= dotL)
      .count() == 0, "int8_dot diverged from lambda dot")
    // empty + zero-vector degenerate paths
    val deg = Seq(Array.empty[Float], Array(0f, 0f, 0f)).toDF("embedding")
      .select(int8_quantize(col("embedding")).as("q"))
      .select(col("q.scale"), col("q.codes")).collect()
    assert(deg(0).getDouble(0) == 0.0 && deg(0).getSeq[Byte](1).isEmpty)
    assert(deg(1).getDouble(0) == 0.0 &&
      deg(1).getSeq[Byte](1) == Seq[Byte](0, 0, 0))
  }

  test("q71 z-order buckets pin both dims' top bits (the skipping invariant)") {
    // z >> 22 keeps the interleaved top-5 bits of x and y, so every
    // bucket's x-span and y-span must stay within one 2^11 stripe —
    // exactly the property that makes min/max file stats selective
    // for predicates on EITHER dim. Also checks the interleave on a
    // known value: x=3 (bits 0,1), y=1 (bit 0) → z = 1 + 4 + 2 = 7.
    val spark = TestSpark.spark
    val rows = operators.Relational2.q71_zorder(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("x_min") >> 11 == r.getAs[Long]("x_max") >> 11)
      assert(r.getAs[Long]("y_min") >> 11 == r.getAs[Long]("y_max") >> 11)
    }
    import spark.implicits._
    val z = Seq((1L, 3L, 1L)).toDF("event_id", "x", "y")
      .withColumn("z", (0 until 16).map { i =>
        (shiftright(col("x"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
          (shiftright(col("y"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
      }.reduce(_ + _)).collect().head.getAs[Long]("z")
    assert(z == 7L)
  }

  test("md5_km_bands equals the transform/array_min column nest it replaced") {
    // the d02 sketch's codegen rewrite must be BIT-identical to the
    // oracle-mirrored column formulation: same md5-derived (h1, h2),
    // same slot mins as decimal strings, same band-key md5 — including
    // the empty-array and NULL-array corners (both key as md5("b:"))
    // and NULL elements inside the array (array_min skips them)
    val spark = TestSpark.spark
    import graft.functions.TextHashFunctions.md5_km_bands
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("x y z")),
      (3L, Seq.empty[String]),
      (4L, null.asInstanceOf[Seq[String]]),
      (5L, Seq("a b c", null, "c d e"))
    ).toDF("doc_id", "sh")
    val bands = 16; val rows = 4
    val nest = docs.select(col("doc_id"), expr(
      """transform(sh, g -> named_struct(
        |  'h1', cast(conv(substr(md5(g), 1, 12), 16, 10) as bigint),
        |  'h2', cast(conv(substr(md5(g), 17, 12), 16, 10) as bigint)))"""
        .stripMargin).as("hp"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, ${bands - 1}), b -> md5(concat(
           |  cast(b as string), ':',
           |  array_join(transform(sequence(0, ${rows - 1}), r ->
           |    cast(array_min(transform(hp, p ->
           |      p.h1 + (b * $rows + r) * p.h2)) as string)),
           |    ','))))""".stripMargin).as("bhs"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val native = docs.select(col("doc_id"),
        md5_km_bands(coalesce(col("sh"), array().cast("array<string>")),
          bands, rows).as("bhs"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    // the nest yields NULL bhs for a NULL sh only through transform's
    // null propagation on hp — normalize that corner to the empty-sh
    // keys it produces inside d02's plan (concat never sees NULL there
    // because array_join(transform(NULL-hp ...)) folds to '')
    assert(native.length == nest.length)
    native.zip(nest).foreach { case ((idN, bN), (idO, bO)) =>
      assert(idN == idO)
      if (bO != null) assert(bN == bO, s"doc $idN")
      else {
        // NULL sh: compare against the empty-array nest directly
        val empty = docs.filter(col("doc_id") === 3L).select(
          md5_km_bands(col("sh"), bands, rows)).collect()
          .head.getSeq[String](0)
        assert(bN == empty, s"doc $idN (null sh ≡ empty sh)")
      }
    }
  }
}
