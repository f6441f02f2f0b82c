package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-row fingerprint expressions for document dedup.
  *
  * SimHash and MinHash are per-document computations; expressing them
  * as explode + groupBy + 64 aggregates forces a full shuffle of every
  * token. As native expressions they run inside the scan projection —
  * zero shuffle, and at 100 TB the dedup signature stage becomes a
  * map-only pass.
  *
  * All expressions generate code (a single static call into
  * [[TextHashOps]], the `StaticInvoke` pattern) so the surrounding
  * stage stays in WholeStageCodegen and the hot loop is a small
  * monomorphic JIT-friendly method — the CodegenFallback/interpreted
  * path measured 100×+ slower on cold JVMs (JIT megamorphism), which
  * is exactly what a run-once benchmark or a fresh executor sees.
  *
  * Hashing uses Spark's own XXH64 over the UTF8String bytes in place —
  * no copies, no boxing.
  */
object TextHashOps {
  private val space = UTF8String.fromString(" ")

  @inline def hashToken(t: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), seed)

  /** n-token shingles in document order (duplicates kept). */
  def wordShingles(arr: ArrayData, n: Int): ArrayData = {
    val total = arr.numElements()
    val toks = new Array[UTF8String](total)
    var m = 0
    var i = 0
    while (i < total) {
      if (!arr.isNullAt(i)) { toks(m) = arr.getUTF8String(i); m += 1 }
      i += 1
    }
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    if (m < n) {
      val parts = java.util.Arrays.copyOfRange(toks, 0, m)
      return new GenericArrayData(Array[Any](concatTokens(parts, 0, m)))
    }
    val out = new Array[Any](m - n + 1)
    i = 0
    while (i <= m - n) {
      out(i) = concatTokens(toks, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** concat toks[from, from+len) with single spaces, no Seq wrapping. */
  private def concatTokens(toks: Array[UTF8String], from: Int, len: Int): UTF8String = {
    var bytes = len - 1 // spaces
    var j = 0
    while (j < len) { bytes += toks(from + j).numBytes(); j += 1 }
    val buf = new Array[Byte](bytes)
    var off = 0
    j = 0
    while (j < len) {
      if (j > 0) { buf(off) = ' '; off += 1 }
      val t = toks(from + j)
      t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
      off += t.numBytes()
      j += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** 64-bit SimHash: sign of per-bit votes of each token's xxh64. */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hashToken(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) >= 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** k-slot minhash signature (double-hashing permutations h1 + i*h2). */
  def minhashSignature(arr: ArrayData, k: Int): ArrayData =
    new GenericArrayData(minhashMins(arr, k))

  private def minhashMins(arr: ArrayData, k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        val h1 = hashToken(t, 42L)
        val h2 = hashToken(t, 1337L) | 1L // odd → full-period
        var j = 0
        while (j < k) {
          val h = h1 + j * h2
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  /** d02's md5-keyed Kirsch–Mitzenmacher LSH band keys — the codegen
    * twin of the column formulation
    *   hp  = transform(sh, g → (h1 = conv(substr(md5(g),1,12),16,10),
    *                            h2 = conv(substr(md5(g),17,12),16,10)))
    *   bhs = transform(sequence(0,bands−1), b → md5(concat(b, ':',
    *           array_join(transform(sequence(0,rows−1), r →
    *             cast(array_min(transform(hp, p →
    *               p.h1 + (b·rows+r)·p.h2)) as string)), ','))))
    * evaluated bit-identically (md5 of the UTF-8 bytes, big-endian
    * 48-bit h1/h2, decimal Long.toString slot mins, nulls-skipped
    * join) — but as ONE tight JIT-friendly loop instead of a nest of
    * interpreted higher-order functions (transform/array_min are
    * CodegenFallback: the r14 profile measured the nest at ~100 s of
    * executor CPU per evaluation at sf0.1, ~25 ms/doc). The DuckDB
    * oracle mirror (d02h/d02slots/d02bands CTEs) is untouched: it
    * checks this expression's output hash-exactly at every SF.
    * A NULL shingle array produces the same keys as an empty one
    * (callers coalesce — the column form's junk-key behavior). */
  def md5KmBands(arr: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val k = bands * rowsPerBand
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { // array_min skips NULL elements
        any = true
        val dig = md.digest(arr.getUTF8String(i).getBytes)
        val h1 = be48(dig, 0) // hex chars 1–12  = bytes 0..5
        val h2 = be48(dig, 8) // hex chars 17–28 = bytes 8..13
        var s = 0
        while (s < k) {
          val v = h1 + s * h2 // s ≤ 63, h2 < 2⁴⁸ → < 2⁵⁵: no overflow
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(48)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      sb.append(b).append(':')
      // no shingles → every slot min is NULL → array_join emits ""
      if (any) {
        var r = 0
        while (r < rowsPerBand) {
          if (r > 0) sb.append(',')
          sb.append(mins(b * rowsPerBand + r))
          r += 1
        }
      }
      out(b) = UTF8String.fromString(hex32(md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      b += 1
    }
    new GenericArrayData(out)
  }

  private def be48(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var j = 0
    while (j < 6) { v = (v << 8) | (d(off + j) & 0xFFL); j += 1 }
    v
  }

  private def hex32(d: Array[Byte]): String = {
    val hc = "0123456789abcdef"
    val cs = new Array[Char](32)
    var j = 0
    while (j < 16) {
      cs(2 * j) = hc((d(j) >> 4) & 0xF)
      cs(2 * j + 1) = hc(d(j) & 0xF)
      j += 1
    }
    new String(cs)
  }

  /** LSH band bucket keys: the signature digested rowsPerBand at a time. */
  def minhashBands(arr: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val mins = minhashMins(arr, bands * rowsPerBand)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var r = 0
      while (r < rowsPerBand) {
        h = XXH64.hashLong(mins(b * rowsPerBand + r), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03, the MOSS algorithm): rolling polynomial hash over char
    * k-grams, keep the minimum hash of every window of `w` consecutive
    * k-grams (rightmost min on ties), return the DISTINCT sorted
    * fingerprint set. Guarantees any shared substring of length
    * ≥ w + k - 1 yields at least one shared fingerprint.
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val B = 1000000007L
    var pow = 1L // B^(k-1)
    var i = 1
    while (i < k) { pow *= B; i += 1 }
    val nGrams = n - k + 1
    val hashes = new Array[Long](nGrams)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xFF); i += 1 }
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - (bytes(i - 1) & 0xFF) * pow) * B + (bytes(i + k - 1) & 0xFF)
      hashes(i) = h
      i += 1
    }
    val picked = new java.util.TreeSet[java.lang.Long]()
    if (nGrams <= w) {
      var min = hashes(0)
      i = 1
      while (i < nGrams) { if (hashes(i) <= min) min = hashes(i); i += 1 }
      picked.add(min)
    } else {
      var start = 0
      while (start + w <= nGrams) {
        var min = hashes(start)
        var j = start + 1
        while (j < start + w) { if (hashes(j) <= min) min = hashes(j); j += 1 }
        picked.add(min)
        start += 1
      }
    }
    val out = new Array[Long](picked.size)
    val it = picked.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Exact Jaccard of the two DISTINCT sets (inputs need not be
    * deduplicated). */
  def arrayJaccard(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) sa.add(a.getUTF8String(i)); i += 1
    }
    val sb = new java.util.HashSet[UTF8String]()
    i = 0
    while (i < b.numElements()) {
      if (!b.isNullAt(i)) sb.add(b.getUTF8String(i)); i += 1
    }
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

sealed trait StringArrayInput { self: Expression =>
  protected def inputExpr: Expression
  protected def name: String
  def checkStringArray(): TypeCheckResult = inputExpr.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires ARRAY<STRING>, got ${other.catalogString}")
  }
}

/** simhash64(tokens ARRAY<STRING>) → BIGINT. */
case class SimHash64(child: Expression) extends UnaryExpression
    with StringArrayInput {
  override def prettyName: String = "simhash64"
  protected def inputExpr: Expression = child
  protected def name: String = prettyName
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = checkStringArray()
  override def nullSafeEval(v: Any): Any =
    TextHashOps.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.simhash64($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** word_shingles(tokens ARRAY<STRING>, n) → ARRAY<STRING>. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression
    with StringArrayInput {
  require(n >= 1, "shingle size must be >= 1")
  override def prettyName: String = "word_shingles"
  protected def inputExpr: Expression = child
  protected def name: String = prettyName
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = checkStringArray()
  override def nullSafeEval(v: Any): Any =
    TextHashOps.wordShingles(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** minhash_signature(shingles ARRAY<STRING>, k) → ARRAY<BIGINT>. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with StringArrayInput {
  override def prettyName: String = "minhash_signature"
  protected def inputExpr: Expression = child
  protected def name: String = prettyName
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = checkStringArray()
  override def nullSafeEval(v: Any): Any =
    TextHashOps.minhashSignature(v.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashOps.minhashSignature($c, $numHashes)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** minhash_bands(shingles ARRAY<STRING>) → ARRAY<BIGINT> of `bands`
  * LSH bucket keys. One expression rather than 16 column formulas over
  * a signature column: Catalyst's CollapseProject inlines a projected
  * expression into every downstream reference, so 16 band columns over
  * `minhash_signature(...)` evaluate the signature 16× per row
  * (measured: 73 s → ~1 s on sf0.1).
  */
case class MinHashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with StringArrayInput {
  override def prettyName: String = "minhash_bands"
  protected def inputExpr: Expression = child
  protected def name: String = prettyName
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = checkStringArray()
  override def nullSafeEval(v: Any): Any =
    TextHashOps.minhashBands(v.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashOps.minhashBands($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** md5_km_bands(shingles ARRAY<STRING>) → ARRAY<STRING> of `bands`
  * md5-keyed Kirsch–Mitzenmacher LSH band keys (d02's oracle-mirrored
  * sketch — see [[TextHashOps.md5KmBands]]). One codegen expression
  * rather than the transform/array_min nest: higher-order functions
  * are CodegenFallback (interpreted), and the nest evaluates
  * bands·rows interpreted lambdas per shingle. */
case class Md5KmBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with StringArrayInput {
  override def prettyName: String = "md5_km_bands"
  protected def inputExpr: Expression = child
  protected def name: String = prettyName
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = checkStringArray()
  override def nullSafeEval(v: Any): Any =
    TextHashOps.md5KmBands(v.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashOps.md5KmBands($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** winnow_fingerprints(text STRING, k, w) → ARRAY<BIGINT>: distinct
  * sorted winnowing fingerprints (rolling-hash k-grams, per-window
  * minima — the MOSS document-fingerprint scheme). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1)
  override def prettyName: String = "winnow_fingerprints"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires STRING, got ${other.catalogString}")
  }
  override def nullSafeEval(v: Any): Any =
    TextHashOps.winnow(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.winnow($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array_jaccard(a ARRAY<STRING>, b ARRAY<STRING>) → DOUBLE: exact
  * Jaccard similarity of the two DISTINCT sets. Used to verify LSH
  * candidate pairs — runs once per candidate, not per token pair.
  */
case class ArrayJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "array_jaccard"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("array_jaccard requires ARRAY<STRING> inputs")
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    TextHashOps.arrayJaccard(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TextHashOps.arrayJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object TextHashFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def word_shingles(tokens: Column, n: Int = 3): Column =
    column(WordShingles(expression(tokens), n))
  def minhash_signature(tokens: Column, numHashes: Int = 64): Column =
    column(MinHashSignature(expression(tokens), numHashes))
  def minhash_bands(shingles: Column, bands: Int = 16, rowsPerBand: Int = 4): Column =
    column(MinHashBands(expression(shingles), bands, rowsPerBand))
  def md5_km_bands(shingles: Column, bands: Int = 16, rowsPerBand: Int = 4): Column =
    column(Md5KmBands(expression(shingles), bands, rowsPerBand))
  def array_jaccard(a: Column, b: Column): Column =
    column(ArrayJaccard(expression(a), expression(b)))
  def winnow_fingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    column(WinnowFingerprints(expression(text), k, w))

  /** SQL registration. Integer arguments must be literals; one a call
    * omits takes the Column API's default. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", es => SimHash64(es.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", es => WordShingles(es.head,
        intArg("word_shingles", es, 1, Some(3))), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature", es => MinHashSignature(es.head,
        intArg("minhash_signature", es, 1, Some(64))), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_bands", es => MinHashBands(es.head,
        intArg("minhash_bands", es, 1, Some(16)),
        intArg("minhash_bands", es, 2, Some(4))), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_jaccard", es => ArrayJaccard(es.head, es(1)), "built-in")
  }

  /** Argument `i` of a SQL call to `fn` as an integer literal:
    * `default` when the call omits it (required when None). */
  private[functions] def intArg(fn: String, es: Seq[Expression], i: Int,
      default: Option[Int] = None): Int =
    Math.toIntExact(longArg(fn, es, i, default.map(_.toLong)))

  private[functions] def longArg(fn: String, es: Seq[Expression], i: Int,
      default: Option[Long] = None): Long = {
    def bad(why: String) =
      throw new IllegalArgumentException(s"$fn: argument ${i + 1} $why")
    if (es.length <= i) default.getOrElse(bad("is required"))
    else if (!es(i).foldable) bad(s"must be an integer literal, got ${es(i).sql}")
    else es(i).eval() match {
      case n: Int => n.toLong
      case n: Long => n
      case n: Short => n.toLong
      case n: Byte => n.toLong
      case other => bad(s"must be an integer literal, got $other")
    }
  }
}
