package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * A Scala UDF over `Array[Float]` deserializes the whole array per
  * call and blocks whole-stage codegen; these expressions read the
  * packed `ArrayData` in place and generate a tight Java loop, so
  * brute-force similarity scans stay inside WholeStageCodegen. At
  * 100 TB this is the difference between a CPU-bound scan and a
  * serialization-bound one.
  *
  * Both accept ARRAY<FLOAT> or ARRAY<DOUBLE> children and compute in
  * double (sequential accumulation — same order DuckDB's
  * list_cosine_similarity uses, so oracle results are bit-comparable
  * before rounding).
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  @inline protected final def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Java accessor snippet for codegen. */
  protected final def getter(v: String, i: String, dt: DataType): String =
    if (dt == FloatType) s"(double)$v.getFloat($i)" else s"$v.getDouble($i)"
}

/** cosine(a, b) = dot(a,b) / (||a|| * ||b||); 0.0 when either norm is 0. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val fa = elemType(left) == FloatType; val fb = elemType(right) == FloatType
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = get(a, i, fa); val y = get(b, i, fb)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${getter(a, i, elemType(left))};
         |  double $y = ${getter(b, i, elemType(right))};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : ($dot / $denom);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** normalized_dot(a, b) = dot_{min(len)}(a, b) / (‖a‖ · ‖b‖), 0.0 when
  * either full-length norm is 0 — the ONE-PASS equivalent of
  * `dot_product(l2_normalize(a), l2_normalize(b))`. NOT the same as
  * [[CosineSimilarity]] for unequal-length inputs: cosine truncates
  * the norms to min(length) too, while the unfused form (and this)
  * normalizes each side by its FULL norm — fusing to cosine would
  * change results materially for mixed-width vectors (e.g. a=[3,4],
  * b=[1]: cosine = 1.0, this = 0.6). For equal lengths the two agree
  * to the value (association differs at ulp level from the unfused
  * per-element divide).
  */
case class NormalizedDot(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "normalized_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val fa = elemType(left) == FloatType; val fb = elemType(right) == FloatType
    val na = a.numElements(); val nb = b.numElements()
    val n = math.min(na, nb)
    var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
    while (i < n) {
      val x = get(a, i, fa); val y = get(b, i, fb)
      dot += x * y; sa += x * x; sb += y * y; i += 1
    }
    // norm tails beyond the shared prefix
    while (i < na) { val x = get(a, i, fa); sa += x * x; i += 1 }
    i = n
    while (i < nb) { val y = get(b, i, fb); sb += y * y; i += 1 }
    val denom = math.sqrt(sa) * math.sqrt(sb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val dot = ctx.freshName("dot"); val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |int $la = $a.numElements(); int $lb = $b.numElements();
         |int $n = java.lang.Math.min($la, $lb);
         |double $dot = 0.0; double $sa = 0.0; double $sb = 0.0;
         |int $i = 0;
         |for (; $i < $n; $i++) {
         |  double $x = ${getter(a, i, elemType(left))};
         |  double $y = ${getter(b, i, elemType(right))};
         |  $dot += $x * $y; $sa += $x * $x; $sb += $y * $y;
         |}
         |for (; $i < $la; $i++) {
         |  double $x = ${getter(a, i, elemType(left))};
         |  $sa += $x * $x;
         |}
         |for ($i = $n; $i < $lb; $i++) {
         |  double $y = ${getter(b, i, elemType(right))};
         |  $sb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($sa) * java.lang.Math.sqrt($sb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : ($dot / $denom);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Plain dot product (used by the LSH hyperplane signatures). */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val fa = elemType(left) == FloatType; val fb = elemType(right) == FloatType
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += get(a, i, fa) * get(b, i, fb); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (${getter(a, i, elemType(left))}) * (${getter(b, i, elemType(right))});
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** l2_normalize(v) → ARRAY<DOUBLE>: v / ||v|| (zero vector unchanged).
  * Pre-normalizing a corpus turns every cosine into a plain dot
  * product — at 100 TB you normalize once at ingest and halve the
  * similarity-scan FLOPs. */
case class L2Normalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "l2_normalize"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"l2_normalize requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }
  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    VectorOps.l2Normalize(v.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.l2Normalize($c, $isFloat)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** hyperplane_sigs(v) → ARRAY<INT> of length `nTables`: for each of
  * the L hash tables, the b-bit random-hyperplane signature of the
  * vector (bit j set iff dot(v, plane[t][j]) ≥ 0). One static call
  * evaluates all L·b planes in a tight loop over a cached plane
  * matrix — replacing L·b literal plane arrays (L·b·dim literals)
  * that bloat the Catalyst tree, slow every planning pass, and
  * resist constant folding. Planes are a pure function of
  * (seed, nTables, bits, dim): drawn from one seeded gaussian stream
  * in [table][bit][dim] order, so signatures are deterministic
  * across executors, sessions, and restarts. Dot products truncate
  * to min(row length, dim) — a narrower vector hashes with the same
  * plane prefix, never a different plane set.
  */
case class HyperplaneSigs(child: Expression, nTables: Int, bits: Int,
    dim: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(bits > 0 && bits <= 30, "bits must be in [1, 30]")
  override def prettyName: String = "hyperplane_sigs"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_sigs requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }
  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    VectorOps.hyperplaneSigs(v.asInstanceOf[ArrayData], isFloat,
      nTables, bits, dim, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorOps.hyperplaneSigs($c, $isFloat, $nTables, $bits, $dim, ${seed}L)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** int8_quantize(v) → STRUCT<scale: DOUBLE, codes: ARRAY<TINYINT>>:
  * symmetric max-abs int8 quantization in ONE pass — scale =
  * max|xᵢ|/127, codeᵢ = floor(xᵢ/scale + 0.5) (all-zero codes when
  * scale = 0). Bit-identical to the HOF-lambda formulation it
  * replaces FOR FINITE INPUTS (`transform`/`aggregate` chains run
  * interpreted — measured 20×+ slower than a fused codegen loop on
  * the d02 path); every arithmetic step is the same double op in the
  * same order, so the s16 oracle hash is unchanged. NaN elements are
  * outside the parity claim: Spark's `greatest` treats NaN as largest
  * (the lambda scale becomes NaN and every code NaN-casts), while
  * this kernel's `av > maxabs` skips NaN — a finite scale and code 0
  * for the NaN slot. The corpus contract (finite milli-lattice
  * floats) never exercises the difference. The tinyint payload is also the
  * honest storage story: 1 byte/code instead of the lambda chain's
  * 8-byte doubles — the 4× scan-width win int8 search exists for.
  */
case class Int8Quantize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "int8_quantize"
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false),
      nullable = false)))
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_quantize requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }
  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    VectorOps.int8Quantize(v.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.int8Quantize($c, $isFloat)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** int8_dot(a, b) → BIGINT: exact integer dot over int8 code arrays
  * (order-independent — every partial sum ≤ 127²·dim ≪ 2⁶³), the hot
  * inner loop of quantized ANN search. A tight generated byte loop:
  * no lambda dispatch, no boxing, stays in WholeStageCodegen. */
case class Int8Dot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "int8_dot"
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"int8_dot requires ARRAY<TINYINT> inputs, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var i = 0
    while (i < n) { dot += a.getByte(i).toLong * b.getByte(i).toLong; i += 1 }
    dot
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (long)$a.getByte($i) * (long)$b.getByte($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** milli_l2(a, b) → BIGINT: exact squared L2 distance between
  * milli-quantized BIGINT vectors — Σ (aᵢ−bᵢ)², truncated to the
  * shared prefix. Every term is < (2·10⁷)² and dims ≤ a few hundred,
  * so the long sum never overflows and is order-independent — the
  * scoring kernel of the exact-arithmetic IVF search (s19), mirrored
  * bit for bit by DuckDB list arithmetic. */
case class MilliL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "milli_l2"
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"milli_l2 requires ARRAY<BIGINT> inputs, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L; var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i); acc += d * d; i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object VectorOps {

  /** Plane matrices keyed by (seed, nTables, bits, dim) — computed
    * once per executor JVM, shared by every task. Flattened
    * [table][bit][dim]; a few hundred KB at typical sizes. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Double]]()

  def planesFor(seed: Long, nTables: Int, bits: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((seed, nTables, bits, dim), _ => {
      val rnd = new scala.util.Random(seed)
      Array.fill(nTables * bits * dim)(rnd.nextGaussian())
    })

  def hyperplaneSigs(a: ArrayData, isFloat: Boolean, nTables: Int,
      bits: Int, dim: Int, seed: Long): ArrayData = {
    val planes = planesFor(seed, nTables, bits, dim)
    val n = math.min(a.numElements(), dim)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val out = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var dot = 0.0
        var d = 0
        while (d < n) { dot += x(d) * planes(off + d); d += 1 }
        if (dot >= 0.0) sig |= (1 << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def int8Quantize(a: ArrayData, isFloat: Boolean): InternalRow = {
    val n = a.numElements()
    val x = new Array[Double](n)
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      x(i) = v
      val av = math.abs(v)
      if (av > maxabs) maxabs = av
      i += 1
    }
    val scale = maxabs / 127.0
    val codes = new Array[Byte](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        codes(i) = math.floor(x(i) / scale + 0.5).toByte
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)))
  }

  def l2Normalize(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var norm = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x; norm += x * x; i += 1
    }
    if (norm > 0.0) {
      val inv = 1.0 / math.sqrt(norm)
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object VectorFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

  /** Column-level API, Spark-idiomatic entry points. */
  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def dot_product(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def l2_normalize(v: Column): Column = column(L2Normalize(expression(v)))
  def normalized_dot(a: Column, b: Column): Column =
    column(NormalizedDot(expression(a), expression(b)))
  def hyperplane_sigs(v: Column, nTables: Int, bits: Int, dim: Int,
      seed: Long): Column =
    column(HyperplaneSigs(expression(v), nTables, bits, dim, seed))
  def int8_quantize(v: Column): Column = column(Int8Quantize(expression(v)))
  def int8_dot(a: Column, b: Column): Column =
    column(Int8Dot(expression(a), expression(b)))
  def milli_l2(a: Column, b: Column): Column =
    column(MilliL2(expression(a), expression(b)))

  /** SQL registration so `spark.sql("SELECT cosine_similarity(...)")` works. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", es => CosineSimilarity(es.head, es(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", es => DotProduct(es.head, es(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "l2_normalize", es => L2Normalize(es.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "normalized_dot", es => NormalizedDot(es.head, es(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_sigs", es => HyperplaneSigs(es.head,
        TextHashFunctions.intArg("hyperplane_sigs", es, 1),
        TextHashFunctions.intArg("hyperplane_sigs", es, 2),
        TextHashFunctions.intArg("hyperplane_sigs", es, 3),
        TextHashFunctions.longArg("hyperplane_sigs", es, 4)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "int8_quantize", es => Int8Quantize(es.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "int8_dot", es => Int8Dot(es.head, es(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "milli_l2", es => MilliL2(es.head, es(1)), "built-in")
  }
}
