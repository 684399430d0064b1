package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two Array[Float]
  * columns, with whole-stage codegen over primitive float[] — the hot
  * inner loop of brute-force / LSH similarity search. Orders of
  * magnitude cheaper than a Scala UDF (no boxing, no Row conversion)
  * and cheaper than the `aggregate`/`zip_with` higher-order-function
  * composition (which allocates per-element lambda frames).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // The result can be null even for non-null inputs (null ELEMENTS
  // poison the dot — see nullSafeEval). Without this override the
  // inherited `left.nullable || right.nullable` is false for
  // non-nullable inputs, Spark emits the isNull slot as the literal
  // `false`, and doGenCode's `isNull = true;` assignment is
  // uncompilable Java — whole-stage codegen then fails at runtime and
  // the stage silently runs interpreted.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"FloatVecDot requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (FloatVecDot.hasNullElement(x) || FloatVecDot.hasNullElement(y)) null
    else FloatVecDot.dotData(x, y)
  }

  // null ELEMENTS yield null (matching the zip_with/aggregate HOF form,
  // where a null product poisons the fold) instead of the element
  // accessor throwing — required for VecDotRewrite to be a safe
  // substitution. dotData reads the ArrayData in place: the earlier
  // toFloatArray() form copied both vectors per evaluation, and at
  // n x k pair counts (ANN scoring, k-means assignment) that copy
  // churn dominated the arithmetic.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (graft.functions.FloatVecDot.hasNullElement($a) ||
         |    graft.functions.FloatVecDot.hasNullElement($b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.FloatVecDot.dotData($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FloatVecDot {
  /** Any null element? (cheap scan; embeddings are dense in practice,
    * so this is one predictable branch per element). */
  def hasNullElement(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Tight primitive loop, JIT-vectorizable. */
  def dot(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  /** Same fold, reading ArrayData IN PLACE (UnsafeArrayData.getFloat
    * is an offset read) — no per-evaluation array copies. Callers
    * must have excluded null elements (hasNullElement) first. */
  def dotData(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
}

/** Native Catalyst expression: EXACT dot product of two Array[Long]
  * columns. This is the hot loop of integer-quantized embedding search
  * and of exact money folds over parallel cents arrays — domains where
  * FloatVecDot's double accumulator would lose exactness.
  *
  * `failOnOverflow` mirrors the arithmetic eval mode of the HOF fold
  * the expression replaces: ANSI folds throw on long overflow
  * (Math.multiplyExact/addExact here), legacy folds wrap (plain long
  * ops here) — VecDotRewrite captures the mode from the matched
  * Multiply so the substitution preserves semantics either way.
  */
case class LongVecDot(left: Expression, right: Expression,
                      failOnOverflow: Boolean = false)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType
  override def dataType: DataType = LongType

  // Null elements yield null for non-null inputs — same codegen
  // constraint as FloatVecDot.nullable above.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _                                                 => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"LongVecDot requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (FloatVecDot.hasNullElement(x) || FloatVecDot.hasNullElement(y)) null
    else if (failOnOverflow) LongVecDot.dotExactData(x, y)
    else LongVecDot.dotData(x, y)
  }

  // null ELEMENTS yield null, matching the HOF form (a null product
  // poisons the fold) — required for VecDotRewrite substitution safety
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // *Data variants read ArrayData in place — no per-evaluation
    // copies (see FloatVecDot.dotData)
    val fn = if (failOnOverflow) "dotExactData" else "dotData"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (graft.functions.FloatVecDot.hasNullElement($a) ||
         |    graft.functions.FloatVecDot.hasNullElement($b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.LongVecDot.$fn($a, $b);
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object LongVecDot {
  /** Tight primitive loop; wrapping arithmetic = a LEGACY-mode fold. */
  def dot(x: Array[Long], y: Array[Long]): Long = {
    val n = math.min(x.length, y.length)
    var s = 0L
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** In-place ArrayData reads — no per-evaluation copies. */
  def dotData(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  /** In-place, overflow-checked (ANSI-mode fold). */
  def dotExactData(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s = Math.addExact(s, Math.multiplyExact(x.getLong(i), y.getLong(i))); i += 1 }
    s
  }
}

object VectorFunctions {
  import org.apache.spark.sql.GraftBridge

  /** Native dot product (codegen'd). */
  def vecDot(a: Column, b: Column): Column =
    GraftBridge.column(FloatVecDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Native EXACT long dot product (codegen'd) — quantized-embedding
    * and cents-array hot path. */
  def vecDotLong(a: Column, b: Column): Column =
    GraftBridge.column(LongVecDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** L2 norm via the native dot. */
  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Builtin-HOF dot product — the oracle-parity path (expressible in
    * ANSI SQL; used by oracle-checked queries, with the native
    * expression reserved for the bench hot path). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Builtin-HOF exact long dot product — ANSI-expressible form that
    * [[graft.plans.VecDotRewrite]] rewrites to native [[LongVecDot]]. */
  def dotHofLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  // ── int8 symmetric quantization ─────────────────────────────────
  // Shrinks a float corpus-embedding column 4x for ANN candidate
  // generation; exact integer dots (LongVecDot) then rank candidates
  // deterministically. floor(v + 0.5) instead of round(): identical
  // half-rounding on every engine (round() half-cases differ), and
  // |v| <= 127 by construction so values stay in the int8 range.

  /** Per-vector symmetric scale: max|x| / 127 (1.0 for zero vectors).
    * Materialize this into a column BEFORE quantizing — HOF lambdas
    * don't CSE, so an inline scale recomputes the max per element. */
  def int8Scale(emb: Column): Column = {
    val m = array_max(transform(emb, x => abs(x.cast("double"))))
    when(m.isNull || m === 0.0, lit(1.0)).otherwise(m / 127.0)
  }

  /** Quantized vector: floor(x/scale + 0.5) as long, in [-127, 127]. */
  def quantizeInt8(emb: Column, scale: Column): Column =
    transform(emb, x => floor(x.cast("double") / scale + lit(0.5)).cast("long"))

  /** Max absolute reconstruction error of a quantized vector. */
  def dequantMaxError(q: Column, emb: Column, scale: Column): Column =
    array_max(zip_with(q, emb, (qi, x) =>
      abs(qi.cast("double") * scale - x.cast("double"))))
}
