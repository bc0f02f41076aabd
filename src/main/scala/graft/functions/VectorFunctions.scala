package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native cosine similarity over two array<double> columns.
  *
  * A custom Catalyst `Expression` (SURVEY.md §2.12 preference order
  * (b)): the zip_with + aggregate higher-order-function formulation
  * allocates an intermediate products array and evaluates lambda
  * closures per element; this expression is a single fused loop with
  * `doGenCode`, so the knn inner loop stays inside whole-stage
  * codegen with zero allocation. Accumulation is sequential
  * (index 0..n-1) — same order as the HOF version and the DuckDB
  * oracle, preserving bit parity.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi;
         |  $nx += $xi * $xi;
         |  $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Subspace squared distance with EXACT per-element decimal
  * quantization — the PQ distance kernel, as its raw unscaled long
  * (value ×10¹⁵). Semantically identical to
  * `SUM(CAST((a(i)-b(i))*(a(i)-b(i)) AS DECIMAL(30,15)))` over the
  * zipped elements (the formulation the DuckDB oracle replays):
  * [[SqDistQ15.decimal_q15]] turns it back into the same
  * DECIMAL(38,15) value and type that SUM produced. The per-element
  * quantization calls Spark's own `Decimal` conversion (bit-identical
  * to `Cast`) and the accumulation is one fused loop over UNSCALED
  * LONGS, so the 2M-row explode + broadcast join + decimal
  * hash-aggregate the previous shape paid per distance pass collapses
  * into a map-stage expression (measured 2.1 s → ~0.6 s per pass at
  * sf0.1). Exactness bounds: each quantized element and the
  * ≤64-element sum stay far below 2^63 at any realistic component
  * magnitude; the q15 helper fails loudly past the DECIMAL(30,15)
  * range instead of wrapping.
  *
  * The long orders identically to the DECIMAL(38,15) form (same
  * scale, same sign) — lets argmin run as a packed-long `min()` HASH
  * aggregate (mutable long buffer, map-side partial min) where a
  * decimal-bearing struct would demote to SortAggregate (measured,
  * round 10 item 9).
  */
case class SqDistQ15Long(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += SqDistQ15.q15(d * d)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += graft.functions.SqDistQ15.q15($d * $d);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqDistQ15 {
  /** `CAST(v AS DECIMAL(30,15))` as an unscaled long — delegates to
    * Spark's own Decimal conversion so the rounding (HALF_UP over the
    * canonical double representation) is bit-identical to the Cast
    * the SQL formulation runs.
    */
  def q15(v: Double): Long = {
    val dec = org.apache.spark.sql.types.Decimal(v)
    require(dec.changePrecision(30, 15),
      s"sq_dist_q15_long: $v does not fit DECIMAL(30,15)")
    dec.toUnscaledLong
  }

  def sq_dist_q15_long(a: Column, b: Column): Column =
    Bridge.column(SqDistQ15Long(
      Bridge.expression(a), Bridge.expression(b)))

  /** Unscaled long (×10¹⁵) → the exact DECIMAL(38,15) that
    * `SUM(CAST(... AS DECIMAL(30,15)))` returns — Spark's own
    * MakeDecimal, so round-tripping through the long kernel is value-
    * and type-identical to the decimal sum.
    */
  def decimal_q15(v: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.MakeDecimal(
      Bridge.expression(v), 38, 15, nullOnOverflow = false))
}

object VectorFunctions {
  /** Column wrapper: cosine similarity of two array<double> columns
    * (callers must ensure array<double> inputs — cast floats first).
    */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a), Bridge.expression(b)))
}
