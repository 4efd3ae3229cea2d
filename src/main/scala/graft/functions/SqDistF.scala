package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd squared L2 distance over two `ARRAY<FLOAT>` columns — the
  * [[DotProductF]] sibling for the argmin-assignment hot loops
  * (PQ encode / Lloyd refinement / quantization-distortion drift gate),
  * where the higher-order `aggregate(zip_with(...))` form pays ~20× the
  * primitive loop's per-row cost (RotProbe measured the same gap for the
  * rotation fold, BASELINE.md r11).
  *
  * Accumulates in double, sequential ascending fold of `(aᵢ−bᵢ)²` —
  * bit-identical to the SQL higher-order form kept as the reference in
  * [[VectorOps.sqDistHof]] for equal-length non-null arrays (the store
  * invariant; like [[DotProductF]], mismatched lengths truncate to the
  * shorter side instead of the HOF form's null).
  */
case class SqDistF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_dist_f"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: a bare `i` would fail to compile if the enclosing
      // generated method already declares one (Java forbids shadowing).
      val i = ctx.freshName("i")
      s"""
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int $i = 0; $i < ${ev.value}_n; $i++) {
         |  double ${ev.value}_d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  ${ev.value}_s += ${ev.value}_d * ${ev.value}_d;
         |}
         |${ev.value} = ${ev.value}_s;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
