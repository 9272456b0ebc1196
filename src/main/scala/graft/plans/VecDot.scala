package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns — the hot loop of
  * every vector-similarity operator (brute-force knn, IVF assignment and
  * probing, PQ code assignment and ADC tables, LSH bucketing).
  *
  * The declarative form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * allocates a zipped intermediate array per pair and evaluates its lambdas
  * as interpreted higher-order functions OUTSIDE whole-stage codegen; this
  * expression is one tight primitive loop inside the generated stage
  * (native Expression > HOF > UDF, the build-brief preference ladder).
  *
  * Summation is strictly left-to-right — bit-identical to both the HOF
  * fold it replaces and DuckDB's `list_dot_product` (the oracle side), so
  * swapping it in changes no hash-compared result. Element nulls are not
  * expected (embeddings are dense) but propagate to a null sum, and
  * unequal lengths null the result too — exactly the HOF's behavior
  * (`zip_with` pads the shorter array with nulls, which the sum
  * propagates). Pretty-printed as `vec_dot(a, b)`.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def ok(t: DataType) = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  // a null ELEMENT nulls the whole sum (matching the aggregate(zip_with)
  // HOF this expression replaced), so the result can be null even when both
  // array inputs are non-null
  private def mayHaveNullElem: Boolean = Seq(left.dataType, right.dataType).exists {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  // unequal lengths also null the result (lengths aren't statically
  // provable equal), so the expression is always nullable
  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecDot.dotOrNull(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!mayHaveNullElem) {
      // elements provably non-null by schema → one length check (perfectly
      // predicted on same-dim corpora), then the tight helper loop
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
           |else { ${ev.value} = graft.plans.VecDot.dot($a, $b); }""".stripMargin)
    } else {
      // nullable-element schema: ONE fused inline loop with the null check
      // folded in — no boxing (a per-row java.lang.Double cost ~2x on knn)
      // and no second scan pass (a separate hasNullElem pre-scan cost ~1.8x
      // on the memory-bound IVF stage). The branch is never taken on dense
      // embeddings, so it predicts perfectly.
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("sum")
        s"""int $n = $a.numElements();
           |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $s += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  ${ev.value} = $s;
           |}""".stripMargin
      })
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

object VecDot {
  /** Called from both interpreted eval and generated Java, AFTER the
    * caller has established equal lengths. Left-to-right accumulation —
    * do not reorder (oracle bit-equality depends on it).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Interpreted-eval form of the codegen fused loop: unequal lengths or
    * any null element null the whole sum (aggregate(zip_with) HOF
    * semantics — zip_with pads the shorter array with nulls, which the
    * sum propagates). ArrayData.getDouble would silently read a null slot
    * as 0.0 — a wrong number, not a null.
    */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  def column(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
