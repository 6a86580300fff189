package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity between two ARRAY<DOUBLE> columns as a native
  * Catalyst expression.
  *
  * Why custom (SURVEY §7.3 "only if measured"): the higher-order
  * `zip_with`/`aggregate` formulation evaluates an interpreted lambda per
  * array element — ~400 ns/element, 5.2 s for 2M×64-dim vectors on 32
  * cores (probe removed, see git history at 894f351). This is the inner
  * loop of every similarity operator (brute-force top-k, LSH/IVF verify,
  * near-dup pairs), so at corpus scale it IS the workload. One fused primitive loop per row
  * computes dot and both norms in a single pass and stays inside
  * whole-stage codegen.
  *
  * Exact-fp-parity with the HOF form it replaces (and with DuckDB's
  * `list_cosine_similarity`, which the oracle gate hash-verifies): the
  * accumulators add in the same element order, and the final expression
  * is dot / (sqrt(na2) * sqrt(nb2)) — identical double sequences.
  *
  * Null semantics (matches zip_with+aggregate): null array, null
  * element, or length mismatch → null.
  */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine_sim requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got (${l.sql}, ${r.sql})")
    }

  // result can be null even for non-null inputs (element null / length
  // mismatch), so the nullability is unconditional
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimExpr.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = graft.plans.CosineSimExpr.cosine($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine_sim"
}

object CosineSimExpr {

  /** Shared by interpreted eval and generated code. Returns null (boxed)
    * on length mismatch or null element — the zip_with contract. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na2 = 0.0
    var nb2 = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na2 += x * x
      nb2 += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na2) * math.sqrt(nb2)))
  }

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
