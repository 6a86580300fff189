package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full masked sign-LSH band-key array as ONE native expression —
  * the fused form of VectorFns' `lshBandKeysMaskedBands` composition
  * (24 bands × 24 planes of CaseWhen + [[CosineSimExpr]] + bitwise-OR).
  *
  * Why custom (SURVEY §7.3 "only if measured"): at the full static
  * width the composed expression tree is 576 plane sub-expressions;
  * inlined into a Generate/Project doConsume it exceeds Janino's 64 KB
  * method limit, so every banded stage paid a failed whole-stage
  * compile (~1–2 s driver time per query) and then ran the tree
  * INTERPRETED — the q83 lesson at the expression layer. This form
  * generates one static call; the plane loop runs `nBands·bits`
  * iterations of the same [[CosineSimExpr.cosine]] routine the
  * composition used, against the same deterministic ±1 plane table, so
  * keys are bit-identical (VectorFnsSpec pins native ≡ composed).
  *
  * Output contract (r15 — exact length, see [[LshBandKeysMaskedExpr.compute]]):
  *  - the array holds EXACTLY min(nBands, maxBands) live keys — one
  *    per band of the resolved schedule; `nBands` null → empty array
  *    (posexplode_outer then emits one all-null row, dropped by the
  *    `band < n_bands` filter). The r14 form padded to the static
  *    width with a NULL tail — VectorFnsSpec pins exact-length ≡ the
  *    composed reference's live-band slice;
  *  - `bits` null, vec null, length mismatch, or null element → the
  *    plane's cosine is null → that BIT is 0 (the `when(...).
  *    otherwise(0)` fold), never a null key;
  *  - NaN cosine (zero vector) sets the bit: Spark's `>= 0` ranks NaN
  *    above all doubles, hence the `!(cs < 0)` form below.
  * The array itself is never null, so nullable=false.
  */
case class LshBandKeysMaskedExpr(vec: Expression, nBands: Expression,
    bits: Expression, maxBands: Int, maxBitsPerBand: Int, dim: Int,
    seed: Long) extends Expression {

  override def children: Seq[Expression] = Seq(vec, nBands, bits)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  @transient private lazy val coefs: Array[ArrayData] =
    LshBandKeysMaskedExpr.coefTable(maxBands, maxBitsPerBand, dim, seed)

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input).asInstanceOf[ArrayData]
    val nb = nBands.eval(input).asInstanceOf[java.lang.Integer]
    val bt = bits.eval(input).asInstanceOf[java.lang.Integer]
    LshBandKeysMaskedExpr.compute(v, nb, bt, coefs, maxBands, maxBitsPerBand)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vE = vec.genCode(ctx)
    val nbE = nBands.genCode(ctx)
    val btE = bits.genCode(ctx)
    // r16 task-binary hoist: the plane table is a pure function of
    // (maxBands, maxBitsPerBand, dim, seed), so the generated class
    // REBUILDS it once per task instead of shipping ~300 KB of
    // serialized ArrayData references inside every task binary
    // (addReferenceObj rode the WholeStageCodegen references array —
    // the 1 MiB "large task binary" warnings of the nearDupPairs
    // family). Rebuild cost: maxBands·maxBits·dim hash calls, sub-ms.
    val coefsRef = ctx.addMutableState(
      "org.apache.spark.sql.catalyst.util.ArrayData[]", "lshCoefTable",
      v => s"$v = graft.plans.LshBandKeysMaskedExpr.coefTable(" +
        s"$maxBands, $maxBitsPerBand, $dim, ${seed}L);")
    ev.copy(isNull = FalseLiteral, code =
      code"""
        ${vE.code}
        ${nbE.code}
        ${btE.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.plans.LshBandKeysMaskedExpr.compute(
            ${vE.isNull} ? null : ${vE.value},
            ${nbE.isNull} ? null : java.lang.Integer.valueOf(${nbE.value}),
            ${btE.isNull} ? null : java.lang.Integer.valueOf(${btE.value}),
            $coefsRef, $maxBands, $maxBitsPerBand);
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LshBandKeysMaskedExpr =
    copy(vec = newChildren(0), nBands = newChildren(1), bits = newChildren(2))

  override def prettyName: String = "graft_lsh_band_keys"
}

object LshBandKeysMaskedExpr {

  /** Column-API entry point (the [[CosineSimExpr.cosineSim]] pattern). */
  def bandKeys(vec: org.apache.spark.sql.Column, nBands: org.apache.spark.sql.Column,
      bits: org.apache.spark.sql.Column, maxBands: Int, maxBitsPerBand: Int,
      dim: Int, seed: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(LshBandKeysMaskedExpr(
      ColumnBridge.expression(vec), ColumnBridge.expression(nBands),
      ColumnBridge.expression(bits), maxBands, maxBitsPerBand, dim, seed))
  }

  /** The deterministic ±1 plane table — the SAME
    * [[graft.functions.VectorFns.lshCoefs]] planes the composed form
    * folded as literals, materialized once per expression instance. */
  def coefTable(maxBands: Int, maxBitsPerBand: Int, dim: Int,
      seed: Long): Array[ArrayData] =
    Array.tabulate(maxBands * maxBitsPerBand) { plane =>
      ArrayData.toArrayData(
        graft.functions.VectorFns.planeCoefs(plane, dim, seed).toArray)
    }

  /** Shared by interpreted eval and generated code. The output array
    * is EXACT-LENGTH (min(nBands, maxBands) — r15): the r14 form
    * padded to the static width with NULLs for the masked tail, which
    * was harmless at maxBands = 24 but at the epoch-derived width (78)
    * made every posexplode generate 78 rows per vector at EVERY corpus
    * size — 3.25× the live-band volume at gate sizes — before the
    * `band < n_bands` filter dropped the padding. Exact length means
    * the generate volume IS the resolved schedule's volume; the
    * downstream filter is now a no-op kept as belt-and-braces. */
  def compute(v: ArrayData, nBands: java.lang.Integer,
      bits: java.lang.Integer, coefs: Array[ArrayData], maxBands: Int,
      maxBitsPerBand: Int): ArrayData = {
    val nb = if (nBands == null) 0 else math.min(nBands.intValue(), maxBands)
    val res = new Array[Any](nb)
    var b = 0
    while (b < nb) {
      var key = 0L
      if (bits != null && v != null) {
        val bt = math.min(bits.intValue(), maxBitsPerBand)
        var r = 0
        while (r < bt) {
          val cs = CosineSimExpr.cosine(v, coefs(b * maxBitsPerBand + r))
          // !(cs < 0) ≡ Spark SQL `cs >= 0`, including NaN-ranks-high
          if (cs != null && !(cs.doubleValue() < 0.0)) key |= 1L << r
          r += 1
        }
      }
      res(b) = key
      b += 1
    }
    new GenericArrayData(res)
  }
}
