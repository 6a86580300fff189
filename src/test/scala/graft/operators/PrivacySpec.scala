package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit pins for the shared k-anonymity fold (q215 + the streaming
  * monitor). The load-bearing property is the additive-under-union
  * contract: audit() must canonicalize a UNION of classState deltas
  * before counting l-diversity, or duplicate (QI, sensitive) rows
  * inflate the floor and a release gate passes a leaking table.
  */
class PrivacySpec extends SparkSpec {

  test("audit over a UNION of classState deltas ≡ audit over one batch") {
    import spark.implicits._
    val qi = Seq("nat", "band")
    val batch1 = Seq((1, 0L, "A"), (1, 0L, "A"), (1, 0L, "B"), (2, 1L, "A"))
    val batch2 = Seq((1, 0L, "A"), (2, 1L, "A"), (2, 1L, "A"))
    val unioned = Privacy.classState(batch1.toDF("nat", "band", "seg"), qi, "seg")
      .union(Privacy.classState(batch2.toDF("nat", "band", "seg"), qi, "seg"))
    val once = Privacy.classState(
      (batch1 ++ batch2).toDF("nat", "band", "seg"), qi, "seg")
    val a = Privacy.audit(unioned, qi, "nat").collect().map(_.toSeq).toSeq
    val b = Privacy.audit(once, qi, "nat").collect().map(_.toSeq).toSeq
    assert(a === b, "union of deltas diverged from the one-shot state")
    // the leak the canonicalization prevents: nation 1's class has
    // sensitive values {A, B} → l-diversity 2, NOT 3 (A appears in
    // both deltas and must not double-count)
    val n1 = Privacy.audit(unioned, qi, "nat")
      .filter(col("nat") === 1).head()
    assert(n1.getLong(7) === 2L, s"l_div inflated: ${n1.getLong(7)}")
    assert(n1.getLong(1) === 4L) // 4 rows for nation 1 across deltas
  }

  test("audit refuses a reportCol outside the QI") {
    import spark.implicits._
    val st = Privacy.classState(
      Seq((1, 0L, "A")).toDF("nat", "band", "seg"), Seq("nat", "band"), "seg")
    val e = intercept[IllegalArgumentException](
      Privacy.audit(st, Seq("nat", "band"), "seg"))
    assert(e.getMessage.contains("reportCol"))
  }

  test("a QI or sensitive column named 'c' is refused loudly") {
    // the count column's name is part of the state contract — audit()
    // canonicalizes on every column EXCEPT 'c', so a caller column of
    // that name would silently drop out of the grain and corrupt the
    // l-diversity floor (the r12 advisory); both entry points refuse
    import spark.implicits._
    val df = Seq((1, 0L, "A")).toDF("c", "band", "seg")
    val e1 = intercept[IllegalArgumentException](
      Privacy.classState(df, Seq("c", "band"), "seg"))
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Privacy.classState(df.toDF("nat", "band", "c"), Seq("nat", "band"), "c"))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
    val st = Privacy.classState(
      Seq((1, 0L, "A")).toDF("nat", "band", "seg"), Seq("nat", "band"), "seg")
      .withColumnRenamed("nat", "c")
    val e3 = intercept[IllegalArgumentException](
      Privacy.audit(st, Seq("c", "band"), "band"))
    assert(e3.getMessage.contains("reserved"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      Privacy.tCloseness(st, Seq("c", "band"), "seg", "band"))
    assert(e4.getMessage.contains("reserved"), e4.getMessage)
  }

  test("tCloseness: hand-checked TVD incl. the absent-value complement term") {
    // classes: nat1/b0 = {X:3, Y:1}, nat1/b1 = {X:1, Y:3}, nat2/b0 = {X:2}
    // global: X:6, Y:4, N=10 -> p = (0.6, 0.4)
    // TVD: A = (|0.75-0.6|+|0.25-0.4|)/2 = 0.15
    //      B = (|0.25-0.6|+|0.75-0.4|)/2 = 0.35
    //      C = (|1.0-0.6|+|0.0-0.4|)/2  = 0.40  <- Y absent from C: the
    //        complement term (N - sum_present_gv)*sz must supply |0-p(Y)|
    import spark.implicits._
    val rows = Seq.fill(3)((1, 0L, "X")) ++ Seq((1, 0L, "Y")) ++
      Seq((1, 1L, "X")) ++ Seq.fill(3)((1, 1L, "Y")) ++ Seq.fill(2)((2, 0L, "X"))
    val st = Privacy.classState(rows.toDF("nat", "band", "seg"),
      Seq("nat", "band"), "seg")
    val got = Privacy.tCloseness(st, Seq("nat", "band"), "seg", "nat")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got(1) === ((2L, 0.35, 0.25, 1L, 4L)), got(1))
    assert(got(2) === ((1L, 0.4, 0.4, 1L, 2L)), got(2))
  }

  test("tCloseness over a UNION of classState deltas ≡ one-shot (additive fold)") {
    import spark.implicits._
    val qi = Seq("nat", "band")
    val b1 = Seq((1, 0L, "X"), (1, 0L, "X"), (1, 1L, "Y"), (2, 0L, "X"))
    val b2 = Seq((1, 0L, "Y"), (1, 1L, "Y"), (1, 1L, "X"), (2, 0L, "X"))
    val unioned = Privacy.classState(b1.toDF("nat", "band", "seg"), qi, "seg")
      .union(Privacy.classState(b2.toDF("nat", "band", "seg"), qi, "seg"))
    val once = Privacy.classState((b1 ++ b2).toDF("nat", "band", "seg"), qi, "seg")
    val a = Privacy.tCloseness(unioned, qi, "seg", "nat").collect().map(_.toSeq).toSeq
    val b = Privacy.tCloseness(once, qi, "seg", "nat").collect().map(_.toSeq).toSeq
    assert(a === b, "union of deltas diverged from the one-shot audit")
  }
}
