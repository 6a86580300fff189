package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression, Round}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Window => WindowNode}
import org.apache.spark.sql.types.DoubleType

/** Enumerate every DoubleType output column of every registered query
  * whose defining expression contains a `Round`, and report whether it
  * carries the signed-zero finisher `+ 0.0` (`Q.noNegZero`) at the top.
  *
  * Background (round-9 postmortem, q194): DuckDB's `round` preserves the
  * sign of a tiny negative (−0.0) while Spark's `Round` (BigDecimal
  * HALF_UP → toDouble) returns +0.0, so any rounded output that can land
  * within one ulp of zero on a degenerate input hash-diverges at the
  * driver's exact-compare gate. The audit output feeds the classification
  * in `SignedZeroAuditSpec`: every hit is either finished with
  * `Q.noNegZero` (+ `+ 0.0` in the oracle SQL) or allowlisted as
  * nonnegative-by-construction.
  */
object DiagSignedZero {

  /** Resolve each output attribute to its defining expression by chasing
    * Alias chains through Project / Aggregate / Window nodes. */
  def definingExprs(plan: LogicalPlan): Map[Long, Expression] = {
    val defs = scala.collection.mutable.Map.empty[Long, Expression]
    plan.foreach {
      case p: Project => p.projectList.foreach(collectDef(defs, _))
      case a: Aggregate => a.aggregateExpressions.foreach(collectDef(defs, _))
      case w: WindowNode => w.windowExpressions.foreach(collectDef(defs, _))
      case _ => ()
    }
    defs.toMap
  }

  private def collectDef(
      defs: scala.collection.mutable.Map[Long, Expression],
      ne: NamedExpression): Unit = ne match {
    case a: Alias => defs(a.exprId.id) = a.child
    case _ => ()
  }

  /** Chase attribute-passthrough layers to the real defining expression. */
  @annotation.tailrec
  def chase(defs: Map[Long, Expression], e: Expression, depth: Int = 0): Expression =
    e match {
      case ar: AttributeReference if depth < 32 && defs.contains(ar.exprId.id) =>
        chase(defs, defs(ar.exprId.id), depth + 1)
      case other => other
    }

  def hasFinisher(e: Expression): Boolean = e match {
    case Add(_, Literal(v: Double, DoubleType), _) => v == 0.0
    case Add(Literal(v: Double, DoubleType), _, _) => v == 0.0
    case Cast(c, DoubleType, _, _) => hasFinisher(c)
    case _ => false
  }

  def containsRound(e: Expression): Boolean = e.exists(_.isInstanceOf[Round])

  /** (query, column, finished?) for every Round-containing double output. */
  def audit(spark: SparkSession, sfDir: String): Seq[(String, String, Boolean)] =
    graft.SparkEntry.registry.flatMap { q =>
      val analyzed = q.run(spark, sfDir).queryExecution.analyzed
      val defs = definingExprs(analyzed)
      analyzed.output.collect {
        case a: Attribute if a.dataType == DoubleType =>
          val e = chase(defs, a)
          if (containsRound(e)) Some((q.name, a.name, hasFinisher(e))) else None
      }.flatten
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(4, "graft-signed-zero")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = audit(spark, sfDir)
    rows.foreach { case (qn, cn, fin) =>
      println(f"${if (fin) "FINISHED " else "BARE     "}%s $qn%-28s $cn")
    }
    println(s"total=${rows.size} bare=${rows.count(!_._3)}")
    spark.stop()
  }
}
