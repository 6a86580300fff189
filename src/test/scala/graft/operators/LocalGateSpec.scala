package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class LocalGateSpec extends SparkSpec {
  import spark.implicits._

  // five rows over three partitions; the probe and the limit are set
  // per case so each branch of the take is reached with a handful of rows
  private def five: DataFrame = (1L to 5L).toDF("v").repartition(3)

  private def values(got: Option[Array[org.apache.spark.sql.Row]]): Option[Seq[Long]] =
    got.map(_.map(_.getLong(0)).toSeq.sorted)

  /** The row bound (LIMIT) of every row-collecting action `body`
    * runs — `count` ships one number, not rows, so it is left out. */
  private def collectBounds(expectedActions: Int)(body: => Unit): Seq[Option[Long]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[Long])]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        seen.add(f -> qe.logical.maxRows)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 5000000000L // listener bus is async
      while (seen.size < expectedActions && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val actions = seen.toArray(Array.empty[(String, Option[Long])]).toSeq
    assert(actions.size === expectedActions, actions)
    actions.filter(_._1 != "count").map(_._2)
  }

  test("under the probe: one take collects every row") {
    val bounds = collectBounds(1) {
      assert(values(LocalGate.take(five, 10, "spec", probeRowLimit = 10)) ===
        Some(1L to 5L))
    }
    assert(bounds === Seq(Some(11L)))
  }

  test("probe overflow, under the gate: count, then a second take goes local") {
    val bounds = collectBounds(3) {
      assert(values(LocalGate.take(five, 10, "spec", probeRowLimit = 2)) ===
        Some(1L to 5L))
    }
    assert(bounds === Seq(Some(3L), Some(10L)))
  }

  test("over the gate: distributed, never more than probe+1 rows collected") {
    // the probe is smaller than the gate: take(probe+1), then a count
    val overflow = collectBounds(2) {
      assert(LocalGate.take(five, 4, "spec", probeRowLimit = 2).isEmpty)
    }
    assert(overflow === Seq(Some(3L)))
    // the probe is the gate: its overflow alone decides
    val atGate = collectBounds(1) {
      assert(LocalGate.take(five, 4, "spec", probeRowLimit = 10).isEmpty)
    }
    assert(atGate === Seq(Some(5L)))
  }

  test("disabled: a limit ≤ 0 or the override 0 goes distributed without a job") {
    assert(collectBounds(0)(assert(LocalGate.take(five, 0, "spec").isEmpty)) === Nil)
    LocalGate.withOverride(0) {
      assert(LocalGate.take(five, 10, "spec").isEmpty)
      // nested overrides restore the enclosing one
      LocalGate.withOverride(10) {
        assert(values(LocalGate.take(five, 0, "spec")) === Some(1L to 5L))
      }
      assert(LocalGate.take(five, 10, "spec").isEmpty)
    }
    assert(sys.props.get("graft.gate.override").isEmpty)
    assert(values(LocalGate.take(five, 10, "spec")) === Some(1L to 5L))
  }

  test("collectBounded: bound rows pass, bound + 1 are refused, one job either way") {
    val kept = collectBounds(1) {
      assert(LocalGate.collectBounded(five, 5, "spec refusal").map(_.getLong(0)).sorted.toSeq ===
        (1L to 5L))
    }
    assert(kept === Seq(Some(6L)))
    var refusal = ""
    val refused = collectBounds(1) {
      refusal = intercept[IllegalArgumentException](
        LocalGate.collectBounded(five, 4, "spec refusal")).getMessage
    }
    assert(refused === Seq(Some(5L)), "the refusal never collects past bound + 1")
    assert(refusal === "spec refusal")
  }

  test("NULL rule: rows with a NULL in a gated column are dropped on both paths") {
    val df = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(1L), Some(2L), None), (None, Some(3L), Some(1L)),
      (Some(4L), None, Some(1L)), (Some(5L), Some(6L), Some(7L)))
      .toDF("a", "b", "x")
    LocalGate(df, Seq("a", "b"), 10, "spec") match {
      case LocalGate.Local(rows) =>
        assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L), (5L, 6L)))
        assert(rows.forall(_.length == 2), "only the gated columns are collected")
      case other => fail(s"expected the local path, got $other")
    }
    LocalGate(df, Seq("a", "b"), 0, "spec") match {
      case LocalGate.Distributed(kept) =>
        assert(kept.columns.toSeq === Seq("a", "b", "x"))
        assert(kept.as[(Long, Long, Option[Long])].collect().toSet ===
          Set((1L, 2L, None), (5L, 6L, Some(7L))))
      case other => fail(s"expected the distributed path, got $other")
    }
  }
}
