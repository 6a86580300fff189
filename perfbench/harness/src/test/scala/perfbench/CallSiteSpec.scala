package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CallSiteSpec extends AnyFunSuite {
  private val graftFiles = Set("Tables.scala", "Iterate.scala", "PageRank.scala", "Dedup.scala")
  private def kind(stage: String) = CallSite.classify(stage, graftFiles)

  test("parquet schema inference in Tables") {
    assert(kind("parquet at Tables.scala:62") === "schema")
  }

  test("lineage cuts, wherever they are placed") {
    assert(kind("localCheckpoint at Iterate.scala:50") === "checkpoint")
    assert(kind("localCheckpoint at Dedup.scala:311") === "checkpoint")
  }

  test("results pulled to the driver from graft code") {
    assert(kind("take at PageRank.scala:88") === "gate")
    assert(kind("isEmpty at Iterate.scala:46") === "gate")
    assert(kind("collect at Dedup.scala:120") === "gate")
  }

  test("other graft jobs, and jobs that name no graft file") {
    assert(kind("save at Dedup.scala:10") === "other")
    assert(kind("collect at Workloads.scala:95") === "unattributed")
    assert(kind("parquet at Workloads.scala:140") === "unattributed")
    assert(kind("run at ThreadPoolExecutor.java:1136") === "unattributed")
    assert(kind("") === "unattributed")
  }
}
