package perfbench

/** Labels a Spark job by the call site Spark records as its stage name
  * (`<method> at <File>.scala:<line>`): the user-code frame that
  * launched it.
  *
  *  - `schema`: parquet schema inference, `parquet at Tables.scala`
  *  - `checkpoint`: an eager lineage cut, `localCheckpoint at …`
  *  - `gate`: a result pulled to the driver (take, collect, first, …)
  *    from a graft source file — size gates and driver-side fits
  *  - `other`: any other job launched from a graft source file
  *  - `unattributed`: the stage names no graft file (AQE and broadcast
  *    threads, the harness's own actions)
  */
object CallSite {
  private val Site = """^(\w+) at ([\w$]+\.scala):\d+""".r.unanchored

  val GateMethods: Set[String] = Set("take", "collect", "first", "head",
    "isEmpty", "collectAsList", "takeAsList", "toLocalIterator", "count",
    "reduce", "treeReduce", "aggregate", "treeAggregate", "fold")

  def classify(stageName: String, graftFiles: String => Boolean): String =
    stageName match {
      case Site("localCheckpoint", _) => "checkpoint"
      case Site("parquet", "Tables.scala") => "schema"
      case Site(method, file) if graftFiles(file) =>
        if (GateMethods(method)) "gate" else "other"
      case _ => "unattributed"
    }
}
