package graft.tools

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

/** The ×k replica writer behind `Probe --scale`: every table is
  * written, replicated tables grow exactly ×k with disjoint ids, the
  * bounded dimensions stay fixed, and replicas of different source
  * dirs never share a cache dir. */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val allTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  // the ids each replicated table remaps into the ×k keyspace
  private val ids = Map(
    "documents" -> Seq("doc_id"), "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"), "lineitem" -> Seq("l_orderkey"),
    "embeddings" -> Seq("vec_id"), "events" -> Seq("event_id", "user_id"))

  test("k=2 replica: all tables, 2x rows with disjoint ids, fixed dimensions") {
    val root = Files.createTempDirectory("graft-probe-spec").toFile
    try {
      val dir = Probe.relTables(spark, sf, 2, root.getPath)
      assert(new File(dir, "_done").exists())
      assert(Probe.FixedTables.toSet ++ ids.keySet === allTables.toSet)
      allTables.foreach(t => assert(new File(dir, s"$t.parquet").isDirectory, t))

      ids.foreach { case (t, idCols) =>
        val (src, rep) = (Tables.byName(spark, sf, t), Tables.byName(spark, dir, t))
        assert(rep.count() === 2 * src.count(), t)
        // each replica maps ids one-to-one, so twice the distinct ids
        // means no id is shared across replicas
        idCols.foreach { c =>
          def distinct(df: org.apache.spark.sql.DataFrame) =
            df.agg(countDistinct(col(c))).head().getLong(0)
          assert(distinct(rep) === 2 * distinct(src), s"$t.$c")
        }
      }
      Probe.FixedTables.foreach { t =>
        val (src, rep) = (Tables.byName(spark, sf, t), Tables.byName(spark, dir, t))
        assert(rep.collect().toSet === src.collect().toSet, t)
        assert(rep.count() === src.count(), t)
      }
      // a second call reuses the finished replica
      assert(Probe.relTables(spark, sf, 2, root.getPath) === dir)
    } finally deleteRecursively(root)
  }

  test("replica dirs are keyed on the source dir and k") {
    val a = Probe.replicaDir("/root/testdata/sf0.1", 8)
    assert(Probe.replicaDir("/root/testdata/sf0.1/", 8) === a)
    assert(Probe.replicaDir("/root/testdata/sf0.01", 8) !== a)
    assert(Probe.replicaDir("/root/testdata/sf0.1", 4) !== a)
    // same name, different parent: two copies of one scale factor
    assert(Probe.replicaDir("/elsewhere/sf0.1", 8) !== a)
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  test("explain prints every field of a wide plan") {
    val key = "spark.sql.debug.maxToStringFields"
    val before = spark.conf.getOption(key)
    // a local relation prints its output list as the scan's arguments
    val wide = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq((0 until 40).map(_.toLong))),
      org.apache.spark.sql.types.StructType((0 until 40).map(i =>
        org.apache.spark.sql.types.StructField(s"c$i", org.apache.spark.sql.types.LongType))))
    // Spark's default prints the first fields and "... N more fields"
    assert(wide.queryExecution.explainString(FormattedMode).contains("more fields"))
    try Seq(false, true).foreach { exec =>
      val plan = Probe.explain(wide, exec)
      assert(!plan.contains("more fields"), s"exec=$exec")
      assert(plan.contains("c39"), s"exec=$exec")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
