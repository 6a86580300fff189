package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

/** Streaming/batch parity: the same event-time operators must produce the
  * batch answer when fed the same data incrementally. */
class StreamOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // static events, materialized to a temp dir so the file source can
  // stream it (events.parquet itself is TIMESTAMP(NANOS) — route through
  // Tables.events' micros conversion first)
  private lazy val stagedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("stream-events").toString
    Tables.events(spark, sfDir).coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming hourly counts equal the batch aggregation") {
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"))
      .orderBy("hour_start", "event_type")
      .collect()

    val staticSchema = spark.read.parquet(stagedDir).schema
    val streamed = StreamOps.hourlyCounts(
      StreamOps.parquetStream(spark, staticSchema, stagedDir))
    val got = StreamOps.runToMemory(spark, streamed, "hourly_test")
      .select("hour_start", "event_type", "n")
      .orderBy("hour_start", "event_type")
      .collect()

    assert(got.length === batch.length)
    assert(got.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("streaming sliding windows equal the batch aggregation") {
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))
      .orderBy("win_start", "event_type")
      .collect()
    val staticSchema = spark.read.parquet(stagedDir).schema
    val got = StreamOps.runToMemory(spark,
        StreamOps.slidingCounts(
          StreamOps.parquetStream(spark, staticSchema, stagedDir), "2 hours", "1 hour"),
        "sliding_test")
      .orderBy("win_start", "event_type")
      .collect()
    assert(got.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("streaming session windows equal the batch session_window answer") {
    val batch = graft.operators.Sessionize
      .sessionWindows(Tables.events(spark, sfDir), col("user_id"),
        col("ts"), "30 minutes")
      .select(col("user_id"), col("session_window.start").as("s"), col("n_events"))
      .orderBy("user_id", "s")
      .collect()
    val staticSchema = spark.read.parquet(stagedDir).schema
    // session-window aggregation rejects update mode (sessions can merge
    // retroactively); complete mode re-emits the full result per batch
    val got = StreamOps.runToMemory(spark,
        StreamOps.userSessions(
          StreamOps.parquetStream(spark, staticSchema, stagedDir), "30 minutes"),
        "session_test", outputMode = "complete")
      .select(col("user_id"), col("session_window.start").as("s"), col("n_events"))
      .orderBy("user_id", "s")
      .collect()
    assert(got.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("q123's session sequences run as a streaming session agg (per-session parity)") {
    // the batch q123 tags sessions with a lag/cumsum rank; the stream
    // uses session_window — SessionizeSpec proves the split rules agree,
    // and this proves the assembled SEQUENCES agree session-for-session
    val batch = graft.queries.EventQueries.q123SessionSequences
      .run(spark, sfDir)
      .select(col("user_id"), col("session_start").as("s"),
        col("n_events"), col("seq"))
      .orderBy("user_id", "s")
      .collect()
    val staticSchema = spark.read.parquet(stagedDir).schema
    val got = StreamOps.runToMemory(spark,
        StreamOps.sessionSequences(
          StreamOps.parquetStream(spark, staticSchema, stagedDir), "30 minutes", 8),
        "seq_test", outputMode = "complete")
      .select(col("user_id"), col("session_window.start").as("s"),
        col("n_events"), col("seq"))
      .orderBy("user_id", "s")
      .collect()
    assert(got.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("flatMapGroupsWithState running totals converge to the batch answer") {
    import spark.implicits._
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .as[(Long, Long)].collect().toMap

    val staticSchema = spark.read.parquet(stagedDir).schema
    val streamed = StreamOps.runningUserTotals(spark,
      StreamOps.parquetStream(spark, staticSchema, stagedDir))
    val updates = StreamOps.runToMemory(spark, streamed, "state_test")
    // update mode emits one row per user per micro-batch; the running
    // count is monotone, so the max per user is the final state
    val got = updates.groupBy("user_id").agg(max("n_events").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got === batch)
  }

  test("minCostUpdates emits only strict improvements; min-parity with batch") {
    import spark.implicits._
    // three relaxation "rounds" staged as one parquet file each, with
    // explicit modification times so the file source sequences them as
    // three micro-batches in this exact order
    val dir = java.nio.file.Files.createTempDirectory("stream-relax").toString
    val rounds = Seq(
      Seq((1L, 10L), (2L, 20L)),            // seeds
      Seq((1L, 5L), (2L, 25L), (3L, 7L)),   // 1 improves, 2 regresses, 3 new
      Seq((1L, 5L), (2L, 15L)))             // 1 ties (suppressed), 2 improves
    rounds.zipWithIndex.foreach { case (rows, i) =>
      val sub = java.nio.file.Files.createTempDirectory(s"relax-r$i").toString
      rows.toDF("node", "cost").coalesce(1).write.mode("overwrite").parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"round$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(dir).schema
    val got = StreamOps.runToMemory(spark,
        StreamOps.minCostUpdates(StreamOps.parquetStream(spark, schema, dir)),
        "relax_test", outputMode = "append")
      .as[(Long, Long)].collect().toSeq
    // exactly the strict improvements, nothing else
    assert(got.sorted === Seq((1L, 5L), (1L, 10L), (2L, 15L), (2L, 20L), (3L, 7L)))
    // final state (last emission per node) = the batch min over all rounds
    val batchMin = rounds.flatten.toDF("node", "cost")
      .groupBy("node").agg(min("cost").as("cost"))
      .as[(Long, Long)].collect().toMap
    val finalPerNode = got.groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).min }
    assert(finalPerNode === batchMin)
  }

  test("streaming BM25 scores converge to batch when query terms arrive in pieces") {
    import spark.implicits._
    import graft.operators.Bm25
    // tiny corpus whose shingle df's land inside the [2, dfMax] window
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon one"),
      (2L, "alpha beta gamma delta epsilon two"),
      (3L, "alpha beta gamma delta epsilon three"),
      (4L, "zeta eta theta iota kappa four"),
      (5L, "zeta eta theta iota kappa five")).toDF("doc_id", "text")
    val index = Bm25.postingIndex(corpus, "doc_id", "text")
      .localCheckpoint() // static serving index (stand-in for the bucketed table)
    // qid=1's terms arrive split across TWO micro-batches
    val batches = Seq(
      Seq((1L, "alpha beta gamma")),
      Seq((1L, "beta gamma delta"), (1L, "gamma delta epsilon")))
    val dir = java.nio.file.Files.createTempDirectory("stream-bm25").toString
    batches.zipWithIndex.foreach { case (rows, i) =>
      val sub = java.nio.file.Files.createTempDirectory(s"bm25-b$i").toString
      rows.toDF("qid", "t").coalesce(1).write.mode("overwrite").parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"batch$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(dir).schema
    val got = StreamOps.runToMemory(spark,
        StreamOps.bm25QueryScores(
          StreamOps.parquetStream(spark, schema, dir), index, "doc_id"),
        "bm25_stream_test", outputMode = "complete")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val batch = StreamOps.bm25QueryScores(
        batches.flatten.toDF("qid", "t"), index, "doc_id")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet === batch.keySet && got.nonEmpty)
    // mergeable-partial contract: split arrival converges to the batch
    // score (same doubles summed; only micro-batch merge order differs)
    got.keys.foreach(k => assert(math.abs(got(k) - batch(k)) < 1e-9, s"pair $k"))
    // and docs 2/3 (which share doc 1's terms) are the scored set
    assert(got.keySet.map(_._2) === Set(2L, 3L))
  }

  test("BM25 index deltas survive a checkpoint bounce: no re-emit, no loss") {
    import spark.implicits._
    import graft.operators.Bm25
    // END-TO-END restart drill for the incremental serving index: land
    // corpus A through bm25IndexDeltas, stop, drop corpus B into the
    // source while the query is "down", restart on the SAME checkpoint.
    // The file-source log must skip A's file (re-ingesting would
    // duplicate A's postings in a new batch partition) and the
    // accumulated store + serving-read weight fold must equal the
    // one-shot batch index over A ∪ B.
    val base = java.nio.file.Files.createTempDirectory("bm25-restart").toString
    val (srcDir, outDir, ckDir) = (s"$base/src", s"$base/out", s"$base/ck")
    val corpusA = Seq(
      (1L, "alpha beta gamma delta epsilon one"),
      (2L, "alpha beta gamma delta epsilon two"),
      (3L, "alpha beta gamma delta epsilon three")).toDF("doc_id", "text")
    val corpusB = Seq(
      (4L, "zeta eta theta iota kappa four"),
      (5L, "zeta eta theta iota kappa five")).toDF("doc_id", "text")
    corpusA.coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.bm25IndexDeltas(
      StreamOps.parquetStream(spark, schema, srcDir), "doc_id", "text",
      outDir, ckDir)
    runOnce() // run 1: ingests A, checkpoints
    corpusB.coalesce(1).write.mode("append").parquet(srcDir)
    runOnce() // run 2: NEW query, same checkpoint — must pick up ONLY B
    val store = spark.read.parquet(outDir)
    // no re-emit: every (doc, term) posting landed exactly once
    assert(store.groupBy("doc_id", "t").count().filter(col("count") > 1).isEmpty,
      "restart re-ingested already-landed postings")
    // no loss: the accumulated store IS the batch postings over A ∪ B
    val full = corpusA.unionByName(corpusB)
    val batchPostings = Bm25.postingDeltas(full, "doc_id", "text")
      .as[(Long, String, Long, Double)].collect().toSet
    val landed = store.select("doc_id", "t", "cnt", "dl")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(landed === batchPostings)
    // serving fold over the store ≡ the one-shot batch index — idf and
    // avgdl reflect B's arrival even though A's postings never moved
    val served = Bm25.weightsFromPostings(store, "doc_id")
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val oneShot = Bm25.postingIndex(full, "doc_id", "text")
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(served.keySet === oneShot.keySet && served.nonEmpty)
    served.keys.foreach(k =>
      assert(math.abs(served(k) - oneShot(k)) < 1e-12, s"posting $k drifted"))
  }

  test("streaming source counts + serving-read waterfill converge to batch") {
    import spark.implicits._
    // docs arrive in two micro-batches; the grouped state is the
    // per-source token count, and the mixing plan is folded on the
    // serving read — must equal the one-shot batch allocation
    val batch1 = Seq(("srcA", "one two three"), ("srcB", "four five"))
    val batch2 = Seq(("srcA", "six seven"), ("srcC", "eight nine ten eleven"))
    val dir = java.nio.file.Files.createTempDirectory("stream-mix").toString
    Seq(batch1, batch2).zipWithIndex.foreach { case (rows, i) =>
      val sub = java.nio.file.Files.createTempDirectory(s"mix-b$i").toString
      rows.toDF("source", "text").coalesce(1).write.mode("overwrite").parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"batch$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(dir).schema
    val counts = StreamOps.runToMemory(spark,
        StreamOps.sourceTokenCounts(
          StreamOps.parquetStream(spark, schema, dir), "source", "text"),
        "mix_stream_test", outputMode = "complete")
    val streamed = graft.operators.Mixing.waterfill(counts, 3, 5)
      .as[(String, Long, Long, Double, Int)].collect().toSet
    val batchAll = graft.operators.Mixing.waterfill(
        StreamOps.sourceTokenCounts(
          (batch1 ++ batch2).toDF("source", "text"), "source", "text"), 3, 5)
      .as[(String, Long, Long, Double, Int)].collect().toSet
    assert(streamed === batchAll && streamed.nonEmpty)
    // srcA's count merged across batches: 3 + 2 = 5 tokens
    assert(streamed.find(_._1 == "srcA").get._2 === 5L)
  }

  test("streaming drift histogram + serving-read KS/W1 converge to batch") {
    import spark.implicits._
    // (segment, value, side) rows arrive in two micro-batches; the
    // grouped state is the value-grain two-sided histogram, and the
    // drift statistics are folded on the serving read — must equal the
    // batch Drift.ksAndW1 over the union exactly (integer counts merge
    // like map-side partials; the fold is the same operator)
    val batch1 = Seq(("sA", 10L, 0), ("sA", 20L, 1), ("sA", 10L, 0),
      ("sB", 5L, 0), ("sB", 9L, 1))
    val batch2 = Seq(("sA", 30L, 1), ("sA", 10L, 1), ("sB", 5L, 1),
      ("sB", 7L, 0), ("sB", 7L, 0))
    val dir = java.nio.file.Files.createTempDirectory("stream-drift").toString
    Seq(batch1, batch2).zipWithIndex.foreach { case (rows, i) =>
      val sub = java.nio.file.Files.createTempDirectory(s"drift-b$i").toString
      rows.toDF("seg", "v", "side").coalesce(1).write.mode("overwrite").parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"batch$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(dir).schema
    val histMem = StreamOps.runToMemory(spark,
      StreamOps.segmentValueCounts(
        StreamOps.parquetStream(spark, schema, dir), "seg", "v", "side"),
      "drift_stream_test", outputMode = "complete")
    // the memory-sink View can't be multi-instanced by the analyzer, so
    // Ecdf's internal self-join trips "conflicting references" on it —
    // a test-harness artifact only; the PRODUCTION path (versioned
    // parquet via sinkCompleteVersions, where the self-join works) is
    // drilled end-to-end with a checkpoint bounce in the next test.
    // Here: copy the served rows into a local relation before the fold
    val hist = histMem.as[(String, Long, Long, Long)].collect().toSeq
      .toDF("seg", "v", "c1", "c2")
    val streamed = graft.operators.Drift
      .ksAndW1(hist, Seq("seg"), "v", "c1", "c2")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    val batchAll = graft.operators.Drift.ksAndW1(
        StreamOps.segmentValueCounts(
          (batch1 ++ batch2).toDF("seg", "v", "side"), "seg", "v", "side"),
        Seq("seg"), "v", "c1", "c2")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    assert(streamed === batchAll && streamed.size === 2)
    // hand check sB: A = {5, 7, 7}, B = {5, 9}; n1=3, n2=2
    // grid 5,7,9: dev = |a·2 − b·3| = 1, 3, 0; gaps 2, 2
    // KS = 3/6 = 0.5; W1 = (1·2 + 3·2)/6 = 8/6 cents
    // CvM: pooled weights 2,2,1 → Σw·dev² = 2+18+0 = 20;
    //      T = 20/(n1·n2·N²) = 20/(6·25) = 0.133333
    val sB = streamed.find(_._1 == "sB").get
    assert(sB._2 === 3L && sB._3 === 2L)
    assert(math.abs(sB._4 - 0.5) < 1e-9)
    assert(math.abs(sB._5 - 8.0 / 6) < 1e-6)
    assert(math.abs(sB._6 - 20.0 / 150) < 1e-6)
  }

  test("drift histogram PARQUET serving path survives a checkpoint bounce") {
    import spark.implicits._
    // the PRODUCTION path the memory-sink note used to defer to: land
    // the complete-mode histogram state as versioned parquet
    // (sinkCompleteVersions), bounce the checkpoint with new source
    // files arriving while DOWN, then serve the drift statistics by
    // reading the newest version through Drift.ksAndW1 — including
    // Ecdf's internal self-join, which a memory-sink View cannot do
    val base = java.nio.file.Files.createTempDirectory("drift-parquet").toString
    val (srcDir, ckDir, histDir) = (s"$base/src", s"$base/ck", s"$base/hist")
    val batch1 = Seq(("sA", 10L, 0), ("sA", 20L, 1), ("sA", 10L, 0),
      ("sB", 5L, 0), ("sB", 9L, 1))
    val batch2 = Seq(("sA", 30L, 1), ("sA", 10L, 1), ("sB", 5L, 1),
      ("sB", 7L, 0), ("sB", 7L, 0))
    batch1.toDF("seg", "v", "side").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkCompleteVersions(
      StreamOps.segmentValueCounts(
        StreamOps.parquetStream(spark, schema, srcDir), "seg", "v", "side"),
      histDir, ckDir)
    runOnce()
    def versions = new java.io.File(histDir).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted
    val afterFirst = versions
    assert(afterFirst.nonEmpty, "first run landed no version")
    // the first run's newest version serves batch1's statistics alone
    val served1 = graft.operators.Drift.ksAndW1(
        StreamOps.latestSnapshot(spark, histDir).get, Seq("seg"), "v", "c1", "c2")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    val batch1Only = graft.operators.Drift.ksAndW1(
        StreamOps.segmentValueCounts(batch1.toDF("seg", "v", "side"),
          "seg", "v", "side"), Seq("seg"), "v", "c1", "c2")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    assert(served1 === batch1Only && served1.nonEmpty)
    batch2.toDF("seg", "v", "side").coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    // restart resumed batch ids from the checkpoint: strictly newer
    // version, no re-ingest of batch1's files (state merged, not doubled)
    assert(versions.last > afterFirst.last,
      s"restart landed no newer version: $afterFirst -> $versions")
    // the serving read folds the FULL five-statistic panel (the q210
    // production read) over the landed state — every statistic must
    // equal the one-shot batch panel over the union
    val served = graft.operators.Drift.ksAndW1(
        StreamOps.latestSnapshot(spark, histDir).get, Seq("seg"), "v",
        "c1", "c2", withAd = true, withEnergy = true)
      .as[(String, Long, Long, Double, Double, Double, Double, Double)]
      .collect().toSet
    val batchAll = graft.operators.Drift.ksAndW1(
        StreamOps.segmentValueCounts(
          (batch1 ++ batch2).toDF("seg", "v", "side"), "seg", "v", "side"),
        Seq("seg"), "v", "c1", "c2", withAd = true, withEnergy = true)
      .as[(String, Long, Long, Double, Double, Double, Double, Double)]
      .collect().toSet
    assert(served === batchAll && served.size === 2,
      s"serving read diverged across the bounce: $served vs $batchAll")
    // same hand-checked sB numbers as the memory-sink test — the
    // parquet path must not change a single statistic
    val sB = served.find(_._1 == "sB").get
    assert(sB._2 === 3L && sB._3 === 2L && math.abs(sB._4 - 0.5) < 1e-9)
  }

  test("latestSnapshot skips a torn version (no _SUCCESS) instead of serving it") {
    import spark.implicits._
    // the serving read can race a version mid-write (or find a crash's
    // truncated directory before the checkpoint replay rewrites it) —
    // the committer's _SUCCESS marker is written LAST, so a version
    // without it must be invisible to serving, not silently partial
    val dir = java.nio.file.Files.createTempDirectory("snap-torn").toString
    Seq(("k1", 1L)).toDF("k", "n").write.parquet(s"$dir/v0")
    Seq(("k1", 2L)).toDF("k", "n").write.parquet(s"$dir/v1")
    assert(new java.io.File(s"$dir/v1/_SUCCESS").delete(),
      "test rig expected a _SUCCESS marker to remove")
    val served = StreamOps.latestSnapshot(spark, dir).get
      .as[(String, Long)].collect().toSet
    assert(served === Set(("k1", 1L)), s"torn v1 served: $served")
    // the idempotent replay rewrites v1 completely — newest serves again
    Seq(("k1", 2L)).toDF("k", "n").write.mode("overwrite").parquet(s"$dir/v1")
    assert(StreamOps.latestSnapshot(spark, dir).get
      .as[(String, Long)].collect().toSet === Set(("k1", 2L)))
    // a snapDir holding ONLY torn versions fails LOUDLY: a silent None
    // here is indistinguishable from "no snapshot ever written", and on
    // a markers-disabled filesystem it would make every upsert merge
    // against nothing — quietly replacing accumulated state
    val dir2 = java.nio.file.Files.createTempDirectory("snap-torn2").toString
    Seq(("k1", 3L)).toDF("k", "n").write.parquet(s"$dir2/v0")
    assert(new java.io.File(s"$dir2/v0/_SUCCESS").delete())
    val e = intercept[IllegalStateException] {
      StreamOps.latestSnapshot(spark, dir2)
    }
    assert(e.getMessage.contains("_SUCCESS")
      && e.getMessage.contains("marksuccessfuljobs"), e.getMessage)
    // None stays reserved for a genuinely empty/absent snapshot dir
    assert(StreamOps.latestSnapshot(spark, s"$dir2/never-written").isEmpty)
  }

  test("gcSnapshots reclaims old complete + stale torn versions; serving and restart unaffected") {
    import spark.implicits._
    // the retention story sinkCompleteVersions' scaladoc promises:
    // ingest N batches -> GC -> serving read unchanged -> restart on
    // the same checkpoint still lands strictly newer versions
    val base = java.nio.file.Files.createTempDirectory("snap-gc").toString
    val (srcDir, ckDir, histDir) = (s"$base/src", s"$base/ck", s"$base/hist")
    def land(rows: Seq[(String, Long, Int)], mode: String): Unit = {
      rows.toDF("seg", "v", "side").coalesce(1)
        .write.mode(mode).parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      StreamOps.sinkCompleteVersions(
        StreamOps.segmentValueCounts(
          StreamOps.parquetStream(spark, schema, srcDir), "seg", "v", "side"),
        histDir, ckDir)
    }
    val b1 = Seq(("sA", 10L, 0), ("sA", 20L, 1))
    val b2 = Seq(("sA", 30L, 1), ("sB", 5L, 0))
    val b3 = Seq(("sB", 7L, 1), ("sB", 5L, 1))
    land(b1, "overwrite"); land(b2, "append"); land(b3, "append")
    def versions = new java.io.File(histDir).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sortBy(_.drop(1).toLong).toSeq
    assert(versions.size >= 3, s"rig expected >=3 versions, got $versions")
    val Seq(v0, v1, v2) = versions.takeRight(3)
    // manufacture: a torn version OLDER than the newest complete (tear
    // v1 by removing its marker), and a torn version NEWER than it
    // (an in-flight write a restart would rewrite)
    assert(new java.io.File(s"$histDir/$v1/_SUCCESS").delete())
    Seq(("sX", 1L, 1)).toDF("seg", "v", "side").coalesce(1)
      .write.parquet(s"$histDir/v999")
    assert(new java.io.File(s"$histDir/v999/_SUCCESS").delete())
    val servedBefore = StreamOps.latestSnapshot(spark, histDir).get
      .as[(String, Long, Long, Long)].collect().toSet
    val deleted = StreamOps.gcSnapshots(spark, histDir, keepLast = 1)
    // reclaimed: the old complete v0 and the stale torn v1; kept: the
    // newest complete v2 and the in-flight torn v999
    assert(deleted === Seq(v0, v1), s"gc deleted $deleted")
    assert(versions === Seq(v2, "v999"), s"post-gc versions: $versions")
    val servedAfter = StreamOps.latestSnapshot(spark, histDir).get
      .as[(String, Long, Long, Long)].collect().toSet
    assert(servedAfter === servedBefore && servedAfter.nonEmpty,
      "GC changed the serving read")
    // keepLast wider than history: nothing to reclaim
    assert(StreamOps.gcSnapshots(spark, histDir, keepLast = 5) === Seq.empty)
    // restart on the SAME checkpoint after GC: strictly newer version,
    // state still the full union (GC never touched the checkpoint)
    land(Seq(("sA", 10L, 1)), "append")
    val newest = versions.filter(_ != "v999").map(_.drop(1).toLong).max
    assert(newest > v2.drop(1).toLong,
      s"restart after GC landed no newer version: $versions")
    val served = StreamOps.latestSnapshot(spark, histDir).get
    val batchAll = StreamOps.segmentValueCounts(
      (b1 ++ b2 ++ b3 ++ Seq(("sA", 10L, 1))).toDF("seg", "v", "side"),
      "seg", "v", "side")
    assert(served.as[(String, Long, Long, Long)].collect().toSet
      === batchAll.as[(String, Long, Long, Long)].collect().toSet,
      "post-GC restart diverged from the one-shot batch state")
    // all-torn directory: GC refuses to touch the crash scene
    val dirT = java.nio.file.Files.createTempDirectory("snap-gc-torn").toString
    Seq(("k", 1L)).toDF("k", "n").write.parquet(s"$dirT/v0")
    Seq(("k", 2L)).toDF("k", "n").write.parquet(s"$dirT/v1")
    assert(new java.io.File(s"$dirT/v0/_SUCCESS").delete())
    assert(new java.io.File(s"$dirT/v1/_SUCCESS").delete())
    assert(StreamOps.gcSnapshots(spark, dirT, keepLast = 1) === Seq.empty)
    assert(new java.io.File(dirT).listFiles().map(_.getName).toSet
      === Set("v0", "v1"), "GC deleted from an all-torn directory")
    // guard: retaining zero complete versions is never legal
    intercept[IllegalArgumentException] {
      StreamOps.gcSnapshots(spark, histDir, keepLast = 0)
    }
    // absent dir: a no-op, not an error
    assert(StreamOps.gcSnapshots(spark, s"$base/never", 1) === Seq.empty)
  }

  test("trajectory monitor: streaming month-keyed state serves ≡ batch q209 across a bounce") {
    import spark.implicits._
    // the standing-monitor leg of the q209/q211 drift trajectory:
    // month-keyed two-sided counts maintained incrementally
    // (complete mode), landed as versioned parquet, served through
    // trajectoryGrid + Drift.ksAndW1 — and the serving read must equal
    // the one-shot batch trajectory over everything ingested, across a
    // checkpoint bounce with files arriving while DOWN
    val base = java.nio.file.Files.createTempDirectory("traj-mon").toString
    val (srcDir, ckDir, snapDir) = (s"$base/src", s"$base/ck", s"$base/snap")
    val cutoff = 199801
    val months = Seq(199801, 199802, 199803)
    def D(s: String) = java.sql.Date.valueOf(s)
    val batch1 = Seq(
      (D("1997-03-10"), 12L), (D("1997-07-01"), 15L), (D("1997-11-20"), 12L),
      (D("1998-01-05"), 13L), (D("1998-01-22"), 15L), (D("1998-02-14"), 12L))
    val batch2 = Seq(
      (D("1997-05-05"), 18L), (D("1998-02-02"), 18L), (D("1998-02-27"), 15L),
      (D("1998-03-03"), 12L), (D("1998-03-30"), 30L))
    batch1.toDF("d", "v").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkCompleteVersions(
      StreamOps.monthValueCounts(
        StreamOps.parquetStream(spark, schema, srcDir), "d", "v", cutoff),
      snapDir, ckDir)
    def serve(): Set[(Int, Long, Long, Option[Double], Option[Double])] =
      graft.operators.Drift.ksAndW1(
          graft.operators.Drift.trajectoryGrid(
            StreamOps.latestSnapshot(spark, snapDir).get, months, cutoff),
          Seq("m"), "v", "cr", "cm")
        .select(col("m"), col("n1"), col("n2"), col("ks_d"), col("w1"))
        .as[(Int, Long, Long, Option[Double], Option[Double])].collect().toSet
    def batchRef(rows: Seq[(java.sql.Date, Long)]) =
      graft.operators.Drift.ksAndW1(
          graft.operators.Drift.trajectoryGrid(
            StreamOps.monthValueCounts(rows.toDF("d", "v"), "d", "v", cutoff),
            months, cutoff),
          Seq("m"), "v", "cr", "cm")
        .select(col("m"), col("n1"), col("n2"), col("ks_d"), col("w1"))
        .as[(Int, Long, Long, Option[Double], Option[Double])].collect().toSet
    runOnce()
    assert(serve() === batchRef(batch1), "first serving read diverged")
    // 1998-03 has no rows yet: it must still be on the grid with an
    // empty month side (NULL statistics), not missing
    val m3a = serve().find(_._1 === 199803).get
    assert(m3a._3 === 0L)
    batch2.toDF("d", "v").coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val served = serve()
    assert(served === batchRef(batch1 ++ batch2),
      "post-bounce serving read diverged from the one-shot batch trajectory")
    // hand-check one month: 1998-02 vs the 1997 reference
    // ref = {12, 15, 12, 18}, feb = {12, 18, 15}: n1=4, n2=3
    val feb = served.find(_._1 === 199802).get
    assert(feb._2 === 4L && feb._3 === 3L)
    // the window guard carries to the serving path: a month older than
    // the cutoff was folded into the reference at ingest — loud refusal
    val e = intercept[IllegalArgumentException] {
      graft.operators.Drift.trajectoryGrid(
        StreamOps.latestSnapshot(spark, snapDir).get, Seq(199712, 199801), cutoff)
    }
    assert(e.getMessage.contains("199712"), e.getMessage)
  }

  test("k-anonymity monitor: streaming class state serves ≡ batch q215 audit across a bounce") {
    import spark.implicits._
    // the standing-monitor leg of the q215 release audit: (QI,
    // sensitive)-grain counts maintained incrementally, landed as
    // versioned parquet, served through the SAME Privacy.audit fold the
    // batch query runs — serving must equal the one-shot batch audit
    // over everything ingested, across a checkpoint bounce with rows
    // arriving while DOWN
    val base = java.nio.file.Files.createTempDirectory("kanon-mon").toString
    val (srcDir, ckDir, snapDir) = (s"$base/src", s"$base/ck", s"$base/snap")
    val qi = Seq("nat", "band")
    // nation 1: one class of 3 then 5 (crosses the k=5 line at batch 2);
    // nation 2: two classes, one singleton (stays below k)
    val batch1 = Seq((1, 0L, "A"), (1, 0L, "A"), (1, 0L, "B"),
      (2, 1L, "A"), (2, 3L, "C"))
    val batch2 = Seq((1, 0L, "B"), (1, 0L, "C"), (2, 1L, "B"))
    batch1.toDF("nat", "band", "seg").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkCompleteVersions(
      graft.operators.Privacy.classState(
        StreamOps.parquetStream(spark, schema, srcDir), qi, "seg"),
      snapDir, ckDir)
    def audit(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Privacy.audit(df, qi, "nat")
        .as[(Int, Long, Long, Long, Long, Long, Double, Long, Double)]
        .collect().toSet
    def serve() = audit(StreamOps.latestSnapshot(spark, snapDir).get)
    def batchRef(rows: Seq[(Int, Long, String)]) = audit(
      graft.operators.Privacy.classState(rows.toDF("nat", "band", "seg"), qi, "seg"))
    runOnce()
    assert(serve() === batchRef(batch1), "first serving read diverged")
    // hand-check: nation 1 has one class of 3 (below k=5, suppressed,
    // l = 2); nation 2 has two singleton-ish classes (k_min = 1, l = 1)
    val n1a = serve().find(_._1 === 1).get
    assert(n1a._2 === 3L && n1a._4 === 3L && n1a._6 === 3L && n1a._8 === 2L)
    batch2.toDF("nat", "band", "seg").coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val served = serve()
    assert(served === batchRef(batch1 ++ batch2),
      "post-bounce serving read diverged from the one-shot batch audit")
    // nation 1's class grew to 5: no longer suppressed, l-diversity 3
    val n1b = served.find(_._1 === 1).get
    assert(n1b._2 === 5L && n1b._4 === 5L && n1b._5 === 0L
      && n1b._6 === 0L && n1b._8 === 3L)
    // r13: the t-closeness audit (q229) rides the IDENTICAL fold — the
    // standing monitor's snapshot must serve it equal to the one-shot
    // batch audit with zero new state
    def tclose(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Privacy.tCloseness(df, qi, "seg", "nat")
        .as[(Int, Long, Double, Double, Long, Long)].collect().toSet
    assert(tclose(StreamOps.latestSnapshot(spark, snapDir).get)
        === tclose(graft.operators.Privacy.classState(
          (batch1 ++ batch2).toDF("nat", "band", "seg"), qi, "seg")),
      "streamed t-closeness serving diverged from the batch audit")
  }

  test("preference monitor: streamed duel counts serve ≡ batch Bradley-Terry fit across a bounce") {
    import spark.implicits._
    // the standing-monitor leg of the q237 preference fit: duel counts
    // maintained incrementally (items²-grain, additive), landed as
    // versioned parquet, served through the SAME MM fold the batch fit
    // runs — including duels that arrive while DOWN
    val base = java.nio.file.Files.createTempDirectory("btmon").toString
    val (srcDir, ckDir, snapDir) = (s"$base/src", s"$base/ck", s"$base/snap")
    val batch1 = Seq.fill(9)(("a", "b")) ++ Seq.fill(1)(("b", "a")) ++
      Seq.fill(6)(("b", "c")) ++ Seq.fill(2)(("c", "b"))
    val batch2 = Seq.fill(3)(("b", "c")) ++ Seq.fill(9)(("a", "c")) ++
      Seq.fill(1)(("c", "a"))
    batch1.toDF("winner", "loser").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkCompleteVersions(
      graft.operators.BradleyTerry.duelState(StreamOps.parquetStream(spark, schema, srcDir)),
      snapDir, ckDir)
    def fit(df: org.apache.spark.sql.DataFrame) =
      graft.operators.BradleyTerry.fitFromCounts(df)
        .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    def serve() = fit(StreamOps.latestSnapshot(spark, snapDir).get)
    def batchRef(rows: Seq[(String, String)]) = fit(
      graft.operators.BradleyTerry.duelState(rows.toDF("winner", "loser")))
    runOnce()
    assert(serve() === batchRef(batch1), "first serving read diverged")
    batch2.toDF("winner", "loser").coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val served = serve()
    assert(served === batchRef(batch1 ++ batch2),
      "post-bounce serving read diverged from the one-shot batch fit")
    // the leaderboard after all duels: a > b > c on the lattice
    val th = served.map(r => r._1 -> r._4).toMap
    assert(th("a") > th("b") && th("b") > th("c"))
  }

  test("covariance-drift monitor: streamed cell state serves ≡ batch q233 fold across a bounce") {
    import spark.implicits._
    // the standing-monitor leg of the q233 second-moment audit:
    // (label, half, cell)-grain sums maintained incrementally, landed
    // as versioned parquet, served through the SAME Drift fold the
    // batch query runs — including rows that arrive while DOWN
    val base = java.nio.file.Files.createTempDirectory("covdrift").toString
    val (srcDir, ckDir, snapDir) = (s"$base/src", s"$base/ck", s"$base/snap")
    // dim-3 quantized vectors, two labels; label 1's halves share
    // marginals but differ in cross-terms (the rotation-shift class
    // q233 exists to catch), label 2's halves are identical
    val batch1 = Seq(
      (1, 0L, Seq(1000L, 2000L, -500L)), (1, 0L, Seq(-1000L, 2000L, 500L)),
      (1, 1L, Seq(1000L, -2000L, 500L)), (2, 0L, Seq(300L, 300L, 300L)),
      (2, 1L, Seq(300L, 300L, 300L)))
    val batch2 = Seq(
      (1, 1L, Seq(-1000L, -2000L, -500L)), (2, 0L, Seq(-300L, 0L, 300L)),
      (2, 1L, Seq(-300L, 0L, 300L)))
    batch1.toDF("label", "h", "q").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkCompleteVersions(
      graft.operators.Drift.covarianceCellState(
        StreamOps.parquetStream(spark, schema, srcDir)),
      snapDir, ckDir)
    def fold(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Drift.covarianceDrift(df)
        .as[(Int, Long, Long, Double)].collect().toSeq
    def serve() = fold(StreamOps.latestSnapshot(spark, snapDir).get)
    def batchRef(rows: Seq[(Int, Long, Seq[Long])]) = fold(
      graft.operators.Drift.covarianceCellState(rows.toDF("label", "h", "q")))
    runOnce()
    assert(serve() === batchRef(batch1), "first serving read diverged")
    // hand-check: label 2's halves are identical → zero drift
    assert(serve().find(_._1 === 2).get._4 === 0.0)
    batch2.toDF("label", "h", "q").coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val served = serve()
    assert(served === batchRef(batch1 ++ batch2),
      "post-bounce serving read diverged from the one-shot batch fold")
    // label 2 stays mirror-identical after the second batch too
    val l2 = served.find(_._1 === 2).get
    assert(l2._2 === 2L && l2._3 === 2L && l2._4 === 0.0)
    // label 1 now has 2 vs 2 with flipped cross-terms → nonzero drift
    assert(served.find(_._1 === 1).get._4 > 0.0)
  }

  test("BPE vocabulary monitor: streamed word counts serve ≡ batch merge learning across a bounce") {
    import spark.implicits._
    // the q235 fit as a standing monitor over corpus deltas: word-grain
    // additive counts land as versioned complete-mode snapshots; the
    // serving read runs the SAME size-gated merge rounds the batch
    // learnMerges runs — including a delta that arrives while DOWN
    val base = java.nio.file.Files.createTempDirectory("bpedict").toString
    val (srcDir, ckDir, snapDir) = (s"$base/src", s"$base/ck", s"$base/snap")
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkCompleteVersions(
      graft.operators.Bpe.wordCounts(
        StreamOps.parquetStream(spark, schema, srcDir), "text"),
      snapDir, ckDir)
    def serve() = graft.operators.Bpe.learnMergesFromCounts(
        StreamOps.latestSnapshot(spark, snapDir).get, rounds = 12)
      .as[(Int, String, String, Long)].collect().toSeq
    def batchRef(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Bpe.learnMerges(d, "text", 12)
        .as[(Int, String, String, Long)].collect().toSeq
    runOnce()
    assert(serve() === batchRef(docs.filter(col("doc_id") % 2 === 0)),
      "first serving read diverged from the one-shot batch fit")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    assert(serve() === batchRef(docs),
      "post-bounce serving read diverged from the one-shot batch fit")
  }

  test("NB training monitor: streamed state serves ≡ batch fit+classify across a bounce") {
    import spark.implicits._
    // the q242 trained filter as a standing monitor: (label, bucket)
    // counts land as versioned complete-mode snapshots; the serving
    // read builds the SAME dense nano-lattice model the batch fit
    // builds — including a delta that arrives while DOWN
    val base = java.nio.file.Files.createTempDirectory("nbstate").toString
    val (srcDir, ckDir, snapDir) = (s"$base/src", s"$base/ck", s"$base/snap")
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"))
    val probe = docs.limit(40).select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkCompleteVersions(
      graft.operators.NaiveBayes.trainState(
        StreamOps.parquetStream(spark, schema, srcDir), "text", "lang"),
      snapDir, ckDir)
    def serve() = graft.operators.NaiveBayes.classify(probe, "doc_id", "text",
        graft.operators.NaiveBayes.modelFromState(
          StreamOps.latestSnapshot(spark, snapDir).get))
      .as[(Long, String)].collect().toMap
    def batchRef(d: org.apache.spark.sql.DataFrame) =
      graft.operators.NaiveBayes.classify(probe, "doc_id", "text",
          graft.operators.NaiveBayes.fit(d, "text", "lang"))
        .as[(Long, String)].collect().toMap
    runOnce()
    assert(serve() === batchRef(docs.filter(col("doc_id") % 2 === 0)),
      "first serving read diverged from the one-shot batch fit")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    assert(serve() === batchRef(docs),
      "post-bounce serving read diverged from the one-shot batch fit")
  }

  test("covariance-drift fold refuses ragged vector dimensions loudly") {
    import spark.implicits._
    // half sizes derive from the (1,1) cell, which is only the group
    // count under one fixed dim — ragged q arrays must raise, not
    // silently mis-scale frob_dist (r14 advice)
    val ragged = Seq(
      (1, 0L, Seq(1000L, 2000L)), (1, 0L, Seq(-1000L, 2000L, 500L)),
      (1, 1L, Seq(1000L, -2000L)), (1, 1L, Seq(500L, -100L)))
    val e = intercept[Exception] {
      graft.operators.Drift.covarianceDrift(
        graft.operators.Drift.covarianceCellState(
          ragged.toDF("label", "h", "q"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("ragged vector dimensions")),
      s"wrong failure: ${e.getMessage}")
    // uniform dims (even when the two halves DIFFER in content) pass
    val uniform = Seq(
      (1, 0L, Seq(1000L, 2000L)), (1, 0L, Seq(-1000L, 500L)),
      (1, 1L, Seq(1000L, -2000L)), (1, 1L, Seq(500L, -100L)))
    assert(graft.operators.Drift.covarianceDrift(
      graft.operators.Drift.covarianceCellState(
        uniform.toDF("label", "h", "q"))).count() === 1L)
  }

  test("span-fingerprint store: streamed deltas serve ≡ the batch novelty screen across a bounce") {
    import spark.implicits._
    // the q234 train side as an append-only stream: two train chunks
    // arrive as separate micro-batches (the second while the query is
    // DOWN), the serving read after the bounce must equal the one-shot
    // batch screen over everything ingested — same operator both paths
    val base = java.nio.file.Files.createTempDirectory("spanfp").toString
    val (srcDir, ckDir, storeDir) = (s"$base/src", s"$base/ck", s"$base/store")
    val sfDir = "/root/testdata/sf0.001"
    val train = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val test_ = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
    train.filter(col("doc_id") % 4 === 0).coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.spanFingerprintDeltas(
      StreamOps.parquetStream(spark, schema, srcDir), "doc_id", "text",
      storeDir, ckDir)
    runOnce()
    train.filter(col("doc_id") % 4 === 2).coalesce(1)
      .write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    // exactly-once: the accumulated store's distinct fingerprints equal
    // the batch operator's over the full train half — no loss from the
    // bounce, no duplication from the two deltas
    val storeFps = spark.read.parquet(storeDir).select("sh")
      .distinct().as[Long].collect().toSet
    val batchFps = graft.operators.Dedup.spanFingerprints(
        train, "doc_id", "text", 8)
      .select("sh").distinct().as[Long].collect().toSet
    assert(storeFps === batchFps, "store fingerprints diverged from batch")
    // serving ≡ batch per-document statistics
    val served = StreamOps.noveltyAgainstStore(spark, storeDir, test_,
        "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val batchScreen = graft.operators.Dedup.spanFingerprints(
        test_, "doc_id", "text", 8)
      .join(graft.operators.Dedup.spanFingerprints(train, "doc_id", "text", 8)
        .select(col("sh")).distinct().withColumn("seen", lit(1)),
        Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("seen"), lit(0))).cast("long").as("n_seen"))
      .as[(Long, Long, Long)].collect().toSet
    assert(served === batchScreen,
      "post-bounce serving screen diverged from the one-shot batch screen")
    assert(served.exists(_._3 > 0) || served.forall(_._3 == 0)) // shape sanity
  }

  test("latestSnapshot requireMarkers=false serves a markers-off store") {
    import spark.implicits._
    // the opt-out for deployments that legitimately disable success
    // markers (mapreduce.fileoutputcommitter.marksuccessfuljobs=false):
    // completeness falls back to the file-shape probe
    val dir = java.nio.file.Files.createTempDirectory("snap-nomark").toString
    Seq(("k1", 1L)).toDF("k", "n").write.parquet(s"$dir/v0")
    Seq(("k1", 2L)).toDF("k", "n").write.parquet(s"$dir/v1")
    for (v <- Seq("v0", "v1"))
      assert(new java.io.File(s"$dir/$v/_SUCCESS").delete())
    // default stays loud (healthy state is indistinguishable from torn)
    intercept[IllegalStateException] { StreamOps.latestSnapshot(spark, dir) }
    // opt-out serves the newest version with non-empty part files
    assert(StreamOps.latestSnapshot(spark, dir, requireMarkers = false).get
      .as[(String, Long)].collect().toSet === Set(("k1", 2L)))
    // a zero-length part file (the common truncation shape) is skipped
    val v2 = new java.io.File(s"$dir/v2"); v2.mkdirs()
    assert(new java.io.File(v2, "part-00000.snappy.parquet").createNewFile())
    assert(StreamOps.latestSnapshot(spark, dir, requireMarkers = false).get
      .as[(String, Long)].collect().toSet === Set(("k1", 2L)),
      "fallback served a truncated version")
    // no servable version under the probe: still loud, never None
    val dir2 = java.nio.file.Files.createTempDirectory("snap-nomark2").toString
    val v0 = new java.io.File(s"$dir2/v0"); v0.mkdirs()
    assert(new java.io.File(v0, "part-00000.snappy.parquet").createNewFile())
    intercept[IllegalStateException] {
      StreamOps.latestSnapshot(spark, dir2, requireMarkers = false)
    }
  }

  test("waterfill availability state survives a checkpoint bounce") {
    import spark.implicits._
    // END-TO-END restart drill for the mixing plan's live input (the
    // BM25 drill's twin for grouped streaming STATE, not landed files):
    // ingest corpus A, stop, drop corpus B into the source while the
    // query is DOWN, restart on the SAME checkpoint. The restored
    // per-source state must merge with the missed micro-batch so the
    // serving-read allocation equals the one-shot batch waterfill over
    // A ∪ B. (Memory sink + complete mode is the one sink/mode pair
    // that supports checkpoint recovery — complete rewrites the table.)
    val base = java.nio.file.Files.createTempDirectory("mix-restart").toString
    val (srcDir, ckDir) = (s"$base/src", s"$base/ck")
    val corpusA = Seq(("srcA", "one two three"), ("srcB", "four five"))
      .toDF("source", "text")
    val corpusB = Seq(("srcA", "six seven"), ("srcC", "eight nine ten eleven"))
      .toDF("source", "text")
    corpusA.coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(tbl: String): org.apache.spark.sql.DataFrame = {
      val q = StreamOps.sourceTokenCounts(
          StreamOps.parquetStream(spark, schema, srcDir), "source", "text")
        .writeStream.format("memory").queryName(tbl).outputMode("complete")
        .option("checkpointLocation", ckDir)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      spark.table(tbl)
    }
    val run1 = runOnce("mix_restart_1").as[(String, Long)].collect().toMap
    assert(run1 === Map("srcA" -> 3L, "srcB" -> 2L))
    corpusB.coalesce(1).write.mode("append").parquet(srcDir) // arrives while DOWN
    val counts2 = runOnce("mix_restart_2")
    // restored state + the missed batch: srcA merged 3 + 2 across the bounce
    val streamed = graft.operators.Mixing.waterfill(counts2, 3, 5)
      .as[(String, Long, Long, Double, Int)].collect().toSet
    val batchAll = graft.operators.Mixing.waterfill(
        StreamOps.sourceTokenCounts(
          corpusA.unionByName(corpusB), "source", "text"), 3, 5)
      .as[(String, Long, Long, Double, Int)].collect().toSet
    assert(streamed === batchAll && streamed.nonEmpty,
      s"allocation diverged across the bounce: $streamed vs $batchAll")
    assert(streamed.find(_._1 == "srcA").get._2 === 5L)
    assert(streamed.map(_._1) === Set("srcA", "srcB", "srcC"))
  }

  test("stream-stream interval join matches keys within the window only") {
    import spark.implicits._
    val ldir = java.nio.file.Files.createTempDirectory("stream-imp").toString
    val rdir = java.nio.file.Files.createTempDirectory("stream-clk").toString
    Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:00:00"))
      .toDF("k", "its").withColumn("its", col("its").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").parquet(ldir)
    Seq(
      (1L, "2024-01-01 10:20:00"),   // within [0s, 30m] of impression 1 → joins
      (2L, "2024-01-01 11:00:00"),   // 60m later → outside the interval
      (3L, "2024-01-01 10:10:00")    // no matching impression key
    ).toDF("k", "cts").withColumn("cts", col("cts").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").parquet(rdir)

    val ls = spark.read.parquet(ldir).schema
    val rs = spark.read.parquet(rdir).schema
    val joined = StreamOps.intervalJoin(
      StreamOps.parquetStream(spark, ls, ldir),
      StreamOps.parquetStream(spark, rs, rdir),
      key = "k", leftTs = "its", rightTs = "cts",
      lower = "0 seconds", upper = "30 minutes")
    val got = StreamOps.runToMemory(spark, joined, "ssjoin_test", outputMode = "append")
    assert(got.count() === 1)
    assert(got.select("k").as[Long].collect().toSeq === Seq(1L))
  }

  test("foreachBatch sink lands every micro-batch, total rows conserved") {
    val src = java.nio.file.Files.createTempDirectory("fb-src").toString
    val out = java.nio.file.Files.createTempDirectory("fb-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fb-ckpt").toString
    // repartition (not coalesce — the source may be 1 partition) so the
    // file stream genuinely sees multiple files
    spark.read.parquet(stagedDir).repartition(2)
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    StreamOps.sinkParquetBatches(
      StreamOps.parquetStream(spark, schema, src), out, ckpt)
    val landed = spark.read.parquet(out)
    assert(landed.count() === spark.read.parquet(src).count())
    // maxFilesPerTrigger=1 over 2 staged files → at least 2 batch partitions
    assert(landed.select("batch_id").distinct().count() >= 2)
  }

  test("hourlyCounts resumes from a real checkpoint after a restart, exactly once") {
    // END-TO-END restart drill for the exactly-once claim: run the
    // watermarked aggregation over a file source to completion, stop the
    // query, drop MORE files into the source while it is "down", then
    // start a brand-new query on the SAME checkpoint. The file-source
    // log must skip the already-ingested file and the state store must
    // resume the watermark — any reprocessing would re-emit run-1's
    // finalized windows (append mode emits each window exactly once).
    val base = java.nio.file.Files.createTempDirectory("stream-restart").toString
    val (srcDir, outDir, ckDir) = (s"$base/src", s"$base/out", s"$base/ck")
    val ev = Tables.events(spark, sfDir).select("ts", "event_type", "value")
    val (minTs, maxTs) = {
      val r = ev.agg(min(col("ts")), max(col("ts"))).head()
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    val cut = new java.sql.Timestamp((minTs.getTime + maxTs.getTime) / 2)
    // part A (early half) is visible for run 1; part B arrives between runs.
    // One file per part: within-run file order is not time order, and a
    // late file arriving under an advanced watermark would be dropped —
    // single-file batches keep the watermark monotone with arrival.
    ev.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = StreamOps.sinkParquetBatches(
      StreamOps.hourlyCounts(StreamOps.parquetStream(spark, schema, srcDir)),
      outDir, ckDir)
    runOnce() // run 1: ingests A, finalizes windows < maxA - 2h, checkpoints
    ev.filter(col("ts") > lit(cut)).coalesce(1).write.mode("append").parquet(srcDir)
    runOnce() // run 2: NEW query, same checkpoint — must pick up only B
    val got = spark.read.parquet(outDir)
      .select("hour_start", "event_type", "n", "total_value")
    // exactly-once across the restart: no window emitted by both runs
    assert(got.groupBy("hour_start", "event_type").count()
      .filter(col("count") > 1).isEmpty, "restart re-emitted finalized windows")
    // every emitted window matches the batch answer over A ∪ B...
    val batch = ev
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_b"), sum(col("value")).as("tv_b"))
      .select(col("w.start").as("hour_start"), col("w.end").as("hour_end"),
        col("event_type"), col("n_b"), col("tv_b"))
    val joined = got.join(batch, Seq("hour_start", "event_type"), "left")
    assert(joined.filter(col("n_b").isNull || col("n") =!= col("n_b") ||
      col("total_value") =!= col("tv_b")).isEmpty)
    // ...and the final watermark's worth of windows all made it out:
    // everything that closed strictly before maxB - 2h must be present
    val horizon = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
    val missing = batch.filter(col("hour_end") < lit(horizon))
      .join(got.select("hour_start", "event_type"),
        Seq("hour_start", "event_type"), "left_anti")
    assert(missing.isEmpty, "a closed window was lost across the restart")
  }

  test("stateless text operators run unchanged on a stream") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-docs").toString
    graft.sources.Tables.documents(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    // the same quality-signal projection q25 uses, applied to readStream
    def score(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      graft.functions.TextFns.tokenCount(col("text")).as("n_tokens"),
      graft.functions.TextFns.punctRatio(col("text")).as("punct_ratio"))
    val streamed = StreamOps.runToMemory(spark,
      score(StreamOps.parquetStream(spark, schema, dir)), "textops_test",
      outputMode = "append")
    val batch = score(spark.read.parquet(dir))
    assert(streamed.orderBy("doc_id").collect().toSeq
      === batch.orderBy("doc_id").collect().toSeq)
  }

  test("q114's Gopher rule metrics run unchanged on a stream (per-doc parity)") {
    // the quality-rule battery is a stateless narrow projection, so the
    // per-doc metrics must be identical batch vs stream — the per-source
    // rollup then composes on either side (here asserted at doc grain,
    // the stronger check)
    import org.apache.spark.sql.functions.{aggregate => hofAggregate, _}
    val dir = java.nio.file.Files.createTempDirectory("stream-gopher").toString
    graft.sources.Tables.documents(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def metrics(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("wc"),
        (hofAggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).cast("double") / size(col("toks"))).as("mwl"),
        graft.functions.TextFns.markerHits(col("toks"),
          Seq("the", "of", "and", "to", "in")).as("stop_hits"))
    val streamed = StreamOps.runToMemory(spark,
      metrics(StreamOps.parquetStream(spark, schema, dir)), "gopher_test",
      outputMode = "append")
    val batch = metrics(spark.read.parquet(dir))
    assert(streamed.orderBy("doc_id").collect().toSeq
      === batch.orderBy("doc_id").collect().toSeq)
  }

  test("streaming count-min sketch is bit-identical to the batch sketch") {
    import graft.operators.Dedup
    import graft.functions.CountMin
    val batchSketch = Tables.events(spark, sfDir)
      .select(Dedup.portableShingleHash(col("event_type")).as("x"))
      .agg(CountMin.sketch(col("x"), 4, 256, Dedup.minhashParams(4), Dedup.MinhashP)
        .as("sk"))
      .select("sk").collect().head.getSeq[Long](0)
    val staticSchema = spark.read.parquet(stagedDir).schema
    val streamedSketch = StreamOps.runToMemory(spark,
        StreamOps.sketchedTypeCounts(
          StreamOps.parquetStream(spark, staticSchema, stagedDir)),
        "cms_test", outputMode = "complete")
      .select("sk").collect().head.getSeq[Long](0)
    assert(streamedSketch === batchSketch)
    // and the sketch answers exact type frequencies on this low-cardinality key
    val truth = Tables.events(spark, sfDir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    truth.foreach { case (tpe, n) =>
      val est = (0 until 4).map(r => streamedSketch(
        r * 256 + CountMin.keyBucket(tpe, r, 256, Dedup.minhashParams(4), Dedup.MinhashP))).min
      assert(est >= n)
    }
  }

  test("streaming quantile sketch is bit-identical to the batch sketch per group") {
    import graft.functions.QuantileSketch
    val (lo, width, nBins) = (0L, 500L, 32)
    val cents = (col("value") * 100).cast("long")
    val batch = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(QuantileSketch.sketch(cents, lo, width, nBins).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val staticSchema = spark.read.parquet(stagedDir).schema
    val streamed = StreamOps.runToMemory(spark,
        StreamOps.sketchedValueQuantiles(
          StreamOps.parquetStream(spark, staticSchema, stagedDir),
          "event_type", cents, lo, width, nBins),
        "qsketch_test", outputMode = "complete")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.keys.foreach(k => assert(streamed(k) === batch(k), s"group $k"))
    // and the streamed state answers quantiles within the bin guarantee
    val someType = batch.keys.head
    val exact = Tables.events(spark, sfDir)
      .filter(col("event_type") === someType)
      .select(cents.as("c")).orderBy(col("c")).collect().map(_.getLong(0))
    val est = QuantileSketch.estimate(streamed(someType), 0.5, lo, width).get
    val p50 = exact((math.ceil(0.5 * exact.length) - 1).toInt.max(0))
    assert(math.abs(est - p50) <= width / 2 + width) // midpoint ± bin width
  }

  test("streaming HLL registers are bit-identical to batch; estimate derives on read") {
    import graft.functions.PortableHll
    val batchReg = PortableHll.registers(
        Tables.events(spark, sfDir), "event_type", col("user_id").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val staticSchema = spark.read.parquet(stagedDir).schema
    val streamedRows = StreamOps.runToMemory(spark,
        graft.functions.PortableHll.registers(
          StreamOps.parquetStream(spark, staticSchema, stagedDir),
          "event_type", col("user_id").cast("string")),
        "hll_test", outputMode = "complete")
    val streamedReg = streamedRows
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(streamedReg === batchReg)
    // the serving read: state + estimate over the streamed registers vs
    // the exact per-group distinct (m=64 → 13% standard error; 4σ bound)
    // group spine from the source catalog (re-deriving it from the
    // memory-sink view would self-join the same plan — conflicting refs)
    val groups = Tables.events(spark, sfDir).select(col("event_type")).distinct()
    val est = PortableHll.state(streamedRows, groups, "event_type")
      .select(col("event_type"),
        PortableHll.estimate(col("t_scaled"), col("v_zero")).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id").cast("string")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(est(g) - n) <= 0.55 * n, s"$g: est ${est(g)} vs exact $n")
    }
  }

  test("streaming A/B sufficient stats are bit-identical to batch (and so is the t)") {
    val cohort = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 2
    val cents = round(col("value") * 100).cast("long")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    def stats(r: org.apache.spark.sql.Row) = (r.getLong(2), r.getLong(3), r.getLong(4))
    val batch = StreamOps.abSufficientStats(
        Tables.events(spark, sfDir), "event_type", cohort, cents)
      .collect().map(r => key(r) -> stats(r)).toMap
    val staticSchema = spark.read.parquet(stagedDir).schema
    val streamed = StreamOps.runToMemory(spark,
        StreamOps.abSufficientStats(
          StreamOps.parquetStream(spark, staticSchema, stagedDir),
          "event_type", cohort, cents),
        "ab_test", outputMode = "complete")
      .collect().map(r => key(r) -> stats(r)).toMap
    assert(streamed === batch)
    // derived Welch t from the streamed state matches the batch one
    def welch(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
      def varOverN(t: (Long, Long, Long)) =
        (t._1.toDouble * t._3 - t._2.toDouble * t._2) /
          (t._1.toDouble * t._1 * (t._1 - 1))
      (a._2.toDouble / a._1 - b._2.toDouble / b._1) /
        math.sqrt(varOverN(a) + varOverN(b))
    }
    val someType = batch.keys.head._1
    val tb = welch(batch((someType, 0L)), batch((someType, 1L)))
    val ts = welch(streamed((someType, 0L)), streamed((someType, 1L)))
    assert(tb === ts && !tb.isNaN)
  }

  test("streaming bounded top-k equals the batch top-k") {
    import graft.functions.TopK
    val batch = Tables.events(spark, sfDir)
      .agg(TopK.topK(col("value"), col("event_id"), 5).as("top"))
      .select(explode(col("top")).as("t")).select("t.s", "t.i")
      .collect().map(_.toString).toSeq
    val staticSchema = spark.read.parquet(stagedDir).schema
    val got = StreamOps.runToMemory(spark,
        StreamOps.parquetStream(spark, staticSchema, stagedDir)
          .agg(TopK.topK(col("value"), col("event_id"), 5).as("top")),
        "topk_test", outputMode = "complete")
      .select(explode(col("top")).as("t")).select("t.s", "t.i")
      .collect().map(_.toString).toSeq
    assert(got === batch)
  }

  test("streaming near-dup band verdicts equal the batch min-id-keeper answer") {
    import graft.operators.Dedup
    val docsDir = java.nio.file.Files.createTempDirectory("stream-docs").toString
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .coalesce(2).write.mode("overwrite").parquet(docsDir)
    val (n, bands, rpb, thr) = (3, 8, 2, 0.5)
    val k = bands * rpb

    // batch twin with the IDENTICAL narrow signature + min-id keeper rule
    def banded(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        Dedup.minhashSigExpr(col("text"), n, k).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig"),
        posexplode(array((0 until bands).map { b =>
          concat_ws(",", (0 until rpb).map(r =>
            element_at(col("sig"), b * rpb + r + 1)): _*)
        }: _*)).as(Seq("band", "bkey")))
    val b = banded(spark.read.parquet(docsDir))
    val keepers = b.groupBy("band", "bkey").agg(min("id").as("keeper_id"))
    val kSig = b.select(col("id").as("keeper_id"), col("band"), col("bkey"),
      col("sig").as("ksig"))
    val expected = b
      .join(keepers, Seq("band", "bkey"))
      .join(kSig, Seq("keeper_id", "band", "bkey"))
      .select(col("id").as("doc_id"), col("band"), col("keeper_id"),
        (size(filter(zip_with(col("sig"), col("ksig"), (x, y) => x === y),
          bo => bo)).cast("double") / k).as("est_jaccard"))
      .withColumn("is_dup",
        col("doc_id") =!= col("keeper_id") && col("est_jaccard") >= thr)
      .collect().map(_.toString).sorted.toSeq

    val staticSchema = spark.read.parquet(docsDir).schema
    val got = StreamOps.runToMemory(spark,
        StreamOps.nearDupBandVerdicts(
          StreamOps.parquetStream(spark, staticSchema, docsDir),
          "doc_id", "text", n, bands, rpb, thr),
        "neardup_test", outputMode = "append")
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("minhashSigExpr matches the aggregated signature") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val narrow = docs.select(col("doc_id").cast("long").as("id"),
      Dedup.minhashSigExpr(col("text"), 3, 16).as("sig_n"))
    val agged = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
      .select(col("id").cast("long").as("id"), col("sig").as("sig_a"))
    val joined = narrow.filter(col("sig_n").isNotNull).join(agged, "id")
    assert(joined.count() === agged.count())
    assert(joined.filter(col("sig_n") =!= col("sig_a")).count() === 0)
  }

  test("dedupWithinWatermark drops duplicate keys") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-dup").toString
    Seq(
      (1L, "2024-01-01 10:00:00", "a"),
      (1L, "2024-01-01 10:05:00", "a-dup"),
      (2L, "2024-01-01 10:10:00", "b")
    ).toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val deduped = StreamOps.dedupWithinWatermark(
      StreamOps.parquetStream(spark, schema, dir), Seq("k"))
    val got = StreamOps.runToMemory(spark, deduped, "dedup_test", outputMode = "append")
    assert(got.count() === 2)
    assert(got.select("k").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("streaming compaction bins match the batch planner") {
    import spark.implicits._
    val rows = Seq(
      ("p", 1L, 3L), ("p", 2L, 3L), ("p", 3L, 3L), ("p", 4L, 3L),
      ("q", 1L, 2L), ("q", 2L, 100L), ("q", 3L, 2L))
    val dir = java.nio.file.Files.createTempDirectory("stream-files").toString
    rows.toDF("k", "id", "bytes").coalesce(1).write.mode("overwrite").parquet(dir)

    val batch = graft.operators.Compaction.assignBins(
        rows.toDF("k", "id", "bytes"), "k", "id", "bytes", 6L)
      .select($"k", $"id", $"bin").as[(String, Long, Long)].collect().toSet

    val schema = spark.read.parquet(dir).schema
    val streamed = StreamOps.runToMemory(spark,
      StreamOps.compactionBins(
        StreamOps.parquetStream(spark, schema, dir), "k", "id", "bytes", 6L),
      "compact_test", outputMode = "append")
      .select($"k", $"id", $"bin").as[(String, Long, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("streaming image dedup: per-hash keeper parity with the batch census") {
    import spark.implicits._
    def png(pattern: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val g = ((pattern * (x + 1) * (y + 2) + x * x) % 17) * 15
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val dir = java.nio.file.Files.createTempDirectory("stream-img").toString
    // 12 images over 4 visual patterns + one unreadable payload
    val rows = (1L to 12L).map(id => (id, png((id % 4).toInt))) :+
      (99L, "not an image".getBytes)
    rows.toDF("img_id", "payload").coalesce(1).write.mode("overwrite").parquet(dir)

    val batch = graft.operators.Multimodal.perceptualHash(
        rows.toDF("img_id", "payload"), "payload")
      .filter(col("phash").isNotNull)
      .groupBy(col("phash")).agg(min(col("img_id")).as("keeper_id"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val schema = spark.read.parquet(dir).schema
    val verdicts = StreamOps.runToMemory(spark,
      StreamOps.imageDupVerdicts(
        StreamOps.parquetStream(spark, schema, dir), "img_id", "payload"),
      "img_dedup_test", outputMode = "append")
      .select("id", "phash", "keeper_id", "is_dup")
      .as[(Long, Long, Long, Boolean)].collect()

    assert(verdicts.length === 12) // unreadable payload filtered, not hashed
    verdicts.foreach { case (id, h, keeper, dup) =>
      assert(keeper === batch(h)._1, s"img $id keeper")
      assert(dup === (id != batch(h)._1), s"img $id verdict")
    }
    // every multi-image hash bucket has exactly one non-dup (the keeper)
    val keepers = verdicts.filter(!_._4).map(_._2)
    assert(keepers.sorted.toSeq === batch.keys.toSeq.sorted)
  }
}
