package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY §2.10). The reference is a finite
  * batch crawl, so streaming is engine capability beyond parity: the same
  * event-time constructs the batch queries use (`window`,
  * `session_window`) run unchanged under `readStream` — these helpers
  * wire watermarks + sinks around them.
  *
  * Scale notes: watermark bounds state; windowed aggregations shuffle by
  * (window, key) exactly like their batch twins; dedup-within-watermark
  * is the streaming form of `dropDuplicates` with bounded state.
  */
object StreamOps {

  /** Files a [[parquetStream]] reads per micro-batch. */
  private val FilesPerTrigger = 1
  /** Event-time lateness every watermarked operator here tolerates. */
  private val Watermark = "2 hours"
  /** Count-min shape of [[sketchedTypeCounts]]: rows × counters. */
  private val SketchDepth = 4
  private val SketchWidth = 256
  /** Word-shingle length of the span fingerprint store and its read. */
  private val SpanN = 8

  /** File-source stream over a directory of parquet (schema must be
    * supplied — streaming sources cannot infer). */
  def parquetStream(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(path)

  /** Tumbling event-time counts with a watermark — the streaming twin of
    * EventQueries.q19HourlyAgg. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total_value"))

  /** Sliding event-time counts — streaming twin of q20SlidingAgg. Each
    * event lands in windowSize/slide windows; state per (window, type)
    * is evicted once the watermark passes the window end. */
  def slidingCounts(events: DataFrame, windowSize: String, slide: String): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), windowSize, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows with watermark — streaming twin of q21Sessions. */
  def userSessions(events: DataFrame, gap: String): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))

  /** q123's behavioral-sequence export as a streaming session
    * aggregation: the same session rule via `session_window`, the
    * ordered event-type sequence truncated to `maxLen` in-row. The
    * batch twin bounds per-group state with a window rank; a streaming
    * agg has no rank, so the collect is session-sized — bounded in
    * practice by the session gap + watermark horizon, which caps how
    * long any session can stay open. */
  def sessionSequences(events: DataFrame, gap: String, maxLen: Int): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        concat_ws(" ", slice(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          s => s.getField("event_type")), 1, maxLen)).as("seq"))

  /** Exactly-once event dedup with bounded state: drops events whose key
    * re-appears within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", Watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Custom keyed state via flatMapGroupsWithState (SURVEY §2.10 "custom
    * state"): running per-user event count + value total, one update row
    * emitted per user per micro-batch. State is one (count,total) pair
    * per user — bounded, mergeable, timeout-evictable. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val typed = events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (n, total) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update((n, total))
          Iterator((uid, n, total))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Streaming near-duplicate filter: MinHash band buckets as KEYED
    * STATE. Each document's signature is computed NARROWLY per row
    * (Dedup.minhashSigExpr — a stateful operator cannot follow an
    * aggregation), banded, and every (band, bucket) group remembers its
    * CANONICAL first document (min id within the first batch that
    * touches the bucket, then sticky across batches). Each arriving doc
    * is verdict-ed against its buckets' keepers: signature agreement ≥
    * `threshold` in any band flags it as a duplicate of that keeper —
    * the streaming shape of q94's delta-vs-reference dedup, with the
    * reference index living IN the stream state. State per bucket is one
    * id + one k-long signature, bounded by the bucket space.
    * Emits one verdict row per (doc, band). */
  def nearDupBandVerdicts(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val k = bands * rowsPerBand
    import graft.operators.Dedup
    val banded = docs
      .select(col(idCol).cast("long").as("id"),
        Dedup.minhashSigExpr(col(textCol), n, k).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig"), Dedup.minhashBands(col("sig"), bands, rowsPerBand))
      .as[(Long, Seq[Long], Int, String)]
    banded.groupByKey(d => (d._3, d._4))
      .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Int, Long, Double, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), rows: Iterator[(Long, Seq[Long], Int, String)],
            state: GroupState[(Long, Seq[Long])]) =>
          val rs = rows.toSeq.sortBy(_._1)
          val keeper = state.getOption.getOrElse((rs.head._1, rs.head._2))
          if (!state.exists) state.update(keeper)
          rs.iterator.map { case (id, sig, band, _) =>
            val est = sig.zip(keeper._2).count { case (x, y) => x == y }.toDouble / k
            (id, band, keeper._1, est, id != keeper._1 && est >= threshold)
          }
      }
      .toDF("doc_id", "band", "keeper_id", "est_jaccard", "is_dup")
  }

  /** Streaming twin of `Compaction.assignBins` (q162): per-partition
    * cumulative byte totals as keyed state — ONE long per partition key
    * forever — so every file that lands gets its compaction bin
    * `floor(bytes-before / target)` the moment it arrives, instead of
    * waiting for a batch re-plan. Within a micro-batch files are
    * processed in `orderCol` order (the batch operator's contract);
    * across batches the running total carries, which is exactly the
    * append-only case q173's incremental re-plan handles in batch.
    * Emits (key, id, bytes, bin). */
  def compactionBins(files: DataFrame, keyCol: String, orderCol: String,
      sizeCol: String, targetBytes: Long): DataFrame = {
    import files.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    files
      .select(col(keyCol).cast("string").as("k"),
        col(orderCol).cast("long").as("id"), col(sizeCol).cast("long").as("bytes"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
          var prior = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { case (_, id, bytes) =>
            val bin = prior / targetBytes
            prior += bytes
            (key, id, bytes, bin)
          }
          state.update(prior)
          out.iterator
      }
      .toDF(keyCol, orderCol, sizeCol, "bin")
  }

  /** Streaming image dedup: q165's perceptual hash as the stream key.
    * Arriving payloads hash NARROWLY per row (the stateless
    * `Multimodal.perceptualHash` mapPartitions runs unchanged on a
    * stream), then every distinct hash value keeps its CANONICAL first
    * image id as keyed state — one long per distinct visual, bounded by
    * the distinct-image space, never the stream volume. Each image gets
    * a verdict against its hash bucket's keeper: the streaming shape of
    * the q165 hash-groupBy census, with the dedup index living IN the
    * state (the [[nearDupBandVerdicts]] contract for the image
    * modality). Unreadable payloads (NULL hash) are filtered — they
    * can't claim visual identity with anything. */
  def imageDupVerdicts(images: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    import images.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val hashed = graft.operators.Multimodal.perceptualHash(
        images.select(col(idCol).cast("long").as("id"),
          col(payloadCol).as("payload")), "payload")
      .filter(col("phash").isNotNull)
      .select(col("id"), col("phash")).as[(Long, Long)]
    hashed.groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val rs = rows.toSeq.sortBy(_._1)
          val keeper = state.getOption.getOrElse(rs.head._1)
          if (!state.exists) state.update(keeper)
          rs.iterator.map { case (id, h) => (id, h, keeper, id != keeper) }
      }
      .toDF("id", "phash", "keeper_id", "is_dup")
  }

  /** Streaming twin of `Iterate.relaxMin`'s per-node state (the one
    * iterative operator family that previously had no stream-portable
    * story): a stream of (node, cost) candidate distances min-merges
    * into keyed state — ONE long per node — and emits only STRICT
    * improvements, i.e. the delta frontier of a Bellman-Ford round.
    * Deployed, the emitted improvements stream-static-join the edge
    * relation (cost + w per out-edge) and feed back as the next
    * candidates: each micro-batch is then one relaxation round, and the
    * query drains exactly when the batch loop's frontier does (a
    * non-improving candidate touches nothing and emits nothing).
    * State is bounded by the node set, never the candidate volume. */
  def minCostUpdates(candidates: DataFrame): DataFrame = {
    import candidates.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    candidates.select(col("node").cast("long"), col("cost").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (node: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val best = rows.map(_._2).min
          if (state.getOption.forall(best < _)) {
            state.update(best)
            Iterator((node, best))
          } else Iterator.empty
      }
      .toDF("node", "cost")
  }

  /** Stream-stream interval join: rows of `left` join rows of `right`
    * with the same key whose event time lands in [leftTs + lower,
    * leftTs + upper]. Both sides carry watermarks so the join state is
    * bounded — Spark evicts buffered rows once the watermark passes the
    * interval's reach (the unbounded-state trap of naive stream joins). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, lower: String, upper: String): DataFrame = {
    val l = left.withWatermark(leftTs, Watermark).alias("l")
    val r = right.withWatermark(rightTs, Watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") + expr(s"INTERVAL $lower") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $upper"))
      .drop(col(s"r.$key"))
  }

  /** Streaming count-min sketch of event types — mergeable sketches are
    * the canonical unbounded-stream aggregate: state is depth×width
    * longs FOREVER, independent of key cardinality, and micro-batch
    * partials merge exactly like map-side partials in batch (same
    * CountMin.agg merge path), so the streamed sketch is bit-identical
    * to the batch sketch over the same rows. Contrast with exact
    * per-key streaming counts, whose state grows with the key space. */
  def sketchedTypeCounts(events: DataFrame): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.CountMin
    events
      .select(Dedup.portableShingleHash(col("event_type")).as("x"))
      .agg(CountMin.sketch(col("x"), SketchDepth, SketchWidth,
        Dedup.minhashParams(SketchDepth), Dedup.MinhashP).as("sk"))
  }

  /** Streaming mergeable quantile histogram — the q134 sketch as
    * grouped complete-mode state: nBins longs per group FOREVER, so
    * grouped p50/p90/p99 over an unbounded stream never retains
    * value-scale data, and micro-batch partials vector-add exactly
    * like batch map-side partials (same QuantileSketch.agg merge
    * path) — the streamed bin counts are bit-identical to the batch
    * sketch over the same rows. Completes the streaming sketch family
    * (count-min for frequencies, top-k for extremes, this for
    * distribution shape). `valueCents` must already be integral (the
    * sketch's integer-exactness contract). */
  def sketchedValueQuantiles(events: DataFrame, groupCol: String,
      valueCents: Column, lo: Long, width: Long, nBins: Int): DataFrame =
    events.groupBy(col(groupCol))
      .agg(graft.functions.QuantileSketch.sketch(valueCents, lo, width, nBins).as("qs"))

  /** Streaming A/B experiment monitor — q147's Welch sufficient
    * statistics as grouped streaming state: per (group, cohort) the
    * state is THREE longs (n, Σv, Σv²) forever, and each micro-batch
    * merges exactly like a batch map-side partial (integer sums are
    * order-independent), so the streamed statistics — and the t-test
    * derived from them on the serving read — are bit-identical to the
    * batch answer over the same rows. The live experiment dashboard
    * that updates per micro-batch without ever retaining events.
    * `valueCents` must be integral (the q96/q134/q147 exactness
    * contract). */
  def abSufficientStats(events: DataFrame, groupCol: String,
      cohort: Column, valueCents: Column): DataFrame =
    events.groupBy(col(groupCol), cohort.as("v"))
      .agg(count(lit(1)).as("n"), sum(valueCents).as("s"),
        sum(valueCents * valueCents).as("q"))

  /** Streaming BM25 retrieval scoring — the serving face of
    * `operators/Bm25`: a STREAM of query terms joins the STATIC
    * posting index (stream-static equi-join on the term — the same
    * zero-exchange-under-the-index plan the batch path uses on a
    * bucketed table) and per-(query, doc) scores accumulate as a
    * streaming sum. Because the doc-side weight is fully precomputed
    * in the index, the running score is a mergeable partial: a query
    * whose terms arrive across micro-batches converges to exactly the
    * batch score, term order be damned. Ranking (top-k) happens on
    * the serving read over the maintained scores — Structured
    * Streaming's one-aggregation rule puts the argmax on the reader,
    * which is where a serving system wants it anyway. */
  def bm25QueryScores(queryTerms: DataFrame, index: DataFrame,
      idCol: String): DataFrame =
    queryTerms.join(index, "t")
      .filter(col(idCol) =!= col("qid"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("wgt")).as("score_raw"))

  /** Streaming source-availability counter — the live input to the
    * mixing plan: per-source token counts as grouped streaming state
    * (|sources| rows of three-long state, bounded forever; integer
    * sums merge exactly like batch map-side partials, so the streamed
    * table is bit-identical to the batch count over the same rows).
    * The ALLOCATION is derived on the serving read with
    * `operators/Mixing.waterfill` — the same read-side-derivation
    * contract as [[abSufficientStats]]: streaming maintains sufficient
    * statistics, the read folds the closed form, and a corpus that
    * grows between reads shifts the plan without replaying anything. */
  def sourceTokenCounts(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("s"))
      .filter(col("s") =!= "")
      .groupBy(col("source")).agg(count(lit(1)).as("avail"))

  /** Streaming drift-monitor input — the live histogram the one-pass
    * drift read (`operators/Drift.ksAndW1`, q205's core) folds at
    * serving time: per-(segment, value-grid, side) counts as grouped
    * streaming state. Same sufficient-statistics contract as
    * [[sourceTokenCounts]]: integer counts merge exactly like batch
    * map-side partials, so the streamed histogram is bit-identical to
    * the batch aggregate over the same rows and the serving-read KS/W1
    * are EXACT, not approximations of the batch numbers. State is
    * value-grain (distinct (segment, grid-value) pairs), the same
    * bound the batch query's shuffle carries.
    *
    * Contract: `sideCol` must be 0 or 1. Any other value (or NULL)
    * lands in NEITHER count — rows silently vanish from both ECDFs —
    * so callers with a dirty side encoding must normalize or filter
    * BEFORE this operator (the streaming state cannot fail a row
    * loudly without poisoning the query). */
  def segmentValueCounts(rows: DataFrame, segCol: String, valueCol: String,
      sideCol: String): DataFrame =
    rows
      .groupBy(col(segCol).as("seg"), col(valueCol).as("v"))
      .agg(sum(when(col(sideCol) === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col(sideCol) === 1, 1L).otherwise(0L)).as("c2"))

  /** Month-keyed two-sided drift state — the STANDING-MONITOR leg of
    * the q209/q211 drift trajectory: a complete-mode streaming count
    * keyed by (month-or-reference, value), where every row older than
    * `refCutoffMonth` folds into the fixed reference key (−1) and
    * newer rows carry their own yyyymm. The state is value-grain ×
    * (|months|+1) — the same bound the batch query's shuffle carries —
    * and lands via [[sinkCompleteVersions]]; `Drift.trajectoryGrid` +
    * `Drift.ksAndW1` turn the newest snapshot into exactly the batch
    * q209 read — the key fold (`Drift.monthKey`) and the grid fold are
    * the SAME code the batch query runs, so the two legs cannot drift
    * (StreamOpsSpec pins serving ≡ batch across a checkpoint
    * bounce). */
  def monthValueCounts(rows: DataFrame, dateCol: String, valueCol: String,
      refCutoffMonth: Int): DataFrame =
    rows
      .groupBy(graft.operators.Drift.monthKey(col(dateCol), refCutoffMonth)
          .as("mk"),
        col(valueCol).as("v"))
      .agg(count(lit(1)).as("c"))

  /** Incremental BM25 posting ingest — the serving-index face of the
    * q94 cross-corpus incremental pattern: each micro-batch of NEW
    * documents lands its per-doc posting delta (id, t, cnt, dl —
    * corpus-statistics-free by construction, see `Bm25.postingDeltas`)
    * as one exactly-once parquet batch partition (foreachBatch +
    * checkpoint: a replayed batch id overwrites its own partition
    * instead of duplicating). The serving read folds idf/avgdl over
    * the ACCUMULATED store with `Bm25.weightsFromPostings`, so late
    * documents shift the corpus statistics at read time without ever
    * invalidating landed postings — the property that makes the index
    * append-only at 100 TB. Survives a checkpoint bounce: a restarted
    * query's file-source log skips already-ingested files
    * (StreamOpsSpec restart drill pins no re-emit / no loss). */
  def bm25IndexDeltas(newDocs: DataFrame, idCol: String, textCol: String,
      outDir: String, checkpointDir: String): Unit =
    drainBatches(newDocs.writeStream, checkpointDir) { (batch, id) =>
      graft.operators.Bm25.postingDeltas(batch, idCol, textCol)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** Incremental verbatim-span fingerprint store — the q234 novelty
    * screen's train side as an append-only stream (the
    * [[bm25IndexDeltas]] pattern): each micro-batch of NEW train
    * documents lands its distinct 60-bit span fingerprints
    * ([[graft.operators.Dedup.spanFingerprints]] — a pure per-document
    * function, so deltas never invalidate landed rows) as one
    * exactly-once parquet batch partition (foreachBatch + checkpoint:
    * a replayed batch id overwrites its own partition instead of
    * duplicating). Survives a checkpoint bounce like the BM25 store
    * (file-source log skips ingested files — StreamOpsSpec drill). */
  def spanFingerprintDeltas(newDocs: DataFrame, idCol: String,
      textCol: String, outDir: String, checkpointDir: String): Unit =
    drainBatches(newDocs.writeStream, checkpointDir) { (batch, id) =>
      graft.operators.Dedup.spanFingerprints(batch, idCol, textCol, SpanN)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** The serving read over [[spanFingerprintDeltas]]' accumulated
    * store: per test document, its distinct span count and how many of
    * those spans the store has seen — the q234 per-document statistic,
    * from the SAME [[graft.operators.Dedup.spanFingerprints]] pipeline
    * the batch audit runs, so the standing screen and the batch query
    * cannot disagree (the Privacy.classState/audit contract applied to
    * memorization screening). The store side is read as DISTINCT
    * fingerprints — duplicates across deltas (the same span arriving
    * in several batches) must not double-count.
    * @return (id, n_spans, n_seen) */
  def noveltyAgainstStore(spark: SparkSession, storeDir: String,
      testDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val store = spark.read.parquet(storeDir).select(col("sh")).distinct()
    graft.operators.Dedup.spanFingerprints(testDocs, idCol, textCol, SpanN)
      .join(store.withColumn("seen", lit(1)), Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("seen"), lit(0))).cast("long").as("n_seen"))
  }

  /** Production landing for a COMPLETE-mode streaming aggregate — the
    * [[segmentValueCounts]] drift histogram's parquet path: every
    * micro-batch rewrites the FULL (bounded, value-grain) state as a
    * new parquet version `v<batchId>`, and the serving read folds the
    * drift statistics over [[latestSnapshot]] — a real parquet
    * relation, so `Drift.ksAndW1`'s internal Ecdf self-join works
    * (the memory sink's single-instance View cannot be self-joined —
    * the test-harness limitation this path removes). Exactly-once
    * EFFECT by the [[upsertBatches]] argument: complete mode hands
    * each batch the whole deterministic state, so a batch replayed
    * after a crash rewrites the same bytes into the same version dir.
    * Scale shape: the rewrite is proportional to the STATE (distinct
    * (segment, grid-value) pairs — the same bound the batch query's
    * shuffle carries), never to the corpus; old versions are
    * retention-GC'd with [[gcSnapshots]] (a standing monitor at
    * production cadence would otherwise accumulate versions without
    * bound). Survives a checkpoint bounce: a
    * restarted query resumes its state and batch ids from the
    * checkpoint and lands strictly newer versions (StreamOpsSpec
    * drills stop → new files while down → restart → serving read
    * equals the one-shot batch monitor). */
  def sinkCompleteVersions(streamed: DataFrame, outDir: String,
      checkpointDir: String): Unit =
    drainBatches(streamed.writeStream.outputMode("complete"), checkpointDir) {
      (batch, id) => batch.write.mode("overwrite").parquet(s"$outDir/v$id")
    }

  /** foreachBatch sink: each micro-batch lands as a batch write with
    * its batch id — the production pattern for sinks Structured
    * Streaming doesn't speak natively (JDBC, multi-table fan-out,
    * merge/upsert). The checkpoint dir gives exactly-once per batch id:
    * a replayed batch overwrites its own partition instead of
    * duplicating. Runs to completion (AvailableNow-style drain). */
  def sinkParquetBatches(streamed: DataFrame, outDir: String, checkpointDir: String): Unit =
    drainBatches(streamed.writeStream, checkpointDir) {
      (batch, id) => batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** Streaming MERGE INTO (the q124 CDC upsert, incremental): maintains
    * a keyed snapshot under `snapDir` by applying every micro-batch of
    * changes with upsert semantics — key matches update (change columns
    * win via coalesce), misses insert. Each batch writes the merged
    * snapshot as a NEW version directory `v<batchId>` and always merges
    * against the newest version with id < its own, so a batch replayed
    * after a crash re-reads the same predecessor and rewrites the same
    * bytes — exactly-once EFFECT from determinism + idempotence, no
    * transactional store needed (upsert-of-identical-changes is a
    * fixpoint; MaintenanceStreamSpec asserts exactly that).
    *
    * Scale shape: one key-keyed full-outer join per micro-batch (AQE
    * broadcasts small deltas — same UNHINTED choice as batch q124), and
    * the snapshot rewrite is a full scan of the current version: the
    * honest cost of parquet-as-a-table. A format with row-level MERGE
    * would replace only the touched files; the operator seam (batch id,
    * deterministic predecessor, column-coalesce precedence) is
    * identical, which is the point of the twin.
    *
    * `changes` and the bootstrapped snapshot must share a schema; rows
    * within one batch are deduped on `key` (last-writer within a batch
    * is not meaningful for a parquet micro-batch — cross-batch order is
    * what the version chain preserves). */
  def upsertBatches(changes: DataFrame, key: String, snapDir: String,
      checkpointDir: String): Unit =
    drainBatches(changes.writeStream, checkpointDir) { (batch, id) =>
      val b = batch.dropDuplicates(Seq(key))
      val merged = latestSnapshot(batch.sparkSession, snapDir, beforeId = id) match {
        case None => b
        case Some(snap) =>
          val cols = snap.columns.toSeq
          snap.as("s").join(b.as("c"),
              col(s"s.$key") === col(s"c.$key"), "full_outer")
            .select(cols.map(c =>
              coalesce(col(s"c.$c"), col(s"s.$c")).as(c)): _*)
      }
      merged.write.mode("overwrite").parquet(s"$snapDir/v$id")
    }

  /** Seed `snapDir` with an initial snapshot (version -1, before every
    * micro-batch id) — the MERGE target that exists before the change
    * stream starts. */
  def bootstrapSnapshot(base: DataFrame, snapDir: String): Unit =
    base.write.mode("overwrite").parquet(s"$snapDir/v-1")

  /** Retention GC for a versioned snapshot directory (the
    * [[sinkCompleteVersions]] / [[upsertBatches]] /
    * [[bootstrapSnapshot]] layout): deletes every version that can no
    * longer be served or repaired, keeps everything else. A standing
    * monitor lands a full new `v<batchId>` every micro-batch, so
    * without GC the directory grows without bound — this is the
    * "out of band" maintenance call, safe to run at any time,
    * including concurrently with serving reads (a serving read only
    * ever opens the newest complete version, which GC never touches).
    *
    * Reclaimable, by construction:
    *  - COMPLETE versions older than the `keepLast` newest complete
    *    ones (history beyond the retention window) — EXCEPT the replay
    *    merge base, see below;
    *  - TORN versions (no `_SUCCESS`) strictly older than the newest
    *    complete version — a later batch only starts after its
    *    predecessor's foreachBatch returned, so no replay will ever
    *    rewrite them and no read will ever serve them.
    *
    * Never touched:
    *  - the `keepLast` newest COMPLETE versions (the newest complete
    *    one in particular — `keepLast` is required >= 1);
    *  - the REPLAY MERGE BASE: the newest complete version strictly
    *    below the newest version STARTED (complete or torn). A fully
    *    written parquet version (`_SUCCESS` present) does NOT prove
    *    its streaming batch COMMITTED — a crash between the parquet
    *    commit and the checkpoint commit makes the restart replay that
    *    batch, and [[upsertBatches]]' replay merges against the newest
    *    complete version below it ([[latestSnapshot]] `beforeId`);
    *    deleting that base would make the replay merge against nothing
    *    and silently truncate the accumulated state to the last
    *    batch's keys. Retained regardless of `keepLast`. (Only the
    *    LAST batch can be in this committed-parquet/uncommitted-
    *    checkpoint window — earlier batches committed before their
    *    successors started — so one extra version suffices.);
    *  - torn versions NEWER than the newest complete one: those are
    *    in-flight (a restart's idempotent replay rewrites them);
    *  - anything, when NO complete version exists: an all-torn
    *    directory is a crash scene ([[latestSnapshot]] fails loudly on
    *    it) and GC must not destroy the evidence a repair needs.
    *
    * Completeness is judged by the `_SUCCESS` marker only — on a
    * markers-disabled filesystem GC reclaims nothing (conservative by
    * design; re-enable markers to reclaim). Deletion removes the
    * `_SUCCESS` marker FIRST, then the directory: a serving read
    * racing the recursive delete sees a torn (skippable) version, not
    * a marked one with missing part files.
    *
    * @return the version directory names deleted, oldest first */
  def gcSnapshots(spark: SparkSession, snapDir: String,
      keepLast: Int): Seq[String] = {
    require(keepLast >= 1,
      s"gcSnapshots: keepLast must be >= 1 (got $keepLast) - retaining " +
        "zero complete versions would delete the serving snapshot itself")
    val (fs, versions) = listVersions(spark, snapDir)
    val complete = versions.filter(v => fs.exists(new Path(s"$snapDir/v$v/_SUCCESS")))
    if (complete.isEmpty) return Seq.empty
    val maxStarted = versions.head
    val replayBase = complete.find(_ < maxStarted)
    val keep = complete.take(keepLast).toSet ++ replayBase
    val newestComplete = complete.head
    versions.filter(v =>
        !keep.contains(v) && (complete.contains(v) || v < newestComplete))
      .sorted
      .map { v =>
        fs.delete(new Path(s"$snapDir/v$v/_SUCCESS"), false)
        fs.delete(new Path(s"$snapDir/v$v"), true)
        s"v$v"
      }
  }

  /** The newest COMPLETE snapshot version with id < `beforeId`, if any.
    *
    * Completeness is the committer's `_SUCCESS` marker (written last by
    * Spark's parquet commit protocol): a version directory that exists
    * without it is mid-write — or a crash left it truncated and the
    * checkpoint replay hasn't rewritten it yet — and serving it would
    * silently compute over partial state. Such versions are skipped and
    * the next-newest complete one served; the replayed batch overwrites
    * the torn directory (including a fresh `_SUCCESS`) idempotently.
    *
    * If candidate versions EXIST but NONE carries the marker, the read
    * fails loudly instead of returning None: on a filesystem where
    * markers are disabled (`mapreduce.fileoutputcommitter
    * .marksuccessfuljobs=false`, or a lifecycle rule deleting
    * zero-byte files) a silent None would make every upsert merge
    * against nothing — each batch would quietly REPLACE the
    * accumulated state with its own keys and persist the truncated
    * result. None is reserved for "no snapshot was ever written".
    *
    * A deployment that LEGITIMATELY disables success markers opts out
    * with `requireMarkers = false`: completeness then falls back to a
    * file-shape probe — at least one `part-*` data file, none of them
    * zero-length (the common truncation shape on marker-stripped
    * stores). The fallback is explicitly WEAKER than the marker: it
    * cannot detect a missing part file from a multi-file write torn
    * mid-commit, which is why it is an opt-in for markers-off
    * filesystems, never the default. [[gcSnapshots]] stays marker-only
    * regardless (it reclaims nothing under markers-off — conservative). */
  def latestSnapshot(spark: SparkSession, snapDir: String,
      beforeId: Long = Long.MaxValue,
      requireMarkers: Boolean = true): Option[DataFrame] = {
    val (fs, all) = listVersions(spark, snapDir)
    def servable(v: Long): Boolean =
      if (requireMarkers) fs.exists(new Path(s"$snapDir/v$v/_SUCCESS"))
      else {
        val parts = fs.listStatus(new Path(s"$snapDir/v$v")).toSeq
          .filter(_.getPath.getName.startsWith("part-"))
        parts.nonEmpty && parts.forall(_.getLen > 0)
      }
    val versions = all.filter(_ < beforeId)
    val complete = versions.find(servable)
    if (versions.nonEmpty && complete.isEmpty)
      throw new IllegalStateException(
        s"graft.latestSnapshot: $snapDir holds ${versions.size} version " +
          "directories but none is complete (" +
          (if (requireMarkers) "no _SUCCESS marker anywhere - either every " +
            "version is torn (crash mid-write before any commit) or success " +
            "markers are disabled/stripped on this filesystem " +
            "(mapreduce.fileoutputcommitter.marksuccessfuljobs=false, or a " +
            "lifecycle rule deleting zero-byte files); for a deployment " +
            "that intentionally disables markers, pass " +
            "requireMarkers = false"
          else "markers-off probe: no version has exclusively non-empty " +
            "part-* files") +
          "). Serving or merging " +
          "without a complete base would silently drop accumulated state; " +
          "repair the newest version before reading")
    complete.map(v => spark.read.parquet(s"$snapDir/v$v"))
  }

  /** `snapDir`'s `v<id>` version ids, newest first, with their filesystem. */
  private def listVersions(spark: SparkSession, snapDir: String): (FileSystem, Seq[Long]) = {
    val path = new Path(snapDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids =
      if (!fs.exists(path)) Seq.empty[Long]
      else fs.listStatus(path).toSeq.map(_.getPath.getName)
        .filter(_.matches("v-?\\d+")).map(_.drop(1).toLong)
    (fs, ids.sorted(Ordering[Long].reverse))
  }

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the materialized result — the harness that lets ScalaTest (or
    * any batch caller) execute a streaming query synchronously. */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
      outputMode: String = "update"): DataFrame = {
    drain(streamed.writeStream.format("memory").queryName(name).outputMode(outputMode))
    spark.table(name)
  }

  /** Run a streaming query to completion: start, process all available, stop. */
  private def drain(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** [[drain]] a checkpointed foreachBatch sink; `each` gets (batch, batch id). */
  private def drainBatches(writer: DataStreamWriter[Row], checkpointDir: String)(
      each: (DataFrame, Long) => Unit): Unit =
    drain(writer.option("checkpointLocation", checkpointDir).foreachBatch(each))
}
