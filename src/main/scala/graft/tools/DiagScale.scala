package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFns
import graft.operators.Dedup

/** Empirical scaling probe for the heavy-tail operators (not part of the
  * driver contract): runs the q28/q29/q44/q34+q51/q59 operator shapes on
  * ×k replicated corpora and reports the growth exponent
  * ln(t_k / t_prev) / ln(k / prev) per operator — ~1.0 = linear,
  * ~2.0 = quadratic (the failure mode the banded LSH exists to prevent).
  *
  * Replication preserves the workload's internal structure instead of
  * synthesizing new data:
  *  - documents: every token in replica r is prefixed with "r<r>x", so
  *    each replica keeps the original's exact shingle/dup structure but
  *    shares NO shingles across replicas — a ×k corpus of the same
  *    density, the honest linear-scaling testbed.
  *  - embeddings: replica r is multiplied element-wise by a
  *    deterministic ±1 pattern (a diagonal orthogonal transform), which
  *    preserves every intra-replica cosine EXACTLY (d_i² = 1) while
  *    decorrelating replicas — same geometry per replica, ×k corpus.
  *
  * Usage: SPARK_GRAFT_SCALE_KS="1,2,4" runMain graft.tools.DiagScale
  */
object DiagScale {

  private def replicateDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      docs.select(
        (col("doc_id") * k + r).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${r}x$$1").as("text"))
    }.reduce(_ union _)

  private def replicateEmb(emb: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      // ±1 per (replica, dimension) from the same deterministic hash
      // family the LSH planes use
      val signs = array(VectorFns.lshCoefs(1000 + r, 64).map(lit): _*)
      emb.select(
        (col("vec_id") * k + r).as("vec_id"),
        zip_with(col("embedding").cast("array<double>"), signs,
          (x, s) => x * s).as("embedding"),
        col("label"))
    }.reduce(_ union _)

  /** events: replica r shifts every id by r in the ×k keyspace —
    * per-user event streams (and so session structure) are preserved
    * exactly within each replica, replicas never share a user. */
  private def replicateEvents(ev: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      ev.select((col("event_id") * k + r).as("event_id"), col("ts"),
        (col("user_id") * k + r).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ union _)

  /** Replicated TABLE DIRECTORY for probing REGISTERED queries
    * end-to-end (r9: the q185/q192/q193 stats family claims
    * distinct-value / vocabulary-grain shuffle bounds — this measures
    * them on the real query code instead of an inline re-statement).
    * Replica r gets its own segment/source family (prefix `r<r>_`) and
    * its own token namespace, so per-replica internal structure —
    * distinct-value grain, vocabulary shape, segment count — is
    * preserved exactly while replicas share nothing. Written once per
    * k and reused across runs (delete /tmp/graft_scale_rel_k* to
    * rebuild). */
  private def relTables(spark: SparkSession, sfDir: String, k: Int): String = {
    // v5: the dir name versions the TABLE SET (v2 added embeddings,
    // v3 added events, v4 added supplier, v5 added part for the q237
    // duels) — a stale _done marker from an earlier round must not
    // satisfy a probe that needs a table the old build never wrote
    val dir = s"/tmp/graft_scale_rel_v5_k$k"
    val done = new java.io.File(s"$dir/_done")
    if (!done.exists()) {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      (0 until k).map { r =>
        docs.select((col("doc_id") * k + r).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r${r}x$$1").as("text"),
          col("lang"), concat(lit(s"r${r}_"), col("source")).as("source"),
          col("n_chars"))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val ord = graft.sources.Tables.orders(spark, sfDir)
      (0 until k).map { r =>
        ord.withColumn("o_orderkey", col("o_orderkey") * k + r)
          .withColumn("o_custkey", col("o_custkey") * k + r)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val cust = graft.sources.Tables.customer(spark, sfDir)
      (0 until k).map { r =>
        cust.withColumn("c_custkey", col("c_custkey") * k + r)
          .withColumn("c_mktsegment", concat(lit(s"r${r}_"), col("c_mktsegment")))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val li = graft.sources.Tables.lineitem(spark, sfDir)
      (0 until k).map { r =>
        li.withColumn("l_orderkey", col("l_orderkey") * k + r)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val nat = graft.sources.Tables.nation(spark, sfDir)
      // nation stays FIXED (25 rows at every k — it is the bounded dim);
      // q198's per-nation groups simply grow ×k in rows, which is the
      // honest test of its rank-table and join paths
      nat.write.mode("overwrite").parquet(s"$dir/nation.parquet")
      // supplier stays FIXED like nation (the q127/q131 seed set is
      // s_suppkey <= 3 and must not multiply); replicated orders and
      // lineitem still grow the bipartite edge list x k through the
      // shared supplier nodes
      graft.sources.Tables.supplier(spark, sfDir)
        .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      // part stays FIXED too (l_partkey is not remapped, so replicated
      // lineitem rows keep pointing at the same parts — duels and the
      // brand item set hold their per-replica structure)
      graft.sources.Tables.part(spark, sfDir)
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      // embeddings: the replicateEmb ±1 diagonal transform (same
      // geometry per replica, decorrelated across), with ids in the ×k
      // keyspace so the q206 halves split evenly at every k
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
      replicateEmb(emb, k)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // events: replicateEvents' id-shift scheme — per-user streams
      // (funnel step order, session structure) preserved exactly
      // within each replica, replicas never share a user
      replicateEvents(graft.sources.Tables.events(spark, sfDir), k)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      done.createNewFile()
    }
    dir
  }

  private def withShufflePartitions(spark: SparkSession, n: String)(f: => Long): Long = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def main(args: Array[String]): Unit = {
    // the per-call diagnostic gate override (PageRank.GateOverrideProp,
    // read inside takeUnderGate on every invocation — no init-order
    // hazard): "0" forces every size-gated graph op down its
    // distributed leg for this process (r14 q127/q131 probes)
    sys.env.get("SPARK_GRAFT_LOCAL_EDGE_LIMIT")
      .foreach(v => sys.props(graft.operators.PageRank.GateOverrideProp) = v)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val ks = sys.env.getOrElse("SPARK_GRAFT_SCALE_KS", "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    // comma-separated substrings; empty = all ops
    val opFilter = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = graft.GraftSession.local(cpus, "graft-scale")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docs0 = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
      .persist(); docs0.count()
    val emb0 = graft.sources.Tables.embeddings(spark, sfDir)
      .persist(); emb0.count()
    val ev0 = graft.sources.Tables.events(spark, sfDir)
      .persist(); ev0.count()

    // (operator label, k → row-producing DataFrame) — mirrors the
    // registered heavy queries' parameters exactly
    def ops(docs: DataFrame, emb: DataFrame, ev: DataFrame,
        k: Int): Seq[(String, () => Long)] = {
      def nearDupEdgesWith(bits: Int) = {
        val banded = emb.select(col("vec_id"), col("embedding"),
            posexplode(VectorFns.lshBandKeys(col("embedding"), 64, 4, bits))
              .as(Seq("band", "bkey")))
          .repartition(col("band"), col("bkey"))
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
            col("a.embedding").as("emb_a"), col("b.embedding").as("emb_b"))
          .dropDuplicates("id_a", "id_b")
          .select(col("id_a"), col("id_b"),
            round(VectorFns.cosine(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
          .filter(col("cos_sim") >= 0.2)
      }
      // the FIXED-bits before-picture (the pre-r13 registered q34's
      // shape, bits pinned at 10): candidate pairs per bucket grow
      // quadratically once the corpus outgrows the bucket count —
      // retained as the control the adaptive probe is measured against
      def nearDupEdges() = nearDupEdgesWith(10)
      // the 100 TB shape: bits derived from the corpus size
      // (VectorFns.bitsForCorpus), holding expected bucket occupancy
      // constant so candidates stay linear — the documented scaling
      // lever, measured here instead of claimed
      def nearDupEdgesAdaptive() = {
        // targetBucket=4 so the bit count actually moves across the
        // probe's 2k→16k range (the default 64 only starts growing past
        // 65k vectors): 2k→9 bits, 16k→12 bits, ~4 vectors/bucket held
        val bits = VectorFns.bitsForCorpus(emb.count(), targetBucket = 4)
        nearDupEdgesWith(bits)
      }
      Seq(
        "q28_jaccard" -> (() =>
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
            maxDocFreq = 100).count()),
        "q29_minhash" -> (() =>
          Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, bands = 16,
            rowsPerBand = 4, threshold = 0.5).count()),
        "q44_winnow" -> (() =>
          Dedup.winnowFingerprints(docs, "doc_id", "text", w = 8, k = 4)
            .groupBy("id").count().count()),
        "q34_emb_pairs" -> (() => nearDupEdges().count()),
        "q34_adaptive" -> (() => nearDupEdgesAdaptive().count()),
        "q51_adaptive" -> (() =>
          Dedup.connectedComponents(
            nearDupEdgesAdaptive().select(col("id_a"), col("id_b"))).count()),
        "q51_components" -> (() =>
          Dedup.connectedComponents(
            nearDupEdges().select(col("id_a"), col("id_b"))).count()),
        "q78_editdist" -> (() =>
          Dedup.editDistancePairs(docs, "doc_id", "text", n = 3, maxDist = 30,
            maxDocFreq = 100).count()),
        "q83_spans" -> (() =>
          Dedup.duplicatedSpanCoverage(docs, "doc_id", "text", spanTokens = 20).count()),
        "q146_span_removal" -> (() =>
          // sum of clean-text lengths so the count can't prune away the
          // reassembly — the rebuild path is the thing being timed
          Dedup.removeDuplicatedSpans(docs, "doc_id", "text", spanTokens = 20)
            .agg(sum(length(col("clean_text")))).collect().head.getLong(0)),
        "q91_kmeans" -> (() => {
          val (a, _) = graft.operators.KMeans.fit(emb, "vec_id", "embedding", 8, 2)
          a.groupBy("cell").count().count()
        }),
        "q93_pq_encode" -> (() => {
          // the q93 corpus-side path: one-shot codebook collect + the
          // native one-loop argmin encode over every vector (r5:
          // plans/PqEncodeExpr replaced the unrolled expression tree)
          val base = emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          val cbRows = base
            .select(pmod(col("vec_id"), lit(16)).cast("int").as("j"),
              posexplode(col("v")).as(Seq("i", "x")))
            .groupBy(col("j"), col("i")).agg(round(avg(col("x")), 6).as("c"))
            .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
          base.select(col("vec_id"),
              graft.plans.PqEncodeExpr.pqEncode(col("v"), cbRows, 8, 8, 16).as("codes"))
            .groupBy(col("codes")).count().count()
        }),
        "q94_crossdup" -> (() =>
          // hash-based 20/80 split: replicated ids are orig·k+r with
          // orig ≡ 0 (mod 5), so any small-modulus residue split
          // degenerates at some k — a hash residue is uniform at all k
          Dedup.minhashCrossCorpusDups(
            docs.filter(pmod(xxhash64(col("doc_id")), lit(5)) === 4),
            docs.filter(pmod(xxhash64(col("doc_id")), lit(5)) =!= 4),
            "doc_id", "text", n = 3, bands = 16, rowsPerBand = 4,
            threshold = 0.5).count()),
        "q119_dsir" -> (() => {
          // the registered q119 shape, target slice = doc_id%5==0 (the
          // probe corpus has no lang column; the shape is identical)
          import graft.functions.TextFns
          val B = 64
          val feats = docs
            .select(col("doc_id"), (pmod(col("doc_id"), lit(5)) === 0).as("is_t"),
              TextFns.tokens(col("text")).as("toks"))
            .select(col("doc_id"), col("is_t"),
              explode(TextFns.shinglePositions(col("toks"), 2)).as("pos"), col("toks"))
            .select(col("doc_id"), col("is_t"),
              (Dedup.portableHash60(TextFns.shingleAt(col("toks"), col("pos"), 2)) % B).as("b"))
          val raw = feats.groupBy(col("b")).agg(count(lit(1)).as("cr"))
          val tgt = feats.filter(col("is_t")).groupBy(col("b")).agg(count(lit(1)).as("ct"))
          val freq = raw.join(tgt, Seq("b"), "left")
            .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
          val ratioRow = freq.agg(
            map_from_arrays(collect_list(col("b")),
              collect_list(struct(col("cr"), col("ct")))).as("m"),
            sum(col("cr")).as("r_tot"), sum(col("ct")).as("t_tot"))
          val e = element_at(col("m"), col("b"))
          feats.crossJoin(broadcast(ratioRow))
            .withColumn("logw",
              log((e.getField("ct") + 1).cast("double") / (col("t_tot") + B))
                - log((e.getField("cr") + 1).cast("double") / (col("r_tot") + B)))
            .groupBy(col("doc_id")).agg(sum(col("logw")).as("lw"))
            .orderBy(col("lw").desc, col("doc_id")).limit(20).count()
        }),
        "q121_kl" -> (() => {
          // the registered q121 shape, synthetic 20-way source from the id
          import graft.functions.TextFns
          val B = 64
          val feats = docs
            .select(pmod(col("doc_id"), lit(20)).as("source"),
              explode(TextFns.tokens(col("text"))).as("tok"))
            .select(col("source"), (Dedup.portableHash60(col("tok")) % B).as("b"))
          val perSrc = feats.groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
          val srcTot = perSrc.groupBy(col("source")).agg(sum(col("c")).as("st"))
          val corpusRow = perSrc.groupBy(col("b")).agg(sum(col("c")).as("cc"))
            .agg(map_from_arrays(collect_list(col("b")), collect_list(col("cc"))).as("ccm"),
              sum(col("cc")).cast("double").as("at"))
          import spark.implicits._
          val buckets = (0L until B).toDF("b")
          val pS = (col("c") + 1.0) / (col("st") + B)
          val pC = (col("cc") + 1.0) / (col("at") + B)
          srcTot.crossJoin(broadcast(buckets))
            .join(perSrc, Seq("source", "b"), "left")
            .crossJoin(broadcast(corpusRow))
            .select(col("source"), col("st"),
              coalesce(element_at(col("ccm"), col("b")), lit(0L)).as("cc"),
              coalesce(col("c"), lit(0L)).as("c"), col("at"))
            .groupBy(col("source"), col("st"))
            .agg(sum(pS * log(pS / pC)).as("kl"))
            .count()
        }),
        "q123_sessions" -> (() => {
          // the registered q123 shape: tagSessions + in-row truncated
          // sequence assembly, one user-keyed exchange
          import org.apache.spark.sql.expressions.Window
          val L = 8
          val tagged = graft.operators.Sessionize.tagSessions(
            ev, "user_id", "ts", "event_id", 1800L)
          val w = Window.partitionBy(col("user_id"), col("session_id"))
            .orderBy(col("ts"), col("event_id"))
          tagged.withColumn("rn", row_number().over(w))
            .groupBy(col("user_id"), col("session_id"))
            .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
              concat_ws(" ", transform(
                array_sort(collect_list(
                  when(col("rn") <= L, struct(col("rn"), col("event_type"))))),
                s => s.getField("event_type"))).as("seq"))
            .count()
        }),
        "q85_tfidf" -> (() => tfidfPairs(docs, dfMax = 100)),
        // the registered q85 shape since r8: dfMax derived from corpus
        // size (TextFns.dfMaxForCorpus) — the adaptive knob, measured
        // here instead of claimed (the q34 bits/bitsForCorpus pattern)
        "q85_adaptive" -> (() => {
          import graft.functions.TextFns
          tfidfPairs(docs, dfMax = TextFns.dfMaxForCorpus(docs.count()))
        }),
        // the registered q137 shape: every 97th doc's distinct shingles
        // retrieve top-5 by BM25 through the df-capped posting join —
        // query count AND posting lists both grow with k, so this is
        // the candidate-volume probe for the retrieval family
        "q137_bm25" -> (() => bm25TopK(docs)),
        // the registered q160 shape: replica-local phrases (replica
        // prefixes keep every phrase inside its own replica), so the
        // honest expectation is LINEAR — k phrases × constant
        // per-phrase occurrence volume; a superlinear exponent would
        // mean the vocab IN-list prune is not reaching the scan
        "q160_phrase" -> (() => {
          import graft.operators.Phrase
          val phrases = (0 until k).map(r =>
            s"p$r" -> Seq(s"r${r}xhash", s"r${r}xjoin"))
          Phrase.phraseCounts(
            Phrase.positionalPostings(docs, "doc_id", "text"), phrases).count()
        }),
        // the registered q166 shape: same rare-shingle candidate stage
        // as q28, asymmetric scores — must inherit q28's df-cap
        // linearity
        "q166_containment" -> (() =>
          Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
            threshold = 0.8, maxDocFreq = 100).count()),
        // r9: the q184-q193 stats family's scale claims, measured on the
        // REGISTERED query code over replicated table dirs (relTables):
        // q185 claims shuffled bytes track DISTINCT (segment, value)s,
        // q192 claims (source, value)-grain counts, q193 claims
        // vocabulary-grain model joins — all should probe ~linear
        "q185_ks" -> (() =>
          graft.queries.RelationalQueries.q185KsDrift
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q192_qnorm" -> (() =>
          graft.queries.TextQueries.q192QuantileNormalize
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q193_perplexity" -> (() =>
          graft.queries.TextQueries.q193PerplexityFilter
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r9 wave 2: q198 claims (nation, value)-grain rank tables +
        // two row-grain equi-joins — linear; q197 claims value-grain
        // Ecdf work — sublinear in rows when values saturate
        "q198_spearman" -> (() =>
          graft.queries.RelationalQueries.q198SpearmanRank
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q197_robust" -> (() =>
          graft.queries.RelationalQueries.q197RobustMeans
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r10 wave 3: the rest of the r9 family, on the REGISTERED code.
        // q194 claims (source, prefix-bucket)-grain vocabulary counts;
        // q200 claims value-grain Ecdf tails; q199 is q185's ECDF plus a
        // segment-grain BH pass; q201/q202 claim one doc-grain collapse
        // into a ≤ shards×bands / 16-bin relation. All should probe
        // ≤~linear. q196 is the one with an honest super-unit caveat:
        // its fact-scale tokenize is linear, but the pair stage is
        // |sources|²×64 and relTables multiplies the SOURCE COUNT by k
        // (20→160 at k=8) — a real corpus grows rows per source, not
        // sources, so the measured exponent overstates production
        // growth; annotated where the artifact is committed.
        "q194_heaps" -> (() =>
          graft.queries.TextQueries.q194HeapsLaw
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q196_jsd" -> (() =>
          graft.queries.TextQueries.q196JsDivergence
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q199_bh_alarms" -> (() =>
          graft.queries.RelationalQueries.q199DriftAlarmsBh
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q200_hill" -> (() =>
          graft.queries.RelationalQueries.q200HillTailIndex
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q201_balance" -> (() =>
          graft.queries.TextQueries.q201ShardBalance
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q202_brier" -> (() =>
          graft.queries.TextQueries.q202BrierDecomposition
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r10 additions: q203/q205 are q185's shape plus the withNext
        // successor column (same value-grain range exchange, bounded
        // offset windows — expect q185's exponents); q204 is one
        // doc-grain score pass + a value-grain cumsum + a
        // |sources|-row threshold join
        "q203_w1" -> (() =>
          graft.queries.RelationalQueries.q203WassersteinDrift
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q204_conformal" -> (() =>
          graft.queries.TextQueries.q204ConformalThreshold
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q205_monitor" -> (() =>
          graft.queries.RelationalQueries.q205DriftMonitor
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q206: narrow 8-projection pass + (direction, grid-value)
        // histogram + one Ecdf — the grid saturates as replicas share
        // projection values, so expect sublinear like q197
        "q206_sliced" -> (() =>
          graft.queries.VectorQueries.q206SlicedWasserstein
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r11: q207 rides q205's aggregate with one more reduction —
        // expect q205's exponents unchanged
        "q207_admon" -> (() =>
          graft.queries.RelationalQueries.q207AdMonitor
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r11: the multimodal decode family — q165's per-row ImageIO
        // encode→decode→resample dominates its runtime; the honest
        // expectation is LINEAR (compute-bound per row, hash-groupBy
        // after), measured here instead of assumed (it was the one
        // registered family with no ×1..8 exponent on record)
        "q165_phash" -> (() =>
          graft.queries.MultimodalQueries.q165ImagePhashDedup
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r11: q209's state is |window-months|×|distinct values| — the
        // month count is FIXED (44) while replicas add value-grain rows,
        // so expect q203/q205's sublinear value-saturation shape
        "q209_traj" -> (() =>
          graft.queries.RelationalQueries.q209DriftTrajectory
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r11 late wave: q210 rides q205/q207's aggregate with a fifth
        // reduction (expect their exponents unchanged); q211 is q209's
        // trajectory plus a 44-row BH pass (expect q209's shape)
        "q210_panel" -> (() =>
          graft.queries.RelationalQueries.q210DriftPanel
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q211_alarms" -> (() =>
          graft.queries.RelationalQueries.q211TrajectoryAlarms
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r11 late wave: q212 is q137's posting equi-join (measured
        // <=0.6 exponents) plus dimension-grain metric joins — expect
        // the q137 shape
        "q212_ndcg" -> (() =>
          graft.queries.TextQueries.q212RetrievalNdcg
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r11: q208 is the no-exchange drift read — one narrow feature
        // pass into a |labels|×33 aggregate; expect flat-to-linear
        // (compute-bound once past fixed overhead, like q165)
        "q208_mmd" -> (() =>
          graft.queries.VectorQueries.q208MmdDrift
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r12: q213 is q212's posting stage (measured ≤0 exponents)
        // checkpointed once, plus |probes×10|-bounded leg joins and
        // the embedding lookups — expect the q212 shape
        "q213_chain" -> (() =>
          graft.queries.TextQueries.q213ChainNdcg
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r12: q214's candidate joins are panel × cell; relTables
        // grows BOTH the probe count (until the 1024 panel cap binds
        // at k≥2: base 5k → 715 probes, ×2 → capped) and the cell
        // size (N/8) — expect ≈ linear once the cap binds (cell side
        // keeps growing), the bound the cap exists to provide
        "q214_ann" -> (() =>
          graft.queries.VectorQueries.q214AnnNdcg
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r12 extension wave: q215 is two hash aggregates (QI-grain then
        // nation-grain) — expect the flat/sublinear value-grain shape
        "q215_kanon" -> (() =>
          graft.queries.RelationalQueries.q215KAnonymity
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q216: one orders scan + custkey shuffle + a 49-cell aggregate;
        // replication grows customers ×k (custkey lands in the ×k
        // keyspace) — expect ≈ linear scan/shuffle, constant driver math
        "q216_pca" -> (() =>
          graft.queries.RelationalQueries.q216FeaturePca
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q217: candidate join is panel × bucket; replication grows the
        // probe count (until the 1024 cap binds: base 286 → ×4 would be
        // 1143 > cap) while adaptive bits (r13) hold bucket population
        // ~constant — expect ≈ linear, then flat once the cap binds
        "q217_ablation" -> (() =>
          graft.queries.VectorQueries.q217DimAblation
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q219: customer features (custkey in the ×k keyspace → ×k
        // customers) + the metric-partitioned value-grain cumsum —
        // expect the q215/q216 linear-scan shape
        "q219_rfm" -> (() =>
          graft.queries.RelationalQueries.q219RfmSegments
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q220 (r13: adaptive bits wired in) — the bucket width now
        // grows with log₂N in-query (bitsForCorpusCol), so replication
        // holds within-bucket population ~constant and the pair stage
        // LINEAR; the r12 run of this same probe at fixed 4 bits
        // measured the exponent drifting toward 2 (the before-picture,
        // DIAG_SCALE_STATS_r12.txt) — expect ≈ linear now
        "q220_outliers" -> (() =>
          graft.queries.VectorQueries.q220KnnOutliers
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q221: one orders⋈customer equi-join + in-row feature explode
        // into a bounded (feature, bin) aggregate — expect ≈ linear
        "q221_woe" -> (() =>
          graft.queries.RelationalQueries.q221WoeIv
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q222: three chained window aggs over ONE user partition;
        // replicateEvents grows users ×k at fixed per-user streams —
        // expect ≈ linear shuffle, constant per-user state
        "q222_funnel" -> (() =>
          graft.queries.EventQueries.q222WindowedFunnel
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q224: q221's join/explode shape plus the metric-partitioned
        // cutpoint cumsum — expect q221's ≈ linear profile
        "q224_split" -> (() =>
          graft.queries.RelationalQueries.q224SplitGain
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q225: the q155 one-scan bin shape + 16-row isotonic windows —
        // expect flat-to-linear (corpus scan dominates, fit is constant)
        "q225_isotonic" -> (() =>
          graft.queries.TextQueries.q225IsotonicCalibration
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q218: per-source rank window + rank-grain cumsum; replicas add
        // sources (r<r>_src*) at the same docs-per-source, so the rank
        // DOMAIN stays fixed while doc rows grow ×k — expect ≈ linear
        // window/shuffle, constant cumsum state
        "q218_curr" -> (() =>
          graft.queries.TextQueries.q218CurriculumOrder
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r11: Ecdf slice-width A/B — groupedCumsum now derives its
        // range-partition width from spark.sql.shuffle.partitions; the
        // growth EXPONENT of a cumsum-dominated registered query must
        // not depend on the setting (a parallelism knob, not an
        // algorithm knob — same data, same shuffled bytes, different
        // fan-out). Probed at 16 and 64 around the rig's 32.
        // r13 ledger closure (verdict #3): the riskiest registered
        // queries with no measured exponent on record, probed on the
        // real query code over relTables.
        // q175: sorted-neighborhood record linkage — blocking-key
        // equi-join; replicas add customers at the same per-block
        // density, expect ≈ linear
        "q175_linkage" -> (() =>
          graft.queries.RelationalQueries.q175RecordLinkage
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q124/q125 maintenance twins: one key-keyed merge shuffle /
        // partial-agg merge — both claim O(rows) with no pair stage,
        // expect ≈ linear
        "q124_upsert" -> (() =>
          graft.queries.RelationalQueries.q124UpsertMerge
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q125_incr" -> (() =>
          graft.queries.RelationalQueries.q125IncrementalAgg
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q89: per-user ordered path assembly (collect_list under a
        // user-keyed window) then path-grain count — replicas add
        // users at fixed per-user streams, expect ≈ linear
        "q89_paths" -> (() =>
          graft.queries.EventQueries.q89TopPaths
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q99: event-time range-frame window per (user, hour-ish key) —
        // the one registered sliding-frame query, expect ≈ linear
        "q99_rolling" -> (() =>
          graft.queries.EventQueries.q99RollingHour
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q77: hash-threshold stratified sample — one scan + one
        // (source-grain) rate table, no sort; expect ≈ linear
        "q77_stratified" -> (() =>
          graft.queries.TextQueries.q77StratifiedSample
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q82: bloom build on the dim side + might_contain probe on the
        // fact scan + exactness semi-join; expect ≈ linear
        "q82_bloom" -> (() =>
          graft.queries.RelationalQueries.q82BloomSemiJoin
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q112: personalized PageRank — the size-gated iterate class
        // (local under PageRank.LocalEdgeLimit); replicas grow the
        // edge list ×k at fixed diameter, expect ≈ linear per round
        "q112_ppr" -> (() =>
          graft.queries.GraphQueries.q112PersonalizedPagerank
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q92: SemDeDup — k-means fit (KB codebook collect) + narrow
        // argmax assignment + per-cell cosine screen; expect ≈ linear
        "q92_semdedup" -> (() =>
          graft.queries.VectorQueries.q92SemDedupKeep
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q68: benchmark-contamination shingle equi-join — bench side
        // is DISTINCT shingles of a 1/97 slice; replicas share no
        // shingles, so the join stays replica-local, expect ≈ linear
        "q68_contamination" -> (() =>
          graft.queries.TextQueries.q68Contamination
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r13 extension wave: q226/q227 are panel-bounded planted
        // evals over the q34/q29 screens (expect the screens' shapes);
        // q228 rides q220's bucket structure (expect its ~linear);
        // q229 is q215's two-hash-agg family (expect flat/sublinear)
        "q226_planted_emb" -> (() =>
          graft.queries.VectorQueries.q226PlantedDupRecall
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q227_planted_text" -> (() =>
          graft.queries.TextQueries.q227PlantedTextDupRecall
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r14 acceptance probes: the registered q34 screen end-to-end
        // (bits AND bands now both count-derived — runtime must stay
        // ≤~0.4 while the q226/q227 VALUE tables below prove recall
        // holds), and the planted evals' recall tables printed per k —
        // bits resolve 7→10→12 across k=1/8/32 (n=2k/16k/64k at
        // target 16) and bands follow 8→14→20, so a fixed-band
        // schedule would show the per-grade recall DECAYING here;
        // MinHash (q227) keys on content signatures, so theory says
        // its table is k-independent.
        "q34_registered" -> (() =>
          graft.queries.VectorQueries.q34EmbeddingNearDups
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r15: the bare screen without q34's (since-removed) global
        // orderBy — isolates the range-partitioner sampling pass
        // (which re-executed the whole child plan) from the screen
        "q34_noorder" -> (() =>
          graft.queries.VectorQueries.nearDupPairs(
            spark, relTables(spark, sfDir, k)).count()),
        // r15: EXACT candidate-pair volume of the deployed schedule —
        // sum over (band, bucket) of C(pop, 2), one cheap aggregate
        // with no self-join. The algebraic check that candidate work
        // stays linear as bits/bands resolve upward (wall clock on
        // this box spreads ±3× under co-tenant noise; this number
        // does not).
        "q34_candvol" -> (() => {
          val emb = graft.sources.Tables.embeddings(
            spark, relTables(spark, sfDir, k))
          val n = emb.count()
          val bits = (4 to 20).find(b => n <= (16L << b))
            .getOrElse(sys.error(s"n=$n past the NearDup epoch"))
          val bands = graft.queries.VectorQueries.bandsForBits(bits)
          val vol = emb.select(col("vec_id"),
              posexplode(VectorFns.lshBandKeysMasked(
                col("embedding"), 64, bands, lit(bits), 24))
                .as(Seq("band", "bkey")))
            .groupBy(col("band"), col("bkey")).count()
            .agg(sum((col("count") * (col("count") - 1) / 2).cast("long"))
              .as("v")).collect().head.getLong(0)
          println(f"[scale] k=$k%-3d q34_candvol bits=$bits bands=$bands " +
            f"candidates=$vol%,d")
          vol
        }),
        "q226_recall" -> (() => {
          val dir = relTables(spark, sfDir, k)
          val n = graft.sources.Tables.embeddings(spark, dir).count()
          val rows = graft.queries.VectorQueries.q226PlantedDupRecall
            .run(spark, dir).collect()
          // the resolved schedule, derived from the query's OWN output
          // (n_planted per grade) + its real constants — no hand-copied
          // panel formula to drift out of lockstep (r14 review)
          val nCorpus = n + rows.map(_.getLong(2)).sum
          val bits = (graft.queries.VectorQueries.NdMinBits to
              graft.queries.VectorQueries.NdGuaranteedBits)
            .find(b => nCorpus <= (graft.queries.VectorQueries.NdTarget.toLong << b))
            .getOrElse(graft.queries.VectorQueries.NdGuaranteedBits)
          val bands = graft.queries.VectorQueries.bandsForBits(bits)
          rows.foreach(r => println(f"[recall] k=$k%-2d q226 bits=$bits bands=$bands " +
            f"eps=${r.getDouble(1)}%5.3f mean_cos=${r.getDouble(5)}%9.6f " +
            f"recall=${r.getDouble(4)}%6.4f (${r.getLong(3)}/${r.getLong(2)})"))
          rows.length.toLong
        }),
        "q227_recall" -> (() => {
          val rows = graft.queries.TextQueries.q227PlantedTextDupRecall
            .run(spark, relTables(spark, sfDir, k)).collect()
          rows.foreach(r => println(f"[recall] k=$k%-2d q227 " +
            s"grade=${r.get(0)} ${r.get(1)} recall=${r.get(4)} " +
            s"(${r.get(3)}/${r.get(2)})"))
          rows.length.toLong
        }),
        "q228_intrinsic" -> (() =>
          graft.queries.VectorQueries.q228IntrinsicDim
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q229_tclose" -> (() =>
          graft.queries.RelationalQueries.q229TCloseness
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q230 is pure in-row hashing into a 2-row aggregate; q231 is
        // q72's one user-keyed window + a types^2 aggregate — expect
        // flat-to-linear for both
        "q230_reshard" -> (() =>
          graft.queries.TextQueries.q230ReshardMovement
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q231_markov" -> (() =>
          graft.queries.EventQueries.q231MarkovEval
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q234 is q68's shingle equi-join class at width 8 with a
        // DISTINCT train side — replicas share no shingles, expect
        // ≈ linear
        "q234_novelty" -> (() =>
          graft.queries.TextQueries.q234NgramNovelty
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q233 explodes each vector into 2080 upper-triangle cells
        // into a (label x 2080)-grain aggregate — expect ≈ linear
        "q233_covdrift" -> (() =>
          graft.queries.VectorQueries.q233CovarianceDrift
            .run(spark, relTables(spark, sfDir, k)).count()),
        // q232 composes the q34-family pairs + components with one
        // id-keyed join — expect the q51_adaptive shape (<= ~0.5)
        "q232_qkeep" -> (() =>
          graft.queries.VectorQueries.q232QualityDedupKeep
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r15 (verdict #3): per-stage attribution of q232's composed
        // cost — each stage materialized (localCheckpoint, eager)
        // before the next starts, so the printed per-stage seconds are
        // exclusive: pairs (the measured q34 screen), cc (components),
        // memjoin (doc-keyed join), policy (the two canonical-selection
        // windows + rollup — the only stage q232 adds over q51)
        "q232_attrib" -> (() => {
          val dir = relTables(spark, sfDir, k)
          import org.apache.spark.sql.expressions.Window
          def timed[T](tag: String)(f: => T): T = {
            val t0 = System.nanoTime(); val r = f
            println(f"[scale] k=$k%-3d q232_attrib $tag%-8s " +
              f"${(System.nanoTime() - t0) / 1e9}%8.2f s")
            r
          }
          val pairs = timed("pairs") {
            graft.queries.VectorQueries.nearDupPairs(spark, dir)
              .select(col("id_a"), col("id_b")).localCheckpoint()
          }
          val comp = timed("cc") {
            Dedup.connectedComponents(pairs).localCheckpoint()
          }
          val mem = timed("memjoin") {
            comp.join(graft.sources.Tables.documents(spark, dir)
                .select(col("doc_id").as("node"), col("n_chars")), Seq("node"))
              .localCheckpoint()
          }
          timed("policy") {
            def keeper(w: org.apache.spark.sql.expressions.WindowSpec, tag: String) =
              mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
                .select(col("comp"), col("node").as(s"${tag}_node"),
                  col("n_chars").as(s"${tag}_chars"))
            val best = keeper(Window.partitionBy(col("comp"))
              .orderBy(col("n_chars").desc, col("node")), "best")
            val firstid = keeper(Window.partitionBy(col("comp"))
              .orderBy(col("node")), "first")
            best.join(firstid, Seq("comp"))
              .agg(count(lit(1)).as("n")).collect().head.getLong(0)
          }
        }),
        // r14 (verdict #6): the distributed graph leg, probed through
        // the REGISTERED query code — run with
        // SPARK_GRAFT_LOCAL_EDGE_LIMIT=0 so the size gate never takes
        // the local twin and the exponent measures the delta-iteration
        // path itself (the ledger previously only had the local leg's)
        "q127_crawl_depth" -> (() =>
          graft.queries.GraphQueries.q127CrawlDepth
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q131_paths" -> (() =>
          graft.queries.GraphQueries.q131CheapestPaths
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r14: BPE — the corpus stage is one word-dict groupBy; the 20
        // rounds run at dict grain (replicas add r<r>x-prefixed token
        // families, so the dict grows ~×k — the honest dict-grain
        // probe). The local/distributed legs are size-gated; with
        // SPARK_GRAFT_LOCAL_EDGE_LIMIT=0 the gate override forces the
        // distributed rounds (same prop via takeUnderGate)
        "q235_bpe" -> (() =>
          graft.queries.TextQueries.q235BpeMerges
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q236_bpe_curve" -> (() =>
          graft.queries.TextQueries.q236BpeCompression
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r14 late wave: q237 is one pair-grain duel aggregate + driver
        // MM (expect ≈ linear scan); q238 is a confusion-grain fold
        // (expect flat-linear); q239 composes the two measured near-dup
        // screens + pair-bounded joins (expect their envelope)
        "q237_bt" -> (() =>
          graft.queries.RelationalQueries.q237BradleyTerry
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q238_kappa" -> (() =>
          graft.queries.TextQueries.q238CohenKappa
            .run(spark, relTables(spark, sfDir, k)).count()),
        // r15 wave: q240 claims unit-grain then group-grain aggregates
        // (never a unit self-join); q242 claims one corpus-grain token
        // aggregate per side + a broadcast KB model + a doc-partitioned
        // argmax window; q243 claims confusion-grain aggregates + a
        // votes x L scoring join. All should probe ~linear or below.
        "q240_alpha" -> (() =>
          graft.queries.TextQueries.q240KrippendorffAlpha
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q242_nb" -> (() =>
          graft.queries.TextQueries.q242NbPlantedRecovery
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q243_ds" -> (() =>
          graft.queries.TextQueries.q243DawidSkeneStep
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q239_disagree" -> (() =>
          graft.queries.VectorQueries.q239ScreenDisagreement
            .run(spark, relTables(spark, sfDir, k)).count()),
        "q200_hill_s16" -> (() => withShufflePartitions(spark, "16") {
          graft.queries.RelationalQueries.q200HillTailIndex
            .run(spark, relTables(spark, sfDir, k)).count() }),
        "q200_hill_s64" -> (() => withShufflePartitions(spark, "64") {
          graft.queries.RelationalQueries.q200HillTailIndex
            .run(spark, relTables(spark, sfDir, k)).count() }),
        // r12 A/B: ksAndW1 autoCoarsen on the q205 histogram shape —
        // the split fine/coarse design costs a second (coarse-grid)
        // cumsum plus the factor pre-pass; this measures the overhead
        // RATIO vs the plain read on identical inputs and that the
        // exponent stays in the q205 family (both paths over the same
        // cached value-grain hist, so lineage re-planning is excluded
        // from the measurement per the operator's documented contract)
        "drift_plain" -> (() => driftHistAb(spark,
          relTables(spark, sfDir, k), autoCoarsen = false)),
        "drift_autocoarsen" -> (() => driftHistAb(spark,
          relTables(spark, sfDir, k), autoCoarsen = true)))
    }

    def driftHistAb(spark: SparkSession, dir: String,
        autoCoarsen: Boolean): Long = {
      val hist = graft.sources.Tables.orders(spark, dir)
        .join(graft.sources.Tables.customer(spark, dir),
          col("c_custkey") === col("o_custkey"))
        .select(col("c_mktsegment").as("seg"),
          round(col("o_totalprice") * 100).cast("long").as("v"),
          when(year(col("o_orderdate")) < 1998, 1L).otherwise(0L).as("g"))
        .groupBy(col("seg"), col("v"))
        .agg(sum(col("g")).as("c1"), sum(lit(1L) - col("g")).as("c2"))
        .localCheckpoint()
      val n = graft.operators.Drift.ksAndW1(hist, Seq("seg"), "v",
          "c1", "c2", withAd = true, withEnergy = true,
          autoCoarsen = autoCoarsen)
        .count()
      hist.unpersist()
      n
    }

    // the q137 BM25 shape: precomputed doc-side weights, query set =
    // every 97th doc, posting-list equi-join, top-5 window per query
    def bm25TopK(docs: DataFrame): Long = {
      import graft.functions.TextFns
      import org.apache.spark.sql.expressions.Window
      val tf = docs.repartition(col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(TextFns.shingles(col("toks"), 3)).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      val stats = docs
        .select((size(TextFns.tokens(col("text"))) - 2).cast("double").as("dl"))
        .filter(col("dl") >= 1)
        .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
      val nAll = docs.agg(count(lit(1)).cast("long").as("nd_all"))
      val vocab = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
        .join(broadcast(nAll))
        .filter(col("df").between(lit(2), TextFns.dfMaxForCorpusCol(col("nd_all"))))
        .select(col("t"), col("df"))
      val byDoc = Window.partitionBy(col("doc_id"))
      val w = tf
        .withColumn("dl", sum(col("cnt")).over(byDoc).cast("double"))
        .join(vocab, "t").join(broadcast(stats))
        .select(col("doc_id"), col("t"),
          (log(lit(1) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("cnt") * 2.2) /
            (col("cnt") + lit(1.2) * (col("dl") / col("avgdl") * 0.75 + 0.25))).as("wgt"))
        .repartition(col("t"))
      val queries = tf.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"), col("t")).distinct()
      val byQ = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id"))
      queries.join(w, "t")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(round(sum(col("wgt")), 4).as("score"))
        .withColumn("rnk", row_number().over(byQ))
        .filter(col("rnk") <= 5)
        .count()
    }

    // the q85 inverted-index cosine shape: shingle terms, df∈[2,dfMax]
    // vocab, unit-normalized weights (window over doc_id), posting-list
    // self-join whose pair sum IS the cosine
    def tfidfPairs(docs: DataFrame, dfMax: Int): Long = {
      import graft.functions.TextFns
      import org.apache.spark.sql.expressions.Window
      val tf = docs.repartition(col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(TextFns.shingles(col("toks"), 3)).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      val vocab = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, dfMax))
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val byDoc = Window.partitionBy(col("doc_id"))
      val wn = tf.join(vocab, "t").join(broadcast(n))
        .select(col("doc_id"), col("t"),
          (col("cnt") * log(col("n_docs") / col("df"))).as("wgt"))
        .select(col("doc_id"), col("t"),
          (col("wgt") / sqrt(sum(col("wgt") * col("wgt")).over(byDoc))).as("u"))
        .repartition(col("t"))
      wn.as("a").join(wn.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(sum(col("a.u") * col("b.u")).as("cos_raw"))
        .filter(col("cos_raw") >= 0.3)
        .count()
    }

    val results = scala.collection.mutable.Map[(String, Int), Double]()
    for (k <- ks) {
      val docsK = replicateDocs(docs0, k).repartition(cpus.toInt).persist()
      val embK = replicateEmb(emb0, k).repartition(cpus.toInt).persist()
      val evK = replicateEvents(ev0, k).repartition(cpus.toInt).persist()
      val (nd, ne) = (docsK.count(), embK.count())
      println(s"[scale] k=$k docs=$nd emb=$ne ev=${evK.count()}")
      for ((name, f) <- ops(docsK, embK, evK, k)
           if opFilter.isEmpty || opFilter.exists(name.contains)) {
        val t0 = System.nanoTime()
        val rows = f()
        val sec = (System.nanoTime() - t0) / 1e9
        results((name, k)) = sec
        println(f"[scale] k=$k $name%-16s $sec%8.2f s  rows=$rows")
      }
      docsK.unpersist(); embK.unpersist(); evK.unpersist()
    }
    println("[scale] growth exponents (ln time ratio / ln size ratio):")
    for (name <- results.keys.map(_._1).toSeq.distinct.sorted;
         Seq(k1, k2) <- ks.sliding(2).toSeq) {
      val e = math.log(results((name, k2)) / results((name, k1))) /
        math.log(k2.toDouble / k1)
      println(f"[scale] $name%-16s k=$k1%d->$k2%d exponent=$e%5.2f")
    }
    spark.stop()
  }
}
