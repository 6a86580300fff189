package graft.queries

import graft.SparkSpec

/** Physical-plan shape assertions: the properties that make these plans
  * survive a 100 TB scale-up, pinned as tests so a refactor that silently
  * drops a pushdown or broadcast fails CI, not the cluster.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(q: Q): String = {
    val df = q.run(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q06 pushes all scan predicates into the parquet reader") {
    val p = plan(RelationalQueries.q06ForecastRevenue)
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), "shipdate range not pushed:\n" + p)
    assert(p.contains("l_discount"), "discount band not pushed:\n" + p)
    assert(p.contains("l_quantity"), "quantity bound not pushed:\n" + p)
  }

  test("q06 prunes columns: scan reads only the 4 needed of 11") {
    val p = plan(RelationalQueries.q06ForecastRevenue)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_orderkey"), "unneeded column read:\n" + readSchema)
    assert(!readSchema.contains("l_returnflag"), "unneeded column read:\n" + readSchema)
  }

  test("q02 star join broadcasts both dims — no shuffle of the fact side") {
    val p = plan(RelationalQueries.q02RegionActivity)
    assert("BroadcastHashJoin".r.findAllIn(p).length === 2, p)
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ:\n" + p)
  }

  test("q07 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(RelationalQueries.q07TopOrders)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01 aggregation is two-phase (partial before the exchange)") {
    val p = plan(RelationalQueries.q01PricingSummary)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("partial_sum"), "no map-side partial aggregation:\n" + p)
  }

  test("q31 brute-force cosine broadcasts the probe — scan side never shuffles") {
    val p = plan(VectorQueries.q31CosineTopK)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-k degraded to full sort:\n" + p)
  }

  test("q22 as-of join needs exactly one keyed shuffle (union+window plan)") {
    val p = plan(EventQueries.q22AsofViewPurchase)
    val keyedShuffles = "hashpartitioning".r.findAllIn(p).length
    assert(keyedShuffles === 1,
      s"as-of should shuffle once on the key, found $keyedShuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of degraded to a product join:\n" + p)
  }

  test("q04/q05 exist/not-exists plan as semi/anti joins, not inner+distinct") {
    assert(plan(RelationalQueries.q04SemiJoin).contains("LeftSemi"))
    assert(plan(RelationalQueries.q05AntiJoin).contains("LeftAnti"))
  }

  test("q45 IVF assignment is narrow: no window, no cross join, broadcast probe only") {
    val p = plan(VectorQueries.q45IvfAnn)
    assert(!p.contains("Window"), "argmax degraded to a window shuffle:\n" + p)
    assert(!p.contains("CartesianProduct"), "assignment degraded to a product:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "probe-cell join not broadcast:\n" + p)
  }

  test("q52 interval join is an equi-key join, not a product join") {
    val p = plan(EventQueries.q52IntervalJoin)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "time bounds became the join key — product join:\n" + p)
  }

  test("q57 salted join prunes the fact scan to the needed columns") {
    val p = plan(RelationalQueries.q57SkewJoin)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    // the salt hash must come from the line identity, not the whole row —
    // a whole-row hash drags every lineitem column through the scan
    assert(reads.contains("l_extendedprice"), reads)
    assert(!reads.contains("l_comment"), "salt hash defeats pruning:\n" + reads)
    assert(!reads.contains("l_shipdate"), "salt hash defeats pruning:\n" + reads)
  }

  test("q144 prep pipeline: no product joins, documents scans pruned") {
    val p = plan(TextQueries.q144PrepPipeline)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a pipeline stage degraded to a product join:\n" + p)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    // only doc_id + text are consumed end to end; the scans must not drag
    // lang/source/n_chars through five stages of the pipeline
    assert(!reads.contains("n_chars") && !reads.contains("source") && !reads.contains("lang"),
      "unneeded documents columns read:\n" + reads)
  }

  test("q145 trend: orders scan pruned to 3 columns, nation broadcast") {
    val p = plan(RelationalQueries.q145RevenueTrend)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.contains("o_custkey") && reads.contains("o_totalprice"))
    assert(!reads.contains("o_orderpriority") && !reads.contains("o_orderstatus"),
      "unneeded orders columns read:\n" + reads)
    assert(p.contains("BroadcastHashJoin"), "nation join not broadcast:\n" + p)
  }

  test("q146 span removal: documents scan pruned to id+text, no products") {
    val p = plan(TextQueries.q146SpanScrubbed)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("n_chars") && !reads.contains("source") && !reads.contains("lang"),
      "unneeded documents columns read:\n" + reads)
  }

  test("q147 Welch: events scan pruned to the 3 consumed columns") {
    val p = plan(EventQueries.q147AbWelch)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.contains("user_id") && reads.contains("value"))
    assert(!reads.contains("props") && !reads.contains("event_id"),
      "unneeded events columns read:\n" + reads)
  }

  test("q148 portable HLL: documents scan pruned to source+text") {
    val p = plan(TextQueries.q148PortableHll)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("n_chars") && !reads.contains("lang") && !reads.contains("doc_id"),
      "unneeded documents columns read:\n" + reads)
  }

  test("q152/q154 scans pruned; q150/q153 documents scans exclude unneeded columns") {
    val p152 = plan(RelationalQueries.q152ForecastBacktest)
    val r152 = p152.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!r152.contains("o_orderpriority") && !r152.contains("o_orderstatus"), r152)
    val p154 = plan(EventQueries.q154BootstrapCi)
    val r154 = p154.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!r154.contains("props") && !r154.contains("user_id"), r154)
    val p150 = plan(TextQueries.q150SourceAffinity)
    val r150 = p150.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!r150.contains("n_chars") && !r150.contains("doc_id") && !r150.contains("lang"), r150)
    val p153 = plan(TextQueries.q153QualityAuc)
    val r153 = p153.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!r153.contains("n_chars") && !r153.contains("lang"), r153)
  }

  test("q128 prefix-filter join stays an equi-join with in-row verification") {
    val p = plan(TextQueries.q128PrefixFilterPairs)
    // candidate generation must remain a plain equi-join on the prefix
    // shingle (AQE-splittable, skew-self-limiting) — never a product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix candidate join degraded to a product:\n" + p)
    // verification computes the exact intersection on the pair's two
    // sorted shingle arrays IN-ROW — a refactor that re-joins the corpus
    // per candidate would drop this expression from the plan
    assert(p.contains("array_intersect"),
      "verification left the row — second corpus-wide join?:\n" + p)
  }

  test("q137 BM25 retrieval is posting-list equi-joins over a 2-column scan") {
    val p = plan(TextQueries.q137Bm25TopK)
    // query set meets corpus through the term equi-join only — a rework
    // that scores query×doc directly would plan an unbounded product.
    // (The 1-row stats/count broadcasts DO plan as conditionless BNLJ —
    // bounded by the registry-wide broadcast audit — so the pin here is
    // no CartesianProduct and no JOINED (2-sided-unbounded) nested loop:
    // every BNLJ must have the 1-row aggregate on its build side.)
    assert(!p.contains("CartesianProduct"),
      "BM25 retrieval degraded to a cartesian product:\n" + p)
    val bnljBuilds = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(p).size
    val bnljAll = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnljAll == bnljBuilds && bnljAll <= 2,
      "an unexpected nested-loop join appeared — theta join over the corpus?:\n" + p)
    // BM25 needs only doc_id + text from documents; lang/source/n_chars
    // must not reach the parquet reader
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).filter(_.contains("text")).toSeq
    assert(reads.nonEmpty && reads.forall(s =>
      !s.contains("lang") && !s.contains("source") && !s.contains("n_chars")),
      "documents scan reads more than doc_id+text:\n" + p)
  }

  test("q212 retrieval eval keeps q137's join discipline: no product join") {
    // the metric layer joins only tiny relations (probe set, top-10
    // hits, |sources| roll-up) onto q137's posting equi-join — adding
    // the eval must not introduce a cartesian or an unbounded BNLJ
    // (the 1-row stats broadcasts are the same bounded BNLJ class as
    // q137's, build side always the 1-row aggregate)
    val p = plan(TextQueries.q212RetrievalNdcg)
    assert(!p.contains("CartesianProduct"),
      "retrieval eval degraded to a cartesian product:\n" + p)
    val bnljBuilds = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(p).size
    val bnljAll = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnljAll == bnljBuilds && bnljAll <= 2,
      "an unexpected nested-loop join appeared:\n" + p)
  }

  test("q213 chain eval: one shared posting stage, equi-joins only") {
    val p = plan(TextQueries.q213ChainNdcg)
    assert(!p.contains("CartesianProduct"),
      "chain eval degraded to a cartesian product:\n" + p)
    // the final plan is all equi-joins over checkpoint-bounded
    // relations — q137's 1-row stats broadcasts (the only legal BNLJ
    // class here) live inside the checkpointed candidate stage, so
    // none may appear in the serving plan at all
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "a nested-loop join appeared in the metric/leg layer:\n" + p)
    // ONE posting stage shared by all four legs: the candidates enter
    // this plan through the checkpoint RDD, and the only documents
    // text scan left is the probe-membership predicate — a rework
    // that re-derives BM25 per leg would add text scans (and the
    // t-equi-join) back into this plan
    val textReads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).count(_.contains("text"))
    assert(textReads <= 1,
      s"documents text scanned $textReads times — posting stage re-derived per leg?\n" + p)
    assert(p.contains("ExistingRDD"),
      "shared candidate checkpoint missing from the plan:\n" + p)
  }

  test("q216 moment stage: one pruned orders scan, custkey exchange, no product") {
    // the registered result is a driver-built literal; the plan that
    // matters is the exposed distributed stage
    val p = RelationalQueries.pcaMoments(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.contains("o_totalprice") && reads.contains("o_orderpriority"))
    assert(!reads.contains("o_orderstatus") && !reads.contains("o_orderkey"),
      "orders scan over-reads:\n" + reads)
    assert("ReadSchema".r.findAllIn(p).size === 1,
      "moment stage scans orders more than once:\n" + p)
  }

  test("q217 ablation: bucket equi-join only; BNLJs are bounded 1-row builds") {
    val p = plan(VectorQueries.q217DimAblation)
    assert(!p.contains("CartesianProduct"),
      "ablation eval degraded to a cartesian product:\n" + p)
    // the legal BNLJs are 1-row global-aggregate builds: the adaptive
    // LSH bits broadcast (replicated per consumer subtree — AQE dedupes
    // the underlying exchange at runtime) and the (gt_pairs, n_probes)
    // broadcast under the final 4-row projection. All must be
    // BuildRight (broadcasting the bounded side); the corpus-side
    // candidate join must stay a bucket EQUI-join.
    val bnljAll = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val bnljCross = "(?m)BroadcastNestedLoopJoin BuildRight, Cross\\s*$".r
      .findAllIn(p.linesIterator.map(_.trim).mkString("\n")).size
    assert(bnljAll == bnljCross,
      s"a conditioned/unbounded BNLJ appeared ($bnljCross of $bnljAll are bare 1-row cross builds):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "bucket candidate join lost its equi-join form:\n" + p)
  }

  test("q218 curriculum: range-partitioned cumsum, no corpus-wide single-partition sort") {
    val p = plan(TextQueries.q218CurriculumOrder)
    // Ecdf.groupedCumsum engaged (the global-sort-free position path)
    assert(p.toLowerCase.contains("rangepartitioning"),
      "rank cumsum lost its range exchange:\n" + p)
    // the documents scan must not read lang/n_chars
    val reads = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("text")).mkString("\n")
    assert(reads.nonEmpty && !reads.contains("lang") && !reads.contains("n_chars"),
      "documents scan over-reads:\n" + reads)
  }

  test("q219 RFM serving plan: ONE pruned orders scan, checkpointed quintile maps") {
    val p = plan(RelationalQueries.q219RfmSegments)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "RFM plans a product join:\n" + p)
    // the quintile map is checkpointed (bounded: |months|+|max orders|+
    // |$10k grid| rows), so its three filter-consumers must NOT re-plan
    // the cumsum pipeline — the serving plan reads orders exactly once
    // (the first formulation re-planned it 7 times; shift-invariant
    // recency + the checkpoint got it to 1)
    assert(p.contains("ExistingRDD"),
      "quintile-map checkpoint missing from the serving plan:\n" + p)
    val reads = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("o_totalprice"))
      .mkString("\n")
    assert(reads.nonEmpty && !reads.contains("o_orderpriority")
      && !reads.contains("o_orderstatus"),
      "orders scan over-reads:\n" + reads)
    assert("ReadSchema".r.findAllIn(p).size === 1,
      "serving plan scans orders more than once:\n" + p)
  }

  test("q220 outliers: bucket equi-join, top-20 as TakeOrdered") {
    val p = plan(VectorQueries.q220KnnOutliers)
    assert(!p.contains("CartesianProduct"),
      "outlier screen degraded to a product:\n" + p)
    // the only BNLJ allowed is the unconditioned 1-row adaptive-bits
    // cross broadcast ("BuildRight, Cross" with no join condition) — a
    // corpus join degraded to a BNLJ prints its condition after the
    // join type and fails this exact-form count (r13 review: the
    // earlier rewrite had dropped the BNLJ ban entirely)
    val bnljAll = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val bnljCross = "(?m)BroadcastNestedLoopJoin BuildRight, Cross\\s*$".r
      .findAllIn(p.linesIterator.map(_.trim).mkString("\n")).size
    assert(bnljAll == bnljCross,
      s"a conditioned/unbounded BNLJ appeared ($bnljCross of $bnljAll are bare 1-row cross builds):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      "bucket self-join not an equi-join:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 plans a global sort instead of TakeOrdered:\n" + p)
  }

  test("q221 WOE/IV: one orders scan, one customer scan, bounded window grain") {
    val p = plan(RelationalQueries.q221WoeIv)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "WOE screen plans a product join:\n" + p)
    // the three features explode IN-ROW after one equi-join — a rework
    // that unions three scans would read orders three times
    val ordersReads = p.linesIterator
      .count(l => l.contains("ReadSchema") && l.contains("o_totalprice"))
    assert(ordersReads === 1, s"orders scanned $ordersReads times:\n" + p)
    val custReads = p.linesIterator
      .count(l => l.contains("ReadSchema") && l.contains("c_nationkey"))
    assert(custReads === 1, s"customer scanned $custReads times:\n" + p)
  }

  test("q222 funnel: three chained step windows share ONE user exchange") {
    val p = plan(EventQueries.q222WindowedFunnel)
    // each funnel step is a conditional min referencing the previous
    // step's column over the SAME user partition — one shuffle total;
    // an aggregate-then-join rework would add a user exchange per step
    val userOnly = "hashpartitioning\\(user_id#\\d+L?, \\d+\\)".r.findAllIn(p).size
    assert(userOnly === 1,
      s"expected exactly one user-keyed exchange, found $userOnly:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q224 split gain: cumsum-ranged cutpoints, no product, pruned scans") {
    val p = plan(RelationalQueries.q224SplitGain)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "split finder plans a product join:\n" + p)
    assert(p.toLowerCase.contains("rangepartitioning"),
      "cutpoint cumsum lost its range exchange:\n" + p)
    val reads = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("o_totalprice"))
      .mkString("\n")
    assert(reads.nonEmpty && !reads.contains("o_orderstatus")
      && !reads.contains("o_orderkey"), "orders scan over-reads:\n" + reads)
  }

  test("q194 documents scan is pruned to doc_id+text+source") {
    val reads = plan(TextQueries.q194HeapsLaw).linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.nonEmpty && !reads.contains("lang") && !reads.contains("n_chars"),
      "Heaps fit reads more than doc_id+text+source:\n" + reads)
  }

  test("q197/q200 orders scans read only o_custkey+o_totalprice") {
    Seq(RelationalQueries.q197RobustMeans -> "q197",
        RelationalQueries.q200HillTailIndex -> "q200").foreach { case (q, name) =>
      val reads = plan(q).linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("o_totalprice"))
        .mkString("\n")
      assert(reads.nonEmpty && !reads.contains("o_orderdate")
        && !reads.contains("o_orderstatus") && !reads.contains("o_comment"),
        s"$name orders scan over-reads:\n" + reads)
    }
  }

  test("q198 rank joins stay equi-joins — no product anywhere in the plan") {
    val p = plan(RelationalQueries.q198SpearmanRank)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "Spearman rank lookup degraded to a product:\n" + p)
  }

  test("no registered query plans a CartesianProduct") {
    // collect-then-fail: a single offender must not shadow later ones
    // (round-8 postmortem — the first-offender abort left q186-q193
    // un-swept by the sibling broadcast audit for a whole round)
    val offenders = graft.SparkEntry.registry.flatMap { q =>
      val p = q.run(spark, sfDir).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning a non-broadcast cartesian product: ${offenders.mkString(", ")}")
  }

  test("no registered query runs an unpartitioned window over an unbounded child") {
    // The missing sibling of the no-cartesian and bounded-broadcast
    // sweeps (r12 verdict #2): a Window with an EMPTY partition spec
    // plans Exchange SinglePartition — the whole input serializes into
    // ONE task, the q69 failure mode. That is only acceptable over a
    // relation whose cardinality is dimension-grain: a global aggregate
    // (1 row), a grouped aggregate at a bounded grain (segment, source,
    // label, bin, month, priority, day-offset, bucket, cumsum offset
    // table ≤ shuffle partitions), or a LIMIT-bounded top-k. Every such
    // site must be classified here; anything else is an offender.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit,
      LocalRelation, OneRowRelation, Window => LWindow}
    val allowed = Map(
      // query -> (site, why the window's input is bounded)
      "q66_revenue_share" -> "order-priority-grain aggregate (5 rows)",
      "q113_mixture_sample" -> "source-grain availability table (Mixing.waterfill)",
      "q195_token_waterfill" -> "source-grain availability table (Mixing.waterfill, 3 windows)",
      "q188_kaplan_meier" -> "day-offset-grain survival table (EventQueries lifetimes)",
      "q196_js_divergence" -> "source-grain divergence table",
      "q199_drift_alarms_bh" -> "segment-grain BH rank pass (Drift alarms)",
      "q211_trajectory_alarms" -> "44-month trajectory BH pass",
      "q225_isotonic_calibration" -> "16-bin calibration table",
      "q164_pareto_frontier" -> "bucket-grain prefix-max (Pareto, ≤B buckets)",
      "q139_sq8_ann" -> "global 1-row aggregate (SQ8 scale factors)",
      "q120_vocab_coverage" -> "LIMIT maxK top-k before the cumulative window",
      "q218_curriculum_order" -> "groupedCumsum offset table (≤ shuffle partitions rows)",
      "q208_mmd_drift" -> "label-grain kernel-stat table")
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val observed = scala.collection.mutable.Set.empty[String]
    graft.SparkEntry.registry.foreach { q =>
      val lp = q.run(spark, sfDir).queryExecution.optimizedPlan
      val wins = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (wins.nonEmpty) {
        observed += q.name
        if (!allowed.contains(q.name))
          offenders += s"${q.name}: unpartitioned window not in the audit allowlist"
        // mechanical floor under the classification: the window's input
        // must pass through an Aggregate or a Limit, or be literal-only
        wins.foreach { w =>
          val bounded = w.child.collectFirst {
            case a: Aggregate => a
            case l: GlobalLimit => l
          }.nonEmpty || w.child.collectLeaves().forall {
            case _: LocalRelation | _: OneRowRelation => true
            case _: org.apache.spark.sql.catalyst.plans.logical.Range => true
            case _ => false
          }
          if (!bounded)
            offenders += s"${q.name}: unpartitioned window directly over " +
              s"an unaggregated, unlimited child:\n${w.child.treeString.take(2000)}"
        }
      }
    }
    val stale = allowed.keySet -- observed
    assert(stale.isEmpty,
      s"allowlist entries with no unpartitioned window anymore (stale): $stale")
    assert(offenders.isEmpty,
      s"${offenders.size} unpartitioned-window offender(s):\n" +
        offenders.mkString("\n---\n"))
  }

  test("no registered query hint-broadcasts an unbounded table") {
    // A broadcast() HINT overrides Catalyst's size check, so it is only
    // safe on relations whose cardinality does not grow with the scale
    // factor. Bounded means: every leaf is a literal relation or one of
    // the fixed-cardinality dims (nation=25, region=5), OR the subtree
    // collapses through a global aggregate (1 row), OR it is a
    // point-lookup on a unique key (the ANN probe row). customer /
    // supplier / orders / lineitem / part / documents / embeddings scans
    // must reach a join UNHINTED so AQE can fall back to shuffle at
    // scale. (Round-2 verdict: forced broadcast(customer) OOMs at 100×.)
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LocalRelation, LogicalPlan, OneRowRelation, ResolvedHint}
    val uniqueKeys = Set("vec_id", "doc_id")
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def boundedLeaf(l: LogicalPlan): Boolean = l match {
      case _: LocalRelation | _: OneRowRelation => true
      // a literal spark.range(a, b): cardinality is fixed at plan time
      // and independent of the scale factor — same class as a
      // LocalRelation of constants (q187's 6 lags, q192's 10 deciles)
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => true
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val paths = fs.location.rootPaths.map(_.toString)
          paths.nonEmpty && paths.forall(p =>
            p.contains("nation.parquet") || p.contains("region.parquet"))
        case _ => false
      }
      case _ => false
    }
    def bounded(p: LogicalPlan): Boolean = {
      val globalAgg = p.collectFirst {
        case a: Aggregate if a.groupingExpressions.isEmpty => a }.nonEmpty
      val keyLookup = p.collectFirst {
        case f: Filter if f.condition.find {
          // literal side may carry an implicit Cast — "foldable" covers it
          case EqualTo(a: Attribute, v) if v.foldable => uniqueKeys(a.name)
          case EqualTo(v, a: Attribute) if v.foldable => uniqueKeys(a.name)
          // a literal IN-list on a unique key is ≤ |list| rows — the
          // bounded probe-batch shape (q151); the key may sit under an
          // implicit Cast like EqualTo's literal side above
          case org.apache.spark.sql.catalyst.expressions.In(e, vs)
            if vs.nonEmpty && vs.forall(_.foldable) =>
            (e match {
              case a: Attribute => uniqueKeys(a.name)
              case c: org.apache.spark.sql.catalyst.expressions.Cast =>
                c.child match {
                  case a: Attribute => uniqueKeys(a.name)
                  case _ => false
                }
              case _ => false
            })
          case _ => false
        }.nonEmpty => f }.nonEmpty
      globalAgg || keyLookup || p.collectLeaves().forall(boundedLeaf)
    }
    // collect-then-fail: every offender across the whole registry is
    // reported in one shot, so no query can ship un-swept behind an
    // earlier failure (the round-8 q185 incident)
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    graft.SparkEntry.registry.foreach { q =>
      val analyzed = q.run(spark, sfDir).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.nonEmpty =>
          if (!bounded(h.child))
            offenders += s"${q.name}:\n${h.child}"
        case _ => ()
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} unbounded broadcast hint(s):\n" + offenders.mkString("\n---\n"))
  }

  test("q123 reuses one user-keyed exchange across both windows and the groupBy") {
    // HashPartitioning(user_id) satisfies the (user_id, session_id)
    // clustering of the inner window AND the session aggregate, so the
    // whole sessionize→sequence pipeline must shuffle the events once
    // (plus the final presentation sort)
    val p = plan(EventQueries.q123SessionSequences)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$p")
  }

  test("q67 pushes the part-side size filter into the parquet scan") {
    val p = plan(RelationalQueries.q67PromoRevenue)
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("p_size"), "part size filter not pushed:\n" + p)
  }

  test("q69 packing windows are sharded — no single-partition global sort") {
    val p = plan(TextQueries.q69PackChunks)
    // a Window without PARTITION BY plans Exchange SinglePartition — the
    // one-task serialization the shard key exists to prevent
    assert(!p.contains("SinglePartition"), "packing serialized into one task:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("q68 contamination join is an equi-join on the shingle, not a product") {
    val p = plan(TextQueries.q68Contamination)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "shingle overlap degraded to a product join:\n" + p)
  }

  test("q82 bloom probe filters the fact side BEFORE the semi-join") {
    val p = plan(RelationalQueries.q82BloomSemiJoin)
    assert(p.contains("might_contain"), "bloom runtime filter missing:\n" + p)
    assert(p.contains("LeftSemi"), "exactness join missing:\n" + p)
    // the probe must sit on the scan side (below the join), not above it
    val probeLine = p.linesIterator.indexWhere(l =>
      l.contains("might_contain") && l.contains("l_orderkey"))
    val joinLine = p.linesIterator.indexWhere(_.contains("LeftSemi"))
    assert(probeLine > joinLine, "probe not below the semi-join:\n" + p)
  }

  test("q81 classifier scoring is narrow: no explode, single keyed shuffle") {
    val p = plan(TextQueries.q81ClassifierScores)
    assert(!p.contains("Generate"), "HOF fold degraded to explode:\n" + p)
    assert("hashpartitioning".r.findAllIn(p).length === 1,
      "scoring should shuffle only for the final rollup:\n" + p)
  }

  test("q79 URL analytics never reads the document text column") {
    val p = plan(WebQueries.q79DomainBudget)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), "text read for URL analytics:\n" + readSchema)
  }

  test("q83 span pipeline is computed once (single explode) and codegen-narrow") {
    val p = plan(TextQueries.q83DupSpanCoverage)
    assert("Generate explode".r.findAllIn(p).length === 1,
      "span pipeline duplicated — ReuseExchange regression:\n" + p)
    // the span hash must be a row-level expression after the explode,
    // not a transform HOF before it (HOFs run interpreted — 10× slower,
    // see Dedup.duplicatedSpanCoverage; probe removed, see git history
    // at 894f351)
    assert(!p.contains("lambdafunction"),
      "span hashing regressed to an interpreted higher-order function:\n" + p)
  }

  test("q28 shingle pipeline is shared: the sh-layout exchange is reused at runtime") {
    // jaccardPairs repartitions the shingle view by sh ONCE so the
    // df-count and both self-join sides consume the same exchange;
    // without it the scan→shingle→dedup pipeline replicates per
    // consumer (5× corpus scans). AQE materializes the reuse, so drive
    // THIS df's QueryExecution and inspect the final plan.
    val df = TextQueries.q28JaccardPairs.run(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      "shingle exchange not reused — pipeline replicated per consumer:\n" + p)
  }

  test("q29 banded self-join reuses the signature pipeline at runtime") {
    // minhashLshPairs repartitions by the band key so both self-join
    // sides are the identical exchange — the scan→shingle→signature
    // pipeline must execute once, not per side
    val df = TextQueries.q29MinhashPairs.run(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      "signature exchange not reused — pipeline runs per join side:\n" + p)
  }

  test("q205 one-pass monitor: ONE orders scan, offs exchange reused") {
    // the operator's reason to exist: both drift statistics from one
    // fact pass — the final adaptive plan must scan orders once (the
    // Ecdf offs consumer reads the range exchange through a
    // ReusedExchange, not a re-planned scan subtree)
    val df = RelationalQueries.q205DriftMonitor.run(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    val ordersScans = fin.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(ordersScans === 1, s"expected one orders scan, got $ordersScans:\n$fin")
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      "Ecdf offs consumer re-planned the fact pipeline:\n" + fin)
  }

  test("q207 AD monitor keeps q205's shape: ONE orders scan, offs exchange reused") {
    // the fourth statistic rides the same aggregate — adding it must
    // not re-plan the fact pipeline or add a scan
    val df = RelationalQueries.q207AdMonitor.run(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val ordersScans = fin.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(ordersScans === 1, s"expected one orders scan, got $ordersScans:\n$fin")
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      "Ecdf offs consumer re-planned the fact pipeline:\n" + fin)
  }

  test("q206 projection pass is narrow: no join before the histogram aggregate") {
    // all 8 projections compute in ONE row-local pass (array +
    // posexplode), so the only shuffles are the (dir, value) histogram
    // aggregate and the Ecdf machinery — no join of the embeddings
    // scan against anything fact-sized. The Ecdf self-join duplicates
    // the subtree in the INITIAL plan and AQE collapses it at runtime
    // (the EcdfSpec reuse pin), so drive the plan and read the final one
    val df = VectorQueries.q206SlicedWasserstein.run(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("embeddings"))
    assert(scans === 1, s"embeddings scanned $scans times:\n$p")
    assert(!p.contains("SortMergeJoin"), "fact-sized join appeared:\n" + p)
  }

  test("q209 trajectory: ONE orders scan feeds all 44 monthly comparisons") {
    // the one-vs-many monitor's reason to exist: the month fan-out is
    // an in-row explode of the value-grain collapse, not a join of the
    // scan against a month grid — one orders scan, Ecdf's exchange
    // reused, no SortMergeJoin anywhere
    val df = RelationalQueries.q209DriftTrajectory.run(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = fin.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(scans === 1, s"expected one orders scan, got $scans:\n$fin")
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"), fin)
    assert(!fin.contains("SortMergeJoin"), "month grid joined the scan:\n" + fin)
  }

  test("q210 five-statistic panel keeps q205's shape: ONE orders scan") {
    // adding AD + energy must not re-plan the fact pipeline or add a
    // scan — the panel's reason to exist is replacing four single-
    // statistic reads with the SAME one-pass plan
    val df = RelationalQueries.q210DriftPanel.run(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val ordersScans = fin.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(ordersScans === 1, s"expected one orders scan, got $ordersScans:\n$fin")
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      "Ecdf offs consumer re-planned the fact pipeline:\n" + fin)
  }

  test("q211 trajectory alarms keep q209's shape: ONE orders scan, no join") {
    // the p-value + BH layer runs entirely on the 44-row month-grain
    // relation — it must not add a scan or join to the trajectory read
    val df = RelationalQueries.q211TrajectoryAlarms.run(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = fin.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(scans === 1, s"expected one orders scan, got $scans:\n$fin")
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"), fin)
    assert(!fin.contains("SortMergeJoin"), "month grid joined the scan:\n" + fin)
  }

  test("q208 MMD is one narrow pass: one embeddings scan, no fact-sized join") {
    // the drift family's cheapest member: 32 quantized features per row
    // fold into a 10-row label aggregate — no range exchange, no join
    // of the embeddings scan against anything, totals via one window
    // over the label-grain relation
    val df = VectorQueries.q208MmdDrift.run(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = fin.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("embeddings"))
    assert(scans === 1, s"embeddings scanned $scans times:\n$fin")
    assert(!fin.contains("SortMergeJoin"), "fact-sized join appeared:\n" + fin)
    assert(!fin.contains("rangepartitioning"),
      "a range exchange appeared in the no-exchange drift read:\n" + fin)
  }

  test("q204 conformal: ONE documents scan — both halves ride one cumsum") {
    // the eval coverage is read off cum_ce at the threshold row, so
    // there is no second scoring branch and no threshold join; the one
    // remaining join is Ecdf's internal offs lookup over the reused
    // range exchange
    val df = TextQueries.q204ConformalThreshold.run(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = fin.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans === 1, s"documents scanned $scans times:\n$fin")
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"), fin)
  }

  test("q25 quality scan reads only the 2 needed document columns") {
    val p = plan(TextQueries.q25QualityFilter)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && readSchema.contains("source"), readSchema)
    assert(!readSchema.contains("lang"), "unneeded column read:\n" + readSchema)
  }

  test("q97 top-k aggregator is two-phase: partial buffers trim before the exchange") {
    val p = plan(RelationalQueries.q97TopkPerGroup)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "typed top-k agg lost its partial phase:\n" + p)
    assert(!p.contains("Window"), "top-k fell back to a window sort:\n" + p)
  }

  test("q98 token-run analysis is shuffle-free before its final sort") {
    val p = plan(TextQueries.q98TokenRuns)
    assert(!p.contains("hashpartitioning"),
      "narrow run-length analysis gained a keyed shuffle:\n" + p)
  }

  test("q108 skip-gram pairs shuffle once, on the pair key, reading only text") {
    val p = plan(TextQueries.q108SkipgramPairs)
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed === 1, s"expected 1 keyed shuffle, got $keyed:\n" + p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      "unneeded columns read:\n" + readSchema)
  }

  // Walk the physical plan WITHOUT descending into InMemoryRelation's
  // stored child plan (its build-time joins would pollute node counts),
  // but DO descend through AQE wrappers and materialized query stages.
  private def flatNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: flatNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flatNodes(q.plan)
    case _ => p +: p.children.flatMap(flatNodes)
  }

  test("PageRank round never sorts or re-exchanges the adjacency (r3 fix)") {
    // Reproduce the production shape exactly: ranks arrive as a
    // localCheckpoint'd LogicalRDD whose size statistics are unknown
    // (= maximum) — the configuration that made a stats-driven planner
    // pick SortMergeJoin and re-sort the cached adjacency every round.
    // The hint pins it: two BroadcastHashJoins, no SortMergeJoin, and
    // the only shuffle is the rank-sized gather on `dst`.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    import graft.operators.PageRank
    val edges = spark.range(3000)
      .select((col("id") % 500).as("src"), ((col("id") * 7) % 500).as("dst"))
    val g = PageRank.prepare(edges)
    val ranks = g.nodes.select(col("node"), (lit(1.0) / col("n_nodes")).as("pr"))
      .localCheckpoint(true)
    val nodes = flatNodes(PageRank.round(g, ranks, 0.85, lit(0.15) / col("n_nodes"))
      .queryExecution.executedPlan)
    val render = nodes.map(_.nodeName).mkString("\n")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "round degraded to SMJ:\n" + render)
    assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) === 2,
      "node-sized sides not broadcast:\n" + render)
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1,
      s"round should shuffle once (rank-sized gather), found $shuffles:\n$render")
    g.adj.unpersist(true); g.nodes.unpersist(true)
  }

  test("HITS half-step never sorts the cached edges; one gather shuffle only") {
    // Same class of pin as the PageRank round: scores arrive as a
    // stats-less localCheckpoint'd LogicalRDD, so only the explicit
    // node-sized hint keeps the planner off SortMergeJoin. Below the
    // broadcast limit the half-step must be ONE BroadcastHashJoin plus
    // the partial-aggregated gather exchange.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    import graft.operators.Hits
    val bySrc = spark.range(3000)
      .select((col("id") % 500).as("src"), ((col("id") * 7) % 500).as("dst"))
      .repartition(col("src")).cache()
    bySrc.count()
    val scores = bySrc.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1L).as("s")).localCheckpoint(true)
    val nodes = flatNodes(Hits.halfStep(bySrc, "src", "dst", scores, broadcast)
      .queryExecution.executedPlan)
    val render = nodes.map(_.nodeName).mkString("\n")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "half-step degraded to SMJ:\n" + render)
    assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) === 1,
      "score side not broadcast:\n" + render)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) <= 1,
      "half-step should shuffle once (the gather):\n" + render)
    bySrc.unpersist(true)
  }

  test("PageRank above the broadcast limit falls back to shuffled-hash, still unsorted") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions._
    import graft.operators.PageRank
    val edges = spark.range(3000)
      .select((col("id") % 500).as("src"), ((col("id") * 7) % 500).as("dst"))
    val g = PageRank.prepare(edges, broadcastNodeLimit = 10)
    val ranks = g.nodes.select(col("node"), (lit(1.0) / col("n_nodes")).as("pr"))
      .localCheckpoint(true)
    val nodes = flatNodes(PageRank.round(g, ranks, 0.85, lit(0.15) / col("n_nodes"))
      .queryExecution.executedPlan)
    val render = nodes.map(_.nodeName).mkString("\n")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "big-graph round degraded to SMJ:\n" + render)
    assert(nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "shuffle_hash fallback not applied:\n" + render)
    g.adj.unpersist(true); g.nodes.unpersist(true)
  }

  test("incremental dedup: bucketed reference band index joins with zero Exchange on the reference side") {
    // The q94 scale claim, proven: materialize the reference corpus's
    // band index bucketed by (band, bkey), then join a delta against
    // it — the candidate join must read the index in bucket layout
    // with NO shuffle under the reference side, so a daily batch costs
    // O(delta), never O(corpus).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.sources.{Sinks, Tables}
    val docs = Tables.documents(spark, sfDir)
    val refIdx = Dedup.minhashBandIndex(
      docs.filter(col("doc_id") % 10 < 8), "doc_id", "text", n = 3,
      bands = 16, rowsPerBand = 4)
    Sinks.writeBucketed(refIdx, "ref_band_idx", nBuckets = 4,
      bucketCols = Seq("band", "bkey"), sortCols = Seq("band", "bkey"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Dedup.minhashCrossCorpusDupsAgainstIndex(
        docs.filter(col("doc_id") % 10 >= 8), spark.table("ref_band_idx"),
        "doc_id", "text", n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      // the DEEPEST join containing the index scan is the candidate
      // band join (ancestors — the final left join — also contain it)
      val candJoin = flatNodes(joined.queryExecution.executedPlan)
        .collect {
          case j: BaseJoinExec if flatNodes(j).exists {
            case s: FileSourceScanExec => s.relation.location.rootPaths
              .exists(_.toString.contains("ref_band_idx"))
            case _ => false
          } => j
        }.lastOption
      assert(candJoin.nonEmpty, "candidate join over the index not found")
      val refSide = candJoin.get.children.find(c => flatNodes(c).exists {
        case s: FileSourceScanExec => s.relation.location.rootPaths
          .exists(_.toString.contains("ref_band_idx"))
        case _ => false
      })
      assert(refSide.nonEmpty)
      assert(!flatNodes(refSide.get).exists(_.isInstanceOf[ShuffleExchangeExec]),
        "reference side of the delta join shuffles — bucketing not used:\n" +
          refSide.get.toString)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS ref_band_idx")
    }
  }

  test("q93 PQ encode+ADC is one joinless narrow pass + top-k") {
    val p = plan(VectorQueries.q93PqAnn)
    assert(p.contains("TakeOrderedAndProject"), "top-k degraded to full sort:\n" + p)
    // encode + ADC are maps against literal tables: no join, no shuffle
    assert(!p.contains("Join"), "PQ scan pays a join:\n" + p)
    assert(!p.contains("hashpartitioning"), "PQ scan side shuffled:\n" + p)
  }
}
