package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.BloomJoin
import graft.sources.Tables

/** Relational core: scans, filters, aggregations, joins, windows, top-k,
  * set ops, grouping sets — the engine capabilities SURVEY.md §2.4-§2.8
  * derives from the reference's relational data model
  * (reference: house ⋈ village on 小区ID, lianjia.py:95-99,130).
  *
  * Scale notes (100 TB): every query here is a declarative DataFrame chain,
  * so Catalyst gets predicate pushdown + column pruning into the parquet
  * scan for free. Broadcast policy: only BOUNDED dims carry an explicit
  * `broadcast()` hint (nation = 25 rows, region = 5 rows, literal band
  * tables — cardinality independent of scale factor). Fact-proportional
  * tables (customer/supplier/orders/part grow linearly with SF) are left
  * unhinted so AQE + spark.sql.autoBroadcastJoinThreshold pick broadcast
  * only when the runtime size actually fits — a hard-coded hint there
  * overrides Catalyst's size check and OOMs executors at 100×. PlanSpec
  * pins this policy ("no unbounded table is hint-broadcast").
  */
object RelationalQueries {

  /** TPC-H Q1 shape: filter → hash-agg (partial+final) → sort.
    * SURVEY §2.5. The groupBy key is 2 low-cardinality columns, so the
    * partial (map-side) aggregate collapses ~everything before shuffle. */
  val q01PricingSummary = Q(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Broadcast-join star: fact ⋈ two tiny dims (SURVEY §2.4 "broadcast
    * hash"). nation (25 rows) and region (5 rows) are broadcast — no
    * shuffle of customer at any scale. */
  val q02RegionActivity = Q(
    "q02_region_activity",
    """SELECT r_name, n_name,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  round(avg(c_acctbal), 4) + 0.0 AS avg_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin) { (spark, dir) =>
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        Q.noNegZero(round(avg(col("c_acctbal")), 4)).as("avg_bal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** TPC-H Q3 shape: 3-way join, filter both sides, agg, top-10.
    * customer is fact-proportional (150k × SF), so it carries NO broadcast
    * hint: AQE + autoBroadcastJoinThreshold broadcast it when its runtime
    * size fits and fall back to shuffle when it doesn't. lineitem⋈orders
    * is the fact join Catalyst plans as sort-merge/shuffled-hash + AQE.
    * Ordering on the ROUNDED revenue keeps both dialects' tie-breaks
    * identical. */
  val q03ShippingPriority = Q(
    "q03_shipping_priority",
    """SELECT l_orderkey,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  o_orderdate
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1996-03-15 00:00:00").cast("timestamp"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") < lit("1998-03-15 00:00:00").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Left-semi join = EXISTS (SURVEY §2.4). */
  val q04SemiJoin = Q(
    "q04_semi_join",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).filter(col("l_quantity") > 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Left-anti join = NOT EXISTS — the orphan-detection shape SURVEY §2.4
    * calls out (houses whose 小区ID has no village row). */
  val q05AntiJoin = Q(
    "q05_anti_join",
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_inactive
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_totalprice > 400000)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q6 shape: highly selective filter → global agg. All three
    * predicates push into the parquet scan (verify: PushedFilters). */
  val q06ForecastRevenue = Q(
    "q06_forecast_revenue",
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** Top-k without total sort: orderBy+limit plans TakeOrderedAndProject
    * (SURVEY §2.7) — each partition keeps k rows, driver merges k·p. No
    * arithmetic on the sort key → raw doubles hash-match. */
  val q07TopOrders = Q(
    "q07_top_orders",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Snapshot-latest via row_number (SURVEY §2.6) — the dedup the
    * reference's repeated-crawl 采集时间 stamping implies
    * (lianjia.py:89,156,217): newest row per key wins. */
  val q08LatestOrderPerCustomer = Q(
    "q08_latest_order_per_customer",
    """SELECT c_custkey, o_orderkey, o_orderdate FROM (
      |  SELECT c_custkey, o_orderkey, o_orderdate,
      |    row_number() OVER (PARTITION BY c_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM customer JOIN orders ON c_custkey = o_custkey) t
      |WHERE rn = 1
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("c_custkey"))
  }

  /** Analytic window frame: running revenue + lag delta per supplier
    * (SURVEY §2.6). Unique total order (shipdate, orderkey, linenumber)
    * makes the running sum deterministic in both engines. */
  val q09RunningRevenue = Q(
    "q09_running_revenue",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  round(sum(l_extendedprice) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev,
      |  round(l_extendedprice - lag(l_extendedprice, 1, 0.0) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber), 2) + 0.0 AS delta_prev
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1998-06-01 00:00:00").cast("timestamp"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_extendedprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_rev"),
        Q.noNegZero(
          round(col("l_extendedprice") - lag(col("l_extendedprice"), 1, 0.0).over(w), 2))
          .as("delta_prev"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Set operations (SURVEY §2.8): intersect / except / union distinct on
    * customer key-sets, reduced to counts so the result is tiny and
    * order-stable. */
  val q10SetOps = Q(
    "q10_set_ops",
    """SELECT 'big_and_building' AS op, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t1
      |UNION ALL
      |SELECT 'building_no_big' AS op, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t2
      |UNION ALL
      |SELECT 'either' AS op, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t3
      |ORDER BY op""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val big = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 100000).select(col("o_custkey").as("k"))
    val inter = building.intersect(big).agg(count(lit(1)).as("n"))
      .select(lit("big_and_building").as("op"), $"n")
    val exc = building.except(big).agg(count(lit(1)).as("n"))
      .select(lit("building_no_big").as("op"), $"n")
    val uni = building.union(big).distinct().agg(count(lit(1)).as("n"))
      .select(lit("either").as("op"), $"n")
    inter.unionByName(exc).unionByName(uni).orderBy(col("op"))
  }

  /** ROLLUP with GROUPING() disambiguation (SURVEY §2.5). */
  val q11Rollup = Q(
    "q11_rollup",
    """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
      |  coalesce(l_linestatus, '(all)') AS linestatus,
      |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |  CAST(grouping(l_linestatus) AS INT) AS g_status,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
        col("g_flag"), col("g_status"), col("sum_qty"), col("n"))
      .orderBy(col("g_flag"), col("g_status"), col("returnflag"), col("linestatus"))
  }

  /** CUBE (SURVEY §2.5). */
  val q12Cube = Q(
    "q12_cube",
    """SELECT coalesce(o_orderstatus, '(all)') AS orderstatus,
      |  coalesce(o_orderpriority, '(all)') AS orderpriority,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_prio, orderstatus, orderpriority""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
        col("g_status"), col("g_prio"), col("n"), col("total"))
      .orderBy(col("g_status"), col("g_prio"), col("orderstatus"), col("orderpriority"))
  }

  /** Exact distinct counts (SURVEY §2.5). Two count-distincts in one agg →
    * Catalyst plans expand + two-phase agg. */
  val q13Distinct = Q(
    "q13_distinct",
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles (SURVEY §2.5): Spark `percentile` ↔
    * DuckDB `quantile_cont` — both linear interpolation over the sorted
    * set, so values match to fp noise; rounded to 4. */
  val q14Percentiles = Q(
    "q14_percentiles",
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.50)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"))
      .orderBy(col("l_returnflag"))
  }

  /** Range (non-equi) join against a tiny in-memory band dim (SURVEY §2.4
    * "theta/range"): the band side is broadcast, so Catalyst plans
    * BroadcastNestedLoopJoin — the only sane physical shape for a
    * band-bucketing join at scale. */
  val q15RangeJoinBands = Q(
    "q15_range_join_bands",
    """SELECT band, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS total_price
      |FROM lineitem
      |JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0), ('high', 25.0, 100.0))
      |  bands(band, lo, hi)
      |ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val bands = Seq(("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 100.0))
      .toDF("band", "lo", "hi")
    Tables.lineitem(spark, dir)
      .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total_price"))
      .orderBy(col("band"))
  }

  /** Fan-out via sequence+explode — the Spark form of the reference's
    * pagination loop `range(2, totalPage+1)` (lianjia.py:117-119; SURVEY
    * §2.3 G5/G7, §2.9 C13). One row per synthetic page 2..n_pages. */
  val q16FanoutPagination = Q(
    "q16_fanout_pagination",
    """SELECT o_orderkey, CAST(page AS INT) AS page,
      |  'p' || CAST(o_orderkey AS VARCHAR) || '_' || CAST(page AS VARCHAR) AS page_url
      |FROM (SELECT o_orderkey, o_orderkey % 4 + 2 AS n_pages FROM orders
      |      WHERE o_orderkey % 20 = 0) o,
      |  unnest(range(2, n_pages + 1)) AS t(page)
      |ORDER BY o_orderkey, page""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), (col("o_orderkey") % 4 + 2).as("n_pages"))
      .select(col("o_orderkey"),
        explode(sequence(lit(2L), col("n_pages"))).as("page"))
      .select(col("o_orderkey"), col("page").cast("int").as("page"),
        concat(lit("p"), col("o_orderkey").cast("string"), lit("_"),
          col("page").cast("string")).as("page_url"))
      .orderBy(col("o_orderkey"), col("page"))
  }

  /** unionByName(allowMissingColumns) + snapshot-latest — the on-sale ∪
    * sold shape (SURVEY §2.8: same item type from two chains,
    * lianjia.py:125/185, sold rows lack on-sale-only fields). */
  val q17UnionSnapshot = Q(
    "q17_union_snapshot",
    """SELECT status, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(coalesce(price, 0.0)), 2) AS total_price,
      |  CAST(count(follows) AS BIGINT) AS n_with_follows
      |FROM (
      |  SELECT 'onsale' AS status, o_totalprice AS price, o_custkey AS follows
      |  FROM orders WHERE o_orderstatus = 'O'
      |  UNION ALL
      |  SELECT 'sold' AS status, o_totalprice AS price, NULL AS follows
      |  FROM orders WHERE o_orderstatus = 'F') t
      |GROUP BY status
      |ORDER BY status""".stripMargin) { (spark, dir) =>
    val orders = Tables.orders(spark, dir)
    val onsale = orders.filter(col("o_orderstatus") === "O")
      .select(lit("onsale").as("status"), col("o_totalprice").as("price"),
        col("o_custkey").as("follows"))
    // sold rows genuinely lack the `follows` column — unionByName fills null
    val sold = orders.filter(col("o_orderstatus") === "F")
      .select(lit("sold").as("status"), col("o_totalprice").as("price"))
    onsale.unionByName(sold, allowMissingColumns = true)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        round(sum(coalesce(col("price"), lit(0.0))), 2).as("total_price"),
        count(col("follows")).as("n_with_follows"))
      .orderBy(col("status"))
  }

  /** HLL++ approximate distinct (SURVEY §2.5 "approx distinct") — sketch
    * implementations differ across engines, so no value oracle; the
    * rows-only check plus the exact-distinct twin (q13) covers it. */
  val q38ApproxDistinct = Q.noOracle("q38_approx_distinct") { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q5 shape: 6-table star. Only the bounded dims (nation 25 rows,
    * region 5 rows) carry broadcast hints; customer and supplier grow with
    * SF, so their joins are unhinted — AQE broadcasts them while they fit
    * and degrades to shuffle joins at scale instead of OOMing on a forced
    * multi-GB broadcast. */
  val q40LocalSupplierVolume = Q(
    "q40_local_supplier_volume",
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Ranking-function suite (SURVEY §2.6): dense_rank, ntile, first/last
    * over an explicit frame — one query exercising the whole family. */
  val q41RankingSuite = Q(
    "q41_ranking_suite",
    """SELECT o_custkey, o_orderkey,
      |  dense_rank() OVER w AS drk,
      |  ntile(4) OVER w AS quartile,
      |  first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW) AS first_ok,
      |  round(max(o_totalprice) OVER (PARTITION BY o_custkey)
      |    - o_totalprice, 2) + 0.0 AS gap_to_max
      |FROM orders
      |WHERE o_custkey % 10 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, drk, o_orderkey""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wp = Window.partitionBy(col("o_custkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 10 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).as("drk"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_ok"),
        // max is selection, not arithmetic: the gap is a difference of two
        // 2-decimal values — always ≥5e-3 from a rounding boundary, unlike
        // avg-based deltas which land exactly on the grid for power-of-2
        // group sizes (observed 1e-4 cross-engine diffs)
        Q.noNegZero(round(max(col("o_totalprice")).over(wp) - col("o_totalprice"), 2))
          .as("gap_to_max"))
      .orderBy(col("o_custkey"), col("drk"), col("o_orderkey"))
  }

  /** Explicit GROUPING SETS through the spark.sql entry point (SURVEY
    * §2.5) — asymmetric sets that neither rollup nor cube express:
    * (returnflag, linestatus), (returnflag), (linestatus alone is NOT
    * included) plus grand total. */
  val q42GroupingSets = Q(
    "q42_grouping_sets",
    """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
      |  coalesce(l_linestatus, '(all)') AS linestatus,
      |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |  CAST(grouping(l_linestatus) AS INT) AS g_status,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(1) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin)
  }

  /** Unpivot (wide → long): three lineitem measures melt into
    * (measure, val) rows via Dataset.unpivot — the DuckDB twin is the
    * portable UNION ALL expansion. */
  val q47Unpivot = Q(
    "q47_unpivot",
    """WITH u AS (
      |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
      |SELECT l_returnflag, measure, round(sum(val), 2) AS total
      |FROM u
      |GROUP BY l_returnflag, measure
      |ORDER BY l_returnflag, measure""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(round(sum(col("val")), 2).as("total"))
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** Deterministic hash sampling (stable train/test splits): ~10% of
    * orders by md5 bucket of the key — identical row selection in any
    * engine, unlike seed+partition-dependent TABLESAMPLE. */
  val q49HashSample = Q(
    "q49_hash_sample",
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
    import graft.functions.Sampling
    Sampling.hashSample(Tables.orders(spark, dir), col("o_orderkey"), pct = 10)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Full outer join: daily order counts vs daily shipment counts —
    * dates present on either side survive with nulls on the other
    * (coalesced to 0 for a deterministic comparison). */
  val q55FullOuter = Q(
    "q55_full_outer",
    """WITH o AS (SELECT o_orderdate AS d, count(*) AS n_orders FROM orders GROUP BY 1),
      |s AS (SELECT l_shipdate AS d, count(*) AS n_ships FROM lineitem GROUP BY 1)
      |SELECT coalesce(o.d, s.d) AS d,
      |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
      |  CAST(coalesce(n_ships, 0) AS BIGINT) AS n_ships
      |FROM o FULL OUTER JOIN s ON o.d = s.d
      |ORDER BY d""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("od")).agg(count(lit(1)).as("n_orders"))
    val s = Tables.lineitem(spark, dir)
      .groupBy(col("l_shipdate").as("sd")).agg(count(lit(1)).as("n_ships"))
    o.join(s, col("od") === col("sd"), "full_outer")
      .select(coalesce(col("od"), col("sd")).as("d"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_ships"), lit(0L)).as("n_ships"))
      .orderBy(col("d"))
  }

  /** Analytic window suite: lag/lead/percent_rank/cume_dist per
    * customer (q41 covers the ranking family; this is the offset +
    * distribution family). The window orders by (price, orderkey) — the
    * unique tiebreaker that makes lag/lead deterministic under ties. */
  val q56AnalyticSuite = Q(
    "q56_analytic_suite",
    """SELECT o_orderkey, o_custkey,
      |  round(coalesce(lag(o_totalprice) OVER w, 0), 2) AS prev_price,
      |  round(coalesce(lead(o_totalprice) OVER w, 0), 2) AS next_price,
      |  round(percent_rank() OVER w, 6) AS pr,
      |  round(cume_dist() OVER w, 6) AS cd
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir).select(
        col("o_orderkey"), col("o_custkey"),
        round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(0)), 2).as("prev_price"),
        round(coalesce(lead(col("o_totalprice"), 1).over(w), lit(0)), 2).as("next_price"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("o_orderkey"))
  }

  /** Skew-gated salted join, oracle-proof that the gate (and salting)
    * is semantically invisible: the DuckDB twin is the PLAIN join —
    * same rows, same aggregates — while the Spark side probes the key
    * histogram and salts only if a key is measurably hot. At sf0.1 no
    * order key is (≤7 lines each), so this runs the plain join and the
    * probe documents why; SkewJoinSpec pins both gate outcomes on
    * synthetic data, and saltedJoin stays the direct API for callers
    * with known-hot keys. */
  val q57SkewJoin = Q(
    "q57_skew_join",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    import graft.operators.SkewJoin
    val li = Tables.lineitem(spark, dir).withColumnRenamed("l_orderkey", "okey")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    // salt (if the gate fires) from the line's natural identity, NOT
    // the whole row: a whole-row salt hash forces the scan to read all
    // 16 lineitem columns and kills column pruning (measured 2.3 s →
    // the scan reads 3 columns with this; PlanSpec pins the ReadSchema)
    SkewJoin.saltedJoinIfSkewed(li, o, key = "okey", saltFactor = 8,
        saltCols = Seq("okey", "l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_extendedprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** Stable train/val/test assignment (Sampling.splitColumn): every
    * order lands in exactly one split by md5 bucket of its key —
    * reproducible across engines, reruns, and repartitioning. */
  val q61SplitLabels = Q(
    "q61_split_labels",
    """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM (
      |  SELECT o_totalprice,
      |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
      |  FROM orders) t
      |GROUP BY 1
      |ORDER BY split""".stripMargin) { (spark, dir) =>
    import graft.functions.Sampling
    Tables.orders(spark, dir)
      .withColumn("split", Sampling.splitColumn(col("o_orderkey"),
        Seq(("train", 80), ("val", 90), ("test", 100))))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("split"))
  }

  /** Fixed-width histogram by floor arithmetic (identical expression in
    * both dialects — DuckDB 1.0 lacks width_bucket; the arithmetic IS
    * the portable form of it). Overflow values clamp into the top
    * bucket. */
  val q64Histogram = Q(
    "q64_histogram",
    """SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS INT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(min(o_totalprice), 2) AS lo,
      |  round(max(o_totalprice), 2) AS hi
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(least(floor(col("o_totalprice") / 50000.0), lit(11)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Percent-of-total: a window over the AGGREGATED relation (global
    * empty frame) — sum(sum(x)) OVER () — the ratio_to_report shape.
    * The window input is the handful of group rows, not the fact table,
    * so the "global" frame costs nothing at any scale. */
  val q66RevenueShare = Q(
    "q66_revenue_share",
    """SELECT o_orderpriority,
      |  round(sum(o_totalprice), 2) AS total,
      |  round(sum(o_totalprice) / sum(sum(o_totalprice)) OVER (), 6) AS share
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("o_totalprice")).as("t"))
      .select(col("o_orderpriority"),
        round(col("t"), 2).as("total"),
        round(col("t") / sum(col("t")).over(Window.partitionBy()), 6).as("share"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q14 shape (promo revenue share by ship month): the
    * part⋈lineitem fact join. The part-side predicate (p_size ≤ 25) is
    * pushed into the parquet scan (pinned in PlanSpec); part grows with
    * SF, so per the broadcast policy above its join is unhinted — AQE
    * broadcasts it while it fits. The conditional aggregate computes
    * promo and total revenue in ONE pass over the join output. */
  val q67PromoRevenue = Q(
    "q67_promo_revenue",
    """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
      |  round(sum(CASE WHEN p_type = 'PROMO'
      |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_revenue,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
      |  round(sum(CASE WHEN p_type = 'PROMO'
      |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
      |    / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 25
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val promoRev = when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_size") <= 25),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"))
      .agg(
        round(sum(promoRev), 2).as("promo_revenue"),
        round(sum(rev), 2).as("total_revenue"),
        round(sum(promoRev) / sum(rev), 6).as("promo_share"))
      .orderBy(col("ship_month"))
  }

  /** Bloom-prefiltered semi-join (`BloomJoin.bloomSemiJoin`): urgent-
    * order revenue by ship month. The bloom filter is pure execution
    * strategy — it drops non-candidate lineitems before their shuffle
    * and the real semi-join removes its false positives — so the oracle
    * is the PLAIN `IN` subquery: the result must be identical with the
    * accelerator on. */
  val q82BloomSemiJoin = Q(
    "q82_bloom_semi_join",
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      |    AND o_orderdate >= DATE '1997-01-01')
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderdate") >= lit("1997-01-01").cast("date"))
    BloomJoin.bloomSemiJoin(Tables.lineitem(spark, dir), urgent,
        "l_orderkey", "o_orderkey")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("ship_month"))
  }

  /** Z-order layout statistics (`operators/ZOrder`) — the lakehouse
    * `OPTIMIZE ZORDER BY` shape: Morton-interleave (l_partkey,
    * l_suppkey), split the curve into 16 equal z-ranges (what
    * `zorderRepartition` makes physical partitions), and report each
    * range's bounding box in BOTH key dimensions. The narrow per-bucket
    * min/max spans are the data-skipping story: a predicate on EITHER
    * key prunes most buckets, which a lexicographic sort only offers
    * for its leading column. All bit arithmetic is built-in
    * (`shiftleft`/`&`/`|`, codegen'd) and the oracle replays the exact
    * spread masks; bucketing uses integer division (`DIV` / `//`) so
    * both engines bucket identically. */
  val q88ZorderLayout = Q(
    "q88_zorder_layout",
    """WITH a AS (
      |  SELECT CAST(l_partkey & 65535 AS BIGINT) AS x,
      |         CAST(l_suppkey & 65535 AS BIGINT) AS y FROM lineitem),
      |s1 AS (SELECT x, y, ((x | (x << 8)) & 16711935) AS x1,
      |                    ((y | (y << 8)) & 16711935) AS y1 FROM a),
      |s2 AS (SELECT x, y, ((x1 | (x1 << 4)) & 252645135) AS x2,
      |                    ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1),
      |s3 AS (SELECT x, y, ((x2 | (x2 << 2)) & 858993459) AS x3,
      |                    ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
      |s4 AS (SELECT x, y, ((x3 | (x3 << 1)) & 1431655765) AS x4,
      |                    ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3),
      |z AS (SELECT x, y, x4 | (y4 << 1) AS zv FROM s4),
      |mx AS (SELECT max(zv) AS zmax FROM z),
      |b AS (SELECT CAST(zv * 16 // (zmax + 1) AS INT) AS bucket, x, y
      |      FROM z CROSS JOIN mx)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |  min(x) AS min_part, max(x) AS max_part,
      |  min(y) AS min_supp, max(y) AS max_supp
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (spark, dir) =>
    import graft.operators.ZOrder
    val z = Tables.lineitem(spark, dir).select(
      ZOrder.zValue2(col("l_partkey"), col("l_suppkey")).as("zv"),
      col("l_partkey").bitwiseAND(lit(65535)).cast("long").as("x"),
      col("l_suppkey").bitwiseAND(lit(65535)).cast("long").as("y"))
    val mx = z.agg(max(col("zv")).as("zmax")) // 1-row bounded
    z.join(broadcast(mx))
      .withColumn("bucket", expr("CAST((zv * 16) DIV (zmax + 1) AS INT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_part"), max(col("x")).as("max_part"),
        min(col("y")).as("min_supp"), max(col("y")).as("max_supp"))
      .orderBy(col("bucket"))
  }

  /** Equi-depth (quantile) binning — feature discretization for
    * training pipelines: nine EXACT decile cutpoints of l_extendedprice
    * via range-partitioned global ranking (see inline comment — no
    * value→count aggregate state, no global sort on one machine), then
    * each row assigned bin = #cutpoints below its value with nine
    * codegen'd comparisons (q64 is the fixed-WIDTH twin of this
    * fixed-DEPTH histogram). Bin-boundary stability across engines
    * holds because an interpolated cutpoint lies strictly between two
    * adjacent data values (or IS a data value when (n-1)p is
    * integral), so `value > cut` agrees even if the interpolation
    * differs in the last ulp. */
  val q90EquidepthBins = Q(
    "q90_equidepth_bins",
    """WITH cuts AS (
      |  SELECT quantile_cont(l_extendedprice,
      |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
      |  FROM lineitem),
      |b AS (
      |  SELECT CAST(list_sum(list_transform(cs,
      |      c -> CASE WHEN l_extendedprice > c THEN 1 ELSE 0 END)) AS INT) AS bin,
      |    l_extendedprice AS v
      |  FROM lineitem CROSS JOIN cuts)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
      |  round(min(v), 2) AS lo, round(max(v), 2) AS hi,
      |  round(sum(v), 2) AS mass
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    // exact quantiles the 100 TB way: Spark's `percentile` aggregate
    // buffers a value→count map (583k entries here — memory scales with
    // distinct values, and this column is near-continuous). Instead:
    // range-partition on the value (global order across partition ids),
    // per-partition sort, and convert local row_numbers to GLOBAL ranks
    // with the 32-row partition-count offsets — then only the ≤18
    // floor/ceil rank rows ever leave the executors, and the driver
    // interpolates the 9 cutpoints from them. Sort state is per-partition,
    // driver state is 18 doubles, at any corpus size. (2.5 s → ~0.7 s at
    // sf0.1 vs the percentile-map aggregate.)
    val n = li.count()
    val pcts = (1 to 9).map(_ / 10.0)
    val ranks = pcts.flatMap { q =>
      val r = (n - 1) * q
      Seq(math.floor(r).toLong, math.ceil(r).toLong)
    }.distinct
    val parted = li.select(col("l_extendedprice").as("v"))
      .repartitionByRange(32, col("v"))
      .withColumn("pid", spark_partition_id())
    val offs = parted.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .withColumn("off",
        coalesce(sum(col("c")).over(
          Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off")) // 32 rows — the only global window
    val rankVals = parted
      .join(broadcast(offs), "pid")
      .withColumn("gr",
        row_number().over(Window.partitionBy(col("pid")).orderBy(col("v")))
          + col("off") - 1)
      .filter(col("gr").isin(ranks: _*))
      .select(col("gr"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cuts = pcts.map { q =>
      val r = (n - 1) * q
      val (f, c) = (math.floor(r).toLong, math.ceil(r).toLong)
      val vf = rankVals(f)
      if (f == c) vf else vf + (r - f) * (rankVals(c) - vf)
    }
    li.select(col("l_extendedprice").as("v"),
        // unrolled: 9 codegen'd comparisons per row against literal
        // cutpoints — the `aggregate` HOF fold this replaces ran an
        // interpreted lambda per row, ~3× slower over the fact table
        cuts.map(cut => when(col("l_extendedprice") > lit(cut), 1).otherwise(0))
          .reduce(_ + _).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        round(min(col("v")), 2).as("lo"), round(max(col("v")), 2).as("hi"),
        round(sum(col("v")), 2).as("mass"))
      .orderBy(col("bin"))
  }

  /** Top-k per group via the bounded-heap typed Aggregator
    * (functions/TopK) instead of a row_number window: the map-side
    * partial trims every partition's contribution to k rows BEFORE the
    * exchange, so the shuffle carries ≤ k·partitions rows per group
    * where the window shape shuffles-and-sorts the whole table. Total
    * order (price DESC, orderkey ASC) is deterministic → the oracle
    * mirrors it with row_number exactly. */
  val q97TopkPerGroup = Q(
    "q97_topk_per_group",
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk, o_orderkey,
      |  round(o_totalprice, 2) AS price
      |FROM ranked WHERE rk <= 3
      |ORDER BY o_orderpriority, rk""".stripMargin) { (spark, dir) =>
    import graft.functions.TopK
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(TopK.topK(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("idx", "t")))
      .select(col("o_orderpriority"), (col("idx") + 1).cast("long").as("rk"),
        col("t.i").as("o_orderkey"), round(col("t.s"), 2).as("price"))
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  /** Data-quality constraint suite (the Deequ shape): completeness,
    * uniqueness, range, domain and referential-integrity checks over
    * the fact table as ONE multi-metric aggregate pass plus one
    * semi-join count — at 100 TB the whole assertion suite costs a
    * single scan, not one job per check; results come back in long form
    * (check, metric, passed) for a quality dashboard or a pipeline
    * gate. */
  val q102QualityChecks = Q(
    "q102_quality_checks",
    """WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(count(o_custkey) AS DOUBLE) AS n_ck,
      |    CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS n_ok,
      |    min(o_totalprice) AS minp,
      |    CAST(sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS n_st
      |  FROM orders),
      |ri AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_matched
      |  FROM orders o
      |  WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |SELECT * FROM (
      |  SELECT 'completeness_custkey' AS check_name, round(n_ck / n, 6) AS metric,
      |    n_ck = n AS passed FROM m
      |  UNION ALL SELECT 'min_totalprice_positive', round(minp, 6), minp > 0 FROM m
      |  UNION ALL SELECT 'ref_integrity_custkey', round(ri.n_matched / m.n, 6),
      |    ri.n_matched = m.n FROM m, ri
      |  UNION ALL SELECT 'status_in_domain', round(n_st / n, 6), n_st = n FROM m
      |  UNION ALL SELECT 'uniqueness_orderkey', round(n_ok / n, 6), n_ok = n FROM m)
      |ORDER BY check_name""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val m = o.agg(
      count(lit(1)).cast("double").as("n"),
      count(col("o_custkey")).cast("double").as("n_ck"),
      countDistinct(col("o_orderkey")).cast("double").as("n_ok"),
      min(col("o_totalprice")).as("minp"),
      sum(when(col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
        .cast("double").as("n_st"))
    val ri = o.join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .agg(count(lit(1)).cast("double").as("n_matched"))
    m.crossJoin(ri)
      .select(explode(array(
        struct(lit("completeness_custkey").as("check_name"),
          round(col("n_ck") / col("n"), 6).as("metric"),
          (col("n_ck") === col("n")).as("passed")),
        struct(lit("min_totalprice_positive").as("check_name"),
          round(col("minp"), 6).as("metric"), (col("minp") > 0).as("passed")),
        struct(lit("ref_integrity_custkey").as("check_name"),
          round(col("n_matched") / col("n"), 6).as("metric"),
          (col("n_matched") === col("n")).as("passed")),
        struct(lit("status_in_domain").as("check_name"),
          round(col("n_st") / col("n"), 6).as("metric"),
          (col("n_st") === col("n")).as("passed")),
        struct(lit("uniqueness_orderkey").as("check_name"),
          round(col("n_ok") / col("n"), 6).as("metric"),
          (col("n_ok") === col("n")).as("passed")))).as("c"))
      .select(col("c.check_name").as("check_name"), col("c.metric").as("metric"),
        col("c.passed").as("passed"))
      .orderBy(col("check_name"))
  }

  /** Whole-table column profiling (operators/Profile): every column's
    * row/null/distinct counts and numeric min/max from ONE aggregate
    * job (schema-driven agg generation; the multi-distinct plans
    * through a single Expand+shuffle, not k scans). The first thing a
    * pipeline runs against an unknown 100 TB delivery. */
  val q110ProfileOrders = Q(
    "q110_profile_orders",
    """WITH m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(o_orderkey) AS BIGINT) AS nn1, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
      |    round(CAST(min(o_orderkey) AS DOUBLE), 4) AS mn1, round(CAST(max(o_orderkey) AS DOUBLE), 4) AS mx1,
      |    CAST(count(o_custkey) AS BIGINT) AS nn2, CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
      |    round(CAST(min(o_custkey) AS DOUBLE), 4) AS mn2, round(CAST(max(o_custkey) AS DOUBLE), 4) AS mx2,
      |    CAST(count(o_orderstatus) AS BIGINT) AS nn3, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
      |    CAST(count(o_totalprice) AS BIGINT) AS nn4, CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd4,
      |    round(min(o_totalprice), 4) AS mn4, round(max(o_totalprice), 4) AS mx4,
      |    CAST(count(o_orderdate) AS BIGINT) AS nn5, CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd5,
      |    CAST(count(o_orderpriority) AS BIGINT) AS nn6, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd6
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 'o_orderkey' AS column_name, n AS n_rows, n - nn1 AS n_nulls,
      |    nd1 AS n_distinct, mn1 AS min_num, mx1 AS max_num FROM m
      |  UNION ALL SELECT 'o_custkey', n, n - nn2, nd2, mn2, mx2 FROM m
      |  UNION ALL SELECT 'o_orderstatus', n, n - nn3, nd3, NULL, NULL FROM m
      |  UNION ALL SELECT 'o_totalprice', n, n - nn4, nd4, mn4, mx4 FROM m
      |  UNION ALL SELECT 'o_orderdate', n, n - nn5, nd5, NULL, NULL FROM m
      |  UNION ALL SELECT 'o_orderpriority', n, n - nn6, nd6, NULL, NULL FROM m)
      |ORDER BY column_name""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.profile(Tables.orders(spark, dir))
      .orderBy(col("column_name"))
  }

  /** Market-basket 2-itemsets (association mining): part pairs
    * co-purchased in the same order, with support and lift. Pair
    * generation is NARROW (r3 verdict item 4): one shuffle collapses
    * lineitem into per-order sorted distinct item arrays
    * (Baskets.baskets), then each basket emits its C(n,2) pairs via two
    * codegen'd explodes (Baskets.pairCounts) — pairs never pay a join
    * (the previous items⋈items self-join was semantically
    * basket-bounded but physically a full 600k-row SMJ: 15.7s warm).
    * Baskets above 64 distinct items are DROPPED before pair generation
    * (r7 verdict item 4: the unbounded C(n,2) was the classic
    * market-basket skew bomb — one 100k-item basket = 5×10⁹ rows from
    * one task); the oracle mirrors the cap, and the dropped count rides
    * the job as an observed metric. All three legs (pairs, singles,
    * total) hang off the same capped basket aggregate, so ReuseExchange
    * scans lineitem once. Lift's independence denominator rides a 1-row
    * total broadcast. */
  val q111BasketPairs = Q(
    "q111_basket_pairs",
    """WITH items0 AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |kept AS (SELECT ok FROM items0 GROUP BY ok HAVING count(*) <= 64),
      |items AS (SELECT i.ok, i.pk FROM items0 i JOIN kept k ON i.ok = k.ok),
      |pairs AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |singles AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY pk),
      |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items)
      |SELECT p.part_a, p.part_b, p.n_ab,
      |  round((p.n_ab * t.n_orders) / (CAST(sa.n AS DOUBLE) * sb.n), 4) AS lift
      |FROM pairs p
      |JOIN singles sa ON p.part_a = sa.pk
      |JOIN singles sb ON p.part_b = sb.pk
      |CROSS JOIN tot t
      |WHERE p.n_ab >= 2
      |ORDER BY p.n_ab DESC, p.part_a, p.part_b
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    import graft.operators.Baskets
    // r15 perf: the basket table feeds THREE consumers (pairs, singles,
    // the order total) and each re-planned the lineitem distinct +
    // collect_list build. Order-grain rows with ≤64-item arrays —
    // bounded far below lineitem — so one lineage cut (q142/q198
    // discipline, guide §2.4).
    val baskets = Baskets.baskets(
      Tables.lineitem(spark, dir), key = "l_orderkey", item = "l_partkey",
      maxItems = 64, metricName = "graft.q111_baskets")
      .localCheckpoint()
    val pairs = Baskets.pairCounts(baskets)
    val singles = baskets.select(explode(col("pks")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
    val tot = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(singles.select(col("pk").as("part_a"), col("n").as("n_a")), "part_a")
      .join(singles.select(col("pk").as("part_b"), col("n").as("n_b")), "part_b")
      .crossJoin(broadcast(tot))
      .filter(col("n_ab") >= 2)
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round((col("n_ab") * col("n_orders")) /
          (col("n_a").cast("double") * col("n_b")), 4).as("lift"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** CDC upsert (MERGE INTO semantics, batch form): a deterministic
    * change feed — updates for odd custkeys (+100 acctbal, segment
    * 'MOVED') and inserts keyed past the base range — merges into the
    * customer snapshot via ONE full-outer join on the key;
    * change-precedence by column coalesce. Per-nation audit rollup.
    *
    * Scale shape: one key-keyed shuffle (or broadcast when the change
    * feed is small — left UNHINTED so AQE decides from the actual delta
    * size); no window, no second pass for the audit flags — they ride
    * the join row.
    */
  val q124UpsertMerge = Q(
    "q124_upsert_merge",
    """WITH updates AS (
      |  SELECT c_custkey AS k, c_nationkey AS nk, c_acctbal + 100 AS ab, 'MOVED' AS seg
      |  FROM customer WHERE c_custkey % 2 = 1),
      |inserts AS (
      |  SELECT c_custkey + 1000000 AS k, c_nationkey AS nk, 0.0 AS ab, 'NEW' AS seg
      |  FROM customer WHERE c_custkey % 10 = 0),
      |changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
      |merged AS (
      |  SELECT coalesce(b.c_nationkey, c.nk) AS nationkey,
      |    coalesce(c.ab, b.c_acctbal) AS acctbal,
      |    CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END AS ins,
      |    CASE WHEN b.c_custkey IS NOT NULL AND c.k IS NOT NULL THEN 1 ELSE 0 END AS upd
      |  FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.k)
      |SELECT nationkey, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(upd) AS BIGINT) AS n_updated,
      |  CAST(sum(ins) AS BIGINT) AS n_inserted,
      |  round(sum(acctbal), 2) + 0.0 AS total_acctbal
      |FROM merged GROUP BY nationkey ORDER BY nationkey""".stripMargin) { (spark, dir) =>
    val base = Tables.customer(spark, dir)
    val updates = base.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey").as("k"), col("c_nationkey").as("nk"),
        (col("c_acctbal") + 100).as("ab"), lit("MOVED").as("seg"))
    val inserts = base.filter(col("c_custkey") % 10 === 0)
      .select((col("c_custkey") + 1000000).as("k"), col("c_nationkey").as("nk"),
        lit(0.0).as("ab"), lit("NEW").as("seg"))
    val changes = updates.unionByName(inserts)
    base.join(changes, base("c_custkey") === changes("k"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("nk")).as("nationkey"),
        coalesce(col("ab"), col("c_acctbal")).as("acctbal"),
        when(col("c_custkey").isNull, 1L).otherwise(0L).as("ins"),
        when(col("c_custkey").isNotNull && col("k").isNotNull, 1L).otherwise(0L).as("upd"))
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n_rows"), sum(col("upd")).as("n_updated"),
        sum(col("ins")).as("n_inserted"),
        Q.noNegZero(round(sum(col("acctbal")), 2)).as("total_acctbal"))
      .orderBy(col("nationkey"))
  }

  /** Incremental aggregate maintenance (IVM): a pre-aggregated snapshot
    * (orders before the cut date) plus a delta-period partial aggregate
    * merge by summing PARTIALS — count and sum are mergeable, so the
    * refresh shuffle carries one row per touched key, never raw delta
    * rows, and the snapshot side never rescans history at refresh time.
    * The ORACLE is the full recompute over all orders: the hash match IS
    * the proof that the incremental path maintains the view exactly.
    */
  val q125IncrementalAgg = Q(
    "q125_incremental_agg",
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total_spend
      |FROM orders GROUP BY o_custkey
      |ORDER BY total_spend DESC, o_custkey LIMIT 20""".stripMargin) { (spark, dir) =>
    val cut = "1997-01-01"
    val orders = Tables.orders(spark, dir)
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"))
    val snapshot = partial(orders.filter(col("o_orderdate") < lit(cut)))
    val delta = partial(orders.filter(col("o_orderdate") >= lit(cut)))
    snapshot.unionByName(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("n")).as("n_orders"), round(sum(col("s")), 2).as("total_spend"))
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(20)
  }

  /** Interval-overlap join (Joins.intervalOverlapJoin): shipping
    * windows (per-lineitem, length scaled by line number) against a
    * sparse set of 7-day order windows, matched on the standard overlap
    * predicate. The ORACLE is the predicate itself — a plain inequality
    * join — while the engine side reaches the identical pair set through
    * the day-grid equi-join with the canonical-cell guard, the shape
    * that stays a hash join (AQE-splittable, no nested loop) when both
    * sides are fact-sized. Windows are synthesized deterministically
    * from shipped columns (lineitem carries only l_shipdate). */
  val q129IntervalOverlap = Q(
    "q129_interval_overlap",
    """WITH a AS (
      |  SELECT l_orderkey AS a_order, l_linenumber AS a_line,
      |    CAST(l_shipdate AS DATE) AS a_start,
      |    CAST(l_shipdate AS DATE) + l_linenumber * 3 AS a_end
      |  FROM lineitem WHERE l_suppkey <= 3),
      |b AS (
      |  SELECT o_orderkey AS b_order,
      |    CAST(o_orderdate AS DATE) AS b_start,
      |    CAST(o_orderdate AS DATE) + 6 AS b_end
      |  FROM orders WHERE o_orderkey % 199 = 0)
      |SELECT a_order, a_line, b_order,
      |  CAST(date_diff('day', greatest(a_start, b_start), least(a_end, b_end)) + 1
      |    AS INTEGER) AS overlap_days
      |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
      |ORDER BY a_order, a_line, b_order""".stripMargin) { (spark, dir) =>
    val a = Tables.lineitem(spark, dir).filter(col("l_suppkey") <= 3)
      .select(col("l_orderkey").as("a_order"), col("l_linenumber").as("a_line"),
        to_date(col("l_shipdate")).as("a_start"),
        date_add(to_date(col("l_shipdate")), col("l_linenumber") * 3).as("a_end"))
    val b = Tables.orders(spark, dir).filter(col("o_orderkey") % 199 === 0)
      .select(col("o_orderkey").as("b_order"),
        to_date(col("o_orderdate")).as("b_start"),
        date_add(to_date(col("o_orderdate")), 6).as("b_end"))
    graft.operators.Joins.intervalOverlapJoin(
        a, b, "a_start", "a_end", "b_start", "b_end", bucketDays = 14)
      .select(col("a_order"), col("a_line"), col("b_order"), col("overlap_days"))
      .orderBy(col("a_order"), col("a_line"), col("b_order"))
  }

  /** Quantile-sketch geometry for q134: cents from 0 in $1000-wide bins,
    * 128 bins — covers l_extendedprice's ~$90k ceiling with slack, so
    * the edge-bin clamp never fires on the data and the guarantee is
    * error ≤ width/2 = $500. */
  private val QsLo = 0L
  private val QsWidth = 100000L
  private val QsBins = 128

  /** Sketched grouped quantiles (p50/p90/p99 of line price per return
    * flag) via the mergeable histogram sketch — the SCALE form of q14's
    * exact percentiles: state is [[QsBins]] longs per group with
    * map-side combine, where the exact aggregate shuffles value-scale
    * data. Bin and rank arithmetic are integer end-to-end (midpoint
    * estimates), so the ORACLE replays the sketch exactly — the q96
    * count-min property applied to quantiles — while
    * QuantileSketchSpec holds the |est − exact| ≤ width/2 guarantee
    * against q14-style exact percentiles. */
  val q134SketchedQuantiles = Q(
    "q134_sketched_quantiles",
    s"""WITH v AS (
       |  SELECT l_returnflag AS flag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
       |  FROM lineitem),
       |b AS (
       |  SELECT flag,
       |    least(greatest((cents - $QsLo) // $QsWidth, 0), ${QsBins - 1}) AS bin,
       |    count(*) AS cnt
       |  FROM v GROUP BY 1, 2),
       |c AS (
       |  SELECT flag, bin, cnt,
       |    sum(cnt) OVER (PARTITION BY flag ORDER BY bin) AS cum,
       |    sum(cnt) OVER (PARTITION BY flag) AS n
       |  FROM b)
       |SELECT flag,
       |  CAST(min(CASE WHEN cum >= ceil(0.5 * n)
       |    THEN bin * $QsWidth + ${QsWidth / 2} END) AS BIGINT) AS p50,
       |  CAST(min(CASE WHEN cum >= ceil(0.9 * n)
       |    THEN bin * $QsWidth + ${QsWidth / 2} END) AS BIGINT) AS p90,
       |  CAST(min(CASE WHEN cum >= ceil(0.99 * n)
       |    THEN bin * $QsWidth + ${QsWidth / 2} END) AS BIGINT) AS p99
       |FROM c GROUP BY flag ORDER BY flag""".stripMargin) { (spark, dir) =>
    import graft.functions.QuantileSketch
    val sk = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(QuantileSketch.sketch(
        round(col("l_extendedprice") * 100).cast("long"),
        QsLo, QsWidth, QsBins).as("bins"))
    // the walk over the finished sketch is flag-count × nBins rows —
    // driver-trivial, expressed relationally so it runs wherever the
    // sketch landed
    val ex = sk.select(col("flag"), posexplode(col("bins")).as(Seq("bin", "cnt")))
    val byFlag = Window.partitionBy("flag")
    val c = ex
      .withColumn("cum", sum("cnt").over(byFlag.orderBy("bin")))
      .withColumn("n", sum("cnt").over(byFlag))
    def est(q: Double) = min(when(col("cum") >= ceil(lit(q) * col("n")),
      col("bin") * QsWidth + QsWidth / 2))
    c.groupBy(col("flag"))
      .agg(est(0.5).as("p50"), est(0.9).as("p90"), est(0.99).as("p99"))
      .orderBy(col("flag"))
  }

  /** Snapshot diff (Diff.snapshotDiff): audit what changed between two
    * versions of the orders table — the read side of the CDC surface
    * (q124 writes versions; this catches silent regressions between
    * them). The "next version" is derived deterministically from orders
    * itself in BOTH dialects: keys ≡ 0 mod 101 dropped (removed),
    * prices bumped for keys ≡ 0 mod 97 (changed), synthetic negative
    * keys added for keys ≡ 0 mod 103 (added). One full-outer key join +
    * a narrow null-safe status expression; integer counts only. */
  val q135SnapshotDiff = Q(
    "q135_snapshot_diff",
    """WITH v1 AS (
      |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS st
      |  FROM orders),
      |v2 AS (
      |  SELECT k,
      |    CASE WHEN k % 97 = 0 THEN price + 1 ELSE price END AS price, st
      |  FROM v1 WHERE k % 101 <> 0
      |  UNION ALL
      |  SELECT -k, price, st FROM v1 WHERE k % 103 = 0),
      |d AS (
      |  SELECT CASE WHEN v1.k IS NULL THEN 'added'
      |              WHEN v2.k IS NULL THEN 'removed'
      |              WHEN v1.price IS DISTINCT FROM v2.price
      |                OR v1.st IS DISTINCT FROM v2.st THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
      |SELECT status, CAST(count(*) AS BIGINT) AS n
      |FROM d GROUP BY status ORDER BY status""".stripMargin) { (spark, dir) =>
    import graft.operators.Diff
    val v1 = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_totalprice").as("price"),
      col("o_orderstatus").as("st"))
    val v2 = v1.filter(col("k") % 101 =!= 0)
      .withColumn("price",
        when(col("k") % 97 === 0, col("price") + 1).otherwise(col("price")))
      .unionByName(v1.filter(col("k") % 103 === 0)
        .select((-col("k")).as("k"), col("price"), col("st")))
    Diff.snapshotDiff(v1, v2, "k", Seq("price", "st"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  /** Per-(nation, month) order revenue `m(n_name, x, y)` of q145/q152:
    * x counts months from 1995-01, y is the exact BIGINT sum of order
    * totals in cents. [[monthlyRevenueSince1995Cte]] is the DuckDB twin. */
  private def monthlyRevenueSince1995(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("x"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))

  private def monthlyRevenueSince1995Cte: String =
    """m AS (
      |  SELECT n_name,
      |    (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS x,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Per-(nation, month) order revenue `m(n_name, x, y)` of the series
    * family q170/q171/q174/q183/q187: x counts months from 1992-01, y is
    * the exact BIGINT sum of order totals rounded per order to cents
    * (`cents`) or to whole dollars. [[monthlyRevenueSince1992Cte]] is the
    * DuckDB twin. */
  private def monthlyRevenueSince1992(spark: org.apache.spark.sql.SparkSession,
      dir: String, cents: Boolean): org.apache.spark.sql.DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .as("x"))
      .agg(sum(round(
          if (cents) col("o_totalprice") * 100 else col("o_totalprice"))
        .cast("long")).as("y"))

  private def monthlyRevenueSince1992Cte(cents: Boolean): String =
    s"""m AS (
       |  SELECT n_name,
       |    (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS x,
       |    CAST(sum(CAST(round(${if (cents) "o_totalprice * 100" else "o_totalprice"}) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  GROUP BY 1, 2)""".stripMargin

  /** Grouped OLS trend — per-nation monthly-revenue slope/intercept, the
    * analytics-engine regression staple done the way a 100 TB engine
    * should: the regression is DERIVED IN CLOSED FORM from mergeable
    * integer sufficient statistics (n, Σx, Σy, Σxy, Σx²), so the whole
    * query is two partial-aggregated hash shuffles (order×month rollup,
    * then 25 nation rows) and zero value-scale data ever moves — where
    * a naive per-group fit would collect series to the driver. Exactness
    * contract: x is a small month index, y is integer CENTS (the
    * q131/q134 trick), so every sufficient statistic is an
    * order-independent BIGINT; the only floats are the final slope and
    * intercept, computed by an IDENTICAL double expression over those
    * exact integers in both dialects (same IEEE ops on the same inputs
    * → bit-equal, then rounded 4dp). Spark's own regr_slope/regr_intercept
    * aggregate floats incrementally (summation-order-dependent) — the
    * sufficient-statistics form is what actually hash-gates. */
  val q145RevenueTrend = Q(
    "q145_revenue_trend",
    s"""WITH $monthlyRevenueSince1995Cte,
      |s AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM m GROUP BY n_name)
      |SELECT n_name, n AS n_months,
      |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4) + 0.0 AS slope_cents,
      |  round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n, 4) + 0.0
      |    AS icept_cents
      |FROM s ORDER BY n_name""".stripMargin) { (spark, dir) =>
    val m = monthlyRevenueSince1995(spark, dir)
    val s = m.groupBy(col("n_name")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast("long") * col("y")).as("sxy"),
      sum(col("x").cast("long") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val slope = (nD * col("sxy") - sxD * col("sy")) / (nD * col("sxx") - sxD * col("sx"))
    s.select(col("n_name"), col("n").as("n_months"),
        Q.noNegZero(round(slope, 4)).as("slope_cents"),
        Q.noNegZero(round((col("sy").cast("double") - slope * col("sx")) / col("n"), 4))
          .as("icept_cents"))
      .orderBy(col("n_name"))
  }

  /** Seasonal-naive forecast BACKTEST — the eval face of q06's forecast
    * family: predict month m's per-nation revenue with month m−12's
    * (the standard naive baseline every real forecaster must beat),
    * score MAPE + bias per nation. Same exactness discipline as q145:
    * the monthly series is integer CENTS, the prediction join is an
    * equi-join on (nation, x = x+12) over the ~|nations|×|months| rollup
    * — the backtest costs nothing at any corpus size because it runs on
    * the aggregate, never the facts. */
  val q152ForecastBacktest = Q(
    "q152_forecast_backtest",
    s"""WITH $monthlyRevenueSince1995Cte,
      |j AS (
      |  SELECT c.n_name, c.y AS actual, p.y AS pred
      |  FROM m c JOIN m p ON c.n_name = p.n_name AND c.x = p.x + 12)
      |SELECT n_name, CAST(count(*) AS BIGINT) AS n_months,
      |  round(avg(abs(actual - pred) / CAST(actual AS DOUBLE)), 4) AS mape,
      |  round(sum(pred - actual) / CAST(sum(actual) AS DOUBLE), 4) + 0.0 AS bias
      |FROM j GROUP BY n_name ORDER BY n_name""".stripMargin) { (spark, dir) =>
    val m = monthlyRevenueSince1995(spark, dir)
    val c = m.select(col("n_name"), col("x"), col("y").as("actual"))
    val p = m.select(col("n_name").as("pn"), (col("x") + 12).as("px"), col("y").as("pred"))
    c.join(p, col("n_name") === col("pn") && col("x") === col("px"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_months"),
        round(avg(abs(col("actual") - col("pred")) / col("actual").cast("double")), 4)
          .as("mape"),
        Q.noNegZero(
          round(sum(col("pred") - col("actual")) / sum(col("actual")).cast("double"), 4))
          .as("bias"))
      .orderBy(col("n_name"))
  }

  /** Exact join-cardinality + skew forecast (`operators/JoinStats`) —
    * the diagnostic you run BEFORE a 100 TB join: collapse each side to
    * (key, count) with one partial-agg shuffle, forecast the all-pairs
    * self-join `c(c−1)/2` per key at KEY grain, and report the top-10
    * hottest keys with their exact share of the total. Everything is
    * BIGINT arithmetic over counts (integer DIV — the pair product of
    * consecutive integers is even); the one float, pct_of_total, is the
    * identical final division in both dialects. This is the
    * `saltedJoinIfSkewed` gate's measurement surfaced as a query: the
    * same numbers decide plain vs salted vs banded execution. */
  val q159JoinForecast = Q(
    "q159_join_forecast",
    """WITH c AS (
      |  SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM lineitem GROUP BY 1),
      |f AS (SELECT key, n_rows, n_rows * (n_rows - 1) // 2 AS pairs FROM c),
      |tot AS (SELECT CAST(sum(pairs) AS BIGINT) AS total FROM f)
      |SELECT key, n_rows, CAST(pairs AS BIGINT) AS pairs, t.total,
      |  round(CAST(pairs AS DOUBLE) * 100 / t.total, 4) AS pct_of_total
      |FROM f, tot t
      |ORDER BY pairs DESC, key LIMIT 10""".stripMargin) { (spark, dir) =>
    import graft.operators.JoinStats
    val forecast = JoinStats.selfJoinPairForecast(
      Tables.lineitem(spark, dir).select(col("l_partkey")), "l_partkey")
    JoinStats.hotKeys(forecast, "pairs", 10)
      .orderBy(col("pairs").desc, col("key"))
  }

  /** Benford first-digit conformance test — the classic forensic
    * screen for fabricated numeric data (Benford 1938; standard in
    * fraud/audit pipelines): per nation, compare the first-digit
    * distribution of order totals against log10(1 + 1/d) with a χ²
    * statistic. Digit counts are exact integers from one partial-agg
    * shuffle at (nation, digit) grain — ≤ 25×9 rows move — and the χ²
    * is one identical double expression over those counts. High χ²
    * flags nations whose totals don't follow the natural wide-range
    * distribution (synthetic data SHOULD flag — the test proves the
    * detector, not the data). */
  val q168BenfordDigits: Q = {
    // one χ² term per digit, assembled LEFT-TO-RIGHT in both dialects:
    // a sum() over 9 float terms would be summation-order-dependent;
    // a fixed 9-term expression is not
    def sqlTerm(d: Int) =
      s"(o$d - n * ln(1.0 + 1.0 / $d) / ln(10.0)) " +
        s"* (o$d - n * ln(1.0 + 1.0 / $d) / ln(10.0)) " +
        s"/ (n * ln(1.0 + 1.0 / $d) / ln(10.0))"
    val sqlCounts = (1 to 9).map(d =>
      s"CAST(sum(CASE WHEN digit = $d THEN 1 ELSE 0 END) AS BIGINT) AS o$d")
      .mkString(",\n      |    ")
    Q("q168_benford_digits",
      s"""WITH d AS (
         |  SELECT n_name,
         |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
         |      AS INT) AS digit
         |  FROM orders
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation ON n_nationkey = c_nationkey
         |  WHERE o_totalprice >= 1),
         |cnt AS (
         |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
         |    $sqlCounts
         |  FROM d GROUP BY 1)
         |SELECT n_name, n,
         |  round(${(1 to 9).map(sqlTerm).mkString(" + ")}, 4) AS chi2
         |FROM cnt ORDER BY n_name""".stripMargin) { (spark, dir) =>
      val digits = Tables.orders(spark, dir)
        .filter(col("o_totalprice") >= 1)
        .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("n_name"),
          substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
      val aggs = count(lit(1)).as("n") +:
        (1 to 9).map(d => sum(when(col("digit") === d, 1).otherwise(0))
          .cast("long").as(s"o$d"))
      val cnt = digits.groupBy(col("n_name")).agg(aggs.head, aggs.tail: _*)
      def term(d: Int) = {
        val exp = col("n") * log(lit(1.0) + lit(1.0) / d) / log(lit(10.0))
        (col(s"o$d") - exp) * (col(s"o$d") - exp) / exp
      }
      cnt.select(col("n_name"), col("n"),
          round((1 to 9).map(term).reduceLeft(_ + _), 4).as("chi2"))
        .orderBy(col("n_name"))
    }
  }

  /** CUSUM changepoint detection (Page 1954) on per-nation monthly
    * revenue — "when did the level shift" for the q145/q152 series
    * family. The textbook estimator is argmax_t (S_t − min_{i≤t} S_i)
    * over cumulative deviations from the mean; deviations are kept
    * INTEGER by scaling: dev_t = n·y_t − Σy (cents×months — no float
    * mean ever materializes), so both windows (running sum, running
    * min) and the argmax run on exact BIGINTs; the only float is the
    * final unit conversion back to dollars. Two nation-partitioned
    * windows over a months-grain rollup — the detection costs nothing
    * beyond the monthly aggregate at any corpus scale. */
  val q170CusumChangepoint = Q(
    "q170_cusum_changepoint",
    s"""WITH ${monthlyRevenueSince1992Cte(cents = true)},
      |t AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS tot
      |  FROM m GROUP BY 1),
      |c AS (
      |  SELECT m.n_name, m.x, t.n,
      |    CAST(sum(m.y * t.n - t.tot) OVER (PARTITION BY m.n_name ORDER BY m.x)
      |      AS BIGINT) AS s
      |  FROM m JOIN t USING (n_name)),
      |cp AS (
      |  SELECT n_name, x, n,
      |    s - min(s) OVER (PARTITION BY n_name ORDER BY x) AS cusum
      |  FROM c),
      |r AS (
      |  SELECT n_name, x, n, cusum,
      |    row_number() OVER (PARTITION BY n_name
      |      ORDER BY cusum DESC, x) AS rk
      |  FROM cp)
      |SELECT n_name, CAST(x AS INT) AS change_month,
      |  CAST(cusum AS BIGINT) AS cusum_units,
      |  round(CAST(cusum AS DOUBLE) / n / 100, 4) + 0.0 AS cusum_dollars
      |FROM r WHERE rk = 1 ORDER BY n_name""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val m = monthlyRevenueSince1992(spark, dir, cents = true)
    val t = m.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("tot"))
    val byNation = Window.partitionBy(col("n_name")).orderBy(col("x"))
    m.join(t, "n_name")
      .withColumn("s", sum(col("y") * col("n") - col("tot")).over(byNation))
      .withColumn("cusum", col("s") - min(col("s")).over(byNation))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("n_name")).orderBy(col("cusum").desc, col("x"))))
      .filter(col("rk") === 1)
      .select(col("n_name"), col("x").cast("int").as("change_month"),
        col("cusum").as("cusum_units"),
        Q.noNegZero(round(col("cusum").cast("double") / col("n") / 100, 4))
          .as("cusum_dollars"))
      .orderBy(col("n_name"))
  }

  /** Classical additive seasonal decomposition (the moving-average
    * core of STL's ancestor, Macaulay 1931): per-nation monthly
    * revenue splits into trend (centered 2×12 moving average — the
    * standard even-window centering: (y₋₆ + 2Σ₋₅..₊₅ + y₊₆)/24) and a
    * month-of-year seasonal index (mean detrended deviation). The
    * decomposition stays INTEGER end to end by scaling: detrended
    * dev = 24·y − N where N is the integer MA numerator, and the
    * seasonal mean keeps Σdev and count separate until one final
    * division — no float mean, no float window, nothing
    * order-dependent. Three nation-partitioned windows at month grain;
    * edge months without a full centered window are excluded (the
    * textbook treatment). The window is gated on CALENDAR CONTINUITY,
    * not just row count: row-offset frames over a series with a
    * missing (nation, month) would silently average the wrong calendar
    * months — both engines the same way, which the hash gate can't
    * catch — so a month only decomposes when lag(x,6) = x−6 AND
    * lead(x,6) = x+6 (x strictly increasing makes those two endpoint
    * checks force all 13 months present — pigeonhole). */
  val q171SeasonalDecompose = Q(
    "q171_seasonal_decompose",
    s"""WITH ${monthlyRevenueSince1992Cte(cents = true)},
      |w AS (
      |  SELECT n_name, x, y,
      |    lag(y, 6) OVER nw AS l6, lead(y, 6) OVER nw AS f6,
      |    lag(x, 6) OVER nw AS lx6, lead(x, 6) OVER nw AS fx6,
      |    sum(y) OVER (PARTITION BY n_name ORDER BY x
      |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS s11
      |  FROM m WINDOW nw AS (PARTITION BY n_name ORDER BY x)),
      |-- lx6 = x-6 AND fx6 = x+6 gates on CALENDAR continuity: x is
      |-- strictly increasing per nation, so the endpoint equalities
      |-- force all 13 months of the centered window present (a bare
      |-- 11-row count would accept gapped series and average the wrong
      |-- calendar months in both engines identically)
      |d AS (
      |  SELECT n_name, x % 12 AS moy, 24 * y - (l6 + f6 + 2 * s11) AS dev
      |  FROM w WHERE lx6 = x - 6 AND fx6 = x + 6),
      |g AS (
      |  SELECT n_name, moy, CAST(count(*) AS BIGINT) AS n_obs,
      |    CAST(sum(dev) AS BIGINT) AS dev_units
      |  FROM d GROUP BY 1, 2),
      |-- round-half-away ON THE INTEGER GRID: float round(x, 4) flakes
      |-- when the rational sits on a .00005 boundary (seen at sf0.01);
      |-- integer arithmetic cannot
      |e AS (
      |  SELECT n_name, moy, n_obs, dev_units,
      |    CASE WHEN dev_units >= 0
      |      THEN (2 * dev_units * 10000 + 2400 * n_obs) // (2 * 2400 * n_obs)
      |      ELSE -((2 * (-dev_units) * 10000 + 2400 * n_obs) // (2 * 2400 * n_obs))
      |    END AS seasonal_e4
      |  FROM g)
      |SELECT n_name, CAST(moy AS INT) AS moy, n_obs, dev_units,
      |  CAST(seasonal_e4 AS BIGINT) AS seasonal_e4,
      |  CAST(seasonal_e4 AS DOUBLE) / 10000 AS seasonal_dollars
      |FROM e ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val m = monthlyRevenueSince1992(spark, dir, cents = true)
    val nw = Window.partitionBy(col("n_name")).orderBy(col("x"))
    val c11 = nw.rowsBetween(-5, 5)
    m.withColumn("l6", lag(col("y"), 6).over(nw))
      .withColumn("f6", lead(col("y"), 6).over(nw))
      .withColumn("lx6", lag(col("x"), 6).over(nw))
      .withColumn("fx6", lead(col("x"), 6).over(nw))
      .withColumn("s11", sum(col("y")).over(c11))
      // calendar-continuity gate, not row count — see oracle comment
      .filter(col("lx6") === col("x") - 6 && col("fx6") === col("x") + 6)
      .select(col("n_name"), (col("x") % 12).as("moy"),
        (lit(24) * col("y") - (col("l6") + col("f6") + lit(2) * col("s11")))
          .as("dev"))
      .groupBy(col("n_name"), col("moy"))
      .agg(count(lit(1)).as("n_obs"), sum(col("dev")).as("dev_units"))
      // round-half-away on the integer grid (see oracle comment): the
      // float round(x, 4) boundary flake is structural, not noise
      .withColumn("seasonal_e4", expr(
        """CASE WHEN dev_units >= 0
          |  THEN (2 * dev_units * 10000 + 2400 * n_obs) div (2 * 2400 * n_obs)
          |  ELSE -((2 * (-dev_units) * 10000 + 2400 * n_obs) div (2 * 2400 * n_obs))
          |END""".stripMargin))
      .select(col("n_name"), col("moy").cast("int").as("moy"), col("n_obs"),
        col("dev_units"), col("seasonal_e4"),
        (col("seasonal_e4").cast("double") / 10000).as("seasonal_dollars"))
      .orderBy(col("n_name"), col("moy"))
  }

  /** Unrolled relational twin of `HilbertExpr.index`: one CTE per bit
    * level carrying (x, y, d) rotation state — the kcore/q131
    * bounded-rounds oracle pattern applied to a bit loop. */
  private def hilbertSqlChain(bits: Int): String =
    (0 until bits).map { i =>
      val s = 1L << (bits - 1 - i)
      s"""h${i + 1} AS (
         |  SELECT px, py,
         |    d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |                       CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d,
         |    CASE WHEN (y & $s) = 0
         |      THEN (CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END)
         |      ELSE x END AS x,
         |    CASE WHEN (y & $s) = 0
         |      THEN (CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END)
         |      ELSE y END AS y
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")

  /** Hilbert-curve layout (`plans/HilbertExpr`, native codegen) vs
    * Z-order, measured: both curves bucket the same 8-bit
    * (partkey, suppkey) grid into 16 range buckets, and each bucket
    * reports its row count and bounding-box area — the min/max-stats
    * selectivity a lakehouse file would have under that layout.
    * Hilbert's claim (why Delta/Iceberg offer it over Morton) is
    * tighter boxes: no curve "seams", consecutive positions always
    * grid-adjacent. The areas are exact integers, so the comparison is
    * hash-gated, not vibes; the oracle replays the 8-level rotation
    * loop as an unrolled CTE chain. */
  val q172HilbertLayout = Q(
    "q172_hilbert_layout",
    s"""WITH pts AS (
       |  SELECT CAST(l_partkey & 255 AS BIGINT) AS px,
       |         CAST(l_suppkey & 255 AS BIGINT) AS py FROM lineitem),
       |h0 AS (SELECT px, py, px AS x, py AS y, CAST(0 AS BIGINT) AS d FROM pts),
       |${hilbertSqlChain(8)},
       |s1 AS (SELECT px, py, ((px | (px << 8)) & 16711935) AS x1,
       |                      ((py | (py << 8)) & 16711935) AS y1 FROM pts),
       |s2 AS (SELECT px, py, ((x1 | (x1 << 4)) & 252645135) AS x2,
       |                      ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1),
       |s3 AS (SELECT px, py, ((x2 | (x2 << 2)) & 858993459) AS x3,
       |                      ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
       |s4 AS (SELECT px, py, ((x3 | (x3 << 1)) & 1431655765) AS x4,
       |                      ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3),
       |curves AS (
       |  SELECT 'hilbert' AS curve, px, py, d AS v FROM h8
       |  UNION ALL
       |  SELECT 'zorder', px, py, x4 | (y4 << 1) FROM s4),
       |mx AS (SELECT curve, max(v) AS vmax FROM curves GROUP BY 1),
       |b AS (
       |  SELECT c.curve, CAST(c.v * 16 // (m.vmax + 1) AS INT) AS bucket,
       |    c.px, c.py
       |  FROM curves c JOIN mx m ON m.curve = c.curve)
       |SELECT curve, bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST((max(px) - min(px) + 1) * (max(py) - min(py) + 1) AS BIGINT)
       |    AS bbox_area
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import graft.operators.ZOrder
    import graft.plans.HilbertExpr
    val pts = Tables.lineitem(spark, dir).select(
      col("l_partkey").bitwiseAND(lit(255)).cast("long").as("px"),
      col("l_suppkey").bitwiseAND(lit(255)).cast("long").as("py"))
    val curves = pts.select(lit("hilbert").as("curve"), col("px"), col("py"),
        HilbertExpr.hilbertIndex(col("px"), col("py")).as("v"))
      .unionAll(pts.select(lit("zorder").as("curve"), col("px"), col("py"),
        ZOrder.zValue2(col("px"), col("py")).as("v")))
    // 2-row grouped max: no broadcast hint (audit trusts only provably
    // bounded subtrees); AQE broadcasts it by size at runtime
    val mx = curves.groupBy(col("curve")).agg(max(col("v")).as("vmax"))
    curves.join(mx, "curve")
      .withColumn("bucket", expr("CAST((v * 16) DIV (vmax + 1) AS INT)"))
      .groupBy(col("curve"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        ((max(col("px")) - min(col("px")) + 1)
          * (max(col("py")) - min(col("py")) + 1)).as("bbox_area"))
      .orderBy(col("curve"), col("bucket"))
  }

  /** Theil–Sen robust trend (Theil 1950; Sen 1968) — the median of all
    * pairwise slopes, the outlier-immune companion to q145's OLS (one
    * wild month bends a least-squares line; it cannot move a slope
    * median). The pair set lives at MONTHS grain — ≤ C(84,2) ≈ 3.5k
    * pairs per nation regardless of corpus size, so the "quadratic"
    * estimator is corpus-size-free by construction. Slopes are
    * identical integer-cents-over-integer-months divisions; the median
    * comes from an in-row sorted array (collect_list is order-
    * dependent, sort_array makes it total), averaging the two middles
    * for even counts exactly as the oracle's median() does. */
  val q174TheilSen = Q(
    "q174_theil_sen",
    s"""WITH ${monthlyRevenueSince1992Cte(cents = true)},
      |p AS (
      |  SELECT a.n_name, (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM m a JOIN m b ON a.n_name = b.n_name AND a.x < b.x),
      |s AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_pairs,
      |    median(slope) AS med
      |  FROM p GROUP BY 1)
      |SELECT n_name, n_pairs, round(med / 100, 6) + 0.0 AS ts_slope_dollars
      |FROM s ORDER BY n_name""".stripMargin) { (spark, dir) =>
    val m = monthlyRevenueSince1992(spark, dir, cents = true)
    val a = m.select(col("n_name"), col("x").as("ax"), col("y").as("ay"))
    val b = m.select(col("n_name").as("bn"), col("x").as("bx"), col("y").as("by"))
    a.join(b, col("n_name") === col("bn") && col("ax") < col("bx"))
      .select(col("n_name"),
        ((col("by") - col("ay")) / (col("bx") - col("ax")).cast("double"))
          .as("slope"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list(col("slope"))).as("sl"))
      .withColumn("n", size(col("sl")))
      .withColumn("med", when(col("n") % 2 === 1,
          element_at(col("sl"), expr("CAST((n + 1) div 2 AS INT)")))
        .otherwise((element_at(col("sl"), expr("CAST(n div 2 AS INT)"))
          + element_at(col("sl"), expr("CAST(n div 2 + 1 AS INT)"))) / 2))
      .select(col("n_name"), col("n_pairs"),
        Q.noNegZero(round(col("med") / 100, 6)).as("ts_slope_dollars"))
      .orderBy(col("n_name"))
  }

  /** Record linkage / entity resolution (Fellegi & Sunter 1969 — the
    * canonical probabilistic matcher behind every MDM/dedup-people
    * system): a dirty copy of every 7th customer (last name char
    * dropped, one phone digit flipped) must link back to its source.
    * Candidate pairs come ONLY from blocking on (nationkey, first 8
    * name digits) — block sizes are ~10 by construction, so pair
    * volume is linear in customers, never C(n,2). Each field
    * comparison contributes a FIXED INTEGER log-likelihood weight
    * (ln(m/u) on a 1e-3 grid, precomputed constants: agreement
    * evidence positive, disagreement negative; name has a fuzzy
    * prefix-agreement level, the F-S treatment of typos), so the score
    * is pure integer addition and the match threshold is exact. True
    * pairs clear the bar on phone-disagree + name-prefix + balance +
    * segment evidence; same-block strangers score deeply negative. */
  val q175RecordLinkage = Q(
    "q175_record_linkage",
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |    lpad(CAST(c_custkey * 7919 % 100000000 AS VARCHAR), 8, '0') AS ph
      |  FROM customer),
      |dirty AS (
      |  SELECT c_custkey + 1000000 AS id,
      |    substr(c_name, 1, length(c_name) - 1) AS name,
      |    concat(substr(ph, 1, 3), '9', substr(ph, 5)) AS phone,
      |    c_nationkey AS nk, CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
      |    c_mktsegment AS seg
      |  FROM base WHERE c_custkey % 7 = 0),
      |clean AS (
      |  SELECT c_custkey AS id, c_name AS name, ph AS phone,
      |    c_nationkey AS nk, CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
      |    c_mktsegment AS seg
      |  FROM base),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |    CASE WHEN a.phone = b.phone THEN 6802 ELSE -2302 END
      |    + CASE WHEN a.name = b.name THEN 4554
      |           WHEN substr(a.name, 1, length(b.name)) = b.name
      |             OR substr(b.name, 1, length(a.name)) = a.name THEN 3000
      |           ELSE -2986 END
      |    + CASE WHEN a.bal = b.bal THEN 9105 ELSE -2303 END
      |    + CASE WHEN a.seg = b.seg THEN 1589 ELSE -3689 END AS score
      |  FROM clean a JOIN dirty b
      |    ON a.nk = b.nk
      |    AND substr(a.name, 10, 8) = substr(b.name, 10, 8))
      |SELECT id_a, id_b, CAST(score AS BIGINT) AS score
      |FROM pairs WHERE score >= 8000
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val cust = Tables.customer(spark, dir)
      .withColumn("ph",
        lpad((col("c_custkey") * 7919 % 100000000).cast("string"), 8, "0"))
    val clean = cust.select(col("c_custkey").as("id"), col("c_name").as("name"),
      col("ph").as("phone"), col("c_nationkey").as("nk"),
      round(col("c_acctbal") * 100).cast("long").as("bal"),
      col("c_mktsegment").as("seg"))
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") + 1000000).as("id"),
        expr("substr(c_name, 1, length(c_name) - 1)").as("name"),
        concat(substring(col("ph"), 1, 3), lit("9"),
          expr("substr(ph, 5)")).as("phone"),
        col("c_nationkey").as("nk"),
        round(col("c_acctbal") * 100).cast("long").as("bal"),
        col("c_mktsegment").as("seg"))
    val a = clean.select(col("id").as("id_a"), col("name").as("na"),
      col("phone").as("pa"), col("nk").as("nka"), col("bal").as("ba"),
      col("seg").as("sa"))
    val b = dirty.select(col("id").as("id_b"), col("name").as("nb"),
      col("phone").as("pb"), col("nk").as("nkb"), col("bal").as("bb"),
      col("seg").as("sb"))
    a.join(b, col("nka") === col("nkb") &&
        expr("substr(na, 10, 8)") === expr("substr(nb, 10, 8)"))
      .withColumn("score",
        when(col("pa") === col("pb"), 6802).otherwise(-2302)
        + when(col("na") === col("nb"), 4554)
          .when(expr("substr(na, 1, length(nb))") === col("nb")
            || expr("substr(nb, 1, length(na))") === col("na"), 3000)
          .otherwise(-2986)
        + when(col("ba") === col("bb"), 9105).otherwise(-2303)
        + when(col("sa") === col("sb"), 1589).otherwise(-3689))
      .filter(col("score") >= 8000)
      .select(col("id_a"), col("id_b"), col("score").cast("long").as("score"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** One-way ANOVA F (Fisher) across nations' order totals — the
    * k-group generalization of q147's Welch pair test, from the same
    * mergeable integer sufficient statistics (n, Σx, Σx² per group in
    * DOLLAR units: Σx² stays ~25× under 2⁶³ at sf0.1 per the scaladoc
    * bound). The between-group sum Σ s₁²/n is a FLOAT sum over k
    * groups, so each group's term is rounded onto the integer grid
    * BEFORE the aggregate (the q171 lesson as a reusable idiom:
    * identical per-group doubles → identical integers → an
    * order-independent BIGINT sum); F reconstitutes from exact
    * integers in one final expression. */
  val q181AnovaF = Q(
    "q181_anova_f",
    """WITH g AS (
      |  SELECT n_name AS grp, CAST(round(o_totalprice) AS BIGINT) AS c
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey),
      |s AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2,
      |    CAST(round(CAST(sum(c) AS DOUBLE) * sum(c) / count(*)) AS BIGINT) AS u
      |  FROM g GROUP BY 1),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
      |    CAST(sum(s1) AS BIGINT) AS s1t, CAST(sum(s2) AS BIGINT) AS s2t,
      |    CAST(sum(u) AS BIGINT) AS ut
      |  FROM s)
      |SELECT k, nn AS n,
      |  CAST(ut - CAST(round(CAST(s1t AS DOUBLE) * s1t / nn) AS BIGINT)
      |    AS BIGINT) AS ssb_units,
      |  CAST(s2t - ut AS BIGINT) AS ssw_units,
      |  round((CAST(ut AS DOUBLE) - round(CAST(s1t AS DOUBLE) * s1t / nn))
      |    / (k - 1) / ((CAST(s2t AS DOUBLE) - ut) / (nn - k)), 4) + 0.0 AS f_stat
      |FROM t""".stripMargin) { (spark, dir) =>
    val g = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name").as("grp"),
        round(col("o_totalprice")).cast("long").as("c"))
    val s = g.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .withColumn("u",
        round(col("s1").cast("double") * col("s1") / col("n")).cast("long"))
    val t = s.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("s1")).as("s1t"), sum(col("s2")).as("s2t"), sum(col("u")).as("ut"))
    t.select(col("k"), col("nn").as("n"),
      (col("ut") - round(col("s1t").cast("double") * col("s1t") / col("nn"))
        .cast("long")).as("ssb_units"),
      (col("s2t") - col("ut")).as("ssw_units"),
      Q.noNegZero(round((col("ut").cast("double")
          - round(col("s1t").cast("double") * col("s1t") / col("nn")))
        / (col("k") - 1)
        / ((col("s2t").cast("double") - col("ut")) / (col("nn") - col("k"))), 4))
        .as("f_stat"))
  }

  /** Chi-square test of independence (mktsegment × nation contingency)
    * — "is customer segment independent of nation", the categorical
    * companion to q181. The cell sum Σ(obs−exp)²/exp runs over ~125
    * float terms whose aggregation order no engine guarantees, so each
    * CELL's term is quantized to the 1e-6 integer grid first (identical
    * double per cell → identical integer → order-independent BIGINT
    * sum) — the generalizable fix for "χ² over grouped cells" that
    * q168's fixed-digit case could solve by expression ordering and
    * this variable-cardinality case cannot. */
  val q182ChiSqIndependence = Q(
    "q182_chisq_independence",
    """WITH cells AS (
      |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
      |    CAST(count(*) AS BIGINT) AS obs
      |  FROM customer GROUP BY 1, 2),
      |rt AS (SELECT seg, CAST(sum(obs) AS BIGINT) AS r FROM cells GROUP BY 1),
      |ct AS (SELECT nat, CAST(sum(obs) AS BIGINT) AS c FROM cells GROUP BY 1),
      |n AS (SELECT CAST(sum(obs) AS BIGINT) AS nn FROM cells),
      |terms AS (
      |  SELECT CAST(round(
      |      (cells.obs - CAST(rt.r AS DOUBLE) * ct.c / n.nn)
      |      * (cells.obs - CAST(rt.r AS DOUBLE) * ct.c / n.nn)
      |      / (CAST(rt.r AS DOUBLE) * ct.c / n.nn) * 1000000) AS BIGINT) AS tu
      |  FROM cells JOIN rt USING (seg) JOIN ct USING (nat) CROSS JOIN n),
      |agg AS (
      |  SELECT CAST(sum(tu) AS BIGINT) AS chi2_units,
      |    CAST(count(*) AS BIGINT) AS n_cells
      |  FROM terms)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS k_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM ct) AS k_cols,
      |  (SELECT nn FROM n) AS n, n_cells, chi2_units,
      |  round(CAST(chi2_units AS DOUBLE) / 1000000, 4) AS chi2
      |FROM agg""".stripMargin) { (spark, dir) =>
    val cells = Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("obs"))
    val rt = cells.groupBy(col("seg")).agg(sum(col("obs")).as("r"))
    val ct = cells.groupBy(col("nat")).agg(sum(col("obs")).as("c"))
    val n = cells.agg(sum(col("obs")).as("nn"))
    val exp = col("r").cast("double") * col("c") / col("nn")
    val terms = cells.join(rt, "seg").join(ct, "nat").crossJoin(broadcast(n))
      .select(round((col("obs") - exp) * (col("obs") - exp) / exp * 1000000)
        .cast("long").as("tu"))
    val kRows = rt.agg(count(lit(1)).as("k_rows"))
    val kCols = ct.agg(count(lit(1)).as("k_cols"))
    terms.agg(sum(col("tu")).as("chi2_units"), count(lit(1)).as("n_cells"))
      .crossJoin(broadcast(kRows)).crossJoin(broadcast(kCols))
      .crossJoin(broadcast(n.select(col("nn").as("n"))))
      .select(col("k_rows"), col("k_cols"), col("n"), col("n_cells"),
        col("chi2_units"),
        round(col("chi2_units").cast("double") / 1000000, 4).as("chi2"))
  }

  /** Mann–Kendall trend test (Mann 1945; Kendall 1975) — the
    * significance companion to q174's Theil–Sen slope, and the one
    * trend test that is INTEGER-EXACT end to end: S = Σ sign(y_j −
    * y_i) over the same bounded months-grain pairs (an integer sum of
    * ±1/0), Var(S) = n(n−1)(2n+5)/18 (exact ×18 integer), and the
    * normal z-score is one final expression with the standard
    * continuity correction. |z| > 1.96 reads "monotone trend at 95%";
    * nothing float ever aggregates. */
  val q183MannKendall = Q(
    "q183_mann_kendall",
    s"""WITH ${monthlyRevenueSince1992Cte(cents = true)},
      |p AS (
      |  SELECT a.n_name,
      |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
      |  FROM m a JOIN m b ON a.n_name = b.n_name AND a.x < b.x),
      |s AS (
      |  SELECT n_name, CAST(sum(sgn) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM p GROUP BY 1),
      |nn AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1)
      |SELECT s.n_name, nn.n, s.s AS mk_s,
      |  CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) AS BIGINT) AS var18,
      |  round(CASE WHEN s.s > 0 THEN (s.s - 1)
      |             WHEN s.s < 0 THEN (s.s + 1)
      |             ELSE 0 END
      |    / sqrt(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0), 4) + 0.0 AS z
      |FROM s JOIN nn ON nn.n_name = s.n_name
      |ORDER BY s.n_name""".stripMargin) { (spark, dir) =>
    val m = monthlyRevenueSince1992(spark, dir, cents = true)
    val a = m.select(col("n_name"), col("x").as("ax"), col("y").as("ay"))
    val b = m.select(col("n_name").as("bn"), col("x").as("bx"), col("y").as("by"))
    val s = a.join(b, col("n_name") === col("bn") && col("ax") < col("bx"))
      .select(col("n_name"),
        when(col("by") > col("ay"), 1L).when(col("by") < col("ay"), -1L)
          .otherwise(0L).as("sgn"))
      .groupBy(col("n_name"))
      .agg(sum(col("sgn")).as("s"), count(lit(1)).as("n_pairs"))
    val nn = m.groupBy(col("n_name")).agg(count(lit(1)).as("n"))
    s.join(nn, "n_name")
      .select(col("n_name"), col("n"), col("s").as("mk_s"),
        (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)).as("var18"),
        Q.noNegZero(round(when(col("s") > 0, col("s") - 1)
            .when(col("s") < 0, col("s") + 1).otherwise(lit(0L))
          / sqrt(col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) / 18.0), 4))
          .as("z"))
      .orderBy(col("n_name"))
  }

  /** Gini concentration of per-customer revenue within each nation —
    * the "how skewed is my key distribution" primitive behind skew-join
    * planning (q57/q159) and sampling design, as a first-class statistic.
    * Uses the rank form G = (2·Σ i·xᵢ − (n+1)·Σx)/(n·Σx) over revenue
    * sorted ascending, which needs ONE windowed rank per nation — and the
    * window runs at CUSTOMER grain (the fact table has already collapsed
    * to per-customer cents via a partial-agg shuffle), so the per-nation
    * sort is over the dimension's cardinality, not the fact's. Everything
    * before the final division is integer: cents are BIGINT, the rank
    * product accumulates in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so a
    * 10⁹-customer nation can't overflow, and the tie order (revenue,
    * custkey) is total so the rank sum is deterministic — equal revenues
    * swap ranks but i·x sums identically over a tied block. */
  val q184GiniConcentration = Q(
    "q184_gini_concentration",
    """WITH rev AS (
      |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT n_name, x,
      |    row_number() OVER (PARTITION BY n_name ORDER BY x, o_custkey) AS i
      |  FROM rev
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey),
      |g AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
      |    CAST(sum(x) AS BIGINT) AS revenue_cents,
      |    sum(CAST(i AS HUGEINT) * x) AS six
      |  FROM ranked GROUP BY 1)
      |SELECT n_name, n_customers, revenue_cents,
      |  round((2 * CAST(six AS DOUBLE)
      |      - (CAST(n_customers AS DOUBLE) + 1) * CAST(revenue_cents AS DOUBLE))
      |    / (CAST(n_customers AS DOUBLE) * CAST(revenue_cents AS DOUBLE)), 6) + 0.0
      |    AS gini
      |FROM g ORDER BY n_name""".stripMargin) { (spark, dir) =>
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    val ranked = rev
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name"), col("x"),
        row_number().over(Window.partitionBy(col("n_name"))
          .orderBy(col("x"), col("o_custkey"))).as("i"))
    ranked.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).as("revenue_cents"),
        sum(col("i").cast("decimal(38,0)") * col("x")).as("six"))
      .select(col("n_name"), col("n_customers"), col("revenue_cents"),
        Q.noNegZero(round((lit(2) * col("six").cast("double")
            - (col("n_customers").cast("double") + 1) * col("revenue_cents").cast("double"))
          / (col("n_customers").cast("double") * col("revenue_cents").cast("double")), 6))
          .as("gini"))
      .orderBy(col("n_name"))
  }

  /** The (segment, order value in cents) histogram of the pre-1998 vs
    * 1998+ drift split: `c1` counts the earlier orders, `c2` the later
    * ones (q185/q199/q203/q205/q207/q210). [[segmentEraHistCtes]] is the
    * DuckDB twin (`j`, `d`). */
  private def segmentEraHist(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"),
        round(col("o_totalprice") * 100).cast("long").as("v"),
        when(year(col("o_orderdate")) < 1998, 1L).otherwise(0L).as("g"))
      .groupBy(col("c_mktsegment"), col("v"))
      .agg(sum(col("g")).as("c1"), sum(lit(1L) - col("g")).as("c2"))

  private def segmentEraHistCtes: String =
    """j AS (
      |  SELECT c_mktsegment, CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |    CASE WHEN year(o_orderdate) < 1998 THEN 1 ELSE 0 END AS g
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |d AS (
      |  SELECT c_mktsegment, v, CAST(sum(g) AS BIGINT) AS c1,
      |    CAST(sum(1 - g) AS BIGINT) AS c2
      |  FROM j GROUP BY 1, 2)""".stripMargin

  /** The (segment, order value in cents) histogram with one count `c`
    * (q197/q200). [[segmentValueCountsCtes]] is the DuckDB twin. */
  private def segmentValueCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .groupBy(col("c_mktsegment"), col("v"))
      .agg(count(lit(1)).as("c"))

  private def segmentValueCountsCtes: String =
    """j AS (
      |  SELECT c_mktsegment, CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |d AS (
      |  SELECT c_mktsegment, v, CAST(count(*) AS BIGINT) AS c
      |  FROM j GROUP BY 1, 2)""".stripMargin

  /** q185/q199's twin of the `Ecdf.groupedCumsum` step over the era
    * histogram `d`: per-segment totals `t(n1, n2)` and the cumulative
    * counts `c(a, b)` in value order. */
  private def segmentEraEcdfCtes: String =
    """t AS (
      |  SELECT c_mktsegment, CAST(sum(c1) AS BIGINT) AS n1,
      |    CAST(sum(c2) AS BIGINT) AS n2
      |  FROM d GROUP BY 1),
      |c AS (
      |  SELECT c_mktsegment,
      |    CAST(sum(c1) OVER (PARTITION BY c_mktsegment ORDER BY v) AS BIGINT) AS a,
      |    CAST(sum(c2) OVER (PARTITION BY c_mktsegment ORDER BY v) AS BIGINT) AS b
      |  FROM d)""".stripMargin

  /** Exact two-sample Kolmogorov–Smirnov drift test per market segment:
    * did the order-value distribution SHIFT between the pre-1998 and
    * 1998+ eras? (The distribution-level companion to q149's binned PSI
    * — KS sees shape changes PSI's fixed bins blur.) Exactness without a
    * single float until the end: at pooled value v, D's numerator is
    * |cnt₁(≤v)·n₂ − cnt₂(≤v)·n₁| — all BIGINTs — and only the final
    * D = max/(n₁·n₂) divides. Scale shape: the ECDF needs a cumulative
    * count in value order, which a per-segment window would serialize
    * into |segments| tasks; instead the q90 offset pattern runs it
    * DISTRIBUTED — range-partition (segment, value) 32 ways, per-slice
    * local cumsums, and a ≤ segments×32-row offset table (the only
    * global window) broadcast back to lift local sums to global ranks.
    * Input to all of it is the (segment, value)-grain distinct
    * aggregate, so shuffled bytes track distinct values, not rows. */
  val q185KsDrift = Q(
    "q185_ks_drift",
    s"""WITH $segmentEraHistCtes,
      |$segmentEraEcdfCtes
      |SELECT c_mktsegment, n1, n2,
      |  round(CAST(max(abs(a * n2 - b * n1)) AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * n2), 6) AS ks_d
      |FROM c JOIN t USING (c_mktsegment)
      |GROUP BY c_mktsegment, n1, n2
      |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    val d = segmentEraHist(spark, dir)
    // the distributed-ECDF offset pattern, factored (r9) into
    // Ecdf.groupedCumsum; per-segment totals ride the offset table
    // (tot_c1/tot_c2), so d has NO second consumer — a separate
    // groupBy(segment) total would re-plan the whole orders scan per
    // branch (not even AQE dedups it; see the Ecdf scaladoc)
    graft.operators.Ecdf
      .groupedCumsum(d, Seq("c_mktsegment"), "v", Seq("c1", "c2"))
      .select(col("c_mktsegment"), col("cum_c1").as("a"), col("cum_c2").as("b"),
        col("tot_c1").as("n1"), col("tot_c2").as("n2"))
      .groupBy(col("c_mktsegment"), col("n1"), col("n2"))
      .agg(max(abs(col("a") * col("n2") - col("b") * col("n1"))).as("dnum"))
      .select(col("c_mktsegment"), col("n1"), col("n2"),
        round(col("dnum").cast("double")
          / (col("n1").cast("double") * col("n2")), 6).as("ks_d"))
      .orderBy(col("c_mktsegment"))
  }

  /** Mutual information between market segment and order priority per
    * nation — the "are these two categoricals independent, and by how
    * many nats" measure feature-selection and leakage audits run over
    * label columns (the effect-size companion to q182's χ² p-value
    * framing). One shuffle to the (nation, segment, priority) contingency
    * grain (≤ 25×5×5 rows — partial agg collapses the fact table
    * map-side); marginals are windows OVER THE CELLS, not re-scans. Float
    * discipline: each cell's MI/entropy term is quantized to a 1e-9
    * integer grid before the per-nation sum (the q161 trick), so the only
    * float reduction is over exact BIGINTs and summation order can't
    * flake the hash; NMI = MI/√(H_seg·H_prio) then divides two such
    * quantized sums. */
  val q186MutualInformation = Q(
    "q186_mutual_information",
    """WITH cells AS (
      |  SELECT n_name, c_mktsegment AS sx, o_orderpriority AS sy,
      |    CAST(count(*) AS BIGINT) AS cxy
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT n_name, sx, sy, cxy,
      |    CAST(sum(cxy) OVER (PARTITION BY n_name, sx) AS BIGINT) AS cx,
      |    CAST(sum(cxy) OVER (PARTITION BY n_name, sy) AS BIGINT) AS cy,
      |    CAST(sum(cxy) OVER (PARTITION BY n_name) AS BIGINT) AS n
      |  FROM cells),
      |q AS (
      |  SELECT n_name, n,
      |    CAST(sum(CAST(round((CAST(cxy AS DOUBLE) / n)
      |      * ln(CAST(cxy AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)) * 1e9)
      |      AS BIGINT)) AS BIGINT) AS qmi,
      |    CAST(sum(CASE WHEN sy = min_sy THEN
      |      CAST(round(-(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n) * 1e9)
      |        AS BIGINT) ELSE 0 END) AS BIGINT) AS qhx,
      |    CAST(sum(CASE WHEN sx = min_sx THEN
      |      CAST(round(-(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n) * 1e9)
      |        AS BIGINT) ELSE 0 END) AS BIGINT) AS qhy
      |  FROM (SELECT m.*, min(sy) OVER (PARTITION BY n_name, sx) AS min_sy,
      |          min(sx) OVER (PARTITION BY n_name, sy) AS min_sx
      |        FROM m)
      |  GROUP BY 1, 2)
      |SELECT n_name, n, round(qmi / 1e9, 6) + 0.0 AS mi_nats,
      |  round(qhx / 1e9, 6) AS hx_nats, round(qhy / 1e9, 6) AS hy_nats,
      |  round(CAST(qmi AS DOUBLE) / sqrt(CAST(qhx AS DOUBLE) * qhy), 6) + 0.0 AS nmi
      |FROM q ORDER BY n_name""".stripMargin) { (spark, dir) =>
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment").as("sx"),
        col("o_orderpriority").as("sy"))
      .agg(count(lit(1)).as("cxy"))
    val byNation = Window.partitionBy(col("n_name"))
    val m = cells
      .withColumn("cx", sum(col("cxy")).over(byNation.partitionBy(col("n_name"), col("sx"))))
      .withColumn("cy", sum(col("cxy")).over(byNation.partitionBy(col("n_name"), col("sy"))))
      .withColumn("n", sum(col("cxy")).over(byNation))
      .withColumn("min_sy", min(col("sy")).over(byNation.partitionBy(col("n_name"), col("sx"))))
      .withColumn("min_sx", min(col("sx")).over(byNation.partitionBy(col("n_name"), col("sy"))))
    def grid(e: org.apache.spark.sql.Column) = round(e * 1e9).cast("long")
    m.groupBy(col("n_name"), col("n"))
      .agg(
        sum(grid((col("cxy").cast("double") / col("n"))
          * log(col("cxy").cast("double") * col("n")
            / (col("cx").cast("double") * col("cy"))))).as("qmi"),
        sum(when(col("sy") === col("min_sy"),
          grid(-(col("cx").cast("double") / col("n"))
            * log(col("cx").cast("double") / col("n")))).otherwise(0L)).as("qhx"),
        sum(when(col("sx") === col("min_sx"),
          grid(-(col("cy").cast("double") / col("n"))
            * log(col("cy").cast("double") / col("n")))).otherwise(0L)).as("qhy"))
      .select(col("n_name"), col("n"),
        Q.noNegZero(round(col("qmi") / 1e9, 6)).as("mi_nats"),
        round(col("qhx") / 1e9, 6).as("hx_nats"),
        round(col("qhy") / 1e9, 6).as("hy_nats"),
        Q.noNegZero(round(col("qmi").cast("double")
          / sqrt(col("qhx").cast("double") * col("qhy")), 6)).as("nmi"))
      .orderBy(col("n_name"))
  }

  /** Sample autocorrelation (ACF, lags 1-6) of each nation's monthly
    * revenue — the seasonality/persistence detector that tells the
    * q145/q171 trend family WHICH lags matter. Float discipline in three
    * exact steps: (1) deviations dev = n·y − Σy are BIGINT (no float
    * mean); (2) the variance denominator Σdev² accumulates in
    * DECIMAL(38,0)/HUGEINT so it is one exact integer both engines
    * round to the same double; (3) the standardized products z_t·z_{t+k}
    * are quantized to a 1e-12 grid before the per-(nation, lag) BIGINT
    * sum — no order-dependent float reduction anywhere. Lag pairing is a
    * time-shifted equi-join on (nation, month+k), not a row-offset
    * window, so calendar gaps can't silently misalign lags; the series
    * is the months-grain rollup, so everything downstream of the first
    * aggregate is dimension-sized. */
  val q187RevenueAcf = Q(
    "q187_revenue_acf",
    s"""WITH ${monthlyRevenueSince1992Cte(cents = false)},
      |t AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS tot
      |  FROM m GROUP BY 1),
      |d AS (
      |  SELECT m.n_name, m.x, m.y * t.n - t.tot AS dev
      |  FROM m JOIN t USING (n_name)),
      |den AS (
      |  SELECT n_name, sum(CAST(dev AS HUGEINT) * dev) AS sden
      |  FROM d GROUP BY 1),
      |z AS (
      |  SELECT d.n_name, d.x,
      |    CAST(dev AS DOUBLE) / sqrt(CAST(sden AS DOUBLE)) AS z
      |  FROM d JOIN den USING (n_name))
      |SELECT a.n_name, CAST(l.k AS INT) AS lag,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(CAST(sum(CAST(round(a.z * b.z * 1e12) AS BIGINT)) AS BIGINT)
      |    / 1e12, 6) + 0.0 AS acf
      |FROM z a
      |JOIN (VALUES (1), (2), (3), (4), (5), (6)) l(k) ON true
      |JOIN z b ON b.n_name = a.n_name AND b.x = a.x + l.k
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val m = monthlyRevenueSince1992(spark, dir, cents = false)
    val t = m.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("tot"))
    val d = m.join(t, "n_name")
      .select(col("n_name"), col("x"), (col("y") * col("n") - col("tot")).as("dev"))
    val den = d.groupBy(col("n_name"))
      .agg(sum(col("dev").cast("decimal(38,0)") * col("dev")).as("sden"))
    // den is nation-grain (≤25 rows) but a grouped aggregate over the
    // orders scan — unhinted per house policy; AQE broadcasts it by size
    val z = d.join(den, "n_name")
      .select(col("n_name"), col("x"),
        (col("dev").cast("double") / sqrt(col("sden").cast("double"))).as("z"))
    val lags = spark.range(1, 7).select(col("id").cast("int").as("k"))
    val b = z.select(col("n_name").as("bn"), col("x").as("bx"), col("z").as("bz"))
    z.crossJoin(broadcast(lags))
      .join(b, col("bn") === col("n_name") && col("bx") === col("x") + col("k"))
      .groupBy(col("n_name"), col("k").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("z") * col("bz") * 1e12).cast("long")).as("qacf"))
      .select(col("n_name"), col("lag"), col("n_pairs"),
        Q.noNegZero(round(col("qacf") / 1e12, 6)).as("acf"))
      .orderBy(col("n_name"), col("lag"))
  }

  /** Winsorized + trimmed robust means per segment (Tukey's robust
    * location estimates) — the outlier-proof summary a monitoring
    * pipeline alarms on when the plain mean is whipped around by a few
    * mega-orders (the robust companion to q106's MAD outliers: q106
    * FINDS the tail, this reports location WITH and WITHOUT it). Exact
    * order-statistic boundaries, no sampling: values collapse to
    * (segment, cents)-grain counts, `Ecdf.groupedCumsum` lifts them to
    * global ranks distributedly (no per-segment single-task window),
    * and each value row contributes to the trimmed sum by exact
    * integer rank-interval overlap — the q192 boundary-straddle trick:
    * contrib = max(0, min(cum, n−k) − max(cum−c, k)) with k = ⌊n/20⌋
    * (5% each side). The winsorized mean adds the two cut values
    * (rank k+1 and rank n−k, each a min-over-threshold at value
    * grain) times k. Everything is BIGINT/DECIMAL(38,0) until the
    * three final divisions. */
  val q197RobustMeans = Q(
    "q197_robust_means",
    s"""WITH $segmentValueCountsCtes,
      |t AS (
      |  SELECT c_mktsegment, CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(v AS HUGEINT) * c) AS s
      |  FROM d GROUP BY 1),
      |cw AS (
      |  SELECT c_mktsegment, v, c,
      |    CAST(sum(c) OVER (PARTITION BY c_mktsegment ORDER BY v) AS BIGINT) AS cum
      |  FROM d),
      |g AS (
      |  SELECT cw.c_mktsegment, t.n, t.n // 20 AS k, t.s,
      |    sum(CAST(cw.v AS HUGEINT) * greatest(0,
      |      least(cw.cum, t.n - t.n // 20)
      |        - greatest(cw.cum - cw.c, t.n // 20))) AS tsum,
      |    min(CASE WHEN cw.cum >= t.n // 20 + 1 THEN cw.v END) AS lo_v,
      |    min(CASE WHEN cw.cum >= t.n - t.n // 20 THEN cw.v END) AS hi_v
      |  FROM cw JOIN t USING (c_mktsegment)
      |  GROUP BY 1, 2, 3, 4)
      |SELECT c_mktsegment, n AS n_orders, CAST(k AS BIGINT) AS n_trimmed_each,
      |  round(lo_v / 100.0, 2) AS lo_cut, round(hi_v / 100.0, 2) AS hi_cut,
      |  round(CAST(s AS DOUBLE) / n / 100, 4) AS mean,
      |  round(CAST(tsum AS DOUBLE) / (n - 2 * k) / 100, 4) AS trimmed_mean,
      |  round((CAST(tsum AS DOUBLE) + CAST(k AS DOUBLE) * lo_v
      |    + CAST(k AS DOUBLE) * hi_v) / n / 100, 4) AS winsorized_mean
      |FROM g ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    val d = segmentValueCounts(spark, dir)
    // totals ride the cumsum (tot_c) and the plain-mean numerator is
    // just another aggregate over the SAME value-grain rows, so d has
    // exactly one consumer — no separate groupBy(segment) branch that
    // would re-plan the whole orders scan (see the Ecdf scaladoc)
    val g = graft.operators.Ecdf
      .groupedCumsum(d, Seq("c_mktsegment"), "v", Seq("c"))
      .withColumn("n", col("tot_c"))
      .withColumn("k", expr("n div 20"))
      .groupBy(col("c_mktsegment"), col("n"), col("k"))
      .agg(
        sum(col("v").cast("decimal(38,0)") * col("c")).as("s"),
        sum(col("v").cast("decimal(38,0)") * greatest(lit(0L),
          least(col("cum_c"), col("n") - col("k"))
            - greatest(col("cum_c") - col("c"), col("k")))).as("tsum"),
        min(when(col("cum_c") >= col("k") + 1, col("v"))).as("lo_v"),
        min(when(col("cum_c") >= col("n") - col("k"), col("v"))).as("hi_v"))
    g.select(col("c_mktsegment"), col("n").as("n_orders"),
        col("k").as("n_trimmed_each"),
        round(col("lo_v") / 100.0, 2).as("lo_cut"),
        round(col("hi_v") / 100.0, 2).as("hi_cut"),
        round(col("s").cast("double") / col("n") / 100, 4).as("mean"),
        round(col("tsum").cast("double") / (col("n") - lit(2) * col("k")) / 100, 4)
          .as("trimmed_mean"),
        round((col("tsum").cast("double") + col("k").cast("double") * col("lo_v")
          + col("k").cast("double") * col("hi_v")) / col("n") / 100, 4)
          .as("winsorized_mean"))
      .orderBy(col("c_mktsegment"))
  }

  /** Spearman rank correlation per nation between an order's item
    * count and its total price — the monotone-association screen that
    * survives the heavy price tail Pearson chokes on (the rank-based
    * companion to q145's OLS slope). Tie-corrected EXACTLY: with
    * (nation, value)-grain counts, the average rank of value v is
    * cum_before + (c+1)/2, carried as the INTEGER 2·cum_before + c + 1
    * (ranks scaled ×2, so no half ever floats); `Ecdf.groupedCumsum`
    * builds both rank tables distributedly, two value-keyed joins pin
    * each order's (Rx, Ry), and Pearson-on-ranks collapses to six
    * DECIMAL(38,0) sufficient statistics per nation (R ≤ 2n ⇒ ΣR²
    * fits to ~1e14 rows per group) with ONE double division at the
    * end. */
  val q198SpearmanRank = Q(
    "q198_spearman_rank",
    """WITH o AS (
      |  SELECT n_name, o_orderkey,
      |    CAST(count(*) AS BIGINT) AS x,
      |    CAST(round(any_value(o_totalprice) * 100) AS BIGINT) AS y
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |dx AS (SELECT n_name, x, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
      |dy AS (SELECT n_name, y, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
      |rx AS (
      |  SELECT n_name, x,
      |    2 * (CAST(sum(c) OVER (PARTITION BY n_name ORDER BY x) AS BIGINT) - c)
      |      + c + 1 AS r2x
      |  FROM dx),
      |ry AS (
      |  SELECT n_name, y,
      |    2 * (CAST(sum(c) OVER (PARTITION BY n_name ORDER BY y) AS BIGINT) - c)
      |      + c + 1 AS r2y
      |  FROM dy),
      |r AS (
      |  SELECT o.n_name, rx.r2x, ry.r2y
      |  FROM o
      |  JOIN rx ON rx.n_name = o.n_name AND rx.x = o.x
      |  JOIN ry ON ry.n_name = o.n_name AND ry.y = o.y),
      |s AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(r2x AS HUGEINT)) AS sx, sum(CAST(r2y AS HUGEINT)) AS sy,
      |    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy,
      |    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
      |    sum(CAST(r2y AS HUGEINT) * r2y) AS syy
      |  FROM r GROUP BY 1)
      |SELECT n_name, n AS n_orders,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0 AS spearman_rho
      |FROM s ORDER BY n_name""".stripMargin) { (spark, dir) =>
    import graft.operators.Ecdf
    // r15 perf: o feeds THREE consumers (dx, dy, the final sufficient-
    // statistics join) whose diverging column pruning defeats
    // ReuseExchange (the q83/q85 lesson) — each consumer re-planned the
    // whole orders⋈customer⋈nation⋈lineitem join (executed plan carried
    // ~20 scans). One lineage cut of the ORDER-GRAIN aggregate (three
    // skinny columns, |orders| rows — far below the lineitem input it
    // summarizes) makes the join run once (q142's checkpointed-stage
    // pattern).
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("n_nationkey") === col("c_nationkey"))
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_orderkey"))
      .agg(count(lit(1)).as("x"),
        round(first(col("o_totalprice")) * 100).cast("long").as("y"))
      .localCheckpoint()
    val dx = o.groupBy(col("n_name"), col("x")).agg(count(lit(1)).as("c"))
    val dy = o.groupBy(col("n_name"), col("y")).agg(count(lit(1)).as("c"))
    val rx = Ecdf.groupedCumsum(dx, Seq("n_name"), "x", Seq("c"))
      .select(col("n_name"), col("x"),
        (lit(2) * (col("cum_c") - col("c")) + col("c") + 1).as("r2x"))
    val ry = Ecdf.groupedCumsum(dy, Seq("n_name"), "y", Seq("c"))
      .select(col("n_name"), col("y"),
        (lit(2) * (col("cum_c") - col("c")) + col("c") + 1).as("r2y"))
    val dec = "decimal(38,0)"
    val s = o.join(rx, Seq("n_name", "x")).join(ry, Seq("n_name", "y"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("r2x").cast(dec)).as("sx"), sum(col("r2y").cast(dec)).as("sy"),
        sum(col("r2x").cast(dec) * col("r2y")).as("sxy"),
        sum(col("r2x").cast(dec) * col("r2x")).as("sxx"),
        sum(col("r2y").cast(dec) * col("r2y")).as("syy"))
    s.select(col("n_name"), col("n").as("n_orders"),
        Q.noNegZero(round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6))
          .as("spearman_rho"))
      .orderBy(col("n_name"))
  }

  /** Benjamini–Hochberg FDR control over the per-segment KS drift
    * tests — the multiple-testing layer a monitoring fleet needs on
    * top of q185: alarming on every p < 0.05 across hundreds of
    * segments guarantees false fires; BH instead flags the largest
    * prefix of ascending p-values with p_(i) ≤ i·α/m (α = 0.05),
    * controlling the expected false-discovery fraction. The KS core is
    * q185's exact integer ECDF (via `Ecdf.groupedCumsum`); the
    * asymptotic two-sample p-value p = min(1, 2·exp(−2D²·n₁n₂/(n₁+n₂)))
    * is one closed-form double per segment, and the BH pass is a
    * window over the SEGMENT-grain relation — everything after the
    * (segment, value) aggregate is dimension-sized. */
  val q199DriftAlarmsBh = Q(
    "q199_drift_alarms_bh",
    s"""WITH $segmentEraHistCtes,
      |$segmentEraEcdfCtes,
      |ks AS (
      |  SELECT c_mktsegment, n1, n2,
      |    CAST(max(abs(a * n2 - b * n1)) AS DOUBLE)
      |      / (CAST(n1 AS DOUBLE) * n2) AS dd
      |  FROM c JOIN t USING (c_mktsegment)
      |  GROUP BY c_mktsegment, n1, n2),
      |p AS (
      |  SELECT c_mktsegment, n1, n2, dd,
      |    least(1.0, 2 * exp(-2 * dd * dd
      |      * (CAST(n1 AS DOUBLE) * n2 / (n1 + n2)))) AS pv
      |  FROM ks),
      |bh AS (
      |  SELECT c_mktsegment, n1, n2, dd, pv,
      |    CAST(row_number() OVER (ORDER BY round(pv, 6), c_mktsegment) AS BIGINT) AS i,
      |    CAST(count(*) OVER () AS BIGINT) AS m
      |  FROM p),
      |pass AS (
      |  SELECT *, CASE WHEN round(pv, 6) <= 0.05 * i / m THEN 1 ELSE 0 END AS ok
      |  FROM bh),
      |cut AS (SELECT coalesce(max(CASE WHEN ok = 1 THEN i END), 0) AS kmax FROM pass)
      |SELECT c_mktsegment, round(dd, 6) AS ks_d, round(pv, 6) + 0.0 AS p_value,
      |  round(0.05 * i / m, 6) AS bh_threshold,
      |  CAST(CASE WHEN i <= kmax THEN 1 ELSE 0 END AS INT) AS drifted
      |FROM pass CROSS JOIN cut
      |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    import graft.operators.Ecdf
    val d = segmentEraHist(spark, dir)
    val ks = Ecdf.groupedCumsum(d, Seq("c_mktsegment"), "v", Seq("c1", "c2"))
      .select(col("c_mktsegment"), col("cum_c1").as("a"), col("cum_c2").as("b"),
        col("tot_c1").as("n1"), col("tot_c2").as("n2"))
      .groupBy(col("c_mktsegment"), col("n1"), col("n2"))
      .agg((max(abs(col("a") * col("n2") - col("b") * col("n1"))).cast("double")
        / (col("n1").cast("double") * col("n2"))).as("dd"))
    val p = ks.withColumn("pv",
      least(lit(1.0), lit(2) * exp(lit(-2) * col("dd") * col("dd")
        * (col("n1").cast("double") * col("n2") / (col("n1") + col("n2"))))))
    // BH pass over the SEGMENT-grain relation (|segments| rows) — the
    // no-PARTITION windows here run over a bounded aggregate, the
    // same dimension-grain class as q188's calendar windows
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // rank and compare on the 6-dp ROUNDED p-value: pv contains exp(),
    // which the two engines' libm may round a final ulp apart — ordering
    // unrounded doubles would let near-tied tests swap ranks (and so
    // bh_threshold) across engines, while the 6-dp grid is stable and
    // already the output's resolution
    val bh = p
      .withColumn("i", row_number().over(
        Window.orderBy(round(col("pv"), 6), col("c_mktsegment"))).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("ok",
        when(round(col("pv"), 6) <= lit(0.05) * col("i") / col("m"), 1L)
        .otherwise(0L))
      .withColumn("kmax", coalesce(
        max(when(col("ok") === 1, col("i"))).over(wAll), lit(0L)))
    bh.select(col("c_mktsegment"), round(col("dd"), 6).as("ks_d"),
        Q.noNegZero(round(col("pv"), 6)).as("p_value"),
        round(lit(0.05) * col("i") / col("m"), 6).as("bh_threshold"),
        when(col("i") <= col("kmax"), 1).otherwise(0).cast("int").as("drifted"))
      .orderBy(col("c_mktsegment"))
  }

  /** Hill tail-index estimator per segment (Hill 1975) — HOW heavy is
    * the order-value tail, as one number: α̂ = k / Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₎)
    * over the top-k order statistics (α < 2 ⇒ infinite variance —
    * sampling and mean-based monitoring break; the parametric
    * companion to q184's Gini and q164's Pareto frontier). No top-k
    * window over rows: with (segment, cents)-grain counts and
    * `Ecdf.groupedCumsum` global ranks, a value row's share of the
    * top k is the exact integer rank-interval overlap
    * min(cum, n) − max(cum − c, n − k), x₍ₖ₎ is a min-over-threshold
    * at value grain, and each ln is quantized to the 1e-9 grid before
    * the per-segment BIGINT sum. k = ⌈5%·n⌉ capped at 1000 — the
    * standard a-few-percent Hill window. */
  val q200HillTailIndex = Q(
    "q200_hill_tail_index",
    s"""WITH $segmentValueCountsCtes,
      |t AS (
      |  SELECT c_mktsegment, CAST(sum(c) AS BIGINT) AS n,
      |    least(CAST(ceil(sum(c) * 0.05) AS BIGINT), 1000) AS k
      |  FROM d GROUP BY 1),
      |cw AS (
      |  SELECT c_mktsegment, v, c,
      |    CAST(sum(c) OVER (PARTITION BY c_mktsegment ORDER BY v) AS BIGINT) AS cum
      |  FROM d),
      |s AS (
      |  SELECT cw.c_mktsegment, t.n, t.k,
      |    min(CASE WHEN cw.cum >= t.n - t.k + 1 THEN cw.v END) AS vk,
      |    CAST(sum((greatest(cw.cum - cw.c, t.n - t.k) < cw.cum)::INT
      |      * (cw.cum - greatest(cw.cum - cw.c, t.n - t.k))
      |      * CAST(round(ln(cw.v) * 1e9) AS BIGINT)) AS BIGINT) AS slnv
      |  FROM cw JOIN t USING (c_mktsegment)
      |  GROUP BY 1, 2, 3)
      |SELECT c_mktsegment, n AS n_orders, k,
      |  round(vk / 100.0, 2) AS x_k,
      |  round(CAST(k AS DOUBLE)
      |    / ((slnv / 1e9) - k * (CAST(round(ln(vk) * 1e9) AS BIGINT) / 1e9)),
      |    6) AS hill_alpha
      |FROM s ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    import graft.operators.Ecdf
    val d = segmentValueCounts(spark, dir)
    val cw = Ecdf.groupedCumsum(d, Seq("c_mktsegment"), "v", Seq("c"))
      .withColumn("n", col("tot_c"))
      .withColumn("k", least(ceil(col("n") * 0.05).cast("long"), lit(1000L)))
    val lo = greatest(col("cum_c") - col("c"), col("n") - col("k"))
    val contrib = when(lo < col("cum_c"), col("cum_c") - lo).otherwise(lit(0L))
    // x_(k) and the top-k ln-sum come from ONE aggregate over cw —
    // the slnv term never references vk, so splitting them would just
    // replicate the whole scan→aggregate→cumsum pipeline per consumer
    // (the q29/q28 one-exchange lesson)
    val s = cw
      .groupBy(col("c_mktsegment"), col("n"), col("k"))
      .agg(min(when(col("cum_c") >= col("n") - col("k") + 1, col("v"))).as("vk"),
        sum(contrib * round(log(col("v")) * 1e9).cast("long")).as("slnv"))
    s.select(col("c_mktsegment"), col("n").as("n_orders"), col("k"),
        round(col("vk") / 100.0, 2).as("x_k"),
        round(col("k").cast("double")
          / (col("slnv") / 1e9
            - col("k") * (round(log(col("vk")) * 1e9).cast("long") / 1e9)), 6)
          .as("hill_alpha"))
      .orderBy(col("c_mktsegment"))
  }

  /** Wasserstein-1 (earth-mover) drift between the pre-1998 and 1998+
    * order-value distributions per market segment — the INTEGRAL
    * companion to q185's KS statistic over the exact same split: KS
    * reports the worst single gap between the two ECDFs, W1 reports
    * the total transport cost ∫|F_A − F_B| dx, the magnitude-aware
    * number a mixing/rebalancing decision actually budgets against
    * (a distribution can drift a lot of mass a short distance and
    * barely move KS, or vice versa — monitoring wants both).
    *
    * Scale shape: identical to q185 plus ONE new ingredient — the
    * successor value — which `Ecdf.groupedCumsum(withNext = true)`
    * derives from the SAME single range exchange (in-slice lead +
    * next-slice minimum riding the offset table), so the plan is
    * still: one fact-scale shuffle to (segment, value)-grain counts,
    * one range exchange, bounded offset windows. The Riemann sum
    * Σ|a·n2 − b·n1|·gap runs in exact decimal(38,0) (value gaps are
    * integer cents; cum×total products need ~int128 headroom at fact
    * scale, mirrored by the oracle's HUGEINT), so the only float op
    * is the final division — hash-stable by construction. */
  val q203WassersteinDrift = Q(
    "q203_wasserstein_drift",
    s"""WITH $segmentEraHistCtes,
      |c AS (
      |  SELECT c_mktsegment, v,
      |    sum(c1) OVER w AS a, sum(c2) OVER w AS b,
      |    sum(c1) OVER (PARTITION BY c_mktsegment) AS n1,
      |    sum(c2) OVER (PARTITION BY c_mktsegment) AS n2,
      |    lead(v) OVER (PARTITION BY c_mktsegment ORDER BY v) AS nv
      |  FROM d
      |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY v))
      |SELECT c_mktsegment, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    round(CAST(sum(CASE WHEN nv IS NULL THEN CAST(0 AS HUGEINT)
      |        ELSE CAST(abs(a * n2 - b * n1) AS HUGEINT) * (nv - v) END) AS DOUBLE)
      |      / (CAST(n1 AS DOUBLE) * n2) / 100, 6) END AS w1_dollars
      |FROM c
      |GROUP BY c_mktsegment, n1, n2
      |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    val d = segmentEraHist(spark, dir)
    // one shared implementation of the exact transport sum
    // (operators/Drift.reductions); this query only rescales to dollars
    graft.operators.Drift
      .reductions(d, Seq("c_mktsegment"), "v", "c1", "c2")
      .select(col("c_mktsegment"), col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0,
          round(col("wsum").cast("double")
            / (col("n1").cast("double") * col("n2")) / 100, 6))
          .as("w1_dollars"))
      .orderBy(col("c_mktsegment"))
  }

  /** DuckDB twin of `Drift.ksAndW1` over [[segmentEraHist]]'s era
    * split, shared by q205/q207/q210: per segment KS D, W1 and CvM, plus
    * Anderson–Darling (`withAd`) and the energy distance (`withEnergy`),
    * each NULL when a side is empty. */
  private def driftPanelSql(withAd: Boolean, withEnergy: Boolean): String = {
    val ad = if (!withAd) "" else
      """,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    round(CAST(sum(CASE WHEN nv IS NOT NULL
        |          AND (a + b) * (n1 + n2 - a - b) > 0 THEN
        |        (CAST(cnt AS HUGEINT) * abs(a * n2 - b * n1)
        |          * abs(a * n2 - b * n1) * 1000000)
        |          // ((a + b) * (n1 + n2 - a - b))
        |        ELSE CAST(0 AS HUGEINT) END) AS DOUBLE)
        |      / (CAST(n1 AS DOUBLE) * n2 * 1e6), 6) END AS ad"""
    val energy = if (!withEnergy) "" else
      """,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    round(2 * CAST(sum(CASE WHEN nv IS NULL THEN CAST(0 AS HUGEINT)
        |        ELSE CAST(abs(a * n2 - b * n1) AS HUGEINT)
        |          * abs(a * n2 - b * n1) * (nv - v) END) AS DOUBLE)
        |      / (CAST(n1 AS DOUBLE) * n2 * (CAST(n1 AS DOUBLE) * n2)), 6)
        |    END AS energy_cents"""
    s"""WITH $segmentEraHistCtes,
       |c AS (
       |  SELECT c_mktsegment, v, c1 + c2 AS cnt,
       |    sum(c1) OVER w AS a, sum(c2) OVER w AS b,
       |    sum(c1) OVER (PARTITION BY c_mktsegment) AS n1,
       |    sum(c2) OVER (PARTITION BY c_mktsegment) AS n2,
       |    lead(v) OVER (PARTITION BY c_mktsegment ORDER BY v) AS nv
       |  FROM d
       |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY v))
       |SELECT c_mktsegment, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  CASE WHEN n1 > 0 AND n2 > 0 THEN
       |    round(CAST(max(abs(a * n2 - b * n1)) AS DOUBLE)
       |      / (CAST(n1 AS DOUBLE) * n2), 6) END AS ks_d,
       |  CASE WHEN n1 > 0 AND n2 > 0 THEN
       |    round(CAST(sum(CASE WHEN nv IS NULL THEN CAST(0 AS HUGEINT)
       |        ELSE CAST(abs(a * n2 - b * n1) AS HUGEINT) * (nv - v) END) AS DOUBLE)
       |      / (CAST(n1 AS DOUBLE) * n2), 6) END AS w1_cents,
       |  CASE WHEN n1 > 0 AND n2 > 0 THEN
       |    round(CAST(sum(CAST(cnt AS HUGEINT)
       |        * abs(a * n2 - b * n1) * abs(a * n2 - b * n1)) AS DOUBLE)
       |      / (CAST(n1 AS DOUBLE) * n2
       |        * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)), 6) END AS cvm$ad$energy
       |FROM c
       |GROUP BY c_mktsegment, n1, n2
       |ORDER BY c_mktsegment""".stripMargin
  }

  /** One-pass drift monitor (`operators/Drift.ksAndW1`): KS D AND
    * Wasserstein-1 per segment from a SINGLE cumsum pass over the same
    * pre-1998/1998+ split as q185/q203. Running the two statistics as
    * separate queries re-pays the fact-scale orders shuffle per
    * statistic; the monitoring read a production pipeline issues wants
    * every alarm statistic from one scan — this is that read, and its
    * values must equal q185's ks_d and (up to the dollars rescale)
    * q203's w1 exactly (StatsSpec pins both). Plan: one orders scan,
    * one (segment, value) aggregate, one range exchange, group-grain
    * out (PlanSpec pins the single-scan shape). */
  val q205DriftMonitor = Q(
    "q205_drift_monitor",
    driftPanelSql(withAd = false, withEnergy = false)) { (spark, dir) =>
    val d = segmentEraHist(spark, dir)
    graft.operators.Drift.ksAndW1(d, Seq("c_mktsegment"), "v", "c1", "c2")
      .withColumnRenamed("w1", "w1_cents")
      .orderBy(col("c_mktsegment"))
  }

  /** q205's monitor extended with the two-sample ANDERSON–DARLING
    * statistic (`Drift.ksAndW1(withAd = true)`) — the natural fourth
    * reduction of the SAME single cumsum pass: AD is CvM reweighted by
    * the pooled ECDF's variance 1/(H(1−H)), which up-weights the
    * distribution TAILS where KS/CvM are least sensitive and where
    * mixing/quality-threshold decisions actually live (a tail-only
    * drift can sit under KS's single max gap and CvM's bulk average
    * yet move every p99-based decision). Pettitt's A², ties collapsed
    * onto the value grain (each pooled observation counted at its
    * value's right-continuous cumulative). Exactness: each AD term is
    * a rational c·dev²/(j·(N−j)) — no common denominator exists, so
    * the house integer-sum discipline quantizes each term to the 10⁻⁶
    * grid with an exact decimal floor division, mirrored by the twin's
    * HUGEINT `//`; the sum stays order-independent (a per-term double
    * sum would hash-diverge on partition order) and the quantization
    * error (< |values|·10⁻⁶/(n1·n2)) is far below the 6-dp output
    * grid. Plan: IDENTICAL to q205 — one orders scan, one (segment,
    * value) aggregate, one range exchange, group-grain out (PlanSpec
    * pins it; StatsSpec pins ks_d/w1_cents/cvm bit-equal to q205 and
    * ad against a driver-side BigInt reference). */
  val q207AdMonitor = Q(
    "q207_ad_monitor",
    driftPanelSql(withAd = true, withEnergy = false)) { (spark, dir) =>
    val d = segmentEraHist(spark, dir)
    graft.operators.Drift
      .ksAndW1(d, Seq("c_mktsegment"), "v", "c1", "c2", withAd = true)
      .withColumnRenamed("w1", "w1_cents")
      .orderBy(col("c_mktsegment"))
  }

  /** The FULL drift panel — all FIVE alarm statistics from the one
    * cumsum pass (`Drift.ksAndW1(withAd = true, withEnergy = true)`):
    * q207's monitor plus the Székely–Rizzo ENERGY DISTANCE
    * 2∫(F_A−F_B)²dx, the member the panel was missing — a true METRIC
    * on distributions (in 1-D, 2E|X−Y| − E|X−X'| − E|Y−Y'| collapses
    * to exactly that integral) that keeps the value scale like W1
    * (cents here) while squaring the gap like CvM: sensitive to
    * sustained displacement, robust to the single spike that saturates
    * KS. Exactness: the energy numerator Σ dev²·gap needs no per-term
    * division, so it is a plain decimal(38,0) sum mirrored by the
    * twin's HUGEINT (headroom (n1·n2)²·range < 10³⁸ ≈ 10⁸ worst-case
    * rows per side on a 10⁶-wide grid; AD's quantized term remains
    * the panel's binding bound at ~2·10⁶ — all runtime-guarded, see
    * the Drift scaladoc). This is the query a
    * production fleet registers INSTEAD of q185+q203+q205+q207: the
    * per-statistic reads exist to pin its columns bit-equal (StatsSpec)
    * and to serve as single-statistic deep reads. Plan: IDENTICAL to
    * q205/q207 — one orders scan, one (segment, value) aggregate, one
    * range exchange, group-grain out (PlanSpec pins it). */
  val q210DriftPanel = Q(
    "q210_drift_panel",
    driftPanelSql(withAd = true, withEnergy = true)) { (spark, dir) =>
    val d = segmentEraHist(spark, dir)
    graft.operators.Drift
      .ksAndW1(d, Seq("c_mktsegment"), "v", "c1", "c2", withAd = true,
        withEnergy = true)
      .withColumnRenamed("w1", "w1_cents")
      .withColumnRenamed("energy", "energy_cents")
      .orderBy(col("c_mktsegment"))
  }

  /** The months of [[q209DriftTrajectory]]'s monitoring window —
    * 1998-01 through 2001-08 (the corpus's last order month; the
    * pre-1998 remainder is the fixed reference), rendered into BOTH
    * dialects from this one value. A configured calendar window is
    * part of a trajectory monitor's identity (production slides it);
    * what matters is that ref + window partition the scan — a window
    * overlapping the reference would silently NULL out the
    * overlapped months (their mk never matches the grid), which is
    * why [[trajectoryHist]] and [[trajectorySqlCtes]] GUARD the
    * window they are given (see [[TrajectoryRefCutoff]]). */
  private[queries] val TrajectoryMonths: Seq[Int] =
    for (y <- 1998 to 2001; m <- 1 to 12 if y < 2001 || m <= 8) yield y * 100 + m

  /** First month eligible for the monitoring window: everything before
    * it is the fixed reference side. Both dialect renderers refuse a
    * window that reaches into the reference — the window and the
    * cutoff are PLAN-TIME parameters, so the guard fires at plan
    * construction (earlier and with a better message than a
    * constant-folded in-plan raise_error would), and it is two-sided
    * by construction: both the Spark plan and the DuckDB twin can only
    * be rendered through these guarded helpers. */
  private[queries] val TrajectoryRefCutoff: Int = 199801

  private def requireWindowClearOfReference(months: Seq[Int]): Unit = {
    require(months.nonEmpty, "trajectory window is empty")
    val overlap = months.filter(_ < TrajectoryRefCutoff)
    require(overlap.isEmpty,
      s"trajectory window overlaps the pre-$TrajectoryRefCutoff reference " +
        s"period (months ${overlap.mkString(", ")}): overlapped months " +
        "would silently emit NULL statistics (their mk is folded into the " +
        "reference side and never matches the month grid); shrink the " +
        "window or move the reference cutoff")
  }

  /** Shared by q209/q211: the (month, cell) two-sided histogram — every
    * month's $100-cell order-value counts (`cm`) next to the FIXED
    * pre-1998 reference counts (`cr`), built from ONE orders scan with
    * no join (cell-grain collapse carrying the reference count and the
    * month→count map, then the static month grid explodes back out
    * IN-ROW — the q196/q201 single-consumer playbook). Zero-count
    * (month, cell) rows are harmless by construction for every Drift
    * reduction. */
  private[queries] def trajectoryHist(spark: org.apache.spark.sql.SparkSession,
      dir: String,
      months: Seq[Int] = TrajectoryMonths): org.apache.spark.sql.DataFrame = {
    requireWindowClearOfReference(months)
    // key fold and grid fold are graft.operators.Drift's — the SAME
    // code the streaming monitor's serving read runs (monthKey folds
    // at MONTH precision, so a mid-year cutoff partitions exactly at
    // its month in both legs)
    val d = Tables.orders(spark, dir)
      .select(
        graft.operators.Drift
          .monthKey(col("o_orderdate"), TrajectoryRefCutoff).as("mk"),
        round(col("o_totalprice") / 100).cast("long").as("v"))
      .groupBy(col("mk"), col("v")).agg(count(lit(1)).as("c"))
    graft.operators.Drift.trajectoryGrid(d, months, TrajectoryRefCutoff)
  }

  /** [[trajectoryHist]]'s twin rendered once for both q209/q211 oracle
    * SQLs — the CTE chain ends at `c`, the per-(month, value) cumulative
    * table with totals and the lead value. */
  private[queries] def trajectorySqlCtes(
      months: Seq[Int] = TrajectoryMonths): String = {
    requireWindowClearOfReference(months)
    s"""base AS (
      |  SELECT CASE WHEN year(o_orderdate) * 100 + month(o_orderdate)
      |                   < $TrajectoryRefCutoff THEN -1
      |              ELSE year(o_orderdate) * 100 + month(o_orderdate) END AS mk,
      |    CAST(round(o_totalprice / 100) AS BIGINT) AS v
      |  FROM orders),
      |d AS (SELECT mk, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
      |vals AS (
      |  SELECT v, CAST(sum(CASE WHEN mk = -1 THEN c ELSE 0 END) AS BIGINT) AS cr
      |  FROM d GROUP BY v),
      |months AS (SELECT unnest([${months.mkString(",")}]) AS m),
      |monc AS (SELECT v, mk AS m, c FROM d WHERE mk <> -1),
      |grid AS (
      |  SELECT months.m, vals.v, vals.cr,
      |    CAST(coalesce(monc.c, 0) AS BIGINT) AS cm
      |  FROM vals CROSS JOIN months
      |  LEFT JOIN monc ON monc.m = months.m AND monc.v = vals.v),
      |c AS (
      |  SELECT m, v,
      |    sum(cr) OVER w AS a, sum(cm) OVER w AS b,
      |    sum(cr) OVER (PARTITION BY m) AS n1,
      |    sum(cm) OVER (PARTITION BY m) AS n2,
      |    lead(v) OVER (PARTITION BY m ORDER BY v) AS nv
      |  FROM grid
      |  WINDOW w AS (PARTITION BY m ORDER BY v))""".stripMargin
  }

  /** Drift TRAJECTORY — the alarm-timeline read a production monitor
    * actually issues: for every month of the configured window, KS and
    * W1 of that month's order-value distribution against a FIXED
    * pre-1998 reference (the corpus spans 1995-01..2001-08; the
    * reference is the same split q185/q205 alarm on). q185/q205
    * compare two halves once; this is the one-vs-MANY form (one shared
    * reference, 44 comparison groups), and the interesting part is
    * doing it from ONE orders scan with no join: a (mk, cell) count
    * aggregate collapses to cell grain carrying the reference count
    * and the month→count map, then the static month grid explodes back
    * out IN-ROW (the q196/q201 playbook) — every month's two-sided
    * histogram shares the single physical pass, and `Drift.reductions`
    * folds all 44 trajectories through one range exchange. Zero-count
    * (month, cell) rows are harmless by construction for every Drift
    * reduction (dev duplicates its predecessor where cA=cB=0: max
    * unchanged, the split Riemann gap re-sums exactly, pooled weights
    * are 0).
    *
    * The VALUE GRID is part of a trajectory monitor's configuration,
    * and it is COARSER than the one-shot deep reads': $100 cells
    * (~5k over the corpus's [1k, 500k] range) instead of q205's
    * cents. The fan-out pays |window|×|grid| state per sweep — on raw
    * cents that is 44×150k ≈ 6.6M padded rows and the measured sweep
    * cost 5× the single-comparison reads; on the $100 grid it is
    * 44×5k ≈ 220k, back in family range. The trade is resolution, not
    * exactness: both dialects bucket identically (KS/W1 OF THE
    * BUCKETED distributions, exact integer numerators; W1's error vs
    * raw cents is bounded by the cell width), which is how a standing
    * monitor is configured at 100 TB anyway — q205 remains the
    * full-resolution deep read once an alarm fires. Months with no
    * orders emit NULL statistics (empty-side guard, both dialects). */
  val q209DriftTrajectory = Q(
    "q209_drift_trajectory",
    s"""WITH ${trajectorySqlCtes()}
      |SELECT m AS month, CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_month,
      |  CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    round(CAST(max(abs(a * n2 - b * n1)) AS DOUBLE)
      |      / (CAST(n1 AS DOUBLE) * n2), 6) END AS ks_d,
      |  CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    round(CAST(sum(CASE WHEN nv IS NULL THEN CAST(0 AS HUGEINT)
      |        ELSE CAST(abs(a * n2 - b * n1) AS HUGEINT) * (nv - v) END) AS DOUBLE)
      |      / (CAST(n1 AS DOUBLE) * n2) * 100, 6) END AS w1_dollars
      |FROM c
      |GROUP BY m, n1, n2
      |ORDER BY month""".stripMargin) { (spark, dir) =>
    val r = graft.operators.Drift
      .reductions(trajectoryHist(spark, dir), Seq("m"), "v", "cr", "cm")
    val ok = col("n1") > 0 && col("n2") > 0
    val nn = col("n1").cast("double") * col("n2")
    r.select(col("m").as("month"), col("n1").as("n_ref"),
        col("n2").as("n_month"),
        when(ok, round(col("dnum").cast("double") / nn, 6)).as("ks_d"),
        // cells are $100 wide: the Riemann sum is in cell units —
        // rescale to dollars BEFORE the rounding, like q203's cents
        when(ok, round(col("wsum").cast("double") / nn * 100, 6))
          .as("w1_dollars"))
      .orderBy(col("month"))
  }

  /** The trajectory's ALARM layer — q209 answers "how far is each
    * month from the reference"; this answers the question the on-call
    * actually has: "which months DRIFTED, after accounting for 44
    * simultaneous tests". q199's machinery (asymptotic two-sample KS
    * p-value p = min(1, 2·exp(−2D²·n₁n₂/(n₁+n₂))), then
    * Benjamini–Hochberg at α = 0.05) applied along the TIME axis of
    * q209's one-vs-many read instead of q199's segment axis — alarming
    * on every month with p < 0.05 across a 44-month window guarantees
    * false fires; BH flags the largest prefix of ascending p-values
    * with p₍ᵢ₎ ≤ i·α/m. Sample-size awareness is the point: a late
    * thin month needs a LARGER D to alarm than a full one, which a
    * bare ks_d threshold gets wrong in both directions. Plan: the
    * SHARED [[trajectoryHist]] scan shape (one orders scan, no join,
    * one range exchange via `Drift.reductions`), then the p-value +
    * BH pass runs entirely on the 44-row month-grain relation (the
    * q199 dimension-grain window class). Months with an empty side
    * have no test and are excluded from the BH family (none exist in
    * this corpus; the filter keeps the BH ordering deterministic on
    * degenerate windows in both dialects). */
  val q211TrajectoryAlarms = Q(
    "q211_trajectory_alarms",
    s"""WITH ${trajectorySqlCtes()},
      |ks AS (
      |  SELECT m, n1, n2,
      |    CAST(max(abs(a * n2 - b * n1)) AS DOUBLE)
      |      / (CAST(n1 AS DOUBLE) * n2) AS dd
      |  FROM c
      |  WHERE n1 > 0 AND n2 > 0
      |  GROUP BY m, n1, n2),
      |p AS (
      |  SELECT m, n1, n2, dd,
      |    least(1.0, 2 * exp(-2 * dd * dd
      |      * (CAST(n1 AS DOUBLE) * n2 / (n1 + n2)))) AS pv
      |  FROM ks),
      |bh AS (
      |  SELECT m, n1, n2, dd, pv,
      |    CAST(row_number() OVER (ORDER BY round(pv, 6), m) AS BIGINT) AS i,
      |    CAST(count(*) OVER () AS BIGINT) AS m_tests
      |  FROM p),
      |pass AS (
      |  SELECT *, CASE WHEN round(pv, 6) <= 0.05 * i / m_tests THEN 1 ELSE 0 END AS ok
      |  FROM bh),
      |cut AS (SELECT coalesce(max(CASE WHEN ok = 1 THEN i END), 0) AS kmax FROM pass)
      |SELECT m AS month, CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_month,
      |  round(dd, 6) AS ks_d, round(pv, 6) + 0.0 AS p_value,
      |  round(0.05 * i / m_tests, 6) AS bh_threshold,
      |  CAST(CASE WHEN i <= kmax THEN 1 ELSE 0 END AS INT) AS drifted
      |FROM pass CROSS JOIN cut
      |ORDER BY month""".stripMargin) { (spark, dir) =>
    val r = graft.operators.Drift
      .reductions(trajectoryHist(spark, dir), Seq("m"), "v", "cr", "cm")
      .filter(col("n1") > 0 && col("n2") > 0)
    val p = r
      .select(col("m"), col("n1"), col("n2"),
        (col("dnum").cast("double")
          / (col("n1").cast("double") * col("n2"))).as("dd"))
      .withColumn("pv",
        least(lit(1.0), lit(2) * exp(lit(-2) * col("dd") * col("dd")
          * (col("n1").cast("double") * col("n2")
            / (col("n1") + col("n2"))))))
    // BH over the 44-row month-grain relation — same bounded
    // no-PARTITION window class as q199's segment pass
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // rank and compare on the 6-dp ROUNDED p-value (the q199 ulp
    // discipline — with 44 tests the near-tie surface is 9x q199's)
    val bh = p
      .withColumn("i", row_number().over(
        Window.orderBy(round(col("pv"), 6), col("m"))).cast("long"))
      .withColumn("m_tests", count(lit(1)).over(wAll))
      .withColumn("ok",
        when(round(col("pv"), 6) <= lit(0.05) * col("i") / col("m_tests"), 1L)
        .otherwise(0L))
      .withColumn("kmax", coalesce(
        max(when(col("ok") === 1, col("i"))).over(wAll), lit(0L)))
    bh.select(col("m").as("month"), col("n1").as("n_ref"),
        col("n2").as("n_month"),
        round(col("dd"), 6).as("ks_d"),
        Q.noNegZero(round(col("pv"), 6)).as("p_value"),
        round(lit(0.05) * col("i") / col("m_tests"), 6).as("bh_threshold"),
        when(col("i") <= col("kmax"), 1).otherwise(0).cast("int").as("drifted"))
      .orderBy(col("month"))
  }

  /** k-anonymity / l-diversity release audit over the customer table —
    * the pre-release privacy screen a training-data pipeline runs before
    * publishing a table keyed on people (SURVEY §2.11 north-star: the
    * governance leg next to the PII scrub q73). Quasi-identifier =
    * (c_nationkey, 1000-wide acctbal band) — the columns an adversary
    * can link from outside; sensitive attribute = c_mktsegment. Per
    * nation: equivalence-class count, the smallest class (k of
    * k-anonymity), the suppression cost of enforcing k ≥ 5 (rows that
    * would have to be dropped or generalized), and the l-diversity floor
    * (distinct sensitive values in the worst class — a class can be
    * 5-anonymous yet leak the segment if all 5 share it).
    *
    * Exactness: everything is BIGINT counts over exact groupings (the
    * band edge is `floor` of the same double in both engines — no
    * arithmetic before it, so no boundary risk); the two ratios are
    * single final divisions of exact sums. Scale: two hash aggregates —
    * QI-grain (bounded by |nation|×|bands|, data-independent) then
    * nation-grain; no join, no window, one scan. */
  val q215KAnonymity = Q(
    "q215_k_anonymity",
    """WITH cls AS (
      |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |    CAST(count(*) AS BIGINT) AS sz,
      |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_div
      |  FROM customer
      |  GROUP BY 1, 2)
      |SELECT c_nationkey,
      |  CAST(sum(sz) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(min(sz) AS BIGINT) AS k_min,
      |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
      |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_suppressed,
      |  round(CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
      |    / sum(sz), 6) AS pct_suppressed,
      |  CAST(min(l_div) AS BIGINT) AS min_l_diversity,
      |  round(CAST(sum(l_div) AS DOUBLE) / count(*), 6) AS avg_l_diversity
      |FROM cls
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (spark, dir) =>
    // both stages route through the SHARED Privacy fold — the streaming
    // standing monitor (Privacy.classState + sinkCompleteVersions)
    // serves the identical audit from the identical code
    graft.operators.Privacy.audit(
      graft.operators.Privacy.classState(
        Tables.customer(spark, dir)
          .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment"),
      Seq("c_nationkey", "bal_band"), "c_nationkey")
  }

  /** t-closeness release audit (Li et al. 2007) — the third leg of the
    * governance family on q215's exact grain (QI = (nation, $1k
    * balance band), sensitive = market segment, report by nation):
    * per class, the total-variation distance between its segment mix
    * and the population's; per nation, the worst/mean class distance
    * and the classes/rows past the t = 0.3 release bar. k-anonymity
    * (q215) bounds re-identification and l-diversity bounds in-class
    * value disclosure — t-closeness bounds the ATTRIBUTE INFERENCE a
    * class permits relative to background knowledge, the leak the
    * other two can pass (a 5-anonymous, 3-diverse class whose segment
    * mix is 90% one value still tells an adversary plenty).
    *
    * Routed through the SHARED Privacy fold ([[graft.operators
    * .Privacy.classState]] → tCloseness): the state is the SAME
    * (QI × sensitive)-grain relation the streaming k-anonymity
    * monitor maintains, additive under union — the standing monitor
    * serves this audit from the identical fold with zero new state.
    * Exactness/scale: see the operator scaladoc (exact-integer TVD
    * numerators with the complement-term trick, 1e-9-grid BIGINT
    * quantization before cross-class aggregation, loud int64 guard in
    * both dialects). */
  val q229TCloseness = Q(
    "q229_t_closeness",
    """WITH cls AS (
      |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |    c_mktsegment, CAST(count(*) AS BIGINT) AS c
      |  FROM customer GROUP BY 1, 2, 3),
      |szs AS (SELECT c_nationkey, bal_band, CAST(sum(c) AS BIGINT) AS sz
      |        FROM cls GROUP BY 1, 2),
      |g AS (SELECT c_mktsegment, CAST(sum(c) AS BIGINT) AS gv FROM cls GROUP BY 1),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cls),
      |pres AS (
      |  SELECT cl.c_nationkey, cl.bal_band,
      |    CAST(sum(abs(cl.c * nn.n - g.gv * s.sz)) AS BIGINT) AS pnum,
      |    CAST(sum(g.gv) AS BIGINT) AS pg,
      |    CAST(max(s.sz) AS BIGINT) AS sz, CAST(max(nn.n) AS BIGINT) AS n
      |  FROM cls cl
      |  JOIN g USING (c_mktsegment)
      |  JOIN szs s USING (c_nationkey, bal_band)
      |  CROSS JOIN nn
      |  GROUP BY 1, 2),
      |tc AS (
      |  SELECT c_nationkey, bal_band, sz,
      |    CAST(round(CAST(ok * (pnum + (n - pg) * sz) AS DOUBLE)
      |      / CAST(2 * sz * n AS DOUBLE) * 1e9) AS BIGINT) AS tq
      |  FROM (SELECT *, CASE WHEN n > 2000000000
      |          THEN error('Privacy.tCloseness: row count past the int64 cnt*N headroom — subsample or shard the audit')
      |          ELSE 1 END AS ok FROM pres) p)
      |SELECT c_nationkey,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  round(CAST(max(tq) AS DOUBLE) / 1e9, 6) AS max_t,
      |  round(CAST(sum(tq) AS DOUBLE) / count(*) / 1e9, 6) AS avg_t,
      |  CAST(sum(CASE WHEN tq > 300000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_above_t,
      |  CAST(sum(CASE WHEN tq > 300000000 THEN sz ELSE 0 END) AS BIGINT)
      |    AS rows_exposed
      |FROM tc
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (spark, dir) =>
    graft.operators.Privacy.tCloseness(
      graft.operators.Privacy.classState(
        Tables.customer(spark, dir)
          .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment"),
      Seq("c_nationkey", "bal_band"), "c_mktsegment", "c_nationkey")
  }

  /** q216's shared constants: feature dimension, iteration budget, and
    * the DuckDB feature CTE (the Spark side mirrors it column by
    * column). Feature grids are chosen so every feature is a SMALL
    * exact integer (≤ ~10³ on this corpus): the centered-moment
    * numerators N·P_ij − S_i·S_j then stay within int64 up to ~3×10⁷
    * customers — past that BOTH dialects fail loudly (Scala require /
    * DuckDB error()) with the same remedy (subsample customers or
    * coarsen the feature grids — the Drift.autoCoarsen trade). */
  private val PcaDim = 6
  private val PcaIters = 48
  private val PcaFeatNames =
    Seq("n_orders", "spend_10k", "max_price_k", "min_price_k",
      "active_months", "n_urgent")
  private val PcaFeatSql =
    """SELECT o_custkey,
      |  CAST(count(*) AS BIGINT) AS f1,
      |  (sum(CAST(round(o_totalprice * 100) AS BIGINT)) + 500000) // 1000000 AS f2,
      |  (max(CAST(round(o_totalprice * 100) AS BIGINT)) + 50000) // 100000 AS f3,
      |  (min(CAST(round(o_totalprice * 100) AS BIGINT)) + 50000) // 100000 AS f4,
      |  CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT) AS f5,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS f6
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Generated oracle for q216: the exact-integer power iteration
    * unrolled as `PcaIters` pairs of MATERIALIZED HUGEINT CTEs (the
    * q142 unrolled-rounds pattern — MATERIALIZED is load-bearing:
    * un-materialized, DuckDB inlines the chain exponentially). Every
    * integer op mirrors [[graft.operators.Pca]] exactly; see that
    * object's scaladoc for why no float boundary can diverge. */
  /** Shared oracle pieces for q216/q223: [[pcaSetupCtes]] builds the
    * exact-integer correlation matrix `cmat`; [[pcaChainCtes]] unrolls
    * one `PcaIters`-step power iteration over a given matrix CTE with a
    * name prefix (so q223 can run TWO chains — original and deflated —
    * in one statement). */
  private def pcaChainCtes(mat: String, pfx: String): String = {
    val D = PcaDim
    val K = graft.operators.Pca.Grid
    val it0 =
      s"""${pfx}it0 AS MATERIALIZED (
         |  SELECT i, CAST($K + i AS HUGEINT) AS v FROM range(1, ${D + 1}) t(i))""".stripMargin
    // the m = 0 branch mirrors the Scala require("zero iterate") — on a
    // degenerate matrix BOTH dialects raise loudly with the same text,
    // instead of DuckDB dividing by zero (the r12 advisory)
    val its = (1 to PcaIters).map { k =>
      s"""${pfx}w$k AS MATERIALIZED (
         |  SELECT c.i, sum(c.c * p.v) AS w
         |  FROM $mat c JOIN ${pfx}it${k - 1} p ON p.i = c.j GROUP BY c.i),
         |${pfx}it$k AS MATERIALIZED (
         |  SELECT i, CASE
         |    WHEN m = 0 THEN error('q216: zero iterate — degenerate correlation matrix')
         |    WHEN w >= 0 THEN (2 * $K * w + m) // (2 * m)
         |    ELSE -((2 * $K * (-w) + m) // (2 * m)) END AS v
         |  FROM ${pfx}w$k, (SELECT max(abs(w)) AS m FROM ${pfx}w$k))""".stripMargin
    }
    // the FINAL matvec runs against the ORIGINAL cmat in both chains —
    // the Rayleigh quotient that prices a component is always taken on
    // the undeflated matrix
    val fin =
      s"""${pfx}wf AS MATERIALIZED (
         |  SELECT c.i, sum(c.c * p.v) AS w
         |  FROM cmat c JOIN ${pfx}it$PcaIters p ON p.i = c.j GROUP BY c.i),
         |${pfx}ray AS MATERIALIZED (
         |  SELECT CASE WHEN num <= 0
         |    THEN error('q216: non-positive Rayleigh quotient — correlation matrix is not PSD-dominant')
         |    ELSE num END AS num, den
         |  FROM (SELECT (SELECT sum(p.v * f.w) FROM ${pfx}it$PcaIters p
         |                JOIN ${pfx}wf f ON f.i = p.i) AS num,
         |               (SELECT sum(v * v) FROM ${pfx}it$PcaIters) AS den) r0),
         |${pfx}sgn AS (
         |  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
         |  FROM ${pfx}it$PcaIters ORDER BY abs(v) DESC, i LIMIT 1)""".stripMargin
    (Seq(it0) ++ its ++ Seq(fin)).mkString(",\n")
  }

  private def pcaSetupCtes: String = {
    val D = PcaDim
    val K = graft.operators.Pca.Grid
    val setup =
      s"""WITH feats AS MATERIALIZED (
         |$PcaFeatSql),
         |base AS MATERIALIZED (
         |  SELECT o_custkey, i,
         |    CASE i WHEN 1 THEN f1 WHEN 2 THEN f2 WHEN 3 THEN f3 WHEN 4 THEN f4
         |           WHEN 5 THEN f5 WHEN 6 THEN f6
         |           ELSE CAST(1 AS BIGINT) END AS x
         |  FROM feats, range(1, ${D + 2}) t(i)),
         |gram AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS p
         |  FROM base a JOIN base b ON a.o_custkey = b.o_custkey
         |  GROUP BY 1, 2),
         |nmom AS MATERIALIZED (
         |  SELECT p.i, p.j, nn.n * p.p - sa.s * sb.s AS c
         |  FROM (SELECT i, j, p FROM gram WHERE i <= $D AND j <= $D) p
         |  JOIN (SELECT i, p AS s FROM gram WHERE j = ${D + 1} AND i <= $D) sa
         |    ON sa.i = p.i
         |  JOIN (SELECT i, p AS s FROM gram WHERE j = ${D + 1} AND i <= $D) sb
         |    ON sb.i = p.j
         |  CROSS JOIN (SELECT p AS n FROM gram
         |              WHERE i = ${D + 1} AND j = ${D + 1}) nn),
         |grd AS MATERIALIZED (
         |  SELECT CASE
         |    WHEN max(abs(c)) > CAST(9223372036854775807 AS HUGEINT)
         |      THEN error('q216: moment overflow past int64 — subsample customers or coarsen the feature grids')
         |    WHEN min(CASE WHEN i = j THEN c END) <= 0
         |      THEN error('q216: constant feature — correlation undefined; drop it')
         |    ELSE 1 END AS ok
         |  FROM nmom),
         |cmat AS MATERIALIZED (
         |  SELECT q.i, q.j,
         |    CAST(CASE WHEN q.v >= 0 THEN floor(q.v + 0.5)
         |              ELSE -floor(-q.v + 0.5) END AS BIGINT) AS c
         |  FROM (SELECT n1.i, n1.j,
         |          $K * CAST(n1.c AS DOUBLE) /
         |            sqrt(CAST(d1.c AS DOUBLE) * CAST(d2.c AS DOUBLE)) AS v
         |        FROM nmom n1
         |        JOIN nmom d1 ON d1.i = n1.i AND d1.j = n1.i
         |        JOIN nmom d2 ON d2.i = n1.j AND d2.j = n1.j) q, grd),
         |trc AS MATERIALIZED (SELECT sum(c) AS t FROM cmat WHERE i = j)""".stripMargin
    setup
  }

  private def pcaFeatureNamesCase: String =
    "CASE p.i " + PcaFeatNames.zipWithIndex
      .map { case (n, i) => s"WHEN ${i + 1} THEN '$n'" }.mkString(" ") + " END"

  private def pcaOracleSql: String = {
    val K = graft.operators.Pca.Grid
    val fin =
      s"""SELECT CAST(p.i AS INT) AS i,
         |  ${pcaFeatureNamesCase} AS feature,
         |  round(CAST(sgn.s * p.v AS DOUBLE) / $K, 6) + 0.0 AS loading,
         |  round(CAST((ray.num * $K) // (ray.den * trc.t) AS DOUBLE) / $K, 6)
         |    AS ev_share
         |FROM it$PcaIters p, sgn, ray, trc
         |ORDER BY i""".stripMargin
    Seq(pcaSetupCtes, pcaChainCtes("cmat", "")).mkString(",\n") + "\n" + fin
  }

  /** Distributed PCA over per-customer order-behavior features — the
    * dominant mode of customer behavior as ONE top eigenpair of the
    * feature correlation matrix (SURVEY §2.11 north-star: the
    * dimensionality-reduction leg of the analytics stack, the same
    * Gram-then-driver-eigensolve split as `spark.mllib` RowMatrix PCA).
    *
    * Pipeline: one orders scan → per-customer exact-integer features
    * (order count, total spend on a $10k grid, max/min order price on a
    * $1k grid, distinct active months, urgent-priority count — every
    * one quantized BEFORE any aggregation crosses rows, so no float sum
    * exists anywhere) → the (D+1)-dim augmented Gram trick (a constant
    * 1 appended to each feature vector makes ONE (i,j) aggregate yield
    * P_ij, the sums S_i = P_i,D+1 AND the count N = P_D+1,D+1 — one
    * shuffle, 49 cells) → collect the 49 exact decimal(38,0) cells (the
    * KB-scale codebook-collect house class) → correlation quantization
    * + 48 exact-integer power-iteration steps on the driver
    * ([[graft.operators.Pca]]) → a 6-row literal result.
    *
    * Result: per feature, its loading on the top principal component
    * (∞-normalized: max-|loading| = 1, sign fixed so that component is
    * positive) and the explained-variance share (Rayleigh / trace). On
    * this corpus the top PC explains ~0.59 of the correlation trace and
    * loads positively on count/spend/months/urgency and negatively on
    * min price — the "many cheap frequent orders" behavioral axis.
    *
    * Scale: the only data-sized stages are the orders scan and the
    * custkey shuffle (both linear, the q197 grain); the Gram explode is
    * 49 rows per customer collapsing map-side into 49 partial cells.
    * Headroom: moment numerators stay int64-exact to ~3×10⁷ customers
    * at these grids; past that both dialects raise loudly with the
    * remedy (subsample or coarsen — see grd / Pca.corrGrid). The
    * iteration count is fixed (λ₂/λ₁ ≈ 0.30 on this corpus ⇒ 48 steps
    * converge far past the 1e-6 grid); parity never depends on
    * convergence (both engines compute the identical iterate). */
  /** q216's distributed stage: the (D+1)-dim augmented moment cells —
    * exposed so PlanSpec can pin the scan pruning and exchange shape of
    * the part of the query that actually touches data (the registered
    * result itself is a driver-built literal relation). */
  private[graft] def pcaMoments(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L).as("urgent"))
    val feats = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("f1"), sum(col("cents")).as("sc"),
        max(col("cents")).as("mxc"), min(col("cents")).as("mnc"),
        countDistinct(col("ym")).as("f5"), sum(col("urgent")).as("f6"))
      .select(col("f1"),
        expr("(sc + 500000) div 1000000").as("f2"),
        expr("(mxc + 50000) div 100000").as("f3"),
        expr("(mnc + 50000) div 100000").as("f4"),
        col("f5"), col("f6"))
    val fa = array(col("f1"), col("f2"), col("f3"), col("f4"),
      col("f5"), col("f6"), lit(1L))
    feats.select(fa.as("fa"))
      .select(col("fa"), posexplode(col("fa")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("fa")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("xi") * col("xj")).cast(DecimalType(38, 0))).as("p"))
  }

  val q216FeaturePca = Q("q216_feature_pca", pcaOracleSql) { (spark, dir) =>
    val cells = pcaMoments(spark, dir).collect()
    val D = PcaDim
    val P = Array.ofDim[BigInt](D + 1, D + 1)
    cells.foreach { r =>
      P(r.getInt(0))(r.getInt(1)) = r.getDecimal(2).toBigInteger
    }
    val n = P(D)(D)
    val num = Array.tabulate(D, D)((i, j) => n * P(i)(j) - P(i)(D) * P(j)(D))
    val mx = num.flatten.map(_.abs).max
    require(mx <= BigInt(Long.MaxValue),
      "q216: moment overflow past int64 — subsample customers or coarsen the feature grids")
    val (v, evGrid) =
      graft.operators.Pca.powerTop(graft.operators.Pca.corrGrid(num), PcaIters)
    val k = graft.operators.Pca.Grid.toDouble
    import spark.implicits._
    (0 until D).map { i =>
      (i + 1, PcaFeatNames(i), v(i).toDouble / k, evGrid.toDouble / k)
    }.toDF("i", "feature", "loading", "ev_share").orderBy(col("i"))
  }

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * customer-base cube next to q216's behavioral axis (SURVEY §2.11
    * north-star: the segmentation leg of the analytics stack). Per
    * customer: R = recency (represented as −last-order-month — quintiles
    * are shift-invariant, so this is label-identical to
    * months-since-anchor while removing the global-max anchor pass the
    * textbook formulation needs), F = order count, M = total spend in
    * exact cents; each metric scored into quintiles, customers rolled
    * up per (r,f,m) segment.
    *
    * The quintile is TIE-COHERENT by construction: every customer with
    * the same metric VALUE gets the same score
    * (`q(v) = ⌈5·cum(v)/N⌉` over the value-grain cumulative count —
    * NTILE's arbitrary tie-splitting would be nondeterministic across
    * engines), with M pre-gridded to $10k (q216's f2 grid) so its value
    * domain stays bounded. Recency inverts (`6 − q`): recent = high.
    *
    * Scale: the three metric cumsums run as ONE
    * [[graft.operators.Ecdf.groupedCumsum]] partitioned by metric over
    * the in-row-exploded (metric, value) counts — one value-grain
    * shuffle for all three, no corpus-wide NTILE sort anywhere; the
    * three quintile maps are bounded (R ≤ months, F ≤ max orders,
    * M/$10k) so AQE broadcasts the join-backs unhinted. The
    * customer-grain relation is consumed twice (counts + join-back) —
    * two orders scans, the documented trade against caching a
    * fact-proportional relation.
    *
    * Exactness: cents quantized per order row before any sum; all
    * ranks/counts BIGINT; quintiles are pure integer arithmetic
    * (`(5·cum + N − 1) div N`); avg_monetary is one final division of
    * exact sums (exact under 2^53 total segment cents — past that the
    * accepted identical-inputs class). */
  val q219RfmSegments = Q(
    "q219_rfm_segments",
    """WITH o AS (
      |  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    year(o_orderdate) * 12 + month(o_orderdate) AS ym
      |  FROM orders),
      |cust AS (
      |  SELECT o_custkey, max(ym) AS lastym, CAST(count(*) AS BIGINT) AS f,
      |    CAST(sum(cents) AS BIGINT) AS m
      |  FROM o GROUP BY 1),
      |feat AS (
      |  SELECT o_custkey, CAST(-lastym AS BIGINT) AS r,
      |    f, m, m // 1000000 AS mg
      |  FROM cust),
      |vals AS (
      |  SELECT 'r' AS metric, r AS v FROM feat
      |  UNION ALL SELECT 'f', f FROM feat
      |  UNION ALL SELECT 'm', mg FROM feat),
      |cnt AS (SELECT metric, v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY 1, 2),
      |cum AS (
      |  SELECT metric, v,
      |    sum(c) OVER (PARTITION BY metric ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY metric) AS tot
      |  FROM cnt),
      |qmap AS (SELECT metric, v, (5 * cum + tot - 1) // tot AS q FROM cum)
      |SELECT rq.q AS r_q, fq.q AS f_q, mq.q AS m_q,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  round(CAST(sum(feat.m) AS DOUBLE) / (count(*) * 100), 2) AS avg_monetary
      |FROM feat
      |JOIN (SELECT v, CAST(6 - q AS INT) AS q FROM qmap WHERE metric = 'r') rq
      |  ON rq.v = feat.r
      |JOIN (SELECT v, CAST(q AS INT) AS q FROM qmap WHERE metric = 'f') fq
      |  ON fq.v = feat.f
      |JOIN (SELECT v, CAST(q AS INT) AS q FROM qmap WHERE metric = 'm') mq
      |  ON mq.v = feat.mg
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("ym"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("ym")).as("lastym"), count(lit(1)).as("f"),
        sum(col("cents")).as("m"))
    // recency metric = −lastym, NOT months-since-anchor: quintiles are
    // shift-invariant, so subtracting the global max month changes no
    // label while costing a 1-row anchor aggregate whose BNLJ inside
    // this multiply-consumed subtree re-planned the whole orders
    // pipeline per consumer (measured: 7 BNLJs / 7 scans in the first
    // formulation)
    val feat = cust
      .select(col("o_custkey"), (-col("lastym")).as("r"),
        col("f"), col("m"), expr("m div 1000000").as("mg"))
    val vals = feat.select(explode(array(
        struct(lit("r").as("metric"), col("r").as("v")),
        struct(lit("f").as("metric"), col("f").as("v")),
        struct(lit("m").as("metric"), col("mg").as("v")))).as("mv"))
      .select(col("mv.metric").as("metric"), col("mv.v").as("v"))
    val cum = graft.operators.Ecdf.groupedCumsum(
      vals.groupBy(col("metric"), col("v")).agg(count(lit(1)).as("c")),
      Seq("metric"), "v", Seq("c"))
    // the quintile map is bounded (|months| + |max orders| + |$10k
    // grid| rows) — checkpointed so its three filter-consumers read
    // the materialized relation instead of re-planning the cumsum
    // pipeline (and its orders scan) once per metric
    val qmap = cum.select(col("metric"), col("v"),
      expr("(5 * cum_c + tot_c - 1) div tot_c").as("q"))
      .localCheckpoint()
    def qm(metric: String, outCol: String, invert: Boolean) = {
      val q = if (invert) lit(6) - col("q") else col("q")
      qmap.filter(col("metric") === metric)
        .select(col("v"), q.cast("int").as(outCol))
    }
    feat
      .join(qm("r", "r_q", invert = true).withColumnRenamed("v", "r"), Seq("r"))
      .join(qm("f", "f_q", invert = false).withColumnRenamed("v", "f"), Seq("f"))
      .join(qm("m", "m_q", invert = false).withColumnRenamed("v", "mg"), Seq("mg"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("m")).cast("double") / (count(lit(1)) * 100), 2)
          .as("avg_monetary"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** Weight-of-evidence / information-value feature screening — the
    * credit-scoring staple that ranks candidate features by how much
    * they separate a binary label BEFORE any model is trained (SURVEY
    * §2.11 north-star: the feature-selection leg next to q216's PCA and
    * q153's AUC). Label: urgent-priority order. Three candidate
    * features binned in-row: price band ($10k), order month-of-year
    * (seasonality), customer nation (one equi-join).
    *
    * Per (feature, bin): WOE with Laplace-0.5 smoothing —
    * `ln(((2·pos+1)·N) / ((2·neg+1)·P))`, the +0.5-per-cell variant
    * folded into exact integers so both engines take `ln` of the
    * IDENTICAL double (no zero-cell −∞, no float before the ln);
    * per feature: IV = Σ(dpos − dneg)·woe with each bin's term
    * quantized to the 1e-9 grid as BIGINT before the window sum
    * (q212's exact-metric discipline — a float Σ over bins would be
    * summation-order sensitive across engines). IV reading: <0.02
    * useless, 0.1–0.3 medium, >0.5 suspicious.
    *
    * Scale: ONE orders scan (the three features explode in-row after
    * the customer equi-join), one hash aggregate to the bounded
    * (feature, bin) grain (12 + |bands| + 25 rows), and the P/N
    * normalizers are window sums over that bounded relation — every
    * feature partitions the same order set, so no global-aggregate
    * join is needed at all (the q219 lesson: a 1-row build inside a
    * multiply-consumed subtree re-plans the pipeline per consumer). */
  val q221WoeIv = Q(
    "q221_woe_iv",
    """WITH o AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |              THEN 1 ELSE 0 END AS pos,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS band,
      |    CAST(month(o_orderdate) AS BIGINT) AS mth,
      |    CAST(c_nationkey AS BIGINT) AS nat
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |bins AS (
      |  SELECT f.feature, f.bin,
      |    CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(1 - pos) AS BIGINT) AS n_neg
      |  FROM o, LATERAL (VALUES ('price_band', band), ('order_month', mth),
      |                          ('nation', nat)) f(feature, bin)
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT feature, bin, n_pos, n_neg,
      |    sum(n_pos) OVER (PARTITION BY feature) AS p,
      |    sum(n_neg) OVER (PARTITION BY feature) AS n
      |  FROM bins),
      |t AS (
      |  SELECT feature, bin, n_pos, n_neg,
      |    ok * ln(CAST((2 * n_pos + 1) * n AS DOUBLE)
      |       / CAST((2 * n_neg + 1) * p AS DOUBLE)) AS woe,
      |    CAST(round(ok * (CAST(n_pos AS DOUBLE) / p - CAST(n_neg AS DOUBLE) / n)
      |      * ln(CAST((2 * n_pos + 1) * n AS DOUBLE)
      |           / CAST((2 * n_neg + 1) * p AS DOUBLE)) * 1e9) AS BIGINT) AS ivt
      |  FROM (SELECT *, CASE WHEN p + n > 2000000000
      |          THEN error('q221: label count past the int64 smoothing headroom (2T^2) — subsample rows')
      |          ELSE 1 END AS ok FROM w) w2)
      |SELECT feature, bin, n_pos, n_neg,
      |  round(woe, 6) + 0.0 AS woe,
      |  round(CAST(sum(ivt) OVER (PARTITION BY feature) AS DOUBLE) / 1e9, 6) + 0.0
      |    AS iv
      |FROM t
      |ORDER BY feature, bin""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("pos"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) div 1000000").as("band"),
        month(col("o_orderdate")).cast("long").as("mth"),
        col("c_nationkey").cast("long").as("nat"))
    val bins = o
      .select(col("pos"), explode(array(
        struct(lit("price_band").as("feature"), col("band").as("bin")),
        struct(lit("order_month").as("feature"), col("mth").as("bin")),
        struct(lit("nation").as("feature"), col("nat").as("bin")))).as("fb"))
      .groupBy(col("fb.feature").as("feature"), col("fb.bin").as("bin"))
      .agg(sum(col("pos")).as("n_pos"), sum(lit(1L) - col("pos")).as("n_neg"))
    val byFeature = Window.partitionBy(col("feature"))
    val w = bins
      .withColumn("p", sum(col("n_pos")).over(byFeature))
      .withColumn("n", sum(col("n_neg")).over(byFeature))
    // two-sided loud guard (the q224 convention): (2·pos+1)·n needs
    // 2T² within int64 — past ~2×10⁹ labeled rows the long product
    // would wrap silently under non-ANSI while the oracle's HUGEINT
    // stays exact; ok multiplies INTO woe so pruning cannot drop it
    val wg = w.withColumn("ok", when(col("p") + col("n") > 2000000000L,
      raise_error(lit("q221: label count past the int64 smoothing headroom (2T^2) — subsample rows")).cast("int"))
      .otherwise(lit(1)))
    val woe = col("ok") * log(((lit(2) * col("n_pos") + 1) * col("n")).cast("double")
      / ((lit(2) * col("n_neg") + 1) * col("p")).cast("double"))
    val t = wg.withColumn("woe_raw", woe)
      .withColumn("ivt",
        round((col("n_pos").cast("double") / col("p")
          - col("n_neg").cast("double") / col("n")) * col("woe_raw") * 1e9)
          .cast("long"))
    t.select(col("feature"), col("bin"), col("n_pos"), col("n_neg"),
        Q.noNegZero(round(col("woe_raw"), 6)).as("woe"),
        Q.noNegZero(round(sum(col("ivt")).over(byFeature).cast("double") / 1e9, 6))
          .as("iv"))
      .orderBy(col("feature"), col("bin"))
  }

  /** Generated oracle for q223: TWO unrolled power-iteration chains —
    * the original `cmat` (prefix `a`) and the Hotelling-deflated
    * `cmat2` (prefix `b`) — with the deflation itself in exact HUGEINT
    * arithmetic mirroring [[graft.operators.Pca.deflate]]. Both
    * components' Rayleigh quotients price against the ORIGINAL matrix. */
  private def pca2OracleSql: String = {
    val K = graft.operators.Pca.Grid
    val defl =
      s"""c2raw AS MATERIALIZED (
         |  SELECT c.i, c.j, c.c * r.den * r.den - r.num * va.v * vb.v AS c
         |  FROM cmat c CROSS JOIN aray r
         |  JOIN ait$PcaIters va ON va.i = c.i
         |  JOIN ait$PcaIters vb ON vb.i = c.j),
         |cmat2 AS MATERIALIZED (
         |  SELECT i, j, CASE WHEN c >= 0 THEN (2 * $K * c + m) // (2 * m)
         |               ELSE -((2 * $K * (-c) + m) // (2 * m)) END AS c
         |  FROM c2raw, (SELECT max(abs(c)) AS m FROM c2raw))""".stripMargin
    val fin =
      s"""SELECT u.component, CAST(u.i AS INT) AS i,
         |  ${pcaFeatureNamesCase.replace("p.i", "u.i")} AS feature,
         |  round(CAST(u.sv AS DOUBLE) / $K, 6) + 0.0 AS loading,
         |  round(CAST((u.num * $K) // (u.den * trc.t) AS DOUBLE) / $K, 6)
         |    AS ev_share
         |FROM (
         |  SELECT 1 AS component, p.i, s.s * p.v AS sv, r.num, r.den
         |  FROM ait$PcaIters p, asgn s, aray r
         |  UNION ALL
         |  SELECT 2, p.i, s.s * p.v, r.num, r.den
         |  FROM bit$PcaIters p, bsgn s, bray r) u, trc
         |ORDER BY component, i""".stripMargin
    Seq(pcaSetupCtes, pcaChainCtes("cmat", "a"), defl,
      pcaChainCtes("cmat2", "b")).mkString(",\n") + "\n" + fin
  }

  /** Two-component PCA — q216's top eigenpair plus the SECOND principal
    * component via Hotelling deflation, both on the exact-integer
    * lattice (SURVEY §2.11: the two-axis map of the customer-behavior
    * space — PC1 is the "many cheap frequent orders" volume axis, PC2
    * on this corpus is a price-range axis loading on max/min order
    * price against order count).
    *
    * The deflation `C₂ = C·den² − num·vvᵀ` (λ₁ = num/den) is exact
    * integer arithmetic re-quantized onto the ±Grid lattice by its own
    * max ([[graft.operators.Pca.deflate]] — magnitude bound documented
    * there, D ≤ 6 fits HUGEINT), so the second chain is as exactly
    * mirrored as the first; both components' explained-variance shares
    * are Rayleigh quotients against the ORIGINAL matrix. The
    * distributed stage is the same ONE 49-cell moment aggregate as
    * q216 ([[pcaMoments]]); everything after is KB-scale driver math.
    * Component 1 rows are BY CONSTRUCTION identical to q216's output
    * (StatsSpec pins the cross-query consistency). */
  val q223PcaTwo = Q("q223_pca_two", pca2OracleSql) { (spark, dir) =>
    import graft.operators.Pca
    val cells = pcaMoments(spark, dir).collect()
    val D = PcaDim
    val P = Array.ofDim[BigInt](D + 1, D + 1)
    cells.foreach { r =>
      P(r.getInt(0))(r.getInt(1)) = r.getDecimal(2).toBigInteger
    }
    val n = P(D)(D)
    val num = Array.tabulate(D, D)((i, j) => n * P(i)(j) - P(i)(D) * P(j)(D))
    require(num.flatten.map(_.abs).max <= BigInt(Long.MaxValue),
      "q223: moment overflow past int64 — subsample customers or coarsen the feature grids")
    val c = Pca.corrGrid(num)
    val trace = (0 until D).map(i => c(i)(i)).sum
    val (v1, _) = Pca.powerTop(c, PcaIters)
    val (n1, d1) = Pca.rayleigh(c, v1)
    val (v2, _) = Pca.powerTop(Pca.deflate(c, v1, n1, d1), PcaIters)
    val (n2, d2) = Pca.rayleigh(c, v2)
    val k = Pca.Grid.toDouble
    val g = BigInt(Pca.Grid)
    import spark.implicits._
    Seq((1, v1, n1, d1), (2, v2, n2, d2)).flatMap { case (comp, v, nm, dn) =>
      val ev = ((nm * g) / (dn * trace)).toDouble / k
      (0 until D).map(i => (comp, i + 1, PcaFeatNames(i), v(i).toDouble / k, ev))
    }.toDF("component", "i", "feature", "loading", "ev_share")
      .orderBy(col("component"), col("i"))
  }

  /** Decision-stump split finding — per candidate feature, the best
    * single split by Gini gain against the urgent-priority label
    * (SURVEY §2.11 north-star: the split-screening companion to q221's
    * WOE — WOE ranks features by global separation, this finds the
    * actionable THRESHOLD, the building block of any distributed tree
    * learner). Ordered features (price in $1k bands, order month)
    * split as `≤ v` over every present cutpoint; the categorical
    * feature (nation) splits one-vs-rest (`= v`).
    *
    * Exactness: the weighted-child-impurity objective is minimized by
    * maximizing `Q = ((pL²+nL²)·tR + (pR²+nR²)·tL) / (tL·tR)` — every
    * term an exact BIGINT from the label counts, so both engines
    * compute the IDENTICAL double for Q and the per-feature argmax
    * (rank by Q desc, threshold asc) is deterministic; the reported
    * gain re-derives from the same exact integers and rounds once.
    *
    * Scale: one orders scan + one customer equi-join, in-row feature
    * explode to (feature, value, pos, neg) counts (bounded: |$1k
    * bands| + 12 + 25 rows), cumulative label counts via the SAME
    * metric-partitioned [[graft.operators.Ecdf.groupedCumsum]] as
    * q219, and the argmax is a window over the bounded cutpoint
    * relation. No NTILE, no global sort, no per-row anything. */
  val q224SplitGain = Q(
    "q224_split_gain",
    """WITH o AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |              THEN 1 ELSE 0 END AS pos,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS band,
      |    CAST(month(o_orderdate) AS BIGINT) AS mth,
      |    CAST(c_nationkey AS BIGINT) AS nat
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cnt AS (
      |  SELECT f.feature, f.kind, f.v,
      |    CAST(sum(pos) AS BIGINT) AS p, CAST(sum(1 - pos) AS BIGINT) AS q
      |  FROM o, LATERAL (VALUES ('price_band_1k', 'le', band),
      |                          ('order_month', 'le', mth),
      |                          ('nation', 'eq', nat)) f(feature, kind, v)
      |  GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT feature, kind, v,
      |    CASE WHEN kind = 'le'
      |         THEN sum(p) OVER (PARTITION BY feature ORDER BY v) ELSE p END AS pl,
      |    CASE WHEN kind = 'le'
      |         THEN sum(q) OVER (PARTITION BY feature ORDER BY v) ELSE q END AS nl,
      |    sum(p) OVER (PARTITION BY feature) AS pt,
      |    sum(q) OVER (PARTITION BY feature) AS nt
      |  FROM cnt),
      |sc AS (
      |  SELECT feature, kind, v, pl, nl, pt, nt,
      |    pl + nl AS tl, (pt + nt) - (pl + nl) AS tr,
      |    pt - pl AS pr, nt - nl AS nr,
      |    CASE WHEN pt + nt > 2000000
      |         THEN error('q224: label count past the int64 objective headroom (T^3) — subsample rows')
      |         ELSE 1 END AS ok
      |  FROM cum
      |  WHERE pl + nl > 0 AND (pt + nt) - (pl + nl) > 0),
      |qq AS (
      |  SELECT *, ok * CAST((pl * pl + nl * nl) * tr + (pr * pr + nr * nr) * tl
      |                 AS DOUBLE) / (CAST(tl AS DOUBLE) * tr) AS qv,
      |    row_number() OVER (PARTITION BY feature ORDER BY
      |      ok * CAST((pl * pl + nl * nl) * tr + (pr * pr + nr * nr) * tl AS DOUBLE)
      |        / (CAST(tl AS DOUBLE) * tr) DESC, v) AS rn
      |  FROM sc)
      |SELECT feature, kind AS split_kind, CAST(v AS BIGINT) AS threshold,
      |  CAST(tl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
      |  round((1.0 - (CAST(pt AS DOUBLE) * pt + CAST(nt AS DOUBLE) * nt)
      |           / (CAST(pt + nt AS DOUBLE) * (pt + nt)))
      |        - (1.0 - qv / (pt + nt)), 6) + 0.0 AS gini_gain
      |FROM qq WHERE rn = 1
      |ORDER BY feature""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("pos"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100000").as("band"),
        month(col("o_orderdate")).cast("long").as("mth"),
        col("c_nationkey").cast("long").as("nat"))
    val cnt = o
      .select(col("pos"), explode(array(
        struct(lit("price_band_1k").as("feature"), lit("le").as("kind"),
          col("band").as("v")),
        struct(lit("order_month").as("feature"), lit("le").as("kind"),
          col("mth").as("v")),
        struct(lit("nation").as("feature"), lit("eq").as("kind"),
          col("nat").as("v")))).as("fk"))
      .groupBy(col("fk.feature").as("feature"), col("fk.kind").as("kind"),
        col("fk.v").as("v"))
      .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("q"))
    // ordered features take the metric-partitioned cumsum; the
    // categorical one uses its own bin counts directly — both ride the
    // same bounded (feature, v) relation
    val cum = graft.operators.Ecdf
      .groupedCumsum(cnt, Seq("feature", "kind"), "v", Seq("p", "q"))
      .select(col("feature"), col("kind"), col("v"),
        when(col("kind") === "le", col("cum_p")).otherwise(col("p")).as("pl"),
        when(col("kind") === "le", col("cum_q")).otherwise(col("q")).as("nl"),
        col("tot_p").as("pt"), col("tot_q").as("nt"))
    val sc = cum
      .withColumn("tl", col("pl") + col("nl"))
      .withColumn("tr", col("pt") + col("nt") - col("tl"))
      .withColumn("pr", col("pt") - col("pl"))
      .withColumn("nr", col("nt") - col("nl"))
      .filter(col("tl") > 0 && col("tr") > 0)
      // two-sided loud guard (the house convention): pl²·tr needs T³
      // within int64 — past ~2×10⁶ labeled rows both dialects raise
      // with the same remedy instead of silently wrapping
      .withColumn("ok", when(col("pt") + col("nt") > 2000000L,
        raise_error(lit("q224: label count past the int64 objective headroom (T^3) — subsample rows")).cast("int"))
        .otherwise(lit(1)))
    // ok multiplies INTO the objective so column pruning cannot drop
    // the guard (ok = 1 on the safe path — exact identity)
    val qv = col("ok") * ((col("pl") * col("pl") + col("nl") * col("nl")) * col("tr")
      + (col("pr") * col("pr") + col("nr") * col("nr")) * col("tl"))
      .cast("double") / (col("tl").cast("double") * col("tr"))
    val qq = sc.withColumn("qv", qv)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("feature")).orderBy(col("qv").desc, col("v"))))
      .filter(col("rn") === 1)
    val t = col("pt") + col("nt")
    qq.select(col("feature"), col("kind").as("split_kind"),
        col("v").as("threshold"), col("tl").as("n_left"),
        col("pl").as("pos_left"),
        Q.noNegZero(round(
          (lit(1.0) - (col("pt").cast("double") * col("pt")
            + col("nt").cast("double") * col("nt"))
            / (t.cast("double") * t))
          - (lit(1.0) - col("qv") / t), 6)).as("gini_gain"))
      .orderBy(col("feature"))
  }

  /** Bradley–Terry preference-strength fit (Bradley & Terry 1952;
    * Hunter 2004 MM) over within-order brand duels — the aggregation
    * layer of preference/reward data work (human-preference scoring,
    * policy/annotator ranking, reward-dataset QA) expressed on the
    * synthetic schema: within each order, the brand with the larger
    * total quantity beats every other brand in that order (ties emit
    * no duel). ~1M duels at sf0.1 collapse to a 25-brand pair table.
    *
    * Scale split (the q216 PCA precedent): the corpus-sized stage is
    * ONE (winner, loser) count aggregate at item-pair grain; the MM
    * iterations run driver-side over the collected ≤ items² pair rows
    * (25 brands → ≤ 600) in exact BigInt lattice arithmetic —
    * θ⁰ = 10⁹; Sᵢ = Σⱼ ⌊m(i,j)·10¹⁸/(θᵢ+θⱼ)⌋; θ'ᵢ = max(⌊wᵢ·10¹⁸/Sᵢ⌋, 1);
    * mean-1 renormalize — mirrored term-for-term by 30 generated
    * MATERIALIZED HUGEINT CTE rounds, so both engines land on the
    * IDENTICAL theta_nano integers (zero float boundary; floor
    * divisions of nonnegative integers agree in BigInt and `//`). */
  val q237BradleyTerry: Q = {
    val rounds = 30 // past the MM geometric knee (spec: ~2.5e-6 by 40 on a 3-item design; 25 well-connected items converge faster)
    val E18 = "CAST('1000000000000000000' AS HUGEINT)"
    def roundCtes(t: Int): String =
      s"""s$t AS (
         |  SELECT p.i,
         |    sum(CAST(p.n AS HUGEINT) * $E18 // (a.th + b.th)) AS s
         |  FROM st p JOIN th${t - 1} a ON a.i = p.i JOIN th${t - 1} b ON b.i = p.j
         |  GROUP BY 1),
         |raw$t AS (
         |  SELECT w.i,
         |    greatest(CASE WHEN s.s = 0 THEN CAST(1 AS HUGEINT)
         |      ELSE CAST(w.w AS HUGEINT) * $E18 // s.s END, 1) AS th
         |  FROM wtot w JOIN s$t s ON s.i = w.i),
         |tot$t AS (SELECT sum(th) AS tot FROM raw$t),
         |th$t AS MATERIALIZED (
         |  SELECT r.i, greatest(r.th * ic.k * CAST(1000000000 AS HUGEINT) // t.tot, 1) AS th
         |  FROM raw$t r, tot$t t, ic)""".stripMargin
    Q("q237_bradley_terry",
      s"""WITH cmp AS (
         |  SELECT l_orderkey AS o, p_brand AS b,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
         |  FROM lineitem l JOIN part p ON p_partkey = l_partkey
         |  GROUP BY 1, 2),
         |wins AS MATERIALIZED (
         |  SELECT a.b AS i, b.b AS j, CAST(count(*) AS BIGINT) AS n
         |  FROM cmp a JOIN cmp b ON a.o = b.o AND a.b <> b.b AND a.q > b.q
         |  GROUP BY 1, 2),
         |st AS MATERIALIZED (
         |  SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM (
         |    SELECT i, j, n FROM wins
         |    UNION ALL SELECT j AS i, i AS j, n FROM wins) t
         |  GROUP BY 1, 2),
         |it AS MATERIALIZED (SELECT DISTINCT i FROM st),
         |wtot AS MATERIALIZED (
         |  SELECT it.i, CAST(coalesce(sum(w.n), 0) AS BIGINT) AS w
         |  FROM it LEFT JOIN wins w ON w.i = it.i GROUP BY 1),
         |ltot AS (
         |  SELECT it.i, CAST(coalesce(sum(w.n), 0) AS BIGINT) AS lo
         |  FROM it LEFT JOIN wins w ON w.j = it.i GROUP BY 1),
         |ic AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM it),
         |th0 AS MATERIALIZED (SELECT i, CAST(1000000000 AS HUGEINT) AS th FROM it),
         |${(1 to rounds).map(roundCtes).mkString(",\n")}
         |SELECT th.i AS item, w.w AS n_wins, l.lo AS n_losses,
         |  CAST(th.th AS BIGINT) AS theta_nano
         |FROM th$rounds th JOIN wtot w ON w.i = th.i JOIN ltot l ON l.i = th.i
         |ORDER BY theta_nano DESC, item""".stripMargin) { (spark, dir) =>
      val cmp = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir), col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_orderkey").as("o"), col("p_brand").as("b"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      // (r16 audit: a localCheckpoint here was A/B'd FLAT — 1.26 →
      // 1.27 s isolated min — because the two self-join sides are the
      // IDENTICAL subtree, so ReuseExchange already materializes the
      // (o,b) aggregate exchange once at runtime; the cut would only
      // add an eager job. Left lazy deliberately — the r15 "don't
      // blind-checkpoint where ReuseExchange dedupes" rule.)
      val duels = cmp.as("a").join(cmp.as("b"),
          col("a.o") === col("b.o") && col("a.b") =!= col("b.b") &&
            col("a.q") > col("b.q"))
        .select(col("a.b").as("winner"), col("b.b").as("loser"))
      graft.operators.BradleyTerry.fit(duels, rounds)
        .orderBy(col("theta_nano").desc, col("item"))
    }
  }

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02RegionActivity, q03ShippingPriority, q04SemiJoin,
    q05AntiJoin, q06ForecastRevenue, q07TopOrders, q08LatestOrderPerCustomer,
    q09RunningRevenue, q10SetOps, q11Rollup, q12Cube, q13Distinct,
    q14Percentiles, q15RangeJoinBands, q16FanoutPagination, q17UnionSnapshot,
    q38ApproxDistinct, q40LocalSupplierVolume, q41RankingSuite, q42GroupingSets,
    q47Unpivot, q49HashSample, q55FullOuter, q56AnalyticSuite, q57SkewJoin,
    q61SplitLabels, q64Histogram, q66RevenueShare, q67PromoRevenue, q82BloomSemiJoin,
    q88ZorderLayout, q90EquidepthBins, q97TopkPerGroup, q102QualityChecks,
    q110ProfileOrders, q111BasketPairs, q124UpsertMerge, q125IncrementalAgg,
    q129IntervalOverlap, q134SketchedQuantiles, q135SnapshotDiff,
    q145RevenueTrend, q152ForecastBacktest, q159JoinForecast,
    q168BenfordDigits, q170CusumChangepoint, q171SeasonalDecompose,
    q172HilbertLayout, q174TheilSen, q175RecordLinkage,
    q181AnovaF, q182ChiSqIndependence, q183MannKendall,
    q184GiniConcentration, q185KsDrift, q186MutualInformation, q187RevenueAcf,
    q197RobustMeans, q198SpearmanRank, q199DriftAlarmsBh, q200HillTailIndex,
    q203WassersteinDrift, q205DriftMonitor, q207AdMonitor, q209DriftTrajectory,
    q210DriftPanel, q211TrajectoryAlarms, q215KAnonymity, q216FeaturePca, q229TCloseness, q219RfmSegments, q221WoeIv, q223PcaTwo,
    q224SplitGain, q237BradleyTerry)
}
