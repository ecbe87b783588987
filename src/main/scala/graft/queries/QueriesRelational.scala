package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, Text, Vec}
import graft.operators.{AllPairs, Boilerplate, Classify, Dedup, Mix, Multimodal, Sessionize, Similarity, SuffixArray}
import graft.pipeline.{Fill, GoldenRecord, Validate}

import graft.queries.Queries.QueryDef
import graft.queries.Shared._

/** Relational analytics over the TPC-H-ish tables: scans, joins, aggregates, windows, sampling, stats/eval audits.
  *
  * One registry shard of [[Queries.all]] — same QueryDef/oracle
  * conventions (see [[Queries]]'s scaladoc); split from the single
  * 11.6k-line Queries.scala in round 16 for maintainability. */
private[queries] object QueriesRelational {

  def defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------------
    // q1: scan -> filter -> hash aggregate (A1/A4 analogue; TPC-H Q1 shape).
    // Partial aggregation (map-side combine) keeps the shuffle at
    // |groups| x partitions regardless of corpus size.
    QueryDef("q1_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),


    // ---------------------------------------------------------------------
    // q2: tight filter + single aggregate (TPC-H Q6 shape). Predicate reaches
    // the parquet scan (PushedFilters), only 4 columns are read.
    QueryDef("q2_revenue_filter",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(
            col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
            .as("revenue"))
      },
      Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),


    // ---------------------------------------------------------------------
    // q3: 3-way join -> aggregate -> top-k (TPC-H Q3 shape). customer is the
    // small side (broadcast); ranking totally ordered via orderkey tiebreak.
    QueryDef("q3_top_orders",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderkey, order_date
             |ORDER BY revenue DESC, o_orderkey ASC
             |LIMIT 10""".stripMargin)),


    // ---------------------------------------------------------------------
    // q4: snowflake dimension joins (both broadcast) + rollup per region.
    QueryDef("q4_region_suppliers",
      (s, dir) => {
        val sup = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        sup.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_suppliers"),
            round(sum(col("s_acctbal")), 2).as("total_acctbal"))
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name, count(*) AS n_suppliers,
             |  round(sum(s_acctbal), 2) AS total_acctbal
             |FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),


    // ---------------------------------------------------------------------
    // q5: window ranking (P7/P8/J4 analogue): top-3 orders per customer,
    // totally ordered (price desc, orderkey asc).
    QueryDef("q5_top_orders_per_cust",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        o.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),


    // ---------------------------------------------------------------------
    // q7: set operation (§2.7): distinct union of nation keys from two tables.
    QueryDef("q7_union_nations",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        c.union(sup).distinct().orderBy(col("nationkey"))
      },
      Some("""SELECT DISTINCT nationkey FROM (
             |  SELECT c_nationkey AS nationkey FROM customer
             |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
             |ORDER BY nationkey""".stripMargin)),


    // ---------------------------------------------------------------------
    // q8: semi/anti joins (F6 guard analogue): per segment, customers with
    // and without orders. Semi/anti are shuffle-free on the small build side.
    QueryDef("q8_cust_order_activity",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").select(col("o_custkey"))
        val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
        val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
        withO.join(withoutO, Seq("c_mktsegment"), "full_outer")
          .select(col("c_mktsegment"),
            coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
            coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             |  count(CASE WHEN has_o THEN 1 END) AS n_with_orders,
             |  count(CASE WHEN NOT has_o THEN 1 END) AS n_without_orders
             |FROM (SELECT c_mktsegment,
             |        EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
             |      FROM customer)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),


    // ---------------------------------------------------------------------
    // q10: date bucketing (C8) + aggregate; month emitted as a string.
    QueryDef("q10_orders_by_month",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
            col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("total_price"))
          .orderBy(col("month"), col("o_orderstatus"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus,
             |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
             |FROM orders GROUP BY month, o_orderstatus
             |ORDER BY month, o_orderstatus""".stripMargin)),


    // ---------------------------------------------------------------------
    // q31: hierarchical ROLLUP totals (subtotal + grand-total rows) — one
    // aggregation with grouping-set expansion, partial-agg friendly.
    QueryDef("q31_rollup_returns",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
            count(lit(1)).as("n_rows"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("sum_qty"), col("n_rows"))
          .orderBy(col("returnflag"), col("linestatus"))
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)),


    // ---------------------------------------------------------------------
    // q36: statistics per group — exact interpolated median + sample
    // stddev + avg (rounded: summation/merge order differs across engines
    // in the last bits).
    QueryDef("q36_group_stats",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"))
          .agg(round(avg(col("l_quantity")), 6).as("avg_qty"),
            round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
            round(percentile(col("l_quantity"), lit(0.5)), 6).as("median_qty"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(avg(l_quantity), 6) AS avg_qty,
             |  round(stddev_samp(l_quantity), 6) AS sd_qty,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),


    // ---------------------------------------------------------------------
    // q37: set operations (intersect / except) on order-status key sets.
    QueryDef("q37_setops",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val f = o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey"))
        val p = o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey"))
        val both = f.intersect(p).withColumn("set_op", lit("both"))
        val onlyF = f.except(p).withColumn("set_op", lit("only_f"))
        both.unionByName(onlyF).orderBy(col("set_op"), col("custkey"))
      },
      Some("""WITH f AS (SELECT DISTINCT o_custkey AS custkey FROM orders
             |          WHERE o_orderstatus = 'F'),
             |     p AS (SELECT DISTINCT o_custkey AS custkey FROM orders
             |          WHERE o_orderstatus = 'O')
             |SELECT custkey, 'both' AS set_op FROM f INTERSECT SELECT custkey, 'both' FROM p
             |UNION ALL
             |(SELECT custkey, 'only_f' AS set_op FROM f EXCEPT SELECT custkey, 'only_f' FROM p)
             |ORDER BY set_op, custkey""".stripMargin)),


    // ---------------------------------------------------------------------
    // q38: salted two-phase aggregation over a deliberately skewed key
    // (~60% of rows share one key) — result identical to a direct groupBy,
    // hot key spread across phase-1 reducers (operators.Skew).
    QueryDef("q38_skewed_agg",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val keyed = li.select(
          when(col("l_orderkey") % 5 < 3, lit("HOT"))
            .otherwise(concat(lit("k"), (col("l_orderkey") % 97).cast("string")))
            .as("skew_key"),
          col("l_quantity"))
        graft.operators.Skew.saltedAggregate(keyed, col("skew_key"), 16,
            graft.operators.Skew.countAndSum(col("l_quantity")))
          .select(col("key"), col("count").as("n"),
            round(col("sum"), 2).as("sum_qty"))
          .orderBy(col("key"))
      },
      Some("""SELECT CASE WHEN l_orderkey % 5 < 3 THEN 'HOT'
             |  ELSE 'k' || (l_orderkey % 97) END AS key,
             |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY key ORDER BY key""".stripMargin)),


    // ---------------------------------------------------------------------
    // q40: pivot (long -> wide) with explicit value list: revenue by
    // market segment x order status. Explicit values keep the plan a single
    // pass (no extra distinct-values job).
    QueryDef("q40_pivot",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(round(sum(col("o_totalprice")), 2))
          .select(col("c_mktsegment"),
            coalesce(col("F"), lit(0.0)).as("rev_f"),
            coalesce(col("O"), lit(0.0)).as("rev_o"),
            coalesce(col("P"), lit(0.0)).as("rev_p"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             |  coalesce(round(sum(CASE WHEN o_orderstatus = 'F'
             |    THEN o_totalprice END), 2), 0.0) AS rev_f,
             |  coalesce(round(sum(CASE WHEN o_orderstatus = 'O'
             |    THEN o_totalprice END), 2), 0.0) AS rev_o,
             |  coalesce(round(sum(CASE WHEN o_orderstatus = 'P'
             |    THEN o_totalprice END), 2), 0.0) AS rev_p
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),


    // ---------------------------------------------------------------------
    // q42: 6-way snowflake join (TPC-H Q5 shape): revenue by nation where
    // customer and supplier share the nation. Dimensions broadcast; the
    // lineitem<->orders join carries the bulk.
    QueryDef("q42_local_supplier_volume",
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val sup = t(s, dir, "supplier")
        val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      Some("""SELECT n_name,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin)),


    // ---------------------------------------------------------------------
    // q43: correlated-subquery semantics — orders above their customer's
    // average order value, decorrelated into a window aggregate (one
    // shuffle; the SQL twin states it as the correlated form).
    QueryDef("q43_above_cust_avg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
        // the MEMBERSHIP test must also be rounding-stable: engines sum in
        // different orders, so an unrounded avg could sit one ulp apart and
        // flip a boundary row's row-set membership — round the threshold to
        // cents (input precision) on both sides before comparing
        o.withColumn("cust_avg", round(avg(col("o_totalprice")).over(w), 2))
          .filter(col("o_totalprice") > col("cust_avg") * 1.5)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  round(o_totalprice, 2) AS price
             |FROM (
             |  SELECT o_orderkey, o_custkey, o_totalprice,
             |    round(avg(o_totalprice) OVER (PARTITION BY o_custkey), 2)
             |      AS cust_avg
             |  FROM orders)
             |WHERE o_totalprice > cust_avg * 1.5
             |ORDER BY o_orderkey""".stripMargin)),


    // ---------------------------------------------------------------------
    // q45: stratified sampling with per-stratum quotas — at most 30 docs per
    // language, picked in deterministic pseudo-random order (md5 of the id:
    // engine-portable, seed-free, reproducible). The data-mixing primitive
    // of training-corpus construction.
    QueryDef("q45_stratified_sample",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val w = Window.partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
        d.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 30)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 30 ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q48: approximate distinct counting (HyperLogLog++) next to the exact
    // count — the cardinality-sketch surface for 100-TB profiling, where
    // exact countDistinct's shuffle is the bottleneck. Sketches are
    // engine-specific -> no SQL oracle; the spec bounds the relative error.
    QueryDef("q48_approx_distinct",
      (s, dir) => {
        // tolerance-based oracle (same pattern as q55): emit the EXACT
        // distinct counts plus a within-5% flag for the HLL++ sketch; the
        // DuckDB twin emits the exact counts and literal TRUE, so sketch
        // drift beyond tolerance fails the hash compare.
        val li = t(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("a") - col("exact_parts"))
              <= col("exact_parts") * 0.05).as("approx_within_5pct"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS exact_parts,
             |  TRUE AS approx_within_5pct
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),


    // ---------------------------------------------------------------------
    // q49: range (band) join — pairs of events by the same user within 10
    // minutes of each other. The scalable plan: equi-join on the user key
    // carries the shuffle, the time band is a residual predicate (a pure
    // band join without an equi-key would be a BNLJ — avoided by
    // construction, same stance as the Fill disjunction).
    QueryDef("q49_range_join",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        e.as("a").join(e.as("b"),
            col("a.user_id") === col("b.user_id") &&
            col("a.event_id") < col("b.event_id") &&
            abs(unix_micros(col("a.ts")) - unix_micros(col("b.ts")))
              <= 600000000L)
          .select(col("a.event_id").as("id_a"), col("b.event_id").as("id_b"),
            (abs(unix_micros(col("a.ts")) - unix_micros(col("b.ts"))) / 1000000L)
              .cast("long").as("gap_s")) // floor-division, matching DuckDB //
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT a.event_id AS id_a, b.event_id AS id_b,
             |  abs(epoch_us(a.ts) - epoch_us(b.ts)) // 1000000 AS gap_s
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND a.event_id < b.event_id
             |  AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
             |ORDER BY id_a, id_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q51: shipping-priority matrix (TPC-H Q12 shape): join + conditional
    // counts by line status over a date band.
    QueryDef("q51_ship_priority",
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01")))
          .groupBy(col("l_linestatus"))
          .agg(
            count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
              .as("high_line_count"),
            count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
              .as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
             |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    THEN 1 END) AS high_line_count,
             |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |    THEN 1 END) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-01-01'
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),


    // ---------------------------------------------------------------------
    // q52: revenue-share ratio (TPC-H Q14 shape): share of revenue from
    // small-quantity lines per month. The ratio is derived from the two
    // ROUNDED sums so both engines divide identical inputs.
    QueryDef("q52_revenue_share",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
        li.filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-07-01")))
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
          .agg(
            round(sum(when(col("l_quantity") < 10, rev).otherwise(lit(0.0))), 2)
              .as("small_rev"),
            round(sum(rev), 2).as("total_rev"))
          .withColumn("small_share",
            round(col("small_rev") / col("total_rev"), 6))
          .orderBy(col("month"))
      },
      Some("""WITH m AS (
             |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
             |    round(sum(CASE WHEN l_quantity < 10
             |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2)
             |      AS small_rev,
             |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |    AND l_shipdate < TIMESTAMP '1997-07-01'
             |  GROUP BY month)
             |SELECT month, small_rev, total_rev,
             |  round(small_rev / total_rev, 6) AS small_share
             |FROM m ORDER BY month""".stripMargin)),


    // ---------------------------------------------------------------------
    // q53: correlated EXISTS as a LEFT SEMI join (TPC-H Q4 shape; the
    // testdata lacks commit/receipt dates, so "problem line" = returned
    // flag). The semi join hashes on the join key and short-circuits per
    // probe row — no row multiplication, one shuffle on orderkey.
    QueryDef("q53_priority_exists",
      (s, dir) => {
        val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
        o.filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1996-07-01")))
          .join(li.filter(col("l_returnflag") === "R").select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-07-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_returnflag = 'R')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),


    // ---------------------------------------------------------------------
    // q54: EXISTS + NOT EXISTS as LEFT SEMI + LEFT ANTI joins (TPC-H Q21
    // shape): suppliers whose returned line sits in a finished
    // multi-supplier order where NO other supplier also returned. Both
    // subqueries become hash joins on l_orderkey with the supplier
    // inequality as a residual predicate — the scale plan for correlated
    // subqueries (never a per-row re-scan).
    QueryDef("q54_sole_blame",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val finished = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F").select("o_orderkey")
        val returned = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_suppkey"))
        val others = li.select(col("l_orderkey").as("a_orderkey"),
          col("l_suppkey").as("a_suppkey"))
        val othersReturned = returned.select(
          col("l_orderkey").as("r_orderkey"), col("l_suppkey").as("r_suppkey"))
        returned
          .join(finished, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .join(others, col("l_orderkey") === col("a_orderkey") &&
            col("l_suppkey") =!= col("a_suppkey"), "left_semi")
          .join(othersReturned, col("l_orderkey") === col("r_orderkey") &&
            col("l_suppkey") =!= col("r_suppkey"), "left_anti")
          .groupBy(col("l_suppkey").as("suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("suppkey"))
          .limit(20)
      },
      Some("""SELECT l1.l_suppkey AS suppkey, count(*) AS numwait
             |FROM lineitem l1
             |WHERE l1.l_returnflag = 'R'
             |  AND EXISTS (SELECT 1 FROM orders
             |              WHERE o_orderkey = l1.l_orderkey
             |                AND o_orderstatus = 'F')
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND l3.l_returnflag = 'R')
             |GROUP BY suppkey
             |ORDER BY numwait DESC, suppkey
             |LIMIT 20""".stripMargin)),


    // ---------------------------------------------------------------------
    // q55: approximate quantiles (Greenwald-Khanna sketch via
    // percentile_approx) — the mergeable-sketch path for 100-TB quantiles
    // (exact interpolated percentile, q36, buffers each group's values;
    // the GK sketch is bounded-memory and partial-aggregable). Sketch
    // values are accuracy-dependent, so the oracle is TOLERANCE-based
    // inside the exact-hash harness: the query emits the EXACT quantiles
    // plus a Spark-computed within-1%-of-exact flag for the sketch; the
    // DuckDB twin emits the same exact quantiles and literal TRUE. Sketch
    // drift beyond tolerance flips the flag and fails the hash compare.
    QueryDef("q55_approx_quantiles",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val qs = Seq(0.25, 0.5, 0.9, 0.99)
        val agged = li.groupBy(col("l_returnflag"))
          .agg(
            percentile_approx(col("l_extendedprice"),
              array(qs.map(lit): _*), lit(10000)).as("a"),
            percentile(col("l_extendedprice"),
              array(qs.map(lit): _*)).as("e"),
            count(lit(1)).as("n"))
        val withinTol = (1 to qs.size).map(i =>
          abs(element_at(col("a"), i) - element_at(col("e"), i))
            <= element_at(col("e"), i) * 0.01).reduce(_ && _)
        agged.select(col("l_returnflag"),
            round(element_at(col("e"), 1), 4).as("p25"),
            round(element_at(col("e"), 2), 4).as("p50"),
            round(element_at(col("e"), 3), 4).as("p90"),
            round(element_at(col("e"), 4), 4).as("p99"),
            withinTol.as("approx_within_1pct"),
            col("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
             |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
             |  TRUE AS approx_within_1pct,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),


    // ---------------------------------------------------------------------
    // q58: customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    // join so zero-order customers survive with count 0, then a second
    // aggregation over the counts. Both aggs partial-combine; the outer
    // join shuffles once on custkey.
    QueryDef("q58_cust_distribution",
      (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        c.join(o.filter(col("o_orderpriority") =!= "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist
             |FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),


    // ---------------------------------------------------------------------
    // q59: ranking/distribution window-function family (rank, dense_rank,
    // percent_rank, cume_dist, ntile, lag/lead, first value). The
    // partition key is FEW-valued (5 priorities), so since r10 no
    // per-priority window touches the data-sized frame: the whole family
    // derives from ONE two-phase grouped prefix count — the order
    // (totalprice desc, orderkey) is total, so rank == dense_rank ==
    // running count; percent_rank/cume_dist/ntile are exact integer
    // arithmetic on (rank, N) with |priorities|-row broadcast totals
    // (the Lift closed form, per group); lag/lead are fine-grained
    // equi-joins on (priority, rank∓1); first_value is the rank-1 row
    // broadcast back. The oracle keeps the REAL window functions — the
    // hash match proves the derived family equivalent.
    QueryDef("q59_window_family",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-02-01")))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
        val ranked = graft.operators.Budget.groupedRunning(o,
          "o_orderpriority",
          Seq(col("o_totalprice").desc, col("o_orderkey")),
          Seq(graft.operators.Budget.RunSum(lit(1L), "__rn")))
        val totals = o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("__N"))
        val tops = ranked.filter(col("__rn") === 1)
          .select(col("o_orderpriority"), col("o_orderkey").as("top_key"))
        val prevs = ranked.select(col("o_orderpriority"),
          (col("__rn") + 1).as("__rn"), col("o_orderkey").as("prev_key"))
        val nexts = ranked.select(col("o_orderpriority"),
          (col("__rn") - 1).as("__rn"), col("o_orderkey").as("next_key"))
        ranked
          .join(broadcast(totals), Seq("o_orderpriority"))
          .join(broadcast(tops), Seq("o_orderpriority"))
          .join(prevs, Seq("o_orderpriority", "__rn"), "left")
          .join(nexts, Seq("o_orderpriority", "__rn"), "left")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"),
            col("__rn").cast("int").as("rnk"),
            col("__rn").cast("int").as("drnk"),
            round(when(col("__N") === 1, lit(0.0))
              .otherwise((col("__rn") - 1).cast("double")
                / (col("__N") - 1)), 6).as("prank"),
            round(col("__rn").cast("double") / col("__N"), 6).as("cdist"),
            expr("""cast(case
              |  when __rn <= (__N % 4) * (__N div 4 + 1)
              |    then (__rn - 1) div (__N div 4 + 1) + 1
              |  else __N % 4 + (__rn - (__N % 4) * (__N div 4 + 1) - 1)
              |    div greatest(__N div 4, 1) + 1
              |end as int)""".stripMargin).as("quartile"),
            col("prev_key"), col("next_key"), col("top_key"))
          .orderBy(col("o_orderpriority"), col("rnk"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  rank() OVER w AS rnk,
             |  dense_rank() OVER w AS drnk,
             |  round(percent_rank() OVER w, 6) AS prank,
             |  round(cume_dist() OVER w, 6) AS cdist,
             |  ntile(4) OVER w AS quartile,
             |  lag(o_orderkey, 1) OVER w AS prev_key,
             |  lead(o_orderkey, 1) OVER w AS next_key,
             |  first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND UNBOUNDED FOLLOWING) AS top_key
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-02-01'
             |WINDOW w AS (PARTITION BY o_orderpriority
             |  ORDER BY o_totalprice DESC, o_orderkey)
             |ORDER BY o_orderpriority, rnk""".stripMargin)),


    // ---------------------------------------------------------------------
    // q61: global-sales-opportunity (TPC-H Q22 shape): scalar aggregate
    // subquery as a broadcast 1-row join (never a driver-side collect),
    // NOT EXISTS as a LEFT ANTI hash join, conditional grouping. The
    // 1-row broadcast is the one place a nested-loop join is the right
    // plan (1 x N comparisons, no shuffle).
    QueryDef("q61_sales_opportunity",
      (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        // rounded to cents so the membership test is identical across
        // engines (see q43)
        val threshold = c.filter(col("c_acctbal") > 0.0)
          .agg(round(avg(col("c_acctbal")), 2).as("avg_bal"))
        c.join(broadcast(threshold))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(o.filter(col("o_orderpriority") === "1-URGENT")
            .select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy((col("c_nationkey") % 5).as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            round(sum(col("c_acctbal")), 2).as("totacctbal"))
          .orderBy(col("cntrycode"))
      },
      Some("""SELECT c_nationkey % 5 AS cntrycode, count(*) AS numcust,
             |  round(sum(c_acctbal), 2) AS totacctbal
             |FROM customer
             |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2)
             |                   FROM customer WHERE c_acctbal > 0.0)
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderpriority = '1-URGENT')
             |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)),


    // ---------------------------------------------------------------------
    // q66: numeric-profile aggregate family (corr / covar_samp / stddev /
    // variance) — the statistical-profiling surface for corpus QA. All are
    // single-pass mergeable co-moment aggregates: partial aggregation on
    // every mapper, |groups| rows shuffled, identical plan shape at 100 TB.
    // Rounding absorbs engine-order float summation differences (file
    // header convention).
    QueryDef("q66_numeric_profile",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"))
          .agg(
            round(corr(col("l_quantity"), col("l_extendedprice")), 6)
              .as("corr_qty_price"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
              .as("covar_qty_price"),
            round(stddev_samp(col("l_extendedprice")), 4).as("std_price"),
            round(var_samp(col("l_discount")), 6).as("var_disc"),
            round(avg(col("l_tax")), 6).as("avg_tax"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
             |  round(stddev_samp(l_extendedprice), 4) AS std_price,
             |  round(var_samp(l_discount), 6) AS var_disc,
             |  round(avg(l_tax), 6) AS avg_tax,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),


    // ---------------------------------------------------------------------
    // q70: CUBE / grouping-sets aggregate — all 2^2 grouping combinations in
    // ONE pass (Spark expands the grouping sets BEFORE the shuffle, so this
    // stays a single partial-aggregated exchange, not four scans).
    // grouping_id() disambiguates a cube-generated null from a null in the
    // data, and both engines emit the same bitmask for the same column
    // order.
    QueryDef("q70_cube_pricing",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.cube(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"),
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"),
            count(lit(1)).as("n"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  GROUPING(l_returnflag, l_linestatus) AS gid,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_price,
             |  count(*) AS n
             |FROM lineitem
             |GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)),


    // ---------------------------------------------------------------------
    // q72: heavy hitters via the native Misra-Gries sketch (two-pass plan):
    // pass 1 folds the token stream into one 64-counter summary per map
    // task (merged associatively — O(k) shuffle instead of a
    // vocabulary-sized exchange); pass 2 exact-counts ONLY the <=64
    // candidate keys (broadcast semi-join filters the shuffle to candidate
    // rows). The sketch is load-bearing for the compare: its n/(k+1)
    // guarantee must retain every word above total/33 or the row is missing
    // from the hashed result. The DuckDB twin states the exact semantics.
    QueryDef("q72_heavy_hitters",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("word"))
        val sketch = words.agg(
          Text.heavyHitterCandidates(col("word"), 64).as("cands"),
          count(lit(1)).as("total"))
        val cands = sketch.select(explode(col("cands")).as("word"),
          col("total"))
        words.join(broadcast(cands), "word")
          .groupBy(col("word"), col("total"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") * 33 > col("total"))
          .select(col("word"), col("n"))
          .orderBy(col("n").desc, col("word").asc)
      },
      Some("""WITH w AS (
             |  SELECT unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS word
             |  FROM documents),
             |c AS (SELECT word, count(*) AS n FROM w GROUP BY word),
             |tot AS (SELECT count(*) AS total FROM w)
             |SELECT word, n FROM c, tot WHERE n * 33 > total
             |ORDER BY n DESC, word""".stripMargin)),


    // ---------------------------------------------------------------------
    // q84: fixed-width value histogram — the distribution-profiling binning
    // shape (equi-width buckets with pinned under/overflow sentinels).
    // floor(value / width) is a pure projection, so at any scale this is a
    // single partial-aggregated pass whose exchange carries |buckets| rows;
    // floor on identical doubles is bit-identical across engines, making
    // bucket membership (not just counts) hash-gradable.
    QueryDef("q84_value_histogram",
      (s, dir) => {
        val bucket = when(col("value") < 0, lit(-1L))
          .when(col("value") >= 500, lit(10L))
          .otherwise(floor(col("value") / 50).cast("long"))
        t(s, dir, "events")
          .select(bucket.as("bucket"), col("value"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min(col("value")), 2).as("lo"),
            round(max(col("value")), 2).as("hi"),
            round(sum(col("value")), 2).as("total"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT bucket, count(*) AS n,
             |  round(min(value), 2) AS lo, round(max(value), 2) AS hi,
             |  round(sum(value), 2) AS total
             |FROM (
             |  SELECT CASE WHEN value < 0 THEN -1
             |              WHEN value >= 500 THEN 10
             |              ELSE CAST(floor(value / 50) AS BIGINT) END
             |           AS bucket, value
             |  FROM events)
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),


    // ---------------------------------------------------------------------
    // q85: weighted sampling WITHOUT replacement, exact size k=50 — the
    // Efraimidis-Spirakis race: each doc draws u in (0,1] and the k largest
    // u^(1/weight) win (heavier docs race with flatter curves). Complements
    // q76's Bernoulli acceptance (random size): this one is exact-k, the
    // form data-mixing recipes ask for. The draw is md5-derived (portable,
    // partitioning-independent); the race key is rounded to 9 before
    // ranking so a pow() last-ulp difference across engines cannot flip
    // the cutoff; top-k runs as orderBy+limit (TakeOrderedAndProject),
    // never a global window.
    QueryDef("q85_weighted_sample_k",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scored = graft.operators.TextProfile.profile(d, "doc_id", "text")
          .filter(col("quality") > 0)
          .withColumn("u",
            (Text.md5Mod(col("doc_id")) + 1) / lit(Text.P31.toDouble + 1))
          .withColumn("race",
            round(pow(col("u"), lit(1.0) / col("quality")), 9))
        scored.orderBy(col("race").desc, col("doc_id").asc).limit(50)
          .select(col("doc_id"), round(col("quality"), 6).as("quality"),
            col("race"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, round(quality, 6) AS quality, race FROM (
              |  SELECT doc_id, quality,
              |    round(pow(
              |      ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              |          ::BIGINT % 2147483647) + 1) / 2147483648.0,
              |      1.0 / quality), 9) AS race
              |  FROM ($docStatsNoOrder)
              |  WHERE quality > 0
              |  ORDER BY race DESC, doc_id LIMIT 50)
              |ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q86: chi-squared contingency test — market segment x order priority
    // independence: observed vs expected cell counts and the summed
    // statistic (the categorical-association screen for feature/label
    // leakage checks). One join + one contingency aggregate; marginals are
    // tiny re-aggregations of the cell frame joined back by key, and the
    // grand chi2 is a 1-row broadcast folded into every cell row. Expected
    // counts are exact integer products in double division (deterministic);
    // the summed chi2 rounds to 4 against summation-order ulps.
    QueryDef("q86_chi_squared",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val cells = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"),
            col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("obs"))
        val rowT = cells.groupBy(col("seg")).agg(sum(col("obs")).as("row_t"))
        val colT = cells.groupBy(col("prio")).agg(sum(col("obs")).as("col_t"))
        val n = cells.agg(sum(col("obs")).as("n_total"))
        val withExp = cells
          .join(broadcast(rowT), "seg").join(broadcast(colT), "prio")
          .crossJoin(broadcast(n))
          .withColumn("exp",
            col("row_t") * col("col_t") / col("n_total"))
          .withColumn("cell_chi2",
            (col("obs") - col("exp")) * (col("obs") - col("exp")) / col("exp"))
        // grand chi2 as an unpartitioned window over withExp, NOT a separate
        // scalar aggregate cross-joined back: the latter evaluates the whole
        // join tree twice (no exchange reuse). The single-task window is
        // safe here because its input is the post-aggregate cell frame —
        // |segments| x |priorities| ~ 25 rows at any corpus scale (round 6).
        val wAll = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        withExp
          .withColumn("chi2", round(sum(col("cell_chi2")).over(wAll), 4))
          .select(col("seg"), col("prio"), col("obs"),
            round(col("exp"), 4).as("expected"),
            round(col("cell_chi2"), 6).as("cell_chi2"), col("chi2"))
          .orderBy(col("seg"), col("prio"))
      },
      Some("""WITH cells AS (
             |  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
             |    count(*) AS obs
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |rt AS (SELECT seg, sum(obs) AS row_t FROM cells GROUP BY 1),
             |ct AS (SELECT prio, sum(obs) AS col_t FROM cells GROUP BY 1),
             |n AS (SELECT sum(obs) AS n_total FROM cells),
             |wexp AS (
             |  SELECT seg, prio, obs,
             |    row_t * col_t / n_total AS exp,
             |    (obs - row_t * col_t / n_total)
             |      * (obs - row_t * col_t / n_total)
             |      / (row_t * col_t / n_total) AS cell_chi2
             |  FROM cells JOIN rt USING (seg) JOIN ct USING (prio)
             |  CROSS JOIN n),
             |tot AS (SELECT round(sum(cell_chi2), 4) AS chi2 FROM wexp)
             |SELECT seg, prio, obs, round(exp, 4) AS expected,
             |  round(cell_chi2, 6) AS cell_chi2, chi2
             |FROM wexp CROSS JOIN tot
             |ORDER BY seg, prio""".stripMargin)),


    // ---------------------------------------------------------------------
    // q108: Bloom-pruned star join — the explicit runtime-row-filter
    // pattern: the urgent-orders key set folds into a 2^16-bit native
    // Bloom sketch ([[graft.expressions.Bloom]]), shipped to the lineitem
    // scan as ONE literal, so non-joining fact rows die before the join
    // (at 100 TB: before the fact exchange). False positives pass the
    // sketch and die in the exact join, so the graded result IS the plain
    // join's — the twin needs no Bloom at all, and any false NEGATIVE
    // (a pruned joining row) shows up as a wrong aggregate.
    QueryDef("q108_bloom_join",
      (s, dir) => {
        val dim = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderdate"))
        val bloom = graft.expressions.Bloom.buildFrom(
          dim, col("o_orderkey"), numBits = 1 << 16, numHashes = 5)
        val pruned = t(s, dir, "lineitem")
          .filter(graft.expressions.Bloom.mightContainCol(
            lit(bloom.toArray), col("l_orderkey"),
            numBits = 1 << 16, numHashes = 5))
        pruned.join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
              2).as("revenue"))
          .orderBy(col("month"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |  count(*) AS n_items,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY month ORDER BY month""".stripMargin)),


    // ---------------------------------------------------------------------
    // q109: Count-Min sketch point estimates (Cormode & Muthukrishnan
    // 2005) vs exact counts — the top-50 tokens are graded on their exact
    // counts PLUS the sketch's two contracts as flags the twin asserts
    // TRUE (the q34/q35 tolerance-flag pattern): estimates never
    // undercount (hard guarantee), and overcount stays within the
    // (e/w)*N_stream bound (w=1024, d=4 -> eps ~ 0.27% of the stream at
    // 98% per-key confidence). A wrong update, merge, or row hash breaks
    // a flag and moves the hash; the sketch collect is w*d longs,
    // stream-size-independent.
    QueryDef("q109_cms_counts",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("tok"))
        val m = graft.expressions.CountMin.buildFrom(
          toks, col("tok"), w = 1024, d = 4)
        val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum(col("cnt")).as("n_stream"))
        val est = graft.expressions.CountMin.estimateCol(
          lit(m.toArray), col("tok"), w = 1024, d = 4)
        counts
          .orderBy(col("cnt").desc, col("tok").asc).limit(50)
          .crossJoin(broadcast(tot))
          .withColumn("est", est)
          .select(col("tok"), col("cnt"),
            (col("est") >= col("cnt")).as("no_undercount"),
            (col("est") <= col("cnt") +
              ceil(lit(math.E / 1024.0) * col("n_stream")))
              .as("within_eps"))
          .orderBy(col("tok"))
      },
      Some("""WITH tok AS (
             |  SELECT unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS tok
             |  FROM documents),
             |c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
             |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 50)
             |SELECT tok, cnt, TRUE AS no_undercount, TRUE AS within_eps
             |FROM top ORDER BY tok""".stripMargin)),


    // ---------------------------------------------------------------------
    // q125: KMV-sketch overlap audit (Beyer et al. SIGMOD'07) between two
    // corpus slices (bigram vocabularies of even vs %3 docs) — distinct
    // counts, the composed union sketch, and the Jaccard/intersection
    // estimates that HLL cannot provide. ONE gram-keyed shuffle feeds a
    // single 1-row aggregate computing both k=64 sketches (filtered
    // kmv_agg inputs), the exact counts (the verifier — dropped at
    // 100 TB), and their membership flags; every estimate is derived
    // from the sketches with engine-portable arithmetic, so the grading
    // is hash-exact, not tolerance-banded (the sketch itself is
    // deterministic: the k smallest md5-60bit hashes).
    QueryDef("q125_kmv_overlap",
      (s, dir) => {
        import graft.expressions.Kmv
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val grams = d.select(col("doc_id"),
          explode(Text.wordShingles(col("text"), 2)).as("g"))
        val gsets = grams.groupBy(col("g")).agg(
            (max(when(col("doc_id") % 2 === 0, 1).otherwise(0)) === 1)
              .as("a"),
            (max(when(col("doc_id") % 3 === 0, 1).otherwise(0)) === 1)
              .as("b"))
          .filter(col("a") || col("b"))
          .select(col("g"), col("a"), col("b"),
            Text.md5Long(col("g")).as("h"))
        val row = gsets.agg(
          Kmv.column(when(col("a"), col("h")), 64).as("sk_a"),
          Kmv.column(when(col("b"), col("h")), 64).as("sk_b"),
          sum(when(col("a"), 1L).otherwise(0L)).as("d_a_exact"),
          sum(when(col("b"), 1L).otherwise(0L)).as("d_b_exact"),
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("d_ab_exact"),
          count(lit(1)).as("union_exact"))
        row.select(
            col("d_a_exact"), col("d_b_exact"), col("union_exact"),
            round(col("d_ab_exact").cast("double") / col("union_exact"), 6)
              .as("jacc_exact"),
            round(Kmv.estimate(col("sk_a"), 64), 2).as("d_a_est"),
            round(Kmv.estimate(col("sk_b"), 64), 2).as("d_b_est"),
            round(Kmv.estimate(
              Kmv.unionSketch(col("sk_a"), col("sk_b"), 64), 64), 2)
              .as("union_est"),
            round(Kmv.jaccard(col("sk_a"), col("sk_b"), 64), 6)
              .as("jacc_est"))
          .withColumn("inter_est",
            round(col("jacc_est") * col("union_est"), 2))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM documents),
             |gr AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
             |    THEN list_transform(range(len(toks) - 1),
             |      i -> array_to_string(toks[i + 1:i + 2], ' '))
             |    ELSE [array_to_string(toks, ' ')] END) AS g
             |  FROM tok),
             |gsets AS (
             |  SELECT g, max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) = 1
             |      AS a,
             |    max(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) = 1 AS b
             |  FROM gr GROUP BY g),
             |hh AS (SELECT g, a, b,
             |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
             |  FROM gsets WHERE a OR b),
             |ska AS (SELECT list(h ORDER BY h) AS sk FROM
             |  (SELECT h FROM hh WHERE a ORDER BY h LIMIT 64) t),
             |skb AS (SELECT list(h ORDER BY h) AS sk FROM
             |  (SELECT h FROM hh WHERE b ORDER BY h LIMIT 64) t),
             |ex AS (SELECT
             |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS d_a_exact,
             |    sum(CASE WHEN b THEN 1 ELSE 0 END) AS d_b_exact,
             |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS d_ab_exact,
             |    count(*) AS union_exact
             |  FROM hh),
             |comb AS (SELECT ska.sk AS sk_a, skb.sk AS sk_b,
             |    list_sort(list_distinct(list_concat(ska.sk, skb.sk)))[1:64]
             |      AS sku
             |  FROM ska, skb),
             |est AS (SELECT
             |    CASE WHEN len(sk_a) < 64 THEN CAST(len(sk_a) AS DOUBLE)
             |      ELSE 63.0 * 1152921504606846976.0
             |        / CAST(sk_a[64] AS DOUBLE) END AS d_a_raw,
             |    CASE WHEN len(sk_b) < 64 THEN CAST(len(sk_b) AS DOUBLE)
             |      ELSE 63.0 * 1152921504606846976.0
             |        / CAST(sk_b[64] AS DOUBLE) END AS d_b_raw,
             |    CASE WHEN len(sku) < 64 THEN CAST(len(sku) AS DOUBLE)
             |      ELSE 63.0 * 1152921504606846976.0
             |        / CAST(sku[64] AS DOUBLE) END AS u_raw,
             |    CASE WHEN len(sku) = 0 THEN 0.0
             |      ELSE CAST(len(list_intersect(sku,
             |          list_intersect(sk_a, sk_b))) AS DOUBLE) / len(sku)
             |      END AS jacc_raw
             |  FROM comb)
             |SELECT CAST(d_a_exact AS BIGINT) AS d_a_exact,
             |  CAST(d_b_exact AS BIGINT) AS d_b_exact,
             |  CAST(union_exact AS BIGINT) AS union_exact,
             |  round(CAST(d_ab_exact AS DOUBLE) / union_exact, 6)
             |    AS jacc_exact,
             |  round(d_a_raw, 2) AS d_a_est, round(d_b_raw, 2) AS d_b_est,
             |  round(u_raw, 2) AS union_est, round(jacc_raw, 6) AS jacc_est,
             |  round(round(jacc_raw, 6) * round(u_raw, 2), 2) AS inter_est
             |FROM ex, est""".stripMargin)),


    // ---------------------------------------------------------------------
    // q126: deterministic shard assignment + per-epoch dataloader order —
    // the content-addressed "global shuffle" of pretraining runs: shard
    // and order are pure functions of (content, epoch), so a resumed or
    // re-provisioned job reads the identical stream and epochs 0/1 get
    // different permutations with zero stored state. Shard needs no
    // shuffle; both epoch positions ride ONE shard-keyed exchange (two
    // in-partition sorts — the dataloader's own read order, so the sort
    // is the product).
    QueryDef("q126_shard_order",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"))
        graft.operators.Sharding.deterministicShards(
            d, "doc_id", numShards = 8, epochs = Seq(0, 1))
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("shard"), col("pos_e0"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             |      ::BIGINT % 8 AS shard,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
             |      1, 15))::BIGINT AS h0,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'),
             |      1, 15))::BIGINT AS h1
             |  FROM documents)
             |SELECT doc_id, shard,
             |  row_number() OVER (PARTITION BY shard ORDER BY h0, doc_id)
             |    AS pos_e0,
             |  row_number() OVER (PARTITION BY shard ORDER BY h1, doc_id)
             |    AS pos_e1
             |FROM h ORDER BY shard, pos_e0""".stripMargin)),


    // ---------------------------------------------------------------------
    // q129: Z-order layout audit (Morton interleave — the Delta/Iceberg
    // OPTIMIZE ZORDER technique): events bucketized equi-width on
    // (user_id, value), bit-interleaved to a 16-bit code, grouped into
    // 64 zcode-contiguous "files". Graded per file: row count and the
    // (za, zb) bounding box the file's min-max stats would advertise —
    // bbox_frac is the fraction of the 2-D domain a scan of that file
    // can touch (the file-skipping bound; z-ordered files stay small on
    // BOTH dims, a single-column sort's boxes span one full dim). The
    // bounds are a 1-row broadcast; the code is a codegen'd projection.
    QueryDef("q129_zorder_layout",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"))
        val z = graft.operators.ZOrder.zCode(e, "user_id", "value",
          bits = 8)
        z.withColumn("file_id", shiftright(col("zcode"), 10))
          .groupBy(col("file_id")).agg(
            count(lit(1)).as("n"),
            min(col("za")).as("a_min"), max(col("za")).as("a_max"),
            min(col("zb")).as("b_min"), max(col("zb")).as("b_max"))
          .withColumn("bbox_frac", round(
            ((col("a_max") - col("a_min") + 1)
              * (col("b_max") - col("b_min") + 1)).cast("double")
              / (256.0 * 256.0), 6))
          .orderBy(col("file_id"))
      },
      Some(s"""WITH bounds AS (
             |  SELECT min(user_id) AS amin, max(user_id) AS amax,
             |    min(value) AS bmin, max(value) AS bmax
             |  FROM events),
             |z AS (SELECT event_id,
             |    CASE WHEN amax > amin THEN CAST(floor(
             |      CAST(user_id - amin AS DOUBLE) / (amax - amin) * 255)
             |      AS BIGINT) ELSE 0 END AS za,
             |    CASE WHEN bmax > bmin THEN CAST(floor(
             |      (value - bmin) / (bmax - bmin) * 255)
             |      AS BIGINT) ELSE 0 END AS zb
             |  FROM events CROSS JOIN bounds),
             |zz AS (SELECT za, zb, ${mortonSql("za", "zb", 8)} AS zcode
             |  FROM z),
             |f AS (SELECT za, zb, zcode >> 10 AS file_id FROM zz)
             |SELECT file_id, count(*) AS n,
             |  min(za) AS a_min, max(za) AS a_max,
             |  min(zb) AS b_min, max(zb) AS b_max,
             |  round(CAST((max(za) - min(za) + 1) * (max(zb) - min(zb) + 1)
             |    AS DOUBLE) / (256.0 * 256.0), 6) AS bbox_frac
             |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q132: per-group top-k via the native bounded TopKAgg — the O(k)-state
    // replacement for `row_number() OVER (...) <= k`: the window form
    // shuffles and sorts EVERY row of every group; the aggregate's partial
    // buffers ship at most k entries per map task, so the exchange carries
    // k*partitions rows and nothing sorts more than k elements. Graded
    // bit-equal against the window formulation (the DuckDB twin), ties
    // pinned by smallest id.
    QueryDef("q132_grouped_topk",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.groupBy(col("lang")).agg(
            graft.expressions.TopK.column(
              col("n_chars").cast("double"), col("doc_id"), 5).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("i", "e")))
          .select(col("lang"), (col("i") + 1).cast("long").as("rnk"),
            col("e.id").as("doc_id"),
            col("e.score").cast("long").as("n_chars"))
          .orderBy(col("lang"), col("rnk"))
      },
      Some("""SELECT lang, rnk, doc_id, n_chars FROM (
             |  SELECT lang, doc_id, n_chars, row_number() OVER (
             |    PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rnk
             |  FROM documents)
             |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin)),


    // ---------------------------------------------------------------------
    // q136: market-basket association rules (Apriori's 2-itemset tier) over
    // order baskets — support / confidence / lift for co-ordered part
    // pairs, top-100 by lift. The pair expansion is a basket-keyed
    // self-join (quadratic in BASKET size only, capped at 15 items); all
    // supports are hash aggregates; the basket total is a 1-row broadcast.
    // Complements q81's PMI scoring of the same co-occurrence counts.
    QueryDef("q136_basket_rules",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        graft.operators.Baskets.pairRules(li, "l_orderkey", "l_partkey",
          minPairCount = 2, maxBasketSize = 15, topK = 100)
      },
      Some("""WITH member AS (
             |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
             |  FROM lineitem),
             |sized AS (SELECT bk FROM member GROUP BY bk
             |  HAVING count(*) <= 15),
             |kept AS (SELECT m.* FROM member m JOIN sized USING (bk)),
             |nb AS (SELECT count(DISTINCT bk) AS n FROM kept),
             |ic AS (SELECT it, count(*) AS cnt FROM kept GROUP BY it),
             |pc AS (SELECT a.it AS item_a, b.it AS item_b,
             |    count(*) AS pair_cnt
             |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT item_a, item_b, pair_cnt,
             |  ca.cnt AS cnt_a, cb.cnt AS cnt_b,
             |  round(CAST(pair_cnt AS DOUBLE) / n, 6) AS support,
             |  round(CAST(pair_cnt AS DOUBLE) / ca.cnt, 6) AS conf_ab,
             |  round(CAST(pair_cnt AS DOUBLE) / cb.cnt, 6) AS conf_ba,
             |  round(CAST(pair_cnt AS DOUBLE) * n / (ca.cnt * cb.cnt), 6)
             |    AS lift
             |FROM pc JOIN ic ca ON pc.item_a = ca.it
             |  JOIN ic cb ON pc.item_b = cb.it
             |CROSS JOIN nb
             |ORDER BY lift DESC, item_a, item_b LIMIT 100""".stripMargin)),


    // ---------------------------------------------------------------------
    // q137: per-node triangle counts (clustering-coefficient numerator)
    // over the co-purchase graph — parts co-ordered in >= 2 baskets.
    // Degree-ordered orientation (Suri-Vassilvitskii) bounds the wedge
    // join's per-node fan-out at O(sqrt(E)) regardless of hub skew; the
    // oracle restates the naive a<b<c triple join, so the orientation
    // trick is graded against the definition. Third graph kernel beside
    // connectedComponents (q44) and PageRank (q103).
    QueryDef("q137_triangle_counts",
      (s, dir) => {
        val member = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val sized = member.groupBy(col("bk"))
          .agg(count(lit(1)).as("n")).filter(col("n") <= 15).select("bk")
        val kept = member.join(sized, Seq("bk"))
        val edges = kept.as("a").join(kept.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("src"), col("b.it").as("dst"))
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
          .select(col("src"), col("dst"))
        graft.operators.Graphs.triangleCounts(edges)
          .orderBy(col("triangles").desc, col("node"))
      },
      Some("""WITH member AS (
             |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
             |  FROM lineitem),
             |sized AS (SELECT bk FROM member GROUP BY bk
             |  HAVING count(*) <= 15),
             |kept AS (SELECT m.* FROM member m JOIN sized USING (bk)),
             |ed AS (SELECT a.it AS u, b.it AS v
             |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |  FROM ed e1 JOIN ed e2 ON e1.v = e2.u
             |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
             |nodes AS (SELECT a AS node FROM tri
             |  UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri)
             |SELECT node, count(*) AS triangles FROM nodes GROUP BY node
             |ORDER BY triangles DESC, node""".stripMargin)),


    // ---------------------------------------------------------------------
    // q139: join-skew audit / salt planner — per-key output-row products
    // for a planned self-equi-join with a planted Zipf-style hot key (5%
    // of the fact rows collapse onto one key). Two count aggregates and a
    // count-frame join; the INPUTS are never joined, so the audit costs
    // O(|keys|) shuffle where the join it plans would cost O(out_rows).
    // The flagged salt factor is what AQE skew-split / a salted
    // replicate-join would need per key.
    QueryDef("q139_join_skew_plan",
      (s, dir) => {
        val f = t(s, dir, "lineitem").select(
          when(col("l_orderkey") % 20 === 0, lit(1L))
            .otherwise(col("l_partkey")).as("part"))
        graft.operators.Skew.joinSkewPlan(f, f, "part",
          targetRowsPerTask = 100000L, topK = 50)
      },
      Some("""WITH f AS (
             |  SELECT CASE WHEN l_orderkey % 20 = 0 THEN 1
             |    ELSE l_partkey END AS part FROM lineitem),
             |lc AS (SELECT part, count(*) AS n_left FROM f GROUP BY part),
             |rc AS (SELECT part, count(*) AS n_right FROM f GROUP BY part),
             |per AS (SELECT part, n_left, n_right,
             |    n_left * n_right AS out_rows
             |  FROM lc JOIN rc USING (part)),
             |tot AS (SELECT sum(out_rows) AS total_out FROM per)
             |SELECT part, n_left, n_right, out_rows,
             |  round(CAST(out_rows AS DOUBLE) / total_out, 6) AS share,
             |  out_rows > 100000 AS needs_salt,
             |  CAST(ceil(CAST(out_rows AS DOUBLE) / 100000) AS BIGINT)
             |    AS salt_factor
             |FROM per CROSS JOIN tot
             |ORDER BY out_rows DESC, part LIMIT 50""".stripMargin)),


    // ---------------------------------------------------------------------
    // q145: small-file compaction plan — each document stands in for one
    // ingested file (part = source, bytes = n_chars); the planner packs
    // sub-threshold files into ~1000-byte merge bins by the slab rule
    // (exclusive-cumsum div target over a bytes-desc total order) and
    // rolls up to one row per (partition, bin) with the merge/noop/keep
    // verdict. The window runs over the file MANIFEST (metadata-sized),
    // never the data — the 100-TB small-file fix costs one
    // |files|-row window + one |files|-row aggregate.
    QueryDef("q145_compaction_plan",
      (s, dir) => {
        val manifest = t(s, dir, "documents").select(
          col("source").as("part"), col("doc_id").as("file"),
          col("n_chars").cast("long").as("bytes"))
        val plan = graft.operators.Compaction.planBins(
          manifest, "part", "file", "bytes", targetBytes = 1000L)
        graft.operators.Compaction.binSummary(plan, "part", "bytes")
          .orderBy(col("part"), col("bin"))
      },
      Some("""WITH m AS (SELECT source AS part, doc_id AS file,
             |    CAST(n_chars AS BIGINT) AS bytes FROM documents),
             |plan AS (SELECT part, file, bytes,
             |    CASE WHEN bytes < 750 THEN
             |      CAST(floor((sum(CASE WHEN bytes < 750 THEN bytes
             |            ELSE 0 END) OVER (PARTITION BY part
             |          ORDER BY bytes DESC, file ASC
             |          ROWS UNBOUNDED PRECEDING)
             |        - (CASE WHEN bytes < 750 THEN bytes ELSE 0 END))
             |        / 1000.0) AS BIGINT)
             |    ELSE -1 END AS bin
             |  FROM m),
             |su AS (SELECT part, bin, count(*) AS n_files,
             |    CAST(sum(bytes) AS BIGINT) AS bytes_total
             |  FROM plan GROUP BY 1, 2)
             |SELECT part, bin, n_files, bytes_total,
             |  CASE WHEN bin = -1 THEN 'keep'
             |       WHEN n_files >= 2 THEN 'merge'
             |       ELSE 'noop' END AS action
             |FROM su ORDER BY part, bin""".stripMargin)),


    // ---------------------------------------------------------------------
    // q148: robust outlier flags (median/MAD, Hampel k=3) per event type,
    // with planted extremes (event_id %101: value*50+100) that must all
    // surface. Exact percentile at this calibration scale; the 100-TB
    // swap is percentile_approx with the identical plan shape. Two
    // |groups|-row aggregates broadcast back; the corpus is scanned, not
    // sorted.
    QueryDef("q148_mad_outliers",
      (s, dir) => {
        val e = t(s, dir, "events").select(col("event_type"),
          col("event_id"),
          when(col("event_id") % 101 === 0, col("value") * 50 + 100)
            .otherwise(col("value")).as("value"))
        graft.operators.Outliers.madOutliers(
            e, "event_type", "event_id", "value", k = 3.0)
          .orderBy(col("event_type"), col("event_id"))
      },
      Some("""WITH e AS (SELECT event_type, event_id,
             |    CASE WHEN event_id % 101 = 0 THEN value * 50 + 100
             |      ELSE value END AS v
             |  FROM events),
             |med AS (SELECT event_type, quantile_cont(v, 0.5) AS m
             |  FROM e GROUP BY 1),
             |dev AS (SELECT e.event_type, event_id, v, m, abs(v - m) AS ad
             |  FROM e JOIN med USING (event_type)),
             |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS md
             |  FROM dev GROUP BY 1),
             |sc AS (SELECT d.event_type, event_id, v, m, md,
             |    round(ad / nullif(1.4826 * md, 0.0), 4) AS score
             |  FROM dev d JOIN mad USING (event_type))
             |SELECT event_type, event_id, v AS value,
             |  round(m, 6) AS group_median, round(md, 6) AS group_mad,
             |  score
             |FROM sc WHERE score > 3.0
             |ORDER BY event_type, event_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q149: PSI drift monitor — even events are the baseline slice, odd
    // events the current slice with a planted mass shift (+8 on every
    // third event), bucketed into 10 equal-width bins FIXED from the
    // baseline range (moving edges would hide the drift), shares
    // Laplace-smoothed, per-bin contributions and the per-type PSI total
    // against the 0.1/0.25 watch/alarm reading. One 1-row range
    // aggregate + one |bins|-keyed aggregate per slice; all PSI
    // arithmetic runs on the |types|x|bins| frame.
    QueryDef("q149_psi_drift",
      (s, dir) => {
        val e = t(s, dir, "events")
        val baseline = e.filter(col("event_id") % 2 === 0)
          .select(col("event_type"), col("value"))
        val current = e.filter(col("event_id") % 2 === 1)
          .select(col("event_type"),
            (col("value") + when(col("event_id") % 3 === 0, 8.0)
              .otherwise(0.0)).as("value"))
        graft.operators.Drift.psi(baseline, current, "event_type",
            "value", bins = 10)
          .orderBy(col("event_type"), col("bin"))
      },
      Some("""WITH b AS (SELECT event_type, value AS v FROM events
             |  WHERE event_id % 2 = 0),
             |c AS (SELECT event_type,
             |    value + CASE WHEN event_id % 3 = 0 THEN 8.0 ELSE 0.0 END
             |      AS v
             |  FROM events WHERE event_id % 2 = 1),
             |r AS (SELECT event_type, min(v) AS lo, max(v) AS hi
             |  FROM b GROUP BY 1),
             |bb AS (SELECT b.event_type, CASE WHEN hi = lo THEN 0
             |    ELSE least(greatest(
             |      CAST(floor((v - lo) / (hi - lo) * 10) AS BIGINT), 0), 9)
             |    END AS bin
             |  FROM b JOIN r USING (event_type)),
             |bn AS (SELECT event_type, bin, count(*) AS n_base
             |  FROM bb GROUP BY 1, 2),
             |cc AS (SELECT c.event_type, CASE WHEN hi = lo THEN 0
             |    ELSE least(greatest(
             |      CAST(floor((v - lo) / (hi - lo) * 10) AS BIGINT), 0), 9)
             |    END AS bin
             |  FROM c JOIN r USING (event_type)),
             |cn AS (SELECT event_type, bin, count(*) AS n_cur
             |  FROM cc GROUP BY 1, 2),
             |grid AS (SELECT event_type, unnest(range(10)) AS bin FROM r),
             |j AS (SELECT g.event_type, g.bin,
             |    coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
             |  FROM grid g LEFT JOIN bn USING (event_type, bin)
             |  LEFT JOIN cn USING (event_type, bin)),
             |sm AS (SELECT event_type, bin, n_base, n_cur,
             |    (n_base + 0.5) /
             |      (sum(n_base) OVER (PARTITION BY event_type) + 5.0)
             |      AS p_base,
             |    (n_cur + 0.5) /
             |      (sum(n_cur) OVER (PARTITION BY event_type) + 5.0)
             |      AS p_cur
             |  FROM j),
             |ct AS (SELECT *, round((p_cur - p_base) * ln(p_cur / p_base),
             |    6) AS contrib FROM sm)
             |SELECT event_type, bin, n_base, n_cur,
             |  round(p_base, 6) AS p_base, round(p_cur, 6) AS p_cur,
             |  contrib,
             |  round(sum(contrib) OVER (PARTITION BY event_type), 6) AS psi
             |FROM ct ORDER BY event_type, bin""".stripMargin)),


    // ---------------------------------------------------------------------
    // q154: Benford first-significant-digit audit of order totals per
    // order priority, with a PLANTED fabricated slice: priority '3-MEDIUM'
    // totals are overwritten by a uniform-ish synthetic value (4000 +
    // (key%5000)), exactly the invented-numbers pattern the audit exists
    // to catch — its chi2 must dwarf the organic priorities'. Digit by
    // arithmetic (floor(v/10^floor(log10 v))), one (group, digit)-keyed
    // aggregate, chi2 over the 9-row-per-group frame.
    QueryDef("q154_benford_audit",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_orderpriority"),
          when(col("o_orderpriority") === "3-MEDIUM",
            lit(4000.0) + (col("o_orderkey") % 5000).cast("double"))
            .otherwise(col("o_totalprice")).as("amount"))
        graft.operators.Benford.firstDigitAudit(
            o, "o_orderpriority", "amount")
          .orderBy(col("o_orderpriority"), col("digit"))
      },
      Some("""WITH o AS (SELECT o_orderpriority,
             |    CASE WHEN o_orderpriority = '3-MEDIUM'
             |      THEN 4000.0 + CAST(o_orderkey % 5000 AS DOUBLE)
             |      ELSE o_totalprice END AS v
             |  FROM orders),
             |cnt AS (SELECT o_orderpriority,
             |    CAST(floor(v / power(10, floor(log10(v)))) AS BIGINT)
             |      AS digit,
             |    count(*) AS n_d
             |  FROM o WHERE v > 0 GROUP BY 1, 2),
             |grid AS (SELECT DISTINCT o_orderpriority, d.digit
             |  FROM cnt CROSS JOIN (SELECT unnest(range(1, 10)) AS digit)
             |    AS d),
             |full_t AS (SELECT g.o_orderpriority, g.digit,
             |    coalesce(n_d, 0) AS n_d
             |  FROM grid g LEFT JOIN cnt USING (o_orderpriority, digit)),
             |st AS (SELECT o_orderpriority, digit, n_d,
             |    sum(n_d) OVER (PARTITION BY o_orderpriority) AS n,
             |    log10(1.0 + 1.0 / digit) AS exp_p_raw
             |  FROM full_t),
             |ct AS (SELECT o_orderpriority, digit, n_d,
             |    round(n_d / n, 6) AS obs_p,
             |    round(exp_p_raw, 6) AS exp_p,
             |    round((n_d - n * exp_p_raw) * (n_d - n * exp_p_raw)
             |      / (n * exp_p_raw), 4) AS contrib
             |  FROM st)
             |SELECT o_orderpriority, digit, n_d, obs_p, exp_p, contrib,
             |  round(sum(contrib) OVER (PARTITION BY o_orderpriority), 4)
             |    AS chi2
             |FROM ct ORDER BY o_orderpriority, digit""".stripMargin)),


    // ---------------------------------------------------------------------
    // q157: two-sample Kolmogorov-Smirnov drift test per event type —
    // the exact, binning-free arbiter next to q149's PSI: even/odd
    // event-id halves of the same feed, with a +6.0 location shift
    // planted on the 'view' current slice. Only 'view' may reject at
    // the 5% Smirnov critical value; the untouched types measure the
    // sampling-noise floor of D. ECDFs ride one type-partitioned
    // prefix window over DISTINCT values (ties pre-collapsed).
    QueryDef("q157_ks_drift",
      (s, dir) => {
        val e = t(s, dir, "events")
        val base = e.filter(col("event_id") % 2 === 0)
          .select(col("event_type"), col("value"))
        val cur = e.filter(col("event_id") % 2 === 1)
          .select(col("event_type"),
            (col("value") + when(col("event_type") === "view", 6.0)
              .otherwise(0.0)).as("value"))
        graft.operators.Drift.ksTest(base, cur, "event_type", "value")
          .orderBy(col("event_type"))
      },
      Some("""WITH base AS (SELECT event_type, value AS v FROM events
             |  WHERE event_id % 2 = 0),
             |cur AS (SELECT event_type,
             |    value + CASE WHEN event_type = 'view' THEN 6.0
             |      ELSE 0.0 END AS v
             |  FROM events WHERE event_id % 2 = 1),
             |u AS (SELECT event_type, v, 1 AS b, 0 AS c FROM base
             |  UNION ALL SELECT event_type, v, 0, 1 FROM cur),
             |pv AS (SELECT event_type, v, sum(b) AS nb, sum(c) AS nc
             |  FROM u GROUP BY 1, 2),
             |cum AS (SELECT event_type,
             |    sum(nb) OVER (PARTITION BY event_type) AS n_base,
             |    sum(nc) OVER (PARTITION BY event_type) AS n_cur,
             |    sum(nb) OVER w AS cb, sum(nc) OVER w AS cc
             |  FROM pv WINDOW w AS (PARTITION BY event_type ORDER BY v
             |    ROWS UNBOUNDED PRECEDING)),
             |d AS (SELECT event_type,
             |    any_value(n_base) AS n_base, any_value(n_cur) AS n_cur,
             |    max(abs(CAST(cb AS DOUBLE) / n_base
             |      - CAST(cc AS DOUBLE) / n_cur)) AS dd
             |  FROM cum GROUP BY 1)
             |SELECT event_type, CAST(n_base AS BIGINT) AS n_base,
             |  CAST(n_cur AS BIGINT) AS n_cur,
             |  round(dd, 6) AS d_stat,
             |  round(sqrt(CAST(n_base AS DOUBLE) * n_cur
             |    / (n_base + n_cur)) * dd, 4) AS ks_stat,
             |  sqrt(CAST(n_base AS DOUBLE) * n_cur
             |    / (n_base + n_cur)) * dd > 1.358 AS reject_05
             |FROM d ORDER BY event_type""".stripMargin)),


    // ---------------------------------------------------------------------
    // q163: split-conformal calibration audit (Papadopoulos 2002; Vovk)
    // — a 6-decimal-frozen OLS fit on the calibration quarter, absolute
    // residuals as nonconformity, per-returnflag q-hat at alpha = 0.1,
    // and empirical test coverage. The planted covariate shift (test
    // prices of the 'R' group scaled 1.35x) MUST collapse that group's
    // coverage below the guarantee band while A/N hold near 0.9 — the
    // model-agnostic drift alarm. The fit is rounded to 6 decimals
    // BEFORE residuals so both engines subtract identical (a, b):
    // conformal absorbs model error by construction, so freezing the
    // fit costs nothing and removes FP-summation hash risk.
    QueryDef("q163_conformal",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_returnflag").as("grp"),
          col("l_quantity").cast("double").as("x"),
          col("l_extendedprice").cast("double").as("y"))
        val cal = li.filter(col("l_orderkey") % 4 === 1)
        val tst = li.filter(col("l_orderkey") % 4 === 2)
          .withColumn("y", when(col("grp") === "R", col("y") * 1.35)
            .otherwise(col("y")))
        val fit = cal.agg(
          round(regr_slope(col("y"), col("x")), 6).as("b"),
          round(regr_intercept(col("y"), col("x")), 6).as("a"))
        def scores(df: org.apache.spark.sql.DataFrame) =
          df.crossJoin(broadcast(fit)).select(col("grp"),
            round(abs(col("y") - (col("a") + col("b") * col("x"))), 6)
              .as("s"))
        graft.operators.Conformal.splitConformal(
            scores(cal), scores(tst), "grp", "s",
            alpha = 0.1, slack = 0.05)
          .orderBy(col("grp"))
      },
      Some("""WITH li AS (SELECT l_orderkey, l_returnflag AS grp,
             |    CAST(l_quantity AS DOUBLE) AS x,
             |    CAST(l_extendedprice AS DOUBLE) AS y
             |  FROM lineitem),
             |cal AS (SELECT * FROM li WHERE l_orderkey % 4 = 1),
             |tst AS (SELECT grp, x,
             |    CASE WHEN grp = 'R' THEN y * 1.35 ELSE y END AS y
             |  FROM li WHERE l_orderkey % 4 = 2),
             |fit AS (SELECT round(regr_slope(y, x), 6) AS b,
             |    round(regr_intercept(y, x), 6) AS a FROM cal),
             |cs AS (SELECT grp, round(abs(y - (a + b * x)), 6) AS s
             |  FROM cal CROSS JOIN fit),
             |ts AS (SELECT grp, round(abs(y - (a + b * x)), 6) AS s
             |  FROM tst CROSS JOIN fit),
             |qh AS (SELECT grp, s AS qhat, n_cal FROM (
             |    SELECT grp, s,
             |      count(*) OVER (PARTITION BY grp) AS n_cal,
             |      row_number() OVER (PARTITION BY grp ORDER BY s)
             |        AS rn
             |    FROM cs)
             |  WHERE rn = least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT),
             |    n_cal)),
             |cov AS (SELECT t.grp, any_value(n_cal) AS n_cal,
             |    count(*) AS n_test, any_value(qhat) AS qhat,
             |    round(CAST(sum(CASE WHEN t.s <= qhat THEN 1 ELSE 0 END)
             |      AS DOUBLE) / count(*), 6) AS coverage
             |  FROM ts t JOIN qh ON qh.grp = t.grp GROUP BY t.grp)
             |SELECT grp, n_cal, n_test, qhat, coverage,
             |  coverage >= 0.85 AS covered
             |FROM cov ORDER BY grp""".stripMargin)),


    // ---------------------------------------------------------------------
    // q167: cross-source quantile normalization (Bolstad 2003 applied
    // to quality scores) — a planted +40 token-count inflation on
    // src9's scorer must disappear after rank-mapping onto the pooled
    // distribution (equal ranks → equal normalized values across
    // sources). Target index in INTEGER arithmetic (multiply-then-div,
    // no float at an integer boundary). Per-source ranks and the pooled
    // ladder over DISTINCT score values come from ONE range partitioning
    // on the score (partition-id-keyed windows plus broadcast
    // per-(partition, source) offsets); the ladder is looked up through
    // a bucketed equi-join. Nothing corpus-derived is broadcast or
    // windowed globally or per source.
    QueryDef("q167_quantile_norm",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          (Text.tokenCount(col("text"))
            + when(col("source") === "src9", 40).otherwise(0))
            .as("sc"))
        graft.operators.Normalize.quantileNormalize(
            d, "source", "sc", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (SELECT doc_id, source,
             |    CAST(len(list_filter(string_split_regex(
             |      lower(trim(text)), '\s+'), x -> x <> ''))
             |      + CASE WHEN source = 'src9' THEN 40 ELSE 0 END
             |      AS BIGINT) AS score
             |  FROM documents),
             |rk AS (SELECT doc_id, source, score,
             |    rank() OVER (PARTITION BY source ORDER BY score) AS r,
             |    count(*) OVER (PARTITION BY source) AS n_h FROM s),
             |np AS (SELECT count(*) AS n_pool FROM s),
             |dv AS (SELECT score AS pv, count(*) AS c FROM s
             |  GROUP BY 1),
             |cm AS (SELECT pv,
             |    sum(c) OVER (ORDER BY pv ROWS UNBOUNDED PRECEDING)
             |      AS cum_hi,
             |    sum(c) OVER (ORDER BY pv ROWS UNBOUNDED PRECEDING) - c
             |      AS cum_lo
             |  FROM dv),
             |ix AS (SELECT doc_id, source, score,
             |    CASE WHEN n_h = 1 THEN (n_pool + 1) // 2
             |      ELSE ((r - 1) * (n_pool - 1)) // (n_h - 1) + 1 END
             |      AS idx
             |  FROM rk CROSS JOIN np)
             |SELECT doc_id, source, score, cm.pv AS norm_score
             |FROM ix JOIN cm ON ix.idx > cm.cum_lo
             |  AND ix.idx <= cm.cum_hi
             |ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q168: Neyman-optimal stratified sampling allocation (Neyman 1934)
    // vs proportional, 200-row eval budget over sources — src5 carries
    // a planted high-variance metric (doc_id-derived additive noise),
    // so its Neyman allocation must far exceed its proportional one
    // while homogeneous sources shrink. Both allocations apportion by
    // largest remainder over integer micro-weights (the q113 stance) —
    // sums hit 200 exactly, bit-identical across engines.
    QueryDef("q168_neyman_alloc",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("source"),
          (col("n_chars") + when(col("source") === "src5",
            col("doc_id") % 1000).otherwise(0)).as("metric"))
        graft.operators.Mix.neymanAllocation(d, "source", col("metric"),
            sampleBudget = 200L)
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source,
             |    n_chars + CASE WHEN source = 'src5'
             |      THEN doc_id % 1000 ELSE 0 END AS metric
             |  FROM documents),
             |st AS (SELECT source, count(*) AS n_rows,
             |    round(coalesce(stddev_pop(metric), 0.0), 6) AS sd
             |  FROM d GROUP BY 1),
             |m AS (SELECT source, n_rows, sd,
             |    CAST(round(sd * 1e6, 0) AS BIGINT) * n_rows AS m
             |  FROM st),
             |tot AS (SELECT sum(m) AS mm, sum(n_rows) AS n_total
             |  FROM m),
             |n0 AS (SELECT source, n_rows, sd, m, mm, n_total,
             |    m * 200 // mm AS fl, (m * 200) % mm AS rem
             |  FROM m CROSS JOIN tot),
             |nd AS (SELECT 200 - sum(fl) AS def FROM n0),
             |n1 AS (SELECT source, n_rows, sd, m, mm, n_total,
             |    CAST(fl + CASE WHEN row_number() OVER
             |        (ORDER BY rem DESC, source ASC) <= def
             |      THEN 1 ELSE 0 END
             |      - CASE WHEN row_number() OVER
             |        (ORDER BY rem ASC, source DESC) <= -def
             |      THEN 1 ELSE 0 END AS BIGINT) AS neyman_n
             |  FROM n0 CROSS JOIN nd),
             |p0 AS (SELECT source, n_rows, sd, m, mm, neyman_n,
             |    n_rows * 200 // n_total AS fl,
             |    (n_rows * 200) % n_total AS rem
             |  FROM n1),
             |pd AS (SELECT 200 - sum(fl) AS def FROM p0)
             |SELECT source, n_rows, sd,
             |  round(CAST(m AS DOUBLE) / mm, 6) AS neyman_share,
             |  neyman_n,
             |  CAST(fl + CASE WHEN row_number() OVER
             |      (ORDER BY rem DESC, source ASC) <= def
             |    THEN 1 ELSE 0 END
             |    - CASE WHEN row_number() OVER
             |      (ORDER BY rem ASC, source DESC) <= -def
             |    THEN 1 ELSE 0 END AS BIGINT) AS prop_n
             |FROM p0 CROSS JOIN pd ORDER BY source""".stripMargin)),


    // ---------------------------------------------------------------------
    // q169: Poisson-bootstrap 95% CI for per-source mean token count
    // (Chamandy 2012 — the coordination-free resampling for massive
    // data: independent Poisson(1) weights per (row, replicate) stand
    // in for with-replacement draws). B=200 replicates; the draw is
    // the inverse CDF of an md5 uniform (seedless, engine-portable);
    // replicate means stay INTEGER (num, den) pairs rounded by exact
    // integer HALF_UP, and quantile indices are integer ceil — zero
    // floats at decimal/integer boundaries anywhere in the statistic.
    QueryDef("q169_bootstrap_ci",
      (s, dir) => graft.operators.Bootstrap.poissonMeanCi(
          t(s, dir, "documents").select(col("source"), col("doc_id"),
            col("text")),
          "source", "doc_id", Text.tokenCount(col("text")), b = 200)
        .orderBy(col("source")),
      Some("""WITH basez AS (SELECT source AS g, doc_id AS id,
             |    CAST(len(list_filter(string_split_regex(
             |      lower(trim(text)), '\s+'), x -> x <> '')) AS BIGINT)
             |      AS x
             |  FROM documents),
             |reps AS (SELECT g, id, x, b,
             |    ('0x' || substr(md5(CAST(id AS VARCHAR) || '_'
             |      || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 1000000
             |      AS u
             |  FROM basez, (SELECT unnest(range(0, 200)) AS b)),
             |wt AS (SELECT g, b, x,
             |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
             |      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
             |      WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
             |      ELSE 6 END AS w
             |  FROM reps),
             |pr AS (SELECT g, b, sum(w * x) AS num, sum(w) AS den
             |  FROM wt GROUP BY 1, 2 HAVING sum(w) > 0),
             |rk AS (SELECT g, b, num, den,
             |    row_number() OVER (PARTITION BY g
             |      ORDER BY CAST(num AS DOUBLE) / den, b) AS rn,
             |    count(*) OVER (PARTITION BY g) AS nb
             |  FROM pr),
             |ci AS (SELECT g,
             |    max(CASE WHEN rn = (25 * nb + 999) // 1000
             |      THEN CAST((num * 2000000 + den) // (den * 2)
             |        AS DOUBLE) / 1e6 END) AS ci_lo,
             |    max(CASE WHEN rn = (975 * nb + 999) // 1000
             |      THEN CAST((num * 2000000 + den) // (den * 2)
             |        AS DOUBLE) / 1e6 END) AS ci_hi
             |  FROM rk GROUP BY 1),
             |ov AS (SELECT g, count(*) AS n_rows, sum(x) AS sx
             |  FROM basez GROUP BY 1)
             |SELECT o.g AS source, CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST((sx * 2000000 + n_rows) // (n_rows * 2) AS DOUBLE)
             |    / 1e6 AS mean,
             |  ci_lo, ci_hi, round(ci_hi - ci_lo, 6) AS ci_width
             |FROM ov o JOIN ci USING (g)
             |ORDER BY source""".stripMargin)),


    // ---------------------------------------------------------------------
    // q170: per-source data cards (Datasheets-for-Datasets reduced to
    // the computable core) — one wide row per source: volume, token
    // length distribution (exact p50/p90 at calibration scale), exact-
    // dup rate (planted copies of every 20th doc make it non-zero),
    // short-doc fraction, dominant language + share. The single frame
    // a mixing planner consumes. One scan → source-keyed aggregate +
    // a (source, lang) top-1 window.
    QueryDef("q170_data_cards",
      (s, dir) => {
        val d0 = t(s, dir, "documents")
        val planted = d0.filter(col("doc_id") % 20 === 3)
          .withColumn("doc_id", col("doc_id") + 4000000)
        graft.operators.DataCard.sourceCards(
            d0.unionByName(planted), "source", "doc_id", "text",
            "lang", shortChars = 150)
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT * FROM documents
             |  UNION ALL SELECT doc_id + 4000000, text, lang, source,
             |    n_chars
             |  FROM documents WHERE doc_id % 20 = 3),
             |base AS (SELECT source, doc_id, lang,
             |    CAST(length(text) AS BIGINT) AS nc,
             |    CAST(len(list_filter(string_split_regex(
             |      lower(trim(text)), '\s+'), x -> x <> '')) AS BIGINT)
             |      AS nt,
             |    md5(text) AS m
             |  FROM d),
             |core AS (SELECT source, count(*) AS n_docs,
             |    sum(nc) AS total_chars,
             |    round(avg(nt), 6) AS mean_tok,
             |    quantile_cont(nt, 0.5) AS p50_tok,
             |    quantile_cont(nt, 0.9) AS p90_tok,
             |    count(DISTINCT m) AS n_distinct_texts,
             |    sum(CASE WHEN nc < 150 THEN 1 ELSE 0 END) AS n_short
             |  FROM base GROUP BY 1),
             |lt AS (SELECT source, lang, count(*) AS ln2 FROM base
             |  GROUP BY 1, 2),
             |top AS (SELECT source, lang AS top_lang, ln2 FROM (
             |    SELECT *, row_number() OVER (PARTITION BY source
             |      ORDER BY ln2 DESC, lang ASC) AS rn FROM lt)
             |  WHERE rn = 1)
             |SELECT c.source, n_docs,
             |  CAST(total_chars AS BIGINT) AS total_chars, mean_tok,
             |  p50_tok, p90_tok, n_distinct_texts,
             |  round(1.0 - CAST(n_distinct_texts AS DOUBLE) / n_docs, 6)
             |    AS dup_rate,
             |  round(CAST(n_short AS DOUBLE) / n_docs, 6) AS pct_short,
             |  top_lang,
             |  round(CAST(ln2 AS DOUBLE) / n_docs, 6) AS top_lang_share
             |FROM core c JOIN top USING (source)
             |ORDER BY source""".stripMargin)),


    // ---------------------------------------------------------------------
    // q172: CUPED variance-reduced A/B readout (Deng/Xu/Kohavi 2013) —
    // md5-hash arm assignment (seedless, the q110 split stance), pre
    // vs post purchase value per user (calendar halves), a planted
    // +5/purchase treatment uplift, and the pre-period covariate
    // adjustment Y' = Y − θ(X − x̄). The uplift must survive in
    // mean_adj (CUPED is mean-preserving) while var_adj < var_post.
    // θ and x̄ are frozen at 6 decimals before adjusting (the q163
    // frozen-fit stance) so both engines subtract identical constants.
    QueryDef("q172_cuped_ab",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
            col("value"), col("event_type"))
          .withColumn("arm",
            when(pmod(Text.md5Long(col("user_id").cast("string")),
              lit(2L)) === 0, "ctrl").otherwise("treat"))
        val users = ev.groupBy(col("user_id")).agg(
          first(col("arm")).as("arm"),
          coalesce(sum(when(col("event_type") === "purchase"
            && dayofmonth(col("ts")) <= 15, col("value"))), lit(0.0))
            .as("x"),
          coalesce(sum(when(col("event_type") === "purchase"
            && dayofmonth(col("ts")) > 15,
            col("value") + when(col("arm") === "treat", 5.0)
              .otherwise(0.0))), lit(0.0)).as("y"))
        graft.operators.Experiment.cuped(users, "arm", "x", "y")
          .orderBy(col("arm"))
      },
      Some("""WITH ev AS (SELECT user_id, ts, value, event_type,
             |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS
             |      VARCHAR)), 1, 15))::BIGINT % 2 = 0
             |      THEN 'ctrl' ELSE 'treat' END AS arm
             |  FROM events),
             |pu AS (SELECT user_id, any_value(arm) AS arm,
             |    coalesce(sum(CASE WHEN event_type = 'purchase'
             |      AND day(ts) <= 15 THEN value END), 0.0) AS x,
             |    coalesce(sum(CASE WHEN event_type = 'purchase'
             |      AND day(ts) > 15 THEN value
             |        + CASE WHEN arm = 'treat' THEN 5.0 ELSE 0.0 END
             |      END), 0.0) AS y
             |  FROM ev GROUP BY 1),
             |fit AS (SELECT round(covar_pop(x, y)
             |      / nullif(var_pop(x), 0.0), 6) AS theta,
             |    round(avg(x), 6) AS xbar FROM pu),
             |adj AS (SELECT arm, x, y, y - theta * (x - xbar) AS yadj,
             |    theta FROM pu CROSS JOIN fit),
             |pool AS (SELECT round(1.0 - var_pop(yadj)
             |    / nullif(var_pop(y), 0.0), 6) AS var_reduction
             |  FROM adj)
             |SELECT arm, count(*) AS n_users,
             |  round(avg(x), 6) AS mean_pre,
             |  round(avg(y), 6) AS mean_post,
             |  round(avg(yadj), 6) AS mean_adj,
             |  round(var_pop(y), 6) AS var_post,
             |  round(var_pop(yadj), 6) AS var_adj,
             |  any_value(theta) AS theta, var_reduction
             |FROM adj CROSS JOIN pool
             |GROUP BY arm, var_reduction
             |ORDER BY arm""".stripMargin)),


    // ---------------------------------------------------------------------
    // q174: leave-one-source-out data valuation (the closed-form core
    // of Data-Shapley/datamodels on a linear probe) — refit WITHOUT
    // each source by subtracting its sufficient statistics, score on a
    // held-out split, and price the source by the MSE it saves.
    // src13's x is corrupted with doc_id noise, so dropping it must
    // IMPROVE the held-out fit (delta_mse < 0, helps = false) while
    // healthy sources help. All sums are exact longs; fits freeze at 6
    // decimals; the leave-out refit is subtraction, not a retrain.
    QueryDef("q174_loso_valuation",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          (Text.tokenCount(col("text"))
            + when(col("source") === "src13", col("doc_id") % 200)
              .otherwise(0)).cast("long").as("x"),
          col("n_chars").cast("long").as("y"))
        val evalSplit = d.filter(col("doc_id") % 7 === 0)
        val train = d.filter(col("doc_id") % 7 =!= 0)
        graft.operators.Valuation.leaveOneGroupOut(
            train, evalSplit, "source", "x", "y")
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(len(list_filter(string_split_regex(
             |        lower(trim(text)), '\s+'), t -> t <> ''))
             |      + CASE WHEN source = 'src13' THEN doc_id % 200
             |        ELSE 0 END AS BIGINT) AS x,
             |    CAST(n_chars AS BIGINT) AS y
             |  FROM documents),
             |tr AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
             |evs AS (SELECT CAST(count(*) AS BIGINT) AS en,
             |    sum(x) AS esx, sum(y) AS esy, sum(x * y) AS esxy,
             |    sum(x * x) AS esxx, sum(y * y) AS esyy
             |  FROM d WHERE doc_id % 7 = 0),
             |pg AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
             |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             |    sum(x * x) AS sxx
             |  FROM tr GROUP BY 1),
             |tot AS (SELECT sum(n) AS tn, sum(sx) AS tsx,
             |    sum(sy) AS tsy, sum(sxy) AS tsxy, sum(sxx) AS tsxx
             |  FROM pg),
             |base AS (SELECT * FROM pg CROSS JOIN tot CROSS JOIN evs),
             |f AS (SELECT *,
             |    round((CAST(tn AS DOUBLE) * tsxy
             |        - CAST(tsx AS DOUBLE) * tsy)
             |      / (CAST(tn AS DOUBLE) * tsxx
             |        - CAST(tsx AS DOUBLE) * tsx), 6) AS bf,
             |    round((CAST(tn - n AS DOUBLE) * (tsxy - sxy)
             |        - CAST(tsx - sx AS DOUBLE) * (tsy - sy))
             |      / (CAST(tn - n AS DOUBLE) * (tsxx - sxx)
             |        - CAST(tsx - sx AS DOUBLE) * (tsx - sx)), 6)
             |      AS slope_wo
             |  FROM base),
             |g AS (SELECT *,
             |    round((tsy - bf * tsx) / tn, 6) AS af,
             |    round(((tsy - sy) - slope_wo * (tsx - sx))
             |      / (tn - n), 6) AS icept_wo
             |  FROM f),
             |h AS (SELECT *,
             |    round((esyy - 2.0 * af * esy - 2.0 * bf * esxy
             |      + 2.0 * af * bf * esx + af * af * en
             |      + bf * bf * esxx) / en, 6) AS mse_full,
             |    round((esyy - 2.0 * icept_wo * esy
             |      - 2.0 * slope_wo * esxy
             |      + 2.0 * icept_wo * slope_wo * esx
             |      + icept_wo * icept_wo * en
             |      + slope_wo * slope_wo * esxx) / en, 6) AS mse_wo
             |  FROM g)
             |SELECT source, n AS n_train, slope_wo, icept_wo,
             |  mse_full, mse_wo,
             |  round(mse_wo - mse_full, 6) AS delta_mse,
             |  round(mse_wo - mse_full, 6) >= 0 AS helps
             |FROM h ORDER BY source""".stripMargin)),


    // ---------------------------------------------------------------------
    // q175: class-balanced weights by effective number of samples (Cui
    // et al. 2019) over the language distribution — between uniform
    // and inverse-frequency: tiny classes get boosted but by their
    // EFFECTIVE count (1−β^n)/(1−β), not their raw inverse, so a
    // 10-doc language doesn't get a 100× noise amplifier. One
    // |classes|-row aggregate + arithmetic.
    QueryDef("q175_class_balance",
      (s, dir) => graft.operators.Mix.classBalancedWeights(
          t(s, dir, "documents"), "lang", beta = 0.999)
        .orderBy(col("lang")),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents
             |  GROUP BY 1),
             |e AS (SELECT lang, n,
             |    -- (1.0 - 0.999) on purpose: the engine-computed
             |    -- subtraction is the same double Spark's lit(1.0 -
             |    -- beta) carries; the literal 0.001 is NOT
             |    (1.0 - pow(0.999, n)) / (1.0 - 0.999) AS en
             |  FROM c),
             |z AS (SELECT sum(1.0 / en) AS z, count(*) AS k FROM e)
             |SELECT lang, n, round(en, 4) AS eff_n,
             |  round((1.0 / en) * k / z, 6) AS weight
             |FROM e CROSS JOIN z ORDER BY lang""".stripMargin)),


    // ---------------------------------------------------------------------
    // q176: selection gain/lift table — decile view of a quality
    // scorer against a (noisily score-correlated, md5-derived) gold
    // label: top deciles must show lift > 1 and concentrated gain,
    // bottom deciles < 1. The budget-bound complement to q123's
    // threshold-free calibration. ntile over a TOTAL order is
    // engine-identical; all rates are integer ratios.
    QueryDef("q176_selection_gain",
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("doc_id"),
          col("n_chars").as("score"),
          ((col("n_chars") + pmod(Text.md5Long(
            col("doc_id").cast("string")), lit(100L))) > 350)
            .cast("int").as("label"))
        graft.operators.Lift.gainTable(scored, "doc_id", "score",
            "label", buckets = 10)
          .orderBy(col("bucket"))
      },
      Some("""WITH sc AS (SELECT doc_id, n_chars AS score,
             |    CASE WHEN n_chars + (('0x' || substr(md5(CAST(doc_id
             |      AS VARCHAR)), 1, 15))::BIGINT % 100) > 350
             |      THEN 1 ELSE 0 END AS pos
             |  FROM documents),
             |b AS (SELECT doc_id, pos,
             |    ntile(10) OVER (ORDER BY score DESC, doc_id) AS bucket
             |  FROM sc),
             |per AS (SELECT bucket, count(*) AS n_rows,
             |    CAST(sum(pos) AS BIGINT) AS n_pos
             |  FROM b GROUP BY 1),
             |tot AS (SELECT sum(n_rows) AS tn, sum(n_pos) AS tp
             |  FROM per),
             |cum AS (SELECT bucket, n_rows, n_pos, tn, tp,
             |    CAST(sum(n_pos) OVER (ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
             |  FROM per CROSS JOIN tot)
             |SELECT bucket, n_rows, n_pos,
             |  round(CAST(n_pos AS DOUBLE) / n_rows, 6) AS pos_rate,
             |  cum_pos,
             |  round(CAST(cum_pos AS DOUBLE) / tp, 6) AS gain,
             |  round((CAST(n_pos AS DOUBLE) / n_rows)
             |    / (CAST(tp AS DOUBLE) / tn), 6) AS lift
             |FROM cum ORDER BY bucket""".stripMargin)),


    // ---------------------------------------------------------------------
    // q177: salted skew-join EXECUTION — the rewrite q139 plans, run:
    // the q139-planted hot key (5% of lineitem collapses onto part 1)
    // joins the part dim through Skew.saltedJoin (fact salt in [0,8),
    // dim replicated 8x, join on (key, salt)). The ORACLE IS THE
    // UNSALTED JOIN: identical group totals pin the rewrite's semantic
    // equivalence — the salt may only route rows, never change them.
    QueryDef("q177_salted_join",
      (s, dir) => {
        val fact = t(s, dir, "lineitem").select(
          when(col("l_orderkey") % 20 === 0, lit(1L))
            .otherwise(col("l_partkey")).cast("long").as("part"),
          col("l_extendedprice"), col("l_discount"),
          col("l_orderkey"), col("l_linenumber"))
        val dim = t(s, dir, "part").select(
          col("p_partkey").cast("long").as("part"), col("p_brand"))
        graft.operators.Skew.saltedJoin(fact, dim, "part",
            xxhash64(col("l_orderkey"), col("l_linenumber")), 8)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")
              * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH f AS (SELECT CASE WHEN l_orderkey % 20 = 0 THEN 1
             |    ELSE l_partkey END AS part,
             |    l_extendedprice, l_discount
             |  FROM lineitem)
             |SELECT p_brand, count(*) AS n_items,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2)
             |    AS revenue
             |FROM f JOIN part ON p_partkey = part
             |GROUP BY 1 ORDER BY 1""".stripMargin)),


    // ---------------------------------------------------------------------
    // q181: feature-correlation / redundancy audit — pairwise Pearson
    // over the lineitem numerics plus a DERIVED charge column
    // (price·(1+tax)): the derived pair must flag redundant (|r| >
    // 0.8, drop one before modeling) while the organic pairs sit near
    // zero in this corpus. One aggregate row computes all pairs in a
    // single scan; the matrix unpivots via explode.
    QueryDef("q181_feature_corr",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_quantity").cast("double").as("qty"),
          col("l_extendedprice").as("price"),
          col("l_discount").as("disc"),
          (col("l_extendedprice") * (lit(1.0) + col("l_tax")))
            .as("charge"))
        val pairs = Seq(("charge", "disc"), ("charge", "price"),
          ("charge", "qty"), ("disc", "price"), ("disc", "qty"),
          ("price", "qty"))
        val agg = li.agg(
          corr(col(pairs.head._1), col(pairs.head._2))
            .as(s"${pairs.head._1}__${pairs.head._2}"),
          pairs.tail.map { case (a, b) =>
            corr(col(a), col(b)).as(s"${a}__$b") }: _*)
        agg.select(explode(array(pairs.map { case (a, b) =>
            struct(lit(a).as("feat_a"), lit(b).as("feat_b"),
              round(col(s"${a}__$b"), 6).as("r")) }: _*)).as("e"))
          .select(col("e.feat_a").as("feat_a"),
            col("e.feat_b").as("feat_b"), col("e.r").as("r"))
          .withColumn("abs_r", abs(col("r")))
          .withColumn("redundant", abs(col("r")) > 0.8)
          .orderBy(col("feat_a"), col("feat_b"))
      },
      Some("""WITH li AS (SELECT CAST(l_quantity AS DOUBLE) AS qty,
             |    l_extendedprice AS price, l_discount AS disc,
             |    l_extendedprice * (1.0 + l_tax) AS charge
             |  FROM lineitem),
             |c AS (SELECT corr(charge, disc) AS c1,
             |    corr(charge, price) AS c2, corr(charge, qty) AS c3,
             |    corr(disc, price) AS c4, corr(disc, qty) AS c5,
             |    corr(price, qty) AS c6
             |  FROM li),
             |u AS (
             |  SELECT 'charge' AS feat_a, 'disc' AS feat_b,
             |    round(c1, 6) AS r FROM c
             |  UNION ALL SELECT 'charge', 'price', round(c2, 6) FROM c
             |  UNION ALL SELECT 'charge', 'qty', round(c3, 6) FROM c
             |  UNION ALL SELECT 'disc', 'price', round(c4, 6) FROM c
             |  UNION ALL SELECT 'disc', 'qty', round(c5, 6) FROM c
             |  UNION ALL SELECT 'price', 'qty', round(c6, 6) FROM c)
             |SELECT feat_a, feat_b, r, abs(r) AS abs_r,
             |  abs(r) > 0.8 AS redundant
             |FROM u ORDER BY feat_a, feat_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q183: weight-of-evidence / information-value feature audit
    // (Siddiqi's credit-scoring standard) — order total quintiles
    // against an md5-noised value-correlated label: the WoE ladder
    // must be monotone and IV must land in the strong-predictor band,
    // all without training a model. Laplace-smoothed shares (the
    // Drift.psi convention); ntile over a total order.
    QueryDef("q183_woe_iv",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice"),
          ((col("o_totalprice") + pmod(Text.md5Long(
            col("o_orderkey").cast("string")), lit(100000L)))
            > 300000).cast("int").as("label"))
        graft.operators.Lift.woeIv(o, "o_orderkey", "o_totalprice",
            "label", bins = 5)
          .orderBy(col("bin"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_totalprice,
             |    CASE WHEN o_totalprice + (('0x' || substr(md5(
             |      CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
             |      % 100000) > 300000 THEN 1 ELSE 0 END AS pos
             |  FROM orders),
             |b AS (SELECT o_orderkey, pos, ntile(5) OVER (
             |    ORDER BY o_totalprice, o_orderkey) AS bin FROM o),
             |per AS (SELECT bin, count(*) AS n_rows,
             |    CAST(sum(pos) AS BIGINT) AS n_pos,
             |    count(*) - CAST(sum(pos) AS BIGINT) AS n_neg
             |  FROM b GROUP BY 1),
             |tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tneg
             |  FROM per),
             |sh AS (SELECT bin, n_rows, n_pos,
             |    round((n_pos + 0.5) / (tp + 2.5), 6) AS pos_share,
             |    round((n_neg + 0.5) / (tneg + 2.5), 6) AS neg_share
             |  FROM per CROSS JOIN tot),
             |wv AS (SELECT *,
             |    round(ln(pos_share / neg_share), 6) AS woe
             |  FROM sh),
             |iv AS (SELECT *,
             |    round((pos_share - neg_share) * woe, 6) AS iv_contrib
             |  FROM wv)
             |SELECT bin, n_rows, n_pos, pos_share, neg_share, woe,
             |  iv_contrib,
             |  round(sum(iv_contrib) OVER (), 6) AS iv
             |FROM iv ORDER BY bin""".stripMargin)),


    // ---------------------------------------------------------------------
    // q184: per-source lexical divergence — Jensen-Shannon between each
    // source's unigram distribution and the REST of the corpus (the
    // data-mixing similarity measure; rest-of-corpus so a big source
    // isn't compared against itself). src17 carries planted off-topic
    // vocabulary and must take jsd_rank 1. Laplace smoothing over the
    // global vocab gives shared support; the evaluation frame is
    // |sources|x|vocab|-bounded, never corpus-row-bounded.
    QueryDef("q184_source_divergence",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("source"),
          when(col("source") === "src17", concat(col("text"),
            lit(" quantum flux capacitor tachyon quantum flux")))
            .otherwise(col("text")).as("text"))
        graft.operators.Divergence.sourceJsd(d, "source", "text")
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source,
             |    CASE WHEN source = 'src17' THEN text ||
             |      ' quantum flux capacitor tachyon quantum flux'
             |      ELSE text END AS text
             |  FROM documents),
             |tok AS (SELECT source AS src,
             |    unnest(list_filter(string_split_regex(
             |      lower(trim(text)), '\s+'), x -> x <> '')) AS w
             |  FROM d),
             |sc AS (SELECT src, w, count(*) AS n_sw FROM tok
             |  GROUP BY 1, 2),
             |gc AS (SELECT w, count(*) AS n_w FROM tok GROUP BY 1),
             |vn AS (SELECT count(*) AS v,
             |    CAST(sum(n_w) AS BIGINT) AS t_all FROM gc),
             |stt AS (SELECT src, CAST(sum(n_sw) AS BIGINT) AS t_s,
             |    count(*) AS n_types FROM sc GROUP BY 1),
             |grid AS (SELECT s2.src, s2.t_s, vn.v, vn.t_all, gc.w,
             |    gc.n_w, coalesce(sc.n_sw, 0) AS n_sw
             |  FROM stt s2 CROSS JOIN vn CROSS JOIN gc
             |  LEFT JOIN sc ON sc.src = s2.src AND sc.w = gc.w),
             |pq AS (SELECT src,
             |    (n_sw + 0.5) / (t_s + v * 0.5) AS p,
             |    ((n_w - n_sw) + 0.5) / ((t_all - t_s) + v * 0.5) AS q
             |  FROM grid),
             |ct AS (SELECT src,
             |    0.5 * p * ln(p / ((p + q) / 2))
             |      + 0.5 * q * ln(q / ((p + q) / 2)) AS c
             |  FROM pq),
             |j AS (SELECT src, round(sum(c), 6) AS jsd FROM ct
             |  GROUP BY 1)
             |SELECT s2.src AS source, t_s AS n_tokens,
             |  CAST(n_types AS BIGINT) AS n_types, jsd,
             |  dense_rank() OVER (ORDER BY jsd DESC) AS jsd_rank
             |FROM stt s2 JOIN j USING (src)
             |ORDER BY source""".stripMargin)),


    // ---------------------------------------------------------------------
    // q189: q184's divergence with the WEB-SCALE vocabulary cap on — the
    // top-V heavy-hitter cut (V=24 of the corpus's ~35 words, so the cut
    // fires at every SF) with per-source dropped_tokens/dropped_types
    // telemetry in the q188 style: a cap that drops data must say so.
    // The capped JSD renormalizes totals, type counts and smoothing
    // support to the kept words (a proper distribution over the capped
    // support, not a truncated sum); ties at the cut break to the
    // lexicographically smaller word — a total order, so both engines
    // keep the identical 24 words.
    QueryDef("q189_source_divergence_capped",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("source"),
          when(col("source") === "src17", concat(col("text"),
            lit(" quantum flux capacitor tachyon quantum flux")))
            .otherwise(col("text")).as("text"))
        graft.operators.Divergence.sourceJsd(d, "source", "text",
            maxVocab = Some(24))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source,
             |    CASE WHEN source = 'src17' THEN text ||
             |      ' quantum flux capacitor tachyon quantum flux'
             |      ELSE text END AS text
             |  FROM documents),
             |tok AS (SELECT source AS src,
             |    unnest(list_filter(string_split_regex(
             |      lower(trim(text)), '\s+'), x -> x <> '')) AS w
             |  FROM d),
             |sc0 AS (SELECT src, w, count(*) AS n_sw FROM tok
             |  GROUP BY 1, 2),
             |keep AS (SELECT w, n_w FROM (
             |    SELECT w, count(*) AS n_w FROM tok GROUP BY 1)
             |  ORDER BY n_w DESC, w LIMIT 24),
             |sc AS (SELECT sc0.src, sc0.w, sc0.n_sw
             |  FROM sc0 JOIN keep USING (w)),
             |vn AS (SELECT count(*) AS v,
             |    CAST(sum(n_w) AS BIGINT) AS t_all FROM keep),
             |stt AS (SELECT src, CAST(sum(n_sw) AS BIGINT) AS t_s,
             |    count(*) AS n_types FROM sc GROUP BY 1),
             |raw AS (SELECT src, CAST(sum(n_sw) AS BIGINT) AS raw_tokens,
             |    count(*) AS raw_types FROM sc0 GROUP BY 1),
             |grid AS (SELECT s2.src, s2.t_s, vn.v, vn.t_all, keep.w,
             |    keep.n_w, coalesce(sc.n_sw, 0) AS n_sw
             |  FROM stt s2 CROSS JOIN vn CROSS JOIN keep
             |  LEFT JOIN sc ON sc.src = s2.src AND sc.w = keep.w),
             |pq AS (SELECT src,
             |    (n_sw + 0.5) / (t_s + v * 0.5) AS p,
             |    ((n_w - n_sw) + 0.5) / ((t_all - t_s) + v * 0.5) AS q
             |  FROM grid),
             |ct AS (SELECT src,
             |    0.5 * p * ln(p / ((p + q) / 2))
             |      + 0.5 * q * ln(q / ((p + q) / 2)) AS c
             |  FROM pq),
             |j AS (SELECT src, round(sum(c), 6) AS jsd FROM ct
             |  GROUP BY 1)
             |SELECT s2.src AS source, t_s AS n_tokens,
             |  CAST(n_types AS BIGINT) AS n_types, jsd,
             |  raw_tokens - t_s AS dropped_tokens,
             |  CAST(raw_types - n_types AS BIGINT) AS dropped_types,
             |  dense_rank() OVER (ORDER BY jsd DESC) AS jsd_rank
             |FROM stt s2 JOIN j USING (src) JOIN raw USING (src)
             |ORDER BY source""".stripMargin))
  )
}
