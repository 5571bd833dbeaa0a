package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator catalog over the TPC-H-ish corpus (FIXTURES.md §B).
  *
  * The reference has NO joins, windows, sorts, distinct or set ops anywhere
  * (SURVEY.md §2.x) — this catalog supplies the full relational surface a
  * query engine needs, Catalyst-planned so pushdown/pruning/join-selection/
  * AQE come for free (SURVEY.md §4.3). EXPLAIN-verified properties are
  * asserted in PlanSpec (tests), e.g. broadcast of small dims and filter
  * pushdown to the Parquet scan.
  *
  * Oracle-determinism rules used throughout (SURVEY.md §7.4):
  *   - money/double sums go through exact integer cents:
  *     `CAST(FLOOR(x*100) AS BIGINT)` — IEEE multiply + floor is
  *     bit-deterministic in both engines, and integer sums are order-free
  *     (raw double sums are NOT: partial-aggregation order differs);
  *   - DuckDB SUM(BIGINT) returns HUGEINT → always re-CAST to BIGINT;
  *   - int-typed scalars (length, year, datediff…) are cast to BIGINT on
  *     both sides so parquet/duckdb physical types agree;
  *   - every query ends in a full-tie-break ORDER BY.
  */
object RelationalQueries {

  /** Exact integer cents from a double money column. */
  private def cents(c: Column): Column = floor(c * 100)

  private def tbl(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables(s, dir, name)

  // --- aggregation ----------------------------------------------------------

  /** TPC-H Q1-style pricing summary: the canonical partial+final hash
    * aggregation (the reference's reduceByKey, op #5, generalized). */
  val q1Pricing = QuerySpec(
    "q1_pricing",
    "multi-measure hash aggregation with map-side combine",
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           |  CAST(COUNT(*) AS BIGINT) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(floor(col("l_quantity"))).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)).as("sum_disc_cents"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")) * 100)).as("sum_charge_cents"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"))

  /** ROLLUP over the region→nation hierarchy; grouping() labels replace the
    * NULL subtotal markers so Spark/DuckDB NULL-ordering differences can't
    * bite. */
  val aggRollup = QuerySpec(
    "agg_rollup",
    "hierarchical ROLLUP with grouping() labels",
    Some("""SELECT
           |  CASE WHEN GROUPING(r_name) = 1 THEN '(all)' ELSE r_name END AS region,
           |  CASE WHEN GROUPING(n_name) = 1 THEN '(all)' ELSE n_name END AS nation,
           |  CAST(COUNT(*) AS BIGINT) AS n_cust,
           |  CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP(r_name, n_name)
           |ORDER BY region, nation""".stripMargin),
    (s, dir) => {
      // Expressed via spark.sql: referencing rollup grouping columns after
      // .agg() trips Spark's ambiguous-self-join check (the Expand node
      // duplicates their attributes); the SQL path resolves GROUPING()
      // correctly and plans identically.
      tbl(s, dir)("customer").createOrReplaceTempView("customer")
      tbl(s, dir)("nation").createOrReplaceTempView("nation")
      tbl(s, dir)("region").createOrReplaceTempView("region")
      s.sql("""SELECT
        |  CASE WHEN GROUPING(r_name) = 1 THEN '(all)' ELSE r_name END AS region,
        |  CASE WHEN GROUPING(n_name) = 1 THEN '(all)' ELSE n_name END AS nation,
        |  COUNT(*) AS n_cust,
        |  SUM(FLOOR(c_acctbal * 100)) AS bal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin)
    })

  /** CUBE over two independent dimensions. */
  val aggCube = QuerySpec(
    "agg_cube",
    "CUBE aggregation with grouping() labels",
    Some("""SELECT
           |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
           |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END AS priority,
           |  CAST(COUNT(*) AS BIGINT) AS n_orders,
           |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
           |FROM orders
           |GROUP BY CUBE(o_orderstatus, o_orderpriority)
           |ORDER BY status, priority""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          grouping(col("o_orderstatus")).as("gs"), grouping(col("o_orderpriority")).as("gp"))
        .select(
          when(col("gs") === 1, "(all)").otherwise(col("o_orderstatus")).as("status"),
          when(col("gp") === 1, "(all)").otherwise(col("o_orderpriority")).as("priority"),
          col("n_orders"), col("total_cents"))
        .orderBy("status", "priority"))

  /** Explicit GROUPING SETS (beyond rollup/cube): chosen subtotal combos. */
  val aggGroupingSets = QuerySpec(
    "agg_grouping_sets",
    "explicit GROUPING SETS aggregation",
    Some("""SELECT
           |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
           |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END AS priority,
           |  CAST(COUNT(*) AS BIGINT) AS n_orders
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY status, priority""".stripMargin),
    (s, dir) => {
      tbl(s, dir)("orders").createOrReplaceTempView("orders")
      s.sql("""SELECT
        |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
        |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END AS priority,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
    })

  /** RANGE-framed window: trailing-30-day order totals per customer (the
    * frame is value-based on a day-number column, not row-based). */
  val winRange = QuerySpec(
    "win_range",
    "RANGE window frame: trailing 30-day totals per customer",
    Some("""WITH o AS (SELECT o_custkey, o_orderkey,
           |    CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS dayno,
           |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM orders)
           |SELECT o_custkey, o_orderkey, dayno,
           |  CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY dayno
           |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_30d
           |FROM o ORDER BY o_custkey, dayno, o_orderkey""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("dayno").rangeBetween(-30, 0)
      tbl(s, dir)("orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("dayno"),
          cents(col("o_totalprice")).as("cents"))
        .select(col("o_custkey"), col("o_orderkey"), col("dayno"),
          sum(col("cents")).over(w).as("cents_30d"))
        .orderBy("o_custkey", "dayno", "o_orderkey")
    })

  /** Exact COUNT(DISTINCT) — Catalyst expands to a two-phase aggregate. */
  val aggDistinct = QuerySpec(
    "agg_distinct",
    "multi-column exact distinct aggregation",
    Some("""SELECT l_returnflag,
           |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"))

  /** HLL sketch distinct (approx_count_distinct), ORACLE-GATED: sketch
    * internals differ across engines, so the OUTPUT carries only
    * deterministic columns — the group key, the exact distinct recomputed
    * in-plan (DuckDB recomputes the same exact side), and a `within_5pct`
    * bound flag. The sketch estimate stays internal: if relative error
    * exceeds 5% (2.5× the 2% target rsd) the flag turns false AND the plan
    * raise_errors, so drift fails the hash gate loudly rather than passing
    * silently. At 100 TB the sketch replaces the exact distinct's full
    * shuffle with a fixed-size merge; the exact branch here is the
    * validation harness, not the scale path. */
  val aggApproxHll = QuerySpec(
    "agg_approx_hll",
    "HyperLogLog++ approximate distinct per group (oracle-gated exact twin + bound flag)",
    Some("""SELECT l_returnflag,
           |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  TRUE AS within_5pct
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    (s, dir) => {
      val li = tbl(s, dir)("lineitem")
      val approx = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          count(lit(1)).as("n_rows"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      approx.join(exact, "l_returnflag")
        .withColumn("rel_err",
          abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts").cast("double"))
        .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
          when(col("rel_err") <= lit(0.05), lit(true))
            .otherwise(raise_error(concat(
              lit("agg_approx_hll: sketch relative error beyond 5%: "),
              col("rel_err").cast("string")))).as("within_5pct"))
        .orderBy("l_returnflag")
    })

  /** Approximate percentile sketch (Spark's QuantileSummaries / GK-style),
    * the percentile sibling of agg_approx_hll, ORACLE-GATED the same way:
    * the output carries the group key, the exact row count (DuckDB's twin),
    * and rank-bound flags; the approximate answers stay internal. For
    * accuracy epsilon=1/1000 the value returned for quantile q must cover a
    * rank within (q ± 10*eps)·n — checked from exact counts in-plan, with
    * raise_error making drift loud. At 100 TB the sketch replaces a full
    * sort with a bounded-size mergeable summary; the exact branch is the
    * validation harness. */
  val aggApproxPercentile = QuerySpec(
    "agg_approx_percentile",
    "approximate median/p90 per group, oracle-gated via exact rank bounds",
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           |  TRUE AS p50_in_bound, TRUE AS p90_in_bound
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    (s, dir) => {
      val li = tbl(s, dir)("lineitem")
        .select(col("l_returnflag"),
          (col("l_extendedprice") * 100).cast("long").as("cents"))
      val approx = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("cents"), lit(0.5), lit(1000)).as("approx_p50"),
          percentile_approx(col("cents"), lit(0.9), lit(1000)).as("approx_p90"))
      // exact ranks of the approximate answers: for accuracy epsilon=1/1000,
      // the value returned for quantile q must cover a rank within
      // (q ± 10*eps) * n (10x headroom per the scaladoc) — check from
      // exact counts
      val exact = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
      val ranked = approx.join(li, "l_returnflag")
        .groupBy(col("l_returnflag"), col("approx_p50"), col("approx_p90"))
        .agg(sum(when(col("cents") <= col("approx_p50"), 1L).otherwise(0L)).as("rank50"),
          sum(when(col("cents") <= col("approx_p90"), 1L).otherwise(0L)).as("rank90"))
      ranked.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          (col("rank50").cast("double") / col("n")).as("rank50_frac"),
          (col("rank90").cast("double") / col("n")).as("rank90_frac"))
        .select(col("l_returnflag"), col("n"),
          when(col("rank50_frac").between(0.5 - 0.01, 0.5 + 0.01), lit(true))
            .otherwise(raise_error(concat(lit("approx p50 rank out of bound: "),
              col("rank50_frac").cast("string")))).as("p50_in_bound"),
          when(col("rank90_frac").between(0.9 - 0.01, 0.9 + 0.01), lit(true))
            .otherwise(raise_error(concat(lit("approx p90 rank out of bound: "),
              col("rank90_frac").cast("string")))).as("p90_in_bound"))
        .orderBy("l_returnflag")
    })

  /** Sketch MERGEABILITY — the property the other two sketch entries don't
    * exercise and the one that matters most at warehouse scale: DataSketches
    * HLL sketches built per (event_type, day) are UNIONED into weekly
    * distinct-user counts without touching raw data again. This is the
    * re-aggregatable-rollup pattern: store fixed-KB daily sketches and
    * answer ANY coarser window by merging them — `approx_count_distinct`
    * can't do this (its result is a number, not a mergeable state) and the
    * exact distinct pays a full reshuffle of raw events per window asked.
    * ORACLE-GATED like its siblings: the output carries only deterministic
    * columns (group keys, sketch-count n_days, the exact weekly distinct
    * DuckDB recomputes, and a bound flag); the merged estimate stays
    * internal, with raise_error firing beyond 5% relative error so drift
    * fails both the hash gate and the run itself. */
  val aggHllMerge = QuerySpec(
    "agg_hll_merge",
    "daily HLL sketches unioned to weekly distincts (mergeable rollup, oracle-gated)",
    Some("""WITH e AS (SELECT event_type, user_id,
           |    EPOCH_MS(ts) // 86400000 AS day FROM events)
           |SELECT event_type, CAST(day // 7 AS BIGINT) AS wk,
           |  CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           |  TRUE AS within_5pct
           |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          expr("unix_millis(ts) div 86400000").as("day"))
      val daily = e.groupBy("event_type", "day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val weekly = daily.withColumn("wk", expr("day div 7"))
        .groupBy("event_type", "wk")
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_users"))
      val exact = e.withColumn("wk", expr("day div 7"))
        .groupBy("event_type", "wk")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, Seq("event_type", "wk"))
        .withColumn("rel_err",
          abs(col("merged_users") - col("exact_users")).cast("double") /
            col("exact_users").cast("double"))
        .select(col("event_type"), col("wk"), col("n_days"), col("exact_users"),
          when(col("rel_err") <= lit(0.05), lit(true))
            .otherwise(raise_error(concat(
              lit("agg_hll_merge: merged-sketch relative error beyond 5%: "),
              col("rel_err").cast("string")))).as("within_5pct"))
        .orderBy("event_type", "wk")
    })

  // --- joins ----------------------------------------------------------------

  /** TPC-H Q3-style 3-way join + aggregate + top-k. */
  val q3Topk = QuerySpec(
    "q3_topk",
    "3-way equi-join, aggregation, order+limit top-k",
    Some("""SELECT o_orderkey,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           |  STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
           |GROUP BY o_orderkey, o_orderdate
           |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("customer").filter(col("c_mktsegment") === "BUILDING")
        .join(tbl(s, dir)("orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00"))
        .join(tbl(s, dir)("lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1996-06-30 00:00:00"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)).as("revenue_cents"))
        .select(col("o_orderkey"), col("revenue_cents"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10))

  /** TPC-H Q5-style star join across 6 tables; dims are broadcast (verified
    * in PlanSpec) so the only shuffle is the final group-by. */
  val q5Region = QuerySpec(
    "q5_region",
    "6-table star join with broadcast dims",
    Some("""SELECT n_name,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'EUROPE'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("customer")
        .join(tbl(s, dir)("orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00"))
        .join(tbl(s, dir)("lineitem"), col("l_orderkey") === col("o_orderkey"))
        // supplier grows with SF (10k rows/SF) — size-guarded, not unconditional
        .join(Broadcasting.maybeBroadcast(tbl(s, dir)("supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(tbl(s, dir)("nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir)("region")).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name")))

  /** Fact ⋈ broadcast dim: the fundamental 100 TB join shape — no shuffle of
    * the big side. */
  val joinBroadcast = QuerySpec(
    "join_broadcast",
    "fact-to-small-dim broadcast hash join",
    Some("""SELECT p_brand,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("lineitem")
        // part grows with SF (200k rows/SF): hint only when measured small.
        // At test SFs the guard passes and PlanSpec still sees the
        // BroadcastHashJoin this query exists to demonstrate; at 100 TB the
        // join falls back to shuffle instead of OOMing the driver.
        .join(Broadcasting.maybeBroadcast(tbl(s, dir)("part")
            .select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(cents(col("l_extendedprice"))).as("revenue_cents"),
          sum(floor(col("l_quantity"))).as("sum_qty"))
        .orderBy("p_brand"))

  /** Equi + range predicate join (the reference has no joins at all; range
    * predicates exercise Catalyst's non-equi handling on top of the hash
    * join). */
  val joinRange = QuerySpec(
    "join_range",
    "equi-join with range predicate (ship within 60 days of order)",
    Some("""SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_fast_lines
           |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
           |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("orders")
        .join(tbl(s, dir)("lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_fast_lines"))
        .orderBy("o_orderkey"))

  /** Left-semi join: customers having at least one big order. */
  val joinSemi = QuerySpec(
    "join_semi",
    "left-semi join (EXISTS)",
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
           |ORDER BY c_custkey""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("customer")
        .join(tbl(s, dir)("orders").filter(col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"))

  /** Left-anti join: customers with no 1997 orders (every customer has SOME
    * order at these SFs, so the filtered anti keeps the result non-trivial). */
  val joinAnti = QuerySpec(
    "join_anti",
    "left-anti join (NOT EXISTS)",
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
           |ORDER BY c_custkey""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("customer")
        .join(tbl(s, dir)("orders")
            .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00") &&
              col("o_orderdate") < lit("1998-01-01 00:00:00")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"))

  /** FULL OUTER join: customers-per-nation vs suppliers-per-nation, keeping
    * nations that have only one side (null-padded, coalesced to 0). */
  val joinFullOuter = QuerySpec(
    "join_full_outer",
    "full outer join with null-side coalescing",
    Some("""WITH cn AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
           |  FROM customer GROUP BY 1),
           |sn AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
           |  FROM supplier GROUP BY 1)
           |SELECT COALESCE(cn.nk, sn.nk) AS nk,
           |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp,
           |  cn.nk IS NOT NULL AND sn.nk IS NOT NULL AS both_sides
           |FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
           |ORDER BY nk""".stripMargin),
    (s, dir) => {
      val cn = tbl(s, dir)("customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = tbl(s, dir)("supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, col("nk") === col("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).as("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          (col("nk").isNotNull && col("nk2").isNotNull).as("both_sides"))
        .orderBy("nk")
    })

  /** rank vs dense_rank under real ties (prices bucketed to thousands so
    * ties exist; output rows carry unique tie-break keys). */
  val winRank = QuerySpec(
    "win_rank",
    "rank / dense_rank tie semantics",
    Some("""WITH o AS (SELECT o_custkey, o_orderkey,
           |    CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS kilo
           |  FROM orders)
           |SELECT o_custkey, o_orderkey, kilo,
           |  CAST(RANK() OVER w AS BIGINT) AS rnk,
           |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
           |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY kilo DESC)
           |ORDER BY o_custkey, kilo DESC, o_orderkey""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("kilo").desc)
      tbl(s, dir)("orders")
        .select(col("o_custkey"), col("o_orderkey"),
          floor(col("o_totalprice") / 1000).as("kilo"))
        .select(col("o_custkey"), col("o_orderkey"), col("kilo"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .orderBy(col("o_custkey"), col("kilo").desc, col("o_orderkey"))
    })

  /** TPC-H Q7-style bidirectional two-nation flow: the same nation dim joins
    * TWICE under different roles (supplier side and customer side), with a
    * symmetric pair predicate — the self-join-alias shape Q5 doesn't
    * exercise. Volume is exact integers end-to-end: cents × (100 −
    * whole-percent discount), summed as BIGINT. Both nation copies
    * broadcast; the only shuffles are the big-table joins and the final
    * group-by. */
  val q7Nations = QuerySpec(
    "q7_nations",
    "bidirectional nation-pair trade volume (nation dim joined twice)",
    Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
           |    * (100 - CAST(FLOOR(l_discount * 100) AS BIGINT))) AS BIGINT) AS volume_x10000
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |WHERE ((n1.n_nationkey % 5 = 1 AND n2.n_nationkey % 5 = 2)
           |    OR (n1.n_nationkey % 5 = 2 AND n2.n_nationkey % 5 = 1))
           |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    (s, dir) => {
      val n1 = broadcast(tbl(s, dir)("nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"),
          (col("n_nationkey") % 5).as("n1_grp")))
      val n2 = broadcast(tbl(s, dir)("nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"),
          (col("n_nationkey") % 5).as("n2_grp")))
      tbl(s, dir)("lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01 00:00:00") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00"))
        .join(Broadcasting.maybeBroadcast(tbl(s, dir)("supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(tbl(s, dir)("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir)("customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter((col("n1_grp") === 1 && col("n2_grp") === 2) ||
          (col("n1_grp") === 2 && col("n2_grp") === 1))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - floor(col("l_discount") * 100).cast("long"))).as("volume_x10000"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    })

  /** TPC-H Q9-style product-line profit: nation × order-year margins for
    * parts matching a name token — the 5-table star join with a SELECTIVE
    * dim filter that only pays off if the filter reaches the fact side
    * early (the runtime-bloom/DPP shape PlanSpec pins on its own fixture,
    * here as a catalog query). Without a partsupp table the cost leg uses
    * p_retailprice; profit stays exact integers at the x10000 scale
    * (cents × percent), quantity takes the catalog's FLOOR-then-cast law
    * (explicit truncation both ends — a bare CAST rounds in DuckDB but
    * truncates in Spark, matching only while the data stays whole-valued).
    * Plan: the filtered part dim takes the measured broadcast guard (it
    * grows with SF, unlike nation), nation broadcasts unconditionally,
    * and the aggregate's group keys are a 25×|years| bounded space —
    * map-side combine flattens the fact stream before the final
    * exchange. */
  val q9Profit = QuerySpec(
    "q9_profit",
    "product-line profit by supplier nation and order year (5-table star, selective dim filter)",
    Some("""SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
           |      * (100 - CAST(FLOOR(l_discount * 100) AS BIGINT))
           |    - CAST(FLOOR(p_retailprice * 100) AS BIGINT)
           |      * CAST(FLOOR(l_quantity) AS BIGINT) * 100) AS BIGINT) AS profit_x10000
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN nation ON s_nationkey = n_nationkey
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, dir) => {
      val part = Broadcasting.maybeBroadcast(tbl(s, dir)("part")
        .filter(col("p_name").like("%bolt%"))
        .select(col("p_partkey"), col("p_retailprice")))
      tbl(s, dir)("lineitem")
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(Broadcasting.maybeBroadcast(tbl(s, dir)("supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(tbl(s, dir)("orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir)("nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(
          floor(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - floor(col("l_discount") * 100).cast("long"))
          - floor(col("p_retailprice") * 100).cast("long")
            * floor(col("l_quantity")).cast("long") * 100L).as("profit_x10000"))
        .orderBy("nation", "o_year")
    })

  /** Three-valued logic and null ordering — the classic cross-engine
    * divergence area, pinned explicitly: nulls are MANUFACTURED via nullif
    * (the corpus has none), compared with null-safe equality, folded
    * through coalesce/nvl2-style conditionals, counted both ways, and the
    * final sort declares NULLS FIRST on both sides (Spark's ascending
    * default; DuckDB defaults NULLS LAST — an implicit ORDER BY would
    * hash-mismatch on row order alone). */
  val scalarNulls = QuerySpec(
    "scalar_nulls",
    "three-valued logic, null-safe equality, explicit null ordering",
    Some("""WITH t AS (
           |  SELECT o_orderkey, NULLIF(o_custkey % 5, 0) AS k5,
           |    NULLIF(o_custkey % 3, 0) AS k3
           |  FROM orders)
           |SELECT k5,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(k3) AS BIGINT) AS n_k3_nonnull,
           |  CAST(SUM(CASE WHEN k5 IS NOT DISTINCT FROM k3 THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
           |  CAST(SUM(CASE WHEN (k5 = k3) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_cmp,
           |  CAST(SUM(COALESCE(k3, -1)) AS BIGINT) AS sum_coalesced,
           |  CAST(SUM(CASE WHEN k3 IS NULL THEN 0 ELSE k3 * 10 END) AS BIGINT) AS sum_nvl2_style
           |FROM t GROUP BY k5 ORDER BY k5 NULLS FIRST""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("orders")
        .select(col("o_orderkey"),
          nullif(col("o_custkey") % 5, lit(0)).as("k5"),
          nullif(col("o_custkey") % 3, lit(0)).as("k3"))
        .groupBy("k5")
        .agg(count(lit(1)).as("n_rows"),
          count(col("k3")).as("n_k3_nonnull"),
          sum(when(col("k5") <=> col("k3"), 1).otherwise(0)).as("n_nullsafe_eq"),
          sum(when((col("k5") === col("k3")).isNull, 1).otherwise(0)).as("n_unknown_cmp"),
          sum(coalesce(col("k3"), lit(-1))).as("sum_coalesced"),
          sum(when(col("k3").isNull, 0).otherwise(col("k3") * 10)).as("sum_nvl2_style"))
        .orderBy(col("k5").asc_nulls_first))

  /** Argmin/argmax WITHOUT a window: pack (value, tiebreak) into one
    * integer key and take plain MIN/MAX — a single hash aggregation with
    * map-side combine, where the window formulation (`row_number = 1`)
    * costs a per-group sort. Corpus cents stay under ~5.7e4 and event_id
    * under 1e9, so cents·1e9 + id fits a BIGINT exactly; the tie-break is
    * part of the key, making the arg deterministic under ties
    * (min_by/arg_min leave ties unspecified in both engines —
    * deliberately avoided). Decoding uses FLOOR-mod (pmod /
    * ((x%m)+m)%m), not plain truncating %, so the unpack stays correct
    * even for NEGATIVE packed keys — truncating decode would be
    * identically wrong in both engines and the gate would not catch it. */
  val aggArgminmax = QuerySpec(
    "agg_argminmax",
    "deterministic argmin/argmax per group via packed integer keys",
    Some("""WITH t AS (
           |  SELECT event_type,
           |    CAST(FLOOR(value * 100) AS BIGINT) * 1000000000 + event_id AS packed
           |  FROM events),
           |m AS (SELECT event_type, MIN(packed) AS mn, MAX(packed) AS mx
           |  FROM t GROUP BY event_type)
           |SELECT event_type,
           |  CAST((mn - ((mn % 1000000000 + 1000000000) % 1000000000)) // 1000000000 AS BIGINT) AS min_value_cents,
           |  CAST((mn % 1000000000 + 1000000000) % 1000000000 AS BIGINT) AS argmin_event_id,
           |  CAST((mx - ((mx % 1000000000 + 1000000000) % 1000000000)) // 1000000000 AS BIGINT) AS max_value_cents,
           |  CAST((mx % 1000000000 + 1000000000) % 1000000000 AS BIGINT) AS argmax_event_id
           |FROM m ORDER BY event_type""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("events")
        .select(col("event_type"),
          (floor(col("value") * 100) * 1000000000L + col("event_id")).as("packed"))
        .groupBy("event_type")
        .agg(min(col("packed")).as("mn"), max(col("packed")).as("mx"))
        .select(col("event_type"),
          expr("(mn - pmod(mn, 1000000000)) div 1000000000").as("min_value_cents"),
          pmod(col("mn"), lit(1000000000L)).as("argmin_event_id"),
          expr("(mx - pmod(mx, 1000000000)) div 1000000000").as("max_value_cents"),
          pmod(col("mx"), lit(1000000000L)).as("argmax_event_id"))
        .orderBy("event_type"))

  /** Hot-key skew join through [[graft.operators.SaltedJoin]]: event_type
    * has 5 values over the whole events table — a shuffle join on it sends
    * ~20% of the corpus to each of FIVE reducers no matter how many cores
    * exist. The salted form spreads each type over 8 salt buckets (40-way
    * parallelism) while the 5-row dim replicates ×8; the result is the
    * plain join's, which is exactly what the oracle computes. */
  val joinSalted = QuerySpec(
    "join_salted",
    "skewed-key join via salting (hot event_type spread over 8 buckets)",
    Some("""WITH dim AS (SELECT event_type, CAST(MIN(event_id) AS BIGINT) AS first_event_id
           |  FROM events GROUP BY 1)
           |SELECT e.event_type, d.first_event_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
           |FROM events e JOIN dim d ON d.event_type = e.event_type
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    (s, dir) => {
      val ev = tbl(s, dir)("events")
        .select(col("event_id"), col("event_type"), col("value"))
      val dim = ev.groupBy("event_type").agg(min(col("event_id")).as("first_event_id"))
      graft.operators.SaltedJoin.inner(ev, dim, Seq("event_type"), buckets = 8)
        .groupBy(col("event_type"), col("first_event_id"))
        .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("event_type")
    })

  /** Distribution window functions — percent_rank / cume_dist / ntile under
    * a fully tie-broken ordering (cents, then orderkey → every rank is
    * deterministic). The ratios are (rank−1)/(n−1) and rank/n on exact
    * integers, so both engines produce bit-identical doubles. Partitioned
    * by customer: no global sort, scales like any keyed window. */
  val winDistribution = QuerySpec(
    "win_distribution",
    "percent_rank / cume_dist / ntile(4) per customer",
    Some("""WITH o AS (SELECT o_custkey, o_orderkey,
           |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS total_cents
           |  FROM orders)
           |SELECT o_custkey, o_orderkey, total_cents,
           |  PERCENT_RANK() OVER w AS pct_rank,
           |  CUME_DIST() OVER w AS cume,
           |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile
           |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY total_cents, o_orderkey)
           |ORDER BY o_custkey, total_cents, o_orderkey""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("total_cents", "o_orderkey")
      tbl(s, dir)("orders")
        .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"))
        .select(col("o_custkey"), col("o_orderkey"), col("total_cents"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_custkey", "total_cents", "o_orderkey")
    })

  // --- windows --------------------------------------------------------------

  /** Top-k per group via row_number — the scalable alternative to a global
    * sort (each partition's top-k merges; no full-data ordering). */
  val winTopk = QuerySpec(
    "win_topk",
    "top-3 orders per customer via row_number window",
    Some("""SELECT o_custkey, o_orderkey, total_cents, CAST(rn AS BIGINT) AS rn FROM (
           |  SELECT o_custkey, o_orderkey,
           |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS total_cents,
           |    ROW_NUMBER() OVER (PARTITION BY o_custkey
           |      ORDER BY CAST(FLOOR(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS rn
           |  FROM orders)
           |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("total_cents").desc, col("o_orderkey"))
      tbl(s, dir)("orders")
        .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("o_custkey", "rn")
    })

  /** Running totals with an explicit ROWS frame (RANGE default would make
    * ties nondeterministic). */
  val winRunning = QuerySpec(
    "win_running",
    "cumulative count + sum per customer over order history",
    Some("""SELECT o_custkey, o_orderkey,
           |  STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date,
           |  CAST(COUNT(*) OVER w AS BIGINT) AS run_orders,
           |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS run_cents
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir)("orders")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          count(lit(1)).over(w).as("run_orders"),
          sum(cents(col("o_totalprice"))).over(w).as("run_cents"))
        .orderBy("o_custkey", "order_date", "o_orderkey")
    })

  /** lag(): inter-order gap in days per customer. */
  val winLag = QuerySpec(
    "win_lag",
    "lag window: days since previous order per customer",
    Some("""SELECT o_custkey, o_orderkey,
           |  STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date,
           |  CAST(DATE_DIFF('day',
           |    LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           |    o_orderdate) AS BIGINT) AS days_since_prev
           |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      tbl(s, dir)("orders")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast("long").as("days_since_prev"))
        .orderBy("o_custkey", "order_date", "o_orderkey")
    })

  // --- sort / limit / set ops ----------------------------------------------

  /** Global top-k: Catalyst plans TakeOrderedAndProject, not a full sort. */
  val sortLimit = QuerySpec(
    "sort_limit",
    "global order + limit (TakeOrdered)",
    Some("""SELECT l_orderkey, l_linenumber,
           |  CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents
           |FROM lineitem
           |ORDER BY price_cents DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_extendedprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20))

  /** UNION / INTERSECT / EXCEPT (all distinct-set semantics) in one query,
    * tagged per branch. */
  val setOps = QuerySpec(
    "set_ops",
    "set operators: union, intersect, except over nation keys",
    Some("""WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
           |     sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
           |SELECT op, nk FROM (
           |  SELECT 'union' AS op, nk FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
           |  UNION ALL
           |  SELECT 'intersect', nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
           |  UNION ALL
           |  SELECT 'cust_only', nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn))
           |ORDER BY op, nk""".stripMargin),
    (s, dir) => {
      val cn = tbl(s, dir)("customer").select(col("c_nationkey").as("nk")).distinct()
      val sn = tbl(s, dir)("supplier").select(col("s_nationkey").as("nk")).distinct()
      cn.union(sn).distinct().withColumn("op", lit("union"))
        .unionByName(cn.intersect(sn).withColumn("op", lit("intersect")))
        .unionByName(cn.except(sn).withColumn("op", lit("cust_only")))
        .select("op", "nk")
        .orderBy("op", "nk")
    })

  /** Collect-to-list aggregation with deterministic ordering (collect_set
    * alone is order-nondeterministic; sorting makes it comparable — the same
    * fix the heatmap blob packaging uses). */
  val aggCollect = QuerySpec(
    "agg_collect",
    "collect distinct values into a sorted list per group",
    Some("""SELECT n_nationkey,
           |  ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT c_mktsegment)), ',') AS segments,
           |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("customer")
        .join(broadcast(tbl(s, dir)("nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segments"),
          countDistinct(col("c_mktsegment")).as("n_segments"))
        .orderBy("n_nationkey"))

  /** Regex scalar family (extraction with groups, replacement, matching) —
    * patterns restricted to syntax Java regex and RE2 interpret identically. */
  val scalarRegex = QuerySpec(
    "scalar_regex",
    "regexp extract/replace/match scalars",
    Some("""SELECT doc_id,
           |  REGEXP_EXTRACT(text, '([a-z]+) ([a-z]+)', 1) AS w1,
           |  REGEXP_EXTRACT(text, '([a-z]+) ([a-z]+)', 2) AS w2,
           |  CONTAINS(REGEXP_REPLACE(text, '[aeiou]', '_', 'g'), '_') AS has_vowel,
           |  CAST(LENGTH(REGEXP_REPLACE(text, '[^s]', '', 'g')) AS BIGINT) AS s_count,
           |  REGEXP_MATCHES(text, 'join') AS mentions_join
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("documents")
        .select(col("doc_id"),
          regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 1).as("w1"),
          regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 2).as("w2"),
          regexp_replace(col("text"), "[aeiou]", "_").contains("_").as("has_vowel"),
          length(regexp_replace(col("text"), "[^s]", "")).cast("long").as("s_count"),
          col("text").rlike("join").as("mentions_join"))
        .orderBy("doc_id"))

  /** Conditional & boolean aggregates + null-handling scalars. */
  val aggConditional = QuerySpec(
    "agg_conditional",
    "filtered/conditional aggregates, bool_and/bool_or, null-handling",
    Some("""SELECT l_returnflag,
           |  CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
           |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
           |  BOOL_AND(l_quantity >= 1) AS all_positive,
           |  BOOL_OR(l_discount = 0.0) AS any_undiscounted,
           |  CAST(MIN(NULLIF(CAST(FLOOR(l_quantity) AS BIGINT), 1)) AS BIGINT) AS min_qty_except_one,
           |  CAST(COALESCE(MAX(CASE WHEN l_quantity > 100 THEN CAST(FLOOR(l_quantity) AS BIGINT) END), -1) AS BIGINT) AS max_over_100
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(when(col("l_quantity") > 25, 1)).as("n_bulk"),
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"),
          bool_and(col("l_quantity") >= 1).as("all_positive"),
          bool_or(col("l_discount") === 0.0).as("any_undiscounted"),
          min(nullif(floor(col("l_quantity")), lit(1L))).as("min_qty_except_one"),
          coalesce(max(when(col("l_quantity") > 100, floor(col("l_quantity")))), lit(-1L))
            .as("max_over_100"))
        .orderBy("l_returnflag"))

  // --- scalar function families --------------------------------------------

  /** String function family (split/substr/replace/pad/case/reverse…). */
  val scalarString = QuerySpec(
    "scalar_string",
    "string scalar functions",
    Some("""SELECT p_partkey,
           |  UPPER(p_name) AS up_name,
           |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           |  SUBSTR(p_name, 1, 5) AS pre5,
           |  REPLACE(p_name, ' ', '_') AS und_name,
           |  LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS pad_key,
           |  STRING_SPLIT(p_name, ' ')[1] AS first_word,
           |  REVERSE(p_name) AS rev_name,
           |  CONCAT_WS(':', p_brand, p_type) AS brand_type,
           |  p_name LIKE 'small%' AS is_small
           |FROM part ORDER BY p_partkey""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("pre5"),
          regexp_replace(col("p_name"), " ", "_").as("und_name"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("pad_key"),
          element_at(split(col("p_name"), " "), 1).as("first_word"),
          reverse(col("p_name")).as("rev_name"),
          concat_ws(":", col("p_brand"), col("p_type")).as("brand_type"),
          col("p_name").startsWith("small").as("is_small"))
        .orderBy("p_partkey"))

  /** Math + bit-ops family. `^` is XOR in Spark but POWER in DuckDB — the
    * oracle uses xor(); sqrt is IEEE-correctly-rounded so bit-identical. */
  val scalarMath = QuerySpec(
    "scalar_math",
    "math and bitwise scalar functions",
    Some("""SELECT l_orderkey, l_linenumber,
           |  ABS(l_quantity - 25.0) AS abs_dev,
           |  CAST(CEIL(l_extendedprice / 100.0) AS BIGINT) AS ceil_hundreds,
           |  SQRT(l_quantity) AS sqrt_qty,
           |  l_quantity * l_quantity AS qty_sq,
           |  CAST(l_orderkey % 7 AS BIGINT) AS mod7,
           |  CAST((l_orderkey & 255) | 3 AS BIGINT) AS bits_and_or,
           |  CAST(XOR(l_orderkey, 21) AS BIGINT) AS bits_xor,
           |  CAST(l_orderkey >> 2 AS BIGINT) AS shifted,
           |  ROUND(l_extendedprice / 7.0, 2) AS sevenths
           |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25.0).as("abs_dev"),
          ceil(col("l_extendedprice") / 100.0).as("ceil_hundreds"),
          sqrt(col("l_quantity")).as("sqrt_qty"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"),
          (col("l_orderkey") % 7).as("mod7"),
          (col("l_orderkey").bitwiseAND(255).bitwiseOR(3)).as("bits_and_or"),
          col("l_orderkey").bitwiseXOR(21).as("bits_xor"),
          shiftright(col("l_orderkey"), 2).as("shifted"),
          round(col("l_extendedprice") / 7.0, 2).as("sevenths"))
        .orderBy("l_orderkey", "l_linenumber"))

  /** Date/time family. DuckDB dayofweek is Sunday=0 vs Spark's Sunday=1 —
    * oracle maps via isodow; datediff arg order also differs. */
  val scalarDate = QuerySpec(
    "scalar_date",
    "date/time scalar functions",
    Some("""SELECT o_orderkey,
           |  CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           |  CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
           |  CAST(DAY(o_orderdate) AS BIGINT) AS dom,
           |  CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS doy,
           |  CAST(QUARTER(o_orderdate) AS BIGINT) AS qtr,
           |  CAST(ISODOW(o_orderdate) % 7 + 1 AS BIGINT) AS dow_sun1,
           |  STRFTIME(o_orderdate, '%Y-%m') AS month_lbl,
           |  STRFTIME(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           |  CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since_95,
           |  STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start
           |FROM orders ORDER BY o_orderkey""".stripMargin),
    (s, dir) =>
      tbl(s, dir)("orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          dayofweek(col("o_orderdate")).cast("long").as("dow_sun1"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month_lbl"),
          date_format(col("o_orderdate") + expr("INTERVAL 30 DAY"), "yyyy-MM-dd").as("plus30"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("days_since_95"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
        .orderBy("o_orderkey"))

  val all: Seq[QuerySpec] = Seq(
    q1Pricing, aggRollup, aggCube, aggGroupingSets, winRange, aggDistinct, aggApproxHll,
    aggApproxPercentile, aggHllMerge, aggCollect, scalarRegex, aggConditional,
    q3Topk, q5Region, joinBroadcast, joinRange, joinSemi, joinAnti, joinFullOuter,
    joinSalted,
    winTopk, winRunning, winLag, winRank, winDistribution,
    sortLimit, setOps,
    scalarString, scalarMath, scalarDate, scalarNulls, aggArgminmax, q7Nations,
    q9Profit)
}
