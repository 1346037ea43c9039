package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{AsOfJoin, RangeJoin}
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** The core relational engine (SURVEY §2.2): pushdown, joins, grouping
  * sets, windows, subqueries, set operators, as-of and range joins, and
  * the SQL-interface queries whose Spark side runs the oracle's text. */
object Relational {

  /** Recursive CTE (Spark 4's UnionLoop), shared verbatim: walks each
    * customer's orders in date order carrying an exact decimal running
    * total; surfaces chain length + final total per customer. Recursion
    * depth = max orders per customer (~20), so the loop is bounded by a
    * per-key sequence length, not table size — each iteration is one
    * hash join on (custkey, position). The window formulation is the
    * flat-scale path (q_window_rank); this row exercises iterative
    * plans for genuinely recursive workloads (BOM/graph walks). The
    * custkey bound keeps the demo honest about the cost model: Spark
    * re-evaluates the static `ord` side on every loop iteration (no
    * cross-iteration materialization yet), so the walked set — not the
    * corpus — must bound each step. */
  private val RecursiveChainQuery =
    """WITH RECURSIVE ord AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders WHERE o_custkey < 300),
      |chain AS (
      |  SELECT o_custkey, rn, CAST(o_totalprice AS DECIMAL(18,2)) AS run_tot,
      |    1 AS depth
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.o_custkey, o.rn,
      |    CAST(c.run_tot + CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,2)),
      |    c.depth + 1
      |  FROM ord o JOIN chain c ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
      |  WHERE o.rn <= 8)
      |SELECT o_custkey, max(depth) AS chain_len,
      |  CAST(max_by(run_tot, depth) AS DOUBLE) AS total
      |FROM chain GROUP BY o_custkey""".stripMargin

  /** Morton interleave for q_zorder's oracle, generated from the same
    * 10 static mask-shift terms as the Spark expression — x-bit b lands
    * at 2b, y-bit b at 2b+1, pure integer arithmetic on both engines. */
  private val ZOrderOracle: String = {
    val terms = (0 until 10).map(b =>
      s"((x & ${1L << b}) << $b) + ((y & ${1L << b}) << ${b + 1})").mkString(" + ")
    s"""WITH m AS (SELECT o_orderkey,
      |    o_custkey % 1024 AS x,
      |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
      |  FROM orders)
      |SELECT o_orderkey, CAST($terms AS BIGINT) AS zkey
      |FROM m ORDER BY zkey, o_orderkey LIMIT 100""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // #10: filter + projection pushdown (verify via .explain: PushedFilters)
    QueryDef("q_filter_pushdown", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48 &&
          col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_quantity >= 48 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin),

    // #11: multi-key aggregation (TPC-H Q1 shape)
    QueryDef("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  $RevenueSql AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // #12: broadcast dim join
    QueryDef("q_join_broadcast", (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_acctbal")),
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),

    // #13: star join — fact shuffles on keys, dims broadcast
    QueryDef("q_star_join", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("rev"),
          count(lit(1)).as("n_items")),
      s"""SELECT r_name, n_name, $RevenueSql AS rev, COUNT(*) AS n_items
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // #14: left outer join
    QueryDef("q_left_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("order_cnt")),
      """SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),

    // #15: semi join (EXISTS)
    QueryDef("q_semi_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust")),
      """SELECT c_mktsegment, COUNT(*) AS n_cust FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment""".stripMargin),

    // #16: anti join (NOT EXISTS) — filtered right side so the result
    // is non-trivial (every customer has SOME order in this data)
    QueryDef("q_anti_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey"),
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin),

    // #17: distinct
    QueryDef("q_distinct", (s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_orderpriority").distinct(),
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"),

    // #18: union all then re-aggregate
    QueryDef("q_union", (s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").as("key"))
        .unionAll(t(s, dir, "customer").select(col("c_custkey").as("key")))
        .groupBy(col("key")).agg(count(lit(1)).as("cnt")),
      """SELECT key, COUNT(*) AS cnt FROM (
        |  SELECT o_custkey AS key FROM orders
        |  UNION ALL
        |  SELECT c_custkey AS key FROM customer) GROUP BY key""".stripMargin),

    // #19: window functions: row_number + lag on one window, rank on another
    QueryDef("q_window_rank", (s, dir) => {
      val byDate = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrice = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(byDate).as("rn"),
        lag(col("o_totalprice"), 1).over(byDate).as("prev_price"),
        rank().over(byPrice).as("price_rank"))
    },
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |  LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank
        |FROM orders""".stripMargin),

    // #20: rollup grouping sets
    QueryDef("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty")),
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // #19b: ntile + moving aggregate over an explicit rows frame
    QueryDef("q_ntile_frames", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val frame = w.rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).over(frame), 2)
          .cast("double").as("mov_sum"),
        count(lit(1)).over(frame).as("mov_n"))
    },
      """SELECT o_orderkey, o_orderpriority,
        |  NTILE(4) OVER w AS quartile,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS mov_sum,
        |  COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mov_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)""".stripMargin),

    // #19c: first/last value over an unbounded frame
    QueryDef("q_first_last", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"))
    },
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_ok,
        |  LAST_VALUE(o_orderkey) OVER w AS last_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // #20b: cube grouping sets (all 4 combinations)
    QueryDef("q_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("sum_price")),
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS prio, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),

    // #20c: explicit grouping sets via SQL (shared ANSI text)
    //
    // Grouping sets, shared verbatim between spark.sql and DuckDB.
    QueryDef.sql("q_grouping_sets",
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),

    // #22b: exact salted two-stage count-distinct (skew pattern)
    QueryDef("q_skew_count_distinct", (s, dir) =>
      graft.operators.SkewAgg.countDistinctSalted(
        t(s, dir, "lineitem"), "l_returnflag", "l_partkey", 16, "n_part"),
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // #21: exact interpolated percentiles (quarter fractions of
    // integer-valued quantities → exactly representable doubles)
    QueryDef("q_percentile", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75")),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // #22: exact count-distinct (HLL approx variant exercised in ScalaTest)
    QueryDef("q_count_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_part"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("n_rows")),
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_part,
        |  COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // #23: JSON extraction from events.props
    QueryDef("q_json_extract", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(k).as("sum_k"), count(when(k >= 50, 1)).as("n_high"))
    },
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50 THEN 1 END) AS n_high
        |FROM events GROUP BY event_type""".stripMargin),

    // #24: event-time hour bucketing
    QueryDef("q_time_bucket", (s, dir) =>
      t(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s, event_type,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // #25: pivot event_type → columns (explicit value list keeps the
    // plan a single pass; coalesce because pivot emits null for absent
    // combos where conditional agg emits 0)
    QueryDef("q_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_s"))
        .pivot("event_type", types).agg(count(lit(1)))
      p.select(col("day_s") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    },
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin),

    // #25b: string functions + LIKE pushdown
    QueryDef("q_string_funcs", (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").like("%a%"))
        .select(col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("pfx"),
          length(col("p_name")).as("n"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("bt"),
          lpad(col("p_size").cast("string"), 4, "0").as("sz")),
      """SELECT p_partkey, UPPER(SUBSTR(p_name, 1, 8)) AS pfx, LENGTH(p_name) AS n,
        |  p_brand || '-' || p_type AS bt,
        |  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS sz
        |FROM part WHERE p_name LIKE '%a%'""".stripMargin),

    // #25c: date/time arithmetic
    QueryDef("q_date_arith", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate")).as("days_to_98"),
        date_add(col("o_orderdate"), 30).as("due_date")),
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS d,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_98,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date
        |FROM orders""".stripMargin),

    // #25d: array functions over the token column
    QueryDef("q_array_funcs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(array_distinct(col("tk"))).as("n_uniq"),
          array_contains(col("tk"), "spark").as("has_spark"),
          size(slice(col("tk"), 1, 5)).as("first5"),
          // try_element_at: NULL on an empty token array (ANSI
          // element_at throws), matching DuckDB's tk[1] out-of-bounds
          try_element_at(col("tk"), lit(1)).as("first_tok")),
      raw"""WITH b AS (SELECT doc_id,
        |  ${tokensSql("text")} AS tk FROM documents)
        |SELECT doc_id, len(list_distinct(tk)) AS n_uniq,
        |  list_contains(tk, 'spark') AS has_spark,
        |  len(tk[1:5]) AS first5, tk[1] AS first_tok
        |FROM b""".stripMargin),

    // #27b: IN subquery (shared ANSI text)
    //
    // IN-subquery, shared verbatim between spark.sql and DuckDB.
    QueryDef.sql("q_in_subquery",
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'MACHINERY')
        |  AND o_totalprice > 400000""".stripMargin),

    // #26: conditional aggregation / CASE WHEN
    QueryDef("q_case_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          round(sum(when(col("o_totalprice") > 100000,
            col("o_totalprice").cast("decimal(18,2)"))
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)"))), 2)
            .cast("double").as("high_rev")),
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  CAST(ROUND(SUM(CASE WHEN o_totalprice > 100000 THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS high_rev
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // #27: correlated scalar subquery (per-nation average)
    QueryDef.sql("q_scalar_subquery",
      """SELECT c_custkey FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin),

    // #29: top-N per group (deterministic tie-break on unique key)
    QueryDef("q_topn_per_group", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin),

    // #30: SQL interface — same ANSI text runs on Spark and DuckDB
    //
    // TPC-H Q3 shape, shared verbatim between spark.sql and DuckDB —
    // the SQL-interface capability is "one ANSI text, two engines".
    QueryDef.sql("q_sql_interface",
      """SELECT l_orderkey,
        |  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    // #59: EXCEPT / INTERSECT set operators — customers who ordered in
    // 1995 but not 1996, and in both (Spark except/intersect = shuffle
    // dedup set ops; distinct semantics match ANSI)
    QueryDef("q_set_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      def custs(yr: Int) = o.filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey"))
      custs(1995).except(custs(1996)).withColumn("grp", lit("only_1995"))
        .unionByName(custs(1995).intersect(custs(1996))
          .withColumn("grp", lit("both")))
        .groupBy(col("grp")).agg(count(lit(1)).as("n"))
    },
      """WITH c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |labeled AS (
        |  SELECT 'only_1995' AS grp, o_custkey FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)
        |  UNION ALL
        |  SELECT 'both' AS grp, o_custkey FROM (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96))
        |SELECT grp, count(*) AS n FROM labeled GROUP BY grp""".stripMargin),

    // #60: full outer join — both null sides materialize (customers
    // without big orders; big orders outside the BUILDING segment)
    QueryDef("q_full_outer_join", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy()
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_custkey")).as("n_left"),
          count(col("o_orderkey")).as("n_right"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_left_only"),
          sum(when(col("c_custkey").isNull, 1).otherwise(0)).as("n_right_only"))
    },
      """SELECT count(*) AS n_rows,
        |  count(c_custkey) AS n_left, count(o_orderkey) AS n_right,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
        |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only
        |FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey""".stripMargin),

    // #61: cross join (dim x dim lattice)
    QueryDef("q_cross_join", (s, dir) => {
      val r = t(s, dir, "region").select(col("r_name"))
      val n = t(s, dir, "nation").select(col("n_name"))
      r.crossJoin(n).groupBy(col("r_name")).agg(count(lit(1)).as("n"))
    },
      """SELECT r_name, count(*) AS n
        |FROM (SELECT r_name FROM region) CROSS JOIN (SELECT n_name FROM nation)
        |GROUP BY r_name""".stripMargin),

    // #63: arg-min/arg-max (max_by/min_by) with struct tie-break
    QueryDef("q_arg_minmax", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("max_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("min_order"))
        .filter(col("o_custkey") < 50),
      """SELECT o_custkey,
        |  max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS max_order,
        |  max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS min_order
        |FROM (SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
        |  FROM orders)
        |WHERE o_custkey < 50
        |GROUP BY o_custkey""".stripMargin),

    // #64: string aggregation to a deterministic ordered list
    QueryDef("q_string_agg", (s, dir) =>
      t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations")),
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    // #30q: unpivot (melt) measures to rows — the inverse of q_pivot
    QueryDef("q_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(dsum(col("val")).as("total"), count(lit(1)).as("n")),
      """SELECT measure,
        |  CAST(ROUND(SUM(CAST(val AS DECIMAL(18,2))), 2) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY measure""".stripMargin),

    // #30r: null-safe equality (<=>) join on a nullable key
    QueryDef("q_null_safe", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .withColumn("k", nullif(col("o_orderstatus"), lit("P")))
      val d = Seq((Option("F"), "finished"), (Option("O"), "open"),
        (Option.empty[String], "pending")).toDF("k2", "label")
      o.join(broadcast(d), col("k") <=> col("k2"))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
    },
      """SELECT label, count(*) AS n
        |FROM (SELECT nullif(o_orderstatus, 'P') AS k FROM orders) o
        |JOIN (VALUES ('F', 'finished'), ('O', 'open'), (NULL, 'pending'))
        |  AS d(k2, label)
        |ON o.k IS NOT DISTINCT FROM d.k2
        |GROUP BY label""".stripMargin),

    // #30p: percent_rank / cume_dist / nth_value over a total per-group
    // order (rank ratios are exact int divisions — engine-identical)
    QueryDef("q_window_extras", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
    },
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin),

    // #65: salted shuffle join — row-identical to the plain join (the
    // oracle IS the unsalted join), hot keys spread over 4 reducers
    QueryDef("q_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SkewAgg.saltedJoin(li, o, "l_orderkey", "o_orderkey",
          buckets = 4, saltSource = col("l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    },

      // deliberately the UNSALTED join: salting must be row-invisible
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // #52: as-of join — each click matched to the user's latest view at
    // or before it (union + one window pass, no join; see AsOfJoin)
    QueryDef("q_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      AsOfJoin.asOf(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"),
        "user_id", "ts", "ts", "event_id", "view_id")
        .select(col("event_id").as("click_id"), col("view_id"))
    },

      // per-user event gaps are >> 1 µs, so Spark's µs timestamps and
      // DuckDB's native ns timestamps order identically here
      """SELECT c.event_id AS click_id, arg_max(v.event_id, v.ts) AS view_id
        |FROM events c LEFT JOIN events v
        |  ON v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts
        |WHERE c.event_type = 'click'
        |GROUP BY c.event_id""".stripMargin),

    // #53: interval×point range join via coarse binning (equi-shuffle
    // on bin id + exact range filter; never a nested-loop join)
    QueryDef("q_range_join", (s, dir) => {
      val iv = t(s, dir, "orders").filter(col("o_orderkey") % 1000 === 0)
      RangeJoin.pointInInterval(iv, t(s, dir, "lineitem"),
        "o_orderdate", 7, "l_shipdate")
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
    },
      """SELECT o_orderkey, count(*) AS n
        |FROM orders JOIN lineitem
        |  ON CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
        | AND CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE) + INTERVAL 7 DAY
        |WHERE o_orderkey % 1000 = 0
        |GROUP BY o_orderkey""".stripMargin),

    // #79: ratio-to-total window — each event's share of its user's
    // exact decimal total (one window pass, no self-join)
    QueryDef("q_ratio_window", (s, dir) => {
      val usum = sum(col("value").cast("decimal(18,2)"))
        .over(Window.partitionBy("user_id")).cast("double")
      t(s, dir, "events").filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"),
          round(col("value").cast("decimal(18,2)").cast("double") / usum, 9)
            .as("share"))
    },
      """SELECT user_id, event_id,
        |  ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) /
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id) AS DOUBLE), 9) AS share
        |FROM events WHERE user_id < 3""".stripMargin),

    // #253: continuous (interpolated) percentile per group — the
    // PERCENTILE_CONT semantics beside q_percentile_disc's discrete
    // ones, still from the bounded value-domain histogram (no
    // per-group sort of data): pos = q·(n−1) held as INTEGER
    // hundredths, neighbors by cumulative-count rank, one shared
    // lo + (hi−lo)·frac tree round(9).
    QueryDef("q_percentile_cont", (s, dir) => {
      val hist = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").cast("double").as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("tot",
          sum(col("c")).over(Window.partitionBy(col("l_returnflag"))))
      def pct(p: Int): Column = {
        val pos = lit(p.toLong) * (col("tot") - 1) // integer hundredths
        val loRank = expr(s"($p * (tot - 1)) div 100 + 1")
        val frac = (pos % 100).cast("double") / 100.0
        val lo = min(when(col("cum") >= loRank, col("v")))
        val hi = coalesce(min(when(col("cum") >= loRank + 1, col("v"))), lo)
        round(lo + (hi - lo) * max(frac), 9)
      }
      cum.groupBy(col("l_returnflag"))
        .agg(pct(50).as("p50"), pct(90).as("p90"))
        .orderBy(col("l_returnflag"))
    },

      // PERCENTILE_CONT replay: integer-hundredths position, histogram
      // cumulative neighbors, shared interpolation tree
      """WITH hist AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, v, c,
        |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM hist)
        |SELECT l_returnflag,
        |  round(MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 1 THEN v END)
        |    + (COALESCE(MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 2 THEN v END),
        |         MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 1 THEN v END))
        |       - MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 1 THEN v END))
        |      * MAX(CAST((50 * (tot - 1)) % 100 AS DOUBLE) / 100.0), 9) AS p50,
        |  round(MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 1 THEN v END)
        |    + (COALESCE(MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 2 THEN v END),
        |         MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 1 THEN v END))
        |       - MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 1 THEN v END))
        |      * MAX(CAST((90 * (tot - 1)) % 100 AS DOUBLE) / 100.0), 9) AS p90
        |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // #85: one-pass table profiling (null + exact distinct counts per
    // column; Expand-based multi-NDV — swap to HLL per column at scale)
    QueryDef("q_profile", (s, dir) =>
      operators.TableProfile.profile(t(s, dir, "orders"),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority")),
      """SELECT 'o_custkey' AS col_name,
        |  COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |  COUNT(DISTINCT o_custkey) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
        |  COUNT(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
        |  COUNT(DISTINCT o_orderpriority) FROM orders""".stripMargin),

    // #82: time-range window frame — trailing 1-hour sum per user
    // (RANGE frame keyed on epoch seconds: tie-order independent,
    // exact decimal sum; one shuffle + one sort, same as any
    // per-user windowing)
    QueryDef("q_range_frame", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3599L, Window.currentRow)
      t(s, dir, "events").filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value").cast("decimal(18,2)")).over(w), 2)
            .cast("double").as("trail_sum"))
    },
      """SELECT user_id, event_id,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trail_sum
        |FROM events WHERE user_id < 3""".stripMargin),

    // #83: regex extraction over text (regexp_extract_all → explode →
    // count; the scan stays the only full-data pass)
    QueryDef("q_regex_extract", (s, dir) =>
      tp(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]{5,}"), lit(0))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc).limit(20),
      """SELECT w, count(*) AS cnt
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]{5,}')) AS w
        |      FROM documents)
        |GROUP BY w ORDER BY cnt DESC, w ASC LIMIT 20""".stripMargin),

    // #84: null-aware NOT IN anti join — NULLIF makes the probe side
    // nullable, exercising SQL's three-valued NOT IN semantics (Spark
    // plans a null-aware anti join, not a plain one); shared ANSI text
    //
    // NOT IN with a nullable probe side (NULLIF), shared verbatim: rows
    // whose probe value is NULL are dropped by three-valued logic, which
    // only a null-aware anti join honors.
    QueryDef.sql("q_notin_nullaware",
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders
        |WHERE NULLIF(o_custkey, 997) NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY o_orderpriority""".stripMargin),

    // #81: grouped top-k via the custom Catalyst operator (partial
    // per-partition heaps → shuffle survivors only → final merge;
    // row-identical to the window row_number plan that shuffles
    // everything — see plans.GroupTopK)
    QueryDef("q_group_topk", (s, dir) =>
      plans.GroupTopK.topKPerGroup(
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        3, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc)),
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin),

    // #91: correlated LATERAL subquery with ORDER BY+LIMIT — Spark
    // decorrelates into a broadcast join + per-nation rank, no
    // per-row re-execution; shared ANSI text
    //
    // Correlated LATERAL subquery with ORDER BY + LIMIT (top-2 customers
    // per nation), shared verbatim: Spark decorrelates it into a
    // ranked-window join, DuckDB executes it natively — same rows.
    QueryDef.sql("q_lateral",
      """SELECT n_name, c.c_custkey, c.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""".stripMargin),

    // #92: recursive CTE (UnionLoop): per-customer order chains with an
    // exact decimal running total; shared ANSI text
    QueryDef("q_recursive_cte", (s, dir) => {
      Tables.registerAll(s, dir)
      // r18: Spark's UnionLoop re-plans and re-executes the STATIC
      // `ord` side (scan + filter + rank window) on every recursion
      // step — 8 iterations × the whole subtree, and at sf0.1 the
      // driver replanning dominated (StageProbe: 51 jobs, wall 3.9 s
      // vs 1.9 s of job time). Materialize `ord` once
      // (localCheckpoint: walked-set-sized by the custkey bound) and
      // recurse against the materialized table — each step is then a
      // frontier × LogicalRDD hash join with a constant-size plan.
      // Guide §3.3 (materialize to truncate re-planned subtrees);
      // result-identical: the recursion text is unchanged, `ord` is
      // the same table either way (oracle replays the one-CTE form).
      val ord = s.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |  row_number() OVER (PARTITION BY o_custkey
          |                     ORDER BY o_orderdate, o_orderkey) AS rn
          |FROM orders WHERE o_custkey < 300""".stripMargin)
        .localCheckpoint()
      ord.createOrReplaceTempView("ord_mat")
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT o_custkey, rn, CAST(o_totalprice AS DECIMAL(18,2)) AS run_tot,
          |    1 AS depth
          |  FROM ord_mat WHERE rn = 1
          |  UNION ALL
          |  SELECT o.o_custkey, o.rn,
          |    CAST(c.run_tot + CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,2)),
          |    c.depth + 1
          |  FROM ord_mat o JOIN chain c ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
          |  WHERE o.rn <= 8)
          |SELECT o_custkey, max(depth) AS chain_len,
          |  CAST(max_by(run_tot, depth) AS DOUBLE) AS total
          |FROM chain GROUP BY o_custkey""".stripMargin)
    },
      RecursiveChainQuery),

    // #122: interval×interval overlap join via the same coarse-binning
    // equi-shuffle as q_range_join — the later-start-bin filter makes
    // each overlapping pair survive exactly once, no dedup shuffle
    QueryDef("q_interval_join", (s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("a_key"), col("o_orderdate").as("a_start"))
      val b = t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("b_key"), col("o_orderdate").as("b_start"))
      RangeJoin.intervalOverlap(a, "a_start", 14, b, "b_start", 14)
        .filter(col("a_key") =!= col("b_key"))
        .groupBy(col("a_key"))
        .agg(count(lit(1)).as("n_overlaps"), min(col("b_key")).as("first_b"))
    },
      """SELECT a.o_orderkey AS a_key, count(*) AS n_overlaps,
        |  min(b.o_orderkey) AS first_b
        |FROM orders a JOIN orders b
        |  ON CAST(a.o_orderdate AS DATE) < CAST(b.o_orderdate AS DATE) + INTERVAL 14 DAY
        | AND CAST(b.o_orderdate AS DATE) < CAST(a.o_orderdate AS DATE) + INTERVAL 14 DAY
        |WHERE a.o_orderkey % 500 = 0 AND b.o_orderkey % 7 = 0
        |  AND a.o_orderkey <> b.o_orderkey
        |GROUP BY a.o_orderkey""".stripMargin),

    // #30u: cumulative DISTINCT count over an ordered window — SQL
    // window frames can't take DISTINCT, so the standard rewrite: flag
    // each (user, event_type)'s first occurrence with one row_number
    // pass, then running-sum the flags. Both passes share the per-user
    // shuffle; nothing re-scans.
    QueryDef("q_cum_distinct", (s, dir) => {
      val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 100)
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum(col("first_seen")).over(wRun))
        .select(col("user_id"), col("event_id"), col("n_types_seen"))
    },
      """SELECT user_id, event_id,
        |  CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
        |FROM (SELECT user_id, event_id, ts,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM events WHERE user_id < 100)""".stripMargin),

    // #136: exact global decile buckets WITHOUT a global sort — ntile
    // over the corpus would single-partition every row; instead the
    // cumulative counts run on the histogram of the (bounded-domain)
    // length column, the 9 integer cutpoints collapse to one array row
    // broadcast everywhere, and assignment is a narrow projection. Only
    // the 10-group rollup shuffles.
    QueryDef("q_len_deciles", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      // r18 (guide §3.3): hist feeds cum and tot — checkpoint once
      val hist = d.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val w = boundedGlobal("doc-length histogram, |distinct n_chars| rows")
        .orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(w))
      val tot = hist.agg(sum(col("c")).as("tot"))
      // cutpoint for decile d = min length whose cumulative count
      // reaches d/10 of the total — pure integer comparison
      val cuts = cum.crossJoin(tot)
        .select(col("n_chars"), col("cum"), col("tot"),
          explode(sequence(lit(1), lit(9))).as("d"))
        .filter(col("cum") * 10 >= col("d") * col("tot"))
        .groupBy(col("d")).agg(min(col("n_chars")).as("cut"))
        .agg(array_sort(collect_list(col("cut"))).as("cuts"))
      d.crossJoin(broadcast(cuts))
        .select(col("n_chars"),
          size(filter(col("cuts"), c => c <= col("n_chars")))
            .cast("long").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    },
      """WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars),
        |cum AS (SELECT n_chars, c,
        |    sum(c) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |tot AS (SELECT sum(c) AS tot FROM h),
        |cuts AS (SELECT d, min(n_chars) AS cut
        |  FROM cum CROSS JOIN tot CROSS JOIN unnest([1,2,3,4,5,6,7,8,9]) AS u(d)
        |  WHERE cum * 10 >= d * tot GROUP BY d),
        |ca AS (SELECT list(cut ORDER BY cut) AS cuts FROM cuts),
        |b AS (SELECT doc_id, n_chars,
        |    CAST(len(list_filter(ca.cuts, x -> x <= n_chars)) AS BIGINT) AS decile
        |  FROM documents CROSS JOIN ca)
        |SELECT decile, count(*) AS n_docs, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars
        |FROM b GROUP BY decile""".stripMargin),

    // #139: data-quality expectations (deequ-shape): uniqueness, null
    // rate, value range, and referential integrity in ONE corpus scan
    // (a single agg row unpivoted via stack) plus one broadcast anti
    // join for the foreign-key check — never a scan per check. At scale
    // the exact countDistinct swaps for the salted two-stage pattern
    // (q_skew_count_distinct) on the same plan.
    QueryDef("q_expectations", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select(col("c_custkey"))
      // the referential check rides the same scan: broadcast LEFT join,
      // orphans are the null-probe rows — five checks, ONE corpus pass
      val stats = o.join(broadcast(c),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
          sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
            col("o_orderdate") >= lit("1999-01-01").cast("timestamp"), 1L)
            .otherwise(0L)).as("date_oob"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("orphan_custkey"))
      stats.selectExpr(
        """stack(5,
          |  'o_orderkey_unique',      dup_orderkey,
          |  'o_custkey_not_null',     null_custkey,
          |  'o_totalprice_positive',  nonpos_price,
          |  'o_orderdate_in_range',   date_oob,
          |  'o_custkey_in_customer',  orphan_custkey
          |) AS (check_name, n_violations)""".stripMargin)
        .withColumn("pass", (col("n_violations") === 0L).cast("int"))
    },
      """WITH s AS (SELECT
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
        |      OR o_orderdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS date_oob
        |  FROM orders),
        |orph AS (SELECT CAST(COUNT(*) AS BIGINT) AS orphan_custkey
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL)
        |SELECT check_name, n_violations, CAST(n_violations = 0 AS INT) AS pass
        |FROM (
        |  SELECT 'o_orderkey_unique' AS check_name, dup_orderkey AS n_violations FROM s
        |  UNION ALL SELECT 'o_custkey_not_null', null_custkey FROM s
        |  UNION ALL SELECT 'o_totalprice_positive', nonpos_price FROM s
        |  UNION ALL SELECT 'o_orderdate_in_range', date_oob FROM s
        |  UNION ALL SELECT 'o_custkey_in_customer', orphan_custkey FROM orph)""".stripMargin),

    // #144: Z-order (Morton) clustering key — the multi-dimensional
    // data-skipping layout: interleaving the bits of two bounded
    // dimensions makes a RANGE of zkey cover a RECTANGLE of (custkey,
    // day), so min/max footer stats prune both dimensions on one sort
    // key. The interleave is the codegen'd native expression
    // graft_zorder (§2.5 row 51g: branchless magic-mask bit spreading,
    // parity with the static mask-shift expansion asserted in
    // NativeExprSpec); the top-100 goes through TakeOrderedAndProject —
    // a full table write would range-partition on zkey instead (same
    // projection, no global sort — Sinks.clustered).
    QueryDef("q_zorder", (s, dir) => {
      val x = pmod(col("o_custkey"), lit(1024L))
      val y = pmod(unix_date(col("o_orderdate").cast("date")).cast("long"), lit(1024L))
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.functions.NativeExpressions.zorder(x, y, 10).as("zkey"))
        .orderBy(col("zkey"), col("o_orderkey")).limit(100)
    },
      ZOrderOracle),

    // #161: market-basket pair analysis — co-ordered part pairs with
    // support and lift. ONE wide shuffle: orders collapse to sorted
    // part-set baskets (collect_set dedups multi-line parts), pairs
    // explode IN-ROW from each basket (bounded by basket², never
    // corpus², and never a self-join — the equivalent li⋈li plan pays
    // two more corpus-sized exchanges), then only the pair counts
    // shuffle. Lift is a ratio of exact integer products. Top-30
    // through per-partition heaps.
    QueryDef("q_basket_pairs", (s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .groupBy(col("okey"))
        .agg(sort_array(collect_set(col("part"))).as("ps"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val itemCnt = baskets.select(explode(col("ps")).as("part"))
        .groupBy(col("part")).agg(count(lit(1)).as("cnt"))
      val pairs = baskets
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))),
            y => struct(x.as("i"), y.as("j")))))).as("p"))
        .groupBy(col("p.i").as("i"), col("p.j").as("j"))
        .agg(count(lit(1)).as("support"))
      pairs
        .join(itemCnt.select(col("part").as("i"), col("cnt").as("ci")), "i")
        .join(itemCnt.select(col("part").as("j"), col("cnt").as("cj")), "j")
        .crossJoin(broadcast(nOrders))
        .select(col("i"), col("j"), col("support"),
          ((col("support") * col("n_orders")).cast("double") /
            (col("ci") * col("cj")).cast("double")).as("lift"))
        .orderBy(col("support").desc, col("i"), col("j")).limit(30)
    },
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM li),
        |ic AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY part),
        |p AS (SELECT a.part AS i, b.part AS j, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
        |  GROUP BY a.part, b.part)
        |SELECT i, j, support,
        |  CAST(support * n_orders AS DOUBLE) / CAST(ci.cnt * cj.cnt AS DOUBLE) AS lift
        |FROM p JOIN ic ci ON p.i = ci.part JOIN ic cj ON p.j = cj.part
        |  CROSS JOIN n
        |ORDER BY support DESC, i, j LIMIT 30""".stripMargin),

    // #174: exact DISCRETE percentiles (quantile_disc semantics: the
    // smallest actual value whose cumulative count reaches p·n) WITHOUT
    // a per-group collect: the cumulative runs on the per-group VALUE
    // HISTOGRAM (bounded-domain l_quantity ⇒ ~50 rows per group), so
    // the corpus only shuffles into the histogram rollup — the
    // q_len_deciles cutpoint idea applied to grouped quantiles. All
    // integer comparisons; the interpolating variant is q_percentile.
    QueryDef("q_percentile_disc", (s, dir) => {
      val hist = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("l_returnflag"))))
      def cut(p: Int): Column = // smallest value with 100·cum >= p·tot
        min(when(col("cum") * 100 >= col("tot") * p, col("l_quantity")))
      cum.groupBy(col("l_returnflag"))
        .agg(cut(25).as("p25"), cut(50).as("p50"), cut(75).as("p75"))
    },
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // #165: Bloom-pruned join as an oracle query (§2.6 row 69 upgraded
    // from spec-only): high-value customers' order revenue — the fact
    // side is bloom-filtered on the computed dim's keys BEFORE its
    // shuffle (might_contain has no false negatives, so rows match the
    // plain join the oracle runs); on a 100 TB fact the shuffle shrinks
    // by the non-match rate for one broadcast of filter bits.
    QueryDef("q_bloom_join", (s, dir) => {
      val dim = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"))
      operators.BloomPrune.prunedJoin(
          t(s, dir, "orders"), dim, "o_custkey", "c_custkey")
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("rev"))
    },
      """SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |FROM orders JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) c
        |  ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin),
  )
}
