package graft
package queries

import org.apache.spark.sql.functions._

import Shared._

/** TPC-H query shapes over the generated tables. */
object Tpch {

  /** The oracle-side `partsupp` derivation — the EXACT arithmetic of
    * `Tables.partsupp` as a DuckDB CTE (the testdata ships no partsupp
    * parquet, so both engines derive it from lineitem's distinct
    * (partkey, suppkey) pairs; see Tables.partsupp's doc). Keys cast
    * to BIGINT before the multiplies so both engines compute in
    * 64-bit; supplycost is integer cents / 100.0 — one IEEE division,
    * the same double everywhere. MATERIALIZED: every consumer
    * references it at least twice (multi-ref CTE rule, SURVEY §4). */
  private val PartsuppCte =
    """partsupp AS MATERIALIZED (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST((ps_partkey * 37 + ps_suppkey * 17) % 9999 + 1 AS INT)
      |      AS ps_availqty,
      |    CAST((ps_partkey * 31 + ps_suppkey * 13) % 99900 + 100 AS DOUBLE)
      |      / 100.0 AS ps_supplycost
      |  FROM (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS ps_partkey,
      |               CAST(l_suppkey AS BIGINT) AS ps_suppkey FROM lineitem))"""
      .stripMargin

  val defs: Seq[QueryDef] = Seq(

    // #30s: TPC-H Q3 shape (shipping priority): top-10 unshipped-order
    // revenue — two fact joins shuffle on their keys, the group-by runs
    // on the filtered join, and the top-10 goes through per-partition
    // heaps (TakeOrderedAndProject), never a global sort
    QueryDef("q_tpch_q3", (s, dir) => {
      val cut = lit("1998-06-01").cast("timestamp")
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          unix_timestamp(col("o_orderdate")).as("o_date"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("o_date"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_date"), col("revenue"))
    },
      s"""SELECT l_orderkey,
        |  CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS o_date,
        |  $RevenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_date
        |ORDER BY revenue DESC, o_date, l_orderkey LIMIT 10""".stripMargin),

    // #30t: TPC-H Q5 shape (local supplier volume): nation revenue where
    // customer and supplier share the nation — dims (supplier, nation,
    // region) broadcast, facts shuffle once each on their join keys
    QueryDef("q_tpch_q5", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "EUROPE")
        .select(col("r_regionkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      s"""SELECT n_name, $RevenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // #166: TPC-H Q6 shape (forecast revenue change) — the pure
    // scan-agg: every predicate pushes to the parquet scan, revenue is
    // one exact decimal sum, zero joins, one exchange (partial → final)
    QueryDef("q_tpch_q6", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("decimal(28,4)")), 2)
          .cast("double").as("revenue")),
      """SELECT CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    // #167: TPC-H Q10 shape (returned-item reporting): lost revenue per
    // customer for one quarter — facts shuffle on their join keys,
    // customer/nation broadcast, top-20 through heaps
    QueryDef("q_tpch_q10", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },
      s"""SELECT c_custkey, c_name, n_name, $RevenueSql AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // #168: TPC-H Q14 shape (promotion effect): promo share of one
    // month's revenue — part broadcasts into the fact scan, both sums
    // accumulate decimal-exact in ONE agg pass, the percentage is a
    // single shared double expression (round 9)
    QueryDef("q_tpch_q14", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(28,4)")))
            .cast("double").as("promo"),
          sum(rev).cast("double").as("total"))
        .select(round(lit(100.0) * col("promo") / col("total"), 9)
          .as("promo_pct"))
    },
      """WITH j AS (SELECT p_type,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT ROUND(100.0 *
        |    CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
        |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
        |    CAST(SUM(rev) AS DOUBLE), 9) AS promo_pct
        |FROM j""".stripMargin),

    // #169: TPC-H Q8 shape (national market share): one nation's share
    // of yearly PROMO revenue inside one region — five broadcast dims
    // around two shuffled facts; shares are decimal-sum ratios, one
    // shared double division per year (round 9)
    QueryDef("q_tpch_q8", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val vol = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_2", vol)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(28,4)")))
            .cast("double").as("nat"),
          sum(vol).cast("double").as("tot"))
        .select(col("o_year"), round(col("nat") / col("tot"), 9).as("mkt_share"))
    },
      """WITH j AS (SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4)) AS vol
        |  FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
        |SELECT o_year,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol
        |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
        |    CAST(SUM(vol) AS DOUBLE), 9) AS mkt_share
        |FROM j GROUP BY o_year""".stripMargin),

    // #170: TPC-H Q18 shape (large-volume customers): the HAVING-on-
    // aggregate semi-join — the per-order quantity rollup (map-side
    // partial before its exchange) filters to the rare big orders,
    // which then join back as the BROADCAST side against orders and
    // customer; top-20 through heaps
    QueryDef("q_tpch_q18", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      o.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
    },
      """WITH big AS (SELECT l_orderkey,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // #184: TPC-H Q4 shape (order priority checking; adapted: the
    // testdata carries no commit/receipt dates, so "late" =
    // shipped-after-order-date). EXISTS compiles to a LEFT SEMI join
    // whose non-equi lateness condition rides the o_orderkey equi-key:
    // the probe never materializes multi-matches and only the
    // quarter's orders shuffle; the rollup is a 5-group agg.
    QueryDef("q_tpch_q4", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

      // canonical correlated-EXISTS form — proves the semi-join rewrite
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // #185: TPC-H Q7 shape (volume shipping between two nations): the
    // nation-pair predicate is pre-joined into each dim (supplier and
    // customer carry their nation NAME before touching a fact), so the
    // two broadcast hash joins drop every non-qualifying fact row at
    // probe time; only lineitem⋈orders shuffles, on l_orderkey.
    QueryDef("q_tpch_q7", (s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val sn = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cn = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("cust_nation"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(YEAR(l_shipdate) AS INT) AS l_year, $RevenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // #186: TPC-H Q12 shape (shipping-mode priority split; adapted:
    // no l_shipmode column, so the split keys on l_returnflag and
    // "late" = shipped-after-order-date). One fact⋈fact equi-join on
    // orderkey with the lateness condition attached, then a 3-group
    // conditional aggregation — the CASE arms are codegen'd count_ifs,
    // no second pass.
    QueryDef("q_tpch_q12", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
        .groupBy(col("l_returnflag"))
        .agg(count_if(high).as("high_line_count"),
          count_if(!high).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > o_orderdate
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // #187: TPC-H Q13 shape (customer order-count distribution): LEFT
    // join keeps the zero-order customers (the point of Q13), the
    // order-side predicate rides the join condition so it never turns
    // the left join inner, and the double rollup shuffles once on
    // custkey and once on the ~20-value count domain.
    QueryDef("q_tpch_q13", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"))
      c.join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "5-LOW", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // #188: TPC-H Q15 shape (top supplier): the quarter's per-supplier
    // revenue rolls up once (map-side partials before the suppkey
    // exchange); the scalar max broadcasts back over the one-row cross
    // join, and equality on it is exact because both sides derive the
    // identical decimal-sum→round→double value. No window, no second
    // scan of lineitem.
    QueryDef("q_tpch_q15", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(revenue(col("l_extendedprice"), col("l_discount"))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      s"""WITH rev AS (SELECT l_suppkey AS supplier_no, $RevenueSql AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // #189: TPC-H Q17 shape (small-quantity-order revenue): the
    // correlated per-part AVG subquery becomes one aggregate over the
    // brand's lineitems (semi-joined first, so the avg pass scans only
    // the brand's rows) broadcast back onto the same rows. The mean is
    // decimal-sum→double÷count and the final ÷7.0 is a single IEEE op
    // shared verbatim with the oracle — bit-identical, no rounding.
    QueryDef("q_tpch_q17", (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#3")
        .select(col("p_partkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val brand = l.join(broadcast(p), col("l_partkey") === col("p_partkey"),
        "left_semi")
      val avgq = brand.groupBy(col("l_partkey").as("ap"))
        .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_qty"))
      brand.join(broadcast(avgq), col("l_partkey") === col("ap"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
          lit(7.0)).as("avg_yearly"))
    },

      // canonical correlated-scalar-subquery form of the per-part mean
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |                  / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // #190: TPC-H Q19 shape (disjunctive predicate join): the brand
    // disjunction's common p_partkey equi-key carries the broadcast
    // hash join; the part side is pre-filtered to the three brands (the
    // only pushdown valid for an OR-of-ANDs spanning both sides), and
    // the full disjunction evaluates post-probe inside codegen.
    QueryDef("q_tpch_q19", (s, dir) => {
      def arm(b: String, smax: Int, qlo: Int, qhi: Int) =
        col("p_brand") === b && col("p_size").between(1, smax) &&
          col("l_quantity").between(qlo, qhi)
      val p = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#12", 15, 1, 11) || arm("Brand#23", 25, 10, 20) ||
          arm("Brand#34", 35, 20, 30))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
    },
      s"""SELECT $RevenueSql AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // #191: TPC-H Q21 shape (suppliers who kept orders waiting;
    // adapted lateness = shipped >90 days after order date). The
    // EXISTS / NOT-EXISTS pair over same-order other-supplier lines is
    // reformulated as one per-order aggregate — n_supp distinct
    // suppliers, n_late distinct LATE suppliers — joined back on the
    // orderkey the rows already shuffle on: exists(other supplier) ⇔
    // n_supp ≥ 2, not-exists(other LATE supplier) ⇔ n_late = 1. Two
    // orderkey exchanges replace the classic double self-join of
    // lineitem; the oracle runs the literal EXISTS form to prove the
    // rewrite. Supplier names and the nation filter ride a broadcast.
    QueryDef("q_tpch_q21", (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val f = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late"))
      val perO = f.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
      val su = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_5",
            "NATION_7", "NATION_9", "NATION_11", "NATION_13", "NATION_15"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      f.filter(col("late"))
        .join(perO, col("l_orderkey") === col("ok"))
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },

      // canonical EXISTS / NOT-EXISTS form — proves the per-order
      // aggregate reformulation (n_supp ≥ 2 ∧ n_late = 1)
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1
        |    FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        |  AND s_nationkey = n_nationkey
        |  AND n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7',
        |                 'NATION_9','NATION_11','NATION_13','NATION_15')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin),

    // #192: TPC-H Q22 shape (global sales opportunity; adapted:
    // cntrycode = custkey mod 7 — the schema has no phone column — and
    // "no orders" = no orders since 1999). Scalar AVG broadcasts over
    // a one-row cross join; the dormancy check is a LEFT ANTI join
    // against the recent-orders keys, pruned by the date filter before
    // its exchange; the mean shares the decimal-sum÷count tree with
    // the oracle, the total is decimal-rounded.
    QueryDef("q_tpch_q22", (s, dir) => {
      val cc = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          (col("c_custkey") % 7).as("cntrycode"))
        .filter(col("cntrycode").isin(0, 1, 2, 3, 4))
      val ab = cc.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avgbal"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cc.crossJoin(broadcast(ab))
        .filter(col("c_acctbal") > col("avgbal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("cntrycode"))
    },
      """WITH cc AS (SELECT c_custkey, c_acctbal, c_custkey % 7 AS cntrycode
        |            FROM customer),
        |ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*) AS avgbal
        |       FROM cc WHERE c_acctbal > 0.0 AND cntrycode IN (0,1,2,3,4))
        |SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS totacctbal
        |FROM cc, ab
        |WHERE cntrycode IN (0,1,2,3,4) AND c_acctbal > avgbal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin),

    // #30ai: TPC-H Q2 shape (min-cost supplier, reference Q2 adapted:
    // schema has no p_mfgr/s_address — p_brand stands in; the region
    // is a broadcast chain region→nation→supplier into the derived
    // partsupp). The correlated MIN subquery is the window-free
    // min-join: per-part minima aggregate once, join back on
    // (partkey, exact-double cost equality — supplycost is integer
    // cents / 100.0, ONE IEEE division, identical on any engine). At
    // 100 TB partsupp shuffles on ps_partkey for both the agg and the
    // join-back (one exchange, reused); dims broadcast.
    QueryDef("q_tpch_q2", (s, dir) => {
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
        .select(col("r_regionkey"))
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("s_nationkey"))
      val eps = Tables.partsupp(s, dir)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(col("ps_partkey"), col("ps_supplycost"),
          col("s_acctbal"), col("s_name"), col("n_name"))
      val minc = eps.groupBy(col("ps_partkey").as("mk"))
        .agg(min(col("ps_supplycost")).as("min_cost"))
      val p = t(s, dir, "part").filter(col("p_size") === 15)
        .select(col("p_partkey"), col("p_brand"))
      eps.join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .join(minc, col("ps_partkey") === col("mk") &&
          col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"), col("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
      s"""WITH $PartsuppCte,
        |eps AS MATERIALIZED (
        |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
        |  FROM partsupp, supplier, nation, region
        |  WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
        |FROM part, eps
        |WHERE p_partkey = ps_partkey AND p_size = 15
        |  AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eps e2
        |                       WHERE e2.ps_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // #30aj: TPC-H Q9 shape (product-type profit): profit =
    // revenue − supply cost, per nation per year. The part filter
    // broadcasts into the lineitem scan FIRST (prunes the fact before
    // any shuffle); partsupp then joins on the composite
    // (partkey, suppkey) — at 100 TB that is the one fact-sized
    // shuffle, orders joins on the existing orderkey, supplier/nation
    // broadcast. Profit accumulates decimal-exact (both products cast
    // to decimal(28,4) before the subtraction) so the sum is
    // order-independent.
    QueryDef("q_tpch_q9", (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").like("%red%"))
        .select(col("p_partkey"))
      val ps = Tables.partsupp(s, dir)
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val amount =
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)") -
        (col("ps_supplycost").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)")).cast("decimal(28,4)")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"), col("l_quantity"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(round(sum(amount), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      s"""WITH $PartsuppCte
        |SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
        |  CAST(ROUND(SUM(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4)) -
        |    CAST(CAST(ps_supplycost AS DECIMAL(18,2)) *
        |         CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))
        |  ), 2) AS DOUBLE) AS sum_profit
        |FROM part, supplier, lineitem, partsupp, orders, nation
        |WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
        |  AND ps_partkey = l_partkey AND p_partkey = l_partkey
        |  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |  AND p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    // #30ak: TPC-H Q11 shape (important stock): per-part inventory
    // value within a nation group, kept where above a fraction of the
    // total. Both the per-part values and the grand total come from
    // ONE decimal aggregation (sum of exact decimals → double →
    // ×0.001), never a re-sum of rounded doubles — float sums of
    // rounded values are order-dependent and would let the two engines
    // disagree at the threshold boundary. The scalar threshold
    // broadcasts over the per-part rollup.
    QueryDef("q_tpch_q11", (s, dir) => {
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
        .select(col("n_nationkey"))
      val nps = Tables.partsupp(s, dir)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("ps_supplycost").cast("decimal(18,2)") *
          col("ps_availqty")).as("vdec"))
      val thresh = nps.agg(
        (sum(col("vdec")).cast("double") * lit(0.001)).as("thresh"))
      nps.crossJoin(broadcast(thresh))
        .filter(round(col("vdec"), 2).cast("double") > col("thresh"))
        .select(col("ps_partkey"),
          round(col("vdec"), 2).cast("double").as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    },

      // threshold from the EXACT decimal sum (never a re-sum of rounded
      // doubles — that float sum is order-dependent across engines)
      s"""WITH $PartsuppCte,
        |nps AS MATERIALIZED (
        |  SELECT ps_partkey,
        |    SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) AS vdec
        |  FROM partsupp, supplier, nation
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name IN ('NATION_3','NATION_7','NATION_11')
        |  GROUP BY ps_partkey)
        |SELECT ps_partkey, CAST(ROUND(vdec, 2) AS DOUBLE) AS value
        |FROM nps
        |WHERE CAST(ROUND(vdec, 2) AS DOUBLE) >
        |  (SELECT CAST(SUM(vdec) AS DOUBLE) * 0.001 FROM nps)
        |ORDER BY value DESC, ps_partkey""".stripMargin),

    // #30al: TPC-H Q16 shape (parts/supplier relationship count,
    // adapted: the excluded-supplier set is acctbal < 0 — schema has
    // no s_comment to grep for complaints). Part attributes broadcast
    // into the partsupp scan, the exclusion is a broadcast LEFT ANTI
    // (NOT IN with a null-free key column), then one distinct-count
    // aggregation shuffled on the (brand, type, size) group key.
    QueryDef("q_tpch_q16", (s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.partsupp(s, dir).select(col("ps_partkey"), col("ps_suppkey"))
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("ps_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      s"""WITH $PartsuppCte
        |SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM partsupp, part
        |WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#3'
        |  AND p_type <> 'PROMO' AND p_size IN (1,5,10,15,20,25,30,35)
        |  AND ps_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // #30am: TPC-H Q20 shape (potential part promotion): suppliers in
    // two nations whose stock of 'small %' parts exceeds half of what
    // they shipped in 1997. The correlated per-(part,supplier) SUM is
    // one date-pruned lineitem aggregation joined to partsupp on the
    // composite key; l_quantity is integer-valued so the double SUM is
    // exact (order-independent) and 0.5·qty is one exact scale. The
    // supplier set reduces through distinct before the LEFT SEMI probe.
    QueryDef("q_tpch_q20", (s, dir) => {
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val smallParts = t(s, dir, "part")
        .filter(col("p_name").like("small%")).select(col("p_partkey"))
      val eligible = Tables.partsupp(s, dir)
        .join(broadcast(smallParts), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > lit(0.5) * col("qty"))
        .select(col("ps_suppkey")).distinct()
      val nat = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey"))
      t(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(eligible, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"))
    },
      s"""WITH $PartsuppCte,
        |shipped AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT s_suppkey, s_name FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND n_name IN ('NATION_1','NATION_2')
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp, shipped
        |    WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |      AND ps_partkey IN
        |        (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |      AND ps_availqty > 0.5 * qty)
        |ORDER BY s_name""".stripMargin),
  )
}
