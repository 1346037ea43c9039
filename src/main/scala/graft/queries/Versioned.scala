package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.AsOfJoin

import Shared._

/** Versioned tables, change capture, time travel and upsert sinks. */
object Versioned {

  /** The keyed snapshot the upsert sinks start from: customer balances,
    * minus custkey % 7 == 0 so those keys' changes exercise INSERT. */
  private def snapshot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))

  /** The CDC change set every upsert query applies: the orders dated in
    * [from, until) as a change log — status F deletes (op D), any other
    * status upserts the order total (op U) — collapsed to each key's
    * last writer by max_by over (ts = o_orderdate, seq = o_orderkey).
    * Null keys drop: no MERGE can match them. Returns (key, bal, op). */
  private def changeSet(s: SparkSession, dir: String, from: String,
      until: Option[String] = None): DataFrame = {
    val date = col("o_orderdate")
    val window = until.foldLeft(date >= lit(from).cast("timestamp"))(
      (w, u) => w && date < lit(u).cast("timestamp"))
    t(s, dir, "orders").filter(window)
      .filter(col("o_custkey").isNotNull)
      .select(col("o_custkey").as("key"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
        col("o_totalprice").as("bal"),
        date.as("ts"), col("o_orderkey").as("seq"))
      .groupBy(col("key"))
      .agg(max_by(struct(col("op"), col("bal")),
        struct(col("ts"), col("seq"))).as("l"))
      .select(col("key"), col("l.bal").as("bal"), col("l.op").as("op"))
  }

  /** changeSet's oracle: CTEs ch<n> (the change log read by `source`,
    * the SQL from `FROM orders` on) and last<n> (each key's last writer,
    * (key, op, newbal)), no trailing comma. */
  private def changeSetSql(n: String, source: String): String =
    s"""ch$n AS (SELECT o_custkey AS key,
       |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
       |    o_totalprice AS newbal, o_orderdate AS ts, o_orderkey AS seq
       |  $source),
       |last$n AS (SELECT key, op, newbal FROM (
       |    SELECT *, row_number() OVER (PARTITION BY key
       |      ORDER BY ts DESC, seq DESC) AS rn FROM ch$n)
       |  WHERE rn = 1)""".stripMargin

  /** The time-travel round trip, parameterized by how a version is read
    * back: init a versioned table from the snapshot, merge two
    * chronological change sets, then fingerprint versions 1..3 (row
    * count + exact decimal(28,2) balance sum). */
  private def timeTravel(read: (SparkSession, String, Long) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val work = java.nio.file.Files.createTempDirectory("graft_tt")
    val tbl = work.resolve("tbl").toString
    // clusterBy stamps per-file key min/max into v1's manifest, so
    // both merges below rewrite only their stats-pruned candidate
    // files (the r17 O(delta) commit shape) — content is unchanged
    sources.VersionedTable.init(s, tbl, snapshot(s, dir), clusterBy = Seq("key"))
    for ((from, until) <- Seq("1997-01-01" -> "1997-07-01", "1997-07-01" -> "1999-01-01"))
      sources.VersionedTable.merge(s, tbl, changeSet(s, dir, from, Some(until)),
        Seq("key"), deleteWhen = col("op") === "D")
    (1L to 3L).map { v =>
      read(s, tbl, v)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("bal").cast("decimal(28,2)")).as("sum_bal"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_bal"))
    }.reduce(_.unionAll(_)).orderBy(col("version"))
  }

  /** timeTravel's oracle: the version chain replayed relationally — v2 =
    * MERGE(v1, ch1), v3 = MERGE(v2, ch2); per-version fingerprints close
    * in exact decimal(28,2) sums. */
  private val TimeTravelSql: String = {
    def changes(n: String, from: String, until: String) = changeSetSql(n,
      s"""FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$from'
         |    AND o_orderdate < TIMESTAMP '$until'
         |    AND o_custkey IS NOT NULL""".stripMargin)
    s"""WITH v1 AS (SELECT c_custkey AS key, c_acctbal AS bal
       |  FROM customer WHERE c_custkey % 7 <> 0),
       |${changes("1", "1997-01-01", "1997-07-01")},
       |v2 AS (SELECT COALESCE(s.key, l.key) AS key,
       |    CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
       |  FROM v1 s FULL OUTER JOIN last1 l ON s.key = l.key
       |  WHERE l.op IS NULL OR l.op <> 'D'),
       |${changes("2", "1997-07-01", "1999-01-01")},
       |v3 AS (SELECT COALESCE(s.key, l.key) AS key,
       |    CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
       |  FROM v2 s FULL OUTER JOIN last2 l ON s.key = l.key
       |  WHERE l.op IS NULL OR l.op <> 'D')
       |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
       |  SUM(CAST(bal AS DECIMAL(28,2))) AS sum_bal FROM v1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       |  SUM(CAST(bal AS DECIMAL(28,2))) FROM v2
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
       |  SUM(CAST(bal AS DECIMAL(28,2))) FROM v3
       |ORDER BY version""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // #138: incremental aggregate maintenance — the materialized-view
    // update path: the "historical" partition's partial aggregates merge
    // with the delta partition's partials (sum/count are the mergeable
    // algebra), and the result is row-identical to a full recompute
    // (which is exactly what the oracle runs). At 100 TB this is the
    // difference between scanning the day's delta and scanning the
    // corpus; only the source-sized partial tables shuffle.
    QueryDef("q_incr_agg", (s, dir) => {
      def part(df: DataFrame) = df
        .select(col("source"), size(TextAnalysis.tokens(col("text"))).as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok_sum"))
      val d = tp(s, dir, "documents")
      val base = part(d.filter(col("doc_id") < 400))   // "materialized"
      val delta = part(d.filter(col("doc_id") >= 400)) // the new batch
      base.unionByName(delta)
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tok_sum")).as("tok_sum"))
        .select(col("source"), col("n_docs"), col("tok_sum"),
          round(col("tok_sum").cast("double") / col("n_docs").cast("double"), 9)
            .as("avg_tokens"))
    },

      // full recompute — exactly what the incremental merge must equal
      raw"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(${tokensSql("text")})) AS BIGINT) AS tok_sum,
        |  ROUND(CAST(SUM(len(${tokensSql("text")})) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS avg_tokens
        |FROM documents GROUP BY source""".stripMargin),

    // #142: CDC / SCD-1 apply — the warehouse upsert path: a change log
    // (U = upsert payload, D = delete) collapses to its last writer per
    // key (max_by over the (ts, seq) order — one delta-sized shuffle),
    // then left-joins the snapshot: deletes drop, upserts replace,
    // untouched keys pass through. The snapshot is never shuffled on
    // anything but the join key, and the delta side is broadcast-able
    // when the day's changes are small. Values pass through unrounded —
    // bit-identical on both engines.
    QueryDef("q_scd_apply", (s, dir) => {
      val snap = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("snap_bal"))
      val last = changeSet(s, dir, "1997-06-01")
        .select(col("key").as("k2"), col("op"), col("bal").as("newbal"))
      snap.join(last, col("key") === col("k2"), "left")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("key"), coalesce(col("newbal"), col("snap_bal")).as("bal"))
    },
      s"""WITH ${changeSetSql("", "FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'")}
        |SELECT c_custkey AS key, COALESCE(l.newbal, c_acctbal) AS bal
        |FROM customer LEFT JOIN last l ON c_custkey = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin),

    // #294: MERGE INTO-shaped upsert SINK (Sinks.merge) — the
    // TRANSACTIONAL complement of q_scd_apply's pure-query shape: the
    // change set applies to a STORED keyed parquet table (full-outer
    // join on the key + the compact() atomic snapshot-swap protocol)
    // and the table is read BACK as the result, so the oracle replays
    // the whole write-then-read round trip as one relational MERGE.
    // The target excludes custkey % 7 == 0 so those keys' changes
    // exercise the INSERT branch; final-status changes exercise DELETE;
    // the rest update or pass through. Values pass through unrounded —
    // bit-identical on both engines (the q_scd_apply convention).
    QueryDef("q_merge_upsert", (s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft_merge")
      val tgtDir = work.resolve("tbl").toString
      snapshot(s, dir).write.parquet(tgtDir)
      sources.Sinks.merge(s, tgtDir, changeSet(s, dir, "1997-06-01"),
        Seq("key"), deleteWhen = col("op") === "D")
      s.read.parquet(tgtDir)
    },

      // the merge SINK's write-then-read round trip replayed as one
      // relational MERGE: full-outer of the %7-windowed snapshot with
      // the last-writer change set — matched deletes drop, matched
      // updates take the source bal, source-only non-deletes insert,
      // target-only rows pass through
      s"""WITH snap AS (SELECT c_custkey AS key, c_acctbal AS bal
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |${changeSetSql("", "FROM orders\n  WHERE o_orderdate >= TIMESTAMP '1997-06-01' AND o_custkey IS NOT NULL")}
        |SELECT COALESCE(s.key, l.key) AS key,
        |  CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
        |FROM snap s FULL OUTER JOIN last l ON s.key = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin),

    // #294a: snapshot TIME TRAVEL round trip (sources.VersionedTable —
    // the multi-generation MERGE sink): init a versioned table from the
    // customer base, apply TWO chronological change-set merges (same
    // last-writer collapse + delete semantics as q_merge_upsert), then
    // read ALL THREE versions back via read(asOf) and emit each
    // version's state fingerprint (row count + exact decimal balance
    // sum). The oracle replays the version chain relationally — v2 =
    // MERGE(v1, changes1), v3 = MERGE(v2, changes2) — so the hash pins
    // that every historical snapshot equals the state the engine held
    // when that version committed, not just the latest. Fingerprints
    // are decimal(28,2) sums (order-free exact, 2-decimal money).
    QueryDef("q_time_travel",
      timeTravel((s, tbl, v) => sources.VersionedTable.read(s, tbl, Some(v))),
      TimeTravelSql),

    // #294c: q_time_travel's version chain read back through the SQL
    // surface — `spark.read.format("graft-table").option("versionAsOf",
    // v)` — instead of the Scala API: same table build, same oracle
    // (the relational MERGE replay), so the hash pins that the FORMAT
    // path resolves every historical manifest to the identical state.
    // The format route is also the stats-pruned read path
    // (GraftManifestFileIndex), exercised here under a real workload.
    QueryDef("q_time_travel_sql",
      timeTravel((s, tbl, v) => s.read.format("graft-table")
        .option("versionAsOf", v.toString).load(tbl)),
      TimeTravelSql),

    // #179: SCD type-2 dimension build from a change log — orders as
    // per-customer priority updates: drop no-change rows (lag), then
    // version + effective [from, to) ranges + current flag per key.
    // Two windows over the SAME (key → ts, seq) partitioning — one
    // shuffle, the second window reuses the sort. Epoch-second bigints;
    // open ranges close at year-9999 to keep the schema null-free.
    QueryDef("q_scd2", (s, dir) => {
      val ch = t(s, dir, "orders")
        .select(col("o_custkey").as("key"),
          col("o_orderpriority").as("attr"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      val byKey = Window.partitionBy(col("key")).orderBy(col("ts"), col("seq"))
      val changed = ch.withColumn("prev", lag(col("attr"), 1).over(byKey))
        .filter(col("prev").isNull || col("prev") =!= col("attr"))
      changed
        .select(col("key"), row_number().over(byKey).as("version"),
          col("attr"), unix_timestamp(col("ts")).as("eff_from"),
          coalesce(unix_timestamp(lead(col("ts"), 1).over(byKey)),
            lit(253402300800L)).as("eff_to"),
          lead(col("ts"), 1).over(byKey).isNull.cast("int").as("is_current"))
    },
      """WITH c AS (SELECT o_custkey AS key, o_orderpriority AS attr,
        |    o_orderdate AS ts, o_orderkey AS seq,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |ch AS (SELECT key, attr, ts, seq FROM c
        |  WHERE prev IS NULL OR prev <> attr)
        |SELECT key, CAST(row_number() OVER w AS INT) AS version, attr,
        |  CAST(epoch(ts) AS BIGINT) AS eff_from,
        |  CAST(COALESCE(epoch(lead(ts) OVER w), 253402300800) AS BIGINT) AS eff_to,
        |  CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
        |FROM ch WINDOW w AS (PARTITION BY key ORDER BY ts, seq)""".stripMargin),

    // #180a: POINT-IN-TIME dimension lookup against the SCD2 version
    // table (the warehouse companion of #179): every lineitem gets the
    // customer's priority-regime version effective at its ship date.
    // The [eff_from, eff_to) range predicate is NOT a range join —
    // non-overlapping versions that tile each key's timeline make
    // "effective at ts" ≡ "latest version with eff_from ≤ ts", which
    // is exactly AsOfJoin's union + one-window-pass shape: one
    // (key → ts) shuffle, no inequality-join cross-product, no per-row
    // probe. The oracle runs the literal BETWEEN-range join to prove
    // the equivalence. Version payload rides one struct column.
    QueryDef("q_scd2_join", (s, dir) => {
      // null custkeys would form a joinable null "key" partition in the
      // union-window sweep; equi-join semantics (the oracle) drop them
      val ch = t(s, dir, "orders").filter(col("o_custkey").isNotNull)
        .select(col("o_custkey").as("key"),
          col("o_orderpriority").as("attr"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      val byKey = Window.partitionBy(col("key")).orderBy(col("ts"), col("seq"))
      val dim = ch.withColumn("prev", lag(col("attr"), 1).over(byKey))
        .filter(col("prev").isNull || col("prev") =!= col("attr"))
        .select(col("key"), col("ts").as("eff_from"),
          struct(row_number().over(byKey).as("version"), col("attr")).as("v"))
      val facts = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
          .filter(col("o_custkey").isNotNull),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("key"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      AsOfJoin.asOf(facts, dim, "key", "l_shipdate", "eff_from", "v", "ver")
        // inner semantics: facts before their key's first version have
        // no effective dimension row (the oracle's range join drops them)
        .filter(col("ver").isNotNull)
        .groupBy(col("ver.attr").as("attr"))
        .agg(count(lit(1)).as("n_lines"),
          revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("attr"))
    },

      // literal BETWEEN-range join against the version table — proves the
      // as-of union-window rewrite
      s"""WITH c AS (SELECT o_custkey AS key, o_orderpriority AS attr,
        |    o_orderdate AS ts, o_orderkey AS seq,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |d AS (SELECT key, attr, ts AS eff_from,
        |    lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS eff_to
        |  FROM c WHERE prev IS NULL OR prev <> attr),
        |f AS (SELECT o_custkey AS key, l_shipdate, l_extendedprice, l_discount
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT d.attr, CAST(COUNT(*) AS BIGINT) AS n_lines, $RevenueSql AS revenue
        |FROM f JOIN d ON f.key = d.key AND f.l_shipdate >= d.eff_from
        |  AND (d.eff_to IS NULL OR f.l_shipdate < d.eff_to)
        |GROUP BY d.attr ORDER BY d.attr""".stripMargin),

    // #149: snapshot diff / data reconciliation — classify keys across
    // two table versions (added / removed / changed / unchanged) by
    // comparing per-row content hashes under a full-outer join on the
    // key; the shuffle carries (key, md5) only, never payloads. The
    // "new" snapshot here is derived: late orders arrive (added), some
    // finalized orders are purged (removed), some priorities are
    // corrected (changed).
    QueryDef("q_snapshot_diff", (s, dir) => {
      val o = t(s, dir, "orders")
      val cut = lit("1998-01-01").cast("timestamp")
      val v1 = o.filter(col("o_orderdate") < cut)
        .select(col("o_orderkey").as("key"),
          md5(concat_ws("|", col("o_orderstatus"), col("o_orderpriority")))
            .as("h1"))
      val v2 = o
        .filter(!(col("o_orderstatus") === "F" && col("o_orderkey") % 13 === 0))
        .select(col("o_orderkey").as("key2"),
          md5(concat_ws("|", col("o_orderstatus"),
            when(col("o_orderkey") % 97 === 0, lit("CORRECTED"))
              .otherwise(col("o_orderpriority")))).as("h2"))
      v1.join(v2, col("key") === col("key2"), "full_outer")
        .select(when(col("key").isNull, "added")
          .when(col("key2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("class"))
        .groupBy(col("class")).agg(count(lit(1)).as("n"))
    },
      """WITH v1 AS (SELECT o_orderkey AS key,
        |    md5(o_orderstatus || '|' || o_orderpriority) AS h1
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |v2 AS (SELECT o_orderkey AS key2,
        |    md5(o_orderstatus || '|' ||
        |      CASE WHEN o_orderkey % 97 = 0 THEN 'CORRECTED'
        |           ELSE o_orderpriority END) AS h2
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 13 = 0))
        |SELECT CASE WHEN key IS NULL THEN 'added'
        |            WHEN key2 IS NULL THEN 'removed'
        |            WHEN h1 <> h2 THEN 'changed'
        |            ELSE 'unchanged' END AS class,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM v1 FULL OUTER JOIN v2 ON key = key2
        |GROUP BY 1""".stripMargin),
  )
}
