package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers the query families share: table loads, the exact-decimal
  * money aggregates and the verified near-dup pair CTE. */
private[queries] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** loadParallel: for queries whose per-row compute (hashing,
    * shingling, vector math) dominates the scan — see Tables. */
  def tp(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadParallel(s, dir, name)

  /** decimal(18,2) sum → round(2) → double: the order-independent
    * money-aggregate pattern. */
  def dsum(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")), 2).cast("double")

  /** sum of extendedprice*(1-discount) in exact decimal → double. */
  def revenue(price: Column, discount: Column): Column =
    round(sum((price.cast("decimal(18,2)") *
      (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
        discount.cast("decimal(18,2)"))).cast("decimal(28,4)")), 2)
      .cast("double")

  val RevenueSql =
    "CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))), 2) AS DOUBLE)"

  /** Oracle-side verified near-dup PAIRS at exact Jaccard ≥ 0.8 over
    * distinct 3-shingles — the inverted-index join replay of
    * `Dedup.minHashNearDups` (per-gram equi-join, |A∪B| = |A|+|B|−|A∩B|;
    * never all-pairs). Shared CTE prefix ending at `pairs(i, j)` with
    * i < j; declared RECURSIVE so consumers may append recursive CTEs
    * (q_leakage_split's component closure). Pre-stripped, no trailing
    * comma. */
  val NearDupPairsSql =
    """WITH RECURSIVE t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
      |sh AS MATERIALIZED (SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM t WHERE len(tk) >= 3),
      |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
      |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
      |isect AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS MATERIALIZED (SELECT i, j FROM isect
      |  JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
      |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8)
      |""".stripMargin
}
