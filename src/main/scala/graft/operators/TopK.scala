package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-and-rank operators generalizing the reference's hashtag top-10
  * (explode → groupBy count → orderBy desc → limit 10,
  * reference App.java:98-101).
  *
  * Scale notes: `orderBy(...).limit(k)` compiles to
  * `TakeOrderedAndProject` — each partition keeps a k-row heap and the
  * driver merges p·k rows; the full dataset is never globally sorted or
  * shuffled. The groupBy count before it is a partial (map-side)
  * aggregation followed by a shuffle on the key only.
  *
  * `topK` runs that plan once and hands back its k rows as a local
  * relation (the reference caches its sorted counts the same way,
  * App.java:100), so a caller that feeds the result to several sinks
  * reads its input once. The k rows come to the driver, bounded by
  * `spark.driver.maxResultSize`; a caller that wants a lazy prefix of
  * millions of rows writes `orderBy(...).limit(k)` itself.
  */
object TopK {

  /** Explode an array column into one row per element, dropping the
    * array (reference App.java:98). */
  def explodeArray(df: DataFrame, arrayCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, explode(col(arrayCol))).drop(arrayCol)

  /** Count rows per key value. */
  def countByKey(df: DataFrame, key: String, countCol: String = "cnt"): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as(countCol))

  /** Deterministic top-k by `order` with tie-breakers: never a global
    * sort — Spark plans this as TakeOrderedAndProject. Runs the plan
    * now and returns its ≤ k rows as one partition, as
    * TakeOrderedAndProject produced them (a bare local scan splits them
    * over the cores, and each sink then writes a tiny file per split);
    * every later action reads these rows, not `df`. */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame = {
    val top = df.orderBy(order: _*).limit(k)
    df.sparkSession.createDataFrame(top.collectAsList(), top.schema).coalesce(1)
  }

  /** The full reference pipeline over an array column: explode, count,
    * top-k by count desc (ties broken by key asc so results are
    * deterministic across engines), materialized once by [[topK]]. */
  def topKeys(df: DataFrame, arrayCol: String, k: Int,
              keyCol: String = "token", countCol: String = "cnt"): DataFrame = {
    val counted = countByKey(explodeArray(df, arrayCol, keyCol), keyCol, countCol)
    topK(counted, k, col(countCol).desc, col(keyCol).asc)
  }
}
