package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query contract — see SURVEY.md §2 for the inventory.
  *
  * Every oracle-checked capability is one [[QueryDef]] in a family
  * object under `graft.queries`, its Spark build beside its DuckDB
  * oracle SQL with IDENTICAL column names; ordered outputs carry a
  * total deterministic order (tie-break on a unique key). `queries`
  * and `oracleSql` are two views of the one registry.
  *
  * Cross-engine determinism rules (SURVEY.md §4):
  *  - money/double aggregates go through decimal(18,2) sums, round(2),
  *    cast double — exact on both engines, order-independent;
  *  - pure scalar double expressions share the exact expression tree
  *    with the oracle SQL (bit-identical IEEE evaluation), no rounding;
  *  - timestamps surface as epoch-second bigints;
  *  - ANN outputs integer ids + ranks, never similarity floats.
  */
object SparkEntry {

  private val registry: Map[String, QueryDef] = QueryDef.index(
    Reference.defs ++ Relational.defs ++ Tpch.defs ++ NearDup.defs ++
      Retrieval.defs ++ Tokenizer.defs ++ TextMetrics.defs ++
      ArmStats.defs ++ Agreement.defs ++ Descriptive.defs ++ Events.defs ++
      Graph.defs ++ Versioned.defs ++ Curation.defs ++ Sketches.defs)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) => n -> d.build }

  val oracleSql: Map[String, String] =
    registry.map { case (n, d) => n -> d.oracle }

  /** Flagship: the reference's hashtag top-10 re-expressed over
    * documents.text (tokens play the hashtags role). Runs on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_top10_tokens")(spark, "/root/testdata/sf0.001")
}
