package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.TopK
import graft.sources.TimeWindow

import Shared._

/** The reference job's surface: explode → count → top-k over document
  * tokens, the global sort and the time-window scan (SURVEY §2.1). */
object Reference {

  val defs: Seq[QueryDef] = Seq(

    // #3-5: explode → count → top-k (reference App.java:98-101); the
    // build runs the TakeOrderedAndProject plan and returns its 10 rows
    QueryDef("q_top10_tokens", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
      TopK.topKeys(docs, "toks", 10)
    },
      raw"""SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents)
        |GROUP BY token
        |ORDER BY cnt DESC, token ASC
        |LIMIT 10""".stripMargin),

    // #3: array explode → flat rows
    QueryDef("q_token_explode", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      TopK.explodeArray(docs, "toks", "token")
    },
      raw"""SELECT doc_id, unnest(${tokensSql("text")}) AS token
        |FROM documents""".stripMargin),

    // #4: full hash-agg count per key (no limit)
    QueryDef("q_hashtag_count", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
      TopK.countByKey(TopK.explodeArray(docs, "toks", "token"), "token")
    },
      raw"""SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents)
        |GROUP BY token""".stripMargin),

    // #6: global sort (deterministic: unique tie-break) + limit
    QueryDef("q_sort", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(100),
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),

    // #1: time-window scan; predicate pushes to the parquet scan
    QueryDef("q_time_window_scan", (s, dir) => {
      val w = TimeWindow.day(2024, 1, 15)
      t(s, dir, "events")
        .filter(w.predicate(col("ts")))
        .select("event_id", "user_id", "event_type")
    },
      """SELECT event_id, user_id, event_type FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'""".stripMargin),
  )
}
