package graft

import org.apache.spark.sql.functions._

import graft.Materialize._
import graft.functions.TextAnalysis
import graft.operators.TopK
import graft.sources._
import graft.streaming.StoreSink

/** End-to-end example of the reference pipeline on graft's public API:
  * land events in the partitioned hour layout → partition-pruned
  * window scan → tokenize/count/top-10 → CSV sink → publish to the
  * serving store with window-retire semantics — then the training-data
  * pipeline: curate (dedup/cluster/gates/sample) → vocab → encode →
  * pack to sharded parquet. Run:
  *
  *   sbt "runMain graft.Demo /root/testdata/sf0.001 /tmp/graft-demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()

    // 1. land the event stream in the hive-partitioned hour layout
    val events = Tables.load(spark, sfDir, "events")
    Sinks.partitionedByHour(events, "ts", s"$outDir/hours")

    // 2. partition-pruned scan of one day
    val win = TimeWindow.day(2024, 1, 15)
    val scanned = PartitionedSource.readWindow(spark, s"$outDir/hours", win)
    println(s"demo: window rows = ${scanned.count()}")
    scanned.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters"))
      .foreach(l => println("demo: " +
        l.substring(l.indexOf("PartitionFilters")).take(220)))

    // 3. the flagship: tokenize -> count -> top 10
    val docs = Tables.load(spark, sfDir, "documents")
    val top = TopK.topKeys(
      docs.select(TextAnalysis.tokens(col("text")).as("toks")), "toks", 10)
      .eagerCheckpoint() // three actions below read these 10 rows

    // 4. reference sinks: header'd CSV + serving store publish
    Sinks.csv(top, s"$outDir/top10")
    val store = new ParquetResultStore(spark, s"$outDir/results", "key", "published_at")
    StoreSink.publishWindow(store,
      StoreSink.windowKeyed(top.withColumn("published_at",
        lit("2024-01-15 00:00:00").cast("timestamp")), "published_at"),
      win.start, win.end)
    println(s"demo: store rows = ${store.read().count()}")
    println(s"demo: top10 = " + top.collect()
      .map(r => r.getString(0) + ":" + r.getLong(1)).mkString(", "))

    // 5. the training-data pipeline: curate → vocab → encode → pack →
    // sharded parquet (what a tokenizer-writer job would ship)
    val curated = operators.CurationPipeline.curate(docs, "doc_id", "text")
    val vocab = operators.Vocab.build(curated, "text", 2L)
    val encoded = operators.Vocab
      .encode(curated, "doc_id", "text", broadcast(vocab))
      .withColumn("n_tok", size(col("ids")))
      .withColumn("shard", pmod(col("doc_id"), lit(4)))
    val packed = operators.Packing
      .packGreedy(encoded, "shard", "doc_id", "n_tok", 512)
    packed.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards")
    val bins = packed.select(col("shard"), col("bin")).distinct().count()
    println(s"demo: curated ${curated.count()} of ${docs.count()} docs, " +
      s"vocab ${vocab.count()} tokens, packed into $bins bins of 512 tokens " +
      s"across 4 shards")

    // 6. fit-once/serve-many retrieval: fit IVF+PQ quantizers, persist
    // the four index artifacts, then serve hybrid (dense IVF arm +
    // lexical 3-gram arm, RRF-fused) purely from the artifact dir —
    // what a production vector store does across sessions
    val embs = Tables.load(spark, sfDir, "embeddings")
    operators.IndexedSearch.fit(embs, "vec_id", "embedding", s"$outDir/index",
      qualityReport = true)
    val served = operators.IndexedSearch.serveHybrid(spark, s"$outDir/index",
      docs, "doc_id", "text", embs.filter(col("vec_id") < 3),
      "vec_id", "embedding")
    println("demo: hybrid top-3 per query (q_id,rn,d_id): " +
      served.filter(col("rn") <= 3).orderBy(col("q_id"), col("rn")).collect()
        .map(r => s"(${r.getLong(0)},${r.getInt(1)},${r.getLong(2)})")
        .mkString(", "))
    // the quality gate grades the SERVED index (the persisted
    // fit_quality report of the published generation, computed from
    // the same centroids the probes above used)
    println("demo: served-index silhouette (cid,n,mean_sil): " +
      operators.IndexedSearch.silhouette(spark, s"$outDir/index")
        .orderBy(col("cid")).collect()
        .map(r => s"(${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)})")
        .mkString(", "))
    spark.stop()
  }
}
