package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{ParquetResultStore, Sinks}
import graft.streaming._

class StreamingSpec extends SparkSpec {

  import SparkSpec.spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed token counts with watermark over a memory stream") {
    val in = MemoryStream[(Timestamp, String)]
    val counts = StreamingTopK.windowedCounts(
      in.toDF().toDF("ts", "token"), "ts", "token", "1 hour", "10 minutes")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try {
      in.addData(
        (ts("2024-01-01 00:05:00"), "spark"),
        (ts("2024-01-01 00:10:00"), "spark"),
        (ts("2024-01-01 00:20:00"), "flink"),
        (ts("2024-01-01 01:05:00"), "spark"))
      q.processAllAvailable()
      val out = spark.table("wc").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3))).toSet
      assert(out === Set(
        ("2024-01-01 00:00:00.0", "spark", 2L),
        ("2024-01-01 00:00:00.0", "flink", 1L),
        ("2024-01-01 01:00:00.0", "spark", 1L)))
    } finally q.stop()
  }

  test("streaming KMV distinct sketch: incremental state equals the batch sketch") {
    // TypedImperativeAggregate buffers serialize into the state store,
    // so the mergeable KMV sketch aggregates across micro-batches; the
    // deterministic bottom-k means streaming must equal batch EXACTLY,
    // whatever the batch boundaries.
    val in = MemoryStream[(String, Long)]
    val sk = in.toDF().toDF("src", "h")
      .groupBy(col("src"))
      .agg(graft.functions.KmvSketch.kmv(col("h"), 4).as("mins"))
    val q = sk.writeStream.format("memory").queryName("kmv")
      .outputMode("complete").start()
    try {
      in.addData(("a", 9L), ("a", 3L), ("b", 5L), ("a", 3L))
      q.processAllAvailable()
      in.addData(("a", 1L), ("a", 7L), ("a", 11L), ("b", 2L))
      q.processAllAvailable()
      val out = spark.table("kmv").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(out("a") === Seq(1L, 3L, 7L, 9L)) // 11 evicted, dup 3 collapsed
      assert(out("b") === Seq(2L, 5L))
    } finally q.stop()
  }

  test("streaming PSI band counts equal batch; drifted window alarms, stable one doesn't") {
    val cuts = Seq(10.0, 20.0, 30.0)              // 4 bands
    val baseline = Seq((0, 0.25), (1, 0.25), (2, 0.25), (3, 0.25))
      .toDF("band", "p")
    // window 0: matches baseline (one value per band); window 1: all
    // mass in the top band — the shape drift PSI exists to flag
    val w0 = Seq(5.0, 15.0, 25.0, 35.0)
      .map(v => (ts("2024-01-01 00:10:00"), v))
    val w1 = Seq(31.0, 32.0, 33.0, 34.0)
      .map(v => (ts("2024-01-01 01:10:00"), v))
    val in = MemoryStream[(Timestamp, Double)]
    val counts = StreamOps.windowedBandCounts(
      in.toDF().toDF("ts", "value"), "ts", "value", cuts, "1 hour")
    val q = counts.writeStream.format("memory").queryName("psi_bands")
      .outputMode("complete").start()
    try {
      in.addData(w0 ++ w1.take(2)); q.processAllAvailable()
      in.addData(w1.drop(2)); q.processAllAvailable() // cross-batch adds
      val streamed = spark.table("psi_bands")
      // stream ≡ batch: identical banding + grouping on the union
      val batch = StreamOps.windowedBandCounts(
        (w0 ++ w1).toDF("ts", "value"), "ts", "value", cuts, "1 hour")
      assert(streamed.collect().toSet === batch.collect().toSet)
      // the same fold serves both sides of the lambda handoff
      val psi = StreamOps.psiOf(streamed, baseline).collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
      val psiBatch = StreamOps.psiOf(batch, baseline).collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
      assert(psi === psiBatch)
      assert(psi("2024-01-01 00:00:00.0") === 0.0,       // exact baseline match
        "in-distribution window must score 0")
      assert(psi("2024-01-01 01:00:00.0") > 0.25,        // >0.25 = actionable drift
        "all-mass-in-one-band window must alarm")
      // drift INTO a band the baseline table never saw must still alarm:
      // the band universe is baseline ∪ observed, p floored at 1e-6
      val partialBase = baseline.filter(col("band") < 3)  // band 3 unknown
      val psiPartial = StreamOps.psiOf(batch, partialBase).collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
      assert(psiPartial("2024-01-01 01:00:00.0") > 1.0,
        "mass arriving in a baseline-unseen band must blow up PSI")
    } finally q.stop()
  }

  test("streaming W1 band fold equals batch; drift magnitude reads in value units") {
    val cuts = Seq(10.0, 20.0, 30.0)              // 4 bands, gaps of 10
    val baseline = Seq((0, 0.25), (1, 0.25), (2, 0.25), (3, 0.25))
      .toDF("band", "p")
    val w0 = Seq(5.0, 15.0, 25.0, 35.0)           // one value per band
      .map(v => (ts("2024-01-01 00:10:00"), v))
    val w1 = Seq(31.0, 32.0, 33.0, 34.0)          // all mass in band 3
      .map(v => (ts("2024-01-01 01:10:00"), v))
    val in = MemoryStream[(Timestamp, Double)]
    val counts = StreamOps.windowedBandCounts(
      in.toDF().toDF("ts", "value"), "ts", "value", cuts, "1 hour")
    val q = counts.writeStream.format("memory").queryName("w1_bands")
      .outputMode("complete").start()
    try {
      in.addData(w0 ++ w1.take(2)); q.processAllAvailable()
      in.addData(w1.drop(2)); q.processAllAvailable() // cross-batch adds
      val streamed = spark.table("w1_bands")
      val batch = StreamOps.windowedBandCounts(
        (w0 ++ w1).toDF("ts", "value"), "ts", "value", cuts, "1 hour")
      // the same fold serves both sides of the lambda handoff
      def w1map(bc: org.apache.spark.sql.DataFrame) =
        StreamOps.w1Of(bc, baseline, cuts).collect()
          .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
      val ws = w1map(streamed)
      assert(ws === w1map(batch))
      assert(ws("2024-01-01 00:00:00.0") === 0.0,
        "in-distribution window must score 0 mass movement")
      // all mass above the top cut: F_q = 0 at every boundary, so
      // W1 = 0.25*10 + 0.5*10 = 7.5 — the answer in VALUE units
      // (PSI on the same window is a unitless ~2.8)
      assert(ws("2024-01-01 01:00:00.0") === 7.5)
      // a baseline missing a band contributes p = 0 there, shifting
      // mass the fold must still see (no silent null-drop)
      val partial = baseline.filter(col("band") =!= 0)
      val wsPartial = StreamOps.w1Of(batch, partial, cuts).collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
      // window 0 vs partial baseline: F_p(10)=0, F_p(20)=.25, F_p(30)=.5
      // F_q = .25/.5/.75 -> W1 = .25*10 + .25*10 = 5.0
      assert(wsPartial("2024-01-01 00:00:00.0") === 5.0)
    } finally q.stop()
  }

  test("streaming conformal band fold equals batch; q-hat tracks drift, tiny window honest-NULLs") {
    val cuts = Seq(10.0, 20.0, 30.0)
    // w0: 9 values in band 0, 1 in band 1 — rank ⌈0.9·11⌉ = 10 lands
    // in band 1, so q̂ = its upper cut 20.0
    val w0 = (Seq.fill(9)(5.0) :+ 15.0)
      .map(v => (ts("2024-01-01 00:10:00"), v))
    // w1: the mass shifts up a band — q̂ must move 20 → 30
    val w1 = (5.0 +: Seq.fill(9)(25.0))
      .map(v => (ts("2024-01-01 01:10:00"), v))
    // w2: n = 4 < 9, the rank exceeds the window — honest NULL interval
    val w2 = Seq(1.0, 2.0, 3.0, 4.0)
      .map(v => (ts("2024-01-01 02:10:00"), v))
    val in = MemoryStream[(Timestamp, Double)]
    val counts = StreamOps.windowedBandCounts(
      in.toDF().toDF("ts", "value"), "ts", "value", cuts, "1 hour")
    val q = counts.writeStream.format("memory").queryName("conf_bands")
      .outputMode("complete").start()
    try {
      in.addData(w0 ++ w1.take(4)); q.processAllAvailable()
      in.addData(w1.drop(4) ++ w2); q.processAllAvailable() // cross-batch
      val streamed = spark.table("conf_bands")
      val batch = StreamOps.windowedBandCounts(
        (w0 ++ w1 ++ w2).toDF("ts", "value"), "ts", "value", cuts, "1 hour")
      // the same fold serves both sides of the lambda handoff
      def cmap(bc: org.apache.spark.sql.DataFrame) =
        StreamOps.conformalOf(bc, cuts).collect()
          .map(r => r.getTimestamp(0).toString ->
            ((r.getLong(1), r.getLong(2),
              if (r.isNullAt(3)) None else Some(r.getInt(3)),
              if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      val cm = cmap(streamed)
      assert(cm === cmap(batch))
      assert(cm("2024-01-01 00:00:00.0") === ((10L, 10L, Some(1), Some(20.0))))
      assert(cm("2024-01-01 01:00:00.0") === ((10L, 10L, Some(2), Some(30.0))),
        "upward mass shift must move q-hat up a band")
      assert(cm("2024-01-01 02:00:00.0") === ((4L, 5L, None, None)),
        "a window smaller than the rank emits the infinite interval, not a clamp")
    } finally q.stop()
  }

  test("streaming Holt: exact dyadic recursion across batches; 6-point series matches the batch tap expansion") {
    val in = MemoryStream[(Long, Timestamp, Double)]
    val xs = Seq(3.25, 7.5, 1.0, 9.75, 4.5, 6.25) // 2-dp values, dyadic
    val rows = xs.zipWithIndex.map { case (v, i) =>
      (1L, ts(f"2024-01-01 00:0$i:00"), v) }
    val q = StreamOps.streamingHolt(in.toDF().toDF("k", "ts", "value"),
        "k", "ts", "value")
      .writeStream.format("memory").queryName("holt").outputMode("append")
      .start()
    try {
      in.addData(rows.take(3)); q.processAllAvailable() // batch boundary
      in.addData(rows.drop(3)); q.processAllAvailable() // mid-recursion
      val got = spark.table("holt").collect()
        .map(r => r.getLong(1) -> r.getDouble(3)).sortBy(_._1).map(_._2)
      // local replay of the same exact dyadic recursion
      var (l, b) = (xs(0), xs(1) - xs(0))
      val want = xs.drop(1).map { v =>
        val l2 = 0.5 * v + 0.5 * (l + b); b = 0.5 * (l2 - l) + 0.5 * b; l = l2
        l + b
      }
      assert(got.toSeq === want, "streaming must equal in-order replay exactly")
      // and the final forecast equals the batch q_holt 6-lag expansion
      // (same init, series exactly 6 long -> truncation is exact)
      val coef = Seq(0.75, 0.4375, 0.171875,
        -0.00390625, -0.0078125, -0.34765625)
      val batch = coef.zipWithIndex.map { case (c, k) => c * xs(5 - k) }.sum
      assert(math.abs(got.last - batch) < 1e-12)
    } finally q.stop()
  }

  test("streaming Holt tieCol replays same-timestamp events in (ts, event_id) order") {
    // two events share (key, ts) with VALUES in the opposite order of
    // their ids: the legacy (ts, value) sort would replay 1.0 before
    // 9.0; tieCol = event_id must replay 9.0 first (the batch q_holt
    // window order), and the recursion is order-sensitive from x1 on
    val in = MemoryStream[(Long, Timestamp, Double, Long)]
    val t0 = ts("2024-01-01 00:00:00")
    val rows = Seq(
      (1L, t0, 4.0, 10L),
      (1L, ts("2024-01-01 00:01:00"), 9.0, 11L), // same ts, ids 11 < 12
      (1L, ts("2024-01-01 00:01:00"), 1.0, 12L), // but value 1.0 < 9.0
      (1L, ts("2024-01-01 00:02:00"), 6.0, 13L))
    val q = StreamOps.streamingHolt(
        in.toDF().toDF("k", "ts", "value", "event_id"),
        "k", "ts", "value", tieCol = Some("event_id"))
      .writeStream.format("memory").queryName("holt_tie")
      .outputMode("append").start()
    try {
      in.addData(rows); q.processAllAvailable()
      val got = spark.table("holt_tie").collect()
        .map(r => r.getDouble(2) -> r.getDouble(3)).toSet
      // id-order replay: x = 4, 9, 1, 6 — each (value, forecast) pair
      // is unique, so the SET fully pins the replay order (the legacy
      // value-order replay x = 4, 1, 9, 6 starts with (1.0, -2.0))
      val xs = Seq(4.0, 9.0, 1.0, 6.0)
      var (l, b) = (xs(0), xs(1) - xs(0))
      val want = xs.drop(1).map { v =>
        val l2 = 0.5 * v + 0.5 * (l + b); b = 0.5 * (l2 - l) + 0.5 * b; l = l2
        v -> (l + b)
      }.toSet
      assert(got === want,
        "forecasts must equal the (ts, event_id)-order exact replay")
    } finally q.stop()
  }

  test("streaming EWMA/CUSUM tieCol replays same-timestamp events in id order") {
    // r14 verdict item 5: the tie-order contract streamingHolt gained
    // in r13 now threads through the whole fold family. Same setup as
    // the Holt tie test — two events share (key, ts) with values in
    // the OPPOSITE order of their ids, so the legacy (ts, value) sort
    // and the id sort replay them differently, and both recursions are
    // order-sensitive.
    val in = MemoryStream[(Long, Timestamp, Double, Long)]
    val rows = Seq(
      (1L, ts("2024-01-01 00:00:00"), 4.0, 10L),
      (1L, ts("2024-01-01 00:01:00"), 9.0, 11L), // same ts, ids 11 < 12
      (1L, ts("2024-01-01 00:01:00"), 1.0, 12L), // but value 1.0 < 9.0
      (1L, ts("2024-01-01 00:02:00"), 6.0, 13L))
    val df = in.toDF().toDF("k", "ts", "value", "event_id")
    val ew = StreamOps.streamingEwma(df, "k", "ts", "value", alpha = 0.5,
      tieCol = Some("event_id"))
    // CUSUM whose alert STATISTIC discriminates the replay order:
    // mu0 = slack = 0 makes S⁺ a running sum reset on alert, so with
    // threshold 9 the id-order replay 4,9,1,6 fires at the 9.0 event
    // with S⁺ = 13, while the value-order replay 4,1,9,6 would
    // accumulate the 1.0 first and fire with S⁺ = 14
    val cu = StreamOps.streamingCusum(df, "k", "ts", "value",
      mu0 = 0.0, slack = 0.0, threshold = 9.0, tieCol = Some("event_id"))
    val q1 = ew.writeStream.format("memory").queryName("ewma_tie")
      .outputMode("append").start()
    val q2 = cu.writeStream.format("memory").queryName("cusum_tie")
      .outputMode("append").start()
    try {
      in.addData(rows); q1.processAllAvailable(); q2.processAllAvailable()
      val got = spark.table("ewma_tie").collect()
        .map(r => r.getDouble(2) -> r.getDouble(3)).toSet
      // id-order exact dyadic replay x = 4, 9, 1, 6: every smoothing
      // step is a dyadic average, exact in IEEE; the value-order
      // replay 4, 1, 9, 6 yields the disjoint set (1,2.5)(9,5.75)…
      val want = Set(4.0 -> 4.0, 9.0 -> 6.5, 1.0 -> 3.75, 6.0 -> 4.875)
      assert(got === want, "ewma must equal the (ts, event_id)-order replay")
      val alerts = spark.table("cusum_tie").collect()
        .map(r => (r.getString(2), r.getDouble(3)))
      assert(alerts.toSeq === Seq(("up", 13.0)),
        "cusum must fire at the id-ordered 9.0 event with S+ = 4 + 9")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming CDC apply maintains the keyed table across batches, replay-idempotent") {
    // the speed-layer twin of Sinks.merge: change events collapse to
    // last-writer-per-key per micro-batch and MERGE into the table
    val dir = tmpDir("cdc")
    val path = s"$dir/tbl"
    val in = MemoryStream[(Long, String, Double, String, Long)]
    val q = StreamOps.cdcApply(
      in.toDF().toDF("key", "tag", "bal", "op", "seq"),
      path, keys = Seq("key"), orderCols = Seq("seq"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // batch 1 bootstraps the table: key 1 changes twice (seq order
      // must win, not arrival order), key 2 inserts, key 9's
      // delete-of-absent no-ops
      in.addData(
        (1L, "a-stale", 1.0, "U", 2L), (1L, "a", 10.0, "U", 5L),
        (2L, "b", 20.0, "U", 1L), (9L, "x", 0.0, "D", 1L))
      q.processAllAvailable()
      def snap() = spark.read.parquet(path).collect()
        .map(r => r.getAs[Long]("key") ->
          ((r.getAs[String]("tag"), r.getAs[Double]("bal")))).toMap
      assert(snap() === Map(1L -> (("a", 10.0)), 2L -> (("b", 20.0))))
      assert(spark.read.parquet(path).columns.sorted.toSeq ===
        Seq("bal", "key", "tag"), "op/seq markers must not land in the table")
      // batch 2: update key 1, delete key 2, insert key 3
      in.addData(
        (1L, "a2", 11.0, "U", 6L), (2L, "b", 0.0, "D", 7L),
        (3L, "c", 30.0, "U", 1L))
      q.processAllAvailable()
      assert(snap() === Map(1L -> (("a2", 11.0)), 3L -> (("c", 30.0))))
      // replay idempotence: re-merging batch 2's collapsed change set
      // is a fixpoint (the foreachBatch-replay failure mode)
      import SparkSpec.spark.implicits._
      val replay = Seq(
        (1L, "a2", 11.0, "U", 6L), (2L, "b", 0.0, "D", 7L),
        (3L, "c", 30.0, "U", 1L)).toDF("key", "tag", "bal", "op", "seq")
      Sinks.merge(spark, path,
        replay.select(col("key"), col("tag"), col("bal"), col("op")),
        Seq("key"), deleteWhen = col("op") === "D")
      assert(snap() === Map(1L -> (("a2", 11.0)), 3L -> (("c", 30.0))))
    } finally q.stop()
  }

  test("streaming CDC apply heals a swap torn between the two renames, losing no row") {
    // a crash between swapIn's renames leaves the live path missing and
    // the table in <path>.compact.old: the next batch must merge into
    // the recovered table, not bootstrap a fresh one from itself
    val dir = tmpDir("cdc-torn")
    val path = s"$dir/t"
    val in = MemoryStream[(Long, String, String, Long)]
    val q = StreamOps.cdcApply(
      in.toDF().toDF("key", "tag", "op", "seq"),
      path, keys = Seq("key"), orderCols = Seq("seq"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData((1L, "a", "U", 1L), (2L, "b", "U", 1L))
      q.processAllAvailable()
      assert(new java.io.File(path).renameTo(new java.io.File(s"$path.compact.old")))
      in.addData((3L, "c", "U", 1L))
      q.processAllAvailable()
      in.addData((4L, "d", "U", 1L))
      q.processAllAvailable()
      val got = spark.read.parquet(path).collect()
        .map(r => r.getAs[Long]("key") -> r.getAs[String]("tag")).toMap
      assert(got === Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
      assert(!new java.io.File(s"$path.compact.old").exists())
    } finally q.stop()
  }

  test("drift monitor closes the loop: alarm refits + atomic swap, " +
      "serving survives, no refit on the hot path") {
    import graft.operators.IndexedSearch
    val dir = tmpDir("drift")
    val idx = s"$dir/index"; val corpus = s"$dir/corpus"
    val report = s"$dir/report"
    // 64-dim corpus of 4 tight clusters: one-hot at dim (i/10)%4 (BLOCK
    // layout, so the stride-10 k-means seeding lands exactly one seed
    // per cluster) plus an id-keyed epsilon at dim 60 so every cosine
    // is distinct — rankings are deterministic and
    // generation-independent (nprobe = nlist = 4 probes every cell, so
    // serving is exhaustive in both generations)
    def vec(i: Long, hotDim: Int): Array[Float] = {
      val v = Array.fill(64)(0.0f)
      v(hotDim) = 1.0f
      v(60) = (i + 1) * 0.001f
      v
    }
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.driftRefit(
      in.toDF().toDF("vec_id", "embedding"), idx, corpus, report,
      "vec_id", "embedding", psiThreshold = 0.2, nlist = 4)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      def gen() = IndexedSearch.currentGeneration(spark, idx)
      // batch 1: 40 in-distribution vectors → bootstrap fit
      in.addData((0L until 40L).map(i => (i, vec(i, ((i / 10) % 4).toInt))): _*)
      q.processAllAvailable()
      val gen1 = gen()
      assert(gen1.isDefined, "bootstrap batch fits the first generation")
      // pure one-hot query (no epsilon): cos = 1/|v_i|, so the SMALLEST
      // epsilons — the lowest cluster-0 ids — rank first, an order no
      // later batch can displace (later ids carry larger epsilons)
      val qv = Array.fill(64)(0.0f); qv(0) = 1.0f
      val queries = Seq((100L, qv)).toDF("vec_id", "embedding")
      def top5() = IndexedSearch
        .serveIvf(spark, idx, queries, "vec_id", "embedding", 5)
        .orderBy(col("rn")).collect().map(_.getAs[Long]("n_id")).toSeq
      val before = top5()
      assert(before === Seq(0L, 1L, 2L, 3L, 4L),
        "closest cluster-0 vectors in id-epsilon order")
      assert(gen() === gen1, "serving never refits (hot path is read-only)")
      // batch 2: same distribution → psi below threshold → no refit
      in.addData((40L until 80L).map(i => (i, vec(i, ((i / 10) % 4).toInt))): _*)
      q.processAllAvailable()
      assert(gen() === gen1, "in-distribution batch must not regenerate")
      // batch 3: shifted arrivals (mass at an unseen direction) → alarm
      in.addData((80L until 120L).map(i => (i, vec(i, 32))): _*)
      q.processAllAvailable()
      val gen2 = gen()
      assert(gen2.isDefined && gen2 != gen1,
        "drift alarm triggers a refit and the atomic pointer swap")
      // serving parity across the swap: the query's true neighbors are
      // unchanged, and the new generation serves them identically
      assert(top5() === before, "post-swap serving returns the same top-k")
      // an unattended refit grades itself: the new generation carries
      // its persisted fit_quality report (returned without a recompute)
      val qual = IndexedSearch.silhouette(spark, idx)
      assert(qual.columns.contains("cid") && qual.count() > 0,
        "auto-refit generation must carry a fit-quality report")
      // batch 4: a pure REPLAY of batch 3 — every id already ingested,
      // so n_new = 0; the audit row must still land (the trail has to
      // distinguish "batch never arrived" from "batch fully deduped")
      // and the generation must not move
      in.addData((80L until 120L).map(i => (i, vec(i, 32))): _*)
      q.processAllAvailable()
      assert(gen() === gen2, "an all-duplicate batch never refits")
      // audit trail: one row per batch INCLUDING the all-duplicate one
      val rep = spark.read.parquet(report).collect()
        .map(r => r.getAs[Long]("batch_id") ->
          ((r.getAs[Long]("n_new"), Option(r.getAs[java.lang.Double]("psi")),
            r.getAs[Boolean]("refit")))).toMap
      assert(rep.size === 4)
      val byBatch = rep.toSeq.sortBy(_._1).map(_._2)
      assert(byBatch(0)._3 && byBatch(0)._2.isEmpty,
        "bootstrap: refit=true, psi=null")
      assert(!byBatch(1)._3 && byBatch(1)._2.exists(_ < 0.2),
        s"in-distribution psi stays quiet: ${byBatch(1)._2}")
      assert(byBatch(2)._3 && byBatch(2)._2.exists(_ > 0.2),
        s"shifted psi alarms: ${byBatch(2)._2}")
      assert(byBatch(3) === ((0L, None, false)),
        "replayed batch: n_new=0, psi=null, refit=false — still audited")
      assert(byBatch.map(_._1) === Seq(40L, 40L, 40L, 0L))
    } finally q.stop()
  }

  test("both CDC sinks apply the same change batches to identical rows") {
    import graft.sources.VersionedTable
    val dir = tmpDir("cdc-both")
    val (plain, versioned) = (s"$dir/plain", s"$dir/versioned")
    val in = MemoryStream[(Long, String, Double, String, Long, Long)]
    val changes = in.toDF().toDF("key", "tag", "bal", "op", "ts", "seq")
    val order = Seq("ts", "seq")
    val qs = Seq(
      StreamOps.cdcApply(changes, plain, Seq("key"), order)
        .option("checkpointLocation", s"$dir/ckpt-plain").start(),
      StreamOps.cdcApplyVersioned(changes, versioned, Seq("key"), order)
        .option("checkpointLocation", s"$dir/ckpt-versioned").start())
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("tag"),
        r.getAs[Double]("bal"))).toSet
    def step(batch: (Long, String, Double, String, Long, Long)*)
            (expected: (Long, String, Double)*): Unit = {
      in.addData(batch)
      qs.foreach(_.processAllAvailable())
      assert(rows(spark.read.parquet(plain)) === expected.toSet)
      assert(rows(VersionedTable.read(spark, versioned, None)) === expected.toSet)
    }
    try {
      // bootstrap: key 1 repeats with (ts, seq) out of arrival order, so
      // (2, 5) wins; key 9 deletes a key that was never there
      step((1L, "a", 10.0, "U", 2L, 5L), (1L, "a-old", 1.0, "U", 1L, 9L),
        (1L, "a-tie", 2.0, "U", 2L, 3L), (2L, "b", 20.0, "U", 1L, 1L),
        (9L, "x", 0.0, "D", 1L, 1L))(
        (1L, "a", 10.0), (2L, "b", 20.0))
      // merge: key 2 deletes, key 1's later change arrives first, key 3
      // inserts, key 8 deletes a key that was never there
      step((2L, "b", 0.0, "D", 3L, 1L), (1L, "a2", 11.0, "U", 4L, 1L),
        (1L, "a-stale", 3.0, "U", 3L, 1L), (3L, "c", 30.0, "U", 1L, 1L),
        (8L, "y", 0.0, "D", 1L, 1L))(
        (1L, "a2", 11.0), (3L, "c", 30.0))
      // key 2 comes back after its delete; an older in-batch delete of
      // it loses to the re-insert
      step((2L, "b-again", 21.0, "U", 5L, 1L), (2L, "b", 0.0, "D", 4L, 1L))(
        (1L, "a2", 11.0), (2L, "b-again", 21.0), (3L, "c", 30.0))
    } finally qs.foreach(_.stop())
  }

  test("streaming CDC-apply onto a versioned table: each batch commits " +
      "a snapshot, old versions stay readable mid-stream") {
    import graft.sources.VersionedTable
    val dir = tmpDir("cdcv")
    val path = s"$dir/tbl"
    val in = MemoryStream[(Long, String, Double, String, Long)]
    val q = StreamOps.cdcApplyVersioned(
      in.toDF().toDF("key", "tag", "bal", "op", "seq"),
      path, keys = Seq("key"), orderCols = Seq("seq"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      def snap(asOf: Option[Long]) =
        VersionedTable.read(spark, path, asOf).collect()
          .map(r => r.getAs[Long]("key") ->
            ((r.getAs[String]("tag"), r.getAs[Double]("bal")))).toMap
      // batch 1 bootstraps v1 (delete-of-absent no-ops, seq order wins)
      in.addData(
        (1L, "a-stale", 1.0, "U", 2L), (1L, "a", 10.0, "U", 5L),
        (2L, "b", 20.0, "U", 1L), (9L, "x", 0.0, "D", 1L))
      q.processAllAvailable()
      assert(VersionedTable.currentVersion(path) === Some(1L))
      assert(snap(None) === Map(1L -> (("a", 10.0)), 2L -> (("b", 20.0))))
      // batch 2 commits v2; v1 remains readable (time travel mid-stream)
      in.addData(
        (1L, "a2", 11.0, "U", 6L), (2L, "b", 0.0, "D", 7L),
        (3L, "c", 30.0, "U", 1L))
      q.processAllAvailable()
      assert(VersionedTable.currentVersion(path) === Some(2L))
      assert(snap(Some(2L)) === Map(1L -> (("a2", 11.0)), 3L -> (("c", 30.0))))
      assert(snap(Some(1L)) === Map(1L -> (("a", 10.0)), 2L -> (("b", 20.0))),
        "the pre-batch snapshot survives the stream's merge")
      assert(VersionedTable.read(spark, path, None).columns.sorted.toSeq ===
        Seq("bal", "key", "tag"), "op/seq markers never land in the table")
      // replayed batch = value-identical NEW version (content fixpoint)
      import SparkSpec.spark.implicits._
      val replay = Seq(
        (1L, "a2", 11.0, "U"), (2L, "b", 0.0, "D"), (3L, "c", 30.0, "U"))
        .toDF("key", "tag", "bal", "op")
      VersionedTable.merge(spark, path, replay, Seq("key"),
        deleteWhen = col("op") === "D")
      assert(snap(None) === snap(Some(2L)))
    } finally q.stop()
  }

  test("self-tending versioned CDC stream: autoCompact + vacuumKeep " +
      "bound files and history across many batches, content intact") {
    import graft.sources.VersionedTable
    val dir = tmpDir("cdcmaint")
    val path = s"$dir/tbl"
    val in = MemoryStream[(Long, String, Double, String, Long)]
    val q = StreamOps.cdcApplyVersioned(
      in.toDF().toDF("key", "tag", "bal", "op", "seq"),
      path, keys = Seq("key"), orderCols = Seq("seq"),
      autoCompactFiles = 4, vacuumKeep = 3)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // 20 point batches: without maintenance this leaves ~20 files
      // and 20 manifests (the r17 "grows until an operator intervenes"
      // gap); the policy hook must keep both bounded as it runs
      for (b <- 1 to 20) {
        in.addData((b.toLong, s"t$b", b.toDouble, "U", b.toLong))
        q.processAllAvailable()
      }
      assert(VersionedTable.files(path).size <= 4,
        s"autoCompactFiles=4 must bound the file count, got " +
          s"${VersionedTable.files(path).size}")
      val vs = VersionedTable.versions(path)
      assert(vs.size <= 4,
        s"vacuumKeep=3 must bound retained versions, got $vs")
      // every RETAINED version still reads in full (history usable)
      for (v <- vs)
        assert(VersionedTable.read(spark, path, Some(v)).count() > 0)
      // and the live content is exactly the 20 upserts
      val got = VersionedTable.read(spark, path).collect()
        .map(r => r.getAs[Long]("key") -> r.getAs[String]("tag")).toMap
      assert(got === (1 to 20).map(b => b.toLong -> s"t$b").toMap)
      // compactions committed as real versions: 20 merges alone would
      // end at version 20, so a higher current version proves the
      // policy fired (the compact rows themselves may have been
      // vacuumed out of the retained history — that's retention
      // working, not the policy failing)
      assert(VersionedTable.currentVersion(path).get > 20L,
        "autoCompact must have committed at least one compaction version")
      val ops = VersionedTable.describeHistory(spark, path)
        .select("operation").collect().map(_.getString(0)).toSet
      assert(ops.subsetOf(Set("merge", "compact")) && ops.nonEmpty)
    } finally q.stop()
  }

  test("stream -> versioned table -> relay: the full CDC pipeline keeps " +
      "a downstream table content-equal at every relay point") {
    import graft.sources.VersionedTable
    val dir = tmpDir("cdcrelay")
    val src = s"$dir/src"; val dst = s"$dir/dst"; val ckpt = s"$dir/relay.json"
    val in = MemoryStream[(Long, String, Double, String, Long)]
    val q = StreamOps.cdcApplyVersioned(
      in.toDF().toDF("key", "tag", "bal", "op", "seq"),
      src, keys = Seq("key"), orderCols = Seq("seq"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      def content(p: String) = VersionedTable.read(spark, p).collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[String]("tag"),
          r.getAs[Double]("bal"))).toSet
      in.addData((1L, "a", 10.0, "U", 1L), (2L, "b", 20.0, "U", 1L))
      q.processAllAvailable()
      VersionedTable.relayInto(spark, src, dst, Seq("key"), ckpt)
      assert(content(dst) === content(src), "bootstrap relay")
      in.addData((1L, "a2", 11.0, "U", 2L), (2L, "b", 0.0, "D", 2L),
        (3L, "c", 30.0, "U", 1L))
      q.processAllAvailable()
      VersionedTable.relayInto(spark, src, dst, Seq("key"), ckpt)
      assert(content(dst) === content(src), "incremental relay after a batch")
      assert(content(dst) === Set((1L, "a2", 11.0), (3L, "c", 30.0)))
      // the downstream table kept its OWN history across the hops
      assert(VersionedTable.versions(dst) === Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming CUSUM fires on a mean shift and stays quiet otherwise") {
    import java.sql.Timestamp
    val in = MemoryStream[(Long, Timestamp, Double)]
    val df = in.toDF().toDF("user_id", "ts", "value")
    // mu0=10, slack=1, threshold=5: values at 10 accumulate nothing;
    // a shift to 13 adds +2 per event -> alert on the 3rd shifted event
    val alerts = graft.streaming.StreamOps.streamingCusum(
      df, "user_id", "ts", "value", mu0 = 10.0, slack = 1.0, threshold = 5.0)
    val q = alerts.writeStream.format("memory").queryName("cusum")
      .outputMode("append").start()
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    try {
      // batch 1: in-control for key 1, first two shifted rows for key 2
      in.addData((1L, t(1), 10.0), (1L, t(2), 10.2), (2L, t(1), 13.0), (2L, t(2), 13.0))
      q.processAllAvailable()
      assert(spark.table("cusum").count() === 0) // S+ for key 2 is 4.0 < 5
      // batch 2: the third shifted event crosses (4 + 2 = 6 > 5);
      // state carried ACROSS the batch boundary is what fires it
      in.addData((2L, t(3), 13.0), (1L, t(3), 9.9))
      q.processAllAvailable()
      val rows = spark.table("cusum").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      assert(rows.length === 1)
      val (key, _, dir, stat) = rows.head
      assert(key === 2L && dir === "up" && math.abs(stat - 6.0) < 1e-9)
      // after the reset, one more shifted event must NOT re-fire yet
      in.addData((2L, t(4), 13.0))
      q.processAllAvailable()
      assert(spark.table("cusum").count() === 1)
    } finally q.stop()
  }

  test("streaming quantile sample: incremental state equals the batch sketch") {
    // the bottom-k-by-hash value sample is a set function, so the
    // streamed sketch must equal the batch one whatever the batch
    // boundaries — same contract as the KMV test, with payloads
    val in = MemoryStream[(Long, Double)]
    val sk = in.toDF().toDF("h", "v")
      .agg(graft.functions.QuantileSample
        .quantileSample(col("h"), col("v"), 3).as("smp"))
    val q = sk.writeStream.format("memory").queryName("qsmp")
      .outputMode("complete").start()
    try {
      in.addData((9L, 90.0), (3L, 30.0), (5L, 50.0))
      q.processAllAvailable()
      in.addData((1L, 10.0), (7L, 70.0), (11L, 110.0))
      q.processAllAvailable()
      val out = spark.table("qsmp").collect().head.getSeq[Double](0)
      // hashes 1, 3, 5 are the 3 smallest → values 10, 30, 50 ascending
      assert(out === Seq(10.0, 30.0, 50.0))
    } finally q.stop()
  }

  test("streaming CMS sketch: incremental state equals the batch sketch") {
    // element-wise-add merge means the counter matrix is identical
    // however the rows are split across micro-batches
    val in = MemoryStream[Long]
    val sk = in.toDF().toDF("h")
      .agg(graft.functions.CmsSketch.cms(col("h"), 2, 16).as("sk"))
    val q = sk.writeStream.format("memory").queryName("cms")
      .outputMode("complete").start()
    try {
      val rows = (1 to 40).map(i => (i * 2654435761L) % (1L << 60))
      in.addData(rows.take(15))
      q.processAllAvailable()
      in.addData(rows.drop(15))
      q.processAllAvailable()
      val streamed = spark.table("cms").collect().head.getSeq[Long](0)
      val batch = {
        val s = spark; import s.implicits._
        rows.toDF("h")
          .agg(graft.functions.CmsSketch.cms(col("h"), 2, 16).as("sk"))
          .collect().head.getSeq[Long](0)
      }
      assert(streamed === batch)
    } finally q.stop()
  }

  test("topKPerWindow ranks within each window deterministically") {
    val counts = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), "a", 5L),
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), "b", 5L),
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), "c", 1L))
      .toDF("win_start", "win_end", "token", "cnt")
    val top2 = StreamingTopK.topKPerWindow(counts, 2)
      .select("token").as[String].collect().toSeq
    assert(top2 === Seq("a", "b")) // tie broken by token asc
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap and timeout") {
    val in = MemoryStream[(Long, Timestamp)]
    val events = in.toDF().toDF("userId", "ts")
      .withWatermark("ts", "0 seconds")
      .as[StreamSessionize.Event]
    val sessions = StreamSessionize.sessionize(events, gapMs = 30 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two events in one session, then a gap > 30min => new session
      in.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      // advance the watermark far enough to time out the open session
      in.addData((2L, ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      in.addData((2L, ts("2024-01-01 23:00:00")))
      q.processAllAvailable()
      val out = spark.table("sess").as[StreamSessionize.Session].collect()
        .filter(_.userId == 1L).sortBy(_.startMs)
      assert(out.length === 2)
      assert(out(0).nEvents === 2)
      assert(out(0).startMs === ts("2024-01-01 00:00:00").getTime)
      assert(out(0).endMs === ts("2024-01-01 00:10:00").getTime)
      assert(out(1).nEvents === 1)
    } finally q.stop()
  }

  test("StoreSink: streaming upserts by key; batch publish retires the window") {
    val dir = tmpDir("streamstore")
    val store = new ParquetResultStore(spark, s"$dir/results", "k", "win_start")
    val in = MemoryStream[(Timestamp, String)]
    val counts = StreamingTopK.windowedCounts(
      in.toDF().toDF("ts", "token"), "ts", "token", "1 hour", "10 minutes")
      .withColumn("k", concat_ws("|", col("win_start").cast("long"), col("token")))
    in.addData(
      (ts("2024-01-01 00:05:00"), "spark"),
      (ts("2024-01-01 00:06:00"), "spark"),
      (ts("2024-01-01 00:07:00"), "storm"))
    val q1 = StoreSink.start(counts, store, s"$dir/ckpt")
    q1.awaitTermination()
    val r1 = store.read().collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Long]("cnt"))).toMap
    assert(r1.values.toSeq.sorted === Seq(1L, 2L))

    // update-mode batch re-emits only changed keys: spark re-upserted
    // to 3, the untouched storm row must survive
    in.addData((ts("2024-01-01 00:08:00"), "spark"))
    val q2 = StoreSink.start(counts, store, s"$dir/ckpt")
    q2.awaitTermination()
    val r2 = store.read().collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Long]("cnt"))).toMap
    assert(r2.size === 2)
    assert(r2.exists { case (k, v) => k.endsWith("|spark") && v === 3L })
    assert(r2.exists { case (k, v) => k.endsWith("|storm") && v === 1L })

    // batch layer: authoritative recompute replaces the whole window
    val authoritative = Seq((ts("2024-01-01 00:00:00"), "spark", 4L))
      .toDF("win_start", "token", "cnt")
      .withColumn("k", concat_ws("|", col("win_start").cast("long"), col("token")))
    StoreSink.publishWindow(store, authoritative,
      java.time.Instant.parse("2024-01-01T00:00:00Z"),
      java.time.Instant.parse("2024-01-01T01:00:00Z"))
    val r3 = store.read().collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Long]("cnt"))).toMap
    assert(r3.size === 1) // storm retired by the range delete
    assert(r3.values.toSeq === Seq(4L))
  }

  test("a StoreSink micro-batch runs its stateful stage once") {
    // Every stage of a job on the batch frame lists the aggregate's
    // StateStoreRDD among its RDDs, including the stages that read the
    // persisted batch. A stage RAN the aggregate when its tasks opened a
    // state store, which the operator reports in this metric.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
    val stateMetric = "number of state store instances"
    val statefulStages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ranState = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        for (props <- Option(e.properties);
             batch <- Option(props.getProperty("streaming.sql.batchId"))
             if e.stageInfo.rddInfos.exists(_.name == "StateStoreRDD"))
          statefulStages.put(e.stageInfo.stageId, batch)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.accumulables.exists(_.name.contains(stateMetric)))
          ranState.add(e.stageId)
    }
    val dir = tmpDir("storesink_once")
    val store = new ParquetResultStore(spark, s"$dir/results", "k", "win_start")
    val in = MemoryStream[(Timestamp, String)]
    val counts = StreamingTopK.windowedCounts(
      in.toDF().toDF("ts", "token"), "ts", "token", "1 hour", "10 minutes")
      .withColumn("k", concat_ws("|", col("win_start").cast("long"), col("token")))
    listening(listener) {
      // the first batch creates the store, the second upserts into it
      in.addData((ts("2024-01-01 00:05:00"), "spark"), (ts("2024-01-01 00:07:00"), "storm"))
      StoreSink.start(counts, store, s"$dir/ckpt").awaitTermination()
      in.addData((ts("2024-01-01 00:08:00"), "spark"), (ts("2024-01-01 00:09:00"), "flink"))
      StoreSink.start(counts, store, s"$dir/ckpt").awaitTermination()
    }
    val runs = statefulStages.asScala.toSeq.collect {
      case (stage, batch) if ranState.contains(stage) => batch
    }.groupBy(identity).view.mapValues(_.size).toMap
    assert(runs.size >= 2, s"stateful stage runs by batch: $runs")
    assert(runs.values.forall(_ == 1), s"stateful stage runs by batch: $runs")
    val stored = store.read().collect()
      .map(r => r.getAs[String]("k").split('|')(1) -> r.getAs[Long]("cnt")).toMap
    assert(stored === Map("spark" -> 2L, "storm" -> 1L, "flink" -> 1L))
  }

  test("lambda handoff: batch recompute retires the speed layer for its window, idempotently") {
    // The reference's raison d'être end-to-end (App.java:104-127): the
    // speed layer serves provisional per-window counts; the batch layer
    // recomputes a closed window authoritatively and REPLACES the speed
    // rows for exactly that window — here wired through the real
    // pipeline: raw text -> tokenize -> windowedCounts -> StoreSink
    // (speed), same operators in batch mode -> publishWindow (batch).
    val dir = tmpDir("lambda")
    val store = new ParquetResultStore(spark, s"$dir/results", "k", "win_start")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("k", concat_ws("|", col("win_start").cast("long"), col("token")))

    // SPEED: the stream misses one late hour-0 event (arrives after the
    // provisional results are already serving)
    val in = MemoryStream[(Timestamp, String)]
    val speedCounts = keyed(StreamingTopK.windowedCounts(
      StreamingTopK.tokenize(in.toDF().toDF("ts", "text"), "ts", "text"),
      "ts", "token", "1 hour", "10 minutes"))
    in.addData(
      (ts("2024-01-01 00:05:00"), "spark streams"),
      (ts("2024-01-01 00:25:00"), "spark wins"),
      (ts("2024-01-01 00:45:00"), "storm fades"),
      (ts("2024-01-01 01:10:00"), "spark again"))
    StoreSink.start(speedCounts, store, s"$dir/ckpt").awaitTermination()
    def snapshot(): Map[String, Long] = store.read().collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("cnt"))).toMap
    val speed = snapshot()
    assert(speed.count(_._1.endsWith("|spark")) === 2) // both windows serving
    assert(speed.exists { case (k, v) => k.endsWith("|storm") && v === 1L })

    // BATCH: authoritative hour-0 recompute over the COMPLETE input —
    // including the late event the stream never counted — through the
    // very same tokenize + windowedCounts operators, batch-executed
    // (the watermark is a no-op on a batch frame)
    val complete = Seq(
      (ts("2024-01-01 00:05:00"), "spark streams"),
      (ts("2024-01-01 00:25:00"), "spark wins"),
      (ts("2024-01-01 00:45:00"), "storm fades"),
      (ts("2024-01-01 00:50:00"), "spark late"),
      (ts("2024-01-01 01:10:00"), "spark again")).toDF("ts", "text")
    val hour0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val hour1 = java.time.Instant.parse("2024-01-01T01:00:00Z")
    val batchHour0 = keyed(StreamingTopK.windowedCounts(
      StreamingTopK.tokenize(complete, "ts", "text"),
      "ts", "token", "1 hour", "10 minutes"))
      .filter(col("win_start") === lit(java.sql.Timestamp.from(hour0)))
    val expectHour0 = batchHour0.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("cnt"))).toMap

    StoreSink.publishWindow(store, batchHour0, hour0, hour1)
    val after = snapshot()
    // hour 0 now equals the batch result EXACTLY: the late 'spark' and
    // 'late' tokens are in, the provisional spark count is gone
    val (h0, h1) = after.partition(_._1.startsWith(
      hour0.getEpochSecond.toString))
    assert(h0 === expectHour0)
    assert(expectHour0(s"${hour0.getEpochSecond}|spark") === 3L)
    // hour 1 (still open, speed-owned) is untouched by the handoff
    assert(h1 === speed.filter(_._1.startsWith(hour1.getEpochSecond.toString)))

    // replayed batch publish (crash-retry) is idempotent
    StoreSink.publishWindow(store, batchHour0, hour0, hour1)
    assert(snapshot() === after)
    // and replaying the DRAINED speed stream from its checkpoint
    // resurrects nothing — the retired provisional rows stay retired
    StoreSink.start(speedCounts, store, s"$dir/ckpt").awaitTermination()
    assert(snapshot() === after)
  }

  test("FileStream discovers files in the partitioned hour layout") {
    val dir = tmpDir("filestream")
    val events = table("events")
    graft.sources.Sinks.partitionedByHour(events, "ts", dir)
    val schema = org.apache.spark.sql.types.StructType(
      events.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("year", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("month", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("hour", org.apache.spark.sql.types.IntegerType)))
    val stream = FileStream.parquet(spark, dir, schema)
    assert(stream.isStreaming)
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("fs").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("fs").head().getLong(0) === events.count())
  }

  test("FileStream.avro streams the reference's input format incrementally") {
    val dir = tmpDir("avrostream")
    val orders = table("orders")
    graft.sources.Sinks.avro(orders, s"$dir/in")
    val stream = FileStream.avro(spark, s"$dir/in", orders.schema,
      maxFilesPerTrigger = 2)
    assert(stream.isStreaming)
    val q = stream.groupBy().agg(count(lit(1)), sum(col("o_orderkey")))
      .writeStream.format("memory").queryName("avro_fs")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val row = spark.table("avro_fs").head()
    assert(row.getLong(0) === orders.count())
    assert(row.getLong(1) ===
      orders.agg(sum(col("o_orderkey"))).head().getLong(0))
  }

  test("streaming vector ingest PQ-encodes against broadcast codebooks") {
    // the ANN ingest path at 100 TB: codebooks are fit offline (batch),
    // broadcast into the stream, and arriving vectors leave as
    // (id, m, code) bytes — the encode is stream-static, stateless
    // except the tiny per-(id, m) argmax aggregation
    val dir = tmpDir("pqstream")
    val emb = table("embeddings")
    emb.write.mode("overwrite").parquet(s"$dir/in")
    // fit offline, PERSIST the artifact, and let the streaming job load
    // it — the fit-once/serve-many contract: the stream encodes against
    // the saved quantizer, not a refit
    graft.operators.AnnPq.saveCodebooks(
      graft.operators.AnnPq.fitCodebooks(emb, "vec_id", "embedding", 8, 8, 16),
      s"$dir/codebooks")
    val cb = graft.operators.AnnPq.loadCodebooks(spark, s"$dir/codebooks")
    val stream = spark.readStream.schema(emb.schema).parquet(s"$dir/in")
    val codes = graft.operators.AnnPq.encode(stream, cb, "vec_id", "embedding", 8, 8)
    val q = codes.writeStream.format("memory").queryName("pq_codes")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("pq_codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = graft.operators.AnnPq.encode(emb, cb, "vec_id", "embedding", 8, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.size === emb.count() * 8)
  }

  test("streaming-maintained summary serves batch queries via SummaryRewrite") {
    // the lambda loop closed end-to-end: the SPEED LAYER maintains a
    // rollup (complete-mode agg, overwritten per batch — textbook
    // streaming MV maintenance), and the OPTIMIZER then routes batch
    // queries over the fact table onto that rollup via SummaryRewrite —
    // the query text never changes, and the fact is never re-scanned.
    val dir = tmpDir("mvstream")
    val base = table("events")
    base.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(base.schema).parquet(s"$dir/in")
      .groupBy(col("event_type"))
      .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("cnt"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/summary")
      }
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.awaitTermination()

    // SummaryRewrite comes with the session's GraftExtensions
    try {
      val fact = spark.read.parquet(s"$dir/in")
      graft.plans.SummaryRewrite.register(fact,
        spark.read.parquet(s"$dir/summary"), dims = Seq("event_type"),
        sums = Map("value" -> "sum_value"), cnt = Some("cnt"))
      val query = fact.groupBy(col("event_type"))
        .agg(sum(col("value")).as("v"), count(lit(1)).as("n"))
      val redirected = query.queryExecution.optimizedPlan.collectLeaves().exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains("summary"))
            case _ => false
          }
        case _ => false
      }
      assert(redirected, query.queryExecution.optimizedPlan.toString)
      val got = query.collect().map(r =>
        (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
      val want = base.groupBy(col("event_type"))
        .agg(sum(col("value")).as("v"), count(lit(1)).as("n"))
        .collect().map(r =>
          (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
      assert(got === want)
    } finally graft.plans.SummaryRewrite.clear()
  }

  test("streaming-maintained metric grid serves the calibration-family head via SummaryRewrite") {
    // r14 verdict item 7: the MV substitution was only proven on the
    // q1_agg rollup shape; the 100 TB payoff is the recurring
    // DOMAIN-GRID head of the metric family — every calibration /
    // Brier / KS / Wasserstein query starts from the (arm, value)
    // events histogram (armCumGrid's `h` node). The speed layer
    // maintains that histogram; the optimizer must then route BOTH the
    // histogram query itself AND a derived bin rollup computed on top
    // of it onto the maintained grid, fact never re-scanned.
    val dir = tmpDir("mvgrid")
    val base = table("events")
    base.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(base.schema).parquet(s"$dir/in")
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val mq = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/grid")
      }
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt").start()
    mq.awaitTermination()

    // SummaryRewrite comes with the session's GraftExtensions
    try {
      val fact = spark.read.parquet(s"$dir/in")
      graft.plans.SummaryRewrite.register(fact,
        spark.read.parquet(s"$dir/grid"),
        dims = Seq("event_type", "value"), cnt = Some("cnt"))
      def scans(df: org.apache.spark.sql.DataFrame, frag: String) =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains(frag))
              case _ => false
            }
          case _ => false
        }
      // the grid-shaped head itself
      val hist = fact.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
      assert(scans(hist, "grid") && !scans(hist, "/in"),
        hist.queryExecution.optimizedPlan.toString)
      // a calibration-style 10-bin rollup DERIVED on top of the head:
      // the inner aggregate rewrites onto the grid, the outer bins it —
      // bin-sized work end to end, exactly the recurring-dashboard shape
      val binned = hist
        .select(col("event_type"),
          least(floor(col("value") / lit(50.0)), lit(9.0)).cast("int").as("bin"),
          col("c"))
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(col("c")).as("n_b"))
      assert(scans(binned, "grid") && !scans(binned, "/in"),
        binned.queryExecution.optimizedPlan.toString)
      val gotHist = hist.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val gotBinned = binned.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      graft.plans.SummaryRewrite.clear()
      val wantHist = fact.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(gotHist === wantHist)
      val wantBinned = fact.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
        .select(col("event_type"),
          least(floor(col("value") / lit(50.0)), lit(9.0)).cast("int").as("bin"),
          col("c"))
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(col("c")).as("n_b")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(gotBinned === wantBinned)
      assert(gotBinned.nonEmpty && gotHist.size > gotBinned.size,
        "grid must be finer than its bin rollup")
    } finally graft.plans.SummaryRewrite.clear()
  }

  test("observe surfaces per-batch gate metrics in streaming progress") {
    val in = MemoryStream[String]
    val (instrumented, _) = graft.operators.PipelineMetrics.gatePanel(
      in.toDF().toDF("text"), "gates", Map("minlen" -> (length(col("text")) >= 3)))
    val q = instrumented.writeStream.format("noop").start()
    try {
      in.addData("ok text", "x", "yz", "long enough")
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("gates"))).last
      assert(m.getAs[Long]("n_rows") === 4L)
      assert(m.getAs[Long]("fail_minlen") === 2L)
    } finally q.stop()
  }

  test("mmrServe: streamed query vectors re-rank identically to batch mmrTopK") {
    val dir = java.nio.file.Files.createTempDirectory("mmr").toFile
    val out = new java.io.File(dir, "served").getAbsolutePath
    val corpus = table("embeddings")
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.mmrServe(in.toDF().toDF("vec_id", "embedding"),
      corpus, "vec_id", "embedding", k = 10, nCand = 20, out).start()
    try {
      // two micro-batches, then a REPLAY of batch 1 (idempotency)
      in.addData(queries.take(2).toSeq)
      q.processAllAvailable()
      in.addData(queries.drop(2).toSeq)
      q.processAllAvailable()
      in.addData(queries.take(2).toSeq)
      q.processAllAvailable()
      val streamed = SparkSpec.spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batch = graft.operators.Ann.mmrTopK(corpus,
          corpus.filter(col("vec_id") < 5), "vec_id", "embedding", 10, 20)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // per-query independence ⇒ micro-batch union == one batch run;
      // the replay guard means the re-added queries appended NOTHING
      assert(streamed === batch)
      assert(streamed.size === 50)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("chunking is stateless: the batch projection streams unchanged") {
    // Chunking.slidingChunks is a pure projection + explode — the SAME
    // call compiles to a streaming plan with no state store, and the
    // union of micro-batch outputs equals the batch run row-for-row.
    val docs = table("documents").filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Chunking
      .slidingChunks(in.toDF().toDF("doc_id", "text"), "doc_id", "text", 64, 48)
      .writeStream.format("memory").queryName("chunks").outputMode("append")
      .start()
    try {
      in.addData(rows.take(20).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(20).toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))
      val streamed = spark.table("chunks").collect().map(key).toSet
      val batch = graft.operators.Chunking
        .slidingChunks(docs, "doc_id", "text", 64, 48).collect().map(key).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("nearDupIngest appends only novel docs across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("ndi").toFile
    val corpus = new java.io.File(dir, "corpus").getAbsolutePath
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupIngest(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", corpus).start()
    try {
      val a = "alpha beta gamma delta epsilon zeta"
      val d = "one two three four five six"
      in.addData((1L, a), (2L, "totally different words in this doc"))
      q.processAllAvailable()
      // batch 2: 3 duplicates batch-1 doc 1; 4 is novel; 5 duplicates 4
      in.addData((3L, a), (4L, d), (5L, d))
      q.processAllAvailable()
      val ids = SparkSpec.spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 4L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("nearDupIngest leaves the caller's cached frames cached") {
    val dir = tmpDir("ndi_cache")
    val pinned = spark.range(10).toDF("x").cache()
    pinned.count()
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupIngest(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", s"$dir/corpus").start()
    try {
      in.addData((1L, "alpha beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() === 1)
      assert(pinned.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally {
      q.stop()
      pinned.unpersist()
    }
  }

  test("streaming McNemar fold equals batch; chi2 matches the closed form, NULL when concordant") {
    // (ts, id, value, label): window 0 mixes discordant outcomes,
    // window 1 is fully concordant (every row: A correct AND B's
    // verdict equal to A's) — impossible to hand-pick against the md5
    // coin, so window 1 instead uses values that make A's verdict
    // follow the label exactly and asserts via the recomputed counts
    val rows = (0L until 12L).map { i =>
      (ts(f"2024-01-01 00:${5 + (i % 50)}%02d:00"), i, if (i % 3 == 0) 80.0 else 10.0,
        i % 2 == 0)
    } ++ (12L until 20L).map { i =>
      (ts(f"2024-01-01 01:${5 + (i % 50)}%02d:00"), i, 42.0, true)
    }
    val batchDf = rows.toDF("ts", "id", "value", "y")
    val in = MemoryStream[(Timestamp, Long, Double, Boolean)]
    val streamDf = in.toDF().toDF("ts", "id", "value", "y")
    val out = StreamOps.streamingMcnemar(streamDf, "ts", "id", "value", "y",
      p50 = 50.0, windowLen = "1 hour")
    val q = out.writeStream.format("memory").queryName("mcn_stream")
      .outputMode("complete").start()
    try {
      in.addData(rows.take(7): _*); q.processAllAvailable()
      in.addData(rows.drop(7): _*); q.processAllAvailable() // cross-batch window fill
      def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getTimestamp(0).toString ->
          (r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      val streamed = asMap(spark.table("mcn_stream"))
      val batch = asMap(StreamOps.streamingMcnemar(batchDf, "ts", "id",
        "value", "y", p50 = 50.0, windowLen = "1 hour"))
      assert(streamed === batch, "stateless windowed agg must be batch ≡ stream")
      // closed form: chi2 = (|n10 − n01| − 1)² / (n10 + n01)
      streamed.values.foreach { case (n10, n01, chi2) =>
        if (n10 + n01 == 0) assert(chi2.isEmpty, "concordant window must be NULL")
        else {
          val want = math.pow(math.abs(n10.toDouble - n01.toDouble) - 1.0, 2) /
            (n10.toDouble + n01.toDouble)
          assert(math.abs(chi2.get - want) < 1e-9, s"($n10, $n01) -> $chi2")
        }
      }
      // the discordant window carries signal: A is right on the
      // (value ≥ 80 ↔ even-id) rows by construction, the coin is not
      val (n10w0, n01w0, _) = streamed("2024-01-01 00:00:00.0")
      assert(n10w0 + n01w0 > 0, "window 0 must have discordant pairs")
    } finally q.stop()
  }
}
