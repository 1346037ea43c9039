package graft.streaming

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Additional speed-layer operators: stream-stream join and streaming
  * dedup — the incremental counterparts of the batch join and
  * Dedup.exact paths.
  */
object StreamOps {

  /** Streaming last-touch attribution — the speed-layer counterpart of
    * `operators.Attribution.lastTouch`: per-user state carries the
    * latest touch (micros, channel); each conversion emits its
    * attributed channel immediately, `(none)` if the carried touch is
    * outside the lookback. State is ONE tuple per user regardless of
    * history length. Timestamps compare at MICROsecond precision, so a
    * boundary-straddling touch attributes identically to the batch
    * operator (second-truncated comparisons would not). Within a batch
    * group, rows sort by (ts, kind, event_id) — the batch operator's
    * exact tie order; in-order delivery ACROSS batches is the caller's
    * contract, as with [[streamingEwma]]. Scale caveat: that in-batch
    * sort materializes ONE USER's micro-batch rows in task memory
    * (`rows.toSeq.sortBy`) — fine under the bounded-events-per-user-
    * per-batch assumption every keyed-state operator here makes, but a
    * single pathologically hot user in one batch buffers on one task;
    * cap per-user batch volume upstream if that can occur. */
  def streamingLastTouch(events: DataFrame, touchTypes: Seq[String],
                         convType: String, lookbackDays: Int): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val lookbackUs = lookbackDays.toLong * 86400L * 1000000L
    val touchSet = touchTypes.toSet
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, String)]) => {
          var lastTouch = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
          rows.toSeq
            .sortBy { case (_, us, eid, ty) =>
              (us, if (touchSet(ty)) 0 else 1, eid) }
            .foreach { case (_, us, eid, ty) =>
              if (touchSet(ty)) lastTouch = Some((us, ty))
              else if (ty == convType) {
                val ch = lastTouch.collect {
                  case (tus, c) if tus > us - lookbackUs => c
                }.getOrElse("(none)")
                out += ((user, eid, ch))
              }
            }
          lastTouch.foreach(state.update)
          out.iterator
        })
      .toDF("user_id", "conv_id", "channel")
  }

  /** Event-time-bounded stream-stream inner join: left rows match right
    * rows with the same key whose timestamp lies in [leftTs - before,
    * leftTs + after]. Both sides carry watermarks and the join condition
    * bounds the time skew, so each side's buffered state is evictable —
    * the two conditions Spark requires to avoid unbounded state growth.
    * Column names must be disjoint apart from the key. */
  def timeBoundedJoin(left: DataFrame, right: DataFrame, keyCol: String,
                      leftTs: String, rightTs: String,
                      before: String = "interval 10 minutes",
                      after: String = "interval 10 minutes",
                      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) - expr(before) &&
        r(rightTs) <= l(leftTs) + expr(after))
      .drop(r(keyCol))
  }

  /** Streaming exact dedup on a key expression with watermark-bounded
    * state: a key is remembered only until the watermark passes its
    * event time (`dropDuplicatesWithinWatermark`), so state stays
    * bounded while duplicates within the lateness horizon — the only
    * ones a correct pipeline can see — are removed. */
  def dedupWithinWatermark(rows: DataFrame, tsCol: String, keyCols: Seq[String],
                           watermark: String = "10 minutes"): DataFrame =
    rows.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup ingestion via foreachBatch + the incremental
    * MinHash path: each micro-batch is LSH-checked against the
    * already-accepted corpus AND itself (Dedup.incrementalNearDups),
    * and only novel docs are appended to `corpusPath`. The corpus
    * grows parquet-append-only — at scale that directory is the
    * materialized signature store the scaladoc on incrementalNearDups
    * describes, and each batch's work is O(batch × matching buckets),
    * never O(corpus²). Returns the DataStreamWriter; caller starts it.
    *
    * Exactly-once note: foreachBatch can replay a batch after a
    * failure, so the append must be idempotent — the id anti-join
    * against the corpus drops any doc a half-completed earlier attempt
    * already wrote before the near-dup check runs.
    *
    * The shingle cache lives only as long as the batch's check
    * (`withIncrementalNearDups`); tables the caller cached stay cached. */
  def nearDupIngest(incoming: DataFrame, idCol: String, textCol: String,
                    corpusPath: String, theta: Double = 0.8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    incoming.writeStream.foreachBatch(MicroBatch.persisted { (batch, _) =>
      val spark = batch.sparkSession
      val existing: DataFrame =
        try spark.read.parquet(corpusPath)
        catch { case _: org.apache.spark.sql.AnalysisException =>
          spark.emptyDataFrame.select(lit(0L).as(idCol), lit("").as(textCol))
            .filter(lit(false)) }
      // replay guard: drop docs whose id is already accepted
      val fresh = batch.join(existing.select(col(idCol)), Seq(idCol), "left_anti")
      graft.operators.Dedup.withIncrementalNearDups(existing, fresh, idCol, textCol,
          theta) { dupPairs =>
        fresh.join(dupPairs.select(col("j").as(idCol)).distinct(), Seq(idCol), "left_anti")
          .select(col(idCol), col(textCol))
          .write.mode("append").parquet(corpusPath)
      }
    })
  }

  /** One micro-batch of change events as both CDC sinks apply it:
    * `last` = each key's last writer (max_by over `orderCols`), and
    * `bootstrap` = last's non-delete rows without the order and op
    * columns, the payload a missing table initializes from. */
  private def changeSet(batch: DataFrame, keys: Seq[String],
                        orderCols: Seq[String], opCol: String,
                        deleteOp: String): (DataFrame, DataFrame) = {
    val nonKey = batch.columns.filterNot(keys.contains).toSeq
    val last = batch.groupBy(keys.map(col): _*)
      .agg(max_by(struct(nonKey.map(col): _*),
        struct(orderCols.map(col): _*)).as("_l"))
      .select(keys.map(col) ++ nonKey.map(c => col(s"_l.$c").as(c)): _*)
    val payload = batch.columns.toSeq
      .filterNot(orderCols.contains).filterNot(_ == opCol)
    (last, last.filter(col(opCol) =!= deleteOp).select(payload.map(col): _*))
  }

  /** Streaming CDC apply — the SPEED-LAYER twin of `Sinks.merge` (the
    * batch/speed symmetry every family here keeps): each micro-batch
    * of change events collapses to its last writer per key (max_by
    * over `orderCols`, the q_scd_apply shape — ANSI MERGE rejects
    * double matches, so the collapse is what makes a raw change
    * stream mergeable at all) and MERGEs into the keyed parquet table
    * via the full-outer join + atomic snapshot swap. Rows whose
    * `opCol` equals `deleteOp` delete; everything else upserts.
    * `orderCols` and `opCol` never land in the table (Sinks.merge
    * writes exactly the target's schema).
    *
    * Bootstrap: a missing table initializes from the first batch's
    * non-delete payload — the change stream IS the initial load, the
    * standard CDC-snapshot-then-tail pattern.
    *
    * Exactly-once note: foreachBatch can replay a batch after a
    * failure. Replay is safe by construction here — merging the SAME
    * collapsed change set twice is a fixpoint (SourcesSpec pins the
    * idempotent-replay property), and a swap torn mid-crash is healed
    * by recoverCompact at the start of the next batch, before the
    * bootstrap-or-merge choice. Cross-batch ordering stays
    * the caller's contract (the fold-family rule): a change arriving
    * in a LATER batch wins regardless of orderCols, so deliver
    * key-partitioned in order for last-writer semantics across
    * batches. */
  def cdcApply(changes: DataFrame, tablePath: String, keys: Seq[String],
               orderCols: Seq[String], opCol: String = "op",
               deleteOp: String = "D")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    changes.writeStream.foreachBatch(MicroBatch.persisted { (batch, _) =>
      val spark = batch.sparkSession
      val (last, bootstrap) =
        changeSet(batch, keys, orderCols, opCol, deleteOp)
      // heal a torn swap first: with the live path missing, the table
      // sits in .compact.old and a bootstrap would shadow every row of it
      graft.sources.Sinks.recoverCompact(tablePath)
      val table = new org.apache.hadoop.fs.Path(tablePath)
      val tableExists =
        table.getFileSystem(spark.sessionState.newHadoopConf()).exists(table)
      if (tableExists) {
        // an empty replayed batch must not rewrite the table for nothing
        if (!last.isEmpty)
          graft.sources.Sinks.merge(spark, tablePath, last, keys,
            deleteWhen = col(opCol) === deleteOp)
      } else if (!last.isEmpty)
        bootstrap.write.parquet(tablePath)
    })
  }

  /** Drift-triggered index maintenance — the closed loop between the
    * banded drift monitors and the [[graft.operators.IndexedSearch]]
    * artifact store. Each micro-batch of arriving embeddings:
    *
    *  1. appends (replay-idempotent id anti-join, the nearDupIngest
    *     guard) to the `corpusPath` embedding store;
    *  2. assigns the fresh vectors to the SERVED generation's
    *     centroids and folds a PSI over the CELL-SHARE distribution vs
    *     the generation's fit-time baseline (cells are the bands —
    *     "arrivals no longer land where the index was balanced" IS
    *     index staleness, measured by the index's own partition);
    *  3. on psi > `psiThreshold`, refits from the accumulated corpus —
    *     `IndexedSearch.fit` stages a full new generation and commits
    *     it with the atomic CURRENT-pointer rename, so `serveIvf`/
    *     `servePq` readers keep serving the OLD generation mid-refit
    *     and the N-1 GC grace keeps their in-flight scans alive across
    *     the swap.
    *
    * The SERVING path never fits: refit decisions live here, on the
    * maintenance stream, and the serve entry points only resolve
    * CURRENT (no-refit-on-the-hot-path — StreamingSpec asserts the
    * generation is unchanged by serving and changed only by an alarm).
    * A missing index bootstraps from the first batch's corpus.
    *
    * EVERY batch appends one audit row to `reportPath`:
    * (batch_id, n_new, psi, refit, gen_before, gen_after) — the
    * no-silent-maintenance rule; psi is NULL on the bootstrap batch,
    * and a replayed/all-duplicate batch still leaves its
    * (n_new = 0, psi null, refit false) row, so the trail can
    * distinguish "batch never arrived" from "batch fully deduped".
    * The PSI fold is q_psi's convention (1e-6 floor, grid = baseline ∪
    * observed cells, round 9) computed driver-side over
    * cell-count-sized arrays — monitoring state, never data-sized.
    *
    * Scale shape: per batch, one anti-join against the corpus ids, one
    * batch-sized centroid assignment (broadcast centroids), one
    * cell-sized artifact aggregate. The refit itself scans the full
    * corpus — the maintenance job's honest cost, paid only on alarm
    * and off the serving path. */
  def driftRefit(embStream: DataFrame, indexDir: String, corpusPath: String,
                 reportPath: String, idCol: String, vecCol: String,
                 psiThreshold: Double = 0.2, nlist: Int = 16,
                 m: Int = 8, subDim: Int = 8, ksub: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.IndexedSearch
    embStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val existingIds: DataFrame =
        try spark.read.parquet(corpusPath).select(col(idCol))
        catch { case _: org.apache.spark.sql.AnalysisException =>
          spark.emptyDataFrame.select(lit(0L).as(idCol)).filter(lit(false)) }
      val fresh = batch.select(col(idCol), col(vecCol))
        .join(existingIds, Seq(idCol), "left_anti")
        .eagerCheckpoint() // reused: append + assign; pin one copy
      val nNew = fresh.count()
      val genBefore = IndexedSearch.currentGeneration(spark, indexDir)
      val (psi, refit): (Option[Double], Boolean) =
        if (nNew == 0L) (None, false) // replayed/all-duplicate batch
        else {
          fresh.write.mode("append").parquet(corpusPath)
          genBefore match {
            case None => (None, true) // bootstrap: first fit IS the alarm
            case Some(_) =>
              val q0 = IndexedSearch
                .assignServed(spark, indexDir, fresh, idCol, vecCol)
                .groupBy(col("cid")).agg(count(lit(1)).as("n"))
                .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
              val p0 = IndexedSearch.servedCellShares(spark, indexDir)
                .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
              val cells = q0.keySet ++ p0.keySet
              val tot = q0.values.sum.toDouble
              val s = cells.toSeq.map { c =>
                val q = math.max(q0.getOrElse(c, 0L) / tot, 1e-6)
                val p = math.max(p0.getOrElse(c, 0.0), 1e-6)
                (q - p) * math.log(q / p)
              }.sum
              val psiV = BigDecimal(s)
                .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
              (Some(psiV), psiV > psiThreshold)
          }
        }
      if (refit)
        // qualityReport: an UNATTENDED refit must grade itself — the
        // per-cell silhouette of the exact partition it published
        // travels inside the generation (IndexedSearch.silhouette
        // returns it without a recompute)
        IndexedSearch.fit(spark.read.parquet(corpusPath), idCol, vecCol,
          indexDir, nlist = nlist, m = m, subDim = subDim, ksub = ksub,
          qualityReport = true)
      val genAfter = IndexedSearch.currentGeneration(spark, indexDir)
      // one audit row per batch UNCONDITIONALLY — an all-duplicate
      // (replayed) batch leaves (n_new = 0, psi null, refit false,
      // unchanged generation), so the trail distinguishes "batch never
      // arrived" from "batch fully deduped" (the no-silent-maintenance
      // rule)
      Seq((batchId, nNew, psi, refit, genBefore, genAfter))
        .toDF("batch_id", "n_new", "psi", "refit", "gen_before", "gen_after")
        .coalesce(1).write.mode("append").parquet(reportPath)
      ()
    }
  }

  /** [[cdcApply]] against a [[graft.sources.VersionedTable]] — the
    * time-traveling CDC sink: each micro-batch's collapsed change set
    * commits as a NEW snapshot version instead of swapping in place,
    * so downstream consumers can pin "the table as of version N"
    * while the stream keeps applying, and retention is
    * `VersionedTable.vacuum`. Same last-writer collapse, bootstrap,
    * and idempotent-replay reasoning as [[cdcApply]] — a replayed
    * batch re-merges the same change set, committing a value-identical
    * new version (a fixpoint in CONTENT, not in version count; exactly
    *-once version numbering is not the contract, table state is).
    * An empty batch commits nothing.
    *
    * **Self-tending (r18).** `autoCompactFiles = N` invokes
    * [[graft.sources.VersionedTable.maintain]] after a commit whenever
    * the manifest's file count exceeds N (clustered on the merge
    * keys, so pruning survives compaction), and `vacuumKeep = K`
    * bounds retention to the newest K versions (+ pins) — without
    * these a long-running stream grows one file and one manifest per
    * batch until an operator intervenes. Size `vacuumKeep` ABOVE any
    * downstream relay's lag (or pin the relay's floor).
    * `mergeSchema = true` lets a CDC source that grows a column flow
    * through: order columns are projected out of the collapsed batch
    * (they are sequencing metadata, not payload — the bootstrap
    * already excludes them) and the remaining source-only columns
    * evolve additively per `VersionedTable.merge`. */
  def cdcApplyVersioned(changes: DataFrame, tablePath: String,
                        keys: Seq[String], orderCols: Seq[String],
                        opCol: String = "op", deleteOp: String = "D",
                        mergeSchema: Boolean = false,
                        autoCompactFiles: Int = 0, vacuumKeep: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    changes.writeStream.foreachBatch(MicroBatch.persisted { (batch, _) =>
      val spark = batch.sparkSession
      val (last, bootstrap) =
        changeSet(batch, keys, orderCols, opCol, deleteOp)
      if (!last.isEmpty) {
        import graft.sources.VersionedTable
        if (VersionedTable.currentVersion(tablePath).isDefined) {
          val src = if (mergeSchema) last.drop(orderCols: _*) else last
          VersionedTable.merge(spark, tablePath, src, keys,
            deleteWhen = col(opCol) === deleteOp, mergeSchema = mergeSchema)
          if (autoCompactFiles > 0 || vacuumKeep > 0)
            VersionedTable.maintain(spark, tablePath, keys,
              maxFiles = if (autoCompactFiles > 0) autoCompactFiles
                         else Int.MaxValue,
              keepVersions = if (vacuumKeep > 0) vacuumKeep else Int.MaxValue)
        } else
          VersionedTable.init(spark, tablePath, bootstrap, clusterBy = keys)
      }
    })
  }

  /** Streaming MMR retrieval serving — the speed-layer twin of
    * `operators.Ann.mmrTopK` (the batch/speed symmetry every family
    * here keeps): arriving QUERY vectors re-rank against a LOADED
    * corpus/index artifact in foreachBatch and append their
    * (q_id, pick, n_id) selections to `outPath`. The corpus is the
    * fit-once/serve-many artifact (e.g. `spark.read.parquet` of the
    * saved embedding store, exactly like streaming IVF/PQ encode
    * serves AnnIvf.loadIndex / AnnPq.loadCodebooks) — it is scanned
    * per batch but never re-shuffled, and the greedy itself is the
    * fused one-job flatMapGroups over batch-queries × nCand rows.
    *
    * MMR is per-query independent, so batch ≡ stream EXACTLY: the
    * union of micro-batch outputs equals one batch mmrTopK over the
    * union of the queries (StreamingSpec asserts row identity).
    *
    * Exactly-once note: foreachBatch can replay a batch after a
    * failure, so the append is made idempotent the nearDupIngest way —
    * queries whose q_id already has served rows in `outPath` are
    * anti-joined out before re-ranking. */
  def mmrServe(queryStream: DataFrame, corpus: DataFrame, idCol: String,
               vecCol: String, k: Int, nCand: Int, outPath: String,
               lambda: Double = 0.7)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    queryStream.writeStream.foreachBatch(MicroBatch.persisted { (batch, _) =>
      val spark = batch.sparkSession
      val served: DataFrame =
        try spark.read.parquet(outPath).select(col("q_id")).distinct()
        catch { case _: org.apache.spark.sql.AnalysisException =>
          spark.emptyDataFrame.select(lit(0L).as("q_id")).filter(lit(false)) }
      // replay guard: a half-completed earlier attempt already served these
      val fresh = batch.join(served,
        batch(idCol).cast("long") === served("q_id"), "left_anti")
      if (!fresh.isEmpty)
        graft.operators.Ann.mmrTopK(corpus, fresh, idCol, vecCol, k, nCand, lambda)
          .write.mode("append").parquet(outPath)
    })
  }

  /** Streaming per-key EWMA — the truly-recursive smoothing the batch
    * q_ewma truncates to 5 taps: state is ONE double per key (the last
    * smoothed value), carried across micro-batches by
    * `flatMapGroupsWithState`, so the recursion depth is unbounded at
    * constant state size. Events are sorted by (ts, tiebreak) within
    * each batch group — Spark hands the group iterator in arrival
    * order, not event-time order. In-order delivery across batches is
    * the caller's contract (a Kafka key-partitioned source gives it);
    * late events would need watermark + re-emit semantics instead.
    * Tie order (shared contract, streamingHolt's r13/r14 pattern):
    * with `tieCol` set (e.g. the event id a batch window orders by),
    * same-(key, ts) events replay in batch order; tieCol = None sorts
    * ties by value, batch-equivalent only under unique-(key, ts)
    * delivery. Emits (key, ts_sec, value, ewma) per event in append
    * mode. */
  def streamingEwma(events: DataFrame, keyCol: String, tsCol: String,
                    valCol: String, alpha: Double,
                    tieCol: Option[String] = None): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col(keyCol).cast("long"),
        unix_timestamp(col(tsCol)).as("ts_sec"), col(valCol).cast("double"),
        // a double orders every long below 2^53 exactly, so one tuple
        // shape serves both tie conventions (streamingHolt's trade)
        tieCol.fold(col(valCol))(c => col(c)).cast("double").as("tie"))
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Long, Double, Double)],
         state: org.apache.spark.sql.streaming.GroupState[Double]) => {
          var last = state.getOption
          val out = rows.toSeq.sortBy(r => (r._2, r._4)).map { case (_, ts, v, _) =>
            val e = last match {
              case Some(p) => alpha * v + (1.0 - alpha) * p
              case None => v
            }
            last = Some(e)
            (key, ts, v, e)
          }
          last.foreach(state.update)
          out.iterator
        })
      .toDF("key", "ts_sec", "value", "ewma")
  }

  /** Streaming per-key Holt linear-trend forecast — the truly-recursive
    * level+trend smoothing the batch q_holt truncates to 6 lags: state
    * is TWO doubles per key (level l, trend b), carried across
    * micro-batches by `flatMapGroupsWithState`:
    *   l ← α·x + (1−α)(l + b);  b ← β(l − l_prev) + (1−β)·b
    * initialized per the batch convention l₀ = x₀, b₀ = x₁ − x₀ (the
    * first emission therefore starts at the SECOND event of a key).
    * Emits (key, ts_sec, value, forecast) with forecast = l + b, the
    * one-step-ahead prediction. Same in-order-delivery contract and
    * bounded-state posture as [[streamingEwma]]. With α = β = 1/2
    * every update is a dyadic average — exact in IEEE — so streaming
    * equals an in-order replay bit-for-bit whatever the batch
    * boundaries (asserted in StreamingSpec). */
  def streamingHolt(events: DataFrame, keyCol: String, tsCol: String,
                    valCol: String, alpha: Double = 0.5,
                    beta: Double = 0.5,
                    tieCol: Option[String] = None): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col(keyCol).cast("long"),
        unix_timestamp(col(tsCol)).as("ts_sec"), col(valCol).cast("double"),
        // r13 advice: the batch q_holt window orders by (ts, event_id);
        // passing that id as tieCol makes same-(key, ts) events replay
        // in batch order. tie only steers the sort — a double orders
        // every long below 2^53 exactly, so one tuple shape serves both
        // modes; tieCol = None keeps the streamingEwma (ts, value)
        // convention, batch-equivalent only under unique-(key, ts)
        // delivery (the documented caller contract).
        tieCol.fold(col(valCol))(c => col(c)).cast("double").as("tie"))
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Long, Double, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(Boolean, Double, Double)]) => {
          // (initialized, level, trend); uninitialized carries (false, x0, 0)
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
          rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, ts, v, _) =>
            st match {
              case None =>
                st = Some((false, v, 0.0))            // saw x0 only
              case Some((false, x0, _)) =>
                // with l0 = x0, b0 = x1−x0 the first smoothing step is
                // an algebraic identity for ANY α, β: l1 = x1 exactly
                // and b1 = x1−x0 exactly — set it directly instead of
                // computing α·x1 + (1−α)(x0 + (x1−x0)), whose IEEE tree
                // would pick up rounding noise against the convention
                val (l, b) = (v, v - x0)
                st = Some((true, l, b))
                out += ((key, ts, v, l + b))
              case Some((true, lPrev, bPrev)) =>
                val l = alpha * v + (1.0 - alpha) * (lPrev + bPrev)
                val b = beta * (l - lPrev) + (1.0 - beta) * bPrev
                st = Some((true, l, b))
                out += ((key, ts, v, l + b))
            }
          }
          st.foreach(state.update)
          out.iterator
        })
      .toDF("key", "ts_sec", "value", "forecast")
  }

  /** LEFT-OUTER event-time-bounded stream-stream join: matched rows
    * emit like the inner variant; an UNMATCHED left row is held in
    * state until the watermark proves no in-range right row can still
    * arrive, then emits null-padded. The emission delay is exactly the
    * state-eviction bound — the same watermark + time-bound pair that
    * keeps the inner join's buffers finite is what makes "no match" a
    * decidable fact here. */
  def timeBoundedJoinLeftOuter(left: DataFrame, right: DataFrame, keyCol: String,
                               leftTs: String, rightTs: String,
                               before: String = "interval 10 minutes",
                               after: String = "interval 10 minutes",
                               watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) - expr(before) &&
        r(rightTs) <= l(leftTs) + expr(after),
      "leftOuter")
      .drop(r(keyCol))
  }

  /** Distinct-until-changed (CDC stream compaction / edge detection):
    * emits a (key, ts_sec, value) row only when the value DIFFERS from
    * the key's last emitted value — a sensor stream reporting every few
    * seconds compacts to its change points. Built on Spark 4's
    * `transformWithState` (the arbitrary-state v2 API): one
    * ValueState[Double] per key — fixed-size state, no per-event
    * growth — checkpointed via the RocksDB state store provider the
    * API requires. In-batch rows process in (ts, value) order per key;
    * cross-batch ordering is the source's key-partitioned contract
    * (same as streamingEwma). */
  def distinctUntilChanged(events: DataFrame, keyCol: String, tsCol: String,
                           valCol: String): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues, ValueState}
    val proc = new StatefulProcessor[Long, (Long, Long, Double), (Long, Long, Double)] {
      @transient private var last: ValueState[Double] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        last = getHandle.getValueState[Double]("last",
          org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
                                   timers: TimerValues): Iterator[(Long, Long, Double)] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v) =>
          if (!last.exists() || last.get() != v) {
            out += ((key, ts, v))
            last.update(v)
          }
        }
        out.iterator
      }
    }
    events
      .select(col(keyCol).cast("long"),
        unix_timestamp(col(tsCol)).as("ts_sec"), col(valCol).cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
      .toDF("key", "ts_sec", "value")
  }

  /** Session-close detection via EVENT-TIME TIMERS on Spark 4's
    * `transformWithState`: each key keeps (last_ts, count) and one
    * registered timer at last_ts + gap; every new event slides the
    * timer forward, and when the WATERMARK passes it the timer fires —
    * `handleExpiredTimer` emits (key, session_end_sec, n_events) and
    * clears state. Nothing is emitted on the hot path, state is one
    * tuple + one timer per live key, and expiry is driven by event-time
    * progress, not wall clock — the replay-safe way to detect "this
    * session is over" / "this sensor went quiet". Complements the
    * `flatMapGroupsWithState` sessionizer (row 45) with the v2 API's
    * explicit timer registry. */
  def sessionCloseAlerts(events: DataFrame, keyCol: String, tsCol: String,
                         gapMs: Long = 600000L,
                         watermark: String = "0 seconds"): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues, ExpiredTimerInfo, ValueState}
    val proc = new StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
      @transient private var sess: ValueState[(Long, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        sess = getHandle.getValueState[(Long, Long)]("sess",
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                   timers: TimerValues): Iterator[(Long, Long, Long)] = {
        val (prevTs, prevN) = if (sess.exists()) sess.get() else (Long.MinValue, 0L)
        var lastTs = prevTs
        var n = prevN
        rows.foreach { case (_, ts) => if (ts > lastTs) lastTs = ts; n += 1 }
        // slide the single timer forward to the new deadline
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(lastTs + gapMs)
        sess.update((lastTs, n))
        Iterator.empty // emission happens only on expiry
      }
      override def handleExpiredTimer(key: Long, timers: TimerValues,
                                      expired: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
        val out = if (sess.exists()) {
          val (lastTs, n) = sess.get()
          Iterator((key, lastTs / 1000L, n))
        } else Iterator.empty
        sess.clear()
        out
      }
    }
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long"),
        (unix_timestamp(col(tsCol)) * 1000L).as("ts_ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
      .toDF("key", "session_end_sec", "n_events")
  }

  /** Streaming audience reach: distinct users per hopping window, the
    * speed-layer counterpart of the batch q_window_users. Distinct
    * counting in a stream must be mergeable across micro-batches, so
    * the aggregate is HLL (`approx_count_distinct`) — per-slot state is
    * one fixed-size sketch instead of a user set, and the watermark
    * closes slots so state stays bounded. Exact per-window counts at
    * scale would mean keeping every user id in state until the window
    * closes; the sketch is the production posture. */
  def windowedUsers(events: DataFrame, tsCol: String, userCol: String,
                    windowLen: String = "1 hour", slide: String = "30 minutes",
                    watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide))
      .agg(approx_count_distinct(col(userCol)).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"),
        col("n_users"), col("n_events"))

  /** Streaming PSI drift monitor, stage 1: per-window BAND COUNTS of a
    * value stream against a fixed cutpoint vector — the distributional
    * drift alarm beside [[streamingCusum]]'s mean-shift alarm (CUSUM
    * sees the mean move; PSI sees the shape move at a stable mean).
    * The cuts are the baseline's own deciles, computed batch-side as
    * in q_psi and passed as plain doubles: monitoring CONFIGURATION,
    * not data, so banding is a cuts-sized projection — no join, no
    * per-row state. The windowed count is the only stateful op and the
    * watermark closes windows, so state stays bounded at
    * bands × open-windows whatever the stream length. [[psiOf]] folds
    * the emitted counts into PSI numbers — the same fold works on the
    * streamed sink table or a batch frame (the lambda handoff
    * contract); batch ≡ stream asserted in StreamingSpec. */
  def windowedBandCounts(events: DataFrame, tsCol: String, valCol: String,
                         cuts: Seq[Double], windowLen: String = "1 hour",
                         watermark: String = "30 minutes"): DataFrame = {
    val band = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(valCol) >= lit(c), 1).otherwise(0) }
    events.withWatermark(tsCol, watermark)
      .withColumn("band", band)
      .groupBy(window(col(tsCol), windowLen), col("band"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("band"), col("n"))
  }

  /** PSI fold over [[windowedBandCounts]] output against baseline
    * shares (band, p): one PSI row per window, standard 1e-6 floor on
    * empty bands (the q_psi convention). The grid is the UNION of
    * baseline and observed bands, restored per window by a broadcast
    * left join, so both drift directions contribute: a baseline band
    * with ZERO arrivals emits its (floor − p)·ln(floor/p) term —
    * silence in a band that used to carry mass is drift — and arrival
    * mass in a band the BASELINE never saw (p floored) emits the
    * q·ln(q/floor) blow-up that an unseen-band shift deserves. */
  def psiOf(bandCounts: DataFrame, baseline: DataFrame): DataFrame = {
    val tot = bandCounts.groupBy(col("win_start")).agg(sum(col("n")).as("tot"))
    // band universe = baseline ∪ observed (fresh alias: ob_band's
    // lineage is bandCounts', and grid meets bandCounts again below)
    val bands = baseline.select(col("band"))
      .union(bandCounts.select(col("band").as("ob_band"))).distinct()
    val grid = tot.crossJoin(broadcast(
      bands.join(baseline, Seq("band"), "left")))
    // fresh aliases: grid's win_start descends from the SAME plan as
    // bandCounts', and a using-columns self-join would carry
    // conflicting attribute ids
    val bc = bandCounts.select(col("win_start").as("bc_ws"),
      col("band").as("bc_band"), col("n"))
    val q = greatest(coalesce(col("n"), lit(0L)).cast("double") /
      col("tot").cast("double"), lit(1e-6))
    val p = greatest(coalesce(col("p"), lit(0.0)), lit(1e-6))
    grid.join(bc, col("win_start") === col("bc_ws") &&
        col("band") === col("bc_band"), "left")
      .select(col("win_start"), ((q - p) * log(q / p)).as("term"))
      .groupBy(col("win_start"))
      .agg(round(sum(col("term")), 9).as("psi"))
  }

  /** Wasserstein-1 fold over [[windowedBandCounts]] output against
    * baseline shares (band, p) — the MAGNITUDE drift number beside
    * [[psiOf]]'s divergence, on the identical lambda-handoff contract
    * (same banded sink table, same broadcast-grid shape; batch ≡
    * stream asserted in StreamingSpec): PSI blows up on ANY
    * reallocation, W1 says how FAR the mass moved in value units —
    * the number a mixture rebalance or an alert threshold in native
    * units acts on. Discretization: the band CDFs are exact at every
    * cut boundary, so W1 = Σ_{b<k−1} |F_q(c_b) − F_p(c_b)|·(c_{b+1} −
    * c_b) — the banded restriction of the batch q_wasserstein grid
    * integral Σ|F1−F2|·Δv (mass movement INSIDE a band and beyond the
    * outermost cuts is invisible at band resolution, the resolution
    * the monitoring configuration chose). `cuts` is the same vector
    * the band stage ran with: configuration, not data. The band
    * domain is complete by construction (0..cuts.length), so unlike
    * psiOf no observed-band union is needed; a baseline table missing
    * a band contributes p = 0 there. One broadcast join + one
    * window-partitioned cumsum over ≤ cuts+1 rows per window. */
  def w1Of(bandCounts: DataFrame, baseline: DataFrame,
           cuts: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ss = bandCounts.sparkSession
    import ss.implicits._
    require(cuts.size >= 2, "W1 over bands needs >= 2 cuts: with one " +
      "boundary there is no inter-cut gap to integrate over")
    val tot = bandCounts.groupBy(col("win_start")).agg(sum(col("n")).as("tot"))
    // (band, width to the next cut): only boundaries 0..k-2 carry a gap
    val widths = cuts.indices.dropRight(1)
      .map(b => (b, cuts(b + 1) - cuts(b))).toDF("band", "dv")
    val grid = tot.crossJoin(broadcast(
      (0 to cuts.length).toDF("band").join(baseline, Seq("band"), "left")))
    val bc = bandCounts.select(col("win_start").as("bc_ws"),
      col("band").as("bc_band"), col("n"))
    val wb = Window.partitionBy(col("win_start")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bc, col("win_start") === col("bc_ws") &&
        col("band") === col("bc_band"), "left")
      .select(col("win_start"), col("band"), col("tot"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("p"), lit(0.0)).as("p"))
      .withColumn("fq", sum(col("n")).over(wb).cast("double") /
        col("tot").cast("double"))
      .withColumn("fp", sum(col("p")).over(wb))
      .join(broadcast(widths), Seq("band")) // drops gap-less boundaries
      .groupBy(col("win_start"))
      .agg(round(sum(abs(col("fq") - col("fp")) * col("dv")), 9).as("w1"))
  }

  /** Split-conformal quantile fold over [[windowedBandCounts]] output —
    * the PREDICTION-INTERVAL drift monitor beside [[psiOf]]'s
    * divergence and [[w1Of]]'s mass-movement magnitude, on the
    * identical lambda-handoff contract (same banded sink table; the
    * fold serves the streamed table or a batch frame, batch ≡ stream
    * asserted in StreamingSpec): per window, the smallest band whose
    * cumulative count reaches the conformal rank ⌈(1−α)(n+1)⌉ (the
    * batch q_conformal statistic, α = alphaTenths/10), emitted as
    * that band's UPPER cut — the conservative banded upper bound an
    * alerting system compares tomorrow's q̂ against today's. The rank
    * test is all-integer (10·cum ≥ (10−a)·(n+1)); a window whose rank
    * lands in the open top band — or is too small to cover it
    * (n < (10−a)/a) — emits a NULL q̂, the honest "interval reaches
    * beyond the banding", never a silent clamp to the last cut.
    * Bands absent from a window contribute zero to the cumsum by
    * construction, so the first PRESENT band satisfying the test is
    * exactly the band containing the rank-th value. One
    * window-partitioned cumsum over ≤ cuts+1 rows per window —
    * domain-sized, stateless, like the sibling folds. */
  def conformalOf(bandCounts: DataFrame, cuts: Seq[Double],
                  alphaTenths: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ss = bandCounts.sparkSession
    import ss.implicits._
    require(alphaTenths >= 1 && alphaTenths <= 9,
      "alphaTenths must be in 1..9 (alpha = alphaTenths/10)")
    val cov = 10 - alphaTenths
    val wb = Window.partitionBy(col("win_start")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("win_start"))
    // band b's upper boundary is cuts(b); the top band (b = cuts
    // length) has none and stays NULL through the left join
    val uppers = cuts.indices.map(b => (b, cuts(b))).toDF("band", "cut")
    bandCounts
      .withColumn("cum", sum(col("n")).over(wb))
      .withColumn("tot", sum(col("n")).over(wt))
      .join(broadcast(uppers), Seq("band"), "left")
      .groupBy(col("win_start"))
      .agg(max(col("tot")).as("n"),
        min(when(col("cum") * 10 >= (col("tot") + lit(1L)) * cov,
          struct(col("band"), col("cut")))).as("sel"))
      .select(col("win_start"), col("n"),
        floor(((col("n") + 1) * cov + 9) / lit(10)).cast("bigint")
          .as("rank"),
        col("sel.band").as("band_hat"), col("sel.cut").as("qhat"))
  }

  /** Streaming CUSUM drift detector (Page 1954) — the metric-shift
    * alarm of a monitoring pipeline: per key, the one-sided cumulative
    * sums S⁺ = max(0, S⁺ + (x − μ₀ − slack)) and
    * S⁻ = max(0, S⁻ + (μ₀ − x − slack)) accumulate evidence of an
    * upward/downward mean shift; crossing `threshold` emits an alert
    * row and resets that side. State is TWO doubles per key however
    * long the stream runs — same bounded-state contract as
    * [[streamingEwma]], and the same tie-order contract: `tieCol`
    * (e.g. the batch window's event-id tiebreak) fixes same-(key, ts)
    * replay order; None sorts ties by value, batch-equivalent only
    * under unique-(key, ts) delivery. Cross-batch in-order delivery
    * stays the caller's contract. Output: (key, ts_sec, direction,
    * statistic) alert rows only — the quiet hot path emits nothing. */
  def streamingCusum(events: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, mu0: Double, slack: Double,
                     threshold: Double,
                     tieCol: Option[String] = None): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col(keyCol).cast("long"),
        unix_timestamp(col(tsCol)).as("ts_sec"), col(valCol).cast("double"),
        tieCol.fold(col(valCol))(c => col(c)).cast("double").as("tie"))
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Long, Double, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(Double, Double)]) => {
          var (sPos, sNeg) = state.getOption.getOrElse((0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Double)]
          rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, ts, v, _) =>
            sPos = math.max(0.0, sPos + (v - mu0 - slack))
            sNeg = math.max(0.0, sNeg + (mu0 - v - slack))
            if (sPos > threshold) { out += ((key, ts, "up", sPos)); sPos = 0.0 }
            if (sNeg > threshold) { out += ((key, ts, "down", sNeg)); sNeg = 0.0 }
          }
          state.update((sPos, sNeg))
          out.iterator
        })
      .toDF("key", "ts_sec", "direction", "statistic")
  }

  /** Streaming champion-vs-challenger discordance — the LIVE McNemar
    * (the q_mcnemar batch row's speed-layer twin, same symmetry as the
    * W1/conformal folds over the drift contract): per tumbling window,
    * the paired discordant counts n10 (only champion correct) / n01
    * (only challenger correct) between model A = value ≥ `p50` (the
    * batch-fit threshold shipped in as a constant — fit once, monitor
    * many, the IndexedSearch artifact rule) and model B = the
    * deterministic md5-parity coin, against the label column; χ² with
    * the Edwards continuity correction rides each row, NULL when the
    * window has no discordant pairs (the batch row's convention). The
    * concordant marginals cancel EXACTLY as in the batch test, so the
    * monitor alarms on "the champion stopped beating the challenger",
    * not on traffic mix. STATELESS windowed integer aggregation — no
    * mapGroupsWithState, so batch ≡ stream is structural and state is
    * one (n10, n01) pair per open window. */
  def streamingMcnemar(events: DataFrame, tsCol: String, idCol: String,
                       valCol: String, labelCol: String, p50: Double,
                       windowLen: String = "1 hour",
                       watermark: String = "30 minutes"): DataFrame = {
    val pa = col(valCol).cast("double") >= lit(p50)
    val pb = graft.functions.NativeExpressions.md5Prefix60(
      concat(lit("mcn:"), col(idCol))) % 2 === 0
    val y = col(labelCol)
    def nd(c: Column) = c.cast("double")
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(sum(when(pa === y && pb =!= y, 1L).otherwise(0L)).as("n10"),
        sum(when(pa =!= y && pb === y, 1L).otherwise(0L)).as("n01"))
      .select(col("window.start").as("win_start"), col("n10"), col("n01"),
        when(col("n10") + col("n01") === 0, lit(null).cast("double"))
          .otherwise(round(
            (abs(nd(col("n10")) - nd(col("n01"))) - lit(1.0)) *
              (abs(nd(col("n10")) - nd(col("n01"))) - lit(1.0)) /
              (nd(col("n10")) + nd(col("n01"))), 9)).as("chi2"))
  }
}
