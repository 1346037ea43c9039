package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fit-once / serve-many vector retrieval over persisted index
  * ARTIFACTS — the single entry point that composes what the piecewise
  * contracts already guarantee (AnnIvf.saveIndex/loadIndex,
  * AnnPq.saveCodebooks/loadCodebooks, StreamOps' PQ ingest): one
  * pipeline fits the quantizers on a corpus snapshot and persists
  * EVERYTHING a query job needs; every later session loads the
  * artifacts and serves without touching raw embeddings or re-fitting.
  *
  * Artifact layout under `dir`:
  *   ivf_centroids/  (cid, centroid)        — nlist × dim doubles, tiny
  *   ivf_assigned/   (id, vec) PARTITIONED BY cid — the corpus, laid
  *                   out so an nprobe-cell probe prunes to
  *                   nprobe/nlist of the files (at 100 TB the probe
  *                   join's broadcast drives dynamic partition pruning
  *                   — a query touches only the probed cells' parquet)
  *   pq_codebooks/   (m, cid, centroid)     — m × ksub sub-vectors, tiny
  *   pq_codes/       (id, m, code)          — m bytes/vector in spirit:
  *                   the memory-side serve path; raw vectors stay in
  *                   ivf_assigned only
  *
  * Serving modes: [[serveIvf]] (compute-side: probe + exact re-rank),
  * [[servePq]] (memory-side: ADC over codes, no vector math against
  * the corpus), [[serveHybrid]] (dense IVF arm + lexical 3-gram arm,
  * RRF-fused on Search.fuseRrf's shared (q_id, d_id, rank) contract).
  *
  * **Atomic commit (r12)**: the four artifacts are one logical unit —
  * codes encoded by one generation's codebooks are garbage under
  * another's — so [[fit]] writes them into a fresh `gen-<id>/`
  * directory, stamps a `_MANIFEST` only after ALL four writes
  * succeed, and publishes by atomically renaming a `CURRENT` pointer
  * file over the old one. A crash at ANY point mid-fit leaves
  * `CURRENT` on the previous complete generation (or absent on a
  * first fit); serve paths resolve through `CURRENT` and refuse a
  * generation without its manifest, so a mixed-generation read is
  * impossible rather than silent. Single-writer is assumed (one fit
  * job at a time per index dir — the Spark batch model); committed
  * older generations are GC'd best-effort after publish.
  *
  * AnnSpec asserts save→load→serve parity with the fitting session for
  * all three modes, plus the crash-window invariants.
  */
object IndexedSearch {

  /** Fit the IVF + PQ quantizers and persist all four artifacts,
    * committing them atomically as one new index generation. */
  def fit(embs: DataFrame, idCol: String, vecCol: String, dir: String,
          nlist: Int = 16, iters: Int = 1, m: Int = 8, subDim: Int = 8,
          ksub: Int = 16, pqIters: Int = 1,
          qualityReport: Boolean = false): Unit = {
    val spark = embs.sparkSession
    val genId = "gen-" + java.util.UUID.randomUUID().toString.take(12)
    val gen = s"$dir/$genId"
    val centroids = AnnIvf.fitExact(embs, idCol, vecCol, nlist, iters)
    AnnIvf.saveIndex(centroids, s"$gen/ivf_centroids")
    val assigned = AnnIvf.assign(embs, centroids, idCol, vecCol)
    assigned.write.mode("overwrite").partitionBy("cid")
      .parquet(s"$gen/ivf_assigned")
    val cb = AnnPq.trainCodebooks(embs,
      AnnPq.fitCodebooks(embs, idCol, vecCol, m, subDim, ksub),
      idCol, vecCol, m, subDim, pqIters)
    AnnPq.saveCodebooks(cb, s"$gen/pq_codebooks")
    // codes carry their coarse cell and persist PARTITIONED BY cid —
    // the artifact layout serveIvfPq's cell-prune-then-ADC path prunes
    // at the file level (a probe reads nprobe/nlist of the code files,
    // never the rest); servePq's full ADC scan is unchanged by the
    // extra column
    AnnPq.encode(embs, cb, idCol, vecCol, m, subDim)
      .join(assigned.select(col("id"), col("cid")), "id")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$gen/pq_codes")
    // optional fit-quality report (r13 verdict item 4): per-cell
    // silhouette of the ASSIGNMENT just persisted — scored with
    // silhouetteAssigned so the report grades the exact partition the
    // ivf_assigned artifact carries (a re-derived rounded argmax can
    // place a near-tie vector in a different cell than the raw-double
    // argmax that wrote the artifact). Persisted inside the generation
    // so the quality number that graded an index travels with it. One
    // extra corpus scan; written before the manifest, so a complete
    // generation either has its report or was fit without one — never
    // a torn report.
    if (qualityReport)
      AnnIvf.silhouetteAssigned(assigned, centroids, "id", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/fit_quality")
    // all artifacts on disk → mark the generation complete, then publish
    writeSmall(spark, s"$gen/$Manifest",
      s"""{"nlist":$nlist,"m":$m,"subDim":$subDim,"ksub":$ksub}""")
    val prev = readPointer(spark, dir)
    publish(spark, dir, genId)
    gcOldGenerations(spark, dir, Set(genId) ++ prev)
  }

  private val Manifest = "_MANIFEST"
  private val Current = "CURRENT"

  private def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeSmall(spark: SparkSession, path: String,
                         content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = hfs(spark, path).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Atomically repoint CURRENT at `genId`: write a temp pointer file
    * then rename with OVERWRITE (atomic on HDFS and local FS via
    * FileContext). Readers see either the old pointer or the new one,
    * never a partial file and never an unpointed window. */
  private def publish(spark: SparkSession, dir: String,
                      genId: String): Unit = {
    val tmp = s"$dir/.$Current.tmp"
    writeSmall(spark, tmp, genId)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new org.apache.hadoop.fs.Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$dir/$Current"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Best-effort cleanup of superseded generations (and any aborted
    * unmanifested ones). Never throws — GC failure must not fail a
    * committed fit.
    *
    * `keep` always contains the just-published generation AND the one
    * it superseded (N-1 grace): serve paths are LAZY — a concurrent
    * reader that resolved the old CURRENT may still be reading its
    * parquet when a re-fit publishes, and deleting that generation
    * immediately would fail the in-flight query with
    * FileNotFoundException. One grace generation covers fit-once/
    * serve-many with concurrent readers; generations older than N-1
    * (two re-fits stale) and unmanifested crash debris are deleted. */
  private def gcOldGenerations(spark: SparkSession, dir: String,
                               keep: Set[String]): Unit =
    try {
      val fs = hfs(spark, dir)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-")
          && !keep.contains(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
    } catch { case _: Throwable => () }

  /** The generation id CURRENT points at, if a pointer exists. */
  private def readPointer(spark: SparkSession,
                          dir: String): Option[String] = {
    val fs = hfs(spark, dir)
    val cur = new org.apache.hadoop.fs.Path(s"$dir/$Current")
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim)
      finally in.close()
    }
  }

  /** Resolve the active generation dir. Refuses (loudly) a pointer to
    * a generation missing its `_MANIFEST` — that state is unreachable
    * through [[fit]]'s commit order, so seeing it means external
    * tampering, and serving from it could mix generations. Falls back
    * to `dir` itself for pre-r12 flat layouts. */
  private def resolve(spark: SparkSession, dir: String): String = {
    val fs = hfs(spark, dir)
    readPointer(spark, dir) match {
      case Some(genId) =>
        val gen = s"$dir/$genId"
        require(fs.exists(new org.apache.hadoop.fs.Path(s"$gen/$Manifest")),
          s"index at $dir: CURRENT points at $genId but its $Manifest is " +
            "missing — refusing a possibly-incomplete generation")
        gen
      case None =>
        require(
          fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf_centroids")),
          s"no index at $dir: neither a $Current pointer nor a legacy " +
            "flat layout")
        dir
    }
  }

  /** The assigned corpus with `cid` restored to a join-typed column
    * (partition-column inference reads the dir name as int). */
  private def loadAssigned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/ivf_assigned")
      .select(col("id"), col("vec"), col("cid").cast("long").as("cid"))

  /** The published generation id, if any — the public seam a drift
    * monitor ([[graft.streaming.StreamOps.driftRefit]]) watches to
    * detect a swap and to assert no-refit-on-the-hot-path. */
  def currentGeneration(spark: SparkSession, dir: String): Option[String] =
    readPointer(spark, dir)

  /** Cell-share baseline of the SERVED generation: (band = cid,
    * p = cell share) off the persisted `ivf_assigned` artifact — the
    * fit-time arrival distribution a PSI drift monitor compares
    * against ([[graft.streaming.StreamOps.psiOf]]'s baseline shape).
    * Cell-count-sized output; one artifact scan (already
    * cid-partitioned, so the groupBy is a partition count). */
  def servedCellShares(spark: SparkSession, dir: String): DataFrame = {
    val a = loadAssigned(spark, resolve(spark, dir))
    val tot = a.groupBy().agg(count(lit(1)).as("tot"))
    a.groupBy(col("cid").as("band")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("band"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
  }

  /** Assign `embs` to the SERVED generation's centroids — the arrival
    * side of the cell-share drift comparison. Returns (id, vec, cid)
    * as [[AnnIvf.assign]]. */
  def assignServed(spark: SparkSession, dir: String, embs: DataFrame,
                   idCol: String, vecCol: String): DataFrame = {
    val gen = resolve(spark, dir)
    AnnIvf.assign(embs, AnnIvf.loadIndex(spark, s"$gen/ivf_centroids"),
      idCol, vecCol)
  }

  /** Per-cell silhouette of the SERVED index: resolves the published
    * generation and grades exactly the (centroids, assigned corpus)
    * pair production queries probe — the quality gate the refitting
    * `AnnIvf.silhouette` overload cannot provide. Reads only the
    * artifacts (centroids file + assigned parquet), never raw
    * embeddings, and scores each vector in its PERSISTED cell
    * (`AnnIvf.silhouetteAssigned`) — never a re-derived argmax, whose
    * round(9) tie rule can place a near-tie vector in a different cell
    * than the one the artifact actually serves from. If the generation
    * carries a persisted `fit_quality` report (see [[fit]]) it is
    * returned directly — the number that graded the index at fit time
    * — instead of being recomputed. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val gen = resolve(spark, dir)
    val persisted = s"$gen/fit_quality"
    if (hfs(spark, persisted)
        .exists(new org.apache.hadoop.fs.Path(persisted)))
      spark.read.parquet(persisted)
    else
      AnnIvf.silhouetteAssigned(loadAssigned(spark, gen),
        AnnIvf.loadIndex(spark, s"$gen/ivf_centroids"), "id", "vec")
  }

  /** Compute-side serve: probe the nprobe max-cosine cells per query,
    * exact cosine re-rank inside. Returns (q_id, rn, n_id, sim). */
  def serveIvf(spark: SparkSession, dir: String, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               nprobe: Int = 4): DataFrame = {
    val gen = resolve(spark, dir)
    AnnIvf.search(loadAssigned(spark, gen),
      AnnIvf.loadIndex(spark, s"$gen/ivf_centroids"),
      queries, idCol, vecCol, k, nprobe)
  }

  /** Memory-side serve: ADC over the persisted codes — the corpus is
    * never read as vectors at query time. Returns (q_id, rn, n_id). */
  def servePq(spark: SparkSession, dir: String, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              m: Int = 8, subDim: Int = 8): DataFrame = {
    val gen = resolve(spark, dir)
    AnnPq.searchEncoded(spark.read.parquet(s"$gen/pq_codes"),
      AnnPq.loadCodebooks(spark, s"$gen/pq_codebooks"),
      queries, idCol, vecCol, k, m, subDim)
  }

  /** The composed serve — cell-prune, THEN ADC: probe nprobe coarse
    * cells via the broadcast centroid table, ADC-score ONLY those
    * cells' persisted PQ codes (the cid-partitioned `pq_codes`
    * artifact prunes at the file level through the static probed-cid
    * filter), top-k on the LUT sums. Raw vectors are never read at
    * serve time — [[serveIvf]]'s compute-side pruning and [[servePq]]'s
    * memory-side codes composed, the shape a 100 TB deployment
    * actually runs: a query touches nprobe/nlist of m-bytes-per-vector
    * codes. Generations fit before the codes carried cells refuse
    * loudly (refit to enable). Returns (q_id, rn, n_id). */
  def serveIvfPq(spark: SparkSession, dir: String, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
                 m: Int = 8, subDim: Int = 8): DataFrame = {
    val gen = resolve(spark, dir)
    AnnPq.searchEncodedPruned(spark.read.parquet(s"$gen/pq_codes"),
      AnnPq.loadCodebooks(spark, s"$gen/pq_codebooks"),
      AnnIvf.loadIndex(spark, s"$gen/ivf_centroids"),
      queries, idCol, vecCol, k, nprobe, m, subDim)
  }

  /** Past this many query ids, [[serveHybrid]]'s lexical arm stops
    * collecting ids into an IN filter and switches to a LEFT SEMI
    * join — the IN path assumes a SERVING-sized batch (driver memory
    * and a filter expression both scale with the id list), while the
    * semi-join is unbounded but pays a small-side exchange. */
  private[graft] val MaxInFilterQueryIds = 16384

  /** Hybrid serve: the dense arm comes from the LOADED IVF index, the
    * lexical 3-gram arm from `docs`, fused by RRF. `queries` is the
    * serve-time request set — (idCol, vecCol) rows, request-sized by
    * definition (recovering query vectors from the cid-partitioned
    * corpus artifact would scan every cell's files and defeat the
    * pruning the layout exists for). The lexical arm selects the query
    * docs by the collected request ids — pushed into the shingle scan
    * as an IN filter — up to [[MaxInFilterQueryIds]] ids (at most
    * that many + 1 are ever collected to the driver); a larger batch
    * falls back to a LEFT SEMI join, keeping the path total rather
    * than trusting the caller's notion of "serving-sized".
    * Returns (q_id, rn, d_id, rsem, rlex), rn = 1..k in fused order. */
  def serveHybrid(spark: SparkSession, dir: String, docs: DataFrame,
                  docId: String, textCol: String, queries: DataFrame,
                  idCol: String, vecCol: String,
                  armK: Int = 20, k: Int = 10, nprobe: Int = 4,
                  rrfC: Int = 60,
                  // test seam: AnnSpec drives the IN/semi-join switch
                  // across the boundary with a small injected value
                  maxInIds: Int = MaxInFilterQueryIds): DataFrame = {
    val sem = serveIvf(spark, dir, queries, idCol, vecCol, armK, nprobe)
      .select(col("q_id"), col("n_id").as("d_id"), col("rn").as("rsem"))
    val qidDf = queries.select(col(idCol).cast("long").as("id"))
    val head = qidDf.limit(maxInIds + 1).collect()
    val lex =
      if (head.length <= maxInIds)
        Search.lexicalArm(docs, docId, textCol,
          col("id").isInCollection(head.map(_.getLong(0)).toSeq), armK)
      else Search.lexicalArmJoin(docs, docId, textCol, qidDf, armK)
    Search.fuseRrf(sem, lex, rrfC, k)
  }
}
