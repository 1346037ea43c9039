package graft.operators

import graft.Materialize._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Product-quantization ANN (Jégou et al., TPAMI'11) for maximum-
  * inner-product search — the memory-side scale path that pairs with
  * IVF's compute-side pruning at 100 TB: each vector is stored as m
  * subspace codes (m bytes at ksub ≤ 256) instead of dim floats, and
  * query scoring touches only a per-query lookup table.
  *
  * The inner product DECOMPOSES EXACTLY over subspaces:
  * dot(q, x̂) = Σ_m dot(q_m, c_m[code_m(x)]) — so ADC (asymmetric
  * distance computation) is one tiny LUT join + a grouped sum, no
  * vector math against the corpus at query time.
  *
  * Scale shape: codebooks are m × ksub sub-vectors — always broadcast.
  * Encoding is a per-row map against the broadcast codebooks (argmax
  * cosine per subspace, tie → low cid — same deterministic quantizer
  * convention as AnnIvf.assign). The ADC join keys on (m, code) against
  * a queries × m × ksub LUT (broadcast), and the per-(query, vector)
  * score is a decimal(28,12)-exact sum of m partial dots —
  * order-independent, hence reproducible in external SQL. At 100 TB
  * the encoded table (id, m, code) is what you persist; raw vectors
  * are only read at codebook-fit and encode time.
  */
object AnnPq {

  /** (id, m, sub): the corpus split into m contiguous subspaces of
    * subDim dims each (dim must equal m × subDim). */
  private def subspaces(df: DataFrame, idCol: String, vecCol: String,
                        m: Int, subDim: Int): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col("v"), i * subDim + 1, lit(subDim)))).as(Seq("m", "sub")))

  /** (m, cid, centroid): ksub stride-init centroids per subspace —
    * deterministic by id order, no float training ([[trainCodebooks]]
    * Lloyd-refines them with AnnIvf.fitExact's decimal-exact mean). */
  def fitCodebooks(df: DataFrame, idCol: String, vecCol: String,
                   m: Int, subDim: Int, ksub: Int): DataFrame = {
    val n = df.count()
    val stride = math.max(n / ksub, 1L)
    val w = Window.partitionBy(col("m")).orderBy(col("id"))
    // r18 (guide §3.3): the codebook is m × ksub rows but its plan
    // carries a corpus subspace pass + the count job — and every serve
    // path consumes it twice (encode + the query LUT), re-running both
    // (PlanAudit: 8 embeddings scans in q_ann_recall_ivfpq, now 3).
    // Checkpoint the tiny result; values unchanged.
    subspaces(df, idCol, vecCol, m, subDim)
      .filter(pmod(col("id"), lit(stride)) === 0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= ksub)
      .select(col("m"), (col("rn") - 1).cast("long").as("cid"),
        col("sub").as("centroid"))
      .eagerCheckpoint()
  }

  /** Lloyd-refine the codebooks: re-center each (subspace, code) cell
    * on the decimal(28,12)-exact mean of its members (the same
    * order-independent averaging as AnnIvf.recenterExact, keyed by
    * subspace too). One scan + one shuffle per pass; codebooks stay
    * broadcast-sized. Covered by AnnSpec recall assertions; `q_ann_pq`
    * oracles the untrained stride-init path. */
  def trainCodebooks(df: DataFrame, codebooks: DataFrame, idCol: String,
                     vecCol: String, m: Int, subDim: Int,
                     iters: Int): DataFrame = {
    val subs = subspaces(df, idCol, vecCol, m, subDim)
    var cb = codebooks
    for (_ <- 0 until iters)
      // per-pass localCheckpoint (r18): without it pass i+1's plan
      // embeds and RE-EXECUTES every previous pass (the AnnIvf
      // `localized` rationale — the table is m × ksub rows)
      cb = encode(df, cb, idCol, vecCol, m, subDim)
        .join(subs, Seq("id", "m"))
        .select(col("m"), col("code").as("cid"),
          posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("mv"))
        .groupBy(col("m"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          s => s.getField("mv")).as("centroid"))
        .eagerCheckpoint()
    cb
  }

  /** (id, m, code): per-subspace quantization codes. */
  def encode(df: DataFrame, codebooks: DataFrame, idCol: String,
             vecCol: String, m: Int, subDim: Int): DataFrame =
    subspaces(df, idCol, vecCol, m, subDim)
      .join(broadcast(codebooks), "m")
      .select(col("id"), col("m"), col("cid"),
        Vectors.cosine(col("sub"), col("centroid")).as("sim"))
      .groupBy(col("id"), col("m"))
      .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("code"))

  /** Persist fitted codebooks as a parquet artifact (m, cid, centroid)
    * — the PQ half of the fit-once/serve-many contract (see
    * AnnIvf.saveIndex): encode jobs and streaming ingest load the SAME
    * quantizer codebooks instead of re-fitting, so codes stay
    * comparable across batches. m × ksub sub-vectors — one tiny file. */
  def saveCodebooks(codebooks: DataFrame, path: String): Unit =
    codebooks.select(col("m"), col("cid"), col("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load persisted codebooks for [[encode]]/[[annTopK]] reuse. */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(path).select(col("m"), col("cid"), col("centroid"))

  /** The ADC serve half against an ALREADY-ENCODED corpus — the
    * fit-once/serve-many entry: `enc` and `codebooks` are typically
    * loaded parquet artifacts (see IndexedSearch). LUT =
    * dot(q_m, centroid) per (query, subspace, cid); score = exact
    * decimal sum of the m code lookups. Returns (q_id, rn, n_id). */
  def searchEncoded(enc: DataFrame, codebooks: DataFrame,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, m: Int = 8, subDim: Int = 8): DataFrame = {
    val lut = subspaces(queries, idCol, vecCol, m, subDim)
      .withColumnRenamed("id", "q_id").withColumnRenamed("sub", "qs")
      .join(broadcast(codebooks), "m")
      .select(col("q_id"), col("m"), col("cid"),
        Vectors.dot(col("qs"), col("centroid")).as("pdot"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    enc.join(broadcast(lut),
        enc("m") === lut("m") && enc("code") === lut("cid"))
      .filter(col("id") =!= col("q_id"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("pdot").cast("decimal(28,12)")).cast("double").as("score"))
      .select(col("q_id"), col("id").as("n_id"), col("score"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("n_id"))
  }

  /** The IVF×PQ composed serve — cell-prune, THEN ADC: each query
    * probes its nprobe max-cosine coarse cells (AnnIvf.probes) and
    * ADC-scores ONLY those cells' PQ codes. `enc` must carry the cell
    * id alongside the codes — (id, m, code, cid) — which is how
    * IndexedSearch.fit persists the codes artifact (partitioned by
    * cid). The probed cid set (≤ nlist, driver-tiny) is pushed as a
    * STATIC `isin` filter, so a cid-partitioned artifact prunes at the
    * file level before any row is read; the per-query scoping join and
    * the LUT are both broadcast. Raw vectors are never touched: coarse
    * probing reads the broadcast centroid table, scoring reads codes —
    * at 100 TB a query costs nprobe/nlist of the CODES (m bytes per
    * vector), the compute-side and memory-side scale dials composed.
    * Returns (q_id, rn, n_id). */
  def searchEncodedPruned(enc: DataFrame, codebooks: DataFrame,
                          centroids: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          nprobe: Int = 4, m: Int = 8, subDim: Int = 8)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(enc.columns.contains("cid"),
      "searchEncodedPruned needs cell ids on the codes — (id, m, code, " +
        "cid); refit the artifact (IndexedSearch.fit) or join the codes " +
        "with the IVF assignment first")
    val probes = AnnIvf.probes(centroids, queries, idCol, vecCol, nprobe)
      .select(col("q_id").as("pq_qid"), col("cid").cast("long").as("cell"))
    // static cell pruning: the probed cid set is at most nlist values —
    // collected once, pushed into the scan as a partition filter
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val lut = subspaces(queries, idCol, vecCol, m, subDim)
      .withColumnRenamed("id", "lq_qid").withColumnRenamed("sub", "qs")
      .join(broadcast(codebooks), "m")
      .select(col("lq_qid"), col("m").as("lm"), col("cid").as("lc"),
        Vectors.dot(col("qs"), col("centroid")).as("pdot"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    enc.select(col("id"), col("m"), col("code"),
        col("cid").cast("long").as("cell"))
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("pq_qid"))
      .join(broadcast(lut), col("pq_qid") === col("lq_qid") &&
        col("m") === col("lm") && col("code") === col("lc"))
      .groupBy(col("pq_qid").as("q_id"), col("id"))
      .agg(sum(col("pdot").cast("decimal(28,12)")).cast("double").as("score"))
      .select(col("q_id"), col("id").as("n_id"), col("score"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("n_id"))
  }

  /** [[searchEncodedPruned]] fitting both quantizers inline with the
    * deterministic stride-init (no Lloyd refinement, no float
    * averaging — the oracle-replayable path q_ann_recall_ivfpq runs;
    * production persists artifacts via IndexedSearch.fit and serves
    * with serveIvfPq). Returns (q_id, rn, n_id). */
  def annTopKIvfPq(df: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nlist: Int = 16,
                   nprobe: Int = 4, m: Int = 8, subDim: Int = 8,
                   ksub: Int = 16): DataFrame = {
    val centroids = AnnIvf.fitExact(df, idCol, vecCol, nlist, iters = 0)
    val assigned = AnnIvf.assign(df, centroids, idCol, vecCol)
    val cb = fitCodebooks(df, idCol, vecCol, m, subDim, ksub)
    val enc = encode(df, cb, idCol, vecCol, m, subDim)
      .join(assigned.select(col("id"), col("cid")), "id")
    searchEncodedPruned(enc, cb, centroids, queries, idCol, vecCol,
      k, nprobe, m, subDim)
  }

  /** Top-k by ADC inner-product score, fitting codebooks inline
    * (test/bench path; production persists artifacts and serves via
    * [[searchEncoded]]). Returns (q_id, rn, n_id). */
  def annTopK(df: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, m: Int = 8, subDim: Int = 8,
              ksub: Int = 16, iters: Int = 0): DataFrame = {
    val codebooks = trainCodebooks(df,
      fitCodebooks(df, idCol, vecCol, m, subDim, ksub),
      idCol, vecCol, m, subDim, iters)
    val enc = encode(df, codebooks, idCol, vecCol, m, subDim)
    searchEncoded(enc, codebooks, queries, idCol, vecCol, k, m, subDim)
  }
}
