package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** IVF-style ANN: a k-means-lite coarse quantizer partitions the corpus
  * into nlist cells; queries probe only the nprobe nearest cells.
  *
  * Scale shape: fit is a few Lloyd passes (each one scan + one shuffle
  * on cluster id); the centroid table is tiny and always broadcast.
  * Search touches nprobe/nlist of the corpus instead of all of it —
  * that fraction is the recall/cost dial. Assignments would be written
  * bucketed-by-cell at 100 TB so a probe is a partition-pruned read.
  */
object AnnIvf {

  /** Deterministic init: every ⌈n/k⌉-th vector by id order. The cid is
    * stamped on the DRIVER over the collected ≤ k rows (they are about
    * to be `localized` anyway) — a row_number window here would be a
    * single-partition WindowExec whose warning then drowns out REAL
    * regressions of that class in driver logs, and
    * monotonically_increasing_id depends on physical partitioning, not
    * reproducible in an external oracle. */
  private def initCentroids(df: DataFrame, idCol: String, vecCol: String,
                            k: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val n = df.count()
    val stride = math.max(n / k, 1L)
    val spark = df.sparkSession
    val picked = df.filter(pmod(col(idCol), lit(stride)) === 0)
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>").as("centroid"))
    val rows = picked.collect().zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(i.toLong, r.get(0))
    }.toSeq
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType, nullable = false))).add(
      picked.schema.fields(0).copy(name = "centroid")))
  }

  /** Assign each vector to its max-cosine centroid (centroids broadcast;
    * max_by keeps the argmax without a second shuffle).
    *
    * `simRound`: round the similarity to that many decimals BEFORE the
    * argmax. Two engines computing cosine through different float
    * expression trees can disagree by a few ULP; on a near-tie between
    * two centroids that flips the assignment. Rounding to 9 decimals
    * collapses the near-tie to an exact tie on BOTH engines, and the
    * low-cid tie-break then resolves it identically — the repo-wide
    * round(9) parity rule applied to an ORDERING key. The oracle-exact
    * paths (fitExact / q_kmeans) pass Some(9); the engine-internal ANN
    * paths keep the raw double (their oracles replay the same tree). */
  def assign(df: DataFrame, centroids: DataFrame, idCol: String,
             vecCol: String, simRound: Option[Int] = None): DataFrame = {
    val rawSim = Vectors.cosine(col("vec"), col("centroid"))
    val sim = simRound.map(d => round(rawSim, d)).getOrElse(rawSim)
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"), sim.as("sim"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cid"),
        first(col("vec")).as("vec"))
  }

  /** Lloyd update with ORACLE-EXACT arithmetic: the elementwise mean
    * per cell via posexplode + regroup (array_sort on (pos, mean)
    * structs keeps element order exact), from per-dim decimal(28,12)
    * sums (order-independent, exact on any engine) cast to double, then
    * one IEEE double division by the member count. The mean is
    * quantized at 1e-12 — immaterial for clustering — and in exchange
    * the whole Lloyd pass reproduces bit-for-bit in external SQL,
    * which a double `avg` (accumulation-order-dependent) cannot. */
  private def recenterExact(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("vec").cast("array<double>"))
        .as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** Materialize a centroid DataFrame to a driver-local copy. The
    * centroid table is nlist × dim doubles (broadcast-sized by
    * construction) — landing it on the driver between Lloyd passes is
    * the standard k-means shape (MLlib does the same) and truncates the
    * plan lineage, which otherwise re-embeds and RE-EXECUTES every
    * previous iteration inside each new one (observed: 30 s and
    * super-linear growth per extra iteration at sf0.1). */
  private def localized(spark: SparkSession, centroids: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = centroids.select(col("cid"), col("centroid")).collect().toSeq
    spark.createDataFrame(rows.asJava, centroids.select("cid", "centroid").schema)
  }

  /** Fit nlist centroids with `iters` oracle-exact Lloyd passes. Each
    * pass is one scan + one shuffle; the tiny centroid result is
    * localized so pass i+1's plan does not contain pass i's. Results
    * are reproducible in external SQL (the path `q_kmeans` runs). The
    * assignment inside each pass uses the tie-safe round(9) argmax
    * (see `assign`) so a near-tie between centroids resolves the same
    * on any engine replaying the pass. iters = 0 keeps the stride-init
    * centroids. */
  def fitExact(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
               iters: Int): DataFrame = {
    var centroids = localized(df.sparkSession, initCentroids(df, idCol, vecCol, nlist))
    for (_ <- 0 until iters)
      centroids = localized(df.sparkSession,
        recenterExact(assign(df, centroids, idCol, vecCol, simRound = Some(9))))
    centroids
  }

  /** The (q_id, q_vec, cid) probe set: each query's nprobe max-cosine
    * cells (tie → low cid). Queries × nprobe rows — always
    * broadcast-sized relative to the corpus; shared by [[search]]'s
    * exact re-rank and AnnPq.searchEncodedPruned's composed IVF×PQ
    * serve. */
  def probes(centroids: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probeW = Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)
    queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_vec"), col("cid"),
        Vectors.cosine(col("q_vec"), col("centroid")).as("csim"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "q_vec", "cid")
  }

  /** Probe the nprobe max-cosine cells per query, exact-rank inside. */
  def search(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = this.probes(centroids, queries, idCol, vecCol, nprobe)
    val rankW = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id").asc)
    // the probe set is (queries × nprobe) rows — orders of magnitude
    // smaller than the assigned corpus; broadcast it so the per-cell
    // candidate scan never shuffles the corpus (static planner picks
    // SMJ here because the window child's size is unknown)
    broadcast(probes).join(assigned.select(col("id").as("n_id"), col("vec").as("n_vec"),
        col("cid")), Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        Vectors.cosine(col("q_vec"), col("n_vec")).as("sim"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select("q_id", "rn", "n_id", "sim")
  }

  /** Persist a fitted centroid table as a parquet ARTIFACT — the
    * fit-once/serve-many contract of a production vector index: a
    * pipeline fits centroids on one corpus snapshot, saves them, and
    * every later query (or streaming ingest) loads the same quantizer
    * instead of re-fitting per job. The table is nlist × dim doubles —
    * one tiny file; coalesce(1) keeps the artifact a single object. */
  def saveIndex(centroids: DataFrame, path: String): Unit =
    centroids.select(col("cid"), col("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted centroid table. Centroids are broadcast-sized by
    * construction, so the read is one footer + one row group; the
    * returned frame drops straight into [[assign]]/[[search]]. */
  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("cid"), col("centroid"))

  /** Convenience: fit + assign + search in one call (test/bench path).
    * iters = 0 keeps the deterministic stride-init centroids with no
    * Lloyd refinement — still a real IVF index (probe-pruned search),
    * but with zero floating-point averaging, so the whole result is
    * reproducible in an external SQL oracle. */
  def annTopK(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 1): DataFrame = {
    val centroids = fitExact(df, idCol, vecCol, nlist, iters)
    val assigned = assign(df, centroids, idCol, vecCol)
    search(assigned, centroids, queries, idCol, vecCol, k, nprobe)
  }

  /** Simplified (centroid-based) silhouette per cluster — the
    * clustering-QUALITY report for the IVF/k-means cells (Rousseeuw
    * 1987's s_i with centroid distances standing in for mean pairwise
    * distances — the O(n·k) production variant; the O(n²) original is
    * exactly the blow-up this library exists to avoid). With cosine
    * dissimilarity d = 1 − sim and s2 = best OTHER-centroid similarity:
    * s_i = (s1 − s2) / (1 − s2), in [−1, 1], guarded to 0 when the
    * vector coincides with a foreign centroid. Similarities round(9)
    * BEFORE the argmax ranking (the `assign` tie rule) so both engines
    * pick identical own/next centroids; per-vector scores round(9)
    * into a DECIMAL sum, per-cluster mean round(6).
    *
    * Scale shape: centroids broadcast (k rows), one corpus scan, the
    * top-2 window partitions on the VECTOR id — thousands of tiny
    * k-row partitions, never a global sort. */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
                 nlist: Int = 16): DataFrame = {
    require(nlist >= 2,
      "silhouette needs >= 2 clusters: with one centroid there is no " +
        "'nearest other cluster' and every score is undefined")
    silhouetteWith(df, fitExact(df, idCol, vecCol, nlist, iters = 0),
      idCol, vecCol)
  }

  /** [[silhouette]] against an EXISTING centroid table — the overload
    * that grades the clustering production actually serves (r13
    * verdict: the default overload refits stride-init cells, so it
    * scores a DIFFERENT clustering than the one `IndexedSearch.fit`
    * persisted; a quality gate on the served index must take the
    * served centroids). Same scale shape: centroids broadcast, one
    * corpus scan, id-partitioned top-2 window. A degenerate
    * single-centroid table scores 0 via the s2-null guard rather than
    * erroring — the artifact path can't require nlist at the call
    * site. */
  def silhouetteWith(df: DataFrame, centroids: DataFrame,
                     idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroids.select(col("cid"), col("centroid"))
    val sims = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("cid"),
        round(Vectors.cosine(col("vec"), col("centroid")), 9).as("sim"))
    val w = Window.partitionBy(col("id")).orderBy(col("sim").desc, col("cid"))
    val pivot = sims.withColumn("rr", row_number().over(w))
      .filter(col("rr") <= 2)
      .groupBy(col("id"))
      .agg(max(when(col("rr") === 1, col("sim"))).as("s1"),
        max(when(col("rr") === 1, col("cid"))).as("cid"),
        max(when(col("rr") === 2, col("sim"))).as("s2"))
    // s2 NULL = a degenerate corpus yielded one centroid despite the
    // nlist require (e.g. a single distinct id) — score 0, never NULL
    val sil = when(col("s2").isNull || lit(1.0) - col("s2") === 0.0, lit(0.0))
      .otherwise(round((col("s1") - col("s2")) / (lit(1.0) - col("s2")), 9))
    pivot.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        round(sum(sil.cast("decimal(28,9)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_sil"))
      .orderBy(col("cid"))
  }

  /** [[silhouetteWith]] over an EXISTING assignment — grades the
    * partition AS SERVED: the own-cell similarity comes from the row's
    * persisted cid (never re-derived through the round(9) argmax, whose
    * tie rule can disagree with the raw-double argmax that wrote the
    * artifact), the neighbor is the best OTHER centroid. A vector
    * sitting in a cell the argmax would no longer pick scores negative
    * — the honest reading for a misplaced member, which a re-derived
    * assignment silently hides by moving the vector first. Same scale
    * shape: centroids broadcast into one scan of the assigned corpus,
    * per-id pivot via conditional max, cell-sized rollup. */
  def silhouetteAssigned(assigned: DataFrame, centroids: DataFrame,
                         idCol: String, vecCol: String,
                         cidCol: String = "cid"): DataFrame = {
    val cents = centroids.select(col("cid").as("c2"), col("centroid"))
    val sims = assigned
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        col(cidCol).as("own"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("own"), col("c2"),
        round(Vectors.cosine(col("vec"), col("centroid")), 9).as("sim"))
    val pivot = sims.groupBy(col("id"), col("own"))
      .agg(max(when(col("c2") === col("own"), col("sim"))).as("s1"),
        max(when(col("c2") =!= col("own"), col("sim"))).as("s2"))
    // s1 NULL = the row's persisted cid matched NO centroid — a stale
    // or mismatched index generation. Fail FAST: letting the NULL
    // vanish into the decimal sum while n still counts the row would
    // silently pull mean_sil toward 0, and a quality gate reading a
    // corrupted artifact would see a plausible number (r14 advice).
    // (s2 NULL stays a soft 0: a single-centroid table is a degenerate
    // but internally consistent artifact, not corruption.)
    val sil = when(col("s1").isNull, raise_error(concat(
        lit("silhouetteAssigned: assigned cid "), col("own").cast("string"),
        lit(" of vector id "), col("id").cast("string"),
        lit(" is absent from the centroid table — stale or mismatched " +
          "index generation")).cast("double")))
      .when(col("s2").isNull || lit(1.0) - col("s2") === 0.0, lit(0.0))
      .otherwise(round((col("s1") - col("s2")) / (lit(1.0) - col("s2")), 9))
    pivot.groupBy(col("own"))
      .agg(count(lit(1)).as("n"),
        round(sum(sil.cast("decimal(28,9)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_sil"))
      .select(col("own").as("cid"), col("n"), col("mean_sil"))
      .orderBy(col("cid"))
  }
}
