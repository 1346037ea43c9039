package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Random-hyperplane (sign-bit) LSH for approximate nearest neighbor
  * and embedding near-dup over `array<float>` columns.
  *
  * Scale shape: one scan computes a small bucket key per vector per
  * table; joins are equi-joins on (table, bucket), so the pairwise
  * work is per-bucket. More tables buy recall linearly in cost;
  * brute force (Ann.bruteForceTopK) is the exactness baseline.
  */
object AnnLsh {

  /** Rademacher (±1) hyperplanes with each sign drawn from the parity
    * of md5("t,p,d")'s first hex nibble — sign-random-projection with
    * ±1 components is a standard LSH family (Achlioptas-style sparse
    * projections), and this derivation is reproducible inside an ANSI
    * SQL oracle (`instr('13579bdf', substring(md5(...), 1, 1))`), so
    * bucket assignments can be cross-checked engine-to-engine. */
  def md5SignPlanes(tables: Int, numPlanes: Int, dim: Int): Seq[Seq[Seq[Double]]] =
    (0 until tables).map(md5SignPlane(_, numPlanes, dim))

  /** One md5-parity plane table for an arbitrary tag — lets other
    * operators (e.g. SemDedup's cell-skew guard) draw planes from a
    * namespace disjoint from the LSH tables' 0..tables-1 tags. */
  def md5SignPlane(tag: Int, numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map(p => (0 until dim).map { d =>
      val dig = md.digest(s"$tag,$p,$d".getBytes("UTF-8"))
      if (((dig(0) >> 4) & 1) == 1) 1.0 else -1.0
    })
  }

  /** Embedding quantized to integer-valued doubles: floor(x·10⁶). With
    * ±1 plane components every dot product is then EXACT integer
    * arithmetic carried in doubles (|sum| ≪ 2⁵³ at any realistic dim),
    * so the sign — and hence the bucket — is bit-identical across
    * engines and summation orders. Quantization at 10⁻⁶ resolution does
    * not meaningfully change the LSH family's collision geometry. */
  private[operators] def quantized(vec: Column): Column =
    transform(vec.cast("array<double>"), x => floor(x * lit(1e6)).cast("double"))

  /** (id, vec, table, bucket) exploded across `tables` independent LSH
    * tables of md5-parity ±1 planes over quantized vectors —
    * deterministic and oracle-reproducible; `vec` stays the ORIGINAL
    * embedding for the exact-cosine verify stage downstream. All
    * tables' bucket keys come from one fused codegen'd pass over the
    * vector (NativeExpressions.HyperplaneBuckets), not tables × planes
    * interpreted HOF dots. */
  def bucketedExact(df: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int, tables: Int, dim: Int): DataFrame = {
    val planes = md5SignPlanes(tables, numPlanes, dim)
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      posexplode(graft.functions.NativeExpressions.hyperplaneBuckets(
        quantized(col(vecCol)), planes)).as(Seq("table", "bucket")))
  }

  /** Approximate top-k cosine neighbors: candidates = corpus vectors
    * sharing any table bucket with the query (bucketedExact), then
    * exact cosine + rank on candidates only. */
  def annTopKExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, numPlanes: Int = 6,
                   tables: Int = 8, dim: Int = 64): DataFrame = {
    val cb = bucketedExact(corpus, idCol, vecCol, numPlanes, tables, dim)
      .select(col("id").as("n_id"), col("vec").as("n_vec"), col("table"), col("bucket"))
    val qb = bucketedExact(queries, idCol, vecCol, numPlanes, tables, dim)
      .select(col("id").as("q_id"), col("vec").as("q_vec"), col("table"), col("bucket"))
    // cosine BEFORE the (q_id, n_id) dedup: sim is functionally
    // dependent on the pair, so dedup carries 3 scalars through the
    // shuffle instead of two dim-wide vectors.
    val cands = qb.join(cb, Seq("table", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        Vectors.cosine(col("q_vec"), col("n_vec")).as("sim"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id").asc)
    cands
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "rn", "n_id", "sim")
  }

  /** Embedding near-dup pairs: cosine ≥ theta, candidates from shared
    * LSH buckets (bucketedExact), exact cosine verify. */
  def cosineNearDupsExact(df: DataFrame, idCol: String, vecCol: String,
                          theta: Double, numPlanes: Int = 6, tables: Int = 8,
                          dim: Int = 64): DataFrame = {
    // r19: the bucket join and cosine verify run over one
    // representative per bit-identical vector (ContentGroups); verbatim
    // duplicates collide in every LSH table and square the per-bucket
    // self-join.
    import graft.Materialize._
    val mem = ContentGroups.members(
        df.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec")
      .eagerCheckpoint() // (id, sid, cnt, vec): reps + expansions
    val repPairs = cosineNearDupsFrom(bucketedExact(ContentGroups.reps(mem),
        "id", "vec", numPlanes, tables, dim), theta)
      .select(col("i").as("sa"), col("j").as("sb"), col("sim"))
    ContentGroups.pairs(mem, "vec", repPairs, directed = false)(
      (a, b) => Seq(Vectors.cosine(a, b).as("sim")), col("sim") >= theta)
  }

  private def cosineNearDupsFrom(b: DataFrame, theta: Double): DataFrame = {
    // cosine + theta filter BEFORE the (i, j) dedup — the shuffle for
    // dropDuplicates then carries only the surviving scalar triples,
    // never the dim-wide vectors.
    b.as("a").join(b.as("b"),
      col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        Vectors.cosine(col("a.vec"), col("b.vec")).as("sim"))
      .filter(col("sim") >= theta)
      .dropDuplicates("i", "j")
  }
}
