package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, Vectors}
import graft.operators.Dedup

/** The higher-order-function formulations the native expressions
  * replaced (`Dedup.shingleDf`/`signatureDf`, the SimHash64Md5
  * signature of `Dedup.simHashNearDupsMd5`,
  * `Fingerprint.fingerprintMd5Df`, `Vectors.cosine`, the LSH bucket
  * keys of `AnnLsh.bucketedExact`). Interpreted and slow,
  * but built only from Spark builtins: NativeExprSpec and TextStatsSpec
  * assert the native paths against them as parity oracles. */
object HofReference {

  /** The md5-60bit hash identity the SimHash and winnowing twins share:
    * the first 15 hex digits of md5(s) as a long. */
  private def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The HOF formulation shingleDf replaced — kept as the parity
    * reference (NativeExprSpec asserts element-identical output). */
  def shingleDfHof(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("id"),
        when(size(col("tk")) >= n,
          array_distinct(transform(sequence(lit(1), size(col("tk")) - lit(n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n))))))
          .otherwise(array().cast("array<string>")).as("sh"))

  /** HOF reference implementation of signatureDf: one builtin xxhash64
    * per shingle, then numHashes seeded rehashes xxhash64(h, i, seed)
    * with array_min — ANSI-safe, arrays staged, but interpreted. Kept
    * as the parity oracle for the native expression. */
  def signatureDfHof(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 64,
                     seed: Long = 0x5EED): DataFrame =
    Dedup.shingleDf(docs, idCol, textCol, shingleN)
      .select(col("id"), transform(col("sh"), s => xxhash64(s)).as("hs"))
      .select(col("id"),
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => array_min(transform(col("hs"), h => xxhash64(h, i, lit(seed)))))
          .as("sig"))

  private val BitMasks: Seq[Long] = (0 until 64).map(1L << _)

  /** HOF reference implementation of the (id, sig) SimHash64Md5
    * signatures over lowercase whitespace tokens — per-bit weighted
    * vote of token md5-60bit hash bits packed into one long, 64
    * interpreted passes over the staged hash array. Kept as the parity
    * oracle. */
  def simHashDfHof(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val masks = typedlit(BitMasks)
    docs
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(lower(col(textCol))).as("tk"))
      .select(col("id"), transform(col("tk"), md5Hash60(_)).as("hs"))
      .select(col("id"),
        aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, j) => {
          val mask = element_at(masks, j + 1)
          val vote = aggregate(col("hs"), lit(0L),
            (a, h) => a + when(h.bitwiseAND(mask) =!= 0L, lit(1L)).otherwise(lit(-1L)))
          acc + when(vote > 0, mask).otherwise(lit(0L))
        }).as("sig"))
  }

  /** HOF reference implementation, kept as the parity oracle for the
    * native expression. */
  def fingerprintDfHof(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4): DataFrame =
    docs
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .select(col("id"),
        when(length(col("t")) >= k,
          transform(sequence(lit(1), length(col("t")) - lit(k - 1)),
            i => md5Hash60(substr(col("t"), i, lit(k)))))
          .otherwise(array().cast("array<bigint>")).as("g"))
      .select(col("id"),
        when(size(col("g")) - lit(w - 1) >= 1,
          array_sort(array_distinct(transform(
            sequence(lit(1), size(col("g")) - lit(w - 1)),
            i => array_min(slice(col("g"), i, lit(w)))))))
          .otherwise(array_sort(array_distinct(col("g")))).as("fps"))

  /** HOF reference implementation, kept as the parity oracle. */
  def cosineHof(a: Column, b: Column): Column =
    Vectors.dot(a, b) / (Vectors.l2norm(a) * Vectors.l2norm(b))

  /** Sign-bit bucket key: bit i = [v · planeᵢ > 0]. HOF reference
    * implementation, kept as the parity oracle for the native
    * expression used by `bucketedExact`. */
  def bucketKey(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(Vectors.dot(vec, typedlit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
}
