package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken-style):
  * hash all character k-grams, slide a window of w hashes, keep each
  * window's minimum — guarantees any match of length ≥ k + w − 1 shares
  * a fingerprint, with ~2/(w+1) selection density.
  *
  * One scan, all builtin functions. The k-gram hash array is staged
  * through a projection so the winnowing lambda captures an attribute —
  * capturing the gram subtree would re-hash the whole text per window
  * (O(n²); see the Dedup scaladoc evaluation-shape rule).
  */
object Fingerprint {

  /** (id, fps): winnowed fingerprint set, distinct + sorted, via the
    * one-pass native expression (hash-identical to
    * HofReference.fingerprintDfHof, asserted in NativeExprSpec). The
    * k-gram hash is the md5-prefix 60-bit value an external SQL oracle
    * reproduces as `('0x' || substring(md5(gram), 1, 15))::BIGINT`, so
    * the whole fingerprint is oracle-checkable, not just
    * rows-countable. */
  def fingerprintMd5Df(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.NativeExpressions.winnow(col(textCol), k, w).as("fps"))

  /** (id, fp) exploded pairs for overlap joins. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4): DataFrame =
    fingerprintMd5Df(docs, idCol, textCol, k, w)
      .select(col("id"), explode(col("fps")).as("fp"))

  /** Docs sharing ≥ minShared fingerprints — plagiarism-style overlap.
    * The join is per-fingerprint (equi), never all-pairs. */
  def overlapPairs(docs: DataFrame, idCol: String, textCol: String,
                   minShared: Int, k: Int = 8, w: Int = 4): DataFrame = {
    val fps = fingerprints(docs, idCol, textCol, k, w)
    fps.as("a").join(fps.as("b"),
      col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
