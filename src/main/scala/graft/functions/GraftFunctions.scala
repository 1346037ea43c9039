package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import NativeExpressions._

/** SQL-name registration for the native expressions, so `spark.sql`
  * users get them too: graft_cosine, graft_hamming, graft_minhash,
  * graft_simhash64_md5, graft_md5_60, graft_nfc, graft_ngrams,
  * graft_lsh_buckets, graft_zorder. SURVEY §2.5 lists the same names
  * (SurveySpec holds the two in step). Wire at session build time via
  * `spark.sql.extensions=graft.GraftExtensions`, or post-hoc with
  * `GraftFunctions.register(spark)`.
  */
object GraftFunctions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }
  private def litLong(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))),
    (FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[HammingDist].getName, "graft_hamming"),
      (es: Seq[Expression]) => HammingDist(es(0), es(1))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (es: Seq[Expression]) => es match {
        case Seq(c) => MinHashSig(c, 64, 0x5EED)
        case Seq(c, n) => MinHashSig(c, litInt(n, "numHashes"), 0x5EED)
        case Seq(c, n, s) => MinHashSig(c, litInt(n, "numHashes"), litLong(s, "seed"))
        case _ => throw new IllegalArgumentException("graft_minhash(arr[, numHashes[, seed]])")
      }),
    (FunctionIdentifier("graft_simhash64_md5"),
      new ExpressionInfo(classOf[SimHash64Md5].getName, "graft_simhash64_md5"),
      (es: Seq[Expression]) => SimHash64Md5(es(0))),
    // graft_md5_60(s): the repo's replayable md5-60bit hash identity,
    // fused (== conv(substring(md5(s),1,15),16,10) cast long)
    (FunctionIdentifier("graft_md5_60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "graft_md5_60"),
      (es: Seq[Expression]) => Md5Prefix60(es(0))),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (es: Seq[Expression]) => NfcNormalize(es(0))),
    // graft_ngrams(text, n[, distinct]): one-pass word n-grams
    (FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "graft_ngrams"),
      (es: Seq[Expression]) => es match {
        case Seq(c, n) => WordNGrams(c, litInt(n, "n"), distinct = false)
        case Seq(c, n, Literal(d: Boolean, _)) => WordNGrams(c, litInt(n, "n"), d)
        case _ => throw new IllegalArgumentException("graft_ngrams(text, n[, distinct])")
      }),
    // graft_lsh_buckets(vec, tables, planes): all hyperplane bucket
    // keys in one pass over AnnLsh.md5SignPlanes (dim fixed at 64 for
    // SQL use; pass the 1e-6-quantized vector to replay bucketedExact)
    (FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_lsh_buckets"),
      (es: Seq[Expression]) => es match {
        case Seq(c, tbl, pl) =>
          HyperplaneBuckets(c, graft.operators.AnnLsh.md5SignPlanes(
            litInt(tbl, "tables"), litInt(pl, "planes"), 64)
            .map(_.map(_.toArray).toArray).toArray)
        case _ => throw new IllegalArgumentException(
          "graft_lsh_buckets(vec, tables, planes)")
      }),
    // graft_zorder(x, y[, bits]): Morton-interleave clustering key
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrder].getName, "graft_zorder"),
      (es: Seq[Expression]) => es match {
        case Seq(x, y) => ZOrder(x, y, 16)
        case Seq(x, y, b) => ZOrder(x, y, litInt(b, "bits"))
        case _ => throw new IllegalArgumentException("graft_zorder(x, y[, bits])")
      }))

  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
