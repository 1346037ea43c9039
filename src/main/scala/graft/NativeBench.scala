package graft
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.operators.Dedup
object NativeBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val d = "/root/testdata/sf0.1"
    val emb = Tables.load(spark, d, "embeddings").cache(); emb.count()
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"bench: $label%-28s ${(System.nanoTime()-t0)/1e9}%7.2fs rows=$n")
    }
    val docs = Tables.load(spark, d, "documents").cache(); docs.count()
    // full self-join cosine scan (the ANN hot loop)
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("vb"))
    time("cosine native full-join") { a.join(b, col("i") < col("j"))
      .select(Vectors.cosine(col("va"), col("vb")).as("c")).filter(col("c") > 2).count() }
    time("cosine HOF full-join") { a.join(b, col("i") < col("j"))
      .select(Vectors.cosineHof(col("va"), col("vb")).as("c")).filter(col("c") > 2).count() }
    time("minhash native") { Dedup.signatureDf(docs, "doc_id", "text").agg(count(lit(1))).head(); docs.count() }
    time("minhash HOF") { Dedup.signatureDfHof(docs, "doc_id", "text").agg(count(lit(1))).head(); docs.count() }
    time("simhash native") { Dedup.simHashDf(docs, "doc_id", "text").agg(bit_xor(col("sig"))).head(); docs.count() }
    time("simhash HOF") { Dedup.simHashDfHof(docs, "doc_id", "text").agg(bit_xor(col("sig"))).head(); docs.count() }
    time("ngrams native (5-gram)") { Dedup.shingleDf(docs, "doc_id", "text", 5)
      .agg(sum(size(col("sh")))).head(); docs.count() }
    time("ngrams HOF (5-gram)") { Dedup.shingleDfHof(docs, "doc_id", "text", 5)
      .agg(sum(size(col("sh")))).head(); docs.count() }
    // winnowing fingerprints (k-gram hash + sliding min)
    import graft.operators.Fingerprint
    time("winnow native") { Fingerprint.fingerprintDf(docs, "doc_id", "text")
      .agg(sum(size(col("fps")))).head(); docs.count() }
    time("winnow HOF") { Fingerprint.fingerprintDfHof(docs, "doc_id", "text")
      .agg(sum(size(col("fps")))).head(); docs.count() }
    // all-tables LSH bucket keys per vector
    import graft.operators.AnnLsh
    val planes = (0 until 8).map(t => AnnLsh.hyperplanes(6, 64, 0xA11L + t))
    time("lsh buckets native") { emb.select(
      graft.functions.NativeExpressions.hyperplaneBuckets(
        col("embedding").cast("array<double>"), planes).as("ks"))
      .agg(sum(size(col("ks")))).head(); emb.count() }
    time("lsh buckets HOF") { emb.select(
      array(planes.map(p => AnnLsh.bucketKey(col("embedding"), p)): _*).as("ks"))
      .agg(sum(size(col("ks")))).head(); emb.count() }
    // grouped top-k: custom two-phase operator vs window row_number
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, d, "events")
      .select(col("user_id"), col("event_id"), col("value")).cache(); ev.count()
    time("group-topk custom") {
      graft.plans.GroupTopK.topKPerGroup(ev, 3, Seq(col("user_id")),
        Seq(col("value").desc, col("event_id").asc)).count() }
    time("group-topk window") {
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id").asc)
      ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).drop("rn").count() }
    // zorder: native magic-mask spread vs the 10-term static expansion
    val ord = Tables.load(spark, d, "orders")
      .select(pmod(col("o_custkey"), lit(1024L)).as("x"),
        pmod(unix_date(col("o_orderdate").cast("date")).cast("long"), lit(1024L)).as("y"))
      .cache(); ord.count()
    time("zorder native") { ord.select(
      graft.functions.NativeExpressions.zorder(col("x"), col("y"), 10).as("z"))
      .agg(bit_xor(col("z"))).head(); ord.count() }
    time("zorder static expansion") {
      val z = (0 until 10).map { bb =>
        shiftleft(col("x").bitwiseAND(lit(1L << bb)), bb) +
          shiftleft(col("y").bitwiseAND(lit(1L << bb)), bb + 1)
      }.reduce(_ + _)
      ord.select(z.as("z")).agg(bit_xor(col("z"))).head(); ord.count() }
    // md5-60bit identity: fused native vs conv(substring(md5)) —
    // interleaved A/B/A/B on one synthetic relation so box noise hits
    // both variants equally
    val ids = spark.range(5000000L)
      .select(concat(lit("boot:"), col("id"), lit(":"), col("id") % 200).as("s"))
      .cache(); ids.count()
    for (round <- 1 to 2) {
      time(s"md5-60 native (r$round)") { ids.select(
        graft.functions.NativeExpressions.md5Prefix60(col("s")).as("h"))
        .agg(bit_xor(col("h"))).head(); ids.count() }
      time(s"md5-60 composition (r$round)") { ids.select(
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
        .agg(bit_xor(col("h"))).head(); ids.count() }
    }
    spark.stop()
  }
}
