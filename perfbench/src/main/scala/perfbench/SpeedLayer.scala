package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.ParquetResultStore
import graft.streaming.{FileStream, StoreSink, StreamingTopK}

/** The speed layer as an open loop: a separate single-threaded generator
  * process drops one small parquet file per tick into the hour layout,
  * at a fixed rate, while a processing-time-triggered stream counts
  * hashtags in short event-time windows and upserts every micro-batch
  * into a ParquetResultStore keyed on `win_start|token`. Lag and
  * throughput are computed by run.py from the generator's log, the
  * stream's file log and the upsert return times recorded here. */
final class SpeedLayer(data: String, work: String, seed: Long, python: String, gen: String)
    extends Main.Workload {
  import SpeedLayer._

  private def counts(spark: SparkSession, in: String): DataFrame =
    StreamingTopK.windowedCounts(FileStream.parquet(spark, in, Schema),
      "ts", "hashtag", WindowDur, Watermark)
      .withColumn("key", concat_ws("|", col("win_start").cast("long"), col("token")))

  def setup(spark: SparkSession): Unit = counts(spark, s"$data/warm").schema

  def warm(spark: SparkSession): Unit = {
    val dir = s"$work/speed-warm"
    BatchHour.deleteTree(Paths.get(dir))
    val store = new ParquetResultStore(spark, s"$dir/store", "key", "win_start")
    StoreSink.start(counts(spark, s"$data/warm"), store, s"$dir/ckpt").awaitTermination()
  }

  def measure(spark: SparkSession, seconds: Int, tracer: Tracer,
              out: Main.Outcomes): Main.Result = {
    val dir = s"$work/speed"
    BatchHour.deleteTree(Paths.get(dir))
    val in = s"$dir/in"
    Files.createDirectories(Paths.get(in))
    val store = new TimedStore(new ParquetResultStore(spark, s"$dir/store", "key", "win_start"),
      s"$dir/store", tracer)
    val q: StreamingQuery = StoreSink.writer(counts(spark, in), store, s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(TriggerMs, TimeUnit.MILLISECONDS)).start()
    val o0 = tracer.nowMs
    val log = s"$dir/gen.jsonl"
    val proc = new ProcessBuilder(python, gen, "--out", in, "--seed", seed.toString,
      "--seconds", (seconds + RampS).toString, "--log", log)
      .redirectErrorStream(true).redirectOutput(Paths.get(s"$dir/gen.out").toFile).start()
    val genOk = try proc.waitFor(seconds + RampS + 60L, TimeUnit.SECONDS) && proc.exitValue == 0
      finally if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }
    out.attempt("stream") {
      require(genOk, s"generator failed: ${new String(Files.readAllBytes(Paths.get(s"$dir/gen.out")))}")
      q.processAllAvailable()
    }
    val watermark = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli.toDouble).getOrElse(Double.NaN)
    q.stop()
    val ops = Seq(Op("run", o0, tracer.nowMs))
    Main.Result(
      metrics = Map.empty,
      layers = r => store.layers(b =>
        r.batches.find(_.batchId == b).map(_.rowsUpdated).getOrElse(0L)),
      outputs = Map("store" -> s"$dir/store", "gen_log" -> log, "file_log" -> s"$dir/ckpt/sources/0",
        "watermark_ms" -> watermark, "window_ms" -> WindowMs, "ramp_s" -> RampS,
        "upserts" -> store.upsertReturns.toSeq.map { case (b, t) => Seq(b, t) }),
      ops = ops)
  }
}

object SpeedLayer {
  val WindowMs = 2000L
  val WindowDur = "2 seconds"
  val Watermark = "1 second"
  /** Longer than a micro-batch takes here, so batches do not queue. */
  val TriggerMs = 3000L
  /** The generator runs this much longer than the measured period; files
    * due in the first RampS seconds are checked but not timed. */
  val RampS = 4
  /** The files' columns plus the hour layout's partition columns. */
  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("hashtag", StringType)) ++
    Seq("year", "month", "day", "hour").map(StructField(_, IntegerType)))
}
