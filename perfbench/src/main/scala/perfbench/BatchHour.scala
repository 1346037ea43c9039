package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.time.temporal.ChronoUnit
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TopK
import graft.sources.{ParquetResultStore, ResultStore, Sinks, TableLoader, TimeWindow}
import graft.streaming.StoreSink

/** Deterministic tweet source: tweet `i` of hour `h` is a pure function
  * of (seed, h, i), so the executors that write the corpus and the
  * Spark driver that counts the expected hashtags agree without sharing
  * anything but the seed. Hashtags follow a Zipf law over `Tags` tags;
  * each tweet carries 0 to 4 of them. */
final case class TweetGen(seed: Long) {
  import TweetGen._
  @transient private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(Tags)(r => 1.0 / math.pow(r + 1, Skew))
    val s = w.sum
    var acc = 0.0
    w.map { x => acc += x / s; acc }
  }
  private def rng(h: Int, i: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (h.toLong << 40) ^ i)
  private def rank(r: SplittableRandom): Int = {
    val k = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (k >= 0) k else -k - 1, Tags - 1)
  }
  /** Tag names are permuted by the seed, so each seed has its own top tags. */
  def tagName(rank: Int): String =
    "h" + java.lang.Long.toString((rank * 7919L + seed * 104729L) % Tags + Tags, 36)

  def tags(h: Int, i: Long): Array[String] = {
    val r = rng(h, i)
    val n = TagsPerTweet(r.nextInt(TagsPerTweet.length))
    Array.fill(n)(tagName(rank(r)))
  }

  def row(h: Int, i: Long, hourStart: Long): Row = {
    val tg = tags(h, i)
    val r = rng(h, ~i)
    val words = Array.fill(6 + r.nextInt(10))(Words(r.nextInt(Words.length)))
    Row(h.toLong * 100000000L + i, new Timestamp(hourStart + r.nextLong(3600000L)),
      r.nextLong(1000000L), Langs(r.nextInt(Langs.length)), words.mkString(" "),
      tg.toSeq)
  }
}

object TweetGen {
  val Tags = 40000
  val Skew = 1.05
  /** 0 to 4 hashtags, skewed toward one or two. */
  val TagsPerTweet: Array[Int] = Array(0, 0, 1, 1, 1, 2, 2, 2, 3, 4)
  val Words: Array[String] = ("the a spark stream batch window hour top count tweet " +
    "data fast slow big small join scan sort merge value key row").split(" ")
  val Langs: Array[String] = Array("en", "fr", "es", "de", "ja")
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("created_at", TimestampType),
    StructField("user_id", LongType), StructField("lang", StringType),
    StructField("text", StringType), StructField("hashtags", ArrayType(StringType))))
}

/** The reference job as a closed loop with one client: a sequence of
  * one-hour windows over a partitioned Avro corpus, then one backfill
  * window over every hour. Each window follows BatchJob.run's call
  * sequence, exploding `hashtags` and keying the store on
  * `win_start|token`. */
final class BatchHour(data: String, work: String) extends Main.Workload {
  import BatchHour._

  private val manifest = Manifest.read(s"$data/manifest.json")
  private val hours = manifest("hours").asInstanceOf[Double].toInt
  private val corpus = s"$data/tweets"

  def setup(spark: SparkSession): Unit =
    TableLoader.read(spark, "avro", corpus).schema

  /** One window, BatchJob.run's sequence; returns its wall time. */
  private def window(spark: SparkSession, w: TimeWindow, out: String, store: ResultStore,
                     tracer: Tracer): Double = {
    val t0 = System.nanoTime()
    val tweets = tracer.span("sources", "TableLoader.read") {
      TableLoader.read(spark, "avro", corpus)
    }.filter(w.partitionFilter(col("year"), col("month"), col("day"), col("hour")))
    val top = tracer.span("operators", "TopK.topKeys") {
      TopK.topKeys(tweets.select(col("hashtags")), "hashtags", 10)
    }
    tracer.span("sources", "Sinks.csv") { Sinks.csv(top, out) }
    val rows = top.withColumn("win_start", lit(Timestamp.from(w.start)))
      .withColumn("key", concat_ws("|", col("win_start").cast("long"), col("token")))
    tracer.span("streaming", "StoreSink.publishWindow") {
      StoreSink.publishWindow(store, rows, w.start, w.end)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def hourWindow(h: Int): TimeWindow = {
    val s = Start.plus(h.toLong, ChronoUnit.HOURS)
    TimeWindow(s, s.plus(1, ChronoUnit.HOURS))
  }
  private def backfillWindow = TimeWindow(Start, Start.plus(hours.toLong, ChronoUnit.HOURS))

  private def storePath = s"$work/batch/store"

  /** Every hour, then the backfill, published into the measured store:
    * the window path keeps speeding up over the first several windows as
    * it is compiled. */
  def warm(spark: SparkSession): Unit = {
    val store = new ParquetResultStore(spark, storePath, "key", "win_start")
    val off = new Tracer(false)
    val ts = (0 until hours).map(h => window(spark, hourWindow(h), s"$work/warm/csv$h", store, off)) :+
      window(spark, backfillWindow, s"$work/warm/backfill", store, off)
    System.err.println(s"warm-up windows (s): ${ts.map(t => f"$t%.2f").mkString(" ")}")
  }

  /** `n` untraced backfills into the measured store, which holds the
    * backfill's rows by then; for the core-count comparison of a traced
    * run. */
  def backfills(spark: SparkSession, n: Int): Seq[Double] = {
    val store = new ParquetResultStore(spark, storePath, "key", "win_start")
    (1 to n).map(i => window(spark, backfillWindow, s"$work/parallel/csv$i", store, new Tracer(false)))
  }

  def measure(spark: SparkSession, seconds: Int, tracer: Tracer,
              out: Main.Outcomes): Main.Result = {
    val outDir = s"$work/batch"
    val store = new TimedStore(new ParquetResultStore(spark, storePath, "key", "win_start"),
      storePath, tracer)
    val ops = mutable.ArrayBuffer[Op]()
    val times = mutable.ArrayBuffer[Double]()
    var tagsCounted = 0.0
    val tagsByHour = manifest("tag_occurrences_by_hour").asInstanceOf[Seq[Double]]
    val csvs = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    var i = 0
    // every hour at least once, so the store holds every hour's rows
    while (i < hours || (System.nanoTime() - t0) / 1e9 < seconds) {
      val h = i % hours
      val csv = s"$outDir/csv/w$i"
      val o0 = tracer.nowMs
      out.attempt(s"window hour=$h") { window(spark, hourWindow(h), csv, store, tracer) }
        .foreach { dt =>
          times += dt
          tagsCounted += tagsByHour(h)
          csvs += Map("window" -> s"hour$h", "path" -> csv)
        }
      ops += Op("window", o0, tracer.nowMs)
      i += 1
    }
    val before = storeRows(spark, storePath)
    val backfills = (1 to Backfills).flatMap { b =>
      val o0 = tracer.nowMs
      val dt = out.attempt("window backfill") {
        window(spark, backfillWindow, s"$outDir/csv/backfill$b", store, tracer)
      }
      ops += Op("backfill", o0, tracer.nowMs)
      dt.foreach(_ => csvs += Map("window" -> "backfill", "path" -> s"$outDir/csv/backfill$b"))
      dt
    }
    val backfillS = Main.median(backfills)
    Main.Result(
      metrics = Map(
        "op_p50_s" -> Main.median(times.toSeq),
        "tail_op_s" -> backfillS,
        "throughput_per_s" -> tagsCounted / times.sum),
      // the files graft's read lists, before the window's partition filter
      layers = _ => store.layers(_ => 10L) ++ Map("sources.files_listed" ->
        TableLoader.read(spark, "avro", corpus).inputFiles.length.toDouble),
      outputs = Map("csv" -> csvs.toSeq, "store_before_backfill" -> before,
        "store_final" -> storeRows(spark, storePath),
        "window_s" -> times.toSeq, "backfills_s" -> backfills, "backfill_s" -> backfillS),
      ops = ops.toSeq)
  }

  private def storeRows(spark: SparkSession, path: String): Seq[Seq[Any]] =
    if (!Files.exists(Paths.get(path))) Nil
    else spark.read.parquet(path).select(col("win_start").cast("long"), col("token"), col("cnt"))
      .collect().toSeq.map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2)))
}

object BatchHour {
  /** Enough tweets an hour that reading, exploding and counting them
    * outweighs a window's fixed costs (planning, scheduling, the store
    * rewrite); few enough hours that a new seed's corpus is written in
    * about 20 s. */
  val Hours = 2
  val TweetsPerHour = 750000
  val FilesPerHour = 4
  /** The backfill is timed this many times per run; its median is reported. */
  val Backfills = 3
  val Start: Instant = ZonedDateTime.of(2024, 3, 1, 0, 0, 0, 0, ZoneOffset.UTC).toInstant

  /** Writes the corpus with graft's Avro sink, one directory per hour in
    * the year=/month=/day=/hour= layout, and a manifest holding the
    * expected counts, computed here by replaying TweetGen on the driver. */
  def generate(seed: Long, data: String, hours: Int, perHour: Int, cores: Int): Unit = {
    val t0 = System.nanoTime()
    val tmp = s"$data.tmp"
    deleteTree(Paths.get(tmp))
    val spark = Main.session(cores, s"$tmp/work")
    val gen = TweetGen(seed)
    (0 until hours).foreach { h =>
      val start = Start.plus(h.toLong, ChronoUnit.HOURS)
      val z = ZonedDateTime.ofInstant(start, ZoneOffset.UTC)
      val dir = f"$tmp/tweets/year=${z.getYear}/month=${z.getMonthValue}%02d/day=${z.getDayOfMonth}%02d/hour=${z.getHour}%02d"
      val ms = start.toEpochMilli
      val rdd = spark.sparkContext.range(0L, perHour.toLong, 1L, FilesPerHour)
        .map(i => gen.row(h, i, ms))
      Sinks.avro(spark.createDataFrame(rdd, TweetGen.schema), dir)
    }
    System.err.println(s"perfbench: corpus written in ${(System.nanoTime() - t0) / 1e9} s")
    // expected counts: the same pure function, independent of graft
    val total = mutable.HashMap[String, Long]()
    var hash = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { hash = (hash ^ x) * 0x100000001b3L }
    val occurrences = Array.fill(hours)(0L)
    val perHourTop = (0 until hours).map { h =>
      val counts = mutable.HashMap[String, Long]()
      var i = 0L
      while (i < perHour) {
        val tg = gen.tags(h, i)
        mix(i); mix(tg.length.toLong)
        tg.foreach { t =>
          counts(t) = counts.getOrElse(t, 0L) + 1
          total(t) = total.getOrElse(t, 0L) + 1
          mix(t.hashCode.toLong)
          occurrences(h) += 1
        }
        i += 1
      }
      s"hour$h" -> top10(counts)
    }
    val files = Files.walk(Paths.get(s"$tmp/tweets")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".avro"))
    val m = Map(
      "seed" -> seed, "hours" -> hours, "rows" -> hours.toLong * perHour,
      "files" -> files.size, "bytes" -> files.map(Files.size(_)).sum,
      "hash" -> java.lang.Long.toHexString(hash), "tag_occurrences" -> occurrences.sum,
      "tag_occurrences_by_hour" -> occurrences.toSeq,
      "start_epoch_s" -> Start.getEpochSecond,
      "expected_top10" -> (perHourTop.toMap + ("backfill" -> top10(total))))
    Files.writeString(Paths.get(s"$tmp/manifest.json"), Json.value(m))
    System.err.println(s"perfbench: expected counts done at ${(System.nanoTime() - t0) / 1e9} s")
    spark.stop()
    deleteTree(Paths.get(s"$tmp/work"))
    Files.move(Paths.get(tmp), Paths.get(data))
  }

  private def top10(c: mutable.HashMap[String, Long]): Seq[Seq[Any]] =
    c.toSeq.sortBy { case (t, n) => (-n, t) }.take(10).map { case (t, n) => Seq(t, n) }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => Files.delete(x))
}

/** ResultStore wrapper that records a span around each call graft makes
  * into the store, and in traced runs the store's size after each
  * rewrite. */
final class TimedStore(inner: ResultStore, path: String, tracer: Tracer)
    extends ResultStore {
  private val rewrites = mutable.ArrayBuffer[(Long, Long)]() // (bytes after, batch id)
  val upsertReturns = mutable.ArrayBuffer[(Long, Double)]()   // (batch id, return ms)

  private def batchId: Long =
    Option(org.apache.spark.sql.SparkSession.active.sparkContext
      .getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)

  def rangeDelete(from: Instant, to: Instant): Unit =
    tracer.span("sources", "ResultStore.rangeDelete") { inner.rangeDelete(from, to) }

  def upsert(rows: org.apache.spark.sql.DataFrame): Unit = {
    tracer.span("sources", "ResultStore.upsert") { inner.upsert(rows) }
    val b = batchId
    synchronized { upsertReturns += ((b, System.currentTimeMillis().toDouble)) }
    if (tracer.enabled) synchronized { rewrites += ((dirBytes, b)) }
  }

  def read(): org.apache.spark.sql.DataFrame = inner.read()

  private def dirBytes: Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(x => Files.isRegularFile(x) && x.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum
  }

  /** store_rewrite_bytes_per_row: bytes rewritten per row upserted;
    * store_bytes_per_row: the final store's bytes per row it holds.
    * `rowsOf` gives the rows an upsert carried, by micro-batch id. */
  def layers(rowsOf: Long => Long): Map[String, Double] = {
    val rows = rewrites.map { case (_, b) => rowsOf(b) }.sum
    val last = rewrites.lastOption.map(_._1).getOrElse(0L)
    lazy val held = if (Files.exists(Paths.get(path)))
      org.apache.spark.sql.SparkSession.active.read.parquet(path).count() else 0L
    if (!tracer.enabled) Map.empty
    else Map(
      "sources.store_rewrite_bytes_per_row" -> rewrites.map(_._1).sum.toDouble / math.max(rows, 1L),
      "sources.store_bytes_per_row" -> last.toDouble / math.max(held, 1L))
  }
}

/** Reads the generator's manifest (flat JSON) with Spark's own parser. */
object Manifest {
  def read(path: String): Map[String, Any] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    parse(txt)
  }
  def parse(txt: String): Map[String, Any] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    def conv(x: Any): Any = x match {
      case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> conv(v) }.toMap
      case l: java.util.List[_] => l.asScala.map(conv).toSeq
      case n: java.lang.Number => n.doubleValue
      case o => o
    }
    conv(new ObjectMapper().readValue(txt, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
  }
}
