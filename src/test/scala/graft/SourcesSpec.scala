package graft

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.TopK
import graft.sources._
import graft.streaming.StoreSink

class SourcesSpec extends SparkSpec {

  test("TimeWindow.previousHour is the full prior hour") {
    val w = TimeWindow.previousHour(Instant.parse("2024-01-15T10:17:23Z"))
    assert(w.start === Instant.parse("2024-01-15T09:00:00Z"))
    assert(w.end === Instant.parse("2024-01-15T10:00:00Z"))
  }

  test("TimeWindow.partitionFilter rejects a window that is not hour-aligned") {
    val w = TimeWindow(Instant.parse("2024-01-01T00:30:00Z"), Instant.parse("2024-01-01T01:30:00Z"))
    val e = intercept[IllegalArgumentException] {
      w.partitionFilter(col("year"), col("month"), col("day"), col("hour"))
    }
    assert(e.getMessage.contains("2024-01-01T00:30:00Z"), e.getMessage)
    // aligned windows still build
    TimeWindow.hour(2024, 1, 1, 0).partitionFilter(col("year"), col("month"), col("day"), col("hour"))
  }

  test("TableLoader roundtrips csv and json with schema") {
    val dir = tmpDir("loader")
    val src = table("nation")
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    src.write.mode("overwrite").json(s"$dir/json")
    val csv = TableLoader.read(spark, "csv", s"$dir/csv", Some(src.schema))
    val json = TableLoader.read(spark, "json", s"$dir/json", Some(src.schema))
    assert(csv.count() === src.count())
    assert(json.count() === src.count())
    assert(csv.schema === src.schema)
  }

  test("TableLoader rejects unknown formats") {
    intercept[IllegalArgumentException] {
      TableLoader.read(spark, "carbonfiber", "/nope")
    }
  }

  test("Sinks.csv writes a single header'd file (reference sink shape)") {
    val dir = tmpDir("csvsink")
    Sinks.csv(SparkEntry.queries("q_top10_tokens")(spark, sf), s"$dir/out")
    val files = new java.io.File(s"$dir/out").listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head === "token,cnt")
    assert(lines.size === 11) // header + top 10
  }

  test("partitioned hour layout roundtrip with partition pruning") {
    val dir = tmpDir("partsrc")
    val events = table("events")
    Sinks.partitionedByHour(events, "ts", dir)
    val all = PartitionedSource.read(spark, dir)
    assert(all.count() === events.count())

    val w = TimeWindow.day(2024, 1, 15)
    val window = PartitionedSource.readWindow(spark, dir, w)
    val expected = events.filter(w.predicate(col("ts"))).count()
    assert(window.count() === expected)
    // pruning: the window predicate must land in the scan's partition
    // filters (inputFiles is listing-level and pruning-blind)
    val plan = window.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("year"), s"expected partition filters, plan line: $pf")
    assert(!pf.matches(".*PartitionFilters: \\[\\s*\\].*"))
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    val dir = tmpDir("dpp")
    table("orders")
      .withColumn("bucket", (col("o_orderkey") % 8).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // the selective predicate lives on the DIM side — the fact's
    // partition filter can only come from the runtime subquery DPP plants
    val dim = spark.range(8)
      .select(col("id").cast("int").as("bucket"), (col("id") * 10).as("w"))
      .filter(col("w") === 20)
    val joined = fact.join(dim, "bucket")
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    val rows = joined.collect()
    assert(rows.length === 1 && rows.head.getInt(0) === 2)
  }

  test("clustered write: files carry pairwise-disjoint sort-key ranges") {
    val dir = tmpDir("clustered")
    Sinks.clustered(table("orders"), s"$dir/z", "o_orderkey", numFiles = 4)
    val files = new java.io.File(s"$dir/z").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length === 4)
    // per-file min/max must not overlap — that disjointness is exactly
    // what lets footer stats prune a key-range predicate to few files
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, ranges.mkString(","))
      case _ =>
    }
    assert(spark.read.parquet(s"$dir/z").count() === table("orders").count())
  }

  test("compact rewrites a many-small-file dir to the target count, row-identical") {
    val dir = tmpDir("compact")
    val orders = table("orders")
    // simulate micro-batch appends: 24 splinter files
    orders.repartition(24).write.parquet(s"$dir/t")
    val before = new java.io.File(s"$dir/t").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(before === 24)
    val n = Sinks.compact(spark, s"$dir/t", targetBytes = 8L << 20)
    val after = new java.io.File(s"$dir/t").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(after === n && after < before, s"$before -> $after")
    def sameRows(path: String): Unit = {
      val got = spark.read.parquet(path)
      assert(got.count() === orders.count())
      assert(got.agg(sum(col("o_orderkey"))).head().getLong(0) ===
        orders.agg(sum(col("o_orderkey"))).head().getLong(0))
    }
    sameRows(s"$dir/t")
    // the same 24-file layout addressed as a file:// URI, with a target
    // of a third of its bytes: compact must size the directory through
    // the path's Hadoop FileSystem and write several files, not one
    orders.repartition(24).write.parquet(s"$dir/u")
    def parquetFiles(p: String) = new java.io.File(p).listFiles
      .filter(_.getName.endsWith(".parquet"))
    val bytes = parquetFiles(s"$dir/u").map(_.length).sum
    val uri = "file://" + new java.io.File(s"$dir/u").getAbsolutePath
    val m = Sinks.compact(spark, uri, targetBytes = bytes / 3)
    assert(m >= 2 && parquetFiles(s"$dir/u").length === m, s"24 -> $m")
    sameRows(s"$dir/u")
  }

  test("merge sink: update/insert/delete/pass-through with loud metrics and key-unique guard") {
    import SparkSpec.spark.implicits._
    val dir = tmpDir("merge")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("key", "tag", "bal").write.parquet(s"$dir/t")
    // 1 → update; 3 → delete; 5 → insert; 6 → delete-of-absent (no-op);
    // 2 and 4 untouched. The op column steers deleteWhen but must not
    // land in the table.
    val src = Seq(
      (1L, "a2", 11.0, "U"), (3L, "c", 0.0, "D"),
      (5L, "e", 50.0, "U"), (6L, "x", 0.0, "D"))
      .toDF("key", "tag", "bal", "op")
    Sinks.merge(spark, s"$dir/t", src, Seq("key"),
      deleteWhen = col("op") === "D")
    val got = spark.read.parquet(s"$dir/t")
    assert(got.columns.sorted.toSeq === Seq("bal", "key", "tag"),
      "op marker must not land in the table")
    val rows = got.collect()
      .map(r => r.getAs[Long]("key") ->
        ((r.getAs[String]("tag"), r.getAs[Double]("bal")))).toMap
    assert(rows === Map(
      1L -> (("a2", 11.0)), 2L -> (("b", 20.0)),
      4L -> (("d", 40.0)), 5L -> (("e", 50.0))))
    // crash-safety debris is gone after a clean merge
    assert(!new java.io.File(s"$dir/t.compact.tmp").exists())
    assert(!new java.io.File(s"$dir/t.compact.old").exists())
    // ANSI MERGE double-match: a key-duplicated source fails loudly
    val dup = Seq((1L, "a", 1.0, "U"), (1L, "a", 2.0, "U"))
      .toDF("key", "tag", "bal", "op")
    val e = intercept[IllegalArgumentException] {
      Sinks.merge(spark, s"$dir/t", dup, Seq("key"))
    }
    assert(e.getMessage.contains("key-unique"))
    // and the failed attempt never touched the table
    assert(spark.read.parquet(s"$dir/t").count() === 4)
    // idempotent replay: re-merging the same change set is a fixpoint
    Sinks.merge(spark, s"$dir/t", src, Seq("key"),
      deleteWhen = col("op") === "D")
    val again = spark.read.parquet(s"$dir/t").collect()
      .map(r => r.getAs[Long]("key")).sorted.toSeq
    assert(again === Seq(1L, 2L, 4L, 5L))
  }

  test("avro sink round-trips orders through TableLoader (built-in tier)") {
    // no spark-avro module jar is deployed, but Spark 4.1 ships the
    // Avro file format inside spark-sql itself — Sinks and TableLoader
    // name it by class, so the reference's input format
    // (App.java:93-95) actually executes.
    val dir = tmpDir("avro-sink")
    val orders = table("orders")
    Sinks.avro(orders, s"$dir/o")
    val back = TableLoader.read(spark, "avro", s"$dir/o")
    assert(back.schema === orders.schema)
    assert(back.count() === orders.count())
    assert(back.agg(sum(col("o_orderkey"))).head().getLong(0) ===
      orders.agg(sum(col("o_orderkey"))).head().getLong(0))
    assert(back.agg(sum(col("o_totalprice"))).head().getDouble(0) ===
      orders.agg(sum(col("o_totalprice"))).head().getDouble(0))
    assert(back.exceptAll(orders).count() === 0L)
    assert(orders.exceptAll(back).count() === 0L)
  }

  test("avro read splits one coalesced file; each row lands exactly once") {
    val dir = tmpDir("avro-split")
    val li = table("lineitem")
    Sinks.avro(li.coalesce(1), s"$dir/l")
    assert(new java.io.File(s"$dir/l").listFiles
      .count(_.getName.endsWith(".avro")) === 1)
    // a tiny split size: one physical file, many partitions
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (32L << 10).toString)
    try {
      val back = TableLoader.read(spark, "avro", s"$dir/l")
      assert(back.rdd.getNumPartitions > 1,
        s"expected >1 split, got ${back.rdd.getNumPartitions}")
      assert(back.count() === li.count())
      assert(back.exceptAll(li).count() === 0L)
      assert(li.exceptAll(back).count() === 0L)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("avro scan decodes only the selected column; count() stays exact") {
    val dir = tmpDir("avro-prune")
    Sinks.avro(table("orders"), s"$dir/o")
    val narrow = TableLoader.read(spark, "avro", s"$dir/o").select("o_orderkey")
    val scan = narrow.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.requiredSchema.fieldNames.toSeq === Seq("o_orderkey"),
      s"scan decodes ${scan.requiredSchema.simpleString}")
    assert(narrow.agg(sum(col("o_orderkey"))).head().getLong(0) ===
      table("orders").agg(sum(col("o_orderkey"))).head().getLong(0))
    // zero-column scan (count(*) shape) still counts rows correctly
    assert(TableLoader.read(spark, "avro", s"$dir/o").count() ===
      table("orders").count())
  }

  test("avro round-trips complex types: arrays, structs, maps, nulls") {
    val dir = tmpDir("avro-complex")
    val df = spark.sql(
      """SELECT id,
        |  CASE WHEN id % 3 = 0 THEN NULL ELSE concat('s', id) END AS s,
        |  array(cast(id AS float), cast(id * 2 AS float)) AS vec,
        |  named_struct('a', id, 'b', concat('x', id)) AS st,
        |  map('k1', id, 'k2', id * 10) AS m,
        |  cast(id AS decimal(12,2)) / 7 AS dec,
        |  to_date(date_add(date'2024-01-01', cast(id AS int))) AS d,
        |  unbase64('3q2+7w==') AS bin
        |FROM range(0, 100)""".stripMargin)
    Sinks.avro(df, s"$dir/c")
    val back = TableLoader.read(spark, "avro", s"$dir/c")
    // names and types round-trip exactly; a file scan reads every
    // column back as nullable, so compare nullability-blind
    assert(back.schema.catalogString === df.schema.catalogString)
    assert(back.count() === 100L)
    // set-ops reject MAP columns: canonicalize the map to sorted entries
    def cmp(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("m", array_sort(map_entries(col("m"))))
    assert(cmp(back).exceptAll(cmp(df)).count() === 0L)
    assert(cmp(df).exceptAll(cmp(back)).count() === 0L)
    // embeddings: the real array<float> testdata table round-trips too
    val e = table("embeddings")
    Sinks.avro(e, s"$dir/e")
    val eBack = TableLoader.read(spark, "avro", s"$dir/e")
    assert(eBack.schema === e.schema)
    assert(eBack.exceptAll(e).count() === 0L)
  }

  test("avro append mode accumulates; overwrite replaces it") {
    val dir = tmpDir("avro-modes")
    val o = table("orders").select("o_orderkey")
    Sinks.avro(o, s"$dir/t")
    Sinks.avro(o, s"$dir/t", mode = org.apache.spark.sql.SaveMode.Append)
    assert(TableLoader.read(spark, "avro", s"$dir/t").count() === 2 * o.count())
    Sinks.avro(o, s"$dir/t")
    assert(TableLoader.read(spark, "avro", s"$dir/t").count() === o.count())
  }

  test("service registrations load; graft registers only graft-table") {
    // ServiceLoader instantiates each provider line: a line naming a
    // deleted class throws here instead of breaking every later
    // format() lookup in the session
    import scala.jdk.CollectionConverters._
    val providers = java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister])
      .asScala.toList
    val ours = providers.filter(_.getClass.getName.startsWith("graft."))
    assert(ours.map(_.shortName()) === List("graft-table"))
  }

  test("recoverCompact heals a swap torn between the two renames") {
    val dir = tmpDir("compact-recover")
    val orders = table("orders")
    orders.repartition(4).write.parquet(s"$dir/t")
    val nRows = orders.count()

    // torn AFTER rename(path -> .compact.old), BEFORE tmp landed: the
    // live path is missing and tmp is incomplete (no _SUCCESS) → roll back
    assert(new java.io.File(s"$dir/t").renameTo(new java.io.File(s"$dir/t.compact.old")))
    new java.io.File(s"$dir/t.compact.tmp").mkdirs() // partial write, no marker
    Sinks.recoverCompact(s"$dir/t")
    assert(spark.read.parquet(s"$dir/t").count() === nRows)
    assert(!new java.io.File(s"$dir/t.compact.old").exists())
    assert(!new java.io.File(s"$dir/t.compact.tmp").exists())

    // torn AFTER tmp completed but BEFORE the forward rename: _SUCCESS
    // present → roll forward to the compacted copy
    orders.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/t.compact.tmp")
    assert(new java.io.File(s"$dir/t").renameTo(new java.io.File(s"$dir/t.compact.old")))
    Sinks.recoverCompact(s"$dir/t")
    assert(spark.read.parquet(s"$dir/t").count() === nRows)
    assert(!new java.io.File(s"$dir/t.compact.old").exists())

    // idempotent on a healthy dir
    Sinks.recoverCompact(s"$dir/t")
    assert(spark.read.parquet(s"$dir/t").count() === nRows)
  }

  test("DenseId: 0..n-1 in key order without a single-partition pass") {
    val docs = table("documents").select("doc_id", "source")
    // AQE rightly coalesces the small frame; disable that so the
    // never-a-global-funnel assert sees the scale plan shape
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val ids = try graft.operators.DenseId.assign(docs, Seq("doc_id"))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(ids.rdd.getNumPartitions > 1) // never a global funnel
    val rows = ids.select("doc_id", "dense_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === docs.count())
    // dense ids are exactly the rank in doc_id order
    val sorted = rows.sortBy(_._1)
    assert(sorted.map(_._2).toSeq === sorted.indices.map(_.toLong))
    spark.catalog.clearCache()
  }

  test("schema evolution: mergeSchema unions parquet schemas, old rows null-fill") {
    val dir = tmpDir("evolve")
    import SparkSpec.spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t/batch=1")
    Seq((3L, "c", 9.5)).toDF("id", "v", "score").write.parquet(s"$dir/t/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.sorted.toSeq === Seq("batch", "id", "score", "v"))
    val rows = merged.select("id", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows === Map(1L -> null, 2L -> null, 3L -> 9.5))
  }

  test("corrupt JSON records land in _corrupt_record instead of failing the read") {
    val dir = tmpDir("corrupt")
    val f = new java.io.File(s"$dir/in.json")
    java.nio.file.Files.writeString(f.toPath,
      """{"id": 1, "v": "ok"}
        |{not json at all
        |{"id": 3, "v": "fine"}""".stripMargin)
    val schema = "id BIGINT, v STRING, _corrupt_record STRING"
    val df = spark.read.schema(schema)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(f.getPath).cache() // cache: corrupt-record column needs the full row
    try {
      assert(df.count() === 3)
      assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
      assert(df.filter(col("id").isNotNull).count() === 2)
    } finally df.unpersist()
  }

  test("Trigger.AvailableNow drains the backlog and terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("avnow")
    table("events").limit(100).write.json(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.json(s"$dir/in").schema)
      .json(s"$dir/in")
    val q = stream.writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive) // drained everything, then stopped on its own
    assert(spark.read.parquet(s"$dir/out").count() === 100)
  }

  test("BatchJob: window scan -> top10 -> csv + store publish (reference contract)") {
    val dir = tmpDir("batchjob")
    Sinks.partitionedByHour(table("events"), "ts", s"$dir/hours")
    BatchJob.run(spark, s"$dir/hours", s"$dir/out", TimeWindow.day(2024, 1, 15))
    val csv = new java.io.File(s"$dir/out/top10")
      .listFiles.filter(_.getName.endsWith(".csv"))
    assert(csv.length === 1)
    val lines = scala.io.Source.fromFile(csv.head).getLines().toSeq
    assert(lines.head === "token,cnt")
    assert(lines.size > 1)
    val store = new ParquetResultStore(spark, s"$dir/out/results", "key", "win_start")
    assert(store.read().count() === lines.size - 1)
  }

  /** Records read by the file-scan stages of the jobs `body` runs; reads
    * of materialized top-k rows are not file scans. */
  private def fileScanRecords(body: => Unit): Long = {
    val group = s"file-scans-${java.util.UUID.randomUUID}"
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageInfos.filter(_.rddInfos.exists(_.name.contains("FileScanRDD")))
            .foreach(si => scanStages.add(si.stageId))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          reads.add(e.stageId -> m.inputMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    listening(listener) {
      sc.setJobGroup(group, "file scans")
      try body finally sc.clearJobGroup()
    }
    reads.asScala.collect { case (st, n) if scanStages.contains(st) => n }.sum
  }

  test("BatchJob scans its window once for both sinks") {
    val dir = tmpDir("batchjob_once")
    Sinks.partitionedByHour(table("events"), "ts", s"$dir/hours")
    val w = TimeWindow.day(2024, 1, 15)
    val windowRows = PartitionedSource.readWindow(spark, s"$dir/hours", w).count()
    assert(windowRows > 0)
    val scanned = fileScanRecords(BatchJob.run(spark, s"$dir/hours", s"$dir/out", w))
    assert(scanned === windowRows, s"window of $windowRows rows read $scanned records")
  }

  test("the reference call sequence reads its window once") {
    // two hours of tweets with a hashtag array, in the hour layout the
    // reference reads (App.java:93-95)
    val dir = tmpDir("reference_once")
    for (h <- 0 until 2)
      Sinks.avro(spark.range(0, 400).select(col("id"),
        array((1 to 3).map(i => concat(lit("t"), ((col("id") * i + h) % 7).cast("string"))): _*)
          .as("hashtags")),
        s"$dir/tweets/year=2024/month=03/day=01/hour=0$h")
    val w = TimeWindow.hour(2024, 3, 1, 1)
    def tweets = TableLoader.read(spark, "avro", s"$dir/tweets")
      .filter(w.partitionFilter(col("year"), col("month"), col("day"), col("hour")))
    val windowRows = tweets.count()
    assert(windowRows === 400)
    val store = new ParquetResultStore(spark, s"$dir/store", "key", "win_start")
    val scanned = fileScanRecords {
      val top = TopK.topKeys(tweets.select(col("hashtags")), "hashtags", 10)
      Sinks.csv(top, s"$dir/top10")
      StoreSink.publishWindow(store, StoreSink.windowKeyed(
        top.withColumn("win_start", lit(java.sql.Timestamp.from(w.start))), "win_start"),
        w.start, w.end)
    }
    assert(scanned === windowRows, s"window of $windowRows rows read $scanned records")
    assert(store.read().count() === 7)
  }

  test("BatchJob: publishing consecutive hours keeps both hours' rows") {
    val dir = tmpDir("batchjob2")
    Sinks.partitionedByHour(table("events"), "ts", s"$dir/hours")
    val hours = Seq(TimeWindow.hour(2024, 1, 1, 0), TimeWindow.hour(2024, 1, 1, 1))
    val published = hours.map { w =>
      BatchJob.run(spark, s"$dir/hours", s"$dir/out", w)
      val csv = new java.io.File(s"$dir/out/top10")
        .listFiles.filter(_.getName.endsWith(".csv")).head
      val src = scala.io.Source.fromFile(csv)
      try w.start -> src.getLines().drop(1).map(_.split(",")(0)).toSet
      finally src.close()
    }
    // the hours share a token: keyed on the token alone, publishing
    // the second hour would evict the first hour's row for it
    assert(published(0)._2.intersect(published(1)._2).nonEmpty, published)
    val stored = new ParquetResultStore(spark, s"$dir/out/results", "key", "win_start")
      .read().collect()
      .map(r => r.getAs[java.sql.Timestamp]("win_start").toInstant -> r.getAs[String]("token"))
    assert(stored.toSet === published.flatMap { case (w, ts) => ts.map(w -> _) }.toSet)
    assert(stored.length === stored.toSet.size)
  }

  /** Store rows (k, ts, cnt) from (key, timestamp text, count). */
  private def storeRows(s: Seq[(String, String, Long)]) = {
    import SparkSpec.spark.implicits._
    s.toDF("k", "tsRaw", "cnt")
      .select(col("k"), col("tsRaw").cast("timestamp").as("ts"), col("cnt"))
  }

  test("ParquetResultStore range-delete + upsert semantics") {
    val dir = tmpDir("store") + "/results"
    val store = new ParquetResultStore(spark, dir, "k", "ts")

    store.upsert(storeRows(Seq(
      ("a", "2024-01-01 00:10:00", 1L),
      ("b", "2024-01-01 01:10:00", 2L))))
    assert(store.read().count() === 2)

    // upsert replaces by key
    store.upsert(storeRows(Seq(("a", "2024-01-01 00:20:00", 9L))))
    val after = store.read()
    assert(after.count() === 2)
    assert(after.filter(col("k") === "a").select("cnt").head().getLong(0) === 9L)

    // range-delete retires only the window
    store.rangeDelete(Instant.parse("2024-01-01T00:00:00Z"),
      Instant.parse("2024-01-01T01:00:00Z"))
    val kept = store.read()
    assert(kept.count() === 1)
    assert(kept.select("k").head().getString(0) === "b")
  }

  test("ParquetResultStore runs no schema-inference job after its first access") {
    val store = new ParquetResultStore(spark, tmpDir("store_jobs") + "/results", "k", "ts")
    store.upsert(storeRows(Seq(("a", "2024-01-01 00:10:00", 1L), ("b", "2024-01-01 01:10:00", 2L))))
    // the stage names of each job this test's group starts; a stage is
    // named after the API call that launched it, and reading parquet
    // launches a job only to infer the schema
    val group = "store-upsert"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.map(_.name))
    }
    val sc = spark.sparkContext
    listening(listener) {
      sc.setJobGroup(group, "ParquetResultStore.upsert")
      try {
        store.upsert(storeRows(Seq(("a", "2024-01-01 00:20:00", 9L))))
        store.read().schema
      } finally sc.clearJobGroup()
    }
    val all = jobs.asScala.toSeq
    assert(!all.exists(_.exists(_.startsWith("parquet at "))), all)
    // the is-empty check, the broadcast of the incoming keys, the write
    assert(all.size === 3, all)
    assert(store.read().collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 9L, "b" -> 2L))
  }

  test("a second ParquetResultStore on an existing path reads it correctly") {
    val dir = tmpDir("store_reopen") + "/results"
    val first = new ParquetResultStore(spark, dir, "k", "ts")
    first.upsert(storeRows(Seq(("a", "2024-01-01 00:10:00", 1L), ("b", "2024-01-01 01:10:00", 2L))))
    val second = new ParquetResultStore(spark, dir, "k", "ts")
    assert(second.read().schema === first.read().schema)
    assert(second.read().collect().toSet === first.read().collect().toSet)
    second.upsert(storeRows(Seq(("a", "2024-01-01 00:20:00", 9L))))
    assert(first.read().collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 9L, "b" -> 2L))
    // the kept schema is the store's: an upsert whose columns do not
    // match it still fails
    intercept[org.apache.spark.sql.AnalysisException] {
      second.upsert(storeRows(Seq(("c", "2024-01-01 00:30:00", 3L))).withColumn("extra", lit(1)))
    }
    assert(second.read().count() === 2)
  }

  test("a ParquetResultStore torn between its swap's renames loses no row") {
    val dir = tmpDir("store_torn") + "/results"
    new ParquetResultStore(spark, dir, "k", "ts")
      .upsert(storeRows(Seq(("a", "2024-01-01 00:10:00", 1L), ("b", "2024-01-01 01:10:00", 2L))))
    // a crash after rename(results -> .compact.old), before the new copy landed
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir.compact.old")))
    val fresh = new ParquetResultStore(spark, dir, "k", "ts")
    assert(fresh.read().collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 1L, "b" -> 2L))
    fresh.upsert(storeRows(Seq(("c", "2024-01-01 02:10:00", 3L))))
    assert(fresh.read().collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
    assert(!new java.io.File(s"$dir.compact.old").exists())
  }

  test("a ParquetResultStore reads the columns another writer's rewrite installed") {
    val dir = tmpDir("store_writers") + "/results"
    val a = new ParquetResultStore(spark, dir, "k", "ts")
    a.upsert(storeRows(Seq(("a", "2024-01-01 00:10:00", 1L))))
    assert(a.read().columns.toSeq === Seq("k", "ts", "cnt"))
    // b empties the store, so its next upsert installs its rows' columns
    val b = new ParquetResultStore(spark, dir, "k", "ts")
    b.rangeDelete(Instant.parse("2024-01-01T00:00:00Z"), Instant.parse("2024-01-02T00:00:00Z"))
    b.upsert(storeRows(Seq(("b", "2024-01-01 01:10:00", 2L))).withColumn("extra", lit(7)))
    val seen = a.read()
    assert(seen.columns.toSeq === Seq("k", "ts", "cnt", "extra"))
    assert(seen.select("k", "extra").collect().map(r => r.getString(0) -> r.getInt(1)).toSeq ===
      Seq("b" -> 7))
    // a's rows lack the new column: its upsert fails instead of
    // rewriting the store without it
    intercept[org.apache.spark.sql.AnalysisException] {
      a.upsert(storeRows(Seq(("c", "2024-01-01 00:30:00", 3L))))
    }
    assert(b.read().columns.toSeq === Seq("k", "ts", "cnt", "extra"))
  }

  test("TableLoader roundtrips orc") {
    val dir = tmpDir("orc")
    val src = table("nation")
    src.write.mode("overwrite").orc(s"$dir/t")
    val back = TableLoader.read(spark, "orc", s"$dir/t")
    assert(back.count() === src.count())
    assert(back.schema.fieldNames.toSet === src.schema.fieldNames.toSet)
  }

  test("bucketed tables co-locate: equi-join plans with zero Exchange") {
    val a = table("customer").select("c_custkey", "c_acctbal")
    val b = table("orders").select("o_custkey", "o_totalprice")
    Sinks.bucketed(a, "bkt_cust", "c_custkey", 4, Seq("c_custkey"))
    Sinks.bucketed(b, "bkt_ord", "o_custkey", 4, Seq("o_custkey"))
    // force SMJ (a broadcast join would sidestep bucketing on these
    // tiny tables and hide what's being asserted: both scans report
    // their bucketing, so neither side shuffles OR sorts)
    val joined = spark.table("bkt_cust").hint("merge")
      .join(spark.table("bkt_ord"), col("c_custkey") === col("o_custkey"))
    val n = joined.count()
    assert(n === a.join(b, col("c_custkey") === col("o_custkey")).count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
  }

  test("PipelineMetrics.gatePanel: drop rates observed inline, no extra scan") {
    import graft.operators.PipelineMetrics
    val docs = table("documents")
    val (instrumented, obs) = PipelineMetrics.gatePanel(docs, "gates", Map(
      "minlen" -> (length(col("text")) >= 100),
      "lang" -> (col("lang") === "en")))
    // one action drives both the pipeline and the metrics
    val survivors = instrumented
      .filter(length(col("text")) >= 100 && col("lang") === "en").count()
    val m = obs.get.get
    assert(m("n_rows") === docs.count())
    assert(m("fail_minlen") === docs.filter(length(col("text")) < 100).count())
    assert(m("fail_lang") === docs.filter(col("lang") =!= "en").count())
    assert(survivors <= docs.count())
  }
}
