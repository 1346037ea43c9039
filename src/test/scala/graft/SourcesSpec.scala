package graft

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.sources._

class SourcesSpec extends SparkSpec {

  test("TimeWindow.previousHour is the full prior hour") {
    val w = TimeWindow.previousHour(Instant.parse("2024-01-15T10:17:23Z"))
    assert(w.start === Instant.parse("2024-01-15T09:00:00Z"))
    assert(w.end === Instant.parse("2024-01-15T10:00:00Z"))
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
    val got = spark.read.parquet(s"$dir/t")
    assert(got.count() === orders.count())
    assert(got.agg(sum(col("o_orderkey"))).head().getLong(0) ===
      orders.agg(sum(col("o_orderkey"))).head().getLong(0))
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

  test("BatchJob scans its window once for both sinks") {
    val dir = tmpDir("batchjob_once")
    Sinks.partitionedByHour(table("events"), "ts", s"$dir/hours")
    val w = TimeWindow.day(2024, 1, 15)
    val windowRows = PartitionedSource.readWindow(spark, s"$dir/hours", w).count()
    assert(windowRows > 0)
    // records read by file-scan tasks of this test's jobs only: reads of
    // the materialized top-10 rows are not file scans
    val group = "batchjob-scans-once"
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageInfos.filter(_.rddInfos.exists(_.name.contains("FileScanRDD")))
            .foreach(si => scanStages.add(si.stageId))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          reads.add(e.stageId -> m.inputMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "BatchJob.run")
      try BatchJob.run(spark, s"$dir/hours", s"$dir/out", w)
      finally sc.clearJobGroup()
      // events reach a listener in order: once it has seen this job end,
      // it has seen every task of BatchJob.run
      sc.setJobGroup(s"$group-drain", "drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      val drain = sc.statusTracker.getJobIdsForGroup(s"$group-drain").max
      val deadline = System.currentTimeMillis() + 30000
      while (!ended.contains(drain) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(ended.contains(drain))
    } finally sc.removeSparkListener(listener)
    val scanned = reads.asScala.collect { case (st, n) if scanStages.contains(st) => n }.sum
    assert(scanned === windowRows, s"window of $windowRows rows read $scanned records")
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

  test("ParquetResultStore range-delete + upsert semantics") {
    val dir = tmpDir("store") + "/results"
    val store = new ParquetResultStore(spark, dir, "k", "ts")
    import SparkSpec.spark.implicits._
    def rows(s: Seq[(String, String, Long)]) =
      s.toDF("k", "tsRaw", "cnt")
        .select(col("k"), col("tsRaw").cast("timestamp").as("ts"), col("cnt"))

    store.upsert(rows(Seq(
      ("a", "2024-01-01 00:10:00", 1L),
      ("b", "2024-01-01 01:10:00", 2L))))
    assert(store.read().count() === 2)

    // upsert replaces by key
    store.upsert(rows(Seq(("a", "2024-01-01 00:20:00", 9L))))
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
