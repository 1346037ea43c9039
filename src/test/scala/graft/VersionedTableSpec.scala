package graft

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Snapshot time travel + retention on the MERGE sink: immutable
  * versions, pinned readers surviving concurrent merges/vacuums, and
  * retention that keeps K + pins (the round-15 verdict's contract). */
class VersionedTableSpec extends SparkSpec {

  private val ss = SparkSpec.spark
  import ss.implicits._

  private def state(path: String, asOf: Option[Long] = None) =
    VersionedTable.read(ss, path, asOf).collect()
      .map(r => r.getAs[Long]("key") ->
        ((r.getAs[String]("tag"), r.getAs[Double]("bal")))).toMap

  private def base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("key", "tag", "bal")

  test("read-at-version parity across two merges") {
    val p = s"${tmpDir("vt")}/t"
    assert(VersionedTable.init(ss, p, base) === 1L)
    // v2: update 1, delete 3, insert 5
    val d1 = Seq((1L, "a2", 11.0, "U"), (3L, "c", 0.0, "D"),
      (5L, "e", 50.0, "U")).toDF("key", "tag", "bal", "op")
    assert(VersionedTable.merge(ss, p, d1, Seq("key"),
      deleteWhen = col("op") === "D") === 2L)
    // v3: delete 5, insert 7
    val d2 = Seq((5L, "e", 0.0, "D"), (7L, "g", 70.0, "U"))
      .toDF("key", "tag", "bal", "op")
    assert(VersionedTable.merge(ss, p, d2, Seq("key"),
      deleteWhen = col("op") === "D") === 3L)
    // every version stays readable, each with its own state
    assert(state(p, Some(1L)) === Map(1L -> (("a", 10.0)),
      2L -> (("b", 20.0)), 3L -> (("c", 30.0))))
    assert(state(p, Some(2L)) === Map(1L -> (("a2", 11.0)),
      2L -> (("b", 20.0)), 5L -> (("e", 50.0))))
    assert(state(p, Some(3L)) === Map(1L -> (("a2", 11.0)),
      2L -> (("b", 20.0)), 7L -> (("g", 70.0))))
    // latest == v3; op marker never lands in the table
    assert(state(p) === state(p, Some(3L)))
    assert(VersionedTable.read(ss, p).columns.sorted.toSeq ===
      Seq("bal", "key", "tag"))
    assert(VersionedTable.versions(p) === Seq(1L, 2L, 3L))
    // asking for a never-committed version names the mechanism
    val e = intercept[IllegalStateException] {
      VersionedTable.read(ss, p, Some(9L))
    }
    assert(e.getMessage.contains("not available"))
  }

  test("a reader's plan survives concurrent merges (immutable snapshots)") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base)
    // resolve the plan FIRST (the concurrent reader), merge AFTER,
    // materialize LAST — the snapshot dir it scans is never touched
    val pinnedPlan = VersionedTable.read(ss, p, Some(1L))
    val d = Seq((2L, "b9", 99.0, "U")).toDF("key", "tag", "bal", "op")
    VersionedTable.merge(ss, p, d, Seq("key"))
    VersionedTable.merge(ss, p,
      Seq((1L, "a", 0.0, "D")).toDF("key", "tag", "bal", "op"),
      Seq("key"), deleteWhen = col("op") === "D")
    val got = pinnedPlan.collect().map(_.getAs[Long]("key")).sorted.toSeq
    assert(got === Seq(1L, 2L, 3L), "v1 content unchanged under merges")
    assert(state(p).keySet === Set(2L, 3L))
  }

  test("vacuum keeps K newest + pins; pinned reader survives vacuum") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base) // v1
    val pinId = VersionedTable.pin(p) // pin v1
    for (i <- 1 to 3) // v2..v4
      VersionedTable.merge(ss, p,
        Seq((10L + i, s"t$i", i.toDouble, "U")).toDF("key", "tag", "bal", "op"),
        Seq("key"))
    assert(VersionedTable.versions(p) === Seq(1L, 2L, 3L, 4L))
    // keep=2 → {3,4} plus pinned 1; only 2 is vacuumed
    assert(VersionedTable.vacuum(p, keep = 2) === Seq(2L))
    assert(VersionedTable.versions(p) === Seq(1L, 3L, 4L))
    // the pinned version still reads in full
    assert(state(p, Some(1L)).keySet === Set(1L, 2L, 3L))
    // a vacuumed version reads as a clean error, not a half-dir scan
    val e = intercept[IllegalStateException] {
      VersionedTable.read(ss, p, Some(2L))
    }
    assert(e.getMessage.contains("vacuumed") ||
      e.getMessage.contains("not available"))
    // release the pin: the next vacuum reclaims v1 (and keeps current)
    VersionedTable.unpin(p, pinId)
    assert(VersionedTable.vacuum(p, keep = 1).toSet === Set(1L, 3L))
    assert(VersionedTable.versions(p) === Seq(4L))
    assert(state(p).keySet === Set(1L, 2L, 3L, 11L, 12L, 13L))
    // manifest-reachability GC: every data file on disk is referenced
    // by the one remaining manifest; vacuumed-only files are gone
    val curFiles = VersionedTable.files(p).toSet
    val dd = new java.io.File(p, "data")
    val onDisk = Option(dd.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => s"data/${d.getName}/${f.getName}")).toSet
    assert(onDisk === curFiles,
      "disk holds exactly the files reachable from kept manifests")
  }

  test("readChanges: classified change feed; applying it replays the version") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base) // v1: 1,2,3
    val d1 = Seq((1L, "a2", 11.0, "U"), (3L, "c", 0.0, "D"),
      (5L, "e", 50.0, "U")).toDF("key", "tag", "bal", "op")
    VersionedTable.merge(ss, p, d1, Seq("key"),
      deleteWhen = col("op") === "D") // v2: 1',2,5
    val d2 = Seq((5L, "e", 0.0, "D"), (7L, "g", 70.0, "U"))
      .toDF("key", "tag", "bal", "op")
    VersionedTable.merge(ss, p, d2, Seq("key"),
      deleteWhen = col("op") === "D") // v3: 1',2,7
    def feed(a: Long, b: Long) =
      VersionedTable.readChanges(ss, p, a, b, Seq("key")).collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getAs[String]("tag")))).toSet
    // v1 -> v2: update 1, delete 3, insert 5; key 2 never appears
    assert(feed(1L, 2L) === Set(("U", 1L, Some("a2")), ("D", 3L, None),
      ("I", 5L, Some("e"))))
    // v1 -> v3 composes: 5's insert+delete cancels OUT of the feed
    assert(feed(1L, 3L) === Set(("U", 1L, Some("a2")), ("D", 3L, None),
      ("I", 7L, Some("g"))))
    // delete rows carry null payload (the change-feed convention)
    val del = VersionedTable.readChanges(ss, p, 1L, 2L, Seq("key"))
      .filter(col("op") === "D").collect().head
    assert(del.isNullAt(del.fieldIndex("tag")) &&
      del.isNullAt(del.fieldIndex("bal")))
    // round trip: v1 copy + feed(1 -> 3) merged = v3 content exactly
    val p2 = s"${tmpDir("vt")}/replay"
    VersionedTable.init(ss, p2, VersionedTable.read(ss, p, Some(1L)))
    VersionedTable.merge(ss, p2,
      VersionedTable.readChanges(ss, p, 1L, 3L, Seq("key")),
      Seq("key"), deleteWhen = col("op") === "D")
    val replayed = VersionedTable.read(ss, p2).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("tag"),
        r.getAs[Double]("bal"))).toSet
    val v3 = VersionedTable.read(ss, p, Some(3L)).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("tag"),
        r.getAs[Double]("bal"))).toSet
    assert(replayed === v3, "merge(feed) must reproduce the target version")
    // bad bounds fail loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readChanges(ss, p, 3L, 1L, Seq("key"))
    }
    assert(e.getMessage.contains("fromV < toV"))
  }

  test("relay: checkpointed incremental propagation keeps a downstream " +
      "table content-equal; replay after a torn checkpoint is a fixpoint") {
    val root = tmpDir("vt")
    val src = s"$root/src"; val dst = s"$root/dst"
    val ckpt = s"$root/relay.json"
    def content(p: String) = VersionedTable.read(ss, p).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("tag"),
        r.getAs[Double]("bal"))).toSet
    VersionedTable.init(ss, src, base) // src v1
    // bootstrap relay: dst inits from the full snapshot
    assert(VersionedTable.relayInto(ss, src, dst, Seq("key"), ckpt)
      === Some(1L))
    assert(content(dst) === content(src))
    // caught up: no work, no new destination version
    assert(VersionedTable.relayInto(ss, src, dst, Seq("key"), ckpt) === None)
    assert(VersionedTable.versions(dst) === Seq(1L))
    // two source merges, ONE relay: the feed composes (5's insert+
    // delete cancels) and dst lands content-equal in one hop
    VersionedTable.merge(ss, src,
      Seq((1L, "a2", 11.0, "U"), (3L, "c", 0.0, "D"), (5L, "e", 50.0, "U"))
        .toDF("key", "tag", "bal", "op"),
      Seq("key"), deleteWhen = col("op") === "D") // src v2
    VersionedTable.merge(ss, src,
      Seq((5L, "e", 0.0, "D"), (7L, "g", 70.0, "U"))
        .toDF("key", "tag", "bal", "op"),
      Seq("key"), deleteWhen = col("op") === "D") // src v3
    assert(VersionedTable.relayInto(ss, src, dst, Seq("key"), ckpt)
      === Some(2L))
    assert(content(dst) === content(src))
    // torn checkpoint (crash between apply and advance): rewind the
    // checkpoint and relay again — the same feed re-merges to the same
    // content (at-least-once is exactly-once in effect)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ckpt), """{"version":1}""")
    assert(VersionedTable.relayInto(ss, src, dst, Seq("key"), ckpt)
      === Some(3L))
    assert(content(dst) === content(src), "replayed feed is a fixpoint")
    // a relay that fell behind a vacuum fails loudly, never partial
    VersionedTable.merge(ss, src,
      Seq((9L, "i", 90.0, "U")).toDF("key", "tag", "bal", "op"),
      Seq("key")) // src v4
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ckpt), """{"version":1}""")
    VersionedTable.vacuum(src, keep = 1) // drops v1..v3
    val e = intercept[IllegalStateException] {
      VersionedTable.relayInto(ss, src, dst, Seq("key"), ckpt)
    }
    assert(e.getMessage.contains("not available") ||
      e.getMessage.contains("vacuumed"))
  }

  test("bucketed CDC relay: downstream stays content-equal AND " +
      "join-optimal (zero-Exchange SMJ on the merge key)") {
    val root = tmpDir("vtb")
    val src = s"$root/src"; val ckpt = s"$root/relay.json"
    val tbl = "vt_relay_bkt"; val dim = "vt_relay_dim"
    ss.sql(s"DROP TABLE IF EXISTS `$tbl`")
    ss.sql(s"DROP TABLE IF EXISTS `$dim`")
    def content(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("tag"),
        r.getAs[Double]("bal"))).toSet
    VersionedTable.init(ss, src, base, clusterBy = Seq("key"))
    // bootstrap relays the full snapshot into the bucketed layout
    assert(VersionedTable.relayIntoBucketed(ss, src, tbl, Seq("key"),
      4, ckpt) === Some((0L, 1L)))
    assert(content(ss.table(tbl)) === content(VersionedTable.read(ss, src)))
    // two source merges, ONE relay hop: the feed composes and the
    // bucketed downstream lands content-equal
    VersionedTable.merge(ss, src,
      Seq((1L, "a2", 11.0, "U"), (3L, "c", 0.0, "D"), (5L, "e", 50.0, "U"))
        .toDF("key", "tag", "bal", "op"),
      Seq("key"), deleteWhen = col("op") === "D")
    VersionedTable.merge(ss, src,
      Seq((5L, "e", 0.0, "D"), (7L, "g", 70.0, "U"))
        .toDF("key", "tag", "bal", "op"),
      Seq("key"), deleteWhen = col("op") === "D")
    assert(VersionedTable.relayIntoBucketed(ss, src, tbl, Seq("key"),
      4, ckpt) === Some((1L, 3L)))
    assert(content(ss.table(tbl)) === content(VersionedTable.read(ss, src)))
    // caught up: no work
    assert(VersionedTable.relayIntoBucketed(ss, src, tbl, Seq("key"),
      4, ckpt) === None)
    // the relay-maintained table is join-optimal: an SMJ against a
    // compatibly-bucketed dim plans with ZERO Exchange on either side
    graft.sources.Sinks.bucketed(
      base.select(col("key"), col("tag").as("t2")), dim, "key", 4, Seq("key"))
    val joined = ss.table(tbl).hint("merge")
      .join(ss.table(dim), "key")
    assert(joined.count() > 0)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"relayed bucketed table still shuffles:\n$plan")
    ss.sql(s"DROP TABLE IF EXISTS `$tbl`")
    ss.sql(s"DROP TABLE IF EXISTS `$dim`")
  }

  test("withPinned loan: pin held during use, released after") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base)
    VersionedTable.merge(ss, p,
      Seq((4L, "d", 40.0, "U")).toDF("key", "tag", "bal", "op"), Seq("key"))
    val n = VersionedTable.withPinned(ss, p) { df =>
      // vacuum inside the loan: the pinned current (v2) must survive
      VersionedTable.vacuum(p, keep = 1)
      df.count()
    }
    assert(n === 4L)
    // after the loan the pin is gone
    val pins = new java.io.File(s"$p/_pins").listFiles()
    assert(pins == null || pins.isEmpty)
  }

  test("unreferenced staging debris is age-gated vacuumed; init guards") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base)
    VersionedTable.merge(ss, p,
      Seq((4L, "d", 40.0, "U")).toDF("key", "tag", "bal", "op"), Seq("key"))
    // fake a crashed writer: a staged data dir referenced by NO manifest
    val orphan = new java.io.File(p, "data/0000dead-beef-0000-0000-000000000000")
    base.write.parquet(orphan.getPath)
    assert(orphan.exists())
    // younger than the grace period: vacuum must NOT sweep it — it is
    // indistinguishable from an in-flight writer's staging
    VersionedTable.vacuum(p, keep = 1)
    assert(orphan.exists(), "fresh staging is never swept (could be in flight)")
    // age it past the grace: now it is crash debris
    def age(f: java.io.File): Unit = {
      f.setLastModified(1000L)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(age)
    }
    age(orphan)
    VersionedTable.vacuum(p, keep = 1)
    assert(!orphan.exists(), "unpublished staging older than the grace is debris")
    assert(state(p).keySet === Set(1L, 2L, 3L, 4L))
    // double-init fails loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.init(ss, p, base)
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("merge commits are O(delta): a small merge rewrites only the " +
      "files whose key ranges it touches and shares the rest") {
    val p = s"${tmpDir("vt")}/t"
    val big = ss.range(0L, 4000L).select(col("id").as("key"),
      concat(lit("t"), col("id")).as("tag"),
      col("id").cast("double").as("bal"))
    VersionedTable.init(ss, p, big, clusterBy = Seq("key"), numFiles = 8)
    val before = VersionedTable.files(p).toSet
    assert(before.size >= 6, s"clustered init lays out ~8 files: $before")
    // the delta touches keys 10..12 — inside one file's key range
    val d = Seq((10L, "x", 1.0), (11L, "x", 2.0), (12L, "x", 3.0))
      .toDF("key", "tag", "bal")
    VersionedTable.merge(ss, p, d, Seq("key"))
    val after = VersionedTable.files(p).toSet
    val shared = (before intersect after).size
    assert(shared >= before.size - 2,
      s"a 3-row merge must share nearly all files ($shared of ${before.size})")
    assert((after -- before).nonEmpty && (after -- before).size <= 2,
      "the rewrite is delta-sized, not table-sized")
    // and the content is exactly the merged state
    assert(VersionedTable.read(ss, p).count() === 4000L)
    assert(VersionedTable.read(ss, p).filter(col("key") === 11L)
      .collect().head.getAs[String]("tag") === "x")
    // v1 stays readable in full (its files were shared or kept)
    assert(VersionedTable.read(ss, p, Some(1L)).filter(col("key") === 11L)
      .collect().head.getAs[String]("tag") === "t11")
  }

  test("pruning falls back to range-only past the comparison budget " +
      "and stays O(delta) for a contiguous delta") {
    val p = s"${tmpDir("vt")}/t"
    val big = ss.range(0L, 4000L).select(col("id").as("key"),
      concat(lit("t"), col("id")).as("tag"),
      col("id").cast("double").as("bal"))
    VersionedTable.init(ss, p, big, clusterBy = Seq("key"), numFiles = 8)
    val before = VersionedTable.files(p).toSet
    val d = Seq((10L, "x", 1.0), (11L, "x", 2.0)).toDF("key", "tag", "bal")
    // budget 0 forces the range-only path; a contiguous 2-key delta
    // still overlaps only one file's key range
    VersionedTable.mergeWithHook(ss, p, d, Seq("key"), lit(false), 0,
      maxPruneComparisons = 0L)(() => ())
    val after = VersionedTable.files(p).toSet
    assert((before intersect after).size >= before.size - 2,
      "range-only pruning still shares nearly all files")
    assert(VersionedTable.read(ss, p).count() === 4000L)
    assert(VersionedTable.read(ss, p).filter(col("key") === 10L)
      .collect().head.getAs[String]("tag") === "x")
  }

  test("two concurrent mergers both land (optimistic-concurrency CAS)") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base, clusterBy = Seq("key"))
    val m1 = Seq((1L, "a2", 11.0)).toDF("key", "tag", "bal")
    val m2 = Seq((5L, "e", 50.0)).toDF("key", "tag", "bal")
    // writer 1 stages its rewrite; IN ITS COMMIT WINDOW writer 2 merges
    // and wins version 2. Writer 1's CAS then fails, it discards its
    // staged files, re-derives against v2, and lands as v3 — BOTH
    // change sets present, nobody last-write-wins the other.
    var raced = false
    val v = VersionedTable.mergeWithHook(ss, p, m1, Seq("key"),
      lit(false), 0) { () =>
      if (!raced) { raced = true; VersionedTable.merge(ss, p, m2, Seq("key")) }
    }
    assert(v === 3L, "the losing merger re-derives and commits the next version")
    assert(VersionedTable.versions(p) === Seq(1L, 2L, 3L))
    assert(state(p) === Map(1L -> (("a2", 11.0)), 2L -> (("b", 20.0)),
      3L -> (("c", 30.0)), 5L -> (("e", 50.0))))
    // the intermediate version holds ONLY the race winner's change
    assert(state(p, Some(2L)) === Map(1L -> (("a", 10.0)),
      2L -> (("b", 20.0)), 3L -> (("c", 30.0)), 5L -> (("e", 50.0))))
  }

  test("compact: file growth from many merges collapses into a new " +
      "version with identical content; history and pruning survive") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base, clusterBy = Seq("key"))
    // ten point merges: O(delta) commits each add a fresh file
    for (i <- 1 to 10)
      VersionedTable.merge(ss, p,
        Seq((100L + i, s"n$i", i.toDouble)).toDF("key", "tag", "bal"),
        Seq("key"))
    val grown = VersionedTable.files(p).size
    assert(grown >= 10, s"each merge adds at least one file ($grown)")
    val before = state(p)
    val v = VersionedTable.compact(ss, p, Seq("key"), numFiles = 2)
    assert(v === 12L, "compaction commits as the next version")
    assert(VersionedTable.files(p).size <= 2, "file count collapsed")
    assert(state(p) === before, "content unchanged by compaction")
    // history: the pre-compact version still reads
    assert(state(p, Some(11L)) === before)
    // the compacted files carry key stats: a point merge stays O(delta)
    val fBefore = VersionedTable.files(p).toSet
    VersionedTable.merge(ss, p,
      Seq((101L, "z", 0.5)).toDF("key", "tag", "bal"), Seq("key"))
    val fAfter = VersionedTable.files(p).toSet
    assert((fBefore intersect fAfter).size >= fBefore.size - 1,
      "post-compact merge rewrites at most one compacted file")
  }

  test("a table with its own 'op' column refuses readChanges loudly") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, Seq((1L, "U")).toDF("key", "op"))
    VersionedTable.merge(ss, p, Seq((2L, "I")).toDF("key", "op"), Seq("key"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readChanges(ss, p, 1L, 2L, Seq("key"))
    }
    assert(e.getMessage.contains("op"))
  }

  test("timestamp merge keys prune TZ-independently: a merge under a " +
      "different session TZ than the commit updates, never duplicates") {
    val p = s"${tmpDir("vt")}/t"
    val prevTz = ss.conf.get("spark.sql.session.timeZone")
    try {
      ss.conf.set("spark.sql.session.timeZone", "UTC")
      // hourly timestamp keys built from epoch micros — deterministic
      // under any session TZ
      val basis = ss.range(0L, 64L).select(
        timestamp_micros(col("id") * 3600L * 1000000L).as("ts"),
        col("id").cast("double").as("bal"))
      VersionedTable.init(ss, p, basis, clusterBy = Seq("ts"), numFiles = 4)
      // stats were committed under UTC; prune under a shifted TZ. The
      // pre-fix string round trip would shift every bound by the
      // offset delta and could exclude the file that holds the key —
      // the merge would then INSERT a duplicate instead of updating.
      ss.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val delta = ss.range(63L, 64L).select(
        timestamp_micros(col("id") * 3600L * 1000000L).as("ts"),
        lit(999.0).as("bal"))
      VersionedTable.merge(ss, p, delta, Seq("ts"))
      assert(VersionedTable.read(ss, p).count() === 64L,
        "TZ-shifted merge must update in place, never duplicate the key")
      assert(VersionedTable.read(ss, p)
        .agg(sum(when(col("bal") === 999.0, 1).otherwise(0))).collect()
        .head.getLong(0) === 1L)
      // the range-only fallback prunes by the same TZ-free encoding
      val delta2 = ss.range(62L, 63L).select(
        timestamp_micros(col("id") * 3600L * 1000000L).as("ts"),
        lit(888.0).as("bal"))
      VersionedTable.mergeWithHook(ss, p, delta2, Seq("ts"), lit(false), 0,
        maxPruneComparisons = 0L)(() => ())
      assert(VersionedTable.read(ss, p).count() === 64L)
    } finally ss.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("string stats compare as UTF-8 bytes in the range fallback: a " +
      "supplementary-plane key updates its file, never duplicates") {
    val p = s"${tmpDir("vt")}/t"
    // one file whose UTF-8 key range is ["z", U+1F600]; the private-use
    // key U+F000 sits INSIDE it in UTF-8 order but ABOVE the max in
    // UTF-16 code-unit order — String.compareTo would call this
    // no-overlap, skip the rewrite, and insert a duplicate U+F000 row
    val rows = Seq(("z", 1.0), ("\uF000", 2.0), ("\uD83D\uDE00", 3.0))
      .toDF("key", "bal")
    VersionedTable.init(ss, p, rows, clusterBy = Seq("key"), numFiles = 1)
    val delta = Seq(("\uF000", 20.0)).toDF("key", "bal")
    VersionedTable.mergeWithHook(ss, p, delta, Seq("key"), lit(false), 0,
      maxPruneComparisons = 0L)(() => ())
    val got = VersionedTable.read(ss, p).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(VersionedTable.read(ss, p).count() === 3L,
      "the containing file must be rewritten, not skipped (duplicate key)")
    assert(got("\uF000") === 20.0)
  }

  test("vacuum sweeps age-gated .tmp-* manifest debris") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base)
    val vd = new java.io.File(p, "_versions")
    val fresh = new java.io.File(vd, ".tmp-fresh0000")
    val stale = new java.io.File(vd, ".tmp-stale0000")
    java.nio.file.Files.write(fresh.toPath, "{}".getBytes("UTF-8"))
    java.nio.file.Files.write(stale.toPath, "{}".getBytes("UTF-8"))
    stale.setLastModified(1000L)
    VersionedTable.vacuum(p, keep = 1)
    assert(fresh.exists(), "a fresh tmp manifest may belong to an " +
      "in-flight publisher and must survive")
    assert(!stale.exists(), "a crashed publisher's tmp manifest is debris")
    fresh.delete()
  }

  test("describeHistory: the version chain with operations, commit " +
      "times, and per-commit merge metrics") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base, clusterBy = Seq("key"))
    VersionedTable.merge(ss, p,
      Seq((1L, "a2", 11.0, "U"), (3L, "c", 0.0, "D"), (5L, "e", 50.0, "U"))
        .toDF("key", "tag", "bal", "op"),
      Seq("key"), deleteWhen = col("op") === "D")
    VersionedTable.compact(ss, p, Seq("key"), numFiles = 1)
    val h = VersionedTable.describeHistory(ss, p).collect()
    assert(h.map(_.getAs[Long]("version")).toSeq === Seq(3L, 2L, 1L),
      "newest first")
    assert(h.map(_.getAs[Long]("base")).toSeq === Seq(2L, 1L, 0L),
      "linear base chain")
    assert(h.map(_.getAs[String]("operation")).toSeq ===
      Seq("compact", "merge", "init"))
    assert(h.forall(_.getAs[java.sql.Timestamp]("ts") != null))
    // the merge row carries the graft_merge observe counts
    val m = h.find(_.getAs[String]("operation") == "merge").get
    assert(m.getAs[Long]("updated") === 1L)
    assert(m.getAs[Long]("inserted") === 1L)
    assert(m.getAs[Long]("deleted") === 1L)
    assert(m.getAs[Long]("files_rewritten") >= 1L)
    // manifest-level totals describe the version's FULL state
    assert(m.getAs[Long]("n_rows") === 3L) // 1',2,5
    assert(h.forall(_.getAs[Long]("n_bytes") > 0L))
    // init/compact rows carry no merge counts (null, not zero)
    val i = h.find(_.getAs[String]("operation") == "init").get
    assert(i.isNullAt(i.fieldIndex("updated")))
  }

  test("mergeSchema: a source with an added column widens the table " +
      "additively; shared files null-fill; history keeps old schemas") {
    val p = s"${tmpDir("vt")}/t"
    val big = ss.range(0L, 4000L).select(col("id").as("key"),
      concat(lit("t"), col("id")).as("tag"),
      col("id").cast("double").as("bal"))
    VersionedTable.init(ss, p, big, clusterBy = Seq("key"), numFiles = 8)
    val before = VersionedTable.files(p).toSet
    // delta adds a `score` column; `op` is deleteWhen's control column
    // and must NOT evolve in
    val d = Seq((10L, "x", 1.0, 0.9, "U"), (4100L, "new", 2.0, 0.5, "U"),
      (11L, "t11", 11.0, 0.1, "D"))
      .toDF("key", "tag", "bal", "score", "op")
    VersionedTable.merge(ss, p, d, Seq("key"),
      deleteWhen = col("op") === "D", mergeSchema = true)
    val cur = VersionedTable.read(ss, p)
    assert(cur.columns.toSeq === Seq("key", "tag", "bal", "score"),
      "score appended, op excluded (control)")
    // the commit stayed O(delta): untouched files are SHARED, and they
    // null-fill the new column on read
    val after = VersionedTable.files(p).toSet
    assert((before intersect after).size >= before.size - 2,
      "schema evolution must not force a table rewrite")
    val byKey = cur.collect().map(r => r.getAs[Long]("key") -> r).toMap
    assert(byKey(10L).getAs[Double]("score") === 0.9)
    assert(byKey(4100L).getAs[String]("tag") === "new")
    assert(byKey(500L).isNullAt(byKey(500L).fieldIndex("score")),
      "rows in shared pre-evolution files read the new column as null")
    assert(!byKey.contains(11L), "deleteWhen still honored under evolution")
    assert(cur.count() === 4000L) // 4000 - 1 delete + 1 insert
    // the pre-evolution version still reads under its OWN schema
    assert(VersionedTable.read(ss, p, Some(1L)).columns.toSeq ===
      Seq("key", "tag", "bal"))
    // the change feed composes across the boundary with the widened shape
    val ch = VersionedTable.readChanges(ss, p, 1L, 2L, Seq("key"))
    assert(ch.columns.contains("score"))
    val chm = ch.collect().map(r =>
      r.getAs[String]("op") -> r.getAs[Long]("key")).toSet
    assert(chm === Set(("U", 10L), ("D", 11L), ("I", 4100L)))
    // type changes refuse loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(ss, p,
        Seq((1L, 5, 1.0)).toDF("key", "tag", "bal"), Seq("key"),
        mergeSchema = true)
    }
    assert(e.getMessage.contains("additive"))
    // without mergeSchema the r17 contract holds: unknown cols dropped
    VersionedTable.merge(ss, p,
      Seq((12L, "y", 3.0, 0.2, 7)).toDF("key", "tag", "bal", "score", "extra"),
      Seq("key"))
    assert(VersionedTable.read(ss, p).columns.toSeq ===
      Seq("key", "tag", "bal", "score"))
  }

  test("maintain: compacts past the file bound, vacuums to retention, " +
      "and is a cheap no-op under the bound") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base, clusterBy = Seq("key"))
    for (i <- 1 to 6) // v2..v7, one small file each
      VersionedTable.merge(ss, p,
        Seq((100L + i, s"n$i", i.toDouble)).toDF("key", "tag", "bal"),
        Seq("key"))
    val beforeState = state(p)
    val grown = VersionedTable.files(p).size
    assert(grown >= 6)
    // under the bound: no compaction version, table untouched
    assert(VersionedTable.maintain(ss, p, Seq("key"),
      maxFiles = grown + 1) === None)
    assert(VersionedTable.currentVersion(p) === Some(7L))
    // past the bound: compact commits v8, vacuum trims history to 2
    val v = VersionedTable.maintain(ss, p, Seq("key"), maxFiles = 3,
      keepVersions = 2)
    assert(v === Some(8L))
    assert(VersionedTable.files(p).size <= 3)
    assert(state(p) === beforeState, "maintenance never changes content")
    assert(VersionedTable.versions(p) === Seq(7L, 8L),
      "retention kept the newest K versions")
  }

  test("randomized multi-writer CAS stress: every merge lands exactly " +
      "once and the version chain linearizes") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base, clusterBy = Seq("key"))
    val nWriters = 4; val nMerges = 4
    // writer w's merge j upserts a writer-unique key AND the shared
    // key 1 — overlapping AND disjoint ranges in every change set
    def change(w: Int, j: Int) = Map(
      (1000L + w) -> s"w$w-m$j", 1L -> s"shared-w$w-m$j")
    val pool = Executors.newFixedThreadPool(nWriters)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = (0 until nWriters).map { w =>
      Future {
        for (j <- 0 until nMerges)
          VersionedTable.merge(ss, p,
            change(w, j).toSeq.map { case (k, t) => (k, t, 1.0) }
              .toDF("key", "tag", "bal"), Seq("key"))
      }
    }
    try Await.result(Future.sequence(futures), 10.minutes)
    finally pool.shutdown()
    val vs = VersionedTable.versions(p)
    assert(vs === (1L to (1 + nWriters * nMerges)).toSeq,
      "every merge committed exactly one contiguous version")
    // linear base chain (no forks, no gaps)
    for (v <- vs.drop(1))
      assert(VersionedTable.readManifest(p, v).base === v - 1)
    // each inter-version diff is exactly ONE issued change set, and
    // collectively all 16 appear exactly once — the serial application
    // the CAS loop promises
    val issued = (for (w <- 0 until nWriters; j <- 0 until nMerges)
      yield change(w, j)).toSet
    val seen = vs.drop(1).map { v =>
      VersionedTable.readChanges(ss, p, v - 1, v, Seq("key")).collect()
        .map(r => r.getAs[Long]("key") -> r.getAs[String]("tag")).toMap
    }
    // a diff may MISS the shared key (two writers wrote the same key in
    // adjacent versions with... no: values are writer+merge unique, so
    // every issued change differs from the prior state and must appear)
    val matched = seen.map { d =>
      issued.find(c => d.keySet == c.keySet &&
        d.forall { case (k, t) => c(k) == t })
    }
    assert(matched.forall(_.isDefined),
      s"every version diff must be one issued change set; got $seen")
    assert(matched.flatten.toSet.size === nWriters * nMerges,
      "all issued change sets landed exactly once")
    // final per-writer key holds that writer's LAST merge
    val fin = state(p)
    for (w <- 0 until nWriters)
      assert(fin(1000L + w)._1 === s"w$w-m${nMerges - 1}")
  }

  test("versions past 8 digits stay visible (manifest name parse)") {
    val p = s"${tmpDir("vt")}/t"
    VersionedTable.init(ss, p, base)
    val vd = new java.io.File(p, "_versions")
    java.nio.file.Files.write(
      new java.io.File(vd, "123456789.json").toPath, "{}".getBytes("UTF-8"))
    assert(VersionedTable.versions(p) === Seq(1L, 123456789L))
  }

  test("every statable type: the decoded stats are Spark's min/max, a " +
      "point read plans the one containing file, and a range-fallback " +
      "merge updates the key") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import org.apache.spark.sql.execution.FileSourceScanExec
    def ids(n: Long, k: org.apache.spark.sql.Column) =
      ss.range(0L, n).select(k.as("k"), col("id").as("p"))
    def indexed[T](vs: Seq[T])(implicit e: org.apache.spark.sql.Encoder[T]) =
      vs.toDF("k").withColumn("p", monotonically_increasing_id())
    val cases = Seq(
      "byte" -> ids(8, (col("id") - 3).cast("byte")),
      "short" -> ids(8, (col("id") * 1000 - 3000).cast("short")),
      "int" -> ids(8, (col("id") * 300000000L - 1000000000L).cast("int")),
      "long" -> ids(8, col("id") * 4000000000000L - 9000000000000L),
      "string" -> indexed(Seq("", "a", "z", "\u00e9", "\uF000", "\uD83D\uDE00")),
      "boolean" -> indexed(Seq(false, true)),
      "date" -> indexed(Seq("+10000-01-01", "-0044-03-15", "1970-01-01",
        "2024-02-29").map(java.time.LocalDate.parse)),
      "timestamp" -> ids(8, timestamp_micros((col("id") - 3) * 400000000000000L)),
      "decimal(9,2)" -> ids(8, ((col("id") - 5) * 12.25).cast("decimal(9,2)")),
      "decimal(18,4)" -> ids(8, ((col("id") - 5) * 1e9 + 0.125).cast("decimal(18,4)")),
      "decimal(25,3)" -> ids(8, ((col("id") - 5) * 1e20 + 0.5).cast("decimal(25,3)")))
    val prevTz = ss.conf.get("spark.sql.session.timeZone")
    ss.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try for ((name, df) <- cases) {
      val p = s"${tmpDir("vt-stat")}/t"
      VersionedTable.init(ss, p, df, clusterBy = Seq("k"), numFiles = 4)
      val dt = df.schema("k").dataType
      val ord = TypeUtils.getInterpretedOrdering(dt)
      val files = VersionedTable.readManifest(p, 1L).files
      assert(files.size >= 2, s"$name: clustered init lays out several files")
      // each file's decoded (min, max) is Spark's own min/max of its rows
      val bounds = files.map { f =>
        val (mn, mx) = f.stats.getOrElse("k", fail(s"$name: ${f.path} has no stats"))
        val want = ss.read.parquet(new java.io.File(p, f.path).getPath)
          .agg(min("k"), max("k")).queryExecution.toRdd.map(_.copy()).collect().head
        val got = (VersionedTable.statValue(dt, mn), VersionedTable.statValue(dt, mx))
        assert(ord.equiv(got._1, want.get(0, dt)) && ord.equiv(got._2, want.get(1, dt)),
          s"$name: ${f.path} stats ($mn, $mx) vs Spark's ${want.toSeq(Seq(dt, dt))}")
        got
      }
      // a point filter on a value of the middle file plans that file alone
      val f = files(files.size / 2)
      val v = bounds(files.size / 2)._1
      val key = GraftBridge.column(Literal(v, dt))
      val point = VersionedTable.read(ss, p).filter(col("k") === key)
      val scan = point.queryExecution.sparkPlan.collectFirst {
        case s: FileSourceScanExec => s }.get
      val planned = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters).flatMap(_.files)
        .map(_.getPath.getName)
      assert(planned === Seq(new java.io.File(f.path).getName), name)
      val hits = point.count()
      assert(hits >= 1L, name)
      // the range-only fallback finds that file too: an update, not an insert
      val n = VersionedTable.read(ss, p).count()
      VersionedTable.mergeWithHook(ss, p,
        ss.range(1).select(key.as("k"), lit(-1L).as("p")), Seq("k"),
        lit(false), 0, maxPruneComparisons = 0L)(() => ())
      assert(VersionedTable.read(ss, p).count() === n, s"$name: duplicate key")
      assert(VersionedTable.read(ss, p).filter(col("p") === -1L).count() === hits, name)
    } finally ss.conf.set("spark.sql.session.timeZone", prevTz)
  }
}
