package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.JsonUtil

/** Snapshot time travel + retention for the MERGE/CDC sink — the
  * multi-generation complement of [[Sinks.merge]]'s in-place swap
  * (which keeps exactly one generation; a production MERGE contract
  * reads "as of version N" and vacuums old snapshots — the
  * Delta/Iceberg table shape re-expressed over plain parquet files and
  * a manifest directory).
  *
  * Layout under the table root:
  * {{{
  *   <path>/_versions/00000003.json  one manifest per committed version:
  *                                   {version, base, ts, op, metrics,
  *                                    schema DDL, files:[{path, rows,
  *                                    bytes, stats}]} — ts/op/metrics
  *                                   feed [[describeHistory]]
  *   <path>/data/<uuid>/part-*.parquet  immutable data files; each
  *                                   commit stages its NEW files under
  *                                   a fresh uuid dir, so no writer can
  *                                   ever touch another's data
  *   <path>/_pins/<id>.pin           reader pins (version holds)
  * }}}
  *
  * **File-granular commits (r17).** A version is a MANIFEST — a list
  * of parquet files with row counts and per-column min/max stats — not
  * a directory. [[merge]] rewrites ONLY the files whose key ranges can
  * contain a source key (stats pruning); every other file is SHARED
  * with the previous version by listing the same path again. A 1-row
  * CDC batch against a 100 TB table therefore costs one file rewrite
  * plus one manifest write, not a table rewrite — commits are
  * O(delta), the Delta/Iceberg write-amplification shape.
  *
  * Commit protocol: a writer stages its new files under a UNIQUE
  * `data/<uuid>/` dir (never a version-derived name — a lost race must
  * not be able to touch the winner's committed files), then publishes
  * with ONE atomic hard-link CAS: `_versions/.tmp-*` is linked to
  * `_versions/<v>.json`, which fails iff `<v>` already exists
  * (O_EXCL semantics — unlike rename, a link can never silently
  * replace a winner; on HDFS/S3 the same point is a conditional
  * create/put). The link is the commit point: a crash before it
  * leaves unreferenced staging files that [[vacuum]] age-gates away as
  * debris; a failed link means another writer won that version.
  *
  * **Optimistic concurrency (r17).** A manifest records the `base`
  * version it was derived from, and [[merge]] always targets
  * base + 1. A merge that loses the CAS deletes its staged files and
  * RE-DERIVES against the new current version — so two concurrent
  * mergers serialize and BOTH change sets land (Delta's
  * compare-and-swap loop), instead of last-write-wins.
  * [[init]]/[[overwrite]] are blind writes: init fails on a lost race
  * (the table exists), overwrite retries the CAS at the next number
  * without restaging (its snapshot is not derived from the base).
  *
  * Readers resolve a manifest — latest, or a pinned/explicit version —
  * and scan exactly its file list. Data files are IMMUTABLE: a merge
  * never rewrites a file in place, so a reader holding version N
  * survives any number of concurrent merges, and [[vacuum]] is the
  * only delete path. Vacuum keeps the newest `keep` versions, the
  * current version, and every pinned version; it deletes dropped
  * manifests FIRST, then data files reachable from no kept manifest
  * (manifest-reachability GC — a file shared into a kept version
  * survives the vacuum of the version that wrote it). Pins are files,
  * so they hold across processes and crashes.
  *
  * Scale shape: per merge, one stats-pruning pass (source's distinct
  * keys × the broadcast file-stats table — delta × file-count, never
  * data-sized, with a range-only O(files) fallback past the
  * comparison budget that prunes through the read path's
  * `GraftManifestFileIndex.mayMatch`; every driver-side stat
  * comparison decodes with [[statValue]] and orders with Spark's
  * interpreted ordering), one key-shuffled (or AQE-broadcast) merge join
  * over ONLY the candidate files + the source, one delta-sized write,
  * one manifest link. Reads add one manifest parse. Nothing is
  * table-sized except the first merge after an unclustered [[init]]
  * (no stats yet → every file is a candidate once; pass `clusterBy`
  * to init to start pruned).
  */
object VersionedTable {

  private val Pad = 8

  private def versionsDir(path: String) = new File(path.stripSuffix("/"), "_versions")
  private def pinsDir(path: String) = new File(path.stripSuffix("/"), "_pins")
  private def dataDir(path: String) = new File(path.stripSuffix("/"), "data")
  private def manifest(path: String, v: Long) =
    new File(versionsDir(path), f"$v%08d.json")

  /** Any all-digit `<n>.json` name parses — the zero-pad is purely for
    * lexicographic listing, so versions past 8 digits (9+ digit names)
    * stay visible to [[versions]]/[[currentVersion]] instead of
    * silently resetting allocation. */
  private def parseVersion(name: String): Option[Long] = {
    val stem = name.stripSuffix(".json")
    if (name.endsWith(".json") && stem.nonEmpty && stem.forall(_.isDigit))
      stem.toLongOption
    else None
  }

  /** All committed versions, ascending (empty for a missing table). */
  def versions(path: String): Seq[Long] =
    Option(versionsDir(path).listFiles()).getOrElse(Array.empty)
      .flatMap(f => parseVersion(f.getName)).toSeq.sorted

  /** The latest committed version, if any. */
  def currentVersion(path: String): Option[Long] = versions(path).lastOption

  /** The relative data-file paths a version's manifest references —
    * the public seam the O(delta) contract is asserted on (a small
    * merge's manifest shares all but the rewritten files with its
    * base). */
  def files(path: String, asOf: Option[Long] = None): Seq[String] =
    readManifest(path, resolveVersion(path, asOf)).files.map(_.path)

  /** The table's version chain as a DataFrame — Delta's DESCRIBE
    * HISTORY, the operational contract users expect alongside time
    * travel: one row per COMMITTED (un-vacuumed) version, newest
    * first, with the commit wall-clock, the operation that produced
    * it, manifest-level size (file/row/byte counts over the version's
    * full file list, shared files included), and the commit's write
    * metrics — a merge carries the `graft_merge` observe counts
    * (updated / inserted / deleted) plus files_rewritten /
    * files_shared / source_keys, so the O(delta) claim is auditable
    * per commit from the table itself. Driver work is one manifest
    * parse per retained version (retention-bounded, never
    * data-sized); pre-r18 manifests surface null ts/operation. */
  def describeHistory(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: Seq[Row] = versions(path).sorted.reverse.map { v =>
      val m = readManifest(path, v)
      def g(k: String): java.lang.Long = m.metrics.get(k)
        .map(java.lang.Long.valueOf).orNull
      Row(m.version, m.base,
        if (m.ts == 0L) null else new java.sql.Timestamp(m.ts),
        if (m.op.isEmpty) null else m.op,
        m.files.size.toLong, m.files.map(_.rows).sum,
        m.files.map(_.bytes).sum,
        g("updated"), g("inserted"), g("deleted"),
        g("files_rewritten"), g("files_shared"))
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("base", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("operation", StringType),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("updated", LongType), StructField("inserted", LongType),
      StructField("deleted", LongType),
      StructField("files_rewritten", LongType),
      StructField("files_shared", LongType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The newest version whose commit timestamp is ≤ `tsMillis` — the
    * resolution rule behind the DSv2 `timestampAsOf` option. */
  def versionAt(path: String, tsMillis: Long): Option[Long] =
    versions(path).sorted
      .takeWhile(v => readManifest(path, v).ts <= tsMillis).lastOption

  // ---------------------------------------------------------------- //
  // manifest model + JSON                                            //
  // ---------------------------------------------------------------- //

  private[graft] case class FileEntry(path: String, rows: Long, bytes: Long,
                                        stats: Map[String, (String, String)])

  /** THE driver-side decoder of a [[statStr]] string: Catalyst's
    * internal value for `dt` (the domain `Literal.value` uses), so
    * decoded stats compare with `TypeUtils.getInterpretedOrdering(dt)`
    * against each other and against query literals. Longs and
    * timestamps (epoch micros) are Long, dates Int epoch days
    * (`LocalDate.parse` keeps extended and BCE years), strings
    * UTF8String (UTF-8 byte order, the order Spark's min/max produced),
    * decimals Decimal, and byte/short/int/boolean their exact boxed
    * type. Throws on an unstatable type or an unparseable string;
    * every caller treats that as "no stats" and keeps the file. */
  private[graft] def statValue(dt: DataType, s: String): Any = dt match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType | TimestampType => s.toLong
    case DateType => Math.toIntExact(java.time.LocalDate.parse(s).toEpochDay)
    case StringType => UTF8String.fromString(s)
    case _: DecimalType => Decimal(new java.math.BigDecimal(s))
    case BooleanType => s.toBoolean
    case other => throw new IllegalArgumentException(s"unstatable $other")
  }

  private[graft] case class ManifestData(version: Long, base: Long,
                                           schema: StructType,
                                           files: Seq[FileEntry],
                                           ts: Long = 0L, op: String = "",
                                           metrics: Map[String, Long] =
                                             Map.empty)

  private def manifestJson(v: Long, base: Long, schemaDdl: String,
                           files: Seq[FileEntry], op: String,
                           metrics: Map[String, Long]): String = {
    val fs = files.map { f =>
      val st = f.stats.toSeq.sortBy(_._1).map { case (k, (mn, mx)) =>
        s"${JsonUtil.quote(k)}:[${JsonUtil.quote(mn)},${JsonUtil.quote(mx)}]"
      }.mkString("{", ",", "}")
      s"""{"path":${JsonUtil.quote(f.path)},"rows":${f.rows},""" +
        s""""bytes":${f.bytes},"stats":$st}"""
    }.mkString("[", ",", "]")
    val ms = metrics.toSeq.sortBy(_._1)
      .map { case (k, n) => s"${JsonUtil.quote(k)}:$n" }
      .mkString("{", ",", "}")
    s"""{"version":$v,"base":$base,"ts":${System.currentTimeMillis()},""" +
      s""""op":${JsonUtil.quote(op)},"metrics":$ms,""" +
      s""""schema":${JsonUtil.quote(schemaDdl)},"files":$fs}"""
  }

  private def resolveVersion(path: String, asOf: Option[Long]): Long =
    asOf.getOrElse(currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))

  private[graft] def readManifest(path: String, v: Long): ManifestData = {
    import scala.jdk.CollectionConverters._
    val m = manifest(path, v)
    if (!m.exists())
      throw new IllegalStateException(
        s"version $v of $path is not available (committed: " +
          s"${versions(path).mkString(",")}) — it was never committed or " +
          "has been vacuumed")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(m)
    val files = root.get("files").elements().asScala.map { n =>
      val statsNode = n.get("stats")
      val stats = statsNode.fieldNames().asScala.map { k =>
        val arr = statsNode.get(k)
        k -> ((arr.get(0).asText(), arr.get(1).asText()))
      }.toMap
      FileEntry(n.get("path").asText(), n.get("rows").asLong(),
        Option(n.get("bytes")).map(_.asLong()).getOrElse(0L), stats)
    }.toSeq
    val metrics = Option(root.get("metrics")).map { mn =>
      mn.fieldNames().asScala.map(k => k -> mn.get(k).asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    ManifestData(root.get("version").asLong(), root.get("base").asLong(),
      StructType.fromDDL(root.get("schema").asText()), files,
      Option(root.get("ts")).map(_.asLong()).getOrElse(0L),
      Option(root.get("op")).map(_.asText()).getOrElse(""), metrics)
  }

  /** The atomic commit point: hard-link the fully-written tmp manifest
    * to `_versions/<v>.json`. createLink has O_EXCL semantics — it
    * FAILS if the destination exists, where a rename would silently
    * replace the winner — so exactly one writer can ever own a version
    * number. Returns false on a lost race. */
  private def tryPublish(path: String, v: Long, json: String): Boolean = {
    versionsDir(path).mkdirs()
    val tmp = new File(versionsDir(path),
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    java.nio.file.Files.write(tmp.toPath, json.getBytes(UTF_8))
    try {
      java.nio.file.Files.createLink(manifest(path, v).toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally { tmp.delete(); () }
  }

  // ---------------------------------------------------------------- //
  // staging                                                          //
  // ---------------------------------------------------------------- //

  /** Column types whose min/max survive a string round trip EXACTLY —
    * stats on float/double are skipped (a cast-to-string-and-back can
    * move the boundary by a ULP, and a pruning bound that excludes a
    * real match is a correctness bug, not a performance one). */
  private def statable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** TZ-INDEPENDENT stat string for a min/max value. Timestamps are
    * stored as epoch MICROS (a long), never as a cast-to-string form:
    * cast(timestamp↔string) depends on spark.sql.session.timeZone, so
    * a commit and a later prune running under different session TZs
    * (or a value inside a DST fall-back overlap, where the string form
    * is ambiguous) could reconstruct a shifted bound and exclude a
    * file that truly contains a matching key — a silent duplicate-row
    * corruption, not a perf miss. Every other statable type's
    * cast-to-string is already TZ-free and exact. */
  private def statStr(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c).cast("string")
    case _ => c.cast("string")
  }

  /** Inverse of [[statStr]]: reconstruct a typed column from the
    * stored stat string for Spark-side comparisons. */
  private def statLit(s: Column, dt: DataType): Column = dt match {
    case TimestampType => timestamp_micros(s.cast("long"))
    case _ => s.cast(dt)
  }

  private case class Staged(dirRel: String, files: Seq[FileEntry])

  /** Write `df` into a fresh unique `data/<uuid>/` dir (clustered by
    * `clusterBy` via repartitionByRange + sortWithinPartitions when
    * given, so per-file key ranges are disjoint and stats pruning
    * bites), then record per-file (rows, min/max of statCols) FROM THE
    * PARQUET FOOTERS — driver-side metadata reads, one per staged
    * file. r18 (guide §1.2/§6): the pre-r18 implementation re-READ the
    * staged data through a second Spark job to aggregate the same
    * min/max the writer had just computed into the footers — a full
    * extra pass over every staged byte on every commit, plus one job
    * of fixed latency. Footer stats are exact or absent, never wrong:
    * parquet omits oversized stats and the reader drops stats whose
    * sort order doesn't match the column type, and a column with no
    * usable stats simply stays off the manifest — the prune paths
    * treat it as always-candidate (conservative superset invariant).
    * Zero-row part files are dropped from both the manifest and the
    * dir, as before. */
  private def stage(spark: SparkSession, path: String, df: DataFrame,
                    clusterBy: Seq[String], numFiles: Int,
                    statCols: Seq[String]): Staged = {
    val dirRel = s"data/${java.util.UUID.randomUUID().toString}"
    val abs = new File(path.stripSuffix("/"), dirRel)
    val cols = clusterBy.map(col)
    val out =
      if (clusterBy.nonEmpty && numFiles > 0)
        df.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*)
      else if (clusterBy.nonEmpty)
        df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
      else if (numFiles > 0) df.repartition(numFiles)
      else df
    // stage timestamps as annotated INT64 micros: INT96 (a possible
    // session default) carries NO footer statistics, which would
    // silently drop timestamp keys from stats pruning; micros is also
    // exactly the TZ-independent epoch-micros form statStr records
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsPrev = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try out.write.parquet(abs.getPath)
    finally tsPrev match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    val schema = out.schema
    val stat = statCols.filter(c =>
      schema.fieldNames.contains(c) && statable(schema(c).dataType))
    val entries = Option(abs.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
      .flatMap { f =>
        val (rows, stats) = footerStats(f, schema, stat)
        if (rows == 0L) {
          f.delete()
          new File(f.getParentFile, "." + f.getName + ".crc").delete()
          None
        } else Some(FileEntry(s"$dirRel/${f.getName}", rows, f.length(), stats))
      }
    Staged(dirRel, entries)
  }

  /** (row count, per-column min/max in [[statStr]] string form) from
    * one parquet file's footer. A column contributes stats only when
    * EVERY row group carries usable stats for it (`hasNonNullValue`,
    * correct sort order — parquet-side guarantees); anything
    * surprising degrades to no-stats for that column, never to a
    * wrong bound. */
  private def footerStats(f: File, schema: StructType,
                          statCols: Seq[String])
      : (Long, Map[String, (String, String)]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toURI),
      new org.apache.hadoop.conf.Configuration())
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = statCols.flatMap { k =>
        val dt = schema(k).dataType
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == k)
            .flatMap(cc => footerMinMax(cc, dt))
        }
        if (perBlock.nonEmpty && perBlock.forall(_.isDefined)) {
          val pairs = perBlock.flatten
          val ord = TypeUtils.getInterpretedOrdering(dt)
          val mn = pairs.map(_._1).minBy(statValue(dt, _))(ord)
          val mx = pairs.map(_._2).maxBy(statValue(dt, _))(ord)
          Some(k -> ((mn, mx)))
        } else None
      }.toMap
      (rows, stats)
    } finally rdr.close()
  }

  /** One row group's (min, max) for a column, as [[statStr]] strings —
    * None when the chunk has no usable statistics or the physical form
    * isn't one Spark writes for this logical type. */
  private def footerMinMax(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                           dt: DataType): Option[(String, String)] =
    try {
      val st = cc.getStatistics
      if (st == null || st.isEmpty || !st.hasNonNullValue) None
      else {
        import org.apache.parquet.column.statistics._
        import org.apache.parquet.schema.LogicalTypeAnnotation
        def ok(mn: String, mx: String) = Some((mn, mx))
        (dt, st) match {
          case (ByteType | ShortType | IntegerType, s: IntStatistics) =>
            ok(s.getMin.toString, s.getMax.toString)
          case (LongType, s: LongStatistics) =>
            ok(s.getMin.toString, s.getMax.toString)
          case (BooleanType, s: BooleanStatistics) =>
            ok(s.getMin.toString, s.getMax.toString)
          case (StringType, s: BinaryStatistics) =>
            ok(s.genericGetMin.toStringUsingUTF8,
              s.genericGetMax.toStringUsingUTF8)
          case (DateType, s: IntStatistics) =>
            ok(java.time.LocalDate.ofEpochDay(s.getMin.toLong).toString,
              java.time.LocalDate.ofEpochDay(s.getMax.toLong).toString)
          case (TimestampType, s: LongStatistics) =>
            cc.getPrimitiveType.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
                ok(s.getMin.toString, s.getMax.toString)
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
                ok((s.getMin * 1000L).toString, (s.getMax * 1000L).toString)
              case _ => None // INT96 and friends: no usable stats
            }
          case (d: DecimalType, s: IntStatistics) =>
            ok(java.math.BigDecimal.valueOf(s.getMin.toLong, d.scale).toPlainString,
              java.math.BigDecimal.valueOf(s.getMax.toLong, d.scale).toPlainString)
          case (d: DecimalType, s: LongStatistics) =>
            ok(java.math.BigDecimal.valueOf(s.getMin, d.scale).toPlainString,
              java.math.BigDecimal.valueOf(s.getMax, d.scale).toPlainString)
          case (d: DecimalType, s: BinaryStatistics) =>
            def dec(b: org.apache.parquet.io.api.Binary) =
              new java.math.BigDecimal(
                new java.math.BigInteger(b.getBytes), d.scale).toPlainString
            ok(dec(s.genericGetMin), dec(s.genericGetMax))
          case _ => None
        }
      }
    } catch { case _: Exception => None }

  private def readFiles(spark: SparkSession, path: String,
                        schema: StructType, files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema).parquet(files.map(f =>
        new File(path.stripSuffix("/"), f.path).getPath): _*)

  // ---------------------------------------------------------------- //
  // writes                                                           //
  // ---------------------------------------------------------------- //

  /** Create the table at version 1. Fails if the table already has
    * committed versions (use [[merge]] or [[overwrite]] to evolve).
    * `clusterBy` range-clusters the files on those columns and records
    * per-file min/max stats, so the FIRST merge already prunes; an
    * unclustered init is still correct — its files just lack stats, so
    * the first merge rewrites them all (and leaves them clustered by
    * the merge keys). */
  def init(spark: SparkSession, path: String, df: DataFrame,
           clusterBy: Seq[String] = Nil, numFiles: Int = 0): Long = {
    require(currentVersion(path).isEmpty,
      s"versioned table at $path already exists (current " +
        s"version ${currentVersion(path).get}); use merge/overwrite")
    val staged = stage(spark, path, df, clusterBy, numFiles, clusterBy)
    if (!tryPublish(path, 1L,
        manifestJson(1L, 0L, df.schema.toDDL, staged.files, "init",
          writeMetrics(staged)))) {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new File(path.stripSuffix("/"), staged.dirRel))
      throw new IllegalArgumentException(
        s"versioned table at $path already exists (lost the init race); " +
          "use merge/overwrite")
    }
    1L
  }

  /** Full-snapshot replace as a NEW version (the blind-write path —
    * CTAS semantics; prior versions stay readable until vacuumed, and
    * prior versions' files are untouched — this version simply shares
    * none of them). Not derived from the current version, so a lost
    * CAS race just retries at the next number without restaging. */
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
                clusterBy: Seq[String] = Nil, numFiles: Int = 0): Long = {
    val staged = stage(spark, path, df, clusterBy, numFiles, clusterBy)
    while (true) {
      val v = currentVersion(path).getOrElse(0L) + 1
      if (tryPublish(path, v,
          manifestJson(v, v - 1, df.schema.toDDL, staged.files, "overwrite",
            writeMetrics(staged)))) return v
    }
    -1L // unreachable
  }

  private def writeMetrics(staged: Staged): Map[String, Long] = Map(
    "files_written" -> staged.files.size.toLong,
    "rows_written" -> staged.files.map(_.rows).sum)

  /** Per-key pruning work is (distinct source keys × files) cheap
    * comparisons in a broadcast join — exact, but quadratic-shaped.
    * Past this budget (a huge delta against a many-file table — the
    * regime where most files are getting rewritten anyway) pruning
    * falls back to RANGE-ONLY: one delta-sized min/max aggregate of
    * the source keys, as a `k >= min AND k <= max` predicate that
    * `GraftManifestFileIndex.mayMatch` tests against each file's stats
    * driver-side.
    * Both paths are conservative supersets of the truly-matched
    * files, so the choice is performance-only. */
  private val MaxPruneComparisons: Long = 2L << 30

  /** Which of the base version's files can contain a source key:
    * join the source's DISTINCT keys against the broadcast per-file
    * min/max stats (delta × file-count work, never data-sized), or
    * the range-only fallback above past `maxPruneComparisons`. Files
    * without stats on a key column are conservatively candidates.
    * Returns (candidates to rewrite, untouched files to share, number
    * of distinct source keys). */
  private def pruneCandidateFiles(
      spark: SparkSession, m: ManifestData, source: DataFrame,
      keys: Seq[String], nKeys: Long,
      maxPruneComparisons: Long = MaxPruneComparisons)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    import scala.jdk.CollectionConverters._
    val srcKeys = source.select(keys.map(col): _*).distinct()
    if (m.files.isEmpty) return (Nil, Nil)
    if (nKeys * m.files.size <= maxPruneComparisons) {
      val statsSchema = StructType(StructField("__vt_file", StringType) +:
        keys.flatMap(k => Seq(StructField(s"__vt_mn_$k", StringType),
          StructField(s"__vt_mx_$k", StringType))))
      val rows: Seq[Row] = m.files.map(f => Row.fromSeq(f.path +:
        keys.flatMap(k => f.stats.get(k) match {
          case Some((mn, mx)) => Seq(mn, mx)
          case None => Seq(null, null)
        })))
      val statsDf = spark.createDataFrame(rows.asJava, statsSchema)
      val cond = keys.map { k =>
        val dt = m.schema(k).dataType
        val mn = statLit(col(s"__vt_mn_$k"), dt)
        val mx = statLit(col(s"__vt_mx_$k"), dt)
        mn.isNull || mx.isNull ||
          (col(k).cast(dt) >= mn && col(k).cast(dt) <= mx)
      }.reduce(_ && _)
      val needed = srcKeys
        .join(broadcast(statsDf), cond, "inner")
        .select(col("__vt_file")).distinct()
        .collect().map(_.getString(0)).toSet
      m.files.partition(f => needed(f.path))
    } else {
      // range-only fallback: the source's global per-column key range
      // (one delta-sized aggregate) as the predicate k >= srcMin AND
      // k <= srcMax per key, pruned by the read path's evaluator on the
      // driver — O(files) work regardless of delta size
      val aggs = keys.flatMap { k =>
        val dt = m.schema(k).dataType
        Seq(statStr(min(col(k)), dt).as(s"__mn_$k"),
          statStr(max(col(k)), dt).as(s"__mx_$k"))
      }
      val r = srcKeys.agg(aggs.head, aggs.tail: _*).collect().head
      val range = keys.filter(k => statable(m.schema(k).dataType)).flatMap { k =>
        val a = AttributeReference(k, m.schema(k).dataType)()
        def bound(c: String) = Literal(statValue(a.dataType, r.getAs[String](c)), a.dataType)
        if (r.getAs[String](s"__mn_$k") == null) Nil // all-null source keys
        else Seq(GreaterThanOrEqual(a, bound(s"__mn_$k")), LessThanOrEqual(a, bound(s"__mx_$k")))
      }.reduceOption(And)
      m.files.partition(f =>
        range.forall(GraftManifestFileIndex.mayMatch(m, f, _)))
    }
  }

  /** MERGE INTO the current version, committing the result as a new
    * version — same join shape, key-uniqueness contract, and
    * `graft_merge` observe metrics as [[Sinks.merge]] (shared code),
    * but O(delta): only the stats-pruned candidate files are read and
    * rewritten; every other file is shared into the new manifest.
    * Concurrent mergers serialize via the CAS loop — a loser discards
    * its staged files and re-derives against the new current, so both
    * change sets land. Returns the committed version.
    * `numFiles` sizes the rewrite output (0 = one file per candidate
    * rewritten, min 1).
    *
    * **Schema evolution (r18).** With `mergeSchema = true`, source
    * columns the table lacks are APPENDED (nullable) to the table
    * schema: rewritten files carry them, the new manifest records the
    * widened DDL, untouched files are shared as-is and NULL-FILL the
    * added columns on read (the explicit-schema parquet read does
    * this for free), and prior versions keep reading under their own
    * manifests' DDL. Columns referenced by `deleteWhen` are treated
    * as CONTROL columns (op markers) and never evolve in; a shared
    * column whose type differs refuses loudly — evolution is
    * strictly additive, never a cast. Default `false` preserves the
    * r17 contract: unknown source columns are silently dropped. */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            keys: Seq[String],
            deleteWhen: org.apache.spark.sql.Column = lit(false),
            numFiles: Int = 0, mergeSchema: Boolean = false): Long =
    mergeWithHook(spark, path, source, keys, deleteWhen, numFiles,
      mergeSchema)(() => ())

  /** The widened table schema under `mergeSchema = true`: target
    * fields first (stable order for existing readers), then source-
    * only non-control fields, nullable (old files have no values).
    * Control columns = whatever `deleteWhen` references, discovered
    * by analyzing it against the source (deleteWhen's documented
    * contract is that it evaluates over source columns) — an op
    * marker used only to classify deletes never becomes table data. */
  private def evolvedSchema(tgt: StructType, source: DataFrame,
                            deleteWhen: org.apache.spark.sql.Column)
      : StructType = {
    val src = source.schema
    val ctl: Set[String] =
      try source.select(deleteWhen.as("__dw")).queryExecution.analyzed
        .expressions.flatMap(_.references.map(_.name)).toSet
      catch { case _: Exception => Set.empty } // unanalyzable: evolve all
    val tgtNames = tgt.fieldNames.toSet
    for (tf <- tgt.fields; sf <- src.fields.find(_.name == tf.name))
      require(sf.dataType == tf.dataType,
        s"mergeSchema is additive-only: column ${tf.name} is " +
          s"${tf.dataType.simpleString} in the table but " +
          s"${sf.dataType.simpleString} in the source — cast the source " +
          "explicitly, evolution never changes an existing column's type")
    val extra = src.fields
      .filterNot(f => tgtNames.contains(f.name) || ctl.contains(f.name))
    StructType(tgt.fields ++ extra.map(_.copy(nullable = true)))
  }

  /** Auto file sizing for a merge's rewrite output: one file per
    * rewritten candidate keeps steady-state file sizes stable, and the
    * keys-per-file floor keeps an insert-heavy merge (few candidates,
    * huge source) from funnelling into one giant single-task file. */
  private val RowsPerNewFile: Long = 1L << 20

  /** [[merge]] with test seams: `beforePublish` runs between staging
    * and the CAS publish (VersionedTableSpec drives a deterministic
    * two-writer race through it), `maxPruneComparisons` forces the
    * range-only pruning fallback. */
  private[graft] def mergeWithHook(spark: SparkSession, path: String,
                                   source: DataFrame, keys: Seq[String],
                                   deleteWhen: org.apache.spark.sql.Column,
                                   numFiles: Int,
                                   mergeSchema: Boolean = false,
                                   maxPruneComparisons: Long =
                                     MaxPruneComparisons)
                                  (beforePublish: () => Unit): Long = {
    // r19 (guide §3.3): the caller's source is typically a non-trivial
    // derivation (a change-log rollup); it used to EXECUTE three times
    // per commit — the key-count guard, the prune pass's distinct keys,
    // and the staged rewrite itself — and again per CAS retry.
    // Materialize the delta once (delta-sized by definition) and run
    // every consumer against the blocks; dropped before returning.
    val src = {
      import graft.Materialize._
      source.eagerCheckpoint()
    }
    // ONE delta-sized job feeds the key-unique guard, the pruning
    // budget, and the output file sizing — computed once; the source
    // is fixed across CAS retries
    val counts @ (_, nKeys) = Sinks.sourceKeyCounts(src, keys)
    try mergeLoop(spark, path, src, keys, deleteWhen, numFiles,
      mergeSchema, maxPruneComparisons, counts, nKeys)(beforePublish)
    finally graft.Materialize.dropCheckpointBlocks(src)
  }

  private def mergeLoop(spark: SparkSession, path: String,
                        source: DataFrame, keys: Seq[String],
                        deleteWhen: org.apache.spark.sql.Column,
                        numFiles: Int, mergeSchema: Boolean,
                        maxPruneComparisons: Long,
                        counts: (Long, Long), nKeys: Long)
                       (beforePublish: () => Unit): Long = {
    var attempts = 0
    while (true) {
      val cur = currentVersion(path).getOrElse(
        throw new IllegalStateException(
          s"versioned table at $path has no committed version; init() first"))
      val m = readManifest(path, cur)
      // re-derived per CAS attempt: a concurrent merge may itself have
      // evolved the schema
      val outSchema =
        if (mergeSchema) evolvedSchema(m.schema, source, deleteWhen)
        else m.schema
      val (cands, untouched) = pruneCandidateFiles(spark, m, source, keys,
        nKeys, maxPruneComparisons)
      // candidates read under the WIDENED schema: pre-evolution files
      // null-fill the added columns, so the merge join sees one shape
      val tgt = readFiles(spark, path, outSchema, cands)
      // unique-named Observation per CAS attempt (an Observation is
      // single-use): the stage() write below is the action that fills
      // it, so the merge counts are known by publish time and ride
      // into the manifest for describeHistory
      val obs = org.apache.spark.sql.Observation(
        s"graft_merge_${java.util.UUID.randomUUID().toString.take(8)}")
      val merged = Sinks.mergedFrame(tgt, source, keys, deleteWhen,
        precounted = Some(counts), obs = Some(obs))
      val n = if (numFiles > 0) numFiles
        else math.max(math.max(1, cands.size),
          math.ceil(nKeys.toDouble / RowsPerNewFile).toInt)
      val staged = stage(spark, path, merged, keys, n, keys)
      val mm = obs.get.collect { case (k, v: Long) => k -> v }
      beforePublish()
      if (tryPublish(path, cur + 1, manifestJson(cur + 1, cur,
          outSchema.toDDL, untouched ++ staged.files, "merge",
          mm ++ Map("files_rewritten" -> cands.size.toLong,
            "files_shared" -> untouched.size.toLong,
            "source_keys" -> nKeys))))
        return cur + 1
      // lost the CAS: the base moved under us — our rewrite of the OLD
      // candidates may miss the winner's changes, so discard the staged
      // files (ours alone; unique dir) and re-derive against the new
      // current (optimistic concurrency, Delta's retry loop)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new File(path.stripSuffix("/"), staged.dirRel))
      attempts += 1
      require(attempts < 64,
        s"merge on $path lost $attempts optimistic-concurrency races " +
          "in a row; giving up rather than spinning")
    }
    -1L // unreachable
  }

  /** Small-file compaction as a NEW version — the maintenance pass
    * O(delta) commits eventually need: every merge adds a fresh
    * (often small) file, and a long-running CDC-maintained table's
    * read cost becomes per-file open/footer overhead (the
    * [[Sinks.compact]] problem restated over manifests). Rewrites the
    * CURRENT content into `numFiles` files clustered and
    * stats-stamped on `clusterBy` — pass the table's merge keys so
    * the compacted files carry the stats the next merge prunes on —
    * and commits under the SAME hard-link CAS: content unchanged,
    * history readable, pins hold, superseded files reclaimed by the
    * next [[vacuum]]. A concurrent merge that wins the version race
    * is never lost: compact re-reads the new current and re-derives
    * (committing stale content would silently drop the merge). */
  def compact(spark: SparkSession, path: String, clusterBy: Seq[String],
              numFiles: Int = 0): Long = {
    var attempts = 0
    while (true) {
      val cur = currentVersion(path).getOrElse(
        throw new IllegalStateException(s"no committed version at $path"))
      val m = readManifest(path, cur)
      val staged = stage(spark, path,
        readFiles(spark, path, m.schema, m.files), clusterBy, numFiles,
        clusterBy)
      if (tryPublish(path, cur + 1,
          manifestJson(cur + 1, cur, m.schema.toDDL, staged.files,
            "compact", writeMetrics(staged) +
              ("files_before" -> m.files.size.toLong))))
        return cur + 1
      org.apache.commons.io.FileUtils.deleteDirectory(
        new File(path.stripSuffix("/"), staged.dirRel))
      attempts += 1
      require(attempts < 64,
        s"compact on $path lost $attempts optimistic-concurrency races " +
          "in a row; giving up rather than spinning")
    }
    -1L // unreachable
  }

  /** The maintenance POLICY over [[compact]] + [[vacuum]] — the
    * "who decides when" the r17 verdict flagged: a long-running CDC
    * stream grows one file per merge until an operator intervenes, so
    * this is the self-tending entry point a scheduler (or
    * `cdcApplyVersioned(autoCompactFiles = …)`) calls after commits.
    * Compacts IFF the current manifest's file count exceeds
    * `maxFiles` — into ceil(tableBytes / targetFileBytes) files,
    * clustered and stats-stamped on `clusterBy` (pass the merge keys)
    * so the next merge still prunes — then vacuums to `keepVersions`
    * (pins always hold; pass Int.MaxValue to skip). Idempotent and
    * cheap when under the bound: one manifest parse, no Spark jobs.
    * Returns the compaction's committed version, if one ran. */
  def maintain(spark: SparkSession, path: String, clusterBy: Seq[String],
               maxFiles: Int, keepVersions: Int = Int.MaxValue,
               targetFileBytes: Long = 128L << 20,
               debrisAgeMs: Long = 3600L * 1000): Option[Long] = {
    require(maxFiles >= 1, "maintain needs maxFiles >= 1")
    val cur = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val m = readManifest(path, cur)
    val compacted =
      if (m.files.size <= maxFiles) None
      else {
        val bytes = m.files.map(_.bytes).sum
        val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        Some(compact(spark, path, clusterBy, numFiles = n))
      }
    if (keepVersions != Int.MaxValue)
      vacuum(path, keepVersions, debrisAgeMs)
    compacted
  }

  // ---------------------------------------------------------------- //
  // reads                                                            //
  // ---------------------------------------------------------------- //

  /** Read the table — the latest version, or `asOf` a specific one.
    * The returned plan scans exactly the manifest's immutable file
    * list, so it stays valid across concurrent merges and until that
    * version is vacuumed.
    *
    * The scan's file source is a [[GraftManifestFileIndex]] (r18), so
    * a filter on a stats-carrying column PRUNES THE PLANNED FILE LIST
    * by the manifest's per-file min/max — `read(...).filter(key === k)`
    * on a clustered 64k-file table plans ~1 file, the read-path dual
    * of merge's `pruneCandidateFiles` — while execution stays on the
    * native vectorized parquet reader with whole-stage codegen. */
  def read(spark: SparkSession, path: String, asOf: Option[Long] = None)
      : DataFrame =
    spark.baseRelationToDataFrame(relation(spark, path, asOf))

  /** The HadoopFsRelation behind [[read]] and `format("graft-table")`:
    * the resolved manifest's schema + a manifest-backed FileIndex.
    * See [[GraftTableDataSource]] for why this is the integration
    * seam (Delta's architecture) rather than a bespoke DSv2 reader. */
  private[sources] def relation(spark: SparkSession, path: String,
                                asOf: Option[Long])
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val m = readManifest(path, resolveVersion(path, asOf))
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = new GraftManifestFileIndex(spark, path, m),
      partitionSchema = new StructType(),
      dataSchema = m.schema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
  }

  /** Change feed between two committed versions — the CDC READ side of
    * the time-travel contract (Delta's table_changes shape): one row
    * per key whose state differs between `fromV` and `toV`, classified
    * `op` ∈ {I, U, D} and carrying the `toV`-side payload (null
    * payload columns on a delete, the standard change-feed convention).
    * FILE-GRANULAR FIRST: files shared by both manifests are identical
    * by construction and never enter the join — row work is bounded by
    * the files the merges between the versions actually rewrote, not
    * the table. Comparison inside changed files is null-safe per
    * column (`<=>`), no content hashing. Consuming the feed with
    * [[merge]] (deleteWhen = op === "D") on a copy of `fromV`
    * reproduces `toV` exactly — VersionedTableSpec pins the round
    * trip. */
  def readChanges(spark: SparkSession, path: String, fromV: Long,
                  toV: Long, keys: Seq[String]): DataFrame = {
    require(fromV < toV, s"readChanges wants fromV < toV, got $fromV >= $toV")
    val ma = readManifest(path, fromV)
    val mb = readManifest(path, toV)
    val cols = mb.schema.fieldNames.toSeq
    require(!cols.contains("op"),
      "readChanges synthesizes an 'op' column but the table already has " +
        "one — the feed would carry duplicate 'op' columns; rename the " +
        "payload column (cdcApply/cdcApplyVersioned parameterize it)")
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"change keys $keys must be table columns (${cols.mkString(",")})")
    // schema evolution between the versions is additive-only: read
    // BOTH sides under the to-side (widened) schema, so fromV files
    // null-fill the added columns and the diff classifies over the
    // widened payload (a row whose only change is the new column going
    // null → value is a U, exactly right)
    require(ma.schema.fields.forall(f =>
        mb.schema.fields.exists(g => g.name == f.name &&
          g.dataType == f.dataType)),
      s"readChanges($fromV -> $toV): version $toV's schema is missing or " +
        s"retypes columns of version $fromV's — feeds only compose across " +
        "ADDITIVE evolution (mergeSchema appends nullable columns)")
    val shared = ma.files.map(_.path).toSet intersect
      mb.files.map(_.path).toSet
    val a = readFiles(spark, path, mb.schema,
      ma.files.filterNot(f => shared(f.path)))
      .withColumn("_ap", lit(1)).alias("a")
    val b = readFiles(spark, path, mb.schema,
      mb.files.filterNot(f => shared(f.path)))
      .withColumn("_bp", lit(1)).alias("b")
    val nonKey = cols.filterNot(keys.contains)
    val on = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val aHit = col("a._ap").isNotNull
    val bHit = col("b._bp").isNotNull
    val same = nonKey.map(c => col(s"a.$c") <=> col(s"b.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    a.join(b, on, "full_outer")
      .select(
        (when(aHit && !bHit, "D")
          .when(!aHit && bHit, "I")
          .when(!same, "U")).as("op") +:
        (keys.map(k => coalesce(col(s"b.$k"), col(s"a.$k")).as(k)) ++
          nonKey.map(c => col(s"b.$c").as(c))): _*)
      .filter(col("op").isNotNull)
  }

  /** Incremental CDC relay — checkpointed propagation of this table's
    * change feed into any consumer (the incremental
    * materialized-view-maintenance primitive): reads the last relayed
    * version from `checkpointFile`, hands `apply` the I/U/D feed from
    * there to the current version (or, on the FIRST relay, the full
    * current snapshot synthesized as inserts — the bootstrap), and
    * advances the checkpoint with an atomic tmp+rename ONLY after
    * `apply` returns. Crash between apply and checkpoint replays the
    * same feed — at-least-once, which is exactly-once in effect when
    * `apply` merges (same-change-set re-merge is a fixpoint, the
    * cdcApply reasoning). Returns Some((fromV, toV, result)) when work
    * was relayed, None when already caught up.
    *
    * A relay that falls behind a [[vacuum]] fails LOUDLY (readChanges
    * resolves a vacuumed base version to a clean error, never a
    * partial feed) — keep `vacuum(keep)` at or above the relay lag, or
    * [[pin]] the relay's floor. */
  def relayChanges[A](spark: SparkSession, path: String, keys: Seq[String],
                      checkpointFile: String)
                     (apply: (DataFrame, Long, Long) => A)
      : Option[(Long, Long, A)] = {
    val cur = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val ckpt = new File(checkpointFile)
    val last: Long =
      if (!ckpt.exists()) 0L
      else {
        val m = "\"version\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(new String(
            java.nio.file.Files.readAllBytes(ckpt.toPath), UTF_8))
        m.map(_.group(1).toLong).getOrElse(
          throw new IllegalStateException(s"unreadable relay checkpoint $ckpt"))
      }
    if (last >= cur) return None
    val feed =
      if (last == 0L) { // bootstrap: full current snapshot as inserts
        val snap = read(spark, path, Some(cur))
        require(!snap.columns.contains("op"),
          "relayChanges synthesizes an 'op' column but the table already " +
            "has one — rename the payload column")
        snap.select(lit("I").as("op") +: snap.columns.map(col): _*)
      } else readChanges(spark, path, last, cur, keys)
    val out = apply(feed, last, cur)
    Option(ckpt.getParentFile).foreach(_.mkdirs())
    val tmp = new File(ckpt.getParentFile, "." + ckpt.getName + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      s"""{"version":$cur}""".getBytes(UTF_8))
    java.nio.file.Files.move(tmp.toPath, ckpt.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Some((last, cur, out))
  }

  /** [[relayChanges]] into ANOTHER versioned table: bootstrap inits the
    * destination (clustered on the relay keys, so its own merges prune
    * from the first batch), every later relay merges the feed (deletes
    * honored via op = D) as a new destination version — chained tables
    * each keep their own history while staying content-equal to the
    * source at every relay point. Returns the destination version
    * committed, or None when caught up. */
  def relayInto(spark: SparkSession, srcPath: String, dstPath: String,
                keys: Seq[String], checkpointFile: String): Option[Long] = {
    relayChanges(spark, srcPath, keys, checkpointFile) { (feed, from, _) =>
      if (from == 0L) init(spark, dstPath, feed.drop("op"), clusterBy = keys)
      else merge(spark, dstPath, feed, keys,
        deleteWhen = col("op") === "D")
    }.map(_._3)
  }

  private val RelayStagedSuffix = "__relay_staged"

  /** [[relayChanges]] into a BUCKETED managed table ([[Sinks.bucketed]])
    * — the CDC-maintained downstream that is also JOIN-OPTIMAL: the
    * bootstrap writes the snapshot bucketed on `keys.head` (sorted
    * within buckets on `keys`), and every later relay merges the feed
    * and rewrites the table with the SAME bucket spec, so every
    * downstream equi-join/groupBy on the key stays a zero-Exchange
    * sort-merge join forever while the relay keeps the content equal
    * to the source at every relay point. The merge join itself also
    * rides the bucketing: the target side arrives hash-distributed on
    * the bucket column, so only the delta-sized feed shuffles.
    *
    * The rewrite swaps via a staged table + metastore rename (DROP +
    * ALTER TABLE RENAME). The two-step swap is healed on entry:
    * staged-with-live rolls BACK (the checkpoint never advanced, the
    * relay replays the same feed — a fixpoint), staged-without-live
    * rolls FORWARD. Single maintenance writer per table, the
    * Sinks.compact rule. Returns the (fromV, toV) bounds relayed, or
    * None when caught up. */
  def relayIntoBucketed(spark: SparkSession, srcPath: String, table: String,
                        keys: Seq[String], numBuckets: Int,
                        checkpointFile: String): Option[(Long, Long)] = {
    recoverBucketedRelay(spark, table)
    relayChanges(spark, srcPath, keys, checkpointFile) { (feed, from, _) =>
      if (from == 0L)
        Sinks.bucketed(feed.drop("op"), table, keys.head, numBuckets,
          sortCols = keys)
      else {
        val merged = Sinks.mergedFrame(spark.table(table), feed, keys,
          col("op") === "D")
        val staged = table + RelayStagedSuffix
        Sinks.bucketed(merged, staged, keys.head, numBuckets,
          sortCols = keys)
        spark.sql(s"DROP TABLE `$table`")
        spark.sql(s"ALTER TABLE `$staged` RENAME TO `$table`")
      }
      ()
    }.map { case (f, t, _) => (f, t) }
  }

  /** Heal a bucketed-relay swap torn by a crash: a staged table WITH a
    * live one rolls back (the relay checkpoint never advanced, so the
    * feed replays — re-merging the same change set is a fixpoint); a
    * staged table WITHOUT a live one rolls forward. Idempotent. */
  def recoverBucketedRelay(spark: SparkSession, table: String): Unit = {
    val staged = table + RelayStagedSuffix
    if (spark.catalog.tableExists(staged)) {
      if (spark.catalog.tableExists(table))
        spark.sql(s"DROP TABLE `$staged`")
      else
        spark.sql(s"ALTER TABLE `$staged` RENAME TO `$table`")
    }
  }

  // ---------------------------------------------------------------- //
  // pins + retention                                                 //
  // ---------------------------------------------------------------- //

  /** Pin `version` (default: current) against [[vacuum]]. Returns the
    * pin id; release with [[unpin]]. Pins are files — they survive the
    * process and hold for OTHER processes' vacuums too. */
  def pin(path: String, version: Option[Long] = None): String = {
    val v = version.getOrElse(currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))
    require(manifest(path, v).exists(), s"cannot pin uncommitted version $v")
    pinsDir(path).mkdirs()
    val id = f"$v%08d-${java.util.UUID.randomUUID().toString.take(8)}"
    val f = new File(pinsDir(path), s"$id.pin")
    require(f.createNewFile(), s"pin file $f already exists")
    id
  }

  /** Release a pin taken with [[pin]]. Idempotent. */
  def unpin(path: String, pinId: String): Unit = {
    val f = new File(pinsDir(path), s"$pinId.pin")
    if (f.exists()) require(f.delete(), s"could not delete pin $f")
  }

  /** Loan a pinned read: resolves the current version, pins it, hands
    * the snapshot DataFrame over, and unpins on exit — the reader
    * survives any merges AND vacuums that run inside `use`. */
  def withPinned[A](spark: SparkSession, path: String)
                   (use: DataFrame => A): A = {
    val v = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val id = pin(path, Some(v))
    try use(read(spark, path, Some(v)))
    finally unpin(path, id)
  }

  private def pinnedVersions(path: String): Set[Long] =
    Option(pinsDir(path).listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName.takeWhile(_.isDigit).toLongOption).toSet

  /** Retention: keep the newest `keep` committed versions, plus the
    * current version and every pinned one. Deletes the dropped
    * versions' manifests FIRST (a reader racing the delete resolves a
    * clean "vacuumed" error, never a live manifest over half-deleted
    * files), then data files reachable from NO kept manifest —
    * manifest-reachability GC, so a file SHARED into a kept version
    * survives the vacuum of the version that wrote it. Staging debris
    * (data files referenced by no manifest at all — a crashed writer)
    * is deleted only when older than `debrisAgeMs`, so an in-flight
    * writer's staged-but-unpublished files are never swept; size the
    * grace above the longest stage a writer can take, or vacuum when
    * no writer is in flight. Returns the versions removed. */
  def vacuum(path: String, keep: Int,
             debrisAgeMs: Long = 3600L * 1000): Seq[Long] = {
    require(keep >= 1, "vacuum must keep at least the current version")
    val all = versions(path)
    if (all.isEmpty) return Nil
    val cur = all.last
    val keepSet = all.takeRight(keep).toSet ++ pinnedVersions(path) + cur
    val drop = all.filterNot(keepSet)
    // resolve reachability BEFORE deleting anything
    val keptFiles = all.filter(keepSet)
      .flatMap(v => readManifest(path, v).files.map(_.path)).toSet
    val dropFiles = drop
      .flatMap(v => readManifest(path, v).files.map(_.path)).toSet
    drop.foreach { v =>
      require(manifest(path, v).delete(), s"could not delete manifest for $v")
    }
    (dropFiles -- keptFiles).foreach(rel => deleteDataFile(path, rel))
    // staging debris: data files in NO manifest, age-gated so an
    // in-flight writer's staged-but-unpublished files are never swept
    val now = System.currentTimeMillis()
    val referenced = keptFiles ++ dropFiles
    Option(dataDir(path).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach { d =>
        val payload = Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith(".") &&
            f.getName != "_SUCCESS")
        val debris = payload.filter(f =>
          !referenced.contains(s"data/${d.getName}/${f.getName}") &&
            now - f.lastModified() > debrisAgeMs)
        if (payload.nonEmpty && debris.length == payload.length)
          // every data file in the dir is old unreferenced debris —
          // a crashed writer's whole staging; sweep the dir
          org.apache.commons.io.FileUtils.deleteDirectory(d)
        else debris.foreach { f =>
          f.delete()
          new File(d, "." + f.getName + ".crc").delete()
        }
      }
    // manifest-staging debris: a writer that crashed between writing
    // its `.tmp-*` manifest and the createLink leaves the tmp file
    // behind forever (tryPublish's finally never ran) — sweep them
    // under the same age gate as the data-dir debris, so an in-flight
    // publisher's tmp is never deleted out from under its link call
    Option(versionsDir(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(".tmp-") &&
        now - f.lastModified() > debrisAgeMs)
      .foreach(_.delete())
    drop
  }

  private def deleteDataFile(path: String, rel: String): Unit = {
    val f = new File(path.stripSuffix("/"), rel)
    f.delete()
    new File(f.getParentFile, "." + f.getName + ".crc").delete()
    // drop the parent uuid dir once only markers remain
    val left = Option(f.getParentFile.listFiles()).getOrElse(Array.empty)
    if (left.forall(s => s.getName.startsWith(".") || s.getName == "_SUCCESS"))
      org.apache.commons.io.FileUtils.deleteDirectory(f.getParentFile)
  }
}
