package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every table is a single parquet under `sfDir`. At cluster scale these
  * would be partitioned directories; the loader API is the same either
  * way (`spark.read.parquet` handles both), so nothing here assumes a
  * single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) memo of the LAZY source plan — a
    * catalog-style metadata cache (r18, guide §6: repeated listing/
    * schema inference is driver work every query pays again). A
    * DataFrame here is an unexecuted plan: every action on it still
    * scans the parquet, so nothing about results is cached — this only
    * stops the ~10 ms footer/schema re-read that `spark.read.parquet`
    * performs on EVERY call, which across a 311-query bench (each
    * query loading 1-3 tables, SQL queries registering all 11) summed
    * to seconds of pure driver latency. Keyed on the session so a
    * stopped session's plans are never reused; bounded by
    * #sessions × #dirs × 10 tables. */
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    planCache.computeIfAbsent((spark, sfDir, name),
      _ => loadUncached(spark, sfDir, name))

  private def loadUncached(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects by
    // default; read it as a nanos long, then rebuild a (micro) timestamp
    // with integer division — `ts div 1000`, NOT `/ 1000` which would go
    // through double and lose precision above 2^53 nanos.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // micros with isAdjustedToUTC=false arrive as TIMESTAMP_NTZ; the
    // whole library (and the UTC-pinned sessions) speak TimestampType,
    // and NTZ refuses casts like ts::double that sessionization uses —
    // normalize at the only ingress so both generations of the
    // testdata present one type. Values are identical under UTC.
    else if (df.schema.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.TimestampNTZType))
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** `load` + scan rebalance, for operators whose per-row compute
    * dominates the scan (hashing, shingling, vector math). */
  def loadParallel(spark: SparkSession, sfDir: String, name: String): DataFrame =
    rebalanceScan(spark, load(spark, sfDir, name), s"$sfDir/$name.parquet")

  /** The harness testdata is single-file single-ROW-GROUP parquet — an
    * indivisible scan unit, so every scan stage (filters, per-row
    * hashing, partial aggregation) would run on ONE task no matter the
    * core count. Production 100 TB layouts arrive in thousands of
    * splits, so this rebalance is a no-op there (splits >= cores and it
    * does nothing); here it pays one exchange of the table's bytes to
    * restore the parallelism a real layout gives the compute above the
    * scan. Tiny dim tables (< 256 KB) are left alone — nothing above them
    * is compute-bound. Catalyst still pushes filters/pruning through
    * the repartition into the scan (asserted in PlanSpec). Expected
    * split count comes from file bytes / maxPartitionBytes (never a
    * `.rdd` materialization — physical-planning per load measurably
    * taxes every query), which matches parquet's actual behavior for
    * single-row-group files and is a no-op estimate at real scale. */
  private def rebalanceScan(spark: SparkSession, df: DataFrame,
                            path: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val bytes = new java.io.File(path).length()
    // conf may be human-readable ("128m", "128MB") — parse like Spark does
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    val expectedSplits = math.max(1L, bytes / maxPart)
    if (bytes < (256 << 10) || expectedSplits >= cores) df
    else df.repartition(cores)
  }

  /** Derived `partsupp` (TPC-H Q2/Q9/Q11/Q16/Q20 need it; the
    * driver-generated testdata ships no partsupp parquet). Rather than
    * materializing a side file the oracle can't see, BOTH engines
    * derive the same table from the corpus itself:
    *
    *   - keys: the distinct (l_partkey, l_suppkey) pairs — exactly the
    *     pairs TPC-H's partsupp must contain for lineitem's FK chain,
    *     so every lineitem row carries a supply cost (Q9 semantics);
    *   - ps_availqty / ps_supplycost: pure integer arithmetic on the
    *     keys (mod-hash), so any engine reproduces them bit-for-bit;
    *     supplycost is integer cents / 100.0 — ONE IEEE division, the
    *     same double everywhere.
    *
    * The DuckDB oracle uses the identical derivation as a CTE
    * (queries.Tpch.PartsuppCte), which also makes the table exist on ANY
    * corpus the gate runs (sf0.01, sf0.1, advdata) with zero setup. In
    * production partsupp would be a real parquet dim; the derivation
    * costs one 2-column lineitem projection + a keyed distinct
    * (map-side partial dedup before the exchange). */
  def partsupp(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")
      // 64-bit BEFORE the multiplies: a 32-bit partkey would wrap at
      // partkey > ~58M (×37) while DuckDB promotes — the derivation
      // must compute in long on BOTH engines to stay bit-for-bit.
      .select(col("l_partkey").cast("long").as("ps_partkey"),
        col("l_suppkey").cast("long").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_availqty",
        ((col("ps_partkey") * 37 + col("ps_suppkey") * 17) % 9999 + 1)
          .cast("int"))
      .withColumn("ps_supplycost",
        ((col("ps_partkey") * 31 + col("ps_suppkey") * 13) % 99900 + 100)
          .cast("double") / lit(100.0))

  /** Register all tables as temp views so `spark.sql` queries and the
    * DuckDB oracle share one table namespace. The derived `partsupp`
    * registers alongside the parquet tables (Spark-side only — the
    * oracle inlines the identical derivation as a CTE,
    * queries.Tpch.PartsuppCte, because DuckDB sees only the parquet). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
    partsupp(spark, sfDir).createOrReplaceTempView("partsupp")
  }
}
