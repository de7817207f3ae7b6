package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders over the driver-generated parquet fixtures
  * (`TESTDATA.md`). One parquet file per table under `sfDir`.
  *
  * Design notes for scale: every loader returns a plain scan DataFrame so
  * Catalyst can push filters/projections into the parquet reader. Nothing
  * here collects or caches; callers decide materialization.
  */
object Tables {

  /** Fixture-schema cache. `spark.read.parquet(path)` with no declared
    * schema runs a schema-inference JOB (footer read) on EVERY call —
    * the full bench run paid 866 such jobs (~27 s of stage wall, event
    * log, optimization round 19) re-inferring the same static fixture
    * schemas. Caching the inferred StructType per path and passing it
    * back via `.schema(...)` keeps every later call metadata-only.
    * This caches SCHEMA (catalog metadata), never data or results:
    * each action still scans the parquet fresh. The cache key carries
    * the file's (mtime, length) signature so a regenerated fixture
    * re-infers instead of serving a stale schema.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  /** Content signature of a fixture path. Directory-shaped parquet
    * fixtures fold the CHILD statuses in (count + max child mtime +
    * total child length): an in-place part-file rewrite does not
    * necessarily touch the directory's own mtime/length, so the root
    * status alone would serve a stale schema. -1 = unstattable (the
    * caller must NOT cache under it — a transient FS error would pin
    * whatever schema happened to be inferred). */
  private[graft] def pathSig(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) sigValue(st.getModificationTime * 31L + st.getLen)
      else {
        // sorted by name: listStatus order is filesystem-dependent, and
        // an order-sensitive fold would re-infer spuriously on an
        // unchanged directory. Depth-one only — the flat fixture layout
        // (dir of part files); a nested/partitioned layout would need a
        // recursive walk, which no Tables loader reads.
        val kids = fs.listStatus(p).sortBy(_.getPath.getName)
        var sig = 17L + kids.length
        var i = 0
        while (i < kids.length) {
          val k = kids(i)
          sig = sig * 31L + k.getModificationTime
          sig = sig * 31L + k.getLen
          i += 1
        }
        sigValue(sig)
      }
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** A computed signature, moved off the reserved -1 ("unstattable"). */
  private[graft] def sigValue(sig: Long): Long = if (sig == -1L) -2L else sig

  /** Plain parquet scan. Filters/pruning push down via Catalyst.
    * Schema served from [[schemaCache]] after the first inference. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(cachedSchema(spark, path)).parquet(path)
  }

  /** One cache entry per path, replaced whenever the signature moves —
    * superseded signatures never accumulate. A -1 (unstattable) sig
    * bypasses the cache entirely: infer fresh, serve, cache nothing. */
  private def cachedSchema(spark: SparkSession, path: String): StructType = {
    val sig = pathSig(spark, path)
    if (sig == -1L) return spark.read.parquet(path).schema
    val hit = schemaCache.get(path)
    if (hit != null && hit._1 == sig) hit._2
    else {
      val sc = spark.read.parquet(path).schema
      schemaCache.put(path, (sig, sc))
      sc
    }
  }

  /** The events feed's `ts` physical type is NOT under the engine's
    * control — fixture generations have shipped it as INT64
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects unless
    * nanos are read as long) and as TIMESTAMP(MICROS). A lakehouse
    * ingests feeds it doesn't own, so the loader sniffs the footer
    * schema and adapts instead of hardcoding one generation's layout
    * (the reference re-introspects schemas on every run the same way:
    * `/root/reference/src/etl_pipeline.py:55-58`).
    *
    * [[rawEventsSchema]] pins `spark.sql.legacy.parquet.nanosAsLong` so
    * a NANOS-typed fixture sniffs as LongType instead of failing; the
    * conf is harmless for all other layouts. [[tsToNtz]]/[[tsToEventTime]]
    * are the two normalizers every events consumer (batch and streaming)
    * routes through — one place to extend when the feed drifts again.
    */
  def rawEventsSchema(spark: SparkSession, path: String): StructType =
    rawSchemaOf(spark, path)

  /** Footer schema of any parquet path, with nanos-as-long pinned FOR
    * THE SNIFF ONLY (schema inference is eager, so the conf can be
    * restored immediately — nothing leaks into the caller's session;
    * callers that go on to READ a nanos-typed fixture pin the conf
    * around their own read, e.g. the streaming queries' withConf).
    */
  def rawSchemaOf(spark: SparkSession, path: String): StructType = {
    val sig = pathSig(spark, path)
    val cacheKey = s"raw:$path"
    if (sig != -1L) {
      val hit = schemaCache.get(cacheKey)
      if (hit != null && hit._1 == sig) return hit._2
    }
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val sc = try spark.read.parquet(path).schema
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    if (sig != -1L) schemaCache.put(cacheKey, (sig, sc))
    sc
  }

  /** Normalize a raw `ts` column to microsecond TIMESTAMP_NTZ — the
    * naive-wallclock semantics DuckDB gives the column (batch reads).
    * Sub-microsecond precision is truncated: grouping/sorting in the
    * declared queries is at hour/day granularity, so lossless there.
    */
  def tsToNtz(raw: DataType): Column = raw match {
    // integer `div`, not `/`: nanos (~1.7e18) exceed double's exact
    // integer range, so float division then cast flips the last µs
    case LongType         => timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType)
    case TimestampNTZType => col("ts")
    // session tz is pinned UTC everywhere → wallclock-preserving cast
    case _                => col("ts").cast(TimestampNTZType)
  }

  /** Normalize a raw `ts` column to event-time TIMESTAMP (streaming:
    * watermarks need TimestampType; with the session tz pinned UTC the
    * wallclock matches the batch NTZ reading exactly).
    */
  def tsToEventTime(raw: DataType): Column = raw match {
    case LongType      => timestamp_micros(expr("ts div 1000"))
    case TimestampType => col("ts")
    case _             => col("ts").cast(TimestampType)
  }

  /** Schema-adaptive events loader (see [[rawEventsSchema]]). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, sfDir, "events")
    df.withColumn("ts", tsToNtz(df.schema("ts").dataType))
  }

  def region(spark: SparkSession, d: String): DataFrame   = t(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame   = t(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = t(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = t(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame     = t(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame   = t(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = t(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame  = t(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = t(spark, d, "embeddings")

  /** Spread a scan across all cores before a CPU-heavy narrow pipeline
    * (shingling, hashing, per-row scoring). The local fixtures are single
    * small parquet files → a single input split → one task doing all the
    * work; the round-robin shuffle here is tiny (input bytes) and buys
    * full parallelism for the expensive downstream expressions. At
    * cluster scale inputs arrive already split, but the same guard
    * applies whenever file count < cores (e.g. few huge row groups).
    */
  def parallelize(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is metadata-only (the scan's file listing); the earlier
    // df.rdd.getNumPartitions forced a physical planning + RDD
    // conversion per call — pointless at cluster scale, where inputs
    // arrive already split. Non-file sources (0 files) pass through.
    val files = df.inputFiles.length
    if (files == 0 || files >= p) df else df.repartition(p)
  }
}

/** Helpers for DuckDB-oracle-deterministic aggregation.
  *
  * Floating sums/averages differ between engines by accumulation order.
  * Strategy: route every aggregated double through an exact
  * `DECIMAL(30,6)` intermediate — rounding a double to 6 fractional
  * digits is order-independent and identical in Spark and DuckDB for the
  * value ranges in the fixtures, and decimal summation is exact — then
  * cast the final result back to DOUBLE (equal decimals convert to
  * bit-identical doubles on both engines).
  *
  * Per-row (non-aggregated) double arithmetic needs none of this: the same
  * IEEE-754 ops over the same inputs are bit-identical across engines.
  */
object Det {
  val Dec: DecimalType = DecimalType(30, 6)

  /** Order-independent exact sum of a double column, returned as double.
    * Oracle SQL equivalent: CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE).
    */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast(DoubleType)

  /** Order-independent avg, returned as double.
    * Oracle SQL: CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(x).
    */
  def davg(c: Column): Column = dsum(c) / count(c)
}
