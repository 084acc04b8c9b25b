package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loader. All engine queries read the driver-generated
  * parquet tables (TESTDATA.md) through this single entry point so the
  * scan path (predicate pushdown, column pruning) is uniform.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Filesystem-safe tag for an sf dir, used to key scratch landings.
    * Prefixed so it can never start with '_' or '.' — Hadoop path
    * filters treat such names as hidden and silently skip them on any
    * glob or parent-directory listing.
    */
  def pathTag(dir: String): String = "sf_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  private val landed =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[Unit]]()

  /** Build-once guard for landed scratch artifacts (PQ/q8 codes,
    * trained centroids, partitioned layouts): the first caller per
    * JVM runs `build` (which must WRITE `path`), everyone else just
    * reads. Single-flight: a caller racing the first one blocks until
    * the build is done, so no caller returns while `path` is
    * mid-write. The build runs outside the map's `computeIfAbsent`,
    * because builds nest (a landing may land another path). A failed
    * build throws to every caller waiting on it and removes its own
    * entry, so a later call retries instead of reading a
    * missing/partial artifact for the rest of the JVM.
    */
  def landOnce(path: String)(build: => Unit): Unit = {
    val entry = landed.computeIfAbsent(path,
      _ => new java.util.concurrent.FutureTask[Unit](() => build))
    entry.run() // a no-op unless this caller is the first to force it
    try entry.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        landed.remove(path, entry)
        throw e.getCause
    }
  }

  /** Resolved-relation cache, keyed by (session, path) — the engine's
    * stand-in for a metastore catalog: `spark.read.parquet` re-runs
    * file listing, footer schema inference and DataSource resolution
    * on EVERY call (measured ~64 ms/table; OPTIMIZATION_r17.md,
    * "Session-overhead floor", and VERDICT.md; across the 252-query ×
    * 3-rep bench that re-resolution was a double-digit share of total
    * wall time). A production deployment resolves a table once through
    * its catalog; this map is that, for path tables. Only IMMUTABLE-per-JVM paths may go through it: the
    * driver fixture tables and the [[landOnce]]-guarded scratch
    * artifacts (built exactly once per JVM, then read-only) — paths
    * that are VERSIONED or rewritten in place (published index dirs,
    * streaming sinks) must keep calling spark.read directly. Caching
    * is per SparkSession (a DataFrame is bound to its session and its
    * conf — e.g. the AQE-off plan-guard session must not share plans
    * with the main one), and it caches RESOLUTION ONLY: every query
    * still builds its own plan on top and re-executes every job.
    *
    * The key's flag separates the two readers of one path:
    * [[readImmutable]] caches the raw read, [[t]] the fixture frame
    * with `events.ts` normalized. Sharing a key would let whichever
    * ran first decide what the other returns.
    */
  private val resolvedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Boolean), DataFrame]()

  /** Cached read of an immutable-per-JVM parquet path (see
    * [[resolvedCache]] for the contract).
    */
  def readImmutable(spark: SparkSession, path: String): DataFrame =
    resolvedCache.computeIfAbsent((spark, path, false), _ => spark.read.parquet(path))

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    // reader rejects; read nanos as long and truncate to micros (same
    // semantics as DuckDB's TIMESTAMP_NS → TIMESTAMP cast). Engine
    // sessions (everything built by GraftSession.create) set the conf at
    // build time; this set-once guard covers foreign sessions (e.g. the
    // harness smoke session) without re-mutating conf on every read.
    if (spark.conf.get(NanosKey, "false") != "true") spark.conf.set(NanosKey, "true")
    resolvedCache.computeIfAbsent((spark, s"$dir/$name.parquet", true), _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events" &&
          df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        // Integral `div`, NOT `/`: Column./ is double division, and at
        // ~1.7e18 nanos a double's ulp exceeds 1000, rounding some
        // timestamps up a microsecond (caught by the session-window
        // oracle, and enough to push boundary events across windows).
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else if (name == "events")
        // Micros-precision fixtures arrive as TIMESTAMP_NTZ; normalize to
        // TimestampType (sessions pin UTC, so the instant is unchanged) so
        // every downstream plan sees the same type as the nanos path.
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      else df
    })
  }
}
