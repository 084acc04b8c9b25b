package graft

import org.apache.spark.sql.SparkSession

/** Standard engine session factory: the only place a session is built
  * (`GraftSessionSpec` fails on any other `builder()` call in `src/`).
  * A caller that needs a different runtime SQL conf sets it with
  * `spark.conf.set` after `create`; the caller sets its own log level.
  *
  * - ANSI mode OFF: the config DSL's contract is null-on-bad-parse
  *   (reference is PySpark/Spark-3 permissive; transform_data.py casts
  *   never abort a job), so malformed datetimes/casts yield nulls that
  *   the required-field filter then handles.
  * - AQE ON: runtime coalescing + skew-join handling — the knob that
  *   replaces hand-tuned shuffle sizing at 100 TB.
  * - shuffle.partitions sized to cores for local mode (cluster deploys
  *   override; AQE coalesces either way).
  */
object GraftSession {
  def create(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
