package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Format-dispatching reader (SURVEY S1-S4; transform_data.py:186-193).
  *
  * Contract preserved:
  *  - JSON: schema inferred (spark.read.json);
  *  - CSV: header=true, NO inferSchema — every column lands as string,
  *    casts are explicit config transformations, never reader magic;
  *  - Parquet: native scan (pushdown + pruning built in);
  *  - unknown format → error (the reference raises ValueError).
  *
  * A known `schema` (one an earlier inference over the same files
  * produced) skips the inference; it must be that schema, since a
  * declared one changes what JSON and CSV parse.
  */
object SourceReader {
  def read(spark: SparkSession, format: String, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(spark.read.schema)
    format.toLowerCase match {
      case "json"    => reader.json(path)
      case "csv"     => reader.option("header", "true").csv(path)
      case "parquet" => reader.parquet(path)
      case "orc"     => reader.orc(path)
      case other =>
        throw new IllegalArgumentException(s"Unsupported data format: $other")
    }
  }

  /** Parquet scan with schema evolution: `mergeSchema` unions the
    * footers of all files, so columns added over time surface as
    * nullable — the Spark analog of the reference's crawler-driven
    * schema evolution (README.md:14,32).
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  val CorruptCol = "_corrupt_record"

  /** Result of an error-tolerant read: clean rows (corrupt column
    * dropped), the quarantined corrupt rows, and their count. Call
    * [[TolerantRead.unpersist]] once the load is consumed — the parsed
    * input is cached for the budget check and would otherwise pin
    * executor storage for the session lifetime.
    */
  final case class TolerantRead(
      data: DataFrame, corrupt: DataFrame, corruptCount: Long,
      private val cached: Option[DataFrame] = None) {
    def unpersist(): Unit = cached.foreach { c => c.unpersist(); () }
  }

  final class ErrorBudgetExceeded(val corrupt: Long, val budget: Int)
    extends RuntimeException(s"corrupt records $corrupt exceed error budget $budget")

  /** Error-tolerant read with a corrupt-record budget — the engine
    * analog of the reference's `COPY ... MAXERROR 10`
    * (redshift_loader/handler.py:132): up to `maxErrors` unparseable
    * records are quarantined and the load proceeds; one more and the
    * load fails.
    *
    * JSON infers its schema (plus the corrupt column); CSV needs the
    * declared all-string schema to detect malformed rows (the untyped
    * CSV contract means type errors cannot exist — only shape errors).
    *
    * Scale note: the parsed frame is cached because Spark disallows
    * standalone `_corrupt_record` predicates on an uncached scan; at
    * very large inputs, run the budget check on a sampled prefix or
    * fold the count into the first action via `observe()` instead of
    * a full materialization.
    */
  def readTolerant(
      spark: SparkSession,
      format: String,
      path: String,
      maxErrors: Int = 10,
      csvSchema: Option[StructType] = None): TolerantRead = {
    val fmt = format.toLowerCase
    val df = fmt match {
      case "json" =>
        spark.read
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CorruptCol)
          .json(path)
      case "csv" =>
        val schema = csvSchema.getOrElse(throw new IllegalArgumentException(
          "csv tolerant read needs the declared column schema"))
        val withCorrupt =
          if (schema.fieldNames.contains(CorruptCol)) schema
          else schema.add(StructField(CorruptCol, StringType, nullable = true))
        spark.read
          .option("header", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CorruptCol)
          .schema(withCorrupt)
          .csv(path)
      case "parquet" => readMerged(spark, path) // columnar files parse or fail whole
      case other =>
        throw new IllegalArgumentException(s"Unsupported data format: $other")
    }
    if (!df.columns.contains(CorruptCol))
      return TolerantRead(df, df.limit(0), 0L)
    val cached = df.cache()
    val corrupt = cached.filter(col(CorruptCol).isNotNull)
    val bad =
      try corrupt.count()
      catch { case e: Throwable => cached.unpersist(); throw e }
    if (bad > maxErrors) { cached.unpersist(); throw new ErrorBudgetExceeded(bad, maxErrors) }
    TolerantRead(
      cached.filter(col(CorruptCol).isNull).drop(CorruptCol),
      corrupt,
      bad,
      Some(cached))
  }
}
