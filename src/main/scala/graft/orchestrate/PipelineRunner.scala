package graft.orchestrate

import java.time.LocalDateTime
import java.util.UUID

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.{SourceConfig, SourceType}
import graft.quality.QualityChecks
import graft.sink.{PartitionedWriter, WarehousePublisher}
import graft.sources.SourceReader
import graft.transform.TransformPipeline

/** Control plane (SURVEY §2.9; workflow_definition.json): parameter
  * injection (O1), source-type branch (O2), retry with exponential
  * backoff (O3), catch → notification (O4), sync transform stage (O6),
  * success report (O7). The crawler poll (O5) degenerates: schema
  * discovery is synchronous inside spark.read.
  */
final case class PipelineContext(
    executionId: String,
    startTime: LocalDateTime,
    sourceName: String,
    sourceType: SourceType)

object PipelineContext {
  def create(cfg: SourceConfig, startTime: LocalDateTime = LocalDateTime.now()): PipelineContext =
    PipelineContext(UUID.randomUUID().toString, startTime, cfg.name, cfg.sourceType)
}

final case class RunReport(
    executionId: String,
    sourceName: String,
    inputCount: Long,
    outputCount: Long,
    qualityPassed: Boolean,
    breachedMonitors: Seq[String],
    outputPath: Option[String],
    warehouseTable: Option[String],
    quarantinedCount: Long = 0L)

/** What [[PipelineRunner.runTransform]] did: row counts from the write's
  * `observe()` metrics and the schema of the frame it wrote (partition
  * columns included).
  */
final case class TransformResult(
    inputCount: Long, outputCount: Long, quarantined: Long, schema: StructType)

object Retry {
  /** O3: attempts × exponential backoff (workflow_definition.json:50-57;
    * config sample_source.yaml:28-30).
    */
  def withBackoff[A](attempts: Int, baseSeconds: Double = 1.0, multiplier: Double = 2.0,
      sleep: Long => Unit = Thread.sleep)(f: => A): A = {
    var delayMs = (baseSeconds * 1000).toLong
    var last: Throwable = null
    var i = 0
    while (i < math.max(1, attempts)) {
      Try(f) match {
        case Success(a) => return a
        case Failure(e) =>
          last = e
          i += 1
          if (i < attempts) { sleep(delayMs); delayMs = (delayMs * multiplier).toLong }
      }
    }
    throw last
  }
}

/** Failure/success notification hook (O4/O7) — the engine-side seam
  * where the reference publishes to SNS.
  */
trait Notifier {
  def success(report: RunReport): Unit = ()
  def failure(context: PipelineContext, error: Throwable): Unit = ()
}
object Notifier { object Silent extends Notifier }

object PipelineRunner {

  /** O5 crawler parity (workflow_definition.json:94-141): register the
    * landed raw zone as a discoverable external table in the session
    * catalog — the step the reference runs between landing and
    * transform with a Glue crawler, so downstream consumers can query
    * the raw zone by name instead of by path. The table is a pure
    * pointer (`CREATE TABLE … USING <fmt> LOCATION`), no data moves;
    * re-registration drops and re-creates the entry so the catalog
    * always reflects the latest landing's inferred schema (crawler
    * re-run semantics). CSV keeps the untyped header=true contract of
    * [[graft.sources.SourceReader.read]] (inference reads only the
    * header line). [[run]] reads the source with the schema this
    * registration stored, so its inference is the only one a run pays.
    * Scale note: JSON registration infers by scanning the zone — fine
    * for per-run landings (one pass over data that is about to be read
    * anyway), but a petabyte-scale accumulated raw zone should register
    * with an explicit schema or a sampled inference (`samplingRatio`),
    * exactly as Glue crawlers sample rather than scan; parquet/orc read
    * footers only.
    */
  def registerRawZone(
      spark: SparkSession, sourceName: String,
      inputPath: String, dataFormat: String): String = {
    val fmt = dataFormat.toLowerCase match {
      case f @ ("json" | "csv" | "parquet" | "orc") => f
      case other =>
        throw new IllegalArgumentException(s"Unsupported data format: $other")
    }
    // The path is interpolated into a SQL literal below — reject the
    // one character that could terminate the literal rather than
    // escaping it (no real filesystem path needs a single quote, and a
    // rejected path is a visible config error where an escaped one
    // silently registers a table nobody can read back by name).
    require(!inputPath.contains("'"),
      s"raw-zone path must not contain single quotes: $inputPath")
    val tbl = "raw_" + sourceName.replaceAll("[^A-Za-z0-9_]", "_")
    val options = if (fmt == "csv") " OPTIONS (header 'true')" else ""
    // DROP+CREATE under a per-name lock: the session catalog is shared
    // across concurrently-running pipelines, and two crawls of the same
    // source racing the two statements can otherwise interleave into
    // TABLE_ALREADY_EXISTS. (Cross-JVM races are the metastore's
    // transaction problem, not ours.)
    val lock = registerLocks.computeIfAbsent(tbl, _ => new Object)
    lock.synchronized {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl USING $fmt$options LOCATION '$inputPath'")
      // A Hive-partitioned landing (PartitionedWriter.landRaw's
      // ingest_year=/…/ingest_hour= dirs) registers as a catalog-tracked
      // partitioned table with NO partitions added, so reading it by
      // name would see 0 rows. Unpartitioned landings skip the listing.
      if (spark.sessionState.catalog.getTableMetadata(TableIdentifier(tbl))
          .partitionColumnNames.nonEmpty)
        spark.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
    }
    tbl
  }

  private val registerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The transform stage (§3 entry point 2) as one declarative plan:
    * read → map → transform → filter → metadata → partition → write.
    *
    * Input/output row counts come from `observe()` metrics collected by
    * the single write action — zero extra passes over the data (the
    * reference re-executes the whole plan twice for its counts AND reads
    * both from the post-transform df, transform_data.py:234-238; both
    * fixed here).
    *
    * `sourceSchema`, when known (the raw zone's registered schema), is
    * given to the plain reader so it does not infer it again; the
    * error-tolerant reader always infers.
    */
  def runTransform(
      spark: SparkSession,
      cfg: SourceConfig,
      ctx: PipelineContext,
      inputPath: String,
      outputPath: String,
      dataFormat: String,
      sourceSchema: Option[StructType] = None): TransformResult = {
    val inObs = org.apache.spark.sql.Observation()
    val outObs = org.apache.spark.sql.Observation()
    // max_errors in the config turns on the MAXERROR-style corrupt-record
    // budget (json/parquet; untyped CSV has no per-row parse failures
    // without a declared shape, so it stays on the plain reader).
    val tolerant = cfg.schema.maxErrors match {
      case Some(budget) if dataFormat.toLowerCase != "csv" =>
        Some(SourceReader.readTolerant(spark, dataFormat, inputPath, budget))
      case _ => None
    }
    try {
      val source = tolerant.map(_.data)
        .getOrElse(SourceReader.read(spark, dataFormat, inputPath, sourceSchema))
      val raw = source.observe(inObs, count(lit(1)).as("n"))
      val processed = cfg.destination.processed
      val partitionBy = processed.map(_.partitionBy).getOrElse(Nil)
      val transformed = TransformPipeline
        .compile(cfg.schema, cfg.name, ctx.startTime, partitionBy)(raw)
        .observe(outObs, count(lit(1)).as("n"))

      PartitionedWriter.write(transformed, outputPath,
        processed.map(_.format).getOrElse("parquet"), partitionBy)
      // Rejected rows land beside the output for inspection — the
      // stl_load_errors analog; counted but never silently discarded.
      // The corrupt column is renamed on landing: files carrying a data
      // column literally named _corrupt_record would trip Spark's
      // corrupt-record-only scan restriction for every later reader.
      // A clean run DELETES any stale quarantine from a previous run of
      // the same output path — the path always reflects this load.
      val qPath = s"${outputPath.stripSuffix("/")}_quarantine"
      val quarantined = tolerant.map { tr =>
        if (tr.corruptCount > 0)
          tr.corrupt.withColumnRenamed(SourceReader.CorruptCol, "raw_record")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(qPath)
        else {
          val p = new org.apache.hadoop.fs.Path(qPath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) { fs.delete(p, true); () }
        }
        tr.corruptCount
      }.getOrElse(0L)
      TransformResult(inObs.get("n").asInstanceOf[Long], outObs.get("n").asInstanceOf[Long],
        quarantined, transformed.schema)
    } finally tolerant.foreach(_.unpersist())
  }

  /** The written output, read back for quality and publish. Parquet
    * footers hold exactly the schema the write used, so the reader is
    * given that schema minus the partition columns instead of running
    * an inference job to re-learn it; partition discovery still types
    * the partition columns from the directory names, as inference
    * would. Other formats infer as before (json/csv do not round-trip
    * types).
    */
  private[orchestrate] def readBack(
      spark: SparkSession, outputPath: String, format: String,
      writtenSchema: StructType, partitionBy: Seq[String]): DataFrame = {
    val reader = spark.read.format(format)
    if (format.equalsIgnoreCase("parquet")) {
      val resolver = spark.sessionState.conf.resolver
      reader.schema(StructType(writtenSchema.filterNot(f =>
        partitionBy.exists(resolver(_, f.name))))).load(outputPath)
    } else reader.load(outputPath)
  }

  /** Full pipeline run (§3 entry point 1): branch → transform → quality
    * → monitors → optional warehouse publish → report.
    */
  def run(
      spark: SparkSession,
      cfg: SourceConfig,
      inputPath: String,
      outputPath: String,
      dataFormat: String = "",
      publish: Boolean = false,
      notifier: Notifier = Notifier.Silent,
      startTime: LocalDateTime = LocalDateTime.now()): RunReport = {
    val ctx = PipelineContext.create(cfg, startTime)
    try {
      val fmt = if (dataFormat.nonEmpty) dataFormat else cfg.schema.inputFormat
      // O5: the raw zone becomes a named catalog table BEFORE transform,
      // exactly where the reference's crawler step sits in the workflow.
      val raw = registerRawZone(spark, cfg.name, inputPath, fmt)
      // The catalog holds the schema the registration inferred. It is
      // empty when Spark defers inference to read time (data columns
      // overlapping partition directories); the reader infers then.
      val rawSchema = Some(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(raw)).schema).filter(_.nonEmpty)
      // O2: branch on source type — api/email sources are expected to be
      // already landed at inputPath by their ingest stage (the reference
      // marks email/file/stream as landed passthroughs, workflow:67-81).
      val TransformResult(inCount, outCount, quarantined, writtenSchema) = Retry.withBackoff(
        cfg.api.map(_.retry.attempts).getOrElse(1),
        cfg.api.map(_.retry.baseSeconds).getOrElse(1.0)) {
        runTransform(spark, cfg, ctx, inputPath, outputPath, fmt, rawSchema)
      }

      val processed = cfg.destination.processed
      val written = readBack(spark, outputPath, processed.map(_.format).getOrElse("parquet"),
        writtenSchema, processed.map(_.partitionBy).getOrElse(Nil))
      val quality = QualityChecks.run(written, cfg.qualityChecks)

      // error_count covers both filtered rows and parse rejects, so a
      // monitor on it breaches when the budgeted quarantine fills up.
      val metrics = Map(
        "record_count" -> outCount.toDouble,
        "error_count" -> (inCount - outCount + quarantined).toDouble,
        "quarantined_count" -> quarantined.toDouble)
      val breached = QualityChecks.evaluateMonitors(metrics, cfg.monitoring.metrics)
        .collect { case (m, true) => m.name }

      val table = if (publish && cfg.warehouse.nonEmpty)
        Some(WarehousePublisher.publish(spark, written, cfg.warehouse.get).table)
      else None

      val report = RunReport(ctx.executionId, cfg.name, inCount, outCount,
        quality.passed, breached, Some(outputPath), table, quarantined)
      notifier.success(report)
      report
    } catch {
      case e: Throwable =>
        notifier.failure(ctx, e)
        throw e
    }
  }
}
