package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.config.{ConfigLoader, TemplateResolver}
import graft.orchestrate.PipelineRunner
import graft.queries.Registry
import graft.sink.WarehousePublisher
import graft.stream.StreamCuration

/** What one op produced. `fingerprint` identifies its result content;
  * `layers` holds the op's layer spans in seconds; `failure` is set when
  * the output check failed. */
final case class Outcome(
    fingerprint: String,
    inputRows: Long,
    inputBytes: Long,
    layers: Map[String, Double] = Map.empty,
    bytesWritten: Long = 0L,
    filesWritten: Long = 0L,
    failure: Option[String] = None)

/** One closed-loop operation: `run` is timed, `check` is not. */
final case class Op(id: String, run: () => Outcome, check: Outcome => Outcome = identity)

/** Paths of one benchmark run. `data` is the generated fixture; every
  * write goes under `scratch`. */
final case class Env(spark: SparkSession, data: String, scratch: String)

trait Workload {
  /** Layer that jobs without an engine call site belong to. */
  def entryModule: String
  /** Timed sweeps a run makes at least. */
  def timedSweeps: Int = 2
  /** One sweep: every op of the workload once, in seeded order. */
  def sweep(rng: Random): Seq[Op]
  /** Extra per-layer metrics of this workload (trace mode). */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Forgets what the warm-up sweep recorded. */
  def reset(): Unit = ()
}

object Workloads {
  val Names: Seq[String] = Seq("analytics_queries", "curation_ops", "etl_publish")

  // Each workload has an odd number of ops, so the median op latency of a
  // run falls on one op, not between two ops of different cost.

  /** Heavy LLM-data operators: exact near-dup pairs (set-similarity join),
    * image pHash near-dups, substring spans, hybrid BM25 + vector search
    * and the training manifest. */
  val CurationOps: Seq[String] = Seq(
    "jaccard_pairs", "image_neardup", "substr_spans", "hybrid_rrf", "training_manifest")

  /** Every third oracle-backed row (in name order) of the Relational,
    * Tpch and Temporal batteries: 15 of the 45, so that one run — a cold
    * warm-up sweep plus three timed sweeps — stays near 40 s. */
  def analyticsOps: Seq[String] = Seq(graft.queries.Relational.queries,
    graft.queries.Tpch.queries, graft.queries.Temporal.queries)
    .flatMap(_.keys).filter(Registry.oracle.contains).sorted
    .zipWithIndex.collect { case (n, i) if i % 3 == 0 => n }

  def apply(name: String, env: Env, pins: Map[String, String]): Workload = name match {
    // Three sweeps of 15 queries give 45 samples, enough for a p75 tail
    // with 10 samples beyond it; curation ops take seconds each, so two.
    case "analytics_queries" => new QueryWorkload(env, analyticsOps, pins, timedSweeps = 3)
    case "curation_ops" => new QueryWorkload(env, CurationOps, pins, timedSweeps = 2)
    case "etl_publish" => new EtlWorkload(env)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (bytes, files) of the data files under `f`; hidden and `_`-prefixed
    * metadata files do not count. */
  def dirBytes(f: File): (Long, Long) =
    if (f.getName.startsWith(".") || f.getName.startsWith("_") || !f.exists()) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).foldLeft((0L, 0L)) { (acc, c) =>
      val (b, n) = dirBytes(c); (acc._1 + b, acc._2 + n)
    }
}

/** Registry queries: build the frame, then collect it (the timed op);
  * the collected rows' fingerprint must equal the pinned one. */
final class QueryWorkload(env: Env, names: Seq[String], pins: Map[String, String],
    override val timedSweeps: Int) extends Workload {
  def entryModule = "queries"
  private val inputs = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private lazy val stamp = Main.fixtureStamp(env.data)

  /** Rows and bytes of the fixture tables the op's plan scans. */
  private def planInputs(df: DataFrame): (Long, Long) = {
    val paths = df.queryExecution.analyzed.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }
    val tables = paths.flatMap { p =>
      val n = p.split("/").last.stripSuffix(".parquet")
      stamp.get(n).filter(_ => p.endsWith(s"/$n.parquet")).map(n -> _)
    }.toMap
    (tables.values.map(_._1).sum, tables.values.map(_._2).sum)
  }

  def sweep(rng: Random): Seq[Op] = rng.shuffle(names).map { name =>
    var df: DataFrame = null
    var rows: Array[Row] = null
    Op(name, () => {
      val t0 = System.nanoTime()
      df = Registry.queries(name)(env.spark, env.data)
      val t1 = System.nanoTime()
      rows = df.collect()
      val t2 = System.nanoTime()
      Outcome("", 0L, 0L,
        layers = Map("queries.build" -> (t1 - t0) / 1e9, "queries.exec" -> (t2 - t1) / 1e9))
    }, out => {
      val fp = Canon.ofRows(df.schema.fieldNames, rows).hex
      rows = null
      val (inRows, inBytes) = inputs.getOrElseUpdate(name, planInputs(df))
      val o = out.copy(fingerprint = fp, inputRows = inRows, inputBytes = inBytes)
      pins.get(name) match {
        case Some(p) if p == fp => o
        case Some(p) => o.copy(failure = Some(s"fingerprint $fp != pinned $p"))
        case None => o.copy(failure = Some("no pinned fingerprint"))
      }
    })
  }
}

/** Config-DSL write path: parse a source config, then one
  * `PipelineRunner.run(publish = true)` over a pre-landed batch.  Each
  * sweep also runs one streaming-curation tick
  * (`StreamCuration.writeBatchIncremental`) on fresh state: the stream
  * module's state-write path. */
final class EtlWorkload(env: Env) extends Workload {
  def entryModule = "orchestrate"
  private val spark = env.spark
  final case class Chunk(config: String, name: String, path: String, rows: Long,
      validRows: Long, bytes: Long)
  private val chunks: Seq[Chunk] = {
    implicit val f: Formats = DefaultFormats
    val js = JsonMethods.parse(read(s"${env.data}/etl/manifest.json"))
    (js \ "chunks").children.map { c =>
      Chunk((c \ "config").extract[String], (c \ "name").extract[String],
        s"${env.data}/etl/${(c \ "path").extract[String]}", (c \ "rows").extract[Long],
        (c \ "valid_rows").extract[Long], (c \ "bytes").extract[Long])
    }
  }
  private val yaml: Map[String, String] =
    chunks.map(_.config).distinct.map(c => c -> read(s"${env.data}/etl/$c.yaml")).toMap
  private val out = s"${env.scratch}/etl"
  private val resolver = TemplateResolver.fromMaps(env = Map("BENCH_OUT" -> out))
  private val targets: Map[String, String] =
    yaml.map { case (c, y) => c -> ConfigLoader.fromYaml(y, resolver).warehouse.get.qualified }
  private val StartTime = LocalDateTime.of(2026, 1, 1, 0, 0)
  private var versions = Seq.empty[Double]

  private def read(path: String) = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  // Streaming curation: the fixed corpus `stream/landing` is one tick's
  // batch, in an order the seed shuffles.
  private val landing = s"${env.data}/stream/landing"
  private val curation = ConfigLoader.fromYaml(read(s"${env.data}/stream/curation.yaml"))
    .curation.get
  private val (docSchema, docs) = {
    val df = spark.read.parquet(landing)
    (df.schema, df.collect().toSeq.sortBy(_.getAs[Long]("doc_id")))
  }
  private val docBytes = docs.map(_.getAs[String]("text").getBytes("UTF-8").length.toLong).sum
  /** The batch twin: the re-materializing curation over the same corpus. */
  private lazy val twin = Canon.of(StreamCuration.curate(spark, curation, landing))
  private val streamRoot = new File(s"${env.scratch}/stream")
  private var sweepNo = 0
  final case class Tick(seconds: Double, batchRows: Long, gatedRows: Long,
      newWinnerRows: Long, stateBytes: Long)
  private var ticks = Seq.empty[Tick]

  /** Orders and lineitem chunks alternate while both last; the seed
    * orders each list.  The stream tick follows. */
  def sweep(rng: Random): Seq[Op] = {
    val byCfg = chunks.groupBy(_.config).toSeq.sortBy(_._1)
      .map { case (_, cs) => rng.shuffle(cs.sortBy(_.name)) }
    val n = byCfg.map(_.size).max
    val etl = (0 until n).flatMap(i => byCfg.flatMap(_.lift(i))).map(op)
    // Fresh state per sweep: the previous sweep's state is removed here,
    // outside any op.
    Workloads.deleteTree(streamRoot)
    val dir = s"$streamRoot/sweep$sweepNo"
    sweepNo += 1
    etl :+ tick(rng.shuffle(docs), dir)
  }

  private def op(c: Chunk): Op = Op(s"${c.config}/${c.name}", () => {
    val t0 = System.nanoTime()
    val cfg = ConfigLoader.fromYaml(yaml(c.config), resolver)
    val t1 = System.nanoTime()
    val report = PipelineRunner.run(spark, cfg, c.path, cfg.destination.processed.get.path,
      publish = true, startTime = StartTime)
    val t2 = System.nanoTime()
    val failures = Seq(
      (report.inputCount != c.rows) -> s"input ${report.inputCount} != ${c.rows}",
      (report.outputCount != c.validRows) -> s"output ${report.outputCount} != ${c.validRows}",
      (!report.qualityPassed) -> "quality checks failed",
      !report.warehouseTable.contains(targets(c.config)) -> "not published").collect {
      case (true, m) => m
    }
    Outcome("", c.rows, c.bytes,
      layers = Map("config.parse" -> (t1 - t0) / 1e9, "orchestrate.run" -> (t2 - t1) / 1e9),
      failure = failures.headOption.map(m => s"run report: $m"))
  }, o => if (o.failure.nonEmpty) o else {
    // The published current version must read back the rows just written.
    val target = targets(c.config)
    val published = Canon.of(spark.table(target))
    val written = Canon.of(spark.read.parquet(s"$out/${c.config}"))
    val version = WarehousePublisher.currentVersion(spark, target)
    val (vb, vf) = Workloads.dirBytes(new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"${target}_v$version"))
    val (ob, of) = Workloads.dirBytes(new File(s"$out/${c.config}"))
    versions :+= WarehousePublisher.listVersions(spark, target).size.toDouble
    val bad =
      if (published != written) Some(s"published ${published.hex} != written ${written.hex}")
      else if (published.rows != c.validRows) Some(s"published ${published.rows} rows")
      else None
    o.copy(fingerprint = published.hex, bytesWritten = vb + ob, filesWritten = vf + of,
      failure = bad)
  })

  /** One tick on fresh state.  Its check: the tick's stats count the
    * batch, and the incremental output equals the batch twin. */
  private def tick(rows: Seq[Row], dir: String): Op = {
    val state = s"$dir/state"
    Op("stream/tick", () => {
      val batch = spark.createDataFrame(rows.asJava, docSchema)
      val t0 = System.nanoTime()
      StreamCuration.writeBatchIncremental(batch, 0L, curation, state, s"$dir/out")
      val dt = (System.nanoTime() - t0) / 1e9
      Outcome("", rows.size.toLong, docBytes, layers = Map("stream.tick" -> dt))
    }, o => {
      val stats = StreamCuration.readStats(spark, state).getOrElse(0L, Map.empty)
      val (b, f) = Workloads.dirBytes(new File(dir))
      val (sb, _) = Workloads.dirBytes(new File(state))
      ticks :+= Tick(o.layers("stream.tick"), stats.getOrElse("batch_rows", 0L),
        stats.getOrElse("gated_rows", 0L), stats.getOrElse("new_winner_rows", 0L), sb)
      val result = Canon.of(StreamCuration.incrementalOutput(spark, curation, state))
      val bad =
        if (!stats.get("batch_rows").contains(rows.size.toLong)) Some(s"tick stats $stats")
        else if (result != twin) Some(s"incremental output ${result.hex} != batch twin ${twin.hex}")
        else None
      o.copy(fingerprint = result.hex, bytesWritten = b, filesWritten = f, failure = bad)
    })
  }

  override def reset(): Unit = { versions = Nil; ticks = Nil }
  override def layerMetrics(): Map[String, Double] = {
    val rows = ticks.map(_.batchRows).sum.toDouble
    def frac(f: Tick => Long) = if (rows > 0) ticks.map(f).sum / rows else 0.0
    Map(
      "sink.versions_retained" -> Metrics.median(versions),
      "stream.tick_s" -> Metrics.median(ticks.map(_.seconds)),
      "stream.state_bytes" -> Metrics.median(ticks.map(_.stateBytes.toDouble)),
      "stream.gated_frac" -> frac(_.gatedRows),
      "stream.new_winner_frac" -> frac(_.newWinnerRows))
  }
}
