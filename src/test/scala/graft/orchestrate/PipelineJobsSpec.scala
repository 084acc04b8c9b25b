package graft.orchestrate

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase
import graft.config.{ConfigLoader, SourceConfig}
import graft.sources.SourceReader
import graft.transform.TransformPipeline

/** The Spark-job budget of one `PipelineRunner.run(publish = true)`:
  * one source inference, the partitioned write, one quality action and
  * the distkey/sortkey copy — at most 8 jobs. Also pins that the
  * schema-known read-back equals the inferred one, and that a
  * partitioned raw landing reads back by table name.
  */
class PipelineJobsSpec extends SparkTestBase {

  private val Start = LocalDateTime.of(2026, 3, 1, 0, 0)

  private def config(name: String, format: String, out: Path,
      transformations: String): SourceConfig =
    ConfigLoader.fromYaml(
      s"""source:
         |  name: $name
         |  type: file
         |  schema:
         |    type: $format
         |    mapping:
         |      id: rec_id
         |      cust: customer
         |      eventDate: event_date
         |      amount: amount
         |    required:
         |      - id
         |    transformations:
         |$transformations
         |  destination:
         |    processed:
         |      prefix: "$out/processed"
         |      format: parquet
         |      partitionBy:
         |        - year
         |        - month
         |        - day
         |  redshift:
         |    schema: jobs
         |    table: $name
         |    distkey: cust
         |    sortkey:
         |      - eventDate
         |    vacuum_strategy: auto
         |    analyze: true
         |  quality_checks:
         |    - type: not_null
         |      columns:
         |        - id
         |        - cust
         |    - type: unique
         |      columns:
         |        - id
         |""".stripMargin)

  private val rows = (1 to 40).map(i => (i, i % 6, f"2026-02-${i % 7 + 1}%02d", i * 1.5))

  private def jsonCase(): (SourceConfig, Path) = {
    val dir = Files.createTempDirectory("graft-jobs-json")
    val input = Files.createDirectories(dir.resolve("landing"))
    Files.write(input.resolve("part-0.json"), rows.map { case (i, c, d, a) =>
      s"""{"rec_id":$i,"customer":$c,"event_date":"$d","amount":$a}"""
    }.mkString("\n").getBytes(UTF_8))
    (config("json_src", "json", dir,
      "      - field: eventDate\n        type: datetime\n        format: \"yyyy-MM-dd\""),
      input)
  }

  private def csvCase(): (SourceConfig, Path) = {
    val dir = Files.createTempDirectory("graft-jobs-csv")
    val input = Files.createDirectories(dir.resolve("landing"))
    Files.write(input.resolve("part-0.csv"), ("rec_id,customer,event_date,amount" +:
      rows.map { case (i, c, d, a) => s"$i,$c,$d,$a" }).mkString("\n").getBytes(UTF_8))
    (config("csv_src", "csv", dir,
      Seq("      - field: id\n        type: integer",
        "      - field: cust\n        type: integer",
        "      - field: amount\n        type: double",
        "      - field: eventDate\n        type: datetime\n        format: \"yyyy-MM-dd\"")
        .mkString("\n")),
      input)
  }

  /** `f`'s result and the Spark jobs it started. */
  private def withJobs[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      // listener events are delivered asynchronously
      Thread.sleep(500)
      (a, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  for ((label, make) <- Seq("JSON" -> (() => jsonCase()), "CSV" -> (() => csvCase()))) {
    test(s"$label config: one published run takes at most 8 Spark jobs") {
      val (cfg, input) = make()
      val out = cfg.destination.processed.get.path
      val (report, jobs) = withJobs(PipelineRunner.run(spark, cfg, input.toString, out,
        publish = true, startTime = Start))
      assert(report.inputCount == 40 && report.outputCount == 40 && report.qualityPassed)
      assert(report.warehouseTable.contains(s"jobs_${cfg.name}"))
      assert(jobs <= 8, s"one published run took $jobs Spark jobs")
    }

    test(s"$label config: the schema-known read-back equals the inferred schema") {
      val (cfg, input) = make()
      val out = cfg.destination.processed.get.path
      PipelineRunner.run(spark, cfg, input.toString, out, publish = true, startTime = Start)
      val partitionBy = cfg.destination.processed.get.partitionBy
      val writtenSchema = TransformPipeline.compile(cfg.schema, cfg.name, Start, partitionBy)(
        SourceReader.read(spark, cfg.schema.inputFormat, input.toString)).schema
      val inferred = spark.read.parquet(out).schema
      assert(PipelineRunner.readBack(spark, out, "parquet", writtenSchema, partitionBy)
        .schema == inferred)
      assert(spark.table(s"jobs_${cfg.name}").schema == inferred)
    }
  }

  test("a Hive-partitioned raw landing registers with its partitions readable by name") {
    val s = spark; import s.implicits._
    val landing = Files.createTempDirectory("graft-raw-partitioned").resolve("landing")
    graft.sink.PartitionedWriter.landRaw(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), landing.toString, Start)
    val tbl = PipelineRunner.registerRawZone(spark, "partitioned_landing",
      landing.toString, "json")
    assert(spark.table(tbl).count() == 3)
  }
}
