package graft.stream

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.config.ConfigLoader

/** The Spark-job budget of one fresh `writeBatchIncremental` tick with
  * decontamination: the output tail's mix reads its count table once
  * and the shard prefix sum carries the chunk columns through, so the
  * tick takes fewer jobs than the join-back formulation's 30 on this
  * input.
  */
class StreamTickJobsSpec extends SparkTestBase {

  private val cu = ConfigLoader.fromYaml(
    """source:
      |  name: tick_jobs
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    stratum_field: lang
      |    quality:
      |      min_tokens: 20
      |      max_tokens: 5000
      |      min_stop_ratio: 0.02
      |    dedup: exact
      |    mix: true
      |    chunk:
      |      tokens: 32
      |      overlap: 8
      |    shard:
      |      budget: 2048
      |      bucket_width: 4096
      |    decontam:
      |      eval_where: "doc_id % 20 = 0"
      |      shingle_len: 5
      |      min_shared: 3
      |""".stripMargin)
    .curation.getOrElse(throw new IllegalStateException("no curation section"))

  test("a fresh decontam tick takes at most 25 Spark jobs") {
    // An in-memory batch, like a tick fed from collected rows.
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") < 160).select(col("doc_id"), col("text"), col("lang"))
    val batch = spark.createDataFrame(java.util.Arrays.asList(docs.collect(): _*), docs.schema)
    val dir = Files.createTempDirectory("graft-tick-jobs").toString
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamCuration.writeBatchIncremental(batch, 0L, cu, s"$dir/state", s"$dir/out")
      // listener events are delivered asynchronously
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(StreamCuration.readStats(spark, s"$dir/state")(0L)("batch_rows") == 160L)
    // 30 with the __key join-back tail and the two-read count table, 23 now.
    assert(jobs.get() <= 25, s"one fresh tick took ${jobs.get()} Spark jobs")
  }
}
