package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables.t

/** The executed streaming-broker path as an oracle-gated behavior
  * (S13/S13c engine side): events → JSON payloads appended to a
  * partitioned offset-addressed broker log → the custom DataSource V2
  * micro-batch stream ([[graft.stream.BrokerLogMicroBatchStream]]) →
  * checkpointed exactly-once parquet landing → per-partition audit.
  *
  * The hashed frame pins the whole transport contract at once:
  * `n_records` (no loss), `max_offset = n_records - 1` (offsets are
  * contiguous AND nothing was double-read — a replay or a gap breaks
  * the equality), `n_types`/`sum_id` (payload bytes survived the
  * broker + JSON round trip). DuckDB replays it all arithmetically
  * from the events table because partition assignment and payload
  * content are pure functions of `event_id`.
  *
  * Scale shape: the append side is one hash repartition on the broker
  * partition key (single writer per partition, like a producer per
  * topic-partition); the read side plans one split per broker
  * partition per micro-batch — the same parallelism contract as the
  * Kafka source. Payload bytes cross the exchange once at append and
  * never again.
  */
object Broker {

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType)))

  /** events subset (event_id % 50 < 4, ~8 %) keeps the per-record file
    * I/O proportionate at bench scale while still exercising every
    * broker partition.
    */
  def brokerRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.land("broker", dir) { base =>
      val brokerDir = s"$base/log"
      // The broker log is APPEND-ONLY and the landing checkpoint
      // resumes — unlike every overwrite-mode landing, a second JVM
      // would double the log and the landed table (seen: 399 vs 199
      // records when Verify ran twice against one /tmp). Wipe the
      // whole base so each process rebuilds deterministically.
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        }
      wipe(java.nio.file.Paths.get(base))
      val feed = t(s, dir, "events")
        .where(col("event_id") % 50 < 4)
        .select(
          (col("event_id") % 4).cast("int").as("bpart"),
          col("event_id").cast("long").as("event_id"),
          to_json(struct(col("event_id").cast("long").as("event_id"),
            col("event_type"))).as("payload"))
      // Single writer per broker partition: all rows of one bpart hash
      // to one task (the producer-per-topic-partition shape), so append
      // offsets are assigned contiguously from 0 with no coordination.
      feed.repartition(4, col("bpart"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            graft.stream.BrokerLog.appendText(
              brokerDir, r.getInt(0), r.getString(2),
              tsMicros = 1700000000000000L + r.getLong(1))
          }
        }
      val raw = s.readStream
        .format("graft-broker").option("path", brokerDir).load()
      val parsed = raw.select(
        col("partition"), col("offset"),
        from_json(col("value").cast("string"), payloadSchema).as("p"))
        .select(col("partition"), col("offset"), col("p.event_id"), col("p.event_type"))
      parsed.writeStream
        .format("parquet")
        .option("path", s"$base/landed")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read.parquet(s"$base/landed")
      .groupBy(col("partition").cast("long").as("partition"))
      .agg(
        count(lit(1)).as("n_records"),
        max(col("offset")).as("max_offset"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("event_id")).as("sum_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "broker_roundtrip" -> (brokerRoundtrip _))

  val oracle: Map[String, String] = Map(
    "broker_roundtrip" ->
      """SELECT CAST(event_id % 4 AS BIGINT) AS partition,
        |  count(*) AS n_records,
        |  CAST(count(*) - 1 AS BIGINT) AS max_offset,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events
        |WHERE event_id % 50 < 4
        |GROUP BY 1""".stripMargin)
}
