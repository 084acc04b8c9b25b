package graft.stream

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Connector-free contract test for the broker payload parse: the
  * `from_json(bytes, schema)` stage shared verbatim by readKafka
  * (`value` column) and readKinesis (`data` column) EXECUTES here over
  * MemoryStream binary payloads — Kafka/Kinesis connector jars are
  * deploy-time deps, but everything after the transport's byte column
  * is this logic, now exercised (not just plan-built) in-sandbox.
  */
class StreamPayloadParseSpec extends SparkTestBase {
  import StreamPayloadParseSpec.Rec

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("amount", DoubleType)))

  private def run(byteCol: String, payloads: Seq[String]): Seq[(Any, Any, Any)] = {
    val ms = MemoryStream[Rec](org.apache.spark.sql.Encoders.product[Rec], spark.sqlContext)
    ms.addData(payloads.map(p => Rec(p.getBytes(UTF_8))))
    val name = s"payload_parse_$byteCol"
    val q = StreamSource.parseJsonPayload(
        ms.toDF().withColumnRenamed("value", byteCol), byteCol, schema)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect()
      .map(r => (r.get(0), r.get(1), r.get(2))).toSeq
  }

  test("kafka-shaped value bytes parse into the declared schema") {
    val rows = run("value", Seq(
      """{"event_id": 1, "event_type": "click", "amount": 2.5}""",
      """{"event_id": 2, "event_type": "view", "amount": -1.0}"""))
    assert(rows.toSet == Set((1L, "click", 2.5), (2L, "view", -1.0)))
  }

  test("kinesis-shaped data bytes run through the identical stage") {
    val rows = run("data", Seq("""{"event_id": 7, "event_type": "purchase", "amount": 9.99}"""))
    assert(rows == Seq((7L, "purchase", 9.99)))
  }

  test("poison payloads become all-null rows, never a stream failure") {
    val rows = run("value", Seq(
      """{"event_id": 3, "event_type": "ok", "amount": 1.0}""",
      """not json at all""",
      """{"event_id": "not a long"}""",
      """{"event_type": "missing fields"}"""))
    assert(rows.contains((3L, "ok", 1.0)))
    // Malformed JSON nulls the whole struct; a type-mismatched field
    // nulls that field (here the only one present) — both all-null.
    assert(rows.count { case (a, b, c) => a == null && b == null && c == null } == 2)
    // Schema-partial JSON keeps what it has, nulls the rest.
    assert(rows.contains((null, "missing fields", null)))
    assert(rows.size == 4, "every payload must produce exactly one row")
  }
}

object StreamPayloadParseSpec {
  /** A Kafka-record-shaped row: binary payload under the transport's
    * column name. Top-level in the companion, not nested in the spec
    * class: Spark's generated encoder code cannot construct an inner
    * class without its outer instance.
    */
  final case class Rec(value: Array[Byte])
}
