package graft

import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Tables.landOnce: build-once guard semantics incl. the failure-retry
  * contract (a failed build must not poison the path for the JVM); and
  * the relation cache keeping its raw and fixture reads apart.
  */
class TablesSpec extends SparkTestBase {

  test("landOnce builds once, retries after failure, then stays built") {
    val key = s"tables-spec-${System.identityHashCode(this)}"
    var calls = 0
    intercept[RuntimeException] {
      Tables.landOnce(key) { calls += 1; throw new RuntimeException("boom") }
    }
    assert(calls == 1)
    Tables.landOnce(key) { calls += 1 } // retry succeeds
    assert(calls == 2)
    Tables.landOnce(key) { calls += 1 } // already built: no-op
    assert(calls == 2)
  }

  test("a raw readImmutable of a fixture path does not poison Tables.t") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    val nanos = 1700000000123456789L
    Seq((1L, nanos)).toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    val raw = Tables.readImmutable(spark, s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == LongType)
    val events = Tables.t(spark, dir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.select(unix_micros($"ts")).as[Long].head() == nanos / 1000)
  }
}
