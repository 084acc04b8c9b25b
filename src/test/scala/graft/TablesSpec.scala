package graft

import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Tables.landOnce: build-once guard semantics incl. the failure-retry
  * contract (a failed build must not poison the path for the JVM),
  * single-flight racing callers and nested builds; and
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

  test("landOnce is single-flight: a racing first caller returns only after" +
    " the one build has written its file") {
    val dir = java.nio.file.Files.createTempDirectory("tables-race")
    val file = dir.resolve("artifact")
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val sawFile = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        Tables.landOnce(file.toString) {
          calls.incrementAndGet()
          Thread.sleep(300) // the racing caller arrives mid-build
          java.nio.file.Files.write(file, Array[Byte](1))
        }
        sawFile.add(java.nio.file.Files.exists(file))
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(30000))
    assert(threads.forall(!_.isAlive), "a landOnce caller is still blocked")
    assert(calls.get == 1)
    assert(sawFile.toArray.toSeq == Seq(true, true))
  }

  test("a landOnce nested inside another path's build completes") {
    val outer = s"tables-spec-outer-${System.identityHashCode(this)}"
    var built = Seq.empty[String]
    Tables.landOnce(outer) {
      Tables.landOnce(s"$outer-inner") { built :+= "inner" }
      built :+= "outer"
    }
    Tables.landOnce(outer) { built :+= "again" }
    assert(built == Seq("inner", "outer"))
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
