package graft

import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Tables.land and its private landOnce guard: build-once semantics
  * incl. the failure-retry contract (a failed build must not poison the
  * landing for the JVM), single-flight racing callers and nested
  * builds; and the relation cache keeping landed and fixture reads
  * apart.
  */
class TablesSpec extends SparkTestBase {

  test("landOnce builds once, retries after failure, then stays built") {
    val key = s"tables-spec-${System.identityHashCode(this)}"
    var calls = 0
    intercept[RuntimeException] {
      Tables.land("tables_spec_retry", key) { _ => calls += 1; throw new RuntimeException("boom") }
    }
    assert(calls == 1)
    Tables.land("tables_spec_retry", key) { _ => calls += 1 } // retry succeeds
    assert(calls == 2)
    Tables.land("tables_spec_retry", key) { _ => calls += 1 } // already built: no-op
    assert(calls == 2)
  }

  test("landOnce is single-flight: a racing first caller returns only after" +
    " the one build has written its file") {
    val dir = java.nio.file.Files.createTempDirectory("tables-race").toString
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val sawFile = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        val path = Tables.land("tables_spec_race", dir) { path =>
          calls.incrementAndGet()
          Thread.sleep(300) // the racing caller arrives mid-build
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
          java.nio.file.Files.write(java.nio.file.Paths.get(path, "artifact"), Array[Byte](1))
        }
        paths.add(path)
        sawFile.add(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "artifact")))
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(30000))
    assert(threads.forall(!_.isAlive), "a land caller is still blocked")
    assert(calls.get == 1)
    assert(sawFile.toArray.toSeq == Seq(true, true))
    assert(paths.toArray.toSeq.distinct.size == 1, s"callers got different paths: $paths")
  }

  test("a landOnce nested inside another path's build completes") {
    val key = s"tables-spec-${System.identityHashCode(this)}"
    var built = Seq.empty[String]
    Tables.land("tables_spec_outer", key) { _ =>
      Tables.land("tables_spec_inner", key) { _ => built :+= "inner" }
      built :+= "outer"
    }
    Tables.land("tables_spec_outer", key) { _ => built :+= "again" }
    assert(built == Seq("inner", "outer"))
  }

  test("a landing under a fixture dir does not poison Tables.t") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    val nanos = 1700000000123456789L
    val rows = Seq((1L, nanos)).toDF("event_id", "ts")
    rows.write.parquet(s"$dir/events.parquet")
    val events = Tables.t(spark, dir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.select(unix_micros($"ts")).as[Long].head() == nanos / 1000)
    val landed = Tables.landed(spark, "tables_spec_events", dir)(rows)
    assert(landed.schema("ts").dataType == LongType)
    assert(landed.as[(Long, Long)].collect().toSeq == Seq((1L, nanos)))
  }
}
