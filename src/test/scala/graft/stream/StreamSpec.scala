package graft.stream

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.config.WarehouseConfig

/** Event-shaped fixture row matching the `events` table columns the
  * shared window operators consume.
  */
case class Ev(event_id: Long, user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** Structured Streaming suite (SURVEY §2.8): batch/stream parity of the
  * shared window aggregation, watermark late-data semantics, stateful
  * dedup, checkpointed parquet sink, and foreachBatch → warehouse
  * publish.
  */
class StreamSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def mkStream: MemoryStream[Ev] =
    MemoryStream[Ev](org.apache.spark.sql.Encoders.product[Ev], spark.sqlContext)

  private val fixture = Seq(
    Ev(1, 1, ts("2024-01-01 10:05:00"), "click", 1.0),
    Ev(2, 1, ts("2024-01-01 10:25:00"), "click", 2.5),
    Ev(3, 2, ts("2024-01-01 10:45:00"), "view", 3.0),
    Ev(4, 2, ts("2024-01-01 11:10:00"), "click", 4.0),
    Ev(5, 3, ts("2024-01-01 11:40:00"), "view", 0.5),
    Ev(6, 3, ts("2024-01-01 12:20:00"), "view", 2.0))

  test("tumbling window: stream (MemoryStream) matches batch on same rows") {
    val s = spark
    import s.implicits._
    val batch = EventWindows.tumblingByType(fixture.toDF(), "1 hour")
      .collect().map(_.toSeq).toSet

    val ms = mkStream
    val q = EventWindows.tumblingByType(ms.toDF().withWatermark("ts", "10 minutes"), "1 hour")
      .writeStream.format("memory").queryName("parity").outputMode("complete").start()
    try {
      ms.addData(fixture.take(3))
      ms.addData(fixture.drop(3))
      q.processAllAvailable()
      val streamed = s.table("parity").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sliding window: stream matches batch on same rows") {
    val s = spark
    import s.implicits._
    val batch = EventWindows.slidingByType(fixture.toDF(), "1 hour", "30 minutes")
      .collect().map(_.toSeq).toSet
    val ms = mkStream
    val q = EventWindows.slidingByType(
        ms.toDF().withWatermark("ts", "10 minutes"), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("sliding").outputMode("complete").start()
    try {
      ms.addData(fixture)
      q.processAllAvailable()
      assert(s.table("sliding").collect().map(_.toSeq).toSet == batch)
    } finally q.stop()
  }

  test("graft_dot is SQL-callable once registered in a session") {
    val v = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(v == 11.0)
  }

  test("session window: stream matches batch on same rows") {
    val s = spark
    import s.implicits._
    val batch = EventWindows.sessionByUser(fixture.toDF(), "30 minutes")
      .collect().map(_.toSeq).toSet

    val ms = mkStream
    val q = EventWindows.sessionByUser(ms.toDF().withWatermark("ts", "10 minutes"), "30 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("complete").start()
    try {
      ms.addData(fixture)
      q.processAllAvailable()
      assert(s.table("sessions").collect().map(_.toSeq).toSet == batch)
    } finally q.stop()
  }

  test("watermark: append mode emits closed windows once, drops late data") {
    val s = spark
    import s.implicits._
    val ms = mkStream
    val q = EventWindows.tumblingByType(ms.toDF().withWatermark("ts", "10 minutes"), "1 hour")
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    try {
      // Window [10:00,11:00): two clicks. Watermark after this batch: 10:35.
      ms.addData(Ev(1, 1, ts("2024-01-01 10:15:00"), "click", 1.0),
        Ev(2, 1, ts("2024-01-01 10:45:00"), "click", 2.0))
      q.processAllAvailable()
      assert(s.table("late").count() == 0) // window still open

      // Advance event time past 11:10 → watermark 12:20 closes [10,11).
      ms.addData(Ev(3, 1, ts("2024-01-01 12:30:00"), "view", 4.0))
      q.processAllAvailable()
      ms.addData(Ev(4, 1, ts("2024-01-01 12:31:00"), "view", 1.0))
      q.processAllAvailable()
      val closed = s.table("late").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(closed.contains((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)))

      // A late click at 10:30 (behind the watermark) must be dropped:
      // the closed window's row never changes and is never re-emitted.
      ms.addData(Ev(5, 1, ts("2024-01-01 10:30:00"), "click", 99.0))
      q.processAllAvailable()
      ms.addData(Ev(6, 1, ts("2024-01-01 12:40:00"), "view", 1.0))
      q.processAllAvailable()
      val rows10 = s.table("late").collect()
        .filter(r => r.getTimestamp(0) == ts("2024-01-01 10:00:00") && r.getString(1) == "click")
      assert(rows10.length == 1 && rows10.head.getLong(2) == 2L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes same-key events across batches") {
    val s = spark
    import s.implicits._
    val ms = mkStream
    val q = StreamDedup.withinWatermark(ms.toDF(), "ts", "30 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      ms.addData(Ev(1, 1, ts("2024-01-01 10:00:00"), "click", 1.0),
        Ev(1, 1, ts("2024-01-01 10:00:00"), "click", 1.0), // same-batch dup
        Ev(2, 1, ts("2024-01-01 10:05:00"), "view", 2.0))
      q.processAllAvailable()
      ms.addData(Ev(1, 1, ts("2024-01-01 10:10:00"), "click", 1.0), // cross-batch dup
        Ev(3, 1, ts("2024-01-01 10:15:00"), "view", 3.0))
      q.processAllAvailable()
      val ids = s.table("dedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("checkpointed parquet sink lands every batch exactly once") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val ms = mkStream
    ms.addData(fixture.take(4))
    val q1 = StreamSink.parquet(ms.toDF(), out, ckpt)
    q1.awaitTermination()
    ms.addData(fixture.drop(4))
    val q2 = StreamSink.parquet(ms.toDF(), out, ckpt)
    q2.awaitTermination()
    assert(s.read.parquet(out).count() == fixture.size)
  }

  test("foreachBatch republishes aggregate through the atomic staging swap") {
    val s = spark
    import s.implicits._
    val cfg = WarehouseConfig(schema = "stream", table = "hourly")
    val ckpt = Files.createTempDirectory("graft-stream-pub").toString
    val ms = mkStream
    val agg = EventWindows.tumblingByType(ms.toDF().withWatermark("ts", "10 minutes"), "1 hour")
    val q = StreamSink.publishEachBatch(s, agg, cfg, ckpt)
    try {
      ms.addData(fixture)
      q.processAllAvailable()
      val expected = EventWindows.tumblingByType(fixture.toDF(), "1 hour")
        .collect().map(_.toSeq).toSet
      val published = s.table(cfg.qualified).collect().map(_.toSeq).toSet
      assert(published == expected)
    } finally q.stop()
  }
}
