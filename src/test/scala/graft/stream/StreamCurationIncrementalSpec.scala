package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkTestBase
import graft.transform.CurationCompiler

/** The bounded-work streaming curation mode: per-batch TEXT work is
  * bounded by the batch (gate/digest/chunk/shingle run on batch rows
  * only — plan-asserted, not prose), corpus-global stages are
  * maintained as fixed-width metadata state (min-merge dedup index,
  * folded stratum counts, chunk-metadata store, shingle revocation
  * state), and the materialized output equals
  * `CurationCompiler.compile` over the accumulated corpus after EVERY
  * batch — including retroactive decontamination (an eval row
  * revoking documents that arrived before it) and dedup displacement
  * (a smaller id arriving after the incumbent winner).
  */
class StreamCurationIncrementalSpec extends SparkTestBase {

  private def cu = graft.config.ConfigLoader.fromYaml(
    """source:
      |  name: stream_curation_inc
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    stratum_field: lang
      |    quality:
      |      min_tokens: 3
      |      max_tokens: 100
      |      min_stop_ratio: 0.0
      |    dedup: exact
      |    mix: true
      |    chunk:
      |      tokens: 4
      |      overlap: 1
      |    shard:
      |      budget: 16
      |      bucket_width: 64
      |    decontam:
      |      eval_where: "doc_id >= 100"
      |      shingle_len: 3
      |      min_shared: 1
      |""".stripMargin)
    .curation.getOrElse(throw new IllegalStateException("no curation section"))

  // Same corpus as StreamCurationSpec: doc 100 is the eval row and
  // ARRIVES LAST, so under any multi-batch slicing the contaminated
  // doc 7 is accepted first and must be retroactively revoked.
  private val corpus = Seq(
    ScDoc(1L, "the quick brown fox jumps over fences", "en"),
    ScDoc(2L, "data pipelines shuffle rows across executors", "en"),
    ScDoc(3L, "les pipelines de données sont distribués", "fr"),
    ScDoc(4L, "warum ist verteiltes rechnen so schwer", "de"),
    ScDoc(7L, "benchmark answer key leaked here sadly", "en"),
    ScDoc(8L, "data pipelines shuffle rows across executors", "en"),
    ScDoc(9L, "too short", "en"),
    ScDoc(100L, "benchmark answer key held out", "en"))

  private def batchTruth(docs: Seq[ScDoc] = corpus) = {
    val s = spark; import s.implicits._
    StreamCurationSpecHelper.landAndCurate(s, cu, docs.toDF())
  }

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  private def runStream(docs: Seq[ScDoc], split: Int,
      stateDir: String, outDir: String, ckpt: String): Unit = {
    val s = spark
    val ms = MemoryStream[ScDoc](
      org.apache.spark.sql.Encoders.product[ScDoc], s.sqlContext)
    val q = StreamCuration.startIncremental(s, ms.toDF(), cu, stateDir, outDir, ckpt)
    try docs.grouped(split).foreach { g => ms.addData(g); q.processAllAvailable() }
    finally q.stop()
  }

  test("incremental output equals the batch chain across slicings (incl. late eval)") {
    val truth = batchTruth()
    assert(truth.nonEmpty)
    for (split <- Seq(2, 8)) {
      val (st, out, ck) = (tmp("sci_st"), tmp("sci_out"), tmp("sci_ck"))
      runStream(corpus, split, st, out, ck)
      val got = StreamCuration.readOutput(spark, out).collect().map(_.toSeq).toSet
      assert(got == truth, s"split=$split")
      // Folded counts equal a recount over the index at the final version.
      val idx = StreamCuration.incrementalOutput(spark, cu, st)
      assert(idx.collect().map(_.toSeq).toSet == truth, s"split=$split state rebuild")
    }
  }

  test("retroactive revocation: contaminated doc is present until its eval arrives") {
    val (st, out, ck) = (tmp("sci_st2"), tmp("sci_out2"), tmp("sci_ck2"))
    val s = spark
    val ms = MemoryStream[ScDoc](
      org.apache.spark.sql.Encoders.product[ScDoc], s.sqlContext)
    val q = StreamCuration.startIncremental(s, ms.toDF(), cu, st, out, ck)
    try {
      // Winner-set membership is read from the INDEX state (the output
      // additionally applies the mix gate, which is hash-dependent).
      def indexIds(): Set[Long] = {
        val d = new java.io.File(s"$st/index")
        val v = d.listFiles().map(_.getName).filter(_.startsWith("v="))
          .map(_.drop(2).toLong).max
        s.read.parquet(s"$st/index/v=$v")
          .select("id").collect().map(_.getLong(0)).toSet
      }
      ms.addData(corpus.filter(_.doc_id != 100L)); q.processAllAvailable()
      assert(indexIds().contains(7L),
        "doc 7 must be accepted before its eval arrives")
      ms.addData(Seq(corpus.last)); q.processAllAvailable()
      assert(!indexIds().contains(7L),
        "doc 7 must be revoked by the late eval row")
      assert(StreamCuration.readOutput(s, out).collect().map(_.toSeq).toSet
        == batchTruth())
    } finally q.stop()
  }

  test("shingle state lands as one (hb, h)-sorted file per batch and the" +
    " revocation probe pushes its hb filter into the scan (statistics-pruned)") {
    import org.apache.spark.sql.functions.col
    val (st, out, ck) = (tmp("sci_st6"), tmp("sci_out6"), tmp("sci_ck6"))
    runStream(corpus, 3, st, out, ck)
    val s = spark
    import s.implicits._
    val storeDir = s"$st/shingles"
    assert(StreamCuration.shingleLayout(s, storeDir) ===
      StreamCuration.ShingleLayout.Sorted(StreamCuration.ShingleBuckets))
    // Layout: every batch dir is one data file, no hb= bucket dirs.
    val batches = new java.io.File(storeDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batches.nonEmpty)
    batches.foreach { b =>
      assert(!b.listFiles().exists(_.isDirectory),
        s"${b.getName}: shingle data must not live under hb= bucket dirs")
      val data = b.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(data.length === 1, s"${b.getName} holds ${data.length} data files")
      // ... sorted on (hb, h), with hb = h mod buckets as a column.
      val rows = s.read.parquet(data.head.getPath).select("hb", "h").as[(Int, Long)]
        .collect().toSeq
      assert(rows === rows.sorted, s"${b.getName} is not sorted on (hb, h)")
      assert(rows.forall { case (hb, h) =>
        hb == java.lang.Math.floorMod(h, StreamCuration.ShingleBuckets.toLong) })
    }
    val store = s.read.parquet(storeDir)
    val allHb = store.select("hb").distinct().collect().map(_.getInt(0)).toSet
    assert(allHb.size > 1, "fixture must span multiple buckets or the prune is vacuous")
    // The revocation probe with a one-shingle delta in one bucket: its
    // hb filter must reach the scan as a PUSHED Parquet filter (the
    // min/max-statistics prune), and it returns exactly that bucket.
    val probedHb = allHb.min
    val delta = store.filter(col("hb") === probedHb).select("h").limit(1)
      .localCheckpoint()
    val probe = StreamCuration.shingleStateFor(s, storeDir, delta)
    val planStr = probe.queryExecution.executedPlan.toString
    val pushed = planStr.linesIterator.find(_.contains("PushedFilters"))
      .map(l => l.substring(l.indexOf("PushedFilters"))).getOrElse("")
    assert(pushed.takeWhile(_ != ']').contains("hb"),
      s"expected hb among the scan's pushed filters, got:\n$planStr")
    val bucketRows = store.filter(col("hb") === probedHb).select("__h", "h")
      .as[(String, Long)].collect().sorted.toSeq
    assert(bucketRows.nonEmpty)
    assert(probe.as[(String, Long)].collect().sorted.toSeq === bucketRows)
  }

  test("shingle-store layout versioning: marker wins, pre-marker bucketed" +
    " stores detect at the default, legacy/mixed stores fall back unpruned" +
    " with identical rows") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val s = spark
    import s.implicits._
    val rows = (0L until 40L).map(i => (s"d$i", i * 7L))
    val df = rows.toDF("__h", "h")
    def bucketed(dir: String, batch: Long, nb: Int): Unit =
      df.withColumn("hb", pmod(col("h"), lit(nb)).cast("int"))
        .write.mode("overwrite").partitionBy("hb")
        .parquet(s"$dir/batch_id=$batch")
    def flat(dir: String, batch: Long): Unit =
      df.write.mode("overwrite").parquet(s"$dir/batch_id=$batch")
    val evalDelta = Seq(7L, 14L).toDF("h")
    def gotRows(dir: String): Set[(String, Long)] =
      StreamCuration.shingleStateFor(s, dir, evalDelta)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // Rows the delta's buckets hold under the default layout — what a
    // pruned scan must return; legacy scans return the full store.
    val deltaBuckets = Set(7L % 64, 14L % 64)
    val prunedTruth = rows.filter(r => deltaBuckets(r._2 % 64)).toSet

    // 1. Marker wins: a store stamped at 32 buckets prunes at 32, even
    //    though the engine default is 64.
    val m32 = tmp("sci_m32")
    bucketed(m32, 0L, 32)
    graft.sink.AtomicPointer.write(s.sparkContext.hadoopConfiguration,
      m32, "32", name = "_BUCKETS")
    assert(StreamCuration.shingleLayout(s, m32) ===
      StreamCuration.ShingleLayout.Bucketed(32))
    assert(gotRows(m32) === rows.filter(r =>
      Set(7L % 32, 14L % 32)(r._2 % 32)).toSet)

    // 2. Pre-marker bucketed store (the r14 layout): detected at the
    //    default count; the scan is partition-pruned.
    val pre = tmp("sci_pre")
    bucketed(pre, 0L, 64); bucketed(pre, 1L, 64)
    assert(StreamCuration.shingleLayout(s, pre) ===
      StreamCuration.ShingleLayout.Bucketed(64))
    assert(gotRows(pre) === (prunedTruth ++ prunedTruth))
    val plan = StreamCuration.shingleStateFor(s, pre, evalDelta)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("hb"),
      s"bucketed fallback must partition-prune:\n$plan")

    // 3. Legacy store (written before bucketing existed): no hb column
    //    anywhere — reads fall back to the full store, revocation rows
    //    intact. This is the resume path that previously failed on the
    //    missing hb partition column.
    val leg = tmp("sci_leg")
    flat(leg, 0L); flat(leg, 1L)
    assert(StreamCuration.shingleLayout(s, leg) ===
      StreamCuration.ShingleLayout.Legacy)
    assert(gotRows(leg) === rows.toSet)

    // 4. MIXED store (legacy checkpoint resumed under r14's always-
    //    bucketed writer): whole-store discovery would throw on
    //    conflicting structures; the per-dir fallback returns every row.
    val mix = tmp("sci_mix")
    flat(mix, 0L); bucketed(mix, 1L, 64)
    assert(StreamCuration.shingleLayout(s, mix) ===
      StreamCuration.ShingleLayout.Legacy)
    assert(gotRows(mix) === rows.toSet)

    // 5. Empty/absent store: clean empty frame, no probe errors.
    assert(gotRows(tmp("sci_absent")) === Set.empty[(String, Long)])
  }

  private def writeTicks(ticks: Seq[Seq[ScDoc]], st: String, out: String,
      from: Long = 0L): Unit = {
    val s = spark; import s.implicits._
    ticks.zipWithIndex.foreach { case (g, i) =>
      StreamCuration.writeBatchIncremental(g.toDF(), from + i, cu, st, out)
    }
  }

  private def output(out: String): Set[Seq[Any]] =
    StreamCuration.readOutput(spark, out).collect().map(_.toSeq).toSet

  test("layout lane: an hb=-dir store stamped 64 keeps hb= dirs under the" +
    " new writer, and its output equals the batch chain") {
    val s = spark
    val (st, out) = (tmp("sci_hbst"), tmp("sci_hbout"))
    val storeDir = s"$st/shingles"
    val ticks = corpus.grouped(3).toSeq // doc 7 in tick 1, its eval in tick 2
    writeTicks(ticks.take(1), st, out)
    // Re-land tick 0's shingles the way the hb=-dir engine left them:
    // `hb=` partition dirs and the bare bucket-count marker.
    val b0 = s"$storeDir/batch_id=0"
    val rows = s.read.parquet(b0).collect()
    val schema = s.read.parquet(b0).schema
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(b0))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.partitionBy("hb").parquet(b0)
    graft.sink.AtomicPointer.write(s.sparkContext.hadoopConfiguration,
      storeDir, "64", name = "_BUCKETS")
    assert(StreamCuration.shingleLayout(s, storeDir) ===
      StreamCuration.ShingleLayout.Bucketed(64))
    writeTicks(ticks.drop(1), st, out, from = 1L)
    assert(StreamCuration.shingleLayout(s, storeDir) ===
      StreamCuration.ShingleLayout.Bucketed(64))
    assert(graft.sink.AtomicPointer.read(s.sparkContext.hadoopConfiguration,
      storeDir, name = "_BUCKETS") === Some("64"))
    val batches = new java.io.File(storeDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batches.length === ticks.size)
    batches.foreach { b =>
      assert(!b.listFiles().exists(_.getName.endsWith(".parquet")),
        s"${b.getName}: an hb=-dir store must not gain batch-level data files")
    }
    assert(batches.exists(_.listFiles().exists(_.getName.startsWith("hb="))))
    assert(output(out) === batchTruth())
    assert(!output(out).exists(_.head == 7L), "doc 7 must be revoked")
  }

  test("layout lane: a sorted store left without its marker (crash before" +
    " the marker write) reads correctly and is re-stamped by the replay") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val s = spark
    import s.implicits._
    val (st, out) = (tmp("sci_nmst"), tmp("sci_nmout"))
    val storeDir = s"$st/shingles"
    val ticks = corpus.grouped(3).toSeq
    writeTicks(ticks.take(1), st, out)
    new java.io.File(s"$storeDir/_BUCKETS").delete()
    assert(StreamCuration.shingleLayout(s, storeDir) ===
      StreamCuration.ShingleLayout.Sorted(64))
    val store = s.read.parquet(storeDir).select("__h", "h").as[(String, Long)]
      .collect().toSeq
    val delta = store.take(2).map(_._2).toDF("h")
    val deltaBuckets = delta.select(pmod(col("h"), lit(64))).as[Long].collect().toSet
    val got = StreamCuration.shingleStateFor(s, storeDir, delta)
      .as[(String, Long)].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === store.filter(r => deltaBuckets(java.lang.Math.floorMod(r._2, 64L)))
      .sorted)
    // The at-least-once replay of the crashed tick, then the rest.
    writeTicks(ticks, st, out)
    assert(graft.sink.AtomicPointer.read(s.sparkContext.hadoopConfiguration,
      storeDir, name = "_BUCKETS") === Some("sorted:64"))
    assert(output(out) === batchTruth())
  }

  test("multi-tick stats: after every tick (displacement, late revoking eval," +
    " replay) readStats equals recounts of the written state") {
    import org.apache.spark.sql.functions.{col, expr}
    val s = spark
    import s.implicits._
    val dc = cu.decontam.get
    val ticks = Seq(
      Seq(ScDoc(50L, "alpha beta gamma delta epsilon zeta", "en"),
        corpus(1), corpus(4), corpus(2)),                        // 2, 7, 3
      Seq(ScDoc(10L, "alpha beta gamma delta epsilon zeta", "en"), // displaces 50
        corpus(3), corpus(6)),                                   // 4, 9 (gated)
      Seq(corpus(7), corpus(5)))                                 // eval 100 revokes 7; 8 dups 2
    val (st, out) = (tmp("sci_msst"), tmp("sci_msout"))
    def index(v: Long) = s.read.parquet(s"$st/index/v=$v").select("__h", "id")
      .as[(String, Long)].collect().toSet
    def check(bid: Int): Unit = {
      val soFar = ticks.take(bid + 1).flatten
      val batch = ticks(bid).toDF()
      val hits = CurationCompiler.compileDecontam(dc, cu.idField, cu.textField)(
        soFar.toDF()).select("doc_id").as[Long].collect().toSeq
      val cand = batch.filter(!expr(dc.evalWhere) && !col("doc_id").isin(hits: _*))
      val idx = index(bid.toLong)
      val prev = if (bid == 0) Set.empty[(String, Long)] else index(bid - 1L)
      val recount = Map(
        "batch_rows" -> ticks(bid).size.toLong,
        "gated_rows" -> CurationCompiler.gate(cu)(cand).count(),
        // New winners are never revoked in their own tick (their text
        // passed the full eval state at arrival), so they are exactly
        // the index rows this tick changed.
        "new_winner_rows" -> (idx -- prev).size.toLong,
        "index_rows" -> idx.size.toLong)
      assert(StreamCuration.readStats(s, st)(bid.toLong) === recount, s"tick $bid")
      assert(output(out) === batchTruth(soFar), s"tick $bid output")
    }
    ticks.indices.foreach { i => writeTicks(Seq(ticks(i)), st, out, from = i.toLong); check(i) }
    val before = StreamCuration.readStats(s, st)
    writeTicks(Seq(ticks.last), st, out, from = ticks.size - 1L) // replay
    check(ticks.size - 1)
    assert(StreamCuration.readStats(s, st) === before)
    val ids = index(ticks.size - 1L).map(_._2)
    assert(ids.contains(10L) && !ids.contains(50L) && !ids.contains(7L))
  }

  test("an empty first tick and an all-gated tick observe exact zero stats") {
    val (st, out) = (tmp("sci_zst"), tmp("sci_zout"))
    writeTicks(Seq(Seq.empty, Seq(corpus(6))), st, out) // doc 9 is too short
    def row(batch: Long) = Map("batch_rows" -> batch, "gated_rows" -> 0L,
      "new_winner_rows" -> 0L, "index_rows" -> 0L)
    assert(StreamCuration.readStats(spark, st) === Map(0L -> row(0L), 1L -> row(1L)))
  }

  test("a fresh-state tick on the spec corpus leaves at most 16 state data files") {
    val st = tmp("sci_files")
    writeTicks(Seq(corpus), st, tmp("sci_filesout"))
    val data = org.apache.commons.io.FileUtils.listFiles(new java.io.File(st),
        Array("parquet"), true).size
    assert(data <= 16, s"a fresh tick wrote $data state data files")
  }

  test("dedup displacement: a smaller id arriving later replaces the winner") {
    val dup = Seq(
      ScDoc(50L, "alpha beta gamma delta epsilon zeta", "en"),
      ScDoc(51L, "one two three four five six seven", "en"),
      ScDoc(10L, "alpha beta gamma delta epsilon zeta", "en"))
    val (st, out, ck) = (tmp("sci_st3"), tmp("sci_out3"), tmp("sci_ck3"))
    runStream(dup, 2, st, out, ck) // 10 arrives after 50
    val got = StreamCuration.readOutput(spark, out).collect().map(_.toSeq).toSet
    assert(got == batchTruth(dup))
    val ids = got.map(_.head.asInstanceOf[Long])
    assert(ids.contains(10L) && !ids.contains(50L))
  }

  test("restart resumes from checkpointed state and converges") {
    val (st, out, ck) = (tmp("sci_st4"), tmp("sci_out4"), tmp("sci_ck4"))
    val s = spark
    val ms = MemoryStream[ScDoc](
      org.apache.spark.sql.Encoders.product[ScDoc], s.sqlContext)
    val q1 = StreamCuration.startIncremental(s, ms.toDF(), cu, st, out, ck)
    try { ms.addData(corpus.take(4)); q1.processAllAvailable() } finally q1.stop()
    val q2 = StreamCuration.startIncremental(s, ms.toDF(), cu, st, out, ck)
    try {
      ms.addData(corpus.drop(4)); q2.processAllAvailable()
      val got = StreamCuration.readOutput(s, out).collect().map(_.toSeq).toSet
      assert(got == batchTruth())
    } finally q2.stop()
  }

  test("a replayed micro-batch reproduces identical state and output") {
    val s = spark; import s.implicits._
    val (st, out) = (tmp("sci_st5"), tmp("sci_out5"))
    StreamCuration.writeBatchIncremental(corpus.take(4).toDF(), 0L, cu, st, out)
    StreamCuration.writeBatchIncremental(corpus.drop(4).toDF(), 1L, cu, st, out)
    val once = StreamCuration.readOutput(s, out).collect().map(_.toSeq).toSet
    // The at-least-once failure mode: batch 1 delivered again.
    StreamCuration.writeBatchIncremental(corpus.drop(4).toDF(), 1L, cu, st, out)
    val replayed = StreamCuration.readOutput(s, out).collect().map(_.toSeq).toSet
    assert(replayed == once)
    assert(replayed == batchTruth())
  }

  test("empty micro-batch is a no-op that still advances state versions") {
    val s = spark; import s.implicits._
    val (st, out) = (tmp("sci_st6"), tmp("sci_out6"))
    StreamCuration.writeBatchIncremental(corpus.take(4).toDF(), 0L, cu, st, out)
    StreamCuration.writeBatchIncremental(
      corpus.take(0).toDF(), 1L, cu, st, out)
    StreamCuration.writeBatchIncremental(corpus.drop(4).toDF(), 2L, cu, st, out)
    val got = StreamCuration.readOutput(s, out).collect().map(_.toSeq).toSet
    assert(got == batchTruth())
  }

  test("bounded work: the output plan reads only fixed-width state, never text") {
    val s = spark; import s.implicits._
    val (st, out) = (tmp("sci_st7"), tmp("sci_out7"))
    StreamCuration.writeBatchIncremental(corpus.toDF(), 0L, cu, st, out)
    val plan = StreamCuration.incrementalOutput(s, cu, st)
      .queryExecution.optimizedPlan
    val rels = plan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }
    assert(rels.nonEmpty)
    rels.foreach { fs =>
      fs.location.rootPaths.foreach { p =>
        assert(p.toUri.getPath.startsWith(st),
          s"scan outside state dir: $p")
      }
      assert(!fs.dataSchema.fieldNames.contains(cu.textField),
        s"a state scan carries the text column: ${fs.dataSchema.fieldNames.toSeq}")
    }
  }

  test("bounded work: per-batch stats are batch-sized, not corpus-sized") {
    val (st, out, ck) = (tmp("sci_st8"), tmp("sci_out8"), tmp("sci_ck8"))
    runStream(corpus, 2, st, out, ck)
    val stats = StreamCuration.readStats(spark, st)
    assert(stats.size >= 4)
    stats.foreach { case (bid, m) =>
      assert(m("batch_rows") <= 2L, s"batch $bid saw ${m("batch_rows")} rows")
      assert(m("gated_rows") <= m("batch_rows"),
        s"batch $bid gated more rows than arrived")
    }
    assert(stats.values.map(_("batch_rows")).sum == corpus.size.toLong)
    // The state index carries the corpus, the per-batch text work does not.
    val lastBid = stats.keys.max
    assert(stats.values.map(_("new_winner_rows")).sum ==
      stats(lastBid)("index_rows") + 1) // +1: doc 7 won, then was revoked
  }

  test("counts fold equals a recount over the final index") {
    val s = spark; import s.implicits._
    val (st, out) = (tmp("sci_st9"), tmp("sci_out9"))
    corpus.grouped(3).zipWithIndex.foreach { case (g, i) =>
      StreamCuration.writeBatchIncremental(g.toDF(), i.toLong, cu, st, out)
    }
    val v = (0 until 3).map(i => s"$st/index/v=$i")
      .filter(p => new java.io.File(p).exists()).last
    val idx = s.read.parquet(v)
    val recount = idx.groupBy($"stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val folded = s.read.parquet(v.replace("/index/", "/counts/"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == recount)
  }

  test("mix=false / dedup=none variant matches the batch chain") {
    val cu2 = cu.copy(mix = false, dedup = "none", decontam = None)
    val s = spark; import s.implicits._
    val truth = {
      val landing = Files.createTempDirectory("sci_truth").toString
      corpus.toDF().write.mode("overwrite").parquet(landing)
      StreamCuration.curate(s, cu2, landing).collect().map(_.toSeq).toSet
    }
    val (st, out) = (tmp("sci_st10"), tmp("sci_out10"))
    corpus.grouped(2).zipWithIndex.foreach { case (g, i) =>
      StreamCuration.writeBatchIncremental(g.toDF(), i.toLong, cu2, st, out)
    }
    assert(StreamCuration.readOutput(s, out).collect().map(_.toSeq).toSet == truth)
  }
}
