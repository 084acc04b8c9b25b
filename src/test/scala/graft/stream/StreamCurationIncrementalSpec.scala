package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkTestBase
import graft.config.CurationConfig
import graft.transform.CurationCompiler

case class ScDoc(doc_id: Long, text: String, lang: String)

/** The streaming curation chain: per-batch TEXT work is bounded by
  * the batch (gate/digest/chunk/shingle run on batch rows only —
  * plan-asserted, not prose), corpus-global stages are
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

  // Doc 100 is the eval row and ARRIVES LAST, so under any multi-batch
  // slicing the contaminated doc 7 (it shares a 3-shingle with doc 100)
  // is accepted first and must be retroactively revoked. Doc 8
  // duplicates doc 2's text (exact-dedup loser); doc 9 is below the
  // 3-token gate.
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

  test("contaminated and eval docs are gated; the duplicate loses; short doc gated") {
    val ids = batchTruth().map(_.head.asInstanceOf[Long])
    assert(!ids.contains(7L))   // contaminated
    assert(!ids.contains(100L)) // eval row is not corpus
    assert(!ids.contains(8L))   // exact-dedup loser (doc 2 is min id)
    assert(!ids.contains(9L))   // below the token gate
    assert(ids.contains(1L) && ids.contains(2L))
  }

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
    assert(graft.sink.AtomicPointer.read(s.sparkContext.hadoopConfiguration,
      storeDir, name = "_BUCKETS") === Some(s"sorted:${StreamCuration.ShingleBuckets}"))
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

  private def writeTicks(ticks: Seq[Seq[ScDoc]], st: String, out: String,
      from: Long = 0L, c: CurationConfig = cu): Unit = {
    val s = spark; import s.implicits._
    ticks.zipWithIndex.foreach { case (g, i) =>
      StreamCuration.writeBatchIncremental(g.toDF(), from + i, c, st, out)
    }
  }

  private def output(out: String): Set[Seq[Any]] =
    StreamCuration.readOutput(spark, out).collect().map(_.toSeq).toSet

  test("a store in an older shingle format fails the revoking tick loudly" +
    " and publishes nothing; an absent store probes empty") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val s = spark
    val conf = s.sparkContext.hadoopConfiguration
    // Tick 0 accepts doc 7; tick 1 brings its eval row (doc 100), so
    // tick 1 must probe the shingle store to revoke doc 7.
    val (tick0, tick1) = corpus.partition(_.doc_id != 100L)
    val (base, out) = (tmp("sci_fmt"), tmp("sci_fmtout"))
    writeTicks(Seq(tick0), base, out)
    val b0 = s"$base/shingles/batch_id=0"
    val shRows = s.read.parquet(b0).select("__h", "h")
    def relanded(tag: String)(reland: String => Unit): String = {
      val st = tmp(tag)
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base),
        new java.io.File(st))
      reland(s"$st/shingles")
      st
    }
    val stores = Seq(
      // hb= partition dirs stamped with the bare bucket count.
      "hb=-dir" -> relanded("sci_fmthb") { store =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$store/batch_id=0"))
        shRows.withColumn("hb", pmod(col("h"), lit(64)).cast("int"))
          .write.partitionBy("hb").parquet(s"$store/batch_id=0")
        graft.sink.AtomicPointer.write(conf, store, "64", name = "_BUCKETS")
      },
      // Unbucketed: no hb column and no marker.
      "flat" -> relanded("sci_fmtflat") { store =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$store/batch_id=0"))
        new java.io.File(s"$store/_BUCKETS").delete()
        shRows.write.parquet(s"$store/batch_id=0")
      },
      // This format with its marker deleted.
      "unmarked" -> relanded("sci_fmtnm") { store =>
        new java.io.File(s"$store/_BUCKETS").delete()
      })
    val published = graft.sink.AtomicPointer.read(conf, out)
    assert(published === Some("v=0"))
    stores.foreach { case (kind, st) =>
      val outCopy = tmp("sci_fmtout")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(out),
        new java.io.File(outCopy))
      val e = intercept[IllegalStateException] {
        writeTicks(Seq(tick1), st, outCopy, from = 1L)
      }
      assert(e.getMessage.contains(s"$st/shingles"), s"$kind: ${e.getMessage}")
      assert(graft.sink.AtomicPointer.read(conf, outCopy) === published, kind)
    }
    // No shingles landed yet: the probe is a clean empty frame.
    assert(StreamCuration.shingleStateFor(s, tmp("sci_absent"), shRows.select("h"))
      .isEmpty)
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

  test("the overlap threshold boundary: at min_shared 2 a one-shingle overlap" +
    " is kept and a two-shingle overlap is gated, at arrival and by revocation") {
    val s = spark; import s.implicits._
    val cu2 = cu.copy(decontam = cu.decontam.map(_.copy(minShared = 2)))
    // Eval shingles: "benchmark answer key", "answer key held", "key held out".
    val eval = corpus.last
    val one = corpus(4) // doc 7: shares exactly "benchmark answer key"
    val two = ScDoc(12L, "benchmark answer key held back today", "en") // shares 2
    val rest = Seq(corpus(0), corpus(1), one, two)
    def winnerIds(st: String): Set[Long] = {
      val v = new java.io.File(s"$st/index").listFiles().map(_.getName)
        .filter(_.startsWith("v=")).map(_.drop(2).toLong).max
      s.read.parquet(s"$st/index/v=$v").select("id").as[Long].collect().toSet
    }
    for ((order, ticks) <- Seq(
        "eval first" -> Seq(Seq(eval), rest),
        "eval last" -> Seq(rest, Seq(eval)))) {
      val (st, out) = (tmp("sci_min2"), tmp("sci_min2out"))
      ticks.indices.foreach { i =>
        writeTicks(Seq(ticks(i)), st, out, from = i.toLong, c = cu2)
        val soFar = ticks.take(i + 1).flatten
        assert(output(out) ===
          StreamCurationSpecHelper.landAndCurate(s, cu2, soFar.toDF()),
          s"$order: tick $i")
      }
      val ids = winnerIds(st)
      assert(ids.contains(7L), s"$order: a one-shingle overlap is below min_shared 2")
      assert(!ids.contains(12L), s"$order: a two-shingle overlap meets min_shared 2")
    }
  }
}

/** Batch-side truth builder: the parquet landing + [[StreamCuration.curate]]
  * with all rows in one batch — what the stream must converge to.
  */
object StreamCurationSpecHelper {
  def landAndCurate(s: org.apache.spark.sql.SparkSession,
      cu: graft.config.CurationConfig,
      docs: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
    val landing = Files.createTempDirectory("sc_truth").toString
    docs.write.mode("overwrite").parquet(landing)
    StreamCuration.curate(s, cu, landing).collect().map(_.toSeq).toSet
  }
}
