package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** ANN serving-quality eval (recall@k / nn-rank / probe curve) and the
  * retrain-free IVF upsert.
  */
class AnnEvalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val cents = SimSearch.trainCentroidsLocked(emb, 16, 2)
    .localCheckpoint()

  test("fixture vec_ids are dense 0..n-1 — the BaseWhereSql/queryBound" +
    " contract every oracle split rule rests on") {
    // IvfIndex.BaseWhereSql derives the Scala side's 4n/5 corpus-size
    // hint from `vec_id < 4*count(*)//5`; the two agree only on dense
    // ids. Pin density so a regenerated fixture cannot silently
    // diverge index geometry between query and oracle.
    val r = emb.agg(count(lit(1)), min(col("vec_id")), max(col("vec_id")),
      countDistinct(col("vec_id"))).head()
    val n = r.getLong(0)
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) === n - 1)
    assert(r.getLong(3) === n)
  }

  test("recallAtK: exact hit accounting and nn_rank on handcrafted lists") {
    // GT for q0: cids 10,11,12 at ranks 1,2,3. ANN returns 11,99,10 —
    // two hits; the true NN (10) sits at ANN rank 3.
    val gt = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3))
      .toDF("qid", "cid", "rank")
    val ann = Seq((0L, 11L, 1), (0L, 99L, 2), (0L, 10L, 3),
      (1L, 98L, 1), (1L, 97L, 2), (1L, 96L, 3))
      .toDF("qid", "cid", "rank")
    val out = AnnEval.recallAtK(ann, gt).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) === ((2L, 3L)))
    assert(out(1L) === ((0L, 0L))) // total miss: zero hits, nn_rank 0
  }

  test("identity lane: grading ground truth against itself is perfect") {
    val gt = SimSearch.bruteTopKNFiltered(emb, 16, 5)
    val out = AnnEval.recallAtK(gt, gt).collect()
    assert(out.length === 16)
    out.foreach { r =>
      assert(r.getAs[Long]("hits") === 5L)
      assert(r.getAs[Long]("nn_rank") === 1L)
    }
  }

  test("probe curve: recall monotone in probe count; full sweep consistent" +
    " with the single-point grade") {
    val levels = Seq(1, 2, 4, 10)
    val curve = AnnEval.recallCurve(emb, 32, 5, levels, cents)
      .orderBy("probes").collect()
    assert(curve.map(_.getAs[Long]("probes")).toSeq === levels.map(_.toLong))
    val hits = curve.map(_.getAs[Long]("total_hits"))
    // Total order ⇒ hits = |candidates ∩ GT|, nondecreasing in probes.
    hits.sliding(2).foreach { case Array(a, b) => assert(a <= b) }
    curve.foreach(r => assert(r.getAs[Long]("n_queries") === 32L))
    // The curve's top level must equal an independent recallAtK grade
    // of the same index at the same probe count.
    val single = AnnEval.recallAtK(
      SimSearch.ivfTopKNFilteredWithCentroids(emb, 32, 5, 10, cents, lit(true)),
      SimSearch.bruteTopKNFiltered(emb, 32, 5))
      .agg(sum("hits")).collect().head.getLong(0)
    assert(hits.last === single)
  }

  test("upsert: base build + delta assignment lands exactly the one-shot" +
    " index; the delta job scans only delta rows") {
    val cutoff = 4L * emb.count() / 5
    val base = IvfIndex.assignCells(emb.filter(col("vec_id") < cutoff), cents)
    val deltaDf = IvfIndex.assignCells(emb.filter(col("vec_id") >= cutoff), cents)
    val merged = base.unionByName(deltaDf)
    val oneShot = IvfIndex.assignCells(emb, cents)
    assert(merged.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet)
    // The upsert never rescans the base: the delta scan carries the
    // pushed vec_id bound and reads exactly the delta row count.
    val plan = deltaDf.queryExecution.executedPlan.toString
    assert(plan.contains(s"GreaterThanOrEqual(vec_id,$cutoff)"),
      s"delta scan filter not pushed:\n$plan")
    assert(deltaDf.count() === emb.count() - cutoff)
  }

  test("cellStats: per-cell base/delta split is a partition of the corpus") {
    val cutoff = 4L * emb.count() / 5
    val cells = IvfIndex.assignCells(emb, cents)
    val stats = IvfIndex.cellStats(cells, col("vec_id") >= cutoff).collect()
    stats.foreach { r =>
      assert(r.getAs[Long]("n_base") + r.getAs[Long]("n_delta") ===
        r.getAs[Long]("n_total"))
    }
    assert(stats.map(_.getAs[Long]("n_total")).sum === emb.count())
    assert(stats.map(_.getAs[Long]("n_delta")).sum === emb.count() - cutoff)
    // Every row belongs to a real centroid cell.
    val centIds = cents.select("cent_id").collect().map(_.getLong(0)).toSet
    stats.foreach(r => assert(centIds(r.getAs[Long]("cell"))))
  }

  test("eval_recall config routes the similarity section to the grade;" +
    " default keeps the serving contract") {
    val si = graft.config.SimilarityConfig(queryBound = 16, k = 5,
      candWhere = None, evalRecall = true)
    val graded = graft.transform.CurationCompiler.compileSimilaritySection(si)(
      emb, cents, sys.error("pq codes must not be built at this corpus size"))
    assert(graded.columns.toSeq === Seq("qid", "hits", "nn_rank"))
    // The grade equals the direct composition of the dispatched serving
    // shape against brute ground truth.
    val direct = AnnEval.recallAtK(
      graft.transform.CurationCompiler.compileSimilarity(
        si.copy(evalRecall = false))(emb, cents,
        sys.error("pq codes must not be built at this corpus size")),
      SimSearch.bruteTopKNFiltered(emb, 16, 5))
    assert(graded.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
    // Default (no eval) keeps the (qid, cid, sim, rank) serving schema.
    val served = graft.transform.CurationCompiler.compileSimilaritySection(
      si.copy(evalRecall = false))(emb, cents,
      sys.error("pq codes must not be built at this corpus size"))
    assert(served.columns.toSeq === Seq("qid", "cid", "sim", "rank"))
  }

  test("retrainSignal: integer-exact breach flags on handcrafted stats") {
    val stats = Seq(
      (0L, 90L, 10L, 100L),  // 10% delta
      (1L, 40L, 60L, 100L),  // 60% delta — breaches pct 50
      (2L, 25L, 0L, 25L))    // smallest cell: ratio 100/25 = 4
      .toDF("cell", "n_base", "n_delta", "n_total")
    def sig(pct: Int, ratio: Int) =
      IvfIndex.retrainSignal(stats, IvfIndex.RetrainPolicy(pct, ratio)).head()
    val r1 = sig(50, 8)
    assert(r1.getLong(0) === 3L && r1.getLong(1) === 155L && r1.getLong(2) === 70L)
    assert(r1.getBoolean(3) === true)   // 60 * 100 > 100 * 50
    assert(r1.getBoolean(4) === false)  // 100 <= 8 * 25
    assert(r1.getBoolean(5) === true)
    val r2 = sig(60, 3)                 // 60*100 > 100*60 is FALSE (strict)
    assert(r2.getBoolean(3) === false)
    assert(r2.getBoolean(4) === true)   // 100 > 3 * 25
    assert(r2.getBoolean(5) === true)
    val r3 = sig(60, 4)                 // 100 > 4*25 is FALSE (strict)
    assert(r3.getBoolean(3) === false && r3.getBoolean(4) === false)
    assert(r3.getBoolean(5) === false)
  }

  test("retrainSignal on an EMPTY stats frame is a clean no-op row," +
    " not NULL flags") {
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("cell", "n_base", "n_delta", "n_total")
    val r = IvfIndex.retrainSignal(empty, IvfIndex.RetrainPolicy(50, 8)).head()
    assert(r.getLong(0) === 0L)      // n_cells
    assert(r.getLong(1) === 0L)      // base_total (coalesced, not NULL)
    assert(r.getLong(2) === 0L)      // delta_total
    assert(r.getBoolean(3) === false && r.getBoolean(4) === false)
    assert(r.getBoolean(5) === false) // retrain — getBoolean must not NPE
  }

  test("maintainIndex on an index published with zero cells is a clean" +
    " no-op, not an NPE") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_empty").toString
    IvfIndex.publishIndex(cents, IvfIndex.assignCells(emb.filter(lit(false)),
      cents), dir, 0L)
    assert(!IvfIndex.maintainIndex(emb, lit(true), 16, 2, dir,
      IvfIndex.RetrainPolicy(1, 1)))
    assert(IvfIndex.currentIndexVersion(spark, dir) === Some(0L))
  }

  test("trainStrideFor: stride 1 below the sample target (fixtures" +
    " unchanged); ceil(n/target) above it; clamped so the sample covers K") {
    import SimSearch.IvfParams.trainStrideFor
    // Fixture decades: unchanged behavior.
    assert(trainStrideFor(500, 23) === 1)
    assert(trainStrideFor(2000, 45) === 1)
    assert(trainStrideFor(20000, 142) === 1)
    assert(trainStrideFor(50000, 224) === 1)
    // sf10 reproduces exactly the probed stride-4 configuration
    // (OUTLIERS_r14.md §3: ×45 cheaper than the full build).
    assert(trainStrideFor(200000, 448) === 4)
    // Next decades: sample stays pinned at the target.
    assert(trainStrideFor(2000000, 1415) === 40)
    assert(trainStrideFor(100000000, 10000) === 2000)
    // Clamp: the sample must still land K centroids in full.
    assert(trainStrideFor(1000, 600) === 1)
    assert(trainStrideFor(200000, 60000) === 3) // n/k = 3 < ceil(n/target)
  }

  test("sampled locked training REFUSES to underfill K: a hand-picked" +
    " stride that outruns the corpus fails loudly, not silently") {
    // 500 fixture vectors at stride 100 leave a 5-vector sample — far
    // short of K=16 codewords; limit(k) would silently train 5.
    val e = intercept[IllegalArgumentException] {
      SimSearch.trainCentroidsLockedSampled(emb, 16, 1, 100).collect()
    }
    assert(e.getMessage.contains("underfilled"))
  }

  test("maintainIndexAuto: watermark-derived delta converges without a" +
    " caller-side predicate swap — no retrain storm") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    val cutoff = 4L * emb.count() / 5
    // v=0 trained on the base slice: its watermark is the base max id.
    val baseCents = SimSearch.trainCentroidsLocked(
      emb.filter(col("vec_id") < cutoff), 16, 2).localCheckpoint()
    val upserted = IvfIndex.assignCells(emb, baseCents)
    IvfIndex.publishIndex(baseCents, upserted, dir, 0L,
      trainedWatermark = Some(cutoff - 1))
    assert(IvfIndex.trainedWatermarkOf(s, dir) === Some(cutoff - 1))

    val strict = IvfIndex.RetrainPolicy(maxDeltaPct = 1, maxCellRatio = 1000000)
    // Tick 1: the 20% post-watermark ingestion breaches → retrain fires
    // and the publish REBASES the watermark to the full corpus max.
    assert(IvfIndex.maintainIndexAuto(emb, 16, 2, dir, strict))
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(1L))
    assert(IvfIndex.trainedWatermarkOf(s, dir) === Some(emb.count() - 1))
    // Tick 2: SAME arguments — the rebased watermark leaves an empty
    // delta, the same policy no longer fires. This is the lane the
    // r14 convergence claim needed a manual lit(false) swap for.
    assert(!IvfIndex.maintainIndexAuto(emb, 16, 2, dir, strict))
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(1L))
  }

  test("legacy index without a watermark: maintainIndexAuto treats the" +
    " corpus as base — delta breaches cannot fire, ratio breaches can") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_legacy").toString
    IvfIndex.publishIndex(cents, IvfIndex.assignCells(emb, cents), dir, 0L)
    assert(IvfIndex.trainedWatermarkOf(s, dir) === None)
    // Delta-only strictness: storm-safe no-op (everything is base).
    assert(!IvfIndex.maintainIndexAuto(emb, 16, 2, dir,
      IvfIndex.RetrainPolicy(maxDeltaPct = 1, maxCellRatio = 1000000)))
    // A ratio breach still fires, and the retrain publishes a
    // watermark — the legacy index heals into the auto contract.
    assert(IvfIndex.maintainIndexAuto(emb, 16, 2, dir,
      IvfIndex.RetrainPolicy(maxDeltaPct = 100, maxCellRatio = 1)))
    assert(IvfIndex.trainedWatermarkOf(s, dir) === Some(emb.count() - 1))
  }

  test("breach-triggered retrain acts through the SAMPLED trainer: at a" +
    " forced stride the published index is exactly the sampled-trained" +
    " composition, and serving clears the quality bound") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_sampled").toString
    val cutoff = 4L * emb.count() / 5
    val baseCents = SimSearch.trainCentroidsLocked(
      emb.filter(col("vec_id") < cutoff), 16, 2).localCheckpoint()
    IvfIndex.publishIndex(baseCents, IvfIndex.assignCells(emb, baseCents),
      dir, 0L, trainedWatermark = Some(cutoff - 1))
    // Fixture corpora derive stride 1 (trainStrideFor lane above), so
    // force stride 4 through the spec seam to pin the act's plumbing.
    assert(IvfIndex.maintainIndexImpl(emb, col("vec_id") > cutoff - 1,
      16, 2, dir, IvfIndex.RetrainPolicy(1, 1000000), strideOverride = Some(4)))
    val (gotCents, gotCells) = IvfIndex.readCurrentIndex(s, dir)
    val wantCents = SimSearch.trainCentroidsLockedSampled(emb, 16, 2, 4)
    val wantCells = IvfIndex.assignCells(emb, wantCents)
    assert(gotCells.collect().map(_.toSeq).toSet ===
      wantCells.collect().map(_.toSeq).toSet)
    assert(gotCents.select("cent_id").collect().map(_.getLong(0)).toSet ===
      wantCents.select("cent_id").collect().map(_.getLong(0)).toSet)
    // Serving-quality bound over the sampled-trained published index:
    // top-1 recall against exact brute ground truth (the SimSearchSpec
    // stride-4 bar, re-checked on the act's own output).
    val served = IvfIndex.topKOverCells(emb, gotCells, gotCents, 100, 1, 10)
    val gt = SimSearch.bruteTopKNFiltered(emb, 100, 1)
    val hits = graft.ext.AnnEval.recallAtK(served, gt)
      .agg(sum("hits")).head.getLong(0)
    assert(hits >= 80, s"sampled-retrained serving top-1 recall $hits/100 < 80" +
      " (the repo's documented recall floor on the near-uniform fixture)")
  }

  test("config-compiled maintenance act: retrain_when drives" +
    " maintainIndexAuto with corpus-derived geometry end-to-end") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_cfg_act").toString
    val si = graft.config.ConfigLoader.fromYaml(
      """source:
        |  name: m
        |  type: file
        |  curation:
        |    similarity:
        |      retrain_when:
        |        max_delta_pct: 1
        |        max_cell_ratio: 1000000
        |""".stripMargin).curation.get.similarity.get
    val cutoff = 4L * emb.count() / 5
    val k = SimSearch.IvfParams.forCorpus(emb.count()).numCentroids
    val baseCents = SimSearch.trainCentroidsLocked(
      emb.filter(col("vec_id") < cutoff), k, 2).localCheckpoint()
    IvfIndex.publishIndex(baseCents, IvfIndex.assignCells(emb, baseCents),
      dir, 0L, trainedWatermark = Some(cutoff - 1))
    // Breach → the config path retrains and converges on the next tick.
    assert(graft.transform.CurationCompiler.compileMaintainIndex(si)(emb, dir))
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(1L))
    assert(!graft.transform.CurationCompiler.compileMaintainIndex(si)(emb, dir))
    // The published geometry is the corpus-derived K, not a config knob.
    val (gotCents, _) = IvfIndex.readCurrentIndex(s, dir)
    assert(gotCents.count() === k.toLong)
  }

  test("a breach over an EMPTY corpus names the condition instead of" +
    " dying on a null max-id") {
    // maintainIndexOver decouples the monitored cells from emb, so a
    // breach can fire with nothing to train on.
    val dir = java.nio.file.Files.createTempDirectory("ivf_emptycorpus").toString
    val breaching = Seq((0L, 0L), (1L, 0L)).toDF("vec_id", "cell")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.maintainIndexOver(emb.filter(lit(false)), breaching,
        lit(true), 16, 2, dir, IvfIndex.RetrainPolicy(1, 1000000))
    }
    assert(e.getMessage.contains("EMPTY corpus"), e.getMessage)
  }

  /** 60k deterministic ring-clustered vectors (120 tight angle
    * clusters, dim 8, per-id jitter) — the first corpus size whose
    * DERIVED training stride exceeds 1 (trainStrideFor(60000, 245) =
    * 2), so the sampled act runs genuinely sampled instead of
    * degenerating to the full build like every parquet fixture decade.
    */
  private def ringCorpus(n: Int, idOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val theta = lit(2 * math.Pi) * ((col("id") % 120).cast("double") / 120.0 +
      col("id").cast("double") / (n * 100.0))
    spark.range(n).select(
      idOf(col("id")).as("vec_id"),
      array((1 to 4).flatMap(h => Seq(
        cos(lit(h) * theta).cast("float"),
        sin(lit(h) * theta).cast("float"))): _*).as("embedding"))
  }

  test("config-act at a DERIVED stride > 1: a 60k corpus drives" +
    " retrain_when end-to-end through the sampled trainer at stride 2" +
    " and the served index clears the recall floor") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_cfg_s2").toString
    val big = ringCorpus(60000, identity).localCheckpoint()
    val k = SimSearch.IvfParams.forCorpus(60000L).numCentroids
    assert(SimSearch.IvfParams.trainStrideFor(60000L, k) === 2,
      "lane precondition: 60k must derive stride 2")
    val si = graft.config.ConfigLoader.fromYaml(
      """source:
        |  name: m
        |  type: file
        |  curation:
        |    similarity:
        |      retrain_when:
        |        max_delta_pct: 1
        |        max_cell_ratio: 1000000
        |""".stripMargin).curation.get.similarity.get
    // Cheap seed publish: a small-K index over the first 2048 rows,
    // watermarked there — everything later is delta, so the first
    // config tick breaches.
    val seed = big.filter(col("vec_id") < 2048L)
    val seedCents = SimSearch.trainCentroidsLocked(seed, 16, 1).localCheckpoint()
    // Cells over the FULL corpus (maintainIndexAuto monitors the
    // published cell table; rows past the watermark are its delta).
    IvfIndex.publishIndex(seedCents, IvfIndex.assignCells(big, seedCents),
      dir, 0L, trainedWatermark = Some(2047L))
    assert(graft.transform.CurationCompiler.compileMaintainIndex(si)(big, dir))
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(1L))
    assert(IvfIndex.trainedWatermarkOf(s, dir) === Some(59999L))
    // Convergence: the rebased watermark sees no delta.
    assert(!graft.transform.CurationCompiler.compileMaintainIndex(si)(big, dir))
    // The published centroids ARE the stride-2 sampled composition —
    // had the act trained unsampled (stride 1) they would differ.
    val (gotCents, gotCells) = IvfIndex.readCurrentIndex(s, dir)
    val want = SimSearch.trainCentroidsLockedSampled(big, k, 2, 2)
    assert(gotCents.select("cent_id").collect().map(_.getLong(0)).toSet ===
      want.select("cent_id").collect().map(_.getLong(0)).toSet)
    assert(gotCells.collect().map(_.toSeq).toSet ===
      IvfIndex.assignCells(big, want).collect().map(_.toSeq).toSet)
    assert(gotCents.count() === k.toLong)
    // Serving quality over the sampled-trained index: top-1 recall
    // against exact brute ground truth.
    val p = SimSearch.IvfParams.forCorpus(60000L).probes
    val served = IvfIndex.topKOverCells(big, gotCells, gotCents, 100, 1, p)
    val gt = SimSearch.bruteTopKNFiltered(big, 100, 1)
    val hits = graft.ext.AnnEval.recallAtK(served, gt)
      .agg(sum("hits")).head.getLong(0)
    assert(hits >= 80, s"stride-2 config-act serving recall $hits/100 < 80")
  }

  test("sparse ids cannot abort the derived act: an all-odd 60k corpus" +
    " (empty residue class at the derived stride) lowers the stride and" +
    " trains instead of throwing") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_sparse").toString
    // All-odd ids: vec_id % 2 == 0 selects NOTHING, the advisor's
    // structured-id counterexample to the dense-id clamp.
    val odd = ringCorpus(60000, id => id * 2L + 1L).localCheckpoint()
    assert(SimSearch.IvfParams.trainStrideFor(60000L, 32) === 2)
    assert(odd.filter(col("vec_id") % 2 === 0).count() === 0L)
    val breaching = Seq((1L, 0L), (3L, 0L)).toDF("vec_id", "cell")
    assert(IvfIndex.maintainIndexOver(odd, breaching, lit(true), 32, 1, dir,
      IvfIndex.RetrainPolicy(1, 1000000)))
    val (gotCents, gotCells) = IvfIndex.readCurrentIndex(s, dir)
    assert(gotCents.count() === 32L)
    // The fallback landed at stride 1 == the full locked build.
    val want = SimSearch.trainCentroidsLockedSampled(odd, 32, 1, 1)
    assert(gotCents.select("cent_id").collect().map(_.getLong(0)).toSet ===
      want.select("cent_id").collect().map(_.getLong(0)).toSet)
    assert(gotCells.collect().map(_.toSeq).toSet ===
      IvfIndex.assignCells(odd, want).collect().map(_.toSeq).toSet)
  }

  test("stride probe picks the FIRST halving candidate that fills, in one" +
    " aggregate: ids ≡ 4 (mod 8) on a derived-stride-8 corpus land at 4") {
    // r17: the per-candidate limit(k).count() halving loop became ONE
    // conditional-count aggregate over every candidate — this lane pins
    // the mid-chain equivalence the all-odd lane above cannot (there
    // the chain is [2] and the answer is the stride-1 fallback; here
    // the chain is [8, 4, 2] and the probe must stop at 4, exactly
    // where the loop converged).
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_mod8").toString
    val mod8 = ringCorpus(400000, id => id * 8L + 4L).localCheckpoint()
    assert(SimSearch.IvfParams.trainStrideFor(400000L, 32) === 8)
    assert(mod8.filter(col("vec_id") % 8 === 0).count() === 0L)
    val breaching = Seq((4L, 0L), (12L, 0L)).toDF("vec_id", "cell")
    assert(IvfIndex.maintainIndexOver(mod8, breaching, lit(true), 32, 1, dir,
      IvfIndex.RetrainPolicy(1, 1000000)))
    val (gotCents, _) = IvfIndex.readCurrentIndex(s, dir)
    // Equality with the stride-4 locked build IS the stride decision.
    val want = SimSearch.trainCentroidsLockedSampled(mod8, 32, 1, 4)
    assert(gotCents.select("cent_id").collect().map(_.getLong(0)).toSet ===
      want.select("cent_id").collect().map(_.getLong(0)).toSet)
  }

  test("maintainIndex closes the loop: no retrain below threshold; on" +
    " breach, one atomic versioned retrain equal to a from-scratch index") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ivf_maint").toString
    val cutoff = 4L * emb.count() / 5
    val isDelta = col("vec_id") >= cutoff
    // v=0: the base-trained, delta-upserted index (the drifted state).
    val baseCents = SimSearch.trainCentroidsLocked(
      emb.filter(col("vec_id") < cutoff), 16, 2).localCheckpoint()
    val upserted = IvfIndex.assignCells(emb.filter(col("vec_id") < cutoff), baseCents)
      .unionByName(IvfIndex.assignCells(emb.filter(isDelta), baseCents))
    IvfIndex.publishIndex(baseCents, upserted, dir, 0L)
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(0L))

    // Permissive policy: nothing breaches, current version keeps serving.
    val lax = IvfIndex.RetrainPolicy(maxDeltaPct = 100, maxCellRatio = 1000000)
    assert(!IvfIndex.maintainIndex(emb, isDelta, 16, 2, dir, lax))
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(0L))

    // Strict policy: the 20% delta ingestion breaches max_delta_pct=1 —
    // exactly one retrain fires and publishes v=1.
    val strict = IvfIndex.RetrainPolicy(maxDeltaPct = 1, maxCellRatio = 1000000)
    assert(IvfIndex.maintainIndex(emb, isDelta, 16, 2, dir, strict))
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(1L))

    // The published index IS the from-scratch index: centroids trained
    // on the full corpus, full reassignment — serving equality.
    val (gotCents, gotCells) = IvfIndex.readCurrentIndex(s, dir)
    val freshCents = SimSearch.trainCentroidsLocked(emb, 16, 2).localCheckpoint()
    val freshCells = IvfIndex.assignCells(emb, freshCents)
    assert(gotCells.collect().map(_.toSeq).toSet ===
      freshCells.collect().map(_.toSeq).toSet)
    val servedGot = IvfIndex.topKOverCells(emb, gotCells, gotCents, 16, 5, 10)
    val servedFresh = IvfIndex.topKOverCells(emb, freshCells, freshCents, 16, 5, 10)
    assert(servedGot.collect().map(_.toSeq).toSet ===
      servedFresh.collect().map(_.toSeq).toSet)

    // After the rebuild nothing is "delta" anymore — the same strict
    // policy no longer fires (the loop converges; no retrain storm).
    assert(!IvfIndex.maintainIndex(emb, lit(false), 16, 2, dir, strict))
    assert(IvfIndex.currentIndexVersion(s, dir) === Some(1L))
  }

  test("config-compiled retrain decision equals the Scala composition" +
    " and defaults apply when retrain_when is absent") {
    val yaml =
      """source:
        |  name: m
        |  type: file
        |  curation:
        |    similarity:
        |      retrain_when:
        |        max_delta_pct: 1
        |        max_cell_ratio: 7
        |""".stripMargin
    val si = graft.config.ConfigLoader.fromYaml(yaml)
      .curation.get.similarity.get
    assert(si.retrainWhen === Some(graft.config.RetrainWhenConfig(1, 7)))
    val cutoff = 4L * emb.count() / 5
    val stats = IvfIndex.cellStats(
      IvfIndex.assignCells(emb, cents), col("vec_id") >= cutoff)
    val got = graft.transform.CurationCompiler.compileRetrainSignal(si)(stats)
    val want = IvfIndex.retrainSignal(stats, IvfIndex.RetrainPolicy(1, 7))
    assert(got.collect().map(_.toSeq).toSeq === want.collect().map(_.toSeq).toSeq)
    // Absent section → the documented defaults (50, 8).
    val si0 = graft.config.ConfigLoader.fromYaml(
      """source:
        |  name: m
        |  type: file
        |  curation:
        |    similarity: {}
        |""".stripMargin)
      .curation.get.similarity.get
    assert(si0.retrainWhen === None)
    val got0 = graft.transform.CurationCompiler.compileRetrainSignal(si0)(stats)
    val want0 = IvfIndex.retrainSignal(stats, IvfIndex.RetrainPolicy(50, 8))
    assert(got0.collect().map(_.toSeq).toSeq === want0.collect().map(_.toSeq).toSeq)
  }

  test("upsert serving over the merged cell table equals the one-shot" +
    " trained-on-base serving plan") {
    val cutoff = 4L * emb.count() / 5
    val baseCents = SimSearch.trainCentroidsLocked(
      emb.filter(col("vec_id") < cutoff), 16, 2).localCheckpoint()
    val merged = IvfIndex.assignCells(emb.filter(col("vec_id") < cutoff), baseCents)
      .unionByName(IvfIndex.assignCells(emb.filter(col("vec_id") >= cutoff), baseCents))
    val served = IvfIndex.topKOverCells(emb, merged, baseCents, 16, 5, 10)
    val oneShot = SimSearch.ivfTopKNFilteredWithCentroids(
      emb, 16, 5, 10, baseCents, lit(true))
    assert(served.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet)
  }
}
