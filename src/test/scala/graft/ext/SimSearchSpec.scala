package graft.ext

import graft.SparkTestBase
import graft.Tables.t

/** LSH similarity search: determinism, answer-set coverage, and recall
  * against the exact brute-force baseline on the embeddings fixture.
  *
  * The fixture's vectors are near-uniform (top-1 cosine ≈ 0.28-0.49),
  * which is the adversarial case for ANN — the recall bound here (0.9)
  * reflects that; the CORRECTNESS gate for sim_topk_lsh is exact
  * because its oracle replicates the same deterministic bucketing.
  */
class SimSearchSpec extends SparkTestBase {

  test("codegen graft_dot is bit-identical to the declarative fold") {
    import org.apache.spark.sql.functions.col
    val emb = t(spark, sf0001, "embeddings")
    val diff = emb.select(
        SimSearch.dot(col("embedding"), col("embedding")).as("a"),
        graft.functions.DotProduct.col(col("embedding"), col("embedding")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0, "codegen dot must match the fold exactly, not approximately")
  }

  test("lshTopK answers every query and is deterministic") {
    val emb = t(spark, sf0001, "embeddings")
    val a = SimSearch.lshTopK(emb, 100, SimSearch.LshParams.fixture).collect().map(_.toSeq).toSet
    val b = SimSearch.lshTopK(emb, 100, SimSearch.LshParams.fixture).collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.map(_.head).size == 100, "one top-1 row per query id")
  }

  test("codegen band keys are identical to the declarative Column algebra") {
    import org.apache.spark.sql.functions.{array, col}
    val emb = t(spark, sf0001, "embeddings")
    val ps = SimSearch.planes(7, 64, 64, 8)
    val decl = emb.select(col("vec_id"),
      array(SimSearch.bandKeyCols(col("embedding"), ps, 16, 4): _*).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val native = emb.select(col("vec_id"),
      SimSearch.bandKeysNative(col("embedding"), ps, 16, 4).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native == decl)
  }

  test("ivfTopK answers every query deterministically") {
    val emb = t(spark, sf0001, "embeddings")
    val a = SimSearch.ivfTopK(emb, 100, SimSearch.IvfParams.fixture).collect().map(_.toSeq).toSet
    val b = SimSearch.ivfTopK(emb, 100, SimSearch.IvfParams.fixture).collect().map(_.toSeq).toSet
    assert(a == b && a.map(_.head).size == 100)
  }

  test("ivfTopK top-1 agrees with brute force on >= 80% of queries") {
    val emb = t(spark, sf0001, "embeddings")
    val brute = SimSearch.bruteTopK(emb, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = SimSearch.ivfTopK(emb, 100, SimSearch.IvfParams.fixture).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = brute.count { case (q, c) => ivf.get(q).contains(c) }
    // Near-uniform vectors are the adversarial case for cell
    // assignment (many neighbors sit just across a centroid
    // boundary); the fixture's probe count was tuned by a probe sweep
    // (PLANS_r05.md, PLANS_r11.md) — probes=10 of 16 cells measures
    // 90/100 here, so the 80% floor holds with margin. See IvfParams.fixture for the sweep table.
    assert(agree >= 80, s"ivf top-1 agreement $agree/100 below bound")
  }

  test("locked trained IVF recovers clusters too, and is deterministic") {
    import org.apache.spark.sql.functions._
    // Deterministic clustered corpus: 8 orthogonal cluster centers
    // (one-hot dims), vectors = center + hash-derived noise. Cluster
    // id = vec_id div 125, so the FIRST 8 vectors — the first-K
    // centroids — all sit in cluster 0: that quantizer's cells are
    // noise-slices of one cluster. The locked Lloyd unroll must escape it.
    val dim = 16
    val df = spark.range(1000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (when(j === (col("id") / 125).cast("int"), 1.0).otherwise(0.0) +
          (pmod(xxhash64(col("id") * dim + j.cast("long")), lit(1000L))
            .cast("double") / 1000.0 - 0.5) * 0.2)
          .cast("float")).as("embedding"))
    val brute = SimSearch.bruteTopK(df, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def agree(res: Map[Long, Long]): Int =
      brute.count { case (q, c) => res.get(q).contains(c) }
    val p = SimSearch.IvfParams(8, 1)
    val firstK = agree(SimSearch.ivfTopK(df, 100, p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    def lockedRun() = SimSearch.ivfTopKWithCentroids(df, 100, p.probes,
        SimSearch.trainCentroidsLocked(df, p.numCentroids, iters = 2)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val run1 = lockedRun()
    val run2 = lockedRun()
    assert(run1 == run2, "locked training must be bit-deterministic")
    val locked = agree(run1)
    info(s"probe-1 top-1 agreement: firstK=$firstK/100 locked=$locked/100")
    assert(locked >= 85, s"locked-trained centroids must recover the clusters: $locked/100")
    assert(locked >= firstK + 20,
      s"locked training must beat insertion-order centroids: locked=$locked firstK=$firstK")
  }

  test("sampled locked training: stride 1 equals the unsampled path;" +
    " stride E trains only on the residue slice; quality holds") {
    import org.apache.spark.sql.functions._
    val dim = 16
    val df = spark.range(1000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (when(j === (col("id") / 125).cast("int"), 1.0).otherwise(0.0) +
          (pmod(xxhash64(col("id") * dim + j.cast("long")), lit(1000L))
            .cast("double") / 1000.0 - 0.5) * 0.2)
          .cast("float")).as("embedding"))
    def sig(c: org.apache.spark.sql.DataFrame) =
      c.collect().map(_.toSeq).toSet
    // sampleEvery = 1 degenerates to the unsampled init (dense ids):
    // the two trainers must land bit-identical centroids.
    assert(sig(SimSearch.trainCentroidsLockedSampled(df, 8, 2, 1)) ===
      sig(SimSearch.trainCentroidsLocked(df, 8, 2)))
    // Stride-4 training sees ONLY the residue slice: training on the
    // pre-filtered slice (stride 1 over sparse ids = rank-based init)
    // must land the identical centroids — the sample is the contract.
    val sampled = SimSearch.trainCentroidsLockedSampled(df, 8, 2, 4)
    val sliceOnly = SimSearch.trainCentroidsLockedSampled(
      df.filter(col("vec_id") % 4 === 0), 8, 2, 1)
    assert(sig(sampled) === sig(sliceOnly))
    // Serving quality over the full corpus with sampled-trained
    // centroids still recovers the planted clusters.
    val brute = SimSearch.bruteTopK(df, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = SimSearch.ivfTopKWithCentroids(
      df, 100, 1, sampled.localCheckpoint()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = brute.count { case (q, c) => served.get(q).contains(c) }
    info(s"sampled-trained probe-1 top-1 agreement: $agree/100")
    assert(agree >= 85, s"sampled training must still recover clusters: $agree/100")
  }

  test("knnGraph: cell-bounded neighbors, no cartesian, ranked output") {
    import org.apache.spark.sql.functions._
    // Clustered corpus (as above): within-cluster neighbors dominate.
    val dim = 16
    val df = spark.range(400).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (when(j === (col("id") / 100).cast("int"), 1.0).otherwise(0.0) +
          (pmod(xxhash64(col("id") * dim + j.cast("long")), lit(1000L))
            .cast("double") / 1000.0 - 0.5) * 0.2)
          .cast("float")).as("embedding"))
    val cents = SimSearch.trainCentroidsLocked(df, 4, iters = 2)
    val g = SimSearch.knnGraph(df, 3, cents)
    val rows = g.collect()
    // Every vector gets up to 3 ranked neighbors, no self-edges.
    assert(rows.length > 390 * 3, s"graph too sparse: ${rows.length}")
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "self edge")
    assert(rows.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(3)).sorted.toSeq
      .zipWithIndex.forall { case (rk, i) => rk == i + 1 }), "ranks not dense")
    // On this corpus, neighbors should overwhelmingly share a cluster
    // (cluster id = vec_id / 100).
    val sameCluster = rows.count(r => r.getLong(0) / 100 == r.getLong(1) / 100)
    assert(sameCluster.toDouble / rows.length >= 0.95,
      s"cell-bounded graph should be intra-cluster: $sameCluster/${rows.length}")
    // Plan shape: the CANDIDATE join must be an equi-join keyed on the
    // cell id (the broadcast K-row centroid cross joins in the
    // assignment stage are the sanctioned shape and stay BNLJ).
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian candidates:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell#".r
      .findFirstIn(plan).isDefined,
      s"candidate join must be cell-keyed equi-join:\n$plan")
  }

  test("quantizeUnit maps a zero-norm embedding to zero codes, not NaN") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val df = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, -1f, 0f))).toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
      SimSearch.quantizeUnit(col("embedding")).as("u"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(0L) == Seq(0.0, 0.0, 0.0, 0.0), s"zero vector: ${out(0L)}")
    assert(!out(1L).exists(_.isNaN))
    assert(out(1L).head == 90.0) // 127/sqrt(2) rounds to 90
  }

  test("lshTopK top-1 agrees with brute force on >= 90% of queries") {
    val emb = t(spark, sf0001, "embeddings")
    val brute = SimSearch.bruteTopK(emb, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = SimSearch.lshTopK(emb, 100, SimSearch.LshParams.fixture).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = brute.count { case (q, c) => lsh.get(q).contains(c) }
    assert(agree >= 90, s"recall $agree/100 below bound")
  }

  test("q8TopK is deterministic and mostly agrees with the float path") {
    val emb = t(spark, sf0001, "embeddings")
    def q8Run() = SimSearch.q8TopKFromCodes(SimSearch.quantizeCorpus(emb), 100)
      .collect().map(_.toSeq)
    val a = q8Run()
    val b = q8Run()
    assert(a.toSet == b.toSet && a.length == 100)
    val brute = SimSearch.bruteTopK(emb, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q8 = a.map(s => s.head.asInstanceOf[Long] -> s(1).asInstanceOf[Long]).toMap
    val agree = brute.count { case (q, c) => q8.get(q).contains(c) }
    // Near-uniform vectors are the adversarial case for quantization
    // too (tight score margins); int8 keeps ~7 significant bits, which
    // empirically preserves the argmax for the large majority.
    assert(agree >= 80, s"q8 top-1 agreement $agree/100 below bound")
  }

  test("pqEncode emits one bounded code per (vector, subspace)") {
    import org.apache.spark.sql.functions.col
    val emb = t(spark, sf0001, "embeddings")
    val n = emb.count()
    val codes = SimSearch.pqEncode(emb, 64).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getAs[Number](2).intValue))
    assert(codes.length == n * SimSearch.PqM)
    assert(codes.map(c => (c._1, c._2)).distinct.length == codes.length)
    assert(codes.forall(c => c._3 >= 0 && c._3 < SimSearch.PqK))
    // Codebook members encode to themselves: their nearest codeword at
    // distance 0 is their own subvector (ties to the smallest id can
    // only deviate if two codewords are identical — then the code still
    // scores identically, and the fixture has no duplicate subvectors).
    val self = codes.filter(_._1 < SimSearch.PqK)
    assert(self.forall(c => c._3 == c._1),
      s"codebook self-encoding violated: ${self.filterNot(c => c._3 == c._1).take(5).toSeq}")
  }

  test("pqTopK top-1 agrees with brute force on >= 95% of queries") {
    val emb = t(spark, sf0001, "embeddings")
    val brute = SimSearch.bruteTopK(emb, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = SimSearch.pqTopKFromCodes(SimSearch.pqEncode(emb, 64), emb, 100, 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pq.size == 100)
    val agree = brute.count { case (q, c) => pq.get(q).contains(c) }
    info(s"pq top-1 agreement: $agree/100")
    // Raw ADC top-1 measures 65/100 on the adversarial near-uniform
    // fixture (measured at M=16, K=256; 59/100 at M=8) — like IVF,
    // pure quantizer ranking cannot do much better on structureless
    // vectors. The 20-deep shortlist + exact re-rank measures 100/100:
    // the true neighbor only needs to SURVIVE the cut, not win it.
    assert(agree >= 95, s"pq top-1 agreement $agree/100 below bound")
  }

  test("forCorpus derives scale-safe index geometry, clamped") {
    import SimSearch.{IvfParams, LshParams}
    // Occupancy target ~64/bucket: 2^r tracks corpusSize/64.
    assert(LshParams.forCorpus(1000, 64).rowsPerBand == 4)        // floor clamp
    assert(LshParams.forCorpus(1000000, 64).rowsPerBand == 14)    // ceil(log2(15625))
    assert(LshParams.forCorpus(1000000000L, 64).rowsPerBand == 24) // ceiling clamp
    assert(IvfParams.forCorpus(1000) == IvfParams(32, 10))   // probe floor min(10,K)
    assert(IvfParams.forCorpus(100000000L) == IvfParams(10000, 625))
    assert(IvfParams.forCorpus(100L * 1000 * 1000 * 1000).numCentroids == 65536)
    intercept[IllegalArgumentException](LshParams.forCorpus(0, 64))
  }
}
