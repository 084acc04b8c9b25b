package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.config.CurationConfig
import graft.transform.CurationCompiler

/** North-star LLM-data-pipeline battery (BASELINE.json): dedup,
  * similarity search, text analysis, multimodal plumbing.
  *
  * Scale design: every operator here avoids any driver-side collection.
  * Exact dedup is a hash groupBy on fixed-width digests (map-side
  * partial agg); near-dup candidates come from MinHash banding
  * ([[graft.ext.NearDup]]), never an all-pairs cross join; similarity
  * search has an exact brute-force baseline (query side bounded and
  * broadcast) and an LSH-bucketed scale path ([[graft.ext.SimSearch]]).
  */
object NorthStar {

  /** Exact dedup over document text: one survivor (min doc_id) per
    * distinct text + multiplicity. Deterministic version of
    * dropDuplicates("text").
    *
    * Scale: the shuffle key is the fixed-width md5 digest, never the raw
    * document — at 100 TB the exchange carries 32-byte keys + ids, not
    * the corpus. (Hash collision would merge two docs; md5's 2^-64
    * birthday bound at trillions of docs is acceptable for dedup, and a
    * paranoid mode can re-verify survivors by length.)
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", md5($"text".cast("binary")).as("text_hash"))
      .groupBy($"text_hash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies", $"text_hash")
  }

  /** MMR diverse re-rank of the brute top-20 candidates, greedy top-5
    * per query — [[graft.ext.MmrRerank]]. Query side bounded at 32.
    */
  def mmrRerankQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.MmrRerank.rerank(t(s, dir, "embeddings"), 32, 20, 5)

  /** Filtered MMR: the diversity pass over the label-eligible
    * candidates only (same predicate as `sim_topk_filtered`).
    */
  def mmrRerankFilteredQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.MmrRerank.rerank(t(s, dir, "embeddings"), 32, 20, 5,
      Some($"label" === 1))
  }

  /** DPR-style hard-negative mining: top-5 most similar
    * DIFFERENT-label vectors per anchor — [[graft.ext.HardNegatives]].
    */
  def hardNegativesQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.HardNegatives.mine(t(s, dir, "embeddings"), 64, 5)

  /** Exact dedup with Bloom-routed shuffle pruning — output identical
    * to [[dedupExact]], but provably-globally-unique digests never
    * enter the exchange ([[graft.ext.BloomDedup]]): the 100 TB shape,
    * where cross-partition-unique traffic dominates the shuffle.
    */
  def dedupExactBloom(s: SparkSession, dir: String): DataFrame =
    graft.ext.BloomDedup.dedup(t(s, dir, "documents"), "doc_id", "text")

  /** Normalized content fingerprint (lower + whitespace-collapse + md5) —
    * the document-fingerprinting primitive used for near-exact dedup.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(
      $"doc_id",
      md5(lower(regexp_replace(trim($"text"), "\\s+", " ")).cast("binary")).as("fingerprint"))
  }

  /** Token statistics per document (whitespace tokenization). */
  def textTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = split(trim($"text"), "\\s+")
    t(s, dir, "documents").select(
      $"doc_id",
      $"n_chars",
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"))
  }

  /** Shared quality heuristics: one stopword list and token columns
    * feed BOTH the scorer (text_quality) and the gate
    * ([[CurationCompiler.qualityGate]]) so they can never silently
    * diverge.
    */
  private val QualityStopwords = graft.ext.TextAnalysis.QualityStopwords
  private def qToks = split(trim(org.apache.spark.sql.functions.col("text")), "\\s+")
  private def qStop = size(filter(qToks, c => c.isInCollection(QualityStopwords)))

  /** Text-quality scoring: stopword ratio, mean token length,
    * type-token ratio — the length/punct/stopword heuristics of a
    * training-data quality filter.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = qToks
    val nTok = graft.ext.TextAnalysis.qualityTokenCount($"text")
    val nStop = qStop
    t(s, dir, "documents").select(
      $"doc_id",
      nTok.cast("long").as("n_tokens"),
      round(nStop.cast("double") / nTok, 4).as("stopword_ratio"),
      round($"n_chars".cast("double") / nTok, 4).as("chars_per_token"),
      round(size(array_distinct(toks)).cast("double") / nTok, 4).as("type_token_ratio"))
  }

  /** N-gram (3-shingle) statistics per document — the shingle stream
    * feeding MinHash/Jaccard dedup ([[graft.ext.NearDup.shingles]]),
    * exposed as its own query.
    */
  def shingleStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = split(trim($"text"), "\\s+")
    val sh = graft.ext.NearDup.shingles($"text", 3)
    t(s, dir, "documents")
      .filter(size(toks) >= 3)
      .select(
        $"doc_id",
        size(sh).cast("long").as("n_shingles"),
        size(array_distinct(sh)).cast("long").as("n_distinct_shingles"))
  }

  /** Brute-force cosine top-1 neighbor for a bounded query set
    * (vec_id < 100) against the full corpus — the exact baseline
    * ([[graft.ext.SimSearch.bruteTopK]]). Double-precision sequential
    * fold on both sides keeps the oracle bit-comparable; round(6)+id
    * tiebreak make the argmax deterministic.
    */
  def simTopK(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.bruteTopK(t(s, dir, "embeddings"), 100)

  /** LSH-bucketed cosine top-1 (same query set): sparse hyperplane
    * signatures → band buckets → candidate pairs → exact re-rank. The
    * oracle replicates the deterministic bucketing, so this entry
    * hash-checks the LSH semantics end-to-end.
    */
  def simTopKLsh(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.lshTopK(t(s, dir, "embeddings"), 100,
      graft.ext.SimSearch.LshParams.fixture)

  /** Exact ranked top-5 neighbors per query (Window top-k shape —
    * compiles to WindowGroupLimit partial/final pruning).
    */
  def simTopK5(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.bruteTopKNFiltered(t(s, dir, "embeddings"), 100, 5)

  /** Filtered vector search: top-5 among label=1 candidates only (the
    * pre-filter serving shape — guarantees k ELIGIBLE neighbors where
    * post-filtering an ANN list under-returns) —
    * [[graft.ext.SimSearch.bruteTopKNFiltered]].
    */
  def simTopKFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.SimSearch.bruteTopKNFiltered(
      t(s, dir, "embeddings"), 100, 5, $"label" === 1)
  }

  /** IVF-style ANN top-1 (same query set): centroid cells + probe-2 +
    * exact re-rank; the oracle replicates the deterministic index.
    */
  def simTopKIvf(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.ivfTopK(t(s, dir, "embeddings"), 100,
      graft.ext.SimSearch.IvfParams.fixture)

  /** Locked-trained centroids, trained ONCE per fixture dir and landed
    * (the PQ-code pattern): training is an offline index build; the
    * serving queries read the landed K-row table. Semantics unchanged —
    * the oracles replay the training from the data either way.
    */
  /** ONE definition of the locked-training geometry, shared by the
    * queries AND their oracle constructors — retuning any of these
    * retunes both sides, so the training replay cannot drift.
    *
    * K is CORPUS-DERIVED (clamp(⌈√N⌉, 16, 65536), probes
    * max(min(10,K), K/16) — the
    * [[graft.ext.SimSearch.IvfParams.forCorpus]] rule) rather than a
    * fixed fixture constant: with fixed K, cell population N/K grows
    * linearly with the corpus and every cell-bounded consumer
    * (knn_graph's per-cell quadratic, SemDeDup's in-cell pair scan)
    * superlinearly inherits it — the r9 sf1 audit measured knn_graph
    * ×12.5 for 10× data on K=16. √N sizing keeps cells at ~√N, so the
    * same queries scale ~N^1.5 total work with perfect key
    * parallelism instead of N². The oracle SQL computes the identical
    * K from count(*) inside the query, so both sides retune together
    * on any fixture.
    */
  private val LockedIters = 2
  private val EmbDim = 64

  private def lockedParams(s: SparkSession, dir: String) =
    graft.ext.SimSearch.IvfParams.forCorpus(
      t(s, dir, "embeddings").count())

  private[queries] def trainedCents(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "cents", dir) {
      graft.ext.SimSearch.trainCentroidsLocked(t(s, dir, "embeddings"),
        lockedParams(s, dir).numCentroids, LockedIters)
    }

  /** Trained-IVF ANN with the parameter-LOCKED Lloyd unroll (2
    * iterations over quantized integer vectors, sum-vector centroids)
    * — the trained deployment shape, yet fully oracle-checked: the
    * DuckDB twin replays the entire training.
    */
  def simTopKIvfTrained(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.ivfTopKWithCentroids(t(s, dir, "embeddings"), 100,
      lockedParams(s, dir).probes, trainedCents(s, dir))

  /** Training-set residue stride for the sampled index build (train on
    * every 4th vector, serve everything) — shared with the oracle.
    */
  private val TrainSampleEvery = 4

  private[queries] def sampledCents(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "cents_sampled", dir) {
      graft.ext.SimSearch.trainCentroidsLockedSampled(t(s, dir, "embeddings"),
        lockedParams(s, dir).numCentroids, LockedIters, TrainSampleEvery)
    }

  /** Trained-IVF ANN whose centroids trained on a deterministic 1/4
    * residue sample of the corpus ([[graft.ext.SimSearch.trainCentroidsLockedSampled]])
    * — the index-build cost answer for the next data decade (training
    * cost drops by the stride while K and serving stay corpus-derived),
    * still fully oracle-checked: the DuckDB twin replays the sampled
    * training and the full-corpus serve.
    */
  def simTopKTrainedSampled(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.ivfTopKWithCentroids(t(s, dir, "embeddings"), 100,
      lockedParams(s, dir).probes, sampledCents(s, dir))

  /** Filtered ANN through the trained IVF index — the 100 TB serving
    * shape: the label predicate composes INTO the inverted lists (only
    * eligible vectors enter the cells), probe + exact re-rank top-5.
    * [[simTopKFiltered]] stays registered as the exact-recall
    * contrast; the oracle replays training + assignment + predicate +
    * probe ([[graft.ext.SimSearch.ivfTrainedFilteredOracleSql]]).
    */
  def simTopKFilteredIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.SimSearch.ivfTopKNFilteredWithCentroids(
      t(s, dir, "embeddings"), 100, 5, lockedParams(s, dir).probes,
      trainedCents(s, dir), $"label" === 1)
  }

  /** ANN eval geometry, shared by the Spark queries and their oracle
    * constructors: 64 graded queries, top-10 lists, probe sweep
    * 1/2/4/10.
    */
  private val EvalQueryBound = 64
  private val EvalK = 10
  private val EvalLevels = Seq(1, 2, 4, 10)

  /** Retrieval-quality grade of the trained-IVF index vs brute-force
    * ground truth ([[graft.ext.AnnEval.recallAtK]]): per graded query,
    * the recall@10 numerator and the ANN rank of the true nearest
    * neighbor — the measurement loop every approximate index ships
    * with. Integer outputs; oracle nests the two existing replays.
    */
  def annRecallQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.ext.AnnEval.recallAtK(
      graft.ext.SimSearch.ivfTopKNFilteredWithCentroids(emb, EvalQueryBound,
        EvalK, lockedParams(s, dir).probes, trainedCents(s, dir), lit(true)),
      graft.ext.SimSearch.bruteTopKNFiltered(emb, EvalQueryBound, EvalK))
  }

  /** [[annRecallQ]] for the FILTERED serving shape (label = 1 composed
    * into the inverted lists) against filtered brute ground truth —
    * grades the production predicate+vector path, not just the plain
    * index.
    */
  def annRecallFilteredQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    graft.ext.AnnEval.recallAtK(
      graft.ext.SimSearch.ivfTopKNFilteredWithCentroids(emb, EvalQueryBound,
        EvalK, lockedParams(s, dir).probes, trainedCents(s, dir), $"label" === 1),
      graft.ext.SimSearch.bruteTopKNFiltered(emb, EvalQueryBound, EvalK,
        $"label" === 1))
  }

  /** Recall-vs-nprobe sweep over the trained index
    * ([[graft.ext.AnnEval.recallCurve]]): one ranking pass grades probe
    * counts 1/2/4/10 at once — the tuning curve read before fixing the
    * serving probe count.
    */
  def annRecallCurveQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.AnnEval.recallCurve(t(s, dir, "embeddings"), EvalQueryBound,
      EvalK, EvalLevels, trainedCents(s, dir))

  /** Retrain-free IVF index upsert ([[graft.ext.IvfIndex]]): centroids
    * train on the FIRST 80% of vec_ids (the base corpus), the landed
    * cell table is built from the base and the remaining 20% are
    * UPSERTED — assigned against the frozen centroids (map-only,
    * base never rescanned) and appended. The query serves top-5 over
    * the merged landed index; the oracle replays base-only training +
    * full assignment, which is identical by per-vector independence.
    */
  private def upsertArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame, Int) = {
    val emb = t(s, dir, "embeddings")
    val cutoff = 4L * emb.count() / 5
    val p = graft.ext.SimSearch.IvfParams.forCorpus(cutoff)
    val cents = graft.Tables.landed(s, "upsert_cents", dir) {
      graft.ext.SimSearch.trainCentroidsLocked(
        emb.filter(col("vec_id") < cutoff), p.numCentroids, LockedIters)
    }
    val cells = graft.Tables.landedWith(s, "upsert_cells", dir) { path =>
      graft.ext.IvfIndex.assignCells(emb.filter(col("vec_id") < cutoff), cents)
        .write.mode("overwrite").parquet(path)
      // The UPSERT: late vectors assign against the FROZEN centroids
      // and APPEND — the base partition is never rewritten or rescanned.
      graft.ext.IvfIndex.assignCells(emb.filter(col("vec_id") >= cutoff), cents)
        .write.mode("append").parquet(path)
    }
    (cells, cents, p.probes)
  }

  /** The upserted cell table alone — for the config-compiled retrain
    * decision ([[graft.queries.Pipeline.cfgIvfRetrain]]).
    */
  private[queries] def upsertCells(s: SparkSession, dir: String): DataFrame =
    upsertArtifacts(s, dir)._1

  def ivfUpsertQ(s: SparkSession, dir: String): DataFrame = {
    val (cells, cents, probes) = upsertArtifacts(s, dir)
    graft.ext.IvfIndex.topKOverCells(t(s, dir, "embeddings"), cells, cents,
      EvalQueryBound, 5, probes)
  }

  /** Index-health monitor over the upserted index
    * ([[graft.ext.IvfIndex.cellStats]]): per-cell base/delta/total
    * populations — upserts never rebalance frozen-centroid cells, so
    * delta concentration is the retrain signal. Closes the maintenance
    * loop: build → upsert → monitor → retrain decision.
    */
  def ivfCellStatsQ(s: SparkSession, dir: String): DataFrame = {
    val (cells, _, _) = upsertArtifacts(s, dir)
    val cutoff = 4L * t(s, dir, "embeddings").count() / 5
    graft.ext.IvfIndex.cellStats(cells, col("vec_id") >= cutoff)
  }

  /** The retrain DECISION the policy section compiles to: the
    * one-row verdict (`retrain_when: max_delta_pct/max_cell_ratio`)
    * over the upserted index's cell stats — measure → decide is now
    * one query; [[graft.ext.IvfIndex.maintainIndex]] is the act step
    * (spec-gated: atomic versioned swap on breach).
    */
  private[queries] val RetrainPolicyFixture =
    graft.ext.IvfIndex.RetrainPolicy(maxDeltaPct = 30, maxCellRatio = 8)

  def ivfRetrainStatsQ(s: SparkSession, dir: String): DataFrame = {
    val (cells, _, _) = upsertArtifacts(s, dir)
    val cutoff = 4L * t(s, dir, "embeddings").count() / 5
    graft.ext.IvfIndex.retrainSignal(
      graft.ext.IvfIndex.cellStats(cells, col("vec_id") >= cutoff),
      RetrainPolicyFixture)
  }

  /** Semantic clustering of the embedding corpus (16 locked-trained
    * cells): the curation primitive for topic balance / per-cluster
    * sampling. Oracle replays the training.
    */
  def docClusters(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.clusterAssignWithCentroids(
      t(s, dir, "embeddings"), trainedCents(s, dir))

  /** Top-3 kNN graph over the whole corpus, candidates bounded by the
    * locked-trained IVF cells — graph-based semantic dedup / diversity
    * curation primitive. Oracle replays training + cell-bounded top-k.
    */
  def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.knnGraph(t(s, dir, "embeddings"), 3, trainedCents(s, dir))

  /** Cosine threshold for [[semanticDedupQ]] — shared with its oracle
    * constructor so retuning cannot drift the two sides.
    */
  private val SemDedupTau = 0.4

  /** SRP output dimensionality (64 → 16: 4× cheaper distances). */
  private val SrpDim = 16

  /** Leakage-safe train/val/test split: the whole semantic cluster —
    * not the document — is the unit of assignment, so near-duplicate
    * neighborhoods can never straddle the train/eval boundary (the
    * subtle leak a doc-level hash split permits: a paraphrase of a
    * test document lands in train and the eval is contaminated).
    * Split = the suite's staged-LCG bucket of cluster_id (8/1/1);
    * every member inherits its cluster's split. Map-only on top of the
    * assignment; the structural guarantee (one split per cluster) is
    * spec-asserted.
    */
  def splitLeakageSafeQ(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.ext.SimSearch.clusterAssignWithCentroids(
      t(s, dir, "embeddings"), trainedCents(s, dir))
    val h = ((col("cluster_id") % lit(2147483648L)) * lit(1103515245L)
      + lit(12345L)) % lit(2147483648L)
    val bucket = h % 10
    cells.select(col("vec_id"), col("cluster_id"),
      when(bucket < 8, "train").when(bucket === 8, "val")
        .otherwise("test").as("split"))
  }

  /** The landed SRP index — the reduction is an index BUILD; serving
    * reads the landed table. Landed in ARRAY format (vec_id,
    * __r): the serving top-k consumes whole vectors, and landing the
    * long format instead forced every serving query to rebuild arrays
    * through a corpus-sized groupBy+collect_list exchange — measured
    * as `sim_topk_srp`'s scaling term in the r10 sf1 audit (×3.7 for
    * 10× data on an otherwise map-only+broadcast plan). The long
    * OUTPUT contract of `srp_reduce` is one map-side posexplode away.
    */
  private def landedSrp(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "srp_arr", dir) {
      graft.ext.RandomProjection.reduceToArrays(t(s, dir, "embeddings"), EmbDim, SrpDim)
    }

  /** Signed-random-projection reduced corpus, long format — the
    * integer-exact 4×-compressed embedding index
    * ([[graft.ext.RandomProjection]]).
    */
  def srpReduceQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.RandomProjection.explodeReduced(landedSrp(s, dir))

  /** Brute cosine top-1 in SRP-reduced space over the landed index —
    * the cheap first-pass ANN over the compressed corpus.
    */
  def simTopKSrp(s: SparkSession, dir: String): DataFrame =
    graft.ext.RandomProjection.topKFromArrays(landedSrp(s, dir), 100)

  /** SemDeDup-style semantic dedup survivors: cluster-scoped cosine
    * dominance over the landed locked centroids — the embedding-space
    * dedup pass that catches paraphrases lexical MinHash can't.
    * Oracle replays training, assignment, and the min-id rule.
    */
  def semanticDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.semanticDedup(t(s, dir, "embeddings"), SemDedupTau,
      trainedCents(s, dir))

  /** Quality-weighted SemDeDup: the kept representative of each
    * near-duplicate neighborhood is the best-labeled one (ties →
    * smallest id) — the keep-the-best curation policy, with `label`
    * standing in for the quality score.
    */
  def semanticDedupBestQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.semanticDedupBest(t(s, dir, "embeddings"),
      SemDedupTau, trainedCents(s, dir), "label")

  /** MinHash-LSH near-duplicate pairs over documents at Jaccard ≥ 0.5:
    * banded candidate generation + exact verification
    * ([[graft.ext.NearDup]]). The oracle computes exact all-pairs
    * Jaccard (oracle-side brute force is fine at gate scale); the two
    * agree exactly whenever banding catches every pair above the
    * threshold. Geometry derives from the threshold via
    * `NearDup.bandingFor(0.5)` → k=22, b=11: capture probability
    * 1-(1-J²)^11 ≥ 95% at J = 0.5 by construction and > 1-1e-13 at
    * J ≥ 0.96, where every fixture pair above the threshold sits
    * (nothing lies in [0.2, 0.96]), so the gate is deterministic here.
    * A corpus with mass just above the threshold keeps the derived
    * ≥95% recall and acknowledges the probabilistic tail — or pins a
    * higher-recall geometry explicitly.
    */
  def dedupNear(s: SparkSession, dir: String): DataFrame =
    graft.ext.NearDup.nearDuplicatePairs(t(s, dir, "documents"), "doc_id", "text", 0.5)

  /** Exact-complete n-gram Jaccard pairs at θ = 0.6 via prefix
    * filtering ([[graft.ext.SetSimJoin]]) — unlike `dedup_near`'s
    * MinHash-LSH path, completeness here is a theorem, not a recall
    * target: the oracle is brute-force all-pairs Jaccard and agreement
    * is deterministic for ANY corpus.
    */
  def jaccardPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.SetSimJoin.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 0.6)

  /** Eval-set decontamination: documents sharing ≥ 3 distinct
    * 3-shingles with a held-out pseudo-benchmark (doc_id % 97 = 0).
    * Corpus never shuffles — eval shingles broadcast, only the matched
    * hits exchange ([[graft.ext.NearDup.contamination]]).
    */
  def decontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    graft.ext.NearDup.contamination(
      docs.filter($"doc_id" % 97 =!= 0), docs.filter($"doc_id" % 97 === 0),
      "doc_id", "text", shingleLen = 3, minShared = 3)
  }

  /** Connected near-dup components labeled by min doc id — the
    * keep-one-survivor-per-cluster form; oracle via recursive
    * transitive closure over the same exact-Jaccard pair graph.
    */
  /** The corpus near-dup CLUSTER MAP, landed — the LSH + propagation
    * pass is the dominant dedup cost and its output (doc_id →
    * cluster_id) is exactly what both the cluster query and the
    * survivor anti-join consume. Oracles unchanged: the landed map is
    * the same deterministic function of the corpus.
    */
  private def landedClusters(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "clusters", dir) {
      graft.ext.NearDup
        .nearDuplicateClusters(t(s, dir, "documents"), "doc_id", "text", 0.5)
    }

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    landedClusters(s, dir)

  /** The cleaned corpus: every document except non-survivor cluster
    * members (cluster minimum survives) — the actual output a dedup
    * stage hands to training. Anti-join against the (sparse) loser
    * set, so the corpus streams through one broadcast-able filter.
    */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.NearDup
      .dedupSurvivors(t(s, dir, "documents"), "doc_id", "text", 0.5,
        precomputedClusters = Some(landedClusters(s, dir)))
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  /** Adaptive per-stratum quality gate: keep the top 40% of documents
    * PER LANGUAGE by score (n_chars as the deterministic proxy) —
    * rank-based, so the cut adapts to each stratum's distribution
    * instead of a global absolute threshold starving low-resource
    * languages. One shuffle on the stratum + an in-partition sort;
    * percent_rank is O(1) window state.
    */
  def qualityTopFrac(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"n_chars".desc, $"doc_id".asc)
    t(s, dir, "documents")
      .withColumn("q_rank", round(percent_rank().over(w), 6))
      .filter($"q_rank" <= 0.4)
      .select($"doc_id", $"lang", $"n_chars", $"q_rank")
  }

  /** The COMPOSED corpus pipeline — what a training-data run actually
    * ships: near-dup dedup (one cluster pass, reused via
    * `precomputedClusters`), the quality gate, then the stratified
    * language mix. Every stage is the same library operator the
    * standalone queries register; the oracle chains the same SQL
    * truths, so composition itself is hash-checked end-to-end.
    */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // The landed per-dir cluster map — same deterministic function of
    // the corpus the oracle replays; recomputing the LSH + propagation
    // pass here was the query's dominant cost (~2.5 s of 3.7 at sf0.1).
    val survivors = graft.ext.NearDup.dedupSurvivors(
      docs, "doc_id", "text", 0.5,
      precomputedClusters = Some(landedClusters(s, dir)))
    val gated = CurationCompiler.qualityGate(CurationConfig())(survivors)
      .drop("__ntok", "__nstop", "__barrier")
    graft.ext.TextAnalysis.stratifiedSample(gated, "doc_id", "lang", MixRates)
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  /** Documents passing the training-data quality gate: token count and
    * stopword-ratio thresholds over the same heuristics text_quality
    * scores — the filter stage that consumes those scores.
    */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CurationCompiler.qualityGate(CurationConfig(), nTok = "n_tokens", nStop = "n_stop")(
        t(s, dir, "documents"))
      .select($"doc_id", $"n_tokens")
  }

  /** DSIR target predicate: the SAME quality gate [[qualityFilter]]
    * applies — gate-passing documents define the target distribution,
    * so the importance weights measure "how much does this document's
    * bigram usage look like the quality-gated sub-corpus". A deployment
    * with a separate trusted corpus unions it in with a membership
    * flag; the operator only sees a boolean column either way.
    */
  private def dsirTarget: org.apache.spark.sql.Column =
    CurationCompiler.qualityPredicate(CurationConfig())

  /** CCNet-style LM quality terciles: the quality gate defines the
    * reference corpus (the same [[dsirTarget]] predicate — reference
    * and quality can never diverge), bigram bit-length cross-entropy
    * scores every document, and each language is cut into
    * head/middle/tail — [[graft.ext.LmBuckets]].
    */
  def ccnetBucketsQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.LmBuckets.buckets(t(s, dir, "documents"),
      "doc_id", "text", "lang", dsirTarget)

  /** Per-document DSIR importance weights against the quality-gate
    * target distribution (hashed-bigram feature masses, exact-integer
    * ratio — see [[graft.ext.Dsir]]).
    */
  def dsirWeightsQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dsir.weights(t(s, dir, "documents"), "doc_id", "text", dsirTarget)

  /** DSIR importance-resampled corpus: P(keep) ≈ min(1, ratio/4) via
    * the deterministic integer-bucket gate.
    */
  def dsirSampleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.Dsir.sample(t(s, dir, "documents"), "doc_id", "text", dsirTarget)
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  /** End-to-end training-data manifest — the library's corpus operators
    * composed the way a pretraining pipeline actually runs them:
    * quality gate → exact-dedup survivors → temperature-flattened
    * language mix → 32/8 context-window chunking → 2048-token shard
    * assignment. One registered query, one oracle, every stage exact.
    * The chain is [[CurationCompiler.compile]] at the default
    * [[CurationConfig]]; `cfg_curation` reaches
    * the same plan from YAML (its scale shape is documented there).
    */
  def trainingManifest(s: SparkSession, dir: String): DataFrame =
    CurationCompiler.compile(CurationConfig())(t(s, dir, "documents"))

  /** C4-style duplicated-span statistics (8-token blocks) —
    * [[graft.ext.TextAnalysis.spanDedupStats]].
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.spanDedupStats(t(s, dir, "documents"), "doc_id", "text", 8)

  /** Window length for the exact duplicated-substring family. Lee et
    * al. use 50 BPE tokens on web-scale corpora; the fixture's
    * duplicated regions are whole near-dup documents, so 8 words keeps
    * the operator discriminating at every fixture scale while the
    * length stays a pure parameter of the plan.
    */
  private val SubstrWindow = 8

  /** Maximal duplicated-substring spans (the curation audit table) —
    * [[graft.ext.SubstrDedup.spans]].
    */
  def substrSpansQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.SubstrDedup.spans(t(s, dir, "documents"), "doc_id", "text", SubstrWindow)

  /** Corpus after exact duplicated-substring removal (suffix-array
    * dedup semantics, Lee et al. 2022) — [[graft.ext.SubstrDedup.dedup]].
    */
  def substrDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.SubstrDedup.dedup(t(s, dir, "documents"), "doc_id", "text", SubstrWindow)

  /** Gopher/MassiveText quality-rule battery (map-only, integer-exact
    * thresholds) — [[graft.ext.GopherRules.battery]]; the repetition
    * half of the published rule set is `rep_ratio`.
    */
  def gopherRulesQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.GopherRules.battery(t(s, dir, "documents"), "doc_id", "text")

  /** Deterministic newline-bearing lane for the LINE-shaped Gopher
    * rules: the fixture text carries no newlines, so the token stream
    * is re-segmented into 7-word lines, every (doc_id + line) % 5 == 0
    * line bullet-prefixed (EVERY line for doc_id % 13 == 0, putting
    * those docs over the 90% bullet threshold) and every % 7 == 0
    * line ellipsis-suffixed —
    * a pure function of the fixture, replayed identically by the
    * oracle's lined CTE, giving the published bullet/ellipsis rules
    * real line structure to count and rows on BOTH sides of BOTH
    * thresholds (spec-asserted).
    */
  private val LinedDeriveSql =
    """array_join(transform(
      |  sequence(0, (size(split(trim(coalesce(text, '')), '\\s+')) - 1) div 7),
      |  i -> concat(
      |    case when doc_id % 13 = 0 or (doc_id + i) % 5 = 0
      |      then '- ' else '' end,
      |    array_join(slice(split(trim(coalesce(text, '')), '\\s+'),
      |      cast(i * 7 + 1 as int), 7), ' '),
      |    case when (doc_id + i) % 7 = 0 then ' ...' else '' end)),
      |'\n')""".stripMargin

  private[graft] def linedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), expr(LinedDeriveSql).as("text"))

  /** The line-half of the Gopher battery over the derived
    * newline-bearing lane — [[graft.ext.GopherRules.lineRules]].
    */
  def gopherRulesLinesQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.GopherRules.lineRules(linedDocs(s, dir), "doc_id", "text")

  /** Deterministic newline-bearing lane for the C4 battery: 7-word
    * lines, every (doc_id + i) % 3 == 0 line period-terminated and
    * every % 5 == 1 line bang-terminated (terminal-punct rule rows on
    * both sides), every % 9 == 0 line 'javascript'-prefixed, and three
    * page-flag lines appended by doc_id residue (lorem ipsum % 11,
    * curly brace % 17, blocklist token % 19) — a pure function of the
    * fixture, replayed identically by the oracle's c4lined CTE so every
    * published rule has rows on BOTH sides at fixture scale
    * (spec-asserted).
    */
  private val C4LinedDeriveSql =
    """concat(
      |  array_join(transform(
      |    sequence(0, (size(split(trim(coalesce(text, '')), '\\s+')) - 1) div 7),
      |    i -> concat(
      |      case when (doc_id + i) % 9 = 0 then 'javascript ' else '' end,
      |      array_join(slice(split(trim(coalesce(text, '')), '\\s+'),
      |        cast(i * 7 + 1 as int), 7), ' '),
      |      case when (doc_id + i) % 3 = 0 then '.'
      |           when (doc_id + i) % 5 = 1 then ' !' else '' end)),
      |  '\n'),
      |  case when doc_id % 11 = 0
      |    then '\nthis page has lorem ipsum filler' else '' end,
      |  case when doc_id % 17 = 0
      |    then '\ncode sample with { brace' else '' end,
      |  case when doc_id % 19 = 0
      |    then '\nflagged c4blockedterm appears here' else '' end)""".stripMargin

  private[graft] def c4LinedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), expr(C4LinedDeriveSql).as("text"))

  /** Blocklist for the C4 page-word rule — the list content is
    * deployment config (the paper's list is not shippable); the fixture
    * lane injects this token on doc_id % 19 == 0.
    */
  private[graft] val C4Blocklist = Seq("c4blockedterm")

  /** C4 cleaning-rule battery (Raffel et al. 2020) over the derived
    * line lane — [[graft.ext.C4Rules.battery]].
    */
  def c4RulesQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.C4Rules.battery(c4LinedDocs(s, dir), "doc_id", "text", C4Blocklist)

  private[queries] val LinedCteSql =
    """lined AS (
      |  SELECT doc_id, array_to_string(list_transform(
      |      range(0, (len(ws) - 1) // 7 + 1),
      |      i -> concat(
      |        CASE WHEN doc_id % 13 = 0 OR (doc_id + i) % 5 = 0
      |          THEN '- ' ELSE '' END,
      |        array_to_string(list_slice(ws, i * 7 + 1, i * 7 + 7), ' '),
      |        CASE WHEN (doc_id + i) % 7 = 0 THEN ' ...' ELSE '' END)),
      |    chr(10)) AS t2
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(coalesce(text, '')), '\s+') AS ws
      |        FROM documents))""".stripMargin

  /** Deterministic newline-and-paragraph lane for the full repetition
    * battery: 7-word lines grouped into 3-line paragraphs joined by
    * blank lines; every (doc_id + i) % 6 == 0 line replaced by a fixed
    * boilerplate line (line-dup rows on both sides) and every
    * (doc_id + p) % 2 == 0 paragraph replaced by a fixed 15-word
    * 3-line boilerplate paragraph (paragraph dups + duplicated
    * 5-..10-gram runs). Pure function of the fixture, replayed by the
    * oracle's replane CTE.
    */
  private val RepLinedDeriveSql =
    """array_join(transform(
      |  sequence(0, (size(split(trim(coalesce(text, '')), '\\s+')) - 1) div 21),
      |  p -> case when (doc_id + p) % 2 = 0
      |    then 'alpha boiler plate one two\nbeta casing four five six\ngamma filler seven eight nine'
      |    else array_join(transform(
      |      sequence(p * 3, least(p * 3 + 2,
      |        (size(split(trim(coalesce(text, '')), '\\s+')) - 1) div 7)),
      |      i -> case when (doc_id + i) % 6 = 0
      |        then 'repeated boilerplate line for this battery'
      |        else array_join(slice(split(trim(coalesce(text, '')), '\\s+'),
      |          cast(i * 7 + 1 as int), 7), ' ') end),
      |      '\n') end),
      |  '\n\n')""".stripMargin

  private[graft] def repLinedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), expr(RepLinedDeriveSql).as("text"))

  private[queries] val RepLinedCteSql =
    """replane AS (
      |  SELECT doc_id, array_to_string(list_transform(
      |    range(0, (len(ws) - 1) // 21 + 1),
      |    p -> CASE WHEN (doc_id + p) % 2 = 0
      |      THEN 'alpha boiler plate one two' || chr(10) ||
      |           'beta casing four five six' || chr(10) ||
      |           'gamma filler seven eight nine'
      |      ELSE array_to_string(list_transform(
      |        range(p * 3, least(p * 3 + 2, (len(ws) - 1) // 7) + 1),
      |        i -> CASE WHEN (doc_id + i) % 6 = 0
      |          THEN 'repeated boilerplate line for this battery'
      |          ELSE array_to_string(list_slice(ws, i * 7 + 1, i * 7 + 7), ' ')
      |          END),
      |        chr(10)) END),
      |    chr(10) || chr(10)) AS t2
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(coalesce(text, '')), '\s+') AS ws
      |        FROM documents))""".stripMargin

  /** The complete Rae et al. table-A1 repetition battery over the
    * derived line/paragraph lane — [[graft.ext.GopherRepetition]].
    */
  def gopherRepetitionQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.GopherRepetition.battery(repLinedDocs(s, dir), "doc_id", "text")

  /** Deterministic charset-damage lane for the script profile: the
    * fixture text is clean ASCII, so encoding damage is injected by
    * doc_id residue — U+FFFD on % 23, a C0 control (U+0001) on % 29,
    * and a digit run doubling the text on % 31 (drops the Latin
    * majority) — replayed identically by the oracle's charlane CTE.
    */
  private[graft] def charLanedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), concat(
      coalesce(col("text"), lit("")),
      when(col("doc_id") % 23 === 0, lit("\uFFFD")).otherwise(lit("")),
      when(col("doc_id") % 29 === 0, lit("\u0001")).otherwise(lit("")),
      when(col("doc_id") % 31 === 0,
        concat(lit(" "), expr("repeat('9', cast(length(coalesce(text, '')) as int))")))
        .otherwise(lit(""))).as("text"))

  // NB: embedded into the battery's stripMargin'd template — no line
  // may START with '|' (a leading '||' would lose a pipe to the outer
  // stripMargin), so the concats trail their lines.
  private[queries] val CharLanedCteSql =
    """charlane AS (
      |  SELECT doc_id, coalesce(text, '') ||
      |    CASE WHEN doc_id % 23 = 0 THEN chr(65533) ELSE '' END ||
      |    CASE WHEN doc_id % 29 = 0 THEN chr(1) ELSE '' END ||
      |    CASE WHEN doc_id % 31 = 0
      |         THEN ' ' || repeat('9', length(coalesce(text, ''))) ELSE '' END
      |    AS t2
      |  FROM documents)""".stripMargin

  /** Charset/script sanity profile over the damage lane —
    * [[graft.ext.ScriptProfile]].
    */
  def scriptProfileQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.ScriptProfile.battery(charLanedDocs(s, dir), "doc_id", "text")

  /** Deterministic markup-injection lane for the HTML strip: the
    * fixture text is markup-free, so tags/blocks/entities are injected
    * by doc_id residue — a wrapped paragraph on % 7, a script block
    * (with `<` inside its code) on % 11, a CASE-VARIANT style block on
    * % 13, the six entities plus the double-encoded `&amp;lt;` on
    * % 17, and unclosed tags on % 19 — replayed identically by the
    * oracle's CASE chain. Residues overlap, so combined shapes occur.
    */
  private[graft] def htmlLanedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), concat(
      when(col("doc_id") % 11 === 0,
        lit("<script type=\"text/js\">var x=1; if(a<b){go()}</script> "))
        .otherwise(lit("")),
      when(col("doc_id") % 19 === 0, lit("<div><b>")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("<p class=\"a\">")).otherwise(lit("")),
      coalesce(col("text"), lit("")),
      when(col("doc_id") % 7 === 0, lit("</p>")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit(" <STYLE media=\"all\">p{color:red}</STYLE>")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit(" a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end &amp;lt;"))
        .otherwise(lit(""))).as("text"))

  private[queries] val HtmlLaneTextSql =
    """CASE WHEN doc_id % 11 = 0
      |     THEN '<script type="text/js">var x=1; if(a<b){go()}</script> '
      |     ELSE '' END ||
      |CASE WHEN doc_id % 19 = 0 THEN '<div><b>' ELSE '' END ||
      |CASE WHEN doc_id % 7 = 0 THEN '<p class="a">' ELSE '' END ||
      |coalesce(text, '') ||
      |CASE WHEN doc_id % 7 = 0 THEN '</p>' ELSE '' END ||
      |CASE WHEN doc_id % 13 = 0
      |     THEN ' <STYLE media="all">p{color:red}</STYLE>' ELSE '' END ||
      |CASE WHEN doc_id % 17 = 0
      |     THEN ' a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end &amp;lt;'
      |     ELSE '' END""".stripMargin

  /** HTML/boilerplate extraction over the markup lane —
    * [[graft.ext.HtmlStrip]].
    */
  def htmlStripQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.HtmlStrip.strip(htmlLanedDocs(s, dir), "doc_id", "text")

  private[queries] val C4LinedCteSql =
    """c4lined AS (
      |  SELECT doc_id, concat(
      |    array_to_string(list_transform(
      |      range(0, (len(ws) - 1) // 7 + 1),
      |      i -> concat(
      |        CASE WHEN (doc_id + i) % 9 = 0 THEN 'javascript ' ELSE '' END,
      |        array_to_string(list_slice(ws, i * 7 + 1, i * 7 + 7), ' '),
      |        CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
      |             WHEN (doc_id + i) % 5 = 1 THEN ' !' ELSE '' END)),
      |      chr(10)),
      |    CASE WHEN doc_id % 11 = 0
      |      THEN chr(10) || 'this page has lorem ipsum filler' ELSE '' END,
      |    CASE WHEN doc_id % 17 = 0
      |      THEN chr(10) || 'code sample with { brace' ELSE '' END,
      |    CASE WHEN doc_id % 19 = 0
      |      THEN chr(10) || 'flagged c4blockedterm appears here' ELSE '' END)
      |    AS t2
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(coalesce(text, '')), '\s+') AS ws
      |        FROM documents))""".stripMargin

  /** PaLM-style substring contamination rate: per corpus document, the
    * fraction of sliding windows also present in the held-out eval set
    * (same doc_id % 97 split as [[decontam]]) with the integer-exact
    * 70% flag — [[graft.ext.SubstrDedup.contaminationRate]].
    */
  def decontamSubstrQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    graft.ext.SubstrDedup.contaminationRate(
      docs.filter($"doc_id" % 97 =!= 0), docs.filter($"doc_id" % 97 === 0),
      "doc_id", "text", SubstrWindow)
  }

  /** Token-budget training shards (2048 tokens, two-level prefix sum —
    * [[graft.ext.SeqPack]]); bucket width 64 exercises the multi-bucket
    * path at fixture scale.
    */
  def tokenShardsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.SeqPack.tokenShards(
      t(s, dir, "documents").select($"doc_id",
        size(split(trim($"text"), "\\s+")).as("n_tokens")),
      "doc_id", "n_tokens", budget = 2048, bucketWidth = 64)
  }

  /** Per-source corpus profile — the audit a pipeline runs before
    * choosing mixture weights: volume, token mass, length, language
    * spread per source. One two-phase hash aggregate.
    */
  def sourceProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(trim($"text"), "\\s+")).cast("long")).as("n_tokens"),
        round(avg($"n_chars"), 4).as("avg_chars"),
        countDistinct($"lang").as("n_langs"))
  }

  /** Top-3 characteristic terms per document by (ratio-smoothed)
    * TF-IDF — [[graft.ext.TextAnalysis.tfidfTopTerms]].
    */
  def tfidfQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)

  /** BM25 retrieval ([[graft.ext.Bm25.topK]]): top-100 documents for a
    * fixed three-term query — distinct from tfidf_terms (per-doc
    * characteristic terms) in that it RANKS the corpus against a
    * query, the shape retrieval-driven curation needs.
    */
  private val Bm25Terms = Seq("hash", "join", "vector")

  def bm25Q(s: SparkSession, dir: String): DataFrame =
    graft.ext.Bm25.topK(t(s, dir, "documents"), "doc_id", "text", Bm25Terms, 100)

  /** Hybrid retrieval serving: RRF fusion
    * ([[graft.ext.HybridRank.rrfFuse]]) of the BM25 lexical top-100
    * and the dense cosine top-100 of query vector 0 (documents and
    * embeddings share the id space) — the standard RAG retrieval
    * shape: no score calibration, ranks only, c = 60. Top-20 fused.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = graft.ext.HybridRank.withRank(
        graft.ext.Bm25.topK(
          t(s, dir, "documents"), "doc_id", "text", Bm25Terms, 100),
        Seq(col("score").desc, col("doc_id").asc))
      .select(col("doc_id"), col("rank"))
    val den = graft.ext.SimSearch.bruteTopKNFiltered(
        t(s, dir, "embeddings"), 1, 100, lit(true))
      .select(col("cid").as("doc_id"), col("rank"))
    graft.ext.HybridRank.rrfFuse(Seq("lex" -> lex, "vec" -> den), "doc_id", 20)
  }

  /** Vocabulary construction (dictionary encoding / tokenizer vocab):
    * distinct tokens above a support floor, assigned stable dense ids
    * by (count desc, token). The no-partition ranking window is
    * DELIBERATE and safe here: it runs over the already-aggregated
    * vocab — output-sized (thousands of rows), orders of magnitude
    * smaller than the corpus the exchange reduced; the corpus-sized
    * stages (tokenize → explode → count) are all partial-aggregated.
    */
  def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
    tf.select(col("term"), col("n"),
      row_number().over(Window.orderBy(col("n").desc, col("term").asc))
        .cast("long").as("token_id"))
  }

  /** Multimodal plumbing: opaque binary payload column + typed metadata
    * (byte length, content hash). The payload here derives from text
    * (no image libs in container — SURVEY scope note); the schema and
    * partition behavior match a real image/audio column.
    */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("payload"), $"source")
      .select(
        $"doc_id",
        length($"payload").cast("long").as("n_bytes"),
        md5($"payload").as("content_hash"),
        $"source".as("modality_source"))
  }

  /** Language-ID heuristic scores (the fixture's lang labels are
    * synthetic — text carries no language signal — so the graded
    * contract is the deterministic scoring itself).
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.langId(t(s, dir, "documents"), "text", "doc_id")

  /** BPE-pretokenizer-style token counts (letter/digit/punct runs). */
  def tokBpe(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.bpeTokenStats(t(s, dir, "documents"), "text", "doc_id")

  /** 60-bit SimHash fingerprint per document. */
  def simhashQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.simhash(t(s, dir, "documents"), "text", "doc_id")

  /** SimHash near-dup candidates within hamming 3 (block-banded). */
  def simhashPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.simhashPairs(t(s, dir, "documents"), "text", "doc_id")

  /** Order-sensitive rolling (Rabin-Karp) fingerprint. */
  def rollingFp(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.rollingFingerprint(t(s, dir, "documents"), "text", "doc_id")

  /** Deterministic 20% sample of documents by id-hash bucket. */
  def docSample(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.deterministicSample(t(s, dir, "documents"), "doc_id", 20)

  /** Columns of the documents table, pinned for full-row oracles. */
  private val DocCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Temperature-flattened language mix (kept mass ∝ √n_lang). */
  def temperatureMixQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.temperatureMix(t(s, dir, "documents"), "doc_id", "lang")

  /** Exact-64-doc reproducible sample (bottom-k of the id hash). */
  def bottomKSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.bottomKSample(t(s, dir, "documents"), "doc_id", 64)

  /** 32-token context windows with 8-token overlap over documents. */
  def docChunksQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.docChunks(t(s, dir, "documents"), "doc_id", "text", 32, 8)

  /** Bigram-LM corpus-fit score per document. */
  def bigramFitQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.bigramFit(t(s, dir, "documents"), "doc_id", "text")

  /** Canonical text normalization (codegen'd NFC + casefold +
    * whitespace collapse) with the post-normalization content hash —
    * the normalize-before-fingerprint dedup stage. The oracle composes
    * DuckDB's nfc_normalize/lower/regexp_replace; on the ASCII fixture
    * both engines' lowercase agree exactly (locale-sensitive non-ASCII
    * casing is pinned by NormalizeTextSpec instead).
    */
  def textNormQ(s: SparkSession, dir: String): DataFrame = {
    val norm = graft.functions.NormalizeText.col(col("text"))
    t(s, dir, "documents").select(col("doc_id"),
      norm.as("norm_text"), md5(norm.cast("binary")).as("norm_hash"))
  }

  /** The embedding near-dup pair list, landed and shared by the pair
    * query and the triplet miner. CELL-SCOPED candidates (the SemDeDup
    * plan, corpus-derived K) since r11: the
    * fixture-geometry LSH landing went quadratic at the sf10 probe —
    * 16 buckets/band held 12.5k vectors each and the bucket self-join
    * spilled ~10¹⁰ candidates to disk (both riders failed in
    * `BENCH_r11_sf10`). The path is versioned (`_cells`) so a stale
    * LSH-era artifact can never serve the new contract.
    */
  private def landedEmbPairs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "embpairs_cells", dir) {
      graft.ext.SimSearch.nearDupPairsCells(t(s, dir, "embeddings"), 0.4,
          trainedCents(s, dir))
    }

  /** Embedding-cosine near-dup pairs (cell-scoped candidates under the
    * locked-trained centroids, exact cosine ≥ 0.4).
    */
  def embNearDup(s: SparkSession, dir: String): DataFrame =
    landedEmbPairs(s, dir)

  /** Contrastive triplet mining over the embedding near-dup pairs —
    * (anchor, positive, deterministic negative) training rows for
    * embedding/retrieval models.
    */
  def contrastiveTripletsQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.SimSearch.contrastiveTripletsFromPairs(landedEmbPairs(s, dir))

  /** Stratified training-data mix over documents: per-language
    * deterministic sample rates (en 50%, de 20%, fr 10%, es 5%,
    * unlisted 0).
    */
  val MixRates: Map[String, Int] = Map("en" -> 50, "de" -> 20, "fr" -> 10, "es" -> 5)

  /** DuckDB's NATIVE asof join — an independent implementation of the
    * semantics, shared by the plain and chunked Spark encodings.
    */
  private val AsofOracleSql: String =
    """WITH p AS (SELECT user_id AS p_user, ts AS purchase_ts,
        |             max(value) AS purchase_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.event_type,
        |       p.purchase_ts, p.purchase_value
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.p_user AND e.ts >= p.purchase_ts""".stripMargin

  def stratifiedSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.stratifiedSample(
      t(s, dir, "documents"), "doc_id", "lang", MixRates)

  /** Backward as-of join: each event picks up the latest purchase (by
    * the same user, at or before the event time). The right side is
    * pre-aggregated to one row per (user, ts) — the as-of uniqueness
    * contract — and the oracle is DuckDB's native ASOF LEFT JOIN, so
    * the window-based Spark encoding is differentially checked against
    * an independent as-of implementation.
    */
  def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max}
    val events = t(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .agg(max(col("value")).as("purchase_value"))
    graft.ext.AsofJoin.asofBackward(
      events.select("event_id", "user_id", "ts", "event_type"),
      "user_id", "ts",
      purchases, "p_user", "purchase_ts",
      Seq("purchase_ts", "purchase_value"))
  }

  /** The same as-of join through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsofExec]]: LogicalPlan + Strategy + SparkPlan with
    * declared distribution/ordering requirements, one-pass sorted
    * merge) — third independent implementation of the semantics, gated
    * by the same native-ASOF oracle.
    */
  def asofJoinExecQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max}
    val events = t(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .agg(max(col("value")).as("purchase_value"))
    graft.plans.AsofExec.asofBackward(
      events.select("event_id", "user_id", "ts", "event_type"),
      "user_id", "ts",
      purchases, "p_user", "purchase_ts",
      Seq("purchase_ts", "purchase_value"))
  }

  /** Skew-safe chunked as-of (same semantics, salted by 6-hour
    * timeline chunks — the events fixture spans ~30 days, so the
    * stitching crosses ~120 chunk boundaries); checked against the
    * same native-ASOF oracle.
    */
  def asofJoinChunkedQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max}
    val events = t(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .agg(max(col("value")).as("purchase_value"))
    graft.ext.AsofJoin.asofBackwardChunked(
      events.select("event_id", "user_id", "ts", "event_type"),
      "user_id", "ts",
      purchases, "p_user", "purchase_ts",
      Seq("purchase_ts", "purchase_value"), chunk = "6 hours")
  }

  /** Bucketized point-in-range join: lineitem prices against
    * overlapping 7500-wide price bands (each price can fall in 1-2
    * bands), aggregated per band. Bucket width 5000 ≈ the band length
    * scale, so each band explodes to ≤ 3 bucket rows.
    */
  def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, round, sum}
    val bands = s.range(21).select(
      col("id").as("band_id"),
      (col("id") * 5000.0).as("lo"),
      (col("id") * 5000.0 + 7500.0).as("hi"))
    graft.ext.RangeJoin.pointInRange(
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "l_extendedprice", bands, "lo", "hi", bucketWidth = 5000.0)
      .groupBy("band_id")
      .agg(count("*").as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("total_price"))
  }

  /** Corpus-level vocabulary heavy hitters: top-50 tokens by frequency
    * with a total-order tiebreak — the vocabulary/stopword audit step
    * of a training-data pipeline. Scale shape: the exploded token
    * stream feeds Spark's two-phase hash aggregate (map-side partial
    * counts mean the exchange carries one row per (partition, distinct
    * token), not one per token occurrence), and the top-k is a
    * TakeOrderedAndProject — per-partition heaps, never a global sort
    * of the vocabulary.
    */
  def tokenTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(explode(qToks).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token".asc)
      .limit(50)
  }

  /** Zipf frequency-of-frequency spectrum: how many distinct tokens
    * occur f times, log₂-bucketed (bucket = bit-length of f — the
    * suite's integer log₂, no float log near power-of-two boundaries).
    * The classic corpus-health diagnostic: a natural-language corpus
    * shows the long hapax-heavy Zipf tail; boilerplate-polluted or
    * template-generated corpora bulge in the mid buckets. Two exact
    * partial-aggregated exchanges (token counts → spectrum); all
    * integers.
    */
  def freqSpectrum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(explode(qToks).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token").agg(count(lit(1)).as("f"))
      .groupBy(length(bin($"f")).as("f_bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        sum($"f").as("total_occurrences"),
        min($"f").as("min_f"), max($"f").as("max_f"))
  }

  /** Heaps'-law vocabulary growth: new distinct tokens per corpus
    * decile (documents bucketed by id decile; a token counts where its
    * FIRST document falls), with the running cumulative vocabulary.
    * Sub-linear growth is the natural-language signature; a linear
    * curve means unbounded novel-token churn (ids, hashes, boilerplate
    * noise) and a flat one means template text — the companion
    * diagnostic to [[freqSpectrum]]. Exact integers end to end: one
    * token-level min-aggregate, a broadcast 1-row max, and the
    * cumulative window runs over the 10-row output frame.
    */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val firstDoc = t(s, dir, "documents")
      .select($"doc_id", explode(qToks).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token").agg(min($"doc_id").as("first_doc"))
    val maxId = t(s, dir, "documents").agg(max($"doc_id").as("max_id"))
    val perBucket = firstDoc.crossJoin(broadcast(maxId))
      .groupBy(expr("first_doc * 10 div (max_id + 1)").cast("int").as("decile"))
      .agg(count(lit(1)).as("new_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucket.select($"decile", $"new_tokens",
      sum($"new_tokens").over(w).as("vocab_size"))
  }

  /** Per-source dataset card — the one-glance corpus report a
    * training-data pipeline publishes next to every snapshot: doc and
    * char volumes, language spread, length extremes, and the
    * exact-duplicate rate (docs minus distinct content hashes — the
    * md5 content-hash dedup measure, per source). One
    * partial-aggregated exchange keyed on source; the distinct-hash
    * count is the only second pass.
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val base = d.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_chars").as("total_chars"),
      min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"),
      countDistinct($"lang").as("n_langs"))
    val dups = d.select($"source", md5($"text".cast("binary")).as("h"))
      .groupBy($"source").agg(countDistinct($"h").as("n_unique"))
    base.join(dups, "source")
      .select($"source", $"n_docs", $"total_chars", $"min_chars",
        $"max_chars", $"n_langs",
        ($"n_docs" - $"n_unique").as("n_exact_dups"),
        round(($"n_docs" - $"n_unique") * lit(1.0) / $"n_docs", 6)
          .as("dup_rate"))
  }

  /** Heavy hitters (tokens covering ≥ 1% of the corpus) via the
    * two-pass sketch-then-verify pattern: a Misra-Gries sketch
    * ([[graft.functions.MisraGriesAgg]], k=299) finds candidates with
    * bounded state — the exchange carries ≤ k counters per partition,
    * never the vocabulary — then an exact recount restricted to the
    * broadcast candidate set verifies. Deterministic despite the
    * sketch's merge-order-dependent borderline survivors: the MG
    * guarantee (error ≤ N/(k+1) = N/300) means every token with
    * true count ≥ N/100 is ALWAYS a candidate, and the exact
    * ≥-threshold filter discards merge-order noise below it. At 100 TB
    * this is the only viable shape when the vocabulary itself is too
    * big to aggregate exactly — the full groupBy runs only over the
    * candidate-filtered stream.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokStream = t(s, dir, "documents")
      .select(explode(qToks).as("token"))
      .filter(length($"token") > 0)
    val sk = tokStream.agg(
      graft.functions.MisraGriesAgg.misraGries($"token", 299).as("sketch"),
      count(lit(1)).as("n_total"))
    val cands = sk.select($"n_total", explode($"sketch").as("c"))
      .select($"c.item".as("token"), $"n_total")
    tokStream.join(broadcast(cands), "token")
      .groupBy($"token", $"n_total")
      .agg(count(lit(1)).as("n"))
      .filter($"n" >= ceil($"n_total" / 100.0))
      .select($"token", $"n")
  }

  private def payloadDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload"))
  }

  /** Multimodal batch decode (stub codec) over binary payloads. */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.decodeFeatures(payloadDocs(s, dir), "doc_id", "payload").toDF()

  /** Multimodal resize stage (stub resample to 64 bytes). */
  def multimodalResize(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.resize(payloadDocs(s, dir), "doc_id", "payload", 64).toDF()

  /** Multimodal frame sampling (32-byte frames, up to 8 per doc). */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.sampleFrames(payloadDocs(s, dir), "doc_id", "payload", 32, 8).toDF()

  /** Real encoded-PNG payload per document: a deterministic RGB test
    * pattern whose dimensions are arithmetic in doc_id — so the
    * decode/resize oracles can predict the REAL codec's output without
    * DuckDB having an image decoder. Encode is map-only; the payload
    * never shuffles.
    */
  private def imageDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    ids.mapPartitions { it =>
      it.map { id =>
        val w = (id % 57 + 8).toInt
        val h = (id % 41 + 8).toInt
        (id, graft.ext.Multimodal.ImageCodec.encodePng(w, h, id))
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).toDF("doc_id", "payload")
  }

  /** Image table with PLANTED perceptual clones: every doc_id % 13 == 0
    * renders with its successor's generator id and is then re-encoded
    * through [[graft.ext.Multimodal.ImageCodec.annotatePng]] (a spliced
    * ancillary tEXt chunk), so (id, id+1) are genuinely BYTE-different
    * PNG streams of the SAME picture — exact byte-level dedup cannot
    * pair them; `image_neardup` must. Shared between the Spark lane and
    * the oracle via [[ImageCloneESql]] (the oracle replays pixels, which
    * the annotation provably does not touch).
    */
  private def phashDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    ids.mapPartitions { it =>
      it.map { id =>
        val e = if (id % 13 == 0) id + 1 else id
        val w = (e % 57 + 8).toInt
        val h = (e % 41 + 8).toInt
        val png = graft.ext.Multimodal.ImageCodec.encodePng(w, h, e)
        val payload =
          if (id % 13 == 0)
            graft.ext.Multimodal.ImageCodec.annotatePng(png, s"clone-of-$e")
          else png
        (id, payload)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).toDF("doc_id", "payload")
  }

  private val ImageCloneESql =
    "CASE WHEN doc_id % 13 = 0 THEN doc_id + 1 ELSE doc_id END"

  /** Perceptual average-hash of every image through the REAL codec
    * ([[graft.ext.ImageHash]]); the oracle replays the generator's
    * pixel arithmetic, so the gate proves decode + hash bit-for-bit.
    */
  def imagePhashQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.ImageHash.phash(phashDocs(s, dir), "doc_id", "payload")

  /** Image near-duplicates at Hamming ≤ 3 (band-complete by
    * pigeonhole): finds exactly the planted clone pairs plus any
    * coincidental near-hashes — byte-level dedup finds none of them.
    */
  def imageNearDupQ(s: SparkSession, dir: String): DataFrame =
    graft.ext.ImageHash.nearDup(
      graft.ext.ImageHash.phash(phashDocs(s, dir), "doc_id", "payload"), 3)

  /** REAL image decode (javax.imageio) over synthesized PNG payloads:
    * dimensions/format/bands come from the decoded bitstream; the
    * oracle predicts them arithmetically from doc_id.
    */
  def imageDecode(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.decodeImages(imageDocs(s, dir), "doc_id", "payload").toDF()

  /** REAL image resize: decode → bilinear half-scale → re-encode PNG →
    * re-decode; emitted dims come from the re-decoded output image.
    */
  def imageResize(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.resizeImages(imageDocs(s, dir), "doc_id", "payload", 2).toDF()

  /** REAL pixel-level feature extraction: decode every payload and sum
    * each channel over the raster. The oracle replays the generator's
    * pixel arithmetic ((x,y,seed) pattern) in SQL — so the gate proves
    * the codec recovered the EXACT bytes, not just the dimensions.
    */
  def imageFeatures(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.channelStats(imageDocs(s, dir), "doc_id", "payload").toDF()

  /** Real frame-indexed video container per document ([[graft.ext.Multimodal.VideoCodec]]):
    * doc_id % 5 + 1 PNG frames of doc_id-arithmetic dimensions, frame f
    * seeded doc_id + 131·f — so the oracle replays every frame's exact
    * pixels without a video decoder (same contract as [[imageDocs]]).
    */
  private def videoDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    ids.mapPartitions { it =>
      it.map { id =>
        val nf = (id % 5 + 1).toInt
        val w = (id % 21 + 6).toInt
        val h = (id % 17 + 6).toInt
        (id, graft.ext.Multimodal.VideoCodec.encodeVideo(nf, w, h, id))
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).toDF("doc_id", "payload")
  }

  /** REAL video frame extraction: parse the container, decode every
    * PNG frame bitstream, reduce each raster to exact per-channel
    * sums — the oracle pins frame CONTENT (pixel replay), not counts.
    */
  def videoFrames(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.videoFrameStats(videoDocs(s, dir), "doc_id", "payload").toDF()

  /** The video quarantine lane: every doc_id % 9 == 0 container is
    * truncated mid-frame-index before decode; the parser must refuse
    * exactly those (bad magic/truncation) and decode everything else.
    */
  def videoQuarantine(s: SparkSession, dir: String): DataFrame = {
    val corrupted = videoDocs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 9 === 0, substring(col("payload"), 1, 6))
        .otherwise(col("payload")).as("payload"))
    graft.ext.Multimodal.quarantineVideos(corrupted, "doc_id", "payload").toDF()
  }

  /** Windowed audio energy over the REAL decoded waveform: 64-sample
    * windows reduced to exact Σ sample² and peak — the silence-trim /
    * voice-activity primitive of an ASR data pipeline. The oracle
    * replays the per-window integer arithmetic from `range`.
    */
  def audioFeatures(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.audioWindows(audioDocs(s, dir), "doc_id", "payload", 64).toDF()

  /** Shot-boundary detection on the decoded video frames: consecutive-
    * frame L1 delta of the exact per-channel pixel sums, flagged
    * against a fixed threshold — the scene-segmentation primitive
    * (sample one frame per shot, not per fixed stride). One window
    * exchange on (doc, frame order); the per-frame sums come from the
    * REAL decode, so the oracle pins the whole chain pixel-first.
    */
  def videoShots(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    videoFrames(s, dir)
      .withColumn("delta",
        abs(col("sum_r") - lag(col("sum_r"), 1).over(w)) +
          abs(col("sum_g") - lag(col("sum_g"), 1).over(w)) +
          abs(col("sum_b") - lag(col("sum_b"), 1).over(w)))
      .select(col("doc_id"), col("frame_no"),
        coalesce(col("delta"), lit(-1L)).as("delta"),
        (col("frame_no") === 0 || col("delta") > 700).as("is_shot"))
  }

  /** The cross-modal capstone: one manifest row per document gating on
    * ALL FOUR modality lanes — text token budget, image decodability
    * (the %7-corrupted payloads must fail), mean audio energy over the
    * REAL decoded waveform (integer cross-multiply, no float in the
    * gate: total_sq > T · total_n), and a minimum decoded video frame
    * count. This is the multimodal training-set selection shape: each
    * lane is a map-only decode over its own payloads reduced to a
    * doc-keyed signal, then doc_id-keyed equi-joins (co-partitioned on
    * a real cluster — no lane ever shuffles payload bytes, only the
    * few-longs-per-doc signals). The oracle replays every lane
    * arithmetically and re-derives the same joins.
    */
  def multimodalManifest(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.ext.Multimodal
    val text = t(s, dir, "documents").select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val corrupted = imageDocs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, substring(col("payload"), 1, 10))
        .otherwise(col("payload")).as("payload"))
    val image = mm.decodeImages(corrupted, "doc_id", "payload").toDF()
      .select(col("doc_id"), lit(true).as("image_ok"))
    val audio = mm.audioWindows(audioDocs(s, dir), "doc_id", "payload", 64).toDF()
      .groupBy(col("doc_id"))
      .agg(sum(col("sum_sq")).as("total_sq"), sum(col("n_samples")).as("total_n"))
    val video = mm.videoFrameStats(videoDocs(s, dir), "doc_id", "payload").toDF()
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_frames"))
    val textOk = col("n_tok").between(40, 5000)
    // Every non-text lane LEFT-joins and coalesces its gate to false:
    // a payload the codec refuses (or a lane with no rows at all)
    // degrades to keep=false, never to row loss — the one-row-per-
    // document contract holds even if a lane starts quarantining.
    val audioOk = coalesce(
      col("total_sq") > lit(500000000L) * col("total_n"), lit(false))
    val videoOk = coalesce(col("n_frames") >= 3, lit(false))
    text
      .join(image, Seq("doc_id"), "left")
      .join(audio, Seq("doc_id"), "left")
      .join(video, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), textOk.as("text_ok"),
        coalesce(col("image_ok"), lit(false)).as("image_ok"),
        col("total_sq"), col("total_n"), audioOk.as("audio_ok"),
        col("n_frames"), videoOk.as("video_ok"),
        (textOk && coalesce(col("image_ok"), lit(false)) && audioOk && videoOk)
          .as("keep"))
  }

  /** Real encoded-WAV payload per document: deterministic PCM16 whose
    * length and samples are arithmetic in doc_id (same contract as
    * [[imageDocs]] for the audio modality).
    */
  private def audioDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    ids.mapPartitions { it =>
      it.map { id =>
        (id, graft.ext.Multimodal.AudioCodec
          .encodeWavPcm16((id % 500 + 100).toInt, id))
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).toDF("doc_id", "payload")
  }

  /** REAL audio decode (javax.sound.sampled) over synthesized WAVs:
    * frame count, rate, channel count, and the decoded waveform's
    * exact sample sum/peak; the oracle replays the sample arithmetic.
    */
  def audioDecode(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.decodeAudio(audioDocs(s, dir), "doc_id", "payload").toDF()

  /** The quarantine lane, end to end: every doc_id % 7 == 0 payload is
    * truncated to its first 10 bytes (a broken PNG header) before the
    * decode stage; the REAL codec must refuse exactly those and pass
    * everything else — so the oracle predicts the quarantine set by
    * arithmetic, and a codec that silently "decodes" garbage (or drops
    * a good payload) hash-mismatches.
    */
  def imageQuarantine(s: SparkSession, dir: String): DataFrame = {
    val corrupted = imageDocs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, substring(col("payload"), 1, 10))
        .otherwise(col("payload")).as("payload"))
    graft.ext.Multimodal.quarantineImages(corrupted, "doc_id", "payload").toDF()
  }

  /** Corpus-level duplicate-segment removal ([[graft.ext.LineDedup]]):
    * 3-word segments recurring ≥3 times anywhere in the corpus are
    * boilerplate and are struck from EVERY document; survivors
    * reassemble in original order, fully-boilerplate documents survive
    * with empty text (no silent row loss).
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame =
    graft.ext.LineDedup.dedupSegments(
      t(s, dir, "documents"), "doc_id", "text", segWords = 3, minCount = 3L)

  /** Content-defined chunking ([[graft.ext.CdcChunk]]): boundaries
    * where the 4-word rolling hash ≡ 0 (mod 8) — shift-resistant
    * chunks whose hashes survive upstream edits (unlike fixed-stride
    * `doc_chunks`).
    */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.ext.CdcChunk.chunks(t(s, dir, "documents"), "doc_id", "text",
      window = 4, modulus = 8)

  /** Systematic PPS sample ([[graft.ext.SeqPack.ppsSample]]): documents
    * selected where their n_chars interval on the corpus line covers a
    * multiple of 4096 — weight-proportional, zero randomness state,
    * prefix sum two-level (never a global sort).
    */
  def ppsSample(s: SparkSession, dir: String): DataFrame =
    graft.ext.SeqPack.ppsSample(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", step = 4096L, bucketWidth = 64L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_chunks" -> (cdcChunks _),
    "pps_sample" -> (ppsSample _),
    "line_dedup" -> (lineDedup _),
    "lang_id" -> (langId _),
    "tok_bpe" -> (tokBpe _),
    "simhash" -> (simhashQ _),
    "simhash_pairs" -> (simhashPairsQ _),
    "fingerprint_rolling" -> (rollingFp _),
    "doc_sample" -> (docSample _),
    "stratified_sample" -> (stratifiedSampleQ _),
    "asof_join" -> (asofJoinQ _),
    "asof_join_exec" -> (asofJoinExecQ _),
    "asof_join_chunked" -> (asofJoinChunkedQ _),
    "range_join" -> (rangeJoinQ _),
    "emb_neardup" -> (embNearDup _),
    "multimodal_decode" -> (multimodalDecode _),
    "multimodal_resize" -> (multimodalResize _),
    "multimodal_frames" -> (multimodalFrames _),
    "image_decode" -> (imageDecode _),
    "image_resize" -> (imageResize _),
    "image_quarantine" -> (imageQuarantine _),
    "image_phash" -> (imagePhashQ _),
    "image_neardup" -> (imageNearDupQ _),
    "dedup_exact" -> (dedupExact _),
    "dedup_exact_bloom" -> (dedupExactBloom _),
    "fingerprint" -> (fingerprint _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "shingle_stats" -> (shingleStats _),
    "sim_topk" -> (simTopK _),
    "sim_topk_lsh" -> (simTopKLsh _),
    "sim_topk_ivf" -> (simTopKIvf _),
    "sim_topk_ivf_trained" -> (simTopKIvfTrained _),
    "sim_topk_trained_sampled" -> (simTopKTrainedSampled _),
    "doc_clusters" -> (docClusters _),
    "knn_graph" -> (knnGraphQ _),
    "semantic_dedup" -> (semanticDedupQ _),
    "semantic_dedup_best" -> (semanticDedupBestQ _),
    "split_leakage_safe" -> (splitLeakageSafeQ _),
    "contrastive_triplets" -> (contrastiveTripletsQ _),
    "srp_reduce" -> (srpReduceQ _),
    "sim_topk_srp" -> (simTopKSrp _),
    "sim_topk5" -> (simTopK5 _),
    "mmr_rerank" -> (mmrRerankQ _),
    "mmr_rerank_filtered" -> (mmrRerankFilteredQ _),
    "hard_negatives" -> (hardNegativesQ _),
    "sim_topk_filtered" -> (simTopKFiltered _),
    "sim_topk_filtered_ivf" -> (simTopKFilteredIvf _),
    "ann_recall" -> (annRecallQ _),
    "ann_recall_filtered" -> (annRecallFilteredQ _),
    "ann_recall_curve" -> (annRecallCurveQ _),
    "ivf_upsert" -> (ivfUpsertQ _),
    "ivf_cell_stats" -> (ivfCellStatsQ _),
    "ivf_retrain_stats" -> (ivfRetrainStatsQ _),
    "dedup_near" -> (dedupNear _),
    "jaccard_pairs" -> (jaccardPairsQ _),
    "span_dedup" -> (spanDedup _),
    "substr_spans" -> (substrSpansQ _),
    "substr_dedup" -> (substrDedupQ _),
    "decontam_substr" -> (decontamSubstrQ _),
    "gopher_rules" -> (gopherRulesQ _),
    "gopher_rules_lines" -> (gopherRulesLinesQ _),
    "c4_rules" -> (c4RulesQ _),
    "gopher_repetition" -> (gopherRepetitionQ _),
    "script_profile" -> (scriptProfileQ _),
    "html_strip" -> (htmlStripQ _),
    "token_shards" -> (tokenShardsQ _),
    "source_profile" -> (sourceProfile _),
    "decontam" -> (decontam _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_survivors" -> (dedupSurvivors _),
    "quality_filter" -> (qualityFilter _),
    "quality_topfrac" -> (qualityTopFrac _),
    "dsir_weights" -> (dsirWeightsQ _),
    "dsir_sample" -> (dsirSampleQ _),
    "ccnet_buckets" -> (ccnetBucketsQ _),
    "token_topk" -> (tokenTopK _),
    "freq_spectrum" -> (freqSpectrum _),
    "vocab_growth" -> (vocabGrowth _),
    "dataset_card" -> (datasetCard _),
    "heavy_hitters" -> (heavyHitters _),
    "tfidf_terms" -> (tfidfQ _),
    "corpus_mix" -> (corpusMix _),
    "temperature_mix" -> (temperatureMixQ _),
    "bottomk_sample" -> (bottomKSampleQ _),
    "doc_chunks" -> (docChunksQ _),
    "bigram_fit" -> (bigramFitQ _),
    "text_norm" -> (textNormQ _),
    "training_manifest" -> (trainingManifest _),
    "multimodal_meta" -> (multimodalMeta _),
    "bm25_topk" -> (bm25Q _),
    "hybrid_rrf" -> (hybridRrf _),
    "image_features" -> (imageFeatures _),
    "audio_decode" -> (audioDecode _),
    "video_frames" -> (videoFrames _),
    "video_quarantine" -> (videoQuarantine _),
    "video_shots" -> (videoShots _),
    "audio_features" -> (audioFeatures _),
    "multimodal_manifest" -> (multimodalManifest _),
    "vocab_build" -> (vocabBuild _))

  /** Shared oracle building blocks for the near-dup family — the
    * shingle sets, the exact-Jaccard pair graph, and the component
    * closure appear once, so the three oracles can never diverge.
    */
  private val ShingleCtes =
    """tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |      FOR i IN range(1, len(ws) - 1)]) AS s
      |  FROM tok WHERE len(ws) >= 3)""".stripMargin
  private val PairsCte =
    """pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)""".stripMargin
  private val ClosureCtes =
    """e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |      UNION SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)""".stripMargin

  /** SQL twin of [[dsirTarget]], phrased over the `ws` token list the
    * [[graft.ext.Dsir]] oracle CTEs expose (same split, same stopword
    * list — the [[qualityFilter]] oracle's expressions verbatim).
    */
  private val DsirTargetSql =
    s"""len(ws) >= 10 AND len(ws) <= 5000
       |    AND CAST(len(list_filter(ws, x -> x IN (${QualityStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |      / len(ws) >= 0.01""".stripMargin

  val oracle: Map[String, String] = Map(
    "cdc_chunks" ->
      graft.ext.CdcChunk.oracleSql("documents", "doc_id", "text", 4, 8),
    "pps_sample" ->
      graft.ext.SeqPack.ppsOracleSql("documents", "doc_id", "n_chars",
        "n_chars", 4096L),
    "line_dedup" ->
      graft.ext.LineDedup.oracleSql("documents", "doc_id", "text", 3, 3L),
    "lang_id" -> graft.ext.TextAnalysis.langIdOracleSql("documents", "text", "doc_id"),
    "temperature_mix" ->
      graft.ext.TextAnalysis.temperatureOracleSql("documents", "doc_id", "lang", DocCols),
    "bottomk_sample" ->
      graft.ext.TextAnalysis.bottomKOracleSql("documents", "doc_id", 64, DocCols),
    "doc_chunks" ->
      graft.ext.TextAnalysis.chunksOracleSql("documents", "doc_id", "text", 32, 8),
    "bigram_fit" ->
      graft.ext.TextAnalysis.bigramFitOracleSql("documents", "doc_id", "text"),
    "dsir_weights" ->
      graft.ext.Dsir.weightsOracleSql("documents", "doc_id", "text", DsirTargetSql),
    "dsir_sample" ->
      graft.ext.Dsir.sampleOracleSql("documents", "doc_id", "text", DsirTargetSql,
        25, Seq("doc_id", "lang", "source", "n_chars")),
    "ccnet_buckets" ->
      graft.ext.LmBuckets.oracleSql("documents", "doc_id", "text", "lang",
        DsirTargetSql),
    // The whitespace class mirrors NormalizeText.normalize exactly:
    // Java \s (incl. \x0b) plus NBSP/figure/narrow spaces.
    "text_norm" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)),
        |    '[\t\n\x{000b}\f\r \x{00a0}\x{2007}\x{202f}]+', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(lower(nfc_normalize(text)),
        |    '[\t\n\x{000b}\f\r \x{00a0}\x{2007}\x{202f}]+', ' ', 'g'))) AS norm_hash
        |FROM documents""".stripMargin,
    "span_dedup" ->
      graft.ext.TextAnalysis.spanDedupOracleSql("documents", "doc_id", "text", 8),
    "substr_spans" ->
      graft.ext.SubstrDedup.spansOracleSql("documents", "doc_id", "text", SubstrWindow),
    "substr_dedup" ->
      graft.ext.SubstrDedup.dedupOracleSql("documents", "doc_id", "text", SubstrWindow),
    "decontam_substr" ->
      graft.ext.SubstrDedup.contaminationRateOracleSql("documents", "doc_id",
        "text", SubstrWindow, "id % 97 <> 0", "id % 97 = 0"),
    "gopher_rules" ->
      graft.ext.GopherRules.oracleSql("documents", "doc_id", "text"),
    "gopher_rules_lines" ->
      graft.ext.GopherRules.lineRulesOracleSql(LinedCteSql, "doc_id"),
    "c4_rules" ->
      graft.ext.C4Rules.oracleSql(C4LinedCteSql, "doc_id", C4Blocklist),
    "gopher_repetition" ->
      graft.ext.GopherRepetition.oracleSql(RepLinedCteSql, "doc_id"),
    "script_profile" ->
      graft.ext.ScriptProfile.oracleSql(CharLanedCteSql, "doc_id"),
    "html_strip" ->
      graft.ext.HtmlStrip.oracleSql("documents", "doc_id", HtmlLaneTextSql),
    "tfidf_terms" ->
      graft.ext.TextAnalysis.tfidfOracleSql("documents", "doc_id", "text", 3),
    // The oracle is the single global window — the semantics the
    // two-level prefix sum must reproduce exactly.
    "token_shards" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |    // 2048 AS BIGINT) AS shard_id
        |FROM q""".stripMargin,
    "source_profile" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        | round(avg(n_chars), 4) AS avg_chars,
        | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source""".stripMargin,
    "tok_bpe" -> graft.ext.TextAnalysis.bpeOracleSql("documents", "text", "doc_id"),
    "simhash" -> graft.ext.TextAnalysis.simhashOracleSql("documents", "text", "doc_id"),
    "simhash_pairs" -> graft.ext.TextAnalysis.simhashPairsOracleSql("documents", "text", "doc_id"),
    "fingerprint_rolling" -> graft.ext.TextAnalysis.rollingOracleSql("documents", "text", "doc_id"),
    "doc_sample" -> graft.ext.TextAnalysis.sampleOracleSql("documents", "doc_id", 20),
    "stratified_sample" ->
      graft.ext.TextAnalysis.stratifiedOracleSql("documents", "doc_id", "lang", MixRates),
    // DuckDB's NATIVE asof join — an independent implementation of the
    // semantics, not a replay of the window encoding.
    "asof_join" -> AsofOracleSql,
    "asof_join_exec" -> AsofOracleSql,
    "asof_join_chunked" -> AsofOracleSql,
    "range_join" ->
      """WITH bands AS (SELECT i AS band_id, i*5000.0 AS lo, i*5000.0+7500.0 AS hi
        |               FROM range(21) t(i)),
        |j AS (SELECT band_id, l_extendedprice
        |      FROM lineitem JOIN bands
        |        ON l_extendedprice >= lo AND l_extendedprice < hi)
        |SELECT band_id, CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_extendedprice), 2) AS total_price
        |FROM j GROUP BY band_id""".stripMargin,
    "emb_neardup" ->
      graft.ext.SimSearch.nearDupCellsOracleSql(0.4, LockedIters, EmbDim),
    "multimodal_decode" -> graft.ext.Multimodal.decodeOracleSql("documents", "text", "doc_id"),
    "multimodal_resize" -> graft.ext.Multimodal.resizeOracleSql("documents", "text", "doc_id", 64),
    "multimodal_frames" -> graft.ext.Multimodal.framesOracleSql("documents", "text", "doc_id", 32, 8),
    // The REAL codec's output, predicted arithmetically: imageDocs
    // encodes a (doc_id%57+8) x (doc_id%41+8) RGB PNG per document, so
    // the decoded format/width/height/channels are exact functions of
    // doc_id. DuckDB needs no image decoder to be the truth.
    "image_decode" ->
      """SELECT doc_id, 'png' AS format,
        | CAST(doc_id % 57 + 8 AS INT) AS width,
        | CAST(doc_id % 41 + 8 AS INT) AS height,
        | CAST(3 AS INT) AS channels
        |FROM documents""".stripMargin,
    "image_resize" ->
      """SELECT doc_id, 'png' AS format,
        | CAST(greatest(1, (doc_id % 57 + 8) // 2) AS INT) AS width,
        | CAST(greatest(1, (doc_id % 41 + 8) // 2) AS INT) AS height,
        | CAST(3 AS INT) AS channels
        |FROM documents""".stripMargin,
    "image_phash" -> graft.ext.ImageHash.phashOracleSql(ImageCloneESql),
    "image_neardup" -> graft.ext.ImageHash.nearDupOracleSql(ImageCloneESql, 3),
    // Quarantined = exactly the payloads the query truncated to 10
    // bytes before decode (doc_id % 7 == 0).
    "image_quarantine" ->
      """SELECT doc_id, CAST(10 AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,
    "dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_copies,
        | md5(text) AS text_hash
        |FROM documents GROUP BY md5(text)""".stripMargin,
    // Bloom routing only prunes the exchange — the RESULT is the same
    // digest groupBy, so the oracle is dedup_exact's verbatim.
    "dedup_exact_bloom" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_copies,
        | md5(text) AS text_hash
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id,
        | md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    // Exact truth for the sketch-then-verify pipeline: tokens at ≥ 1%
    // of the stream. The MG guarantee (error ≤ N/300 < N/100) makes
    // the sketch's candidate set provably complete at this threshold,
    // so the verified result equals the exact query deterministically.
    "heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |t2 AS (SELECT token FROM tk WHERE len(token) > 0),
        |tot AS (SELECT count(*) AS n_total FROM t2)
        |SELECT token, count(*) AS n
        |FROM t2, tot
        |GROUP BY token, n_total
        |HAVING count(*) >= ceil(n_total / 100.0)""".stripMargin,
    "token_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents)
        |WHERE len(token) > 0
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 50""".stripMargin,
    "freq_spectrum" ->
      """WITH tf AS (
        |  SELECT token, count(*) AS f
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |        FROM documents)
        |  WHERE len(token) > 0
        |  GROUP BY token)
        |SELECT CAST(len(bin(f)) AS INT) AS f_bucket,
        |  count(*) AS n_tokens,
        |  CAST(sum(f) AS BIGINT) AS total_occurrences,
        |  min(f) AS min_f, max(f) AS max_f
        |FROM tf GROUP BY 1""".stripMargin,
    "vocab_growth" ->
      """WITH fd AS (
        |  SELECT token, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(text), '\s+')) AS token
        |        FROM documents)
        |  WHERE len(token) > 0
        |  GROUP BY token),
        |mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |pb AS (
        |  SELECT CAST(first_doc * 10 // (max_id + 1) AS INT) AS decile,
        |    count(*) AS new_tokens
        |  FROM fd, mx GROUP BY 1)
        |SELECT decile, new_tokens,
        |  CAST(sum(new_tokens) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab_size
        |FROM pb""".stripMargin,
    "dataset_card" ->
      """WITH b AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |    count(DISTINCT lang) AS n_langs
        |  FROM documents GROUP BY 1),
        |u AS (
        |  SELECT source, count(DISTINCT md5(text)) AS n_unique
        |  FROM documents GROUP BY 1)
        |SELECT b.source, n_docs, total_chars, min_chars, max_chars, n_langs,
        |  n_docs - n_unique AS n_exact_dups,
        |  round((n_docs - n_unique) * 1.0 / n_docs, 6) AS dup_rate
        |FROM b JOIN u ON b.source = u.source""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, n_chars,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct_tokens
        |FROM documents""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        | round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |   x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |   / len(string_split_regex(trim(text), '\s+')), 4) AS stopword_ratio,
        | round(CAST(n_chars AS DOUBLE)
        |   / len(string_split_regex(trim(text), '\s+')), 4) AS chars_per_token,
        | round(CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |   / len(string_split_regex(trim(text), '\s+')), 4) AS type_token_ratio
        |FROM documents""".stripMargin,
    "shingle_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents)
        |SELECT doc_id,
        | CAST(len(ws) - 2 AS BIGINT) AS n_shingles,
        | CAST(len(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |   FOR i IN range(1, len(ws) - 1)])) AS BIGINT) AS n_distinct_shingles
        |FROM tok WHERE len(ws) >= 3""".stripMargin,
    "sim_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 100),
        |     c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings),
        |     p AS (SELECT qid, cid,
        |             round(list_cosine_similarity(qv, cv), 6) AS sim
        |           FROM q, c WHERE qid <> cid),
        |     r AS (SELECT qid, cid, sim,
        |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
        |           FROM p)
        |SELECT qid, cid, sim FROM r WHERE rn = 1""".stripMargin,
    "sim_topk_lsh" -> graft.ext.SimSearch.lshOracleSql(100, graft.ext.SimSearch.LshParams.fixture),
    "sim_topk_ivf" -> graft.ext.SimSearch.ivfOracleSql(100, graft.ext.SimSearch.IvfParams.fixture),
    "sim_topk_ivf_trained" -> graft.ext.SimSearch.ivfTrainedOracleSql(
      100, LockedIters, EmbDim),
    "sim_topk_trained_sampled" -> graft.ext.SimSearch.ivfTrainedSampledOracleSql(
      100, LockedIters, EmbDim, TrainSampleEvery),
    "doc_clusters" -> graft.ext.SimSearch.clusterAssignOracleSql(
      LockedIters, EmbDim),
    "knn_graph" -> graft.ext.SimSearch.knnGraphOracleSql(
      3, LockedIters, EmbDim),
    "semantic_dedup" -> graft.ext.SimSearch.semanticDedupOracleSql(
      SemDedupTau, LockedIters, EmbDim),
    "semantic_dedup_best" -> graft.ext.SimSearch.semanticDedupBestOracleSql(
      SemDedupTau, LockedIters, EmbDim, "label"),
    "split_leakage_safe" -> graft.ext.SimSearch.leakageSafeSplitOracleSql(
      LockedIters, EmbDim),
    "contrastive_triplets" ->
      graft.ext.SimSearch.contrastiveTripletsCellsOracleSql(
        0.4, LockedIters, EmbDim),
    "srp_reduce" -> graft.ext.RandomProjection.reduceOracleSql(EmbDim, SrpDim),
    "sim_topk_srp" -> graft.ext.RandomProjection.topKOracleSql(
      EmbDim, SrpDim, 100),
    "sim_topk5" -> graft.ext.SimSearch.bruteTopKNFilteredOracleSql(100, 5),
    "mmr_rerank" -> graft.ext.MmrRerank.oracleSql(32, 20, 5),
    "mmr_rerank_filtered" ->
      graft.ext.MmrRerank.oracleSql(32, 20, 5, Some("c.label = 1")),
    "hard_negatives" -> graft.ext.HardNegatives.oracleSql(64, 5),
    "sim_topk_filtered" ->
      graft.ext.SimSearch.bruteTopKNFilteredOracleSql(100, 5, "c.label = 1"),
    "sim_topk_filtered_ivf" ->
      graft.ext.SimSearch.ivfTrainedFilteredOracleSql(100, 5, LockedIters,
        EmbDim, "e.label = 1"),
    "ann_recall" -> graft.ext.AnnEval.recallOracleSql(
      EvalQueryBound, EvalK, LockedIters, EmbDim, "TRUE", "TRUE"),
    "ann_recall_filtered" -> graft.ext.AnnEval.recallOracleSql(
      EvalQueryBound, EvalK, LockedIters, EmbDim, "e.label = 1", "c.label = 1"),
    "ann_recall_curve" -> graft.ext.AnnEval.recallCurveOracleSql(
      EvalQueryBound, EvalK, EvalLevels, LockedIters, EmbDim),
    "ivf_upsert" -> graft.ext.IvfIndex.upsertOracleSql(
      EvalQueryBound, 5, LockedIters, EmbDim),
    "ivf_cell_stats" -> graft.ext.IvfIndex.cellStatsOracleSql(
      LockedIters, EmbDim),
    "ivf_retrain_stats" -> graft.ext.IvfIndex.retrainSignalOracleSql(
      LockedIters, EmbDim, RetrainPolicyFixture),
    "dedup_near" ->
      s"""WITH $ShingleCtes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5""".stripMargin,
    // Brute-force all-pairs truth: prefix filtering is lossless, so
    // equality holds deterministically (no banding-recall caveat).
    "jaccard_pairs" ->
      s"""WITH $ShingleCtes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.6""".stripMargin,
    "decontam" ->
      s"""WITH $ShingleCtes,
        |ev AS (SELECT doc_id AS eval_id, s AS es FROM sh WHERE doc_id % 97 = 0),
        |cp AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT c.doc_id, e.eval_id,
        |    CAST(len(list_intersect(c.s, e.es)) AS BIGINT) AS n_shared,
        |    len(e.es) AS n_eval
        |  FROM cp c CROSS JOIN ev e)
        |SELECT doc_id, eval_id, n_shared,
        |  round(n_shared::DOUBLE / n_eval, 6) AS frac
        |FROM hits WHERE n_shared >= 3""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $ShingleCtes,
        |$PairsCte,
        |$ClosureCtes
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin,
    "dedup_survivors" ->
      s"""WITH RECURSIVE $ShingleCtes,
        |$PairsCte,
        |$ClosureCtes,
        |losers AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src
        |  HAVING least(src, min(dst)) <> src)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,
    "quality_topfrac" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    round(percent_rank() OVER (
        |      PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC), 6) AS q_rank
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, q_rank FROM r WHERE q_rank <= 0.4""".stripMargin,
    // The composed pipeline chains the SAME SQL truths: closure losers
    // (dedup) -> token/stopword gate (quality) -> stratified hash mix.
    "corpus_mix" ->
      s"""WITH RECURSIVE $ShingleCtes,
        |$PairsCte,
        |$ClosureCtes,
        |losers AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src
        |  HAVING least(src, min(dst)) <> src),
        |gated AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |      x -> x IN (${QualityStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio
        |  FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM losers))
        |SELECT doc_id, lang, source, n_chars FROM gated
        |WHERE n_tok >= 10 AND n_tok <= 5000 AND stop_ratio >= 0.01
        |  AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |    < (CASE lang ${MixRates.toSeq.sortBy(_._1)
                  .map { case (k, p) => s"WHEN '$k' THEN $p" }.mkString(" ")} ELSE 0 END)""".stripMargin,
    "quality_filter" ->
      s"""WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |      x -> x IN (${QualityStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens FROM q
        |WHERE n_tokens >= 10 AND n_tokens <= 5000 AND stop_ratio >= 0.01""".stripMargin,
    "bm25_topk" -> graft.ext.Bm25.oracleSql(Bm25Terms, 100),
    "hybrid_rrf" -> graft.ext.HybridRank.rrfOracleSql(
      graft.ext.Bm25.oracleSql(Bm25Terms, 100),
      graft.ext.SimSearch.bruteTopKNFilteredOracleSql(1, 100, "true"), 20),
    "vocab_build" ->
      """WITH tf AS (
        |  SELECT term, count(*) AS n
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |        FROM documents)
        |  WHERE len(term) > 0 GROUP BY term HAVING count(*) >= 5)
        |SELECT term, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS token_id
        |FROM tf""".stripMargin,
    // Sample replay of AudioCodec.encodeWavPcm16's (i, seed) waveform.
    "audio_decode" ->
      """WITH a AS (
        |  SELECT doc_id, CAST(doc_id % 500 + 100 AS INT) AS n FROM documents),
        |e AS (SELECT doc_id, n, ui.i AS i FROM a, UNNEST(range(n)) AS ui(i)),
        |s AS (SELECT doc_id, n, (i*31 + doc_id*17) % 65536 - 32768 AS v FROM e)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(sum(v) AS BIGINT) AS sum_amp, CAST(max(abs(v)) AS INT) AS max_amp
        |FROM s GROUP BY doc_id, n""".stripMargin,
    // Pixel replay of every FRAME of the GVF1 container (frame f's PNG
    // is seeded doc_id + 131·f): proves the container parse AND each
    // frame's bitstream decode recovered exact pixels.
    "video_frames" ->
      """WITH v AS (
        |  SELECT doc_id, doc_id % 5 + 1 AS nf,
        |    CAST(doc_id % 21 + 6 AS INT) AS width,
        |    CAST(doc_id % 17 + 6 AS INT) AS height
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, width, height, uf.f AS frame_no,
        |    doc_id + 131 * uf.f AS seed
        |  FROM v, UNNEST(range(nf)) AS uf(f)),
        |e AS (
        |  SELECT doc_id, frame_no, width, height, seed, ux.x AS x, uy.y AS y
        |  FROM f, UNNEST(range(width)) AS ux(x), UNNEST(range(height)) AS uy(y))
        |SELECT doc_id, CAST(frame_no AS INT) AS frame_no, width, height,
        |  CAST(sum((x*31 + y*17 + seed) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((x*7 + y*13 + seed // 256) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((x*3 + y*29 + seed // 65536) % 256) AS BIGINT) AS sum_b
        |FROM e GROUP BY 1, 2, 3, 4""".stripMargin,
    // The parser must refuse exactly the mid-index-truncated containers.
    "video_quarantine" ->
      """SELECT doc_id, CAST(6 AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 9 = 0""".stripMargin,
    // Pixel-replayed frame sums -> lag delta -> threshold: the whole
    // shot-detection chain replayed without a decoder.
    "video_shots" ->
      """WITH v AS (
        |  SELECT doc_id, doc_id % 5 + 1 AS nf,
        |    CAST(doc_id % 21 + 6 AS INT) AS width,
        |    CAST(doc_id % 17 + 6 AS INT) AS height
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, width, height, uf.f AS frame_no,
        |    doc_id + 131 * uf.f AS seed
        |  FROM v, UNNEST(range(nf)) AS uf(f)),
        |e AS (
        |  SELECT doc_id, frame_no, seed, ux.x AS x, uy.y AS y
        |  FROM f, UNNEST(range(width)) AS ux(x), UNNEST(range(height)) AS uy(y)),
        |vf AS (
        |  SELECT doc_id, frame_no,
        |    CAST(sum((x*31 + y*17 + seed) % 256) AS BIGINT) AS sum_r,
        |    CAST(sum((x*7 + y*13 + seed // 256) % 256) AS BIGINT) AS sum_g,
        |    CAST(sum((x*3 + y*29 + seed // 65536) % 256) AS BIGINT) AS sum_b
        |  FROM e GROUP BY 1, 2),
        |d AS (
        |  SELECT doc_id, frame_no,
        |    abs(sum_r - lag(sum_r) OVER w) + abs(sum_g - lag(sum_g) OVER w)
        |      + abs(sum_b - lag(sum_b) OVER w) AS delta
        |  FROM vf WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no))
        |SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
        |  CAST(coalesce(delta, -1) AS BIGINT) AS delta,
        |  (frame_no = 0 OR delta > 700) AS is_shot
        |FROM d""".stripMargin,
    // Every modality lane replayed arithmetically, then the same
    // doc-keyed joins and the integer-exact keep gate.
    "multimodal_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |a AS (SELECT doc_id, CAST(doc_id % 500 + 100 AS BIGINT) AS total_n
        |  FROM documents),
        |e AS (SELECT a.doc_id, a.total_n, ui.i AS i
        |  FROM a, UNNEST(range(a.total_n)) AS ui(i)),
        |ae AS (
        |  SELECT doc_id, any_value(total_n) AS total_n,
        |    CAST(sum(((i*31 + doc_id*17) % 65536 - 32768)
        |           * ((i*31 + doc_id*17) % 65536 - 32768)) AS BIGINT) AS total_sq
        |  FROM e GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tok,
        |  (t.n_tok BETWEEN 40 AND 5000) AS text_ok,
        |  (t.doc_id % 7 <> 0) AS image_ok,
        |  ae.total_sq, ae.total_n,
        |  (ae.total_sq > 500000000 * ae.total_n) AS audio_ok,
        |  CAST(t.doc_id % 5 + 1 AS INT) AS n_frames,
        |  (t.doc_id % 5 + 1 >= 3) AS video_ok,
        |  (t.n_tok BETWEEN 40 AND 5000 AND t.doc_id % 7 <> 0
        |    AND ae.total_sq > 500000000 * ae.total_n
        |    AND t.doc_id % 5 + 1 >= 3) AS keep
        |FROM t JOIN ae USING (doc_id)""".stripMargin,
    // Per-window integer energy replay of the decoded waveform.
    "audio_features" ->
      """WITH a AS (
        |  SELECT doc_id, CAST(doc_id % 500 + 100 AS INT) AS n FROM documents),
        |e AS (SELECT doc_id, ui.i AS i FROM a, UNNEST(range(n)) AS ui(i)),
        |s AS (
        |  SELECT doc_id, CAST(i // 64 AS INT) AS win_no,
        |    (i*31 + doc_id*17) % 65536 - 32768 AS v
        |  FROM e)
        |SELECT doc_id, win_no, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(v)) AS INT) AS max_abs
        |FROM s GROUP BY 1, 2""".stripMargin,
    // Pixel replay of ImageCodec.encodePng's (x, y, seed) pattern:
    // proves the decode recovered exact bytes, not just dimensions.
    "image_features" ->
      """WITH px AS (
        |  SELECT doc_id, CAST(doc_id % 57 + 8 AS INT) AS width,
        |    CAST(doc_id % 41 + 8 AS INT) AS height
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, width, height, ux.x AS x, uy.y AS y
        |  FROM px, UNNEST(range(width)) AS ux(x), UNNEST(range(height)) AS uy(y))
        |SELECT doc_id, width, height,
        |  CAST(sum((x*31 + y*17 + doc_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((x*7 + y*13 + doc_id // 256) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((x*3 + y*29 + doc_id // 65536) % 256) AS BIGINT) AS sum_b
        |FROM e GROUP BY 1, 2, 3""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_hash,
        | source AS modality_source
        |FROM documents""".stripMargin,
    // The full pipeline composition, each stage spelled out: gate →
    // dedup → sqrt-mass mix → chunk → global-window shard truth (the
    // single-window formulation the two-level prefix sum must equal).
    "training_manifest" ->
      s"""WITH toks AS (SELECT doc_id, lang, text,
        |    string_split_regex(trim(text), '\\s+') AS ws FROM documents),
        |q AS (SELECT doc_id, lang, text, ws,
        |    CAST(len(ws) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(ws,
        |      x -> x IN (${QualityStopwords.map(w => s"'$w'").mkString(",")})))
        |      AS DOUBLE) / len(ws) AS stop_ratio
        |  FROM toks),
        |g AS (SELECT doc_id, lang, text, ws FROM q
        |  WHERE n_tok >= 10 AND n_tok <= 5000 AND stop_ratio >= 0.01),
        |k AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
        |sv AS (SELECT g.* FROM g JOIN k USING (doc_id)),
        |c AS (SELECT lang AS kl, count(*) AS n FROM sv GROUP BY 1),
        |m AS (SELECT sv.* FROM sv JOIN c ON sv.lang = c.kl
        |  WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)
        |      * (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)
        |      * c.n < 10000 * (SELECT min(n) FROM c)),
        |n AS (SELECT doc_id, ws, len(ws) AS n FROM m),
        |gg AS (SELECT doc_id, ws, n,
        |    CASE WHEN n <= 32 THEN 1
        |      ELSE CAST(floor((n - 32 + 23) * 1.0 / 24) AS BIGINT) + 1 END AS nch
        |  FROM n),
        |e AS (SELECT doc_id, ws, n, unnest(range(nch)) AS chunk_id FROM gg),
        |ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    CAST(least(32, n - chunk_id * 24) AS BIGINT) AS n_chunk_tokens,
        |    md5(array_to_string(list_slice(ws, chunk_id * 24 + 1,
        |      chunk_id * 24 + least(32, n - chunk_id * 24)), ' ')) AS chunk_hash,
        |    doc_id * 1048576 + chunk_id AS key
        |  FROM e),
        |sh AS (SELECT key,
        |    CAST(floor((sum(n_chunk_tokens) OVER (ORDER BY key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_chunk_tokens) / 2048.0) AS BIGINT) AS shard_id
        |  FROM ch)
        |SELECT doc_id, chunk_id, n_chunk_tokens, chunk_hash, shard_id
        |FROM ch JOIN sh USING (key)""".stripMargin)
}
