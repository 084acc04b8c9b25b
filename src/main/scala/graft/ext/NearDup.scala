package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** MinHash-LSH near-duplicate detection (north star; SURVEY §2.6 A4).
  *
  * Pipeline: word n-gram shingle sets → one xxhash64 pass to fixed-width
  * shingle hashes → k minhashes via integer hash-family permutations
  * (h·Aᵢ+Bᵢ, odd multipliers — the strings are hashed once, not k
  * times) → banded bucket keys → candidate pairs from a bucket
  * self-join — NEVER an all-pairs cross join — → exact Jaccard
  * verification of candidates over the hashed shingle sets.
  *
  * Scale design (100 TB):
  *  - shingle hashing + signatures are map-only native expressions (no
  *    UDFs, no shuffle); each shingle string is hashed exactly once and
  *    all k permutations are integer multiply-adds over the long array;
  *  - the only wide exchanges are (a) the bucket self-join, keyed on
  *    (band, 32-bit band key) — fixed-width keys, bucket sizes follow
  *    duplicate-cluster sizes, not corpus size; (b) the candidate-pair
  *    verify joins, keyed on doc_id, sized by candidate count;
  *  - raw text never shuffles: only doc ids and shingle-hash arrays
  *    (8 bytes per distinct shingle) move.
  *  - ANSI-safe on the hot path: the permutation family is arithmetic
  *    mod 2⁶⁴, computed by the codegen'd [[signatureNative]] whose Java
  *    long ops wrap natively under any session config (spec-tested with
  *    ANSI on); only the declarative reference [[signature]]/[[minhash]]
  *    needs a non-ANSI session.
  *
  * Banding theory: P(candidate) = 1-(1-J^r)^b for Jaccard J with b
  * bands of r rows. Geometry is DERIVED from the detection threshold
  * and a recall target by [[bandingFor]] (e.g. threshold 0.5, recall
  * 0.95, r=2 → b=11, k=22) unless the caller pins an explicit
  * (numHashes, numBands); the S-curve still filters sharply below the
  * threshold because r sets the low-J tail.
  *
  * Jaccard over hashed shingle sets equals Jaccard over the string sets
  * up to xxhash64 collisions (birthday bound ~1e-6 at billions of
  * distinct shingles) — the standard trade for never shuffling text.
  */
object NearDup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Distinct word n-gram shingle set. Callers must pre-filter rows
    * with fewer than `n` tokens (slice length would go negative).
    *
    * Built as a zip_with fold over n shifted slices of the token array
    * — NOT as a transform whose lambda indexes the token expression:
    * a lambda capturing an outer expression re-evaluates that whole
    * expression per element (the split runs once per token → O(len²)
    * per document; profiled 14× slower on long documents).
    */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(shingles(text, n))

  /** All word n-gram shingles in document order (with repeats). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val len = size(toks) - lit(n - 1)
    val shifted = (0 until n).map(j => slice(toks, lit(j + 1), len))
    shifted.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
  }

  /** Hash each shingle once: distinct 64-bit shingle ids. */
  def hashedShingles(text: Column, n: Int): Column =
    array_distinct(transform(shingleSet(text, n), x => xxhash64(x)))

  /** Permutation constants: odd multipliers (bijective mod 2^64) from
    * the golden-ratio mixing constant; deterministic for the oracle.
    */
  private def mixA(i: Int): Long = 0x9E3779B97F4A7C15L * (2L * i + 1)
  private def mixB(i: Int): Long = 0xC2B2AE3D27D4EB4FL * i

  /** Minhash i over the hashed-shingle array: min of the i-th
    * hash-family permutation. Integer multiply-add only — the costly
    * string hashing happened once in [[hashedShingles]].
    */
  def minhash(hs: Column, i: Int): Column =
    array_min(transform(hs, h => h * lit(mixA(i)) + lit(mixB(i))))

  /** k-minhash signature (reference implementation: k array
    * traversals; non-ANSI only — the hash family wraps mod 2⁶⁴).
    */
  def signature(hs: Column, numHashes: Int): Column =
    array((0 until numHashes).map(minhash(hs, _)): _*)

  /** One-pass codegen'd signature ([[graft.functions.MinhashSignature]]):
    * bit-identical to [[signature]] (spec-asserted), one shingle-array
    * traversal for all k permutations instead of k, and correct under
    * ANSI sessions (Java long arithmetic wraps natively). The hot path.
    */
  def signatureNative(hs: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.MinhashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(hs),
        (0 until numHashes).map(mixA), (0 until numHashes).map(mixB)))

  /** One 32-bit bucket key per band: murmur3 of the band's minhash
    * slice + the band index (so identical slices in different bands
    * never collide into one bucket).
    *
    * Band keys are built directly from per-band minhash expressions —
    * NOT by indexing into a signature() array column — so each minhash
    * is evaluated exactly once (Catalyst does not CSE repeated
    * getItems over an unmaterialized array expression).
    */
  def bandKeys(hs: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map(b =>
      hash((0 until rowsPerBand).map(r => minhash(hs, b * rowsPerBand + r)) :+ lit(b): _*)): _*)

  /** Propagation rounds are bounded by component diameter; a component
    * whose diameter exceeds this is not a near-dup cluster but an
    * adversarial chain — fail loudly instead of looping (or silently
    * returning unconverged labels).
    */
  val MaxPropagationRounds = 50

  /** Truncate the iterative lineage every this many rounds: persist
    * bounds recompute but the logical plan still deepens per round, so
    * long convergences pay growing analysis time without it.
    */
  private val CheckpointEvery = 5

  /** Near-duplicate CLUSTERS: connected components over the near-dup
    * pair graph, labeled by the component's minimum doc id — the form
    * production dedup consumes (keep one survivor per cluster, not per
    * pair; A~B and B~C must collapse to one document even when A~C was
    * never a candidate).
    *
    * Distributed min-label propagation over the edge list: each round
    * every node takes the minimum label among itself and its
    * neighbors; rounds repeat until a fixed point. Iterations are
    * bounded by the component diameter — near-dup clusters are tiny
    * (pairs/triples), so convergence is 2-3 rounds; each round is one
    * join + aggregate on the (sparse) pair list, never the corpus.
    */
  def nearDuplicateClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleLen: Int = DefaultShingleLen): DataFrame = {
    // Shingle once, cache, verify against the cache: without this the
    // candidate pipeline re-derives text→shingle→hash three times
    // (banding + both verify joins). Safe to release after the pairs
    // themselves are cached.
    val sh = shingleSets(docs, idCol, textCol, shingleLen).persist()
    // Symmetrize with one explode over the pair rows — NOT a two-branch
    // union, which would scan (or worse, recompute) the LSH
    // candidate+verify pipeline once per direction. The sparse edge
    // list is the single materialization and cuts the LSH lineage.
    val pair = nearDuplicatePairs(docs, idCol, textCol, threshold,
      shingleLen, precomputedShingles = Some(sh))
    val edges = pair.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val edgeCount = edges.count() // one job realizes the LSH pipeline into the edge cache
    sh.unpersist()
    if (edgeCount == 0) { // clean corpus: no graph, no rounds
      edges.unpersist()
      val s = docs.sparkSession
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            docs.schema(idCol).dataType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_id",
            docs.schema(idCol).dataType, nullable = false))))
    }
    val labels = connectedComponents(edges)
    edges.unpersist()
    log.info("near-dup label propagation complete")
    labels.select(col("node").as("doc_id"), col("cluster_id"))
  }

  /** Connected components of a SYMMETRIC (src, dst) edge list, labeled
    * by component-minimum node id — the propagation core shared by
    * near-dup clustering and the graph queries. Iterated neighbor-min
    * with POINTER JUMPING (l(u) ← l(l(u)) after each min step), so
    * rounds are O(log diameter) instead of O(diameter) — chain-shaped
    * components make diameter the wall-clock knob otherwise. Each
    * round is two node-keyed joins (one edge-sized, one label-sized);
    * convergence detection rides the round's one materializing action
    * via an exact-decimal label-sum observation (labels only ever
    * decrease). Returns (node, cluster_id); isolated nodes (absent
    * from the edge list) are not emitted — the caller left-joins if it
    * wants singleton components.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("cluster_id"))
      .persist()
    // Convergence detection rides the round's one materializing action:
    // labels only ever decrease, so the label sum (exact decimal — no
    // long overflow, no float fuzz) is strictly decreasing until the
    // fixed point. Observing it costs nothing extra; the previous shape
    // ran a separate filter+count job per round.
    // coalesce: sum over an empty frame is NULL, which would make the
    // equality test unsatisfiable and spin the loop into the guard.
    def labelSum(df: DataFrame, obs: Observation): DataFrame =
      df.observe(obs, coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("lsum"))
    var prevSum: java.math.BigDecimal = null
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      if (round > MaxPropagationRounds)
        throw new IllegalStateException(
          s"label propagation did not converge in $MaxPropagationRounds rounds: " +
            "component diameter is pathological for near-dup clustering")
      // Neighbor-min + POINTER JUMP per round. The min step alone
      // converges in O(diameter) rounds — fine for pair/triple
      // clusters, but chain-shaped dup families (doc → near-dup →
      // near-dup …, the structure the round-9 fixture regeneration
      // produced) make diameter the wall-clock knob. Compressing
      // l(u) ← l(l(u)) after each min step halves the remaining path
      // every round → O(log diameter) rounds for one extra join on the
      // NODE-sized label table (labels are member ids, so the lookup
      // is a self-join that never touches edges). Fixed point and
      // final labeling are unchanged: labels stay member ids, stay
      // monotonically non-increasing, and the component min still maps
      // to itself.
      val obs = new Observation(s"graft_cc_round_$round")
      val prev = labels
      val nm = edges.join(labels, edges("dst") === labels("node"))
        .select(col("src").as("node"), col("cluster_id"))
        .union(labels)
        .groupBy(col("node")).agg(min(col("cluster_id")).as("cluster_id"))
      val lookup = nm.select(col("node").as("__ln"), col("cluster_id").as("__lc"))
      val next = labelSum(
        nm.join(lookup, nm("cluster_id") === col("__ln"))
          .select(nm("node"), col("__lc").as("cluster_id")),
        obs).persist()
      next.count() // materializes the cache AND fires the observation
      val newSum = obs.get("lsum").asInstanceOf[java.math.BigDecimal]
      converged = prevSum != null && prevSum.compareTo(newSum) == 0
      prevSum = newSum
      prev.unpersist() // the exact handle that was persisted — not a projection
      labels =
        if (round % CheckpointEvery == 0) { // truncate lineage, drop the cache
          val cp = next.localCheckpoint(); next.unpersist(); cp
        } else next
    }
    log.info(s"label propagation converged in $round rounds")
    labels.select(col("node"), col("cluster_id"))
  }

  /** The cleaned corpus: every document except non-survivor cluster
    * members (cluster minimum survives) — an anti-join against the
    * sparse loser set, so the corpus streams through one
    * broadcast-able filter.
    *
    * Pass `precomputedClusters` (the output of
    * [[nearDuplicateClusters]]) when a pipeline materializes both the
    * cluster map and the cleaned corpus — one LSH + propagation pass
    * feeds both instead of re-running the dominant cost.
    */
  def dedupSurvivors(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleLen: Int = DefaultShingleLen,
      precomputedClusters: Option[DataFrame] = None): DataFrame = {
    val clusters = precomputedClusters.getOrElse(
      nearDuplicateClusters(docs, idCol, textCol, threshold, shingleLen))
    val losers = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Word n-grams per shingle; shared by the pair and cluster pipelines
    * so a precomputed shingle frame can never silently disagree with
    * the pair stage it feeds.
    */
  val DefaultShingleLen = 3

  /** MinHash banding geometry derived from the DETECTION THRESHOLD and
    * a recall target, instead of fixture-tuned constants: with b bands
    * of r rows, P(candidate | Jaccard=J) = 1-(1-J^r)^b, so
    * b = ceil( ln(1-recall) / ln(1-threshold^r) ) bands guarantee
    * ≥ `recall` capture at J = threshold (and sharply more above it).
    * r controls the filter side: higher r pushes the S-curve's low-J
    * tail down (fewer junk candidates) at the price of more bands.
    * r=2 and recall=0.95 at threshold 0.5 give b=11, k=22 — vs the old
    * fixed (k=16, b=8) whose 90% capture at the threshold was a
    * documented corpus-dependent gamble.
    */
  def bandingFor(threshold: Double, recall: Double = 0.95, rowsPerBand: Int = 2)
      : (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(recall > 0 && recall < 1, s"recall in (0,1), got $recall")
    require(rowsPerBand >= 1, "rowsPerBand must be >= 1")
    val b = math.ceil(
      math.log1p(-recall) / math.log1p(-math.pow(threshold, rowsPerBand))).toInt
    (b * rowsPerBand, b)
  }

  /** (doc_id, hs) hashed-shingle sets — the map-side input every LSH
    * stage consumes. Exposed so iterative consumers (clusters) can
    * persist it once instead of re-deriving it per downstream join.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    docs
      .filter(size(toks) >= shingleLen)
      .select(col(idCol).as("doc_id"), hashedShingles(col(textCol), shingleLen).as("hs"))
  }

  /** Eval-set decontamination: (corpus doc, eval doc) pairs sharing at
    * least `minShared` distinct word n-grams — the standard check that
    * training data does not contain benchmark text. Shingle hashing is
    * map-side on both inputs; the (small) eval side is broadcast, so
    * the corpus NEVER shuffles — the only exchange carries the matched
    * (doc, eval, shingle) hits into the overlap count, a volume
    * bounded by actual contamination, not corpus size. `frac` is the
    * shared fraction of the EVAL document's shingles (the side whose
    * leakage matters).
    *
    * Hashed-shingle equality stands in for string equality exactly as
    * in the Jaccard path above (xxhash64, collision-free at any
    * realistic shingle cardinality; the oracle intersects the string
    * sets directly).
    */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = DefaultShingleLen,
      minShared: Int = 1): DataFrame = {
    val c = shingleSets(corpus, idCol, textCol, shingleLen)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val e = shingleSets(evalSet, idCol, textCol, shingleLen)
      .select(col("doc_id").as("eval_id"), size(col("hs")).as("n_eval"),
        explode(col("hs")).as("h"))
    shingleOverlap(c, e, minShared)
      .select(col("doc_id"), col("eval_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_eval"), 6).as("frac"))
  }

  /** The shingle-overlap kernel behind every contamination test (the
    * batch [[contamination]] scan and the streaming tick's arrival gate
    * and revocation probe): join exploded `(…, h)` shingle rows of
    * `docs` against the broadcast `evals` on `h`, count the hits per
    * group, keep groups with `n_shared >= minShared`. The group is
    * every non-`h` column of both inputs, in input order. Each input
    * must hold one row per (key, distinct shingle) — exploded
    * [[shingleSets]] arrays are distinct — so count(*) IS the
    * distinct-shared-shingle count.
    */
  def shingleOverlap(docs: DataFrame, evals: DataFrame,
      minShared: Int): DataFrame = {
    val keys = (docs.columns ++ evals.columns).filter(_ != "h").map(col)
    docs.join(broadcast(evals), Seq("h"))
      .groupBy(keys.toIndexedSeq: _*)
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The LANDABLE near-dup index of a corpus: one (doc_id, bkey) row
    * per band bucket — the band id is folded into the 32-bit key by
    * [[bandKeys]], so `bkey` alone is the join key. Land this bucketed
    * on `bkey` ([[graft.sink.BucketedLayout]]) and every future
    * increment probes it WITHOUT the 100 TB base ever shuffling again
    * (the bucket layout satisfies the join's distribution off the
    * scan). Pair with the corpus shingle sets landed bucketed on
    * `doc_id` for the shuffle-free verify join.
    */
  def bandIndex(shingles: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rows = numHashes / numBands
    val withSig = shingles.select(col("doc_id"),
      signatureNative(col("hs"), numHashes).as("sig"))
    val keyCols = array((0 until numBands).map(b =>
      hash((0 until rows).map(r =>
        col("sig").getItem(b * rows + r)) :+ lit(b): _*)): _*)
    withSig.select(col("doc_id"), explode(keyCols).as("bkey"))
  }

  /** Incremental near-dup: (new doc, base doc) pairs with exact
    * Jaccard ≥ threshold, the increment probed against a PRECOMPUTED
    * base index — the shape a continuously-ingesting pipeline runs
    * (dedup today's crawl against the corpus without re-banding the
    * corpus). `baseKeys` is [[bandIndex]] output (doc_id, bkey);
    * `baseShingles` is [[shingleSets]] output; both are typically
    * landed bucketed tables, in which case the base side of BOTH joins
    * (candidate probe on bkey, verify on doc_id) comes off the scan
    * pre-partitioned and only increment-sized data ever shuffles.
    *
    * The increment must use the SAME banding geometry and shingle
    * length the index was built with — recall guarantees compose from
    * the S-curve exactly as in [[nearDuplicatePairs]].
    */
  def incrementalPairs(
      increment: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      baseKeys: DataFrame,
      baseShingles: DataFrame,
      shingleLen: Int = DefaultShingleLen,
      banding: Option[(Int, Int)] = None): DataFrame = {
    val (numHashes, numBands) = banding.getOrElse(bandingFor(threshold))
    val incSh = shingleSets(increment, idCol, textCol, shingleLen)
    val cand = bandIndex(incSh, numHashes, numBands)
      .withColumnRenamed("doc_id", "new_id")
      .join(baseKeys.withColumnRenamed("doc_id", "base_id"), "bkey")
      .select(col("new_id"), col("base_id")).distinct()
    val jac = size(array_intersect(col("hs_new"), col("hs_base"))).cast("double") /
      size(array_union(col("hs_new"), col("hs_base"))).cast("double")
    cand
      .join(incSh.select(col("doc_id").as("new_id"), col("hs").as("hs_new")), "new_id")
      .join(baseShingles.select(col("doc_id").as("base_id"), col("hs").as("hs_base")),
        "base_id")
      .filter(jac >= threshold)
      .select(col("new_id"), col("base_id"), round(jac, 6).as("jaccard"))
  }

  /** Near-duplicate pairs (id_a < id_b) with exact Jaccard ≥ threshold,
    * candidates generated by MinHash banding only.
    */
  def nearDuplicatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleLen: Int = DefaultShingleLen,
      banding: Option[(Int, Int)] = None, // (numHashes, numBands); default derives from threshold
      precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val (numHashes, numBands) = banding.getOrElse(bandingFor(threshold))
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rows = numHashes / numBands
    val sh = precomputedShingles.getOrElse(
      shingleSets(docs, idCol, textCol, shingleLen))

    // The explicit repartition on the bucket key makes the self-join's
    // two sides share ONE materialized exchange (AQE stage reuse), so
    // the shingle+minhash pipeline — the expensive map side — runs
    // once, not once per join branch. At corpus scale this halves the
    // dominant cost of candidate generation.
    //
    // The signature materializes in its own projection first: band
    // keys then index an attribute (computed once per row), not the
    // signature expression itself — Catalyst does not CSE repeated
    // getItems over an unmaterialized array expression, and k getItems
    // over the one-pass signature would otherwise run it k times.
    val withSig = sh.select(col("doc_id"),
      signatureNative(col("hs"), numHashes).as("sig"))
    val keyCols = array((0 until numBands).map(b =>
      hash((0 until rows).map(r =>
        col("sig").getItem(b * rows + r)) :+ lit(b): _*)): _*)
    val banded = withSig.select(col("doc_id"),
      posexplode(keyCols).as(Seq("band", "bkey")))
      .repartition(col("band"), col("bkey"))
    val cand = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()

    val jac = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
      size(array_union(col("hs_a"), col("hs_b"))).cast("double")
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
  }
}
