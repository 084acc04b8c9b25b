package graft.ext

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.{col => ndot}

/** Similarity search over embedding columns (north star; SURVEY §2.7).
  *
  * Two paths sharing one exact re-rank:
  *  - [[bruteTopK]]: exact cosine top-k — the baseline and the correct
  *    algorithm when the query side is small and exactness is required
  *    (cost |Q|×|C|, embarrassingly parallel over corpus partitions);
  *  - [[lshTopK]]: sign-random-projection (hyperplane) LSH — sparse
  *    ±1 planes (Achlioptas-style) hash each vector to b band keys of
  *    r bits; candidates = vectors sharing ≥1 band bucket with the
  *    query; exact cosine re-rank picks the best candidate. The planes
  *    are generated from a fixed seed, so the whole pipeline is
  *    deterministic and its DuckDB oracle ([[lshOracleSql]]) replicates
  *    the bucketing bit-for-bit — the CORRECTNESS gate checks the LSH
  *    semantics differentially, not just the re-rank.
  *
  * Scale design (100 TB): banding shuffles fixed-width (band, key)
  * pairs, never embeddings; the re-rank joins move only candidate-pair
  * vectors. On clustered real-world embeddings the candidate fraction
  * is the bucket occupancy of the query's cluster; on the adversarial
  * near-uniform test fixture pruning is limited (≈36% of the corpus
  * filtered at r=4, b=16 with 95% top-1 agreement vs brute force — see
  * SimSearchSpec) — that is the information-theoretic reality of ANN on
  * random vectors, not an implementation artifact. Index geometry is
  * never defaulted: entry points demand an [[LshParams]]/[[IvfParams]],
  * and [[LshParams.forCorpus]]/[[IvfParams.forCorpus]] derive
  * scale-safe values from a corpus-size hint (r=16-24 → 65k-16M
  * buckets per band at 10⁷-10⁹ vectors).
  */
object SimSearch {

  /** Hyperplane-LSH index geometry. The public entry points DEMAND one
    * — there is no silent fixture-tuned default — so the safe path is
    * the default: pass [[LshParams.forCorpus]] with a corpus-size hint
    * (any estimate within 2× is fine; it only moves the occupancy
    * target), or explicit values you have tuned.
    */
  final case class LshParams(
      seed: Long, numBands: Int, rowsPerBand: Int, nnz: Int, dim: Int) {
    require(numBands >= 1 && rowsPerBand >= 1 && rowsPerBand <= 30,
      s"bad LSH geometry: bands=$numBands rows=$rowsPerBand")
  }

  object LshParams {
    private def ceilLog2(x: Long): Int =
      if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)

    /** Scale-aware geometry: `rowsPerBand` targets an expected bucket
      * occupancy of ~64 vectors (2^r ≥ corpusSize/64, clamped to
      * [4, 24]), so bucket self-join cost stays ~O(N·occupancy) instead
      * of going quadratic when the corpus outgrows a fixed key space —
      * at 10⁹ vectors this derives r=24 (16.7M buckets/band). More
      * bands raise recall at linear cost; 16 is the standard
      * operating point for ≥90% top-1 agreement at this occupancy.
      */
    def forCorpus(corpusSize: Long, dim: Int, numBands: Int = 16,
        nnz: Int = 8, seed: Long = 7): LshParams = {
      require(corpusSize > 0, "corpusSize hint must be positive")
      val r = math.min(24, math.max(4, ceilLog2(corpusSize / 64)))
      LshParams(seed, numBands, r, nnz, dim)
    }

    /** The sf-fixture geometry (64-d, ~10³ vectors → 16 buckets/band).
      * For tests and the fixture-scale query registry only — real
      * deployments go through [[forCorpus]].
      */
    val fixture: LshParams = LshParams(seed = 7, numBands = 16,
      rowsPerBand = 4, nnz = 8, dim = 64)
  }

  /** IVF index geometry; same contract as [[LshParams]] — demanded at
    * the entry point, derived from a corpus hint by [[IvfParams.forCorpus]].
    */
  final case class IvfParams(numCentroids: Int, probes: Int) {
    require(numCentroids >= 1 && probes >= 1 && probes <= numCentroids,
      s"bad IVF geometry: centroids=$numCentroids probes=$probes")
  }

  object IvfParams {
    /** K ≈ √N (the standard IVF sizing: balances N/K assignment cost
      * against K-way probe fan-out), clamped to [16, 65536]; probes
      * scale as K/16 so recall holds as the cell count grows, with a
      * FLOOR of min(10, K): below K≈160 the K/16 fraction collapses to
      * 2–9 probes, and on near-uniform data (the fixture regime) a
      * small absolute probe count is not enough — an IVF probe sweep
      * (PLANS_r11.md, "What changed" #1) at the corpus-derived K=32
      * measured trained-centroid top-1 agreement 29/100 at 2 probes
      * vs 80/100 at the 10-probe floor (exactly the 80% recall bar; 83
      * at 12). The floor hands over to the
      * fractional rule at K ≥ 160.
      */
    def forCorpus(corpusSize: Long): IvfParams = {
      require(corpusSize > 0, "corpusSize hint must be positive")
      val k = math.min(1 << 16,
        math.max(16, math.ceil(math.sqrt(corpusSize.toDouble)).toInt))
      IvfParams(k, math.max(math.min(10, k), k / 16))
    }

    /** Training-sample target for the sampled locked trainer: the
      * largest corpus the FULL locked build was measured affordable on
      * (OUTLIERS_r14.md §3: a 50k-vector training set at the
      * corpus-derived K trains in single-digit seconds; the next
      * decade's full build rides ~N^1.5 to 321 s). [[trainStrideFor]] sizes the residue
      * stride so the training SAMPLE stays pinned at this target —
      * per-iteration training cost then grows only with K (∝ √N)
      * instead of N·K.
      */
    val TrainSampleTarget: Long = 50000L

    /** Corpus-size-derived training stride for
      * [[SimSearch.trainCentroidsLockedSampled]] — the index CHOICE
      * philosophy ([[graft.transform.CurationCompiler.dispatchFor]])
      * applied to index BUILD cost: the stride derives from the corpus
      * size, never a config knob. `ceil(n / TrainSampleTarget)` keeps
      * the sample in (target/2, target]; stride 1 below the target so
      * fixture-scale behavior is the unsampled build unchanged
      * (`sampleEvery = 1` coincides with [[trainCentroidsLocked]],
      * spec-asserted). Clamped so the sample never underfills K
      * (`stride ≤ n/k` ⇒ `ceil(n/stride) ≥ k`) — the geometry serves
      * the corpus and K must land in full.
      */
    def trainStrideFor(n: Long, k: Int): Int = {
      require(n > 0 && k >= 1, s"bad stride hint: n=$n k=$k")
      val byTarget = (n + TrainSampleTarget - 1) / TrainSampleTarget
      val byK = math.max(1L, n / k)
      math.max(1L, math.min(byTarget, byK)).toInt
    }

    /** Fixture-scale geometry (~10³ vectors): 16 cells, 10 probes.
      * The fixture's vectors are near-uniform (top-1 cosine ≈
      * 0.28-0.49), the adversarial case for cell assignment — many
      * true neighbors sit just across a centroid boundary, so top-1
      * agreement climbs slowly with probe count (IVF probe sweep on
      * sf0.001, PLANS_r05.md/PLANS_r11.md: probes 2/4/6/8/10/12 →
      * 41/62/75/80/90/93 of 100).
      * 10 probes clears the 80% recall floor with margin; real
      * deployments go through [[forCorpus]], where clustered data
      * needs a far smaller probe fraction.
      */
    val fixture: IvfParams = IvfParams(numCentroids = 16, probes = 10)
  }

  /** Reference dot product as a sequential double fold — deterministic
    * summation order, bit-reproducible by the oracle's list functions.
    * The hot paths use [[graft.functions.DotProduct]] instead: a
    * codegen'd expression with the identical operation sequence
    * (SimSearchSpec asserts bit-equality between the two).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** `(vec_id, embedding, ‖embedding‖)` as `(id, v, n)`: every cosine
    * below divides by norms computed once per vector, before any pair
    * join (identical floats, a third of the per-pair fold work).
    */
  private[ext] def normed(emb: DataFrame, id: String, v: String, n: String): DataFrame =
    emb.select(if (id == "vec_id") col(id) else col("vec_id").as(id),
      col("embedding").as(v), sqrt(ndot(col("embedding"), col("embedding"))).as(n))

  /** Cosine of vector columns `a`, `b` from their norms `na`, `nb`,
    * rounded to 6 dp so rankings are robust to cross-engine summation.
    */
  private[ext] def cos6(a: String, b: String, na: String, nb: String): Column =
    round(ndot(col(a), col(b)) / (col(na) * col(nb)), 6)

  /** The per-query total order of every ranked result: sim DESC, cid ASC. */
  private val ByQuery = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)

  /** Top-`k` (qid, cid, sim) rows per query, ranked 1..k in `rank`. */
  private[ext] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(ByQuery)).filter(col("rank") <= k)

  /** The best (qid, cid, sim) row per query. */
  private def top1PerQuery(scored: DataFrame): DataFrame =
    scored.withColumn("rn", row_number().over(ByQuery)).filter(col("rn") === 1)
      .select(col("qid"), col("cid"), col("sim"))

  /** Candidate (qid, cid) pairs with both sides' vectors and norms:
    * the bounded query side broadcasts, the corpus side streams.
    */
  private def withVectors(cand: DataFrame, emb: DataFrame, queryBound: Int): DataFrame =
    cand.join(broadcast(normed(emb.filter(col("vec_id") < queryBound), "qid", "qv", "qn")), "qid")
      .join(normed(emb, "cid", "cv", "cn"), "cid")

  /** Shared exact re-rank over (qid, cid, qv, cv, qn, cn) pairs:
    * deterministic cosine (round 6, cid tiebreak), top-1 per query.
    */
  private def rerank(pairs: DataFrame): DataFrame =
    top1PerQuery(pairs.select(col("qid"), col("cid"), cos6("qv", "cv", "qn", "cn").as("sim")))

  /** Deterministic sparse ±1 hyperplanes: `numPlanes` planes, each with
    * `nnz` (dimension, sign) pairs from a fixed-seed PRNG. The literal
    * plane set is embedded identically in the Spark plan and in the
    * generated oracle SQL.
    */
  def planes(seed: Long, numPlanes: Int, dim: Int, nnz: Int): Seq[Seq[(Int, Int)]] = {
    val rng = new Random(seed)
    Seq.fill(numPlanes) {
      val dims = rng.shuffle((0 until dim).toList).take(nnz).sorted
      dims.map(d => (d, if (rng.nextBoolean()) 1 else -1))
    }
  }

  /** Signed projection of an embedding onto one sparse plane; the fold
    * order (ascending dimension) is what the oracle SQL reproduces.
    */
  private def proj(v: Column, plane: Seq[(Int, Int)]): Column =
    plane.foldLeft(lit(0.0)) { case (acc, (d, s)) =>
      acc + element_at(v, d + 1).cast("double") * lit(s.toDouble)
    }

  /** One r-bit band key per band: bit k set iff the (b*r+k)-th
    * projection is positive. Reference implementation in stock Column
    * algebra — inlining planes×nnz terms blows the 64 KB codegen
    * method limit, so the hot paths use [[bandKeysNative]] instead
    * (bit-identical; spec-asserted).
    */
  def bandKeyCols(v: Column, ps: Seq[Seq[(Int, Int)]], bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      (0 until rowsPerBand).foldLeft(lit(0)) { (acc, k) =>
        acc + when(proj(v, ps(b * rowsPerBand + k)) > 0.0, lit(1 << k)).otherwise(lit(0))
      }
    }

  /** All band keys as one array via the loop-codegen'd
    * [[graft.functions.SignBandKeys]] expression.
    */
  def bandKeysNative(v: Column, ps: Seq[Seq[(Int, Int)]], bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SignBandKeys(
        org.apache.spark.sql.graft.ColumnBridge.expression(v),
        ps.map(_.map(_._1)), ps.map(_.map(_._2.toDouble)), bands, rowsPerBand))

  /** Exact brute-force cosine top-1 for vec_id < queryBound. */
  def bruteTopK(emb: DataFrame, queryBound: Int): DataFrame =
    rerank(broadcast(normed(emb.filter(col("vec_id") < queryBound), "qid", "qv", "qn"))
      .join(normed(emb, "cid", "cv", "cn"), col("qid") =!= col("cid")))

  /** LSH-bucketed top-1: candidates from shared band buckets, exact
    * cosine re-rank. Geometry is demanded — see [[LshParams]].
    */
  def lshTopK(emb: DataFrame, queryBound: Int, p: LshParams): DataFrame = {
    val ps = planes(p.seed, p.numBands * p.rowsPerBand, p.dim, p.nnz)
    val banded = emb.select(col("vec_id"),
      posexplode(bandKeysNative(col("embedding"), ps, p.numBands, p.rowsPerBand))
        .as(Seq("band", "bkey")))
    // The query side is bounded (≤ queryBound × bands rows), so it
    // broadcasts; the corpus side streams through the bucket join
    // without shuffling embeddings — only (band, key, id) triples.
    // No distinct here: a pair surfacing from several bands yields
    // identical (qid, cid, sim) rows, which the re-rank's row_number
    // collapses for free — cheaper than a 10^6-row dedup exchange.
    val cand = broadcast(banded.filter(col("vec_id") < queryBound)
        .select(col("band"), col("bkey"), col("vec_id").as("qid")))
      .join(banded.select(col("band"), col("bkey"), col("vec_id").as("cid")),
        Seq("band", "bkey"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
    rerank(withVectors(cand, emb, queryBound))
  }

  /** Exact brute-force top-k (ranked) for vec_id < queryBound among the
    * candidates satisfying `candWhere` (default `lit(true)`, which the
    * optimizer prunes: the whole corpus). With a predicate this is the
    * PRE-FILTER serving shape of filtered vector search. The alternative (post-filtering an ANN result list) silently
    * returns fewer than k rows whenever the filter is selective,
    * because the index retrieved its neighbors before knowing about
    * the predicate; pre-filtering guarantees exactly k eligible
    * neighbors per query (or all of them, if fewer exist). At scale
    * the predicate pushes into the candidate scan (`PushedFilters`),
    * so the selective case reads LESS data than the unfiltered one.
    * Queries broadcast, candidates never shuffle, per-query heaps
    * serve the rank filter (WindowGroupLimit).
    */
  def bruteTopKNFiltered(emb: DataFrame, queryBound: Int, k: Int,
      candWhere: Column = lit(true)): DataFrame =
    topKPerQuery(broadcast(normed(emb.filter(col("vec_id") < queryBound), "qid", "qv", "qn"))
      .join(normed(emb.filter(candWhere), "cid", "cv", "cn"), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cos6("qv", "cv", "qn", "cn").as("sim")), k)

  /** DuckDB twin of [[bruteTopKNFiltered]]; `candWhere` is a SQL
    * predicate over the embeddings columns (candidate alias `c`).
    */
  def bruteTopKNFilteredOracleSql(queryBound: Int, k: Int,
      candWhere: String = "TRUE"): String =
    s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |        round(list_cosine_similarity(q.v, c.v), 6) AS sim
       |      FROM v q JOIN v c ON q.vec_id <> c.vec_id
       |      WHERE q.vec_id < $queryBound AND ($candWhere)),
       |r AS (SELECT qid, cid, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |      FROM p)
       |SELECT qid, cid, sim, CAST(rn AS INT) AS rank FROM r WHERE rn <= $k""".stripMargin

  /** IVF-style ANN: K centroid vectors partition the corpus into cells
    * (argmax rounded cosine, centroid-id tiebreak); each query probes
    * its P nearest cells and re-ranks those candidates exactly.
    *
    * Centroids here are the first K corpus vectors so the index is
    * fully deterministic and oracle-reproducible; a trained index
    * serves [[trainCentroidsLocked]] centroids through
    * [[ivfTopKWithCentroids]] — the assignment/probe/re-rank plumbing,
    * which is what runs at scale, is identical. Assignment cost is
    * N×K dots (map-only, broadcast centroids); the probe join is keyed
    * on cell id, so corpus embeddings shuffle at most once.
    */
  def ivfTopK(emb: DataFrame, queryBound: Int, p: IvfParams): DataFrame = {
    val vecs = normed(emb, "vec_id", "v", "n")
    val cents = vecs.filter(col("vec_id") < p.numCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("n").as("cn"))
    ivfWithCentroids(vecs, queryBound, p.probes, cents)
  }

  /** Every vector's centroids ranked by rounded cosine (`crn`, 1 =
    * its cell; centroid-id tiebreak) over (`vec_id`, `v`, `n`) vectors
    * and a broadcast (`cent_id`, `cv`, `cn`) centroid set: the corpus
    * never shuffles for assignment (window over K ranked rows per
    * vector after a broadcast cross join).
    */
  private[ext] def centroidRanks(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cent_id").asc)
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"), cos6("v", "cv", "n", "cn").as("csim"))
      .withColumn("crn", row_number().over(w))
  }

  /** IVF assignment/probe/re-rank against an EXPLICIT centroid set
    * (`cent_id`, `cv`, `cn`) — the shared core behind [[ivfTopK]]
    * (first-K centroids, oracle-replicable) and [[ivfTopKWithCentroids]]
    * (locked-trained or landed centroids, better cells).
    */
  private def ivfWithCentroids(vecs: DataFrame, queryBound: Int, probes: Int,
      cents: DataFrame): DataFrame = {
    val ranked = centroidRanks(vecs, cents)
    val cells = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("cid"), col("cent_id").as("cell"))
    val probed = ranked.filter(col("vec_id") < queryBound && col("crn") <= probes)
      .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
    // Duplicates from probing multiple cells collapse in the re-rank (rn = 1).
    val cand = broadcast(probed).join(cells, "cell")
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
    val pairs = cand
      .join(broadcast(vecs.filter(col("vec_id") < queryBound)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n").as("qn"))), "qid")
      .join(vecs.select(col("vec_id").as("cid"), col("v").as("cv"), col("n").as("cn")), "cid")
    rerank(pairs)
  }

  /** Parameter-LOCKED trained centroids for the IVF index: k-means
    * cells with a full cross-engine oracle. Where training matters: on
    * CLUSTERED embeddings (the real case) first-K-vectors centroids
    * ([[ivfTopK]]) inherit the data's insertion order — if early ids
    * share a cluster, every cell is a noise-slice of that cluster and
    * probing finds nothing — while trained centroids recover the true
    * cells (`SimSearchSpec` builds such a corpus and pins the gap). On
    * structureless near-uniform data (the adversarial fixture) no
    * centroid choice helps (PLANS_r05.md).
    *
    * Lloyd's iterations unrolled a FIXED count over the unit-quantized
    * INTEGER vectors ([[quantizeUnit]] — already proven
    * oracle-compatible by the q8/PQ oracles), first-K init, and
    * SUM-vector centroids. Cosine is scale-invariant, so the sum of a
    * cell's vectors ranks identically to their mean — and unlike the
    * mean it needs no inexact division: every training step is exact
    * arithmetic (integer element sums, integer dots whose doubles are
    * exact below 2^53, round-6 cosines), so the ENTIRE training
    * replays bit-for-bit in DuckDB ([[ivfTrainedOracleSql]]) and the
    * trained path carries a full rows+schema+hash oracle instead of a
    * recall bound.
    *
    * Scale shape: centroids BROADCAST each round; assignment is a
    * map-side-combined `max(struct(sim, -cent_id))` per vector — the
    * exchange carries one row per vector, not per (vector, centroid);
    * the update shuffles skinny (cell, pos, x) rows; lineage is cut per
    * round (localCheckpoint on K rows). Element sums stay exact while
    * N·127 < 2^53 (N ≈ 7·10¹³ vectors — beyond any single index shard).
    */
  def trainCentroidsLocked(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"bad locked k-means config: k=$k iters=$iters")
    val u = emb.select(col("vec_id"), quantizeUnit(col("embedding")).as("u"))
    val init = u.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("u").as("cu"))
      .localCheckpoint()
    lockedLloyd(u, init, iters)
  }

  /** [[trainCentroidsLocked]] over a deterministic residue SAMPLE of
    * the corpus (`vec_id % sampleEvery = 0`) — the index-build cost
    * fix for the next data decade: full locked training assigns every
    * vector to every centroid each round (O(N·K·iters), and K itself
    * grows √N under [[IvfParams.forCorpus]], so build cost rides
    * ~N^1.5), while k-means needs a bounded sample, not the corpus.
    * Sampling by id residue keeps the training set — hence the whole
    * unrolled Lloyd replay — expressible in SQL, so the sampled-trained
    * index carries the same full rows+schema+hash oracle as the locked
    * path ([[trainedCentroidCtesSampled]]).
    *
    * Two deliberate differences from the unsampled path: K still
    * derives from the FULL corpus (the geometry serves the corpus, not
    * the sample — callers keep passing `IvfParams.forCorpus(n)`), and
    * the first-K init ranks WITHIN the sample (sample ids aren't
    * dense), taken distributed via orderBy+limit (TakeOrdered, no
    * single-task window). `sampleEvery = 1` degenerates to a
    * rank-based init over dense ids = the unsampled init, so the two
    * paths coincide (spec-asserted).
    */
  def trainCentroidsLockedSampled(emb: DataFrame, k: Int, iters: Int,
      sampleEvery: Int): DataFrame = {
    require(k >= 1 && iters >= 0 && sampleEvery >= 1,
      s"bad sampled locked k-means config: k=$k iters=$iters sampleEvery=$sampleEvery")
    val u = emb.filter(col("vec_id") % sampleEvery === 0)
      .select(col("vec_id"), quantizeUnit(col("embedding")).as("u"))
    val init = u.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cent_id"), col("u").as("cu"))
      .localCheckpoint()
    // Underfill guard: `limit(k)` over a residue sample with < k rows
    // silently trains fewer centroids than the corpus-derived geometry
    // demands — a quality cliff, not a degraded mode. The init is
    // already materialized (localCheckpoint), so the count is free.
    // [[IvfParams.trainStrideFor]]'s clamp sizes the stride for DENSE
    // 0..n-1 ids; sparse or structured ids (all-even, snowflake-style)
    // can underfill the residue class anyway, which is why the derived
    // act path (IvfIndex.maintainIndexOverImpl) probes the class size
    // and lowers the stride before calling here. This require is the
    // fail-fast for hand-picked strides that outrun the corpus.
    val got = init.count()
    require(got == k,
      s"sampled locked training underfilled: sampleEvery=$sampleEvery left " +
        s"$got < $k training vectors — lower the stride (need n/stride >= k; " +
        s"IvfParams.trainStrideFor clamps this automatically)")
    lockedLloyd(u, init, iters)
  }

  /** The shared unrolled-Lloyd loop of the locked trainers: `iters`
    * rounds of broadcast-centroid assignment + exact integer sum-vector
    * update over the quantized training set `u`, starting from `init`
    * (cent_id, cu). Every step is exact arithmetic — the whole loop
    * replays bit-for-bit in DuckDB.
    */
  private def lockedLloyd(u: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    var cents = init
    for (_ <- 0 until iters) {
      val c = broadcast(cents.select(col("cent_id"), col("cu"),
        sqrt(ndot(col("cu"), col("cu"))).as("ccn")))
      val csim = round(
        ndot(col("u"), col("cu")) / (sqrt(ndot(col("u"), col("u"))) * col("ccn")), 6)
      val assigned = u.crossJoin(c)
        .select(col("vec_id"), col("u"),
          struct(csim.as("s"), (-col("cent_id")).as("nc")).as("sc"))
        .groupBy(col("vec_id"))
        .agg(max(col("sc")).as("m"), first(col("u")).as("u"))
        .select((-col("m.nc")).as("cell"), col("u"))
      // Sum vector per cell: doubles holding exact integers, so the
      // aggregation is order-independent in both engines.
      val sums = assigned
        .select(col("cell"), posexplode(col("u")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("sx"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("sx")))),
          e => e.getField("sx")).as("cu2"))
      // A cell that lost every point keeps its previous centroid.
      cents = cents.join(sums, cents("cent_id") === sums("cell"), "left")
        .select(col("cent_id"), coalesce(col("cu2"), col("cu")).as("cu"))
        .localCheckpoint()
    }
    cents.select(col("cent_id"), col("cu").as("cv"),
      sqrt(ndot(col("cu"), col("cu"))).as("cn"))
  }

  /** The unrolled Lloyd iterations `c1..c<iters>` as SQL — shared by
    * every locked-training replay (full, base-restricted, sampled):
    * assignment ranks, exact integer cell sums, empty cells keep their
    * codeword.
    */
  private def lockedIterCtes(iters: Int, dim: Int): String =
    (1 to iters).map { i =>
      s"""a$i AS (SELECT u.vec_id, cent_id,
         |  row_number() OVER (PARTITION BY u.vec_id
         |    ORDER BY round(list_cosine_similarity(u.u, cu), 6) DESC, cent_id) AS rn
         |  FROM u CROSS JOIN c${i - 1}),
         |s$i AS (SELECT cent_id AS cell, pos, sum(u.u[pos]) AS sx
         |  FROM a$i JOIN u USING (vec_id) CROSS JOIN range(1, $dim + 1) r(pos)
         |  WHERE rn = 1 GROUP BY 1, 2),
         |l$i AS (SELECT cell, list(sx ORDER BY pos) AS cu2 FROM s$i GROUP BY cell),
         |c$i AS (SELECT cent_id, coalesce(cu2, cu) AS cu
         |  FROM c${i - 1} LEFT JOIN l$i ON cent_id = cell)""".stripMargin
    }.mkString(",\n", ",\n", "")

  /** Shared oracle prelude for every locked-training replay
    * ([[trainCentroidsLocked]]): raw vectors `d`, quantized `u`, the
    * locked-training K `kk`, first-K init `c0`, and the unrolled Lloyd
    * iterations `c1..c<iters>`. `kk` is the same clamp(⌈√N⌉, 16, 65536)
    * rule as [[IvfParams.forCorpus]], computed inside the oracle so a
    * regenerated or rescaled fixture retunes BOTH sides identically
    * (sqrt/ceil are IEEE-exact in both engines).
    *
    * `baseWhere` restricts the TRAINING corpus by a SQL predicate over
    * the embeddings columns: `kk` derives K from the base count, `u`
    * (hence `c0..c<iters>`) carries base rows only, while `d` stays the
    * FULL corpus — serving replays (assignment/probe/re-rank) run over
    * everything, which is exactly the retrain-free upsert contract
    * ([[graft.ext.IvfIndex]]): late vectors are assigned to centroids
    * they never influenced.
    */
  private[ext] def trainedCentroidCtesWhere(iters: Int, dim: Int,
      baseWhere: String = "TRUE"): String = {
    val iterCtes = lockedIterCtes(iters, dim)
    s"""kk AS (SELECT greatest(16, least(65536,
       |  CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k FROM embeddings WHERE $baseWhere),
       |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |u AS (SELECT vec_id, CASE WHEN list_dot_product(v, v) = 0
       |        THEN list_transform(v, x -> 0.0)
       |        ELSE list_transform(v,
       |          x -> floor(x * 127 / sqrt(list_dot_product(v, v)) + 0.5)) END AS u
       |      FROM d WHERE $baseWhere),
       |c0 AS (SELECT vec_id AS cent_id, u AS cu FROM u
       |       WHERE vec_id < (SELECT k FROM kk))$iterCtes""".stripMargin
  }

  /** [[trainedCentroidCtesWhere]]'s SAMPLED-training twin
    * ([[trainCentroidsLockedSampled]]): the quantized training set `u`
    * is the residue slice `vec_id % sampleEvery = 0`, K derives from
    * the FULL corpus, and the first-K init ranks within the sample.
    * `d` stays the full corpus — serving replays run over everything.
    */
  private[ext] def trainedCentroidCtesSampled(iters: Int, dim: Int,
      sampleEvery: Int): String =
    s"""kk AS (SELECT greatest(16, least(65536,
       |  CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k FROM embeddings),
       |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |u AS (SELECT vec_id, CASE WHEN list_dot_product(v, v) = 0
       |        THEN list_transform(v, x -> 0.0)
       |        ELSE list_transform(v,
       |          x -> floor(x * 127 / sqrt(list_dot_product(v, v)) + 0.5)) END AS u
       |      FROM d WHERE vec_id % $sampleEvery = 0),
       |c0 AS (SELECT cent_id, cu FROM (
       |        SELECT vec_id AS cent_id, u AS cu,
       |          row_number() OVER (ORDER BY vec_id) AS rn FROM u)
       |       WHERE rn <= (SELECT k FROM kk))${lockedIterCtes(iters, dim)}""".stripMargin

  /** Semantic corpus clustering — every vector's cell under an
    * explicit centroid table (`cent_id`, `cv`, `cn`: the
    * [[trainCentroidsLocked]] output, typically landed — train once,
    * assign in every serving query), with the rounded assignment
    * cosine. The curation primitive behind topic balancing,
    * per-cluster sampling, and cluster-aware dedup; same plan as the
    * IVF index build (broadcast centroids, map-side-combined argmax —
    * the corpus never shuffles). Fully oracle-checked via the training
    * replay ([[clusterAssignOracleSql]]).
    */
  def clusterAssignWithCentroids(emb: DataFrame, cents: DataFrame): DataFrame =
    normed(emb, "vec_id", "v", "n")
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(cos6("v", "cv", "n", "cn").as("s"), (-col("cent_id")).as("nc")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cluster_id"),
        col("m.s").as("sim"))

  /** IVF top-1 over an explicit centroid table (`cent_id`, `cv`, `cn`):
    * [[trainCentroidsLocked]] / [[trainCentroidsLockedSampled]] output,
    * typically landed — the trained-index deployment shape with a full
    * cross-engine oracle ([[ivfTrainedOracleSql]]).
    */
  def ivfTopKWithCentroids(emb: DataFrame, queryBound: Int, probes: Int,
      cents: DataFrame): DataFrame =
    ivfWithCentroids(normed(emb, "vec_id", "v", "n"), queryBound, probes, cents)

  /** FILTERED IVF ANN — the 100 TB serving shape for predicate +
    * vector search: the metadata predicate is composed INTO the
    * inverted lists (only ELIGIBLE vectors enter the cell table), each
    * query probes its nearest cells, and the probed eligible
    * candidates re-rank exactly into a top-k. Contrast with
    * [[bruteTopKNFiltered]] (exact but corpus-scan per query — the
    * recall yardstick) and with post-filtering an unfiltered ANN list
    * (silently under-returns when the predicate is selective; here
    * every retrieved row is eligible BY CONSTRUCTION, so the result
    * has k rows whenever the probed cells hold k eligible candidates).
    *
    * Scale shape: the predicate applies at the candidate SCAN (pushed
    * to parquet — a selective filter reads less data, not more);
    * assignment is two map-only broadcast-centroid passes (eligible
    * candidates; bounded query set); the probe join is keyed on cell
    * id; candidate pairs are skinny (qid, cid) rows deduped before the
    * exact re-rank; WindowGroupLimit serves the rank-≤-k filter with
    * per-query heaps. One trained index serves ANY predicate — train
    * once on the full corpus, filter at probe time.
    */
  def ivfTopKNFilteredWithCentroids(emb: DataFrame, queryBound: Int, k: Int,
      probes: Int, cents: DataFrame, candWhere: Column): DataFrame = {
    val eligible = normed(emb.filter(candWhere), "vec_id", "v", "n")
    val queries = normed(emb.filter(col("vec_id") < queryBound), "vec_id", "v", "n")
    val cells = centroidRanks(eligible, cents).filter(col("crn") === 1)
      .select(col("vec_id").as("cid"), col("cent_id").as("cell"))
    val probed = centroidRanks(queries, cents).filter(col("crn") <= probes)
      .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
    // Multi-probe duplicates collapse BEFORE the exact re-rank (a
    // duplicated pair would otherwise occupy two ranks).
    val cand = broadcast(probed).join(cells, "cell")
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val pairs = cand
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("v").as("qv"), col("n").as("qn"))), "qid")
      .join(eligible.select(col("vec_id").as("cid"),
        col("v").as("cv"), col("n").as("cn")), "cid")
    topKPerQuery(pairs.select(col("qid"), col("cid"), cos6("qv", "cv", "qn", "cn").as("sim")), k)
  }

  /** DuckDB twin of [[ivfTopKNFilteredWithCentroids]] under the
    * locked-trained centroids: replays training + assignment +
    * predicate + probe + re-rank. `candWhere` is a SQL predicate over
    * the embeddings columns (alias `e`).
    */
  def ivfTrainedFilteredOracleSql(queryBound: Int, k: Int, iters: Int,
      dim: Int, candWhere: String): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |el AS (SELECT vec_id FROM embeddings e WHERE $candWhere),
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id AS cid, cent_id AS cell FROM r
       |         WHERE crn = 1 AND vec_id IN (SELECT vec_id FROM el)),
       |probe AS (SELECT vec_id AS qid, cent_id AS cell FROM r
       |          WHERE crn <= (SELECT greatest(least(10, k), k // 16) FROM kk)
       |            AND vec_id < $queryBound),
       |cand AS (SELECT DISTINCT qid, cid
       |         FROM probe JOIN cell ON probe.cell = cell.cell AND qid <> cid),
       |p AS (SELECT qid, cid, round(list_cosine_similarity(qv.v, cv2.v), 6) AS sim
       |      FROM cand JOIN d qv ON qv.vec_id = qid JOIN d cv2 ON cv2.vec_id = cid),
       |rr AS (SELECT qid, cid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |       FROM p)
       |SELECT qid, cid, sim, CAST(rn AS INT) AS rank FROM rr WHERE rn <= $k""".stripMargin

  /** Corpus kNN GRAPH: top-`k` neighbors for EVERY vector, candidates
    * bounded by the vector's own IVF cell (locked-trained centroids) —
    * the building block of graph-based semantic dedup, diversity
    * sampling, and connected-component curation. Where the top-k
    * QUERY shape broadcasts a bounded query set, a kNN graph has N
    * queries, so the bound must come from the INDEX: each vector
    * compares only within its cell (cell sizes ≈ N/K), never corpus².
    *
    * Scale: one cell-keyed self-join — both sides arrive hash-
    * partitioned on the same cell id, so candidate generation is one
    * co-partitioned exchange; WindowGroupLimit keeps per-vector heaps
    * of k before the final rank. Recall is the cell assumption
    * (neighbors in other cells are unseen — probes=1 by design here);
    * the assignment is deterministic, so the graph is an exact
    * function of the data and fully oracle-replayable.
    */
  def knnGraph(emb: DataFrame, k: Int, cents: DataFrame): DataFrame = {
    val cells = clusterAssignWithCentroids(emb, cents)
      .select(col("vec_id"), col("cluster_id").as("cell"))
    val vecs = normed(emb, "vec_id", "v", "n").join(cells, "vec_id")
    val a = vecs.select(col("cell"), col("vec_id").as("qid"),
      col("v").as("qv"), col("n").as("qn"))
    val b = vecs.select(col("cell"), col("vec_id").as("cid"),
      col("v").as("cv"), col("n").as("cn"))
    topKPerQuery(a.join(b, Seq("cell")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cos6("qv", "cv", "qn", "cn").as("sim")), k)
  }

  /** SemDeDup-style semantic dedup: within each locked-centroid
    * cluster, a vector is DROPPED when a smaller-id cluster-mate sits
    * within `threshold` cosine of it; survivors are the min-id
    * representatives of every near-duplicate neighborhood. This is the
    * embedding-space answer to MinHash dedup — it removes paraphrases
    * and re-encodings that share no shingles at all, which is why
    * LLM corpus pipelines run it AFTER lexical dedup.
    *
    * Scale shape: the candidate set is cluster-scoped (one
    * co-partitioned self-join on cell id — the [[knnGraph]] plan, never
    * corpus²). Per-cell work is quadratic BY DESIGN — the SemDeDup
    * contract is that K grows with the corpus so cells stay ~constant
    *-sized; the fixture locks K, and a skewed real-world cell would get
    * the `SkewJoin` salted sub-cell treatment before this shape ships
    * against a pathological corpus. The drop set is output-sized; raw
    * vectors cross the exchange once each.
    */
  def semanticDedup(emb: DataFrame, threshold: Double,
      cents: DataFrame): DataFrame = {
    val cells = clusterAssignWithCentroids(emb, cents)
      .select(col("vec_id"), col("cluster_id").as("cell"))
    val vecs = normed(emb, "vec_id", "v", "n").join(cells, "vec_id")
    val a = vecs.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("n").as("n_a"))
    val b = vecs.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("n").as("n_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"), cos6("v_a", "v_b", "n_a", "n_b").as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_b")).distinct()
    cells.join(dropped, cells("vec_id") === dropped("id_b"), "left_anti")
      .select(col("vec_id"), col("cell").as("cluster_id"))
  }

  /** Quality-weighted [[semanticDedup]]: within a near-duplicate
    * neighborhood the KEPT representative is the highest-quality one
    * (ties → smallest id), not the smallest id — the policy real
    * curation runs (keep the longest / best-scored paraphrase, drop
    * the rest). A vector is dropped when any cluster-mate within
    * `threshold` cosine strictly dominates it under
    * (quality DESC, vec_id ASC). Same cluster-scoped candidate plan
    * as [[semanticDedup]].
    */
  def semanticDedupBest(emb: DataFrame, threshold: Double,
      cents: DataFrame, qualityCol: String): DataFrame = {
    val cells = clusterAssignWithCentroids(emb, cents)
      .select(col("vec_id"), col("cluster_id").as("cell"))
    val vecs = emb.select(col("vec_id"), col("embedding").as("v"),
        col(qualityCol).as("q"),
        sqrt(ndot(col("embedding"), col("embedding"))).as("n"))
      .join(cells, "vec_id")
    val a = vecs.select(col("cell"), col("vec_id").as("id_a"),
      col("q").as("q_a"), col("v").as("v_a"), col("n").as("n_a"))
    val b = vecs.select(col("cell"), col("vec_id").as("id_b"),
      col("q").as("q_b"), col("v").as("v_b"), col("n").as("n_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("q_a") > col("q_b") ||
        (col("q_a") === col("q_b") && col("id_a") < col("id_b")))
      .select(col("id_b"), cos6("v_a", "v_b", "n_a", "n_b").as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_b")).distinct()
    vecs.join(dropped, vecs("vec_id") === dropped("id_b"), "left_anti")
      .select(col("vec_id"), col("cell").as("cluster_id"),
        col("q").as(qualityCol))
  }

  /** Embedding-cosine near-duplicate pairs with CELL-SCOPED candidates
    * (the [[semanticDedup]] / [[knnGraph]] plan): all pairs within a
    * locked-trained IVF cell with exact cosine ≥ `threshold`. This is
    * the 100 TB shape for the ALL-PAIRS embedding near-dup landing:
    * per-cell work is quadratic by design with K growing as √N
    * ([[IvfParams.forCorpus]]), so total candidate volume is ~N^1.5
    * with perfect cell parallelism, and a pair shares exactly ONE cell
    * (assignment is unique) so no post-join dedup is needed. Recall is
    * the same-cell assumption — the published SemDeDup contract.
    *
    * Why not LSH band-bucket candidates (the [[lshTopK]] shape) for
    * this landing: at an all-pairs workload the LSH S-curve forces a
    * geometry trade with no good operating point at low thresholds —
    * collision probability per band is s^r with s = 1 − θ_angle/π (≈ 0.63 at
    * cosine 0.4), so raising `rowsPerBand` to keep buckets small at
    * corpus scale (the top-k rule) collapses recall to s^r·bands
    * (~10% at r=11), while keeping r fixture-small degenerates buckets
    * to N/2^r members and the bucket self-join goes quadratic — the
    * measured sf10 failure mode (16 buckets/band × 12.5k occupancy →
    * ~10¹⁰ candidates, shuffle-spilled the disk). LSH stays the right
    * tool for the bounded-query-set top-k shape and for recall-tunable
    * candidate generation at fixture scale.
    */
  def nearDupPairsCells(emb: DataFrame, threshold: Double,
      cents: DataFrame): DataFrame = {
    val cells = clusterAssignWithCentroids(emb, cents)
      .select(col("vec_id"), col("cluster_id").as("cell"))
    val vecs = normed(emb, "vec_id", "v", "n").join(cells, "vec_id")
    val a = vecs.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("n").as("n_a"))
    val b = vecs.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("n").as("n_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos6("v_a", "v_b", "n_a", "n_b").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** DuckDB oracle for [[nearDupPairsCells]]: training replay + cell
    * assignment + in-cell exact pairs.
    */
  def nearDupCellsOracleSql(threshold: Double, iters: Int, dim: Int): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id, cent_id AS cell FROM r WHERE crn = 1),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        round(list_cosine_similarity(da.v, db.v), 6) AS sim
       |      FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |      JOIN d da ON da.vec_id = a.vec_id
       |      JOIN d db ON db.vec_id = b.vec_id)
       |SELECT id_a, id_b, sim FROM p WHERE sim >= $threshold""".stripMargin

  /** DuckDB oracle for [[contrastiveTripletsFromPairs]] over the
    * cell-scoped pair list — the [[nearDupCellsOracleSql]] CTEs plus
    * the deterministic half-rotation negative draw.
    */
  def contrastiveTripletsCellsOracleSql(
      threshold: Double, iters: Int, dim: Int): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id, cent_id AS cell FROM r WHERE crn = 1),
       |pq AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        round(list_cosine_similarity(da.v, db.v), 6) AS sim
       |      FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |      JOIN d da ON da.vec_id = a.vec_id
       |      JOIN d db ON db.vec_id = b.vec_id
       |      WHERE round(list_cosine_similarity(da.v, db.v), 6) >= $threshold),
       |pr AS (SELECT id_a, id_b, sim,
       |         row_number() OVER (ORDER BY id_a, id_b) - 1 AS prn FROM pq),
       |c AS (SELECT count(*) AS np FROM pr)
       |SELECT a.id_a AS anchor, a.id_b AS positive, n.id_a AS negative, a.sim
       |FROM pr a CROSS JOIN c
       |JOIN pr n ON n.prn = (a.prn + np // 2) % np
       |WHERE n.id_a <> a.id_a AND n.id_a <> a.id_b""".stripMargin

  /** DuckDB oracle for [[semanticDedupBest]]. */
  def semanticDedupBestOracleSql(threshold: Double,
      iters: Int, dim: Int, qualityCol: String): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT e.vec_id, cent_id AS cell, e.$qualityCol AS q
       |         FROM r JOIN embeddings e USING (vec_id) WHERE crn = 1),
       |dropped AS (SELECT DISTINCT b.vec_id
       |  FROM cell a JOIN cell b ON a.cell = b.cell
       |    AND (a.q > b.q OR (a.q = b.q AND a.vec_id < b.vec_id))
       |  JOIN d da ON da.vec_id = a.vec_id
       |  JOIN d db ON db.vec_id = b.vec_id
       |  WHERE round(list_cosine_similarity(da.v, db.v), 6) >= $threshold)
       |SELECT c.vec_id, c.cell AS cluster_id, c.q AS $qualityCol
       |FROM cell c
       |WHERE c.vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  /** DuckDB oracle for [[semanticDedup]]: training replay + cell
    * assignment + the min-id dominance rule.
    */
  def semanticDedupOracleSql(threshold: Double, iters: Int,
      dim: Int): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id, cent_id AS cell FROM r WHERE crn = 1),
       |dropped AS (SELECT DISTINCT b.vec_id
       |  FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN d da ON da.vec_id = a.vec_id
       |  JOIN d db ON db.vec_id = b.vec_id
       |  WHERE round(list_cosine_similarity(da.v, db.v), 6) >= $threshold)
       |SELECT c.vec_id, c.cell AS cluster_id FROM cell c
       |WHERE c.vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  /** DuckDB oracle for [[knnGraph]]: training replay + cell-bounded
    * top-k.
    */
  def knnGraphOracleSql(k: Int, iters: Int, dim: Int): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id, cent_id AS cell FROM r WHERE crn = 1),
       |p AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |        round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
       |      FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |      JOIN d qv ON qv.vec_id = a.vec_id JOIN d cv ON cv.vec_id = b.vec_id),
       |rr AS (SELECT qid, cid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |       FROM p)
       |SELECT qid, cid, sim, CAST(rn AS INT) AS rank FROM rr WHERE rn <= $k""".stripMargin

  /** DuckDB oracle for the leakage-safe cluster-level split: training
    * replay + argmax assignment + the staged-LCG bucket of cluster_id.
    */
  def leakageSafeSplitOracleSql(iters: Int, dim: Int): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id, cent_id AS cluster_id FROM r WHERE crn = 1)
       |SELECT vec_id, cluster_id,
       |  CASE WHEN ((cluster_id % 2147483648) * 1103515245 + 12345)
       |           % 2147483648 % 10 < 8 THEN 'train'
       |       WHEN ((cluster_id % 2147483648) * 1103515245 + 12345)
       |           % 2147483648 % 10 = 8 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM cell""".stripMargin

  /** DuckDB oracle for [[clusterAssignWithCentroids]] over
    * [[trainCentroidsLocked]] centroids: training replay + argmax.
    */
  def clusterAssignOracleSql(iters: Int, dim: Int): String =
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        round(list_cosine_similarity(d.v, cu), 6) AS sim,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters)
       |SELECT vec_id, cent_id AS cluster_id, sim FROM r WHERE crn = 1""".stripMargin

  /** DuckDB oracle for [[ivfTopKWithCentroids]] over
    * [[trainCentroidsLocked]] centroids: replays quantization,
    * the unrolled Lloyd iterations, final cell assignment, probing,
    * and the exact re-rank.
    */
  def ivfTrainedOracleSql(queryBound: Int, iters: Int, dim: Int): String = {
    s"""WITH ${trainedCentroidCtesWhere(iters, dim)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id AS cid, cent_id AS cell FROM r WHERE crn = 1),
       |probe AS (SELECT vec_id AS qid, cent_id AS cell FROM r
       |          WHERE crn <= (SELECT greatest(least(10, k), k // 16) FROM kk)
       |            AND vec_id < $queryBound),
       |cand AS (SELECT DISTINCT qid, cid
       |         FROM probe JOIN cell ON probe.cell = cell.cell AND qid <> cid),
       |p AS (SELECT qid, cid, round(list_cosine_similarity(qv.v, cv2.v), 6) AS sim
       |      FROM cand JOIN d qv ON qv.vec_id = qid JOIN d cv2 ON cv2.vec_id = cid),
       |rr AS (SELECT qid, cid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |       FROM p)
       |SELECT qid, cid, sim FROM rr WHERE rn = 1""".stripMargin
  }

  /** DuckDB twin of serving over a SAMPLED-trained index
    * ([[trainCentroidsLockedSampled]] + [[ivfTopKWithCentroids]]):
    * sampled-training replay, full-corpus assignment/probe/re-rank.
    */
  def ivfTrainedSampledOracleSql(queryBound: Int, iters: Int, dim: Int,
      sampleEvery: Int): String = {
    s"""WITH ${trainedCentroidCtesSampled(iters, dim, sampleEvery)},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id AS cid, cent_id AS cell FROM r WHERE crn = 1),
       |probe AS (SELECT vec_id AS qid, cent_id AS cell FROM r
       |          WHERE crn <= (SELECT greatest(least(10, k), k // 16) FROM kk)
       |            AND vec_id < $queryBound),
       |cand AS (SELECT DISTINCT qid, cid
       |         FROM probe JOIN cell ON probe.cell = cell.cell AND qid <> cid),
       |p AS (SELECT qid, cid, round(list_cosine_similarity(qv.v, cv2.v), 6) AS sim
       |      FROM cand JOIN d qv ON qv.vec_id = qid JOIN d cv2 ON cv2.vec_id = cid),
       |rr AS (SELECT qid, cid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |       FROM p)
       |SELECT qid, cid, sim FROM rr WHERE rn = 1""".stripMargin
  }

  /** DuckDB oracle for [[ivfTopK]]. */
  def ivfOracleSql(queryBound: Int, p: IvfParams): String = {
    val numCentroids = p.numCentroids
    val probes = p.probes
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, v AS cv FROM v WHERE vec_id < $numCentroids),
       |r AS (SELECT v.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY v.vec_id
       |          ORDER BY round(list_cosine_similarity(v.v, cv), 6) DESC, cent_id ASC) AS crn
       |      FROM v CROSS JOIN c),
       |cell AS (SELECT vec_id AS cid, cent_id AS cell FROM r WHERE crn = 1),
       |probe AS (SELECT vec_id AS qid, cent_id AS cell FROM r
       |          WHERE crn <= $probes AND vec_id < $queryBound),
       |cand AS (SELECT DISTINCT qid, cid
       |         FROM probe JOIN cell ON probe.cell = cell.cell AND qid <> cid),
       |p AS (SELECT qid, cid, round(list_cosine_similarity(qv.v, cv2.v), 6) AS sim
       |      FROM cand JOIN v qv ON qv.vec_id = qid JOIN v cv2 ON cv2.vec_id = cid),
       |rr AS (SELECT qid, cid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |       FROM p)
       |SELECT qid, cid, sim FROM rr WHERE rn = 1""".stripMargin
  }

  /** Shared oracle CTE prefix: embeddings as double arrays, the plane
    * projections, band keys, and the per-band bucket rows.
    */
  private def bucketCtes(p: LshParams): String = {
    import p.{numBands, rowsPerBand}
    val ps = planes(p.seed, numBands * rowsPerBand, p.dim, p.nnz)
    def projSql(plane: Seq[(Int, Int)]): String =
      plane.map { case (d, s) => s"v[${d + 1}]*${s.toDouble}" }.mkString("0.0 + ", " + ", "")
    val keySql = (0 until numBands).map { b =>
      val bits = (0 until rowsPerBand).map { k =>
        s"(CASE WHEN ${projSql(ps(b * rowsPerBand + k))} > 0.0 THEN ${1 << k} ELSE 0 END)"
      }
      s"${bits.mkString(" + ")} AS k$b"
    }
    val unioned = (0 until numBands)
      .map(b => s"SELECT vec_id, $b AS band, k$b AS bkey FROM k")
      .mkString("\nUNION ALL ")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |k AS (SELECT vec_id, ${keySql.mkString(",\n  ")} FROM v),
       |b AS ($unioned)""".stripMargin
  }

  /** DuckDB oracle for [[lshTopK]] with the same parameters: the plane
    * set, projection fold order, band keys, bucket join, and re-rank
    * are reproduced in ANSI-ish SQL, so the driver's hash compare
    * verifies the LSH bucketing itself.
    */
  def lshOracleSql(queryBound: Int, p: LshParams): String =
    s"""WITH ${bucketCtes(p)},
       |cand AS (SELECT DISTINCT a.vec_id AS qid, c.vec_id AS cid
       |         FROM b a JOIN b c ON a.band = c.band AND a.bkey = c.bkey
       |         WHERE a.vec_id < $queryBound AND a.vec_id <> c.vec_id),
       |p AS (SELECT qid, cid, round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
       |      FROM cand JOIN v qv ON qv.vec_id = qid JOIN v cv ON cv.vec_id = cid),
       |r AS (SELECT qid, cid, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |      FROM p)
       |SELECT qid, cid, sim FROM r WHERE rn = 1""".stripMargin

  /** Contrastive (anchor, positive, negative) triplet mining — the
    * training-data prep for embedding/retrieval models: each near-dup
    * pair ([[nearDupPairsCells]] output) contributes its members as
    * anchor/positive, and the negative
    * is drawn DETERMINISTICALLY from the pair list itself (the member
    * of the pair half the list away, in (id_a, id_b) order) — no
    * randomness state, exact across engines. A triplet is dropped if
    * the drawn negative collides with its own anchor/positive
    * (only possible at tiny pair counts).
    *
    * Scale shape: the only new work on top of the pair mining is a
    * row_number + self-join over the PAIR list — output-sized, the
    * suite's sanctioned no-partition-window case; the corpus is never
    * touched again. Caveat (documented, fixture-acceptable): a drawn
    * negative from a chained dup family could share the anchor's
    * cluster; a production variant adds a cluster-disjointness filter.
    *
    * Runs over a precomputed (typically landed) (id_a, id_b, sim) pair
    * table — the serve shape when the pair mining is shared with the
    * near-dup query.
    */
  def contrastiveTripletsFromPairs(pairs: DataFrame): DataFrame = {
    val w = Window.orderBy(col("id_a"), col("id_b"))
    val pr = pairs.withColumn("prn", row_number().over(w) - 1)
    val cnt = pairs.agg(count(lit(1)).as("np"))
    val withNeg = pr.crossJoin(broadcast(cnt))
      .withColumn("nrn", (col("prn") + expr("np div 2")) % col("np"))
    val negSide = pr.select(col("prn").as("nrn"), col("id_a").as("negative"))
    withNeg.join(negSide, "nrn")
      .filter(col("negative") =!= col("id_a") &&
        col("negative") =!= col("id_b"))
      .select(col("id_a").as("anchor"), col("id_b").as("positive"),
        col("negative"), col("sim"))
  }

  /** Symmetric int8 quantization: per-vector scale = max|v|/127, code_i
    * = floor(v_i/scale + 0.5) stored as TINYINT — 4× smaller than
    * float32 at rest, in shuffles, and in broadcast variables, which is
    * the memory knob that decides whether a 10⁹-vector corpus index
    * fits a cluster. `floor(x + 0.5)` instead of `round(x)` because
    * engines disagree on tie policy but agree bit-for-bit on floor;
    * codes are exact small integers afterwards, so every downstream
    * sum is order-independent and engine-exact. Assumes non-zero
    * vectors (a zero vector has no cosine direction to preserve).
    */
  def quantizeQ8(v: Column): Column = {
    val d = transform(v, x => x.cast("double"))
    val s = array_max(transform(d, x => abs(x))) / lit(127.0)
    struct(
      s.as("scale"),
      transform(d, x => floor(x / s + lit(0.5)).cast("byte")).as("q"))
  }

  /** The q8 index build: (vec_id, scale, q) with tinyint codes — this
    * is what gets persisted once and queried many times; the scale
    * column rides along for dot-product (non-cosine) reconstruction.
    */
  def quantizeCorpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), quantizeQ8(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.scale").as("scale"), col("z.q").as("q"))

  /** Quantized brute-force cosine top-1 — [[bruteTopK]]'s contract on
    * int8 codes, over a prebuilt q8 code table ([[quantizeCorpus]]
    * output, typically landed to parquet): per-query cost is one
    * streamed pass over codes that are 4× smaller than the float corpus
    * — the quantization itself is paid at index-build time, not per
    * query. The per-vector scale cancels out of the cosine, so
    * scoring is pure integer arithmetic widened to double: dot and
    * norms are exact integers (|code| ≤ 127, dim 64 → |dot| ≤ ~10⁶,
    * far inside double's exact-integer range), making the scores
    * bit-reproducible by the oracle regardless of summation order.
    * sqrt(qn*cn) as ONE sqrt (not sqrt·sqrt): both engines compute the
    * identical IEEE operation sequence.
    */
  def q8TopKFromCodes(codes: DataFrame, queryBound: Int): DataFrame = {
    val z = codes
      .select(col("vec_id"), col("q").cast("array<double>").as("qd"))
      .select(col("vec_id"), col("qd"), ndot(col("qd"), col("qd")).as("nrm"))
    val q = z.filter(col("vec_id") < queryBound)
      .select(col("vec_id").as("qid"), col("qd").as("qv"), col("nrm").as("qn"))
    val c = z.select(col("vec_id").as("cid"), col("qd").as("cv"), col("nrm").as("cn"))
    top1PerQuery(broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(ndot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn")), 6).as("sim")))
  }

  // ---- product quantization (ADC) ----

  /** PQ geometry: [[PqM]] subspaces, one [[PqK]]-entry codebook per
    * subspace. Codewords are the unit-quantized subvectors of the first
    * K vectors by id — deterministic and oracle-replayable, the same
    * parameter-locking trade as [[ivfTopK]]'s first-K centroids (and as
    * there, a deployment would train the codebook; the query-time plan
    * is identical either way).
    */
  val PqM = 16
  val PqK = 256

  /** Unit-scale int8 quantization: v/‖v‖ has components in [-1, 1], so
    * ONE global scale (127) serves the whole corpus and the resulting
    * integer vectors are directly comparable across vectors — unlike
    * [[quantizeQ8]]'s per-vector scale, which cancels only inside a
    * full-vector cosine and would poison cross-vector L2 comparisons.
    * The fold inside the norm is sequential in array order, so the
    * oracle's list_dot_product reproduces it bit-for-bit; every
    * operation after the floor is exact integer arithmetic.
    */
  def quantizeUnit(v: Column): Column = {
    val d = transform(v, x => x.cast("double"))
    // The norm sits INSIDE the per-element lambda (Catalyst re-evaluates
    // outer expressions per element), so it must be the codegen'd dot —
    // a tight primitive loop, bit-identical to the fold by spec — not
    // the interpreted HOF fold, which would cost O(dim²) interpreted
    // work per vector at encode time.
    val nrm = sqrt(ndot(d, d))
    // Zero-norm guard: an all-zero embedding would divide by zero and
    // emit NaN codes that silently poison every downstream ADC score
    // for that row; it quantizes to the zero vector instead.
    when(nrm === lit(0.0), transform(d, _ => lit(0.0)))
      .otherwise(transform(d, x => floor(x * lit(127.0) / nrm + lit(0.5)).cast("double")))
  }

  /** (vec_id, m, us): the M unit-quantized subvectors of each vector. */
  private def pqSubs(emb: DataFrame, dim: Int): DataFrame = {
    require(dim % PqM == 0, s"dim $dim not divisible by $PqM subspaces")
    val sub = dim / PqM
    emb.select(col("vec_id"), quantizeUnit(col("embedding")).as("u"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(PqM - 1)),
          m => slice(col("u"), m * sub + 1, lit(sub)))))
      .toDF("vec_id", "m", "us")
  }

  /** First-K per-subspace codebook: (m, cw, cs) — K·M rows, always
    * broadcast. Parameter-locked (codewords = the unit-quantized
    * subvectors of the first K vectors by id) so the oracle can replay
    * it.
    */
  private[graft] def pqCodebook(emb: DataFrame, dim: Int): DataFrame =
    pqSubs(emb.filter(col("vec_id") < PqK), dim)
      .select(col("m"), col("vec_id").as("cw"), col("us").as("cs"))

  /** PQ encoding: each vector compresses to M single-byte codes — the
    * nearest codeword (integer L2, ties to the smallest id) per
    * subspace. With M = 16 (PqM) subspaces, 64 floats (256 B) become
    * 16 bytes: a 16× smaller scan.
    *
    * Scale: the codebook (K·M rows) broadcasts; the argmin is a
    * map-side-combinable min(struct(d2, cw)) — each partition reduces
    * its N_p·M·K joined candidates to N_p·M partials before the
    * exchange, so the shuffle carries one skinny row per (vector,
    * subspace), never the candidate cross product.
    */
  def pqEncode(emb: DataFrame, dim: Int): DataFrame = {
    // Codeword self-dots, materialized BEFORE the broadcast so the
    // encode join pays ONE dot per candidate pair: argmin_j ‖u − c_j‖²
    // = argmin_j (cs2_j − 2⟨u, c_j⟩) — the u² term is constant within a
    // (vector, subspace) group and cannot move the argmin or its ties.
    val codebook = pqCodebook(emb, dim)
      .select(col("m"), col("cw"), col("cs"), ndot(col("cs"), col("cs")).as("cs2"))
    pqSubs(emb, dim).join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"), col("cw"),
        (col("cs2") - lit(2.0) * ndot(col("us"), col("cs"))).as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("cw"))).as("a"))
      .select(col("vec_id"), col("m"), col("a.cw").as("code"))
  }

  /** Two-stage PQ search over a prebuilt code table ([[pqEncode]]
    * output, typically landed): an ADC pass scores every vector as
    * score(q, v) = Σ_m LUT(q, m, code(v, m)) with LUT(q, m, j) =
    * ⟨q_m, c_{m,j}⟩ — exact integers, deterministic ranking — keeps the
    * top-`shortlist` per query, and an exact float-cosine re-rank (the
    * same [[rerank]] the LSH/IVF paths use) picks the winner. This is
    * the standard IVF-PQ deployment shape: the quantizer narrows
    * N → R cheaply; exactness at the top comes from R true distances.
    *
    * Scale: queries are bounded by contract (the [[bruteTopK]] family
    * contract), so the Q·M·K lookup table broadcasts; the ADC scan
    * reads M bytes per vector — 16× less than the float corpus — and
    * its aggregates are map-side combinable: (q, v) partial sums
    * collapse the M-way join locally, so the exchanges carry skinny
    * (q, v, score) rows, never codes or floats. The re-rank fetches
    * R·Q true vectors via a broadcast semi-join against the corpus —
    * the floats are scanned but never shuffled.
    */
  def pqTopKFromCodes(codes: DataFrame, emb: DataFrame, queryBound: Int,
      dim: Int, shortlist: Int = 20): DataFrame =
    pqTopKFromCodes(codes, emb, queryBound, dim, shortlist, pqCodebook(emb, dim))

  /** [[pqTopKFromCodes]] against an EXPLICIT codebook table ((m, cw,
    * cs) — typically landed next to the codes as part of the index
    * build): the per-query plan skips re-deriving the
    * parameter-locked codebook from the embedding corpus (a second
    * emb scan + quantize + explode per query at serving time).
    */
  def pqTopKFromCodes(codes: DataFrame, emb: DataFrame, queryBound: Int,
      dim: Int, shortlist: Int, codebook: DataFrame): DataFrame =
    rerank(withVectors(
      adcShortlist(codes, emb, queryBound, dim, shortlist, codebook), emb, queryBound))

  /** The ADC stage of PQ search: per query, the top-`shortlist` (qid,
    * cid) candidates of a (vec_id, m, code) table by integer LUT score.
    */
  private def adcShortlist(codes: DataFrame, emb: DataFrame, queryBound: Int,
      dim: Int, shortlist: Int, codebook: DataFrame): DataFrame = {
    val lut = pqSubs(emb.filter(col("vec_id") < queryBound), dim)
      .join(codebook, Seq("m"))
      .select(col("vec_id").as("qid"), col("m"), col("cw"),
        ndot(col("us"), col("cs")).as("dp"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid").asc)
    codes.join(broadcast(lut),
        codes("m") === lut("m") && codes("code") === lut("cw"))
      .groupBy(col("qid"), codes("vec_id").as("cid"))
      .agg(sum(col("dp")).as("score"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
      .select("qid", "cid")
  }

  /** Filtered PQ ANN serving — [[pqTopKFromCodes]] with the metadata
    * predicate composed INTO the code scan (the filtered-trained-IVF
    * pattern): the landed code table carries the filter columns, so
    * eligibility is decided at the parquet scan (a pushed filter — no
    * post-hoc discard of ineligible ADC winners, which would starve a
    * selective predicate's top-k), the ADC pass scores only eligible
    * candidates, and the exact re-rank touches only eligible vectors.
    * Every retrieved row is eligible by construction; one full-corpus
    * code table serves any predicate. Returns top-`k` per query with
    * `rank` (the filtered-family contract).
    */
  def pqTopKNFilteredFromCodes(codes: DataFrame, emb: DataFrame,
      queryBound: Int, k: Int, dim: Int, candWhere: Column,
      shortlist: Int = 20): DataFrame =
    pqTopKNFilteredFromCodes(codes, emb, queryBound, k, dim, candWhere,
      shortlist, pqCodebook(emb, dim))

  /** [[pqTopKNFilteredFromCodes]] against an EXPLICIT (typically
    * landed) codebook — same rationale as the unfiltered overload.
    */
  def pqTopKNFilteredFromCodes(codes: DataFrame, emb: DataFrame,
      queryBound: Int, k: Int, dim: Int, candWhere: Column,
      shortlist: Int, codebook: DataFrame): DataFrame = {
    val eligible = codes.filter(candWhere).select(col("vec_id"), col("m"), col("code"))
    val cand = adcShortlist(eligible, emb, queryBound, dim, shortlist, codebook)
    topKPerQuery(withVectors(cand, emb, queryBound)
      .select(col("qid"), col("cid"), cos6("qv", "cv", "qn", "cn").as("sim")), k)
  }

  /** DuckDB oracle for [[pqTopKFromCodes]] over [[pqEncode]] codes: replays unit quantization, codebook
    * construction, nearest-codeword encoding, integer ADC scoring, the
    * shortlist cut, and the exact-cosine re-rank.
    */
  def pqOracleSql(queryBound: Int, dim: Int, shortlist: Int = 20): String = {
    val sub = dim / PqM
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |u AS (SELECT vec_id, CASE WHEN list_dot_product(v, v) = 0
       |        THEN list_transform(v, x -> 0.0)
       |        ELSE list_transform(v,
       |          x -> floor(x * 127 / sqrt(list_dot_product(v, v)) + 0.5)) END AS u
       |      FROM d),
       |s AS (SELECT vec_id, m,
       |        list_slice(u, m * $sub + 1, m * $sub + $sub) AS us
       |      FROM u CROSS JOIN range($PqM) r(m)),
       |cb AS (SELECT m, vec_id AS cw, us AS cs FROM s WHERE vec_id < $PqK),
       |asn AS (SELECT s.vec_id, s.m, cb.cw,
       |         list_dot_product(s.us, s.us) - 2 * list_dot_product(s.us, cb.cs)
       |           + list_dot_product(cb.cs, cb.cs) AS l2
       |        FROM s JOIN cb USING (m)),
       |code AS (SELECT vec_id, m, cw FROM (
       |        SELECT vec_id, m, cw,
       |          row_number() OVER (PARTITION BY vec_id, m ORDER BY l2, cw) AS rn
       |        FROM asn) WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS qid, q.m, cb.cw,
       |          CAST(list_dot_product(q.us, cb.cs) AS BIGINT) AS dp
       |        FROM s q JOIN cb USING (m) WHERE q.vec_id < $queryBound),
       |sc AS (SELECT lut.qid, code.vec_id AS cid, CAST(sum(lut.dp) AS BIGINT) AS score
       |       FROM code JOIN lut ON code.m = lut.m AND code.cw = lut.cw
       |       WHERE lut.qid <> code.vec_id GROUP BY 1, 2),
       |cand AS (SELECT qid, cid FROM (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM sc) WHERE rn <= $shortlist),
       |p AS (SELECT qid, cid, round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
       |      FROM cand JOIN d qv ON qv.vec_id = qid JOIN d cv ON cv.vec_id = cid)
       |SELECT qid, cid, sim FROM (
       |  SELECT qid, cid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |  FROM p) WHERE rn = 1""".stripMargin
  }

  /** DuckDB oracle for [[pqTopKNFilteredFromCodes]]: replays
    * quantization, first-K codebook construction, nearest-codeword
    * encoding, the ELIGIBILITY predicate on the code table, integer
    * ADC scoring over eligible candidates only, the shortlist cut, and
    * the exact-cosine top-k re-rank. `candWhere` is a SQL predicate
    * over the embeddings columns.
    */
  def pqFilteredOracleSql(queryBound: Int, k: Int, dim: Int,
      candWhere: String, shortlist: Int = 20): String = {
    val sub = dim / PqM
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |el AS (SELECT vec_id FROM embeddings WHERE $candWhere),
       |u AS (SELECT vec_id, CASE WHEN list_dot_product(v, v) = 0
       |        THEN list_transform(v, x -> 0.0)
       |        ELSE list_transform(v,
       |          x -> floor(x * 127 / sqrt(list_dot_product(v, v)) + 0.5)) END AS u
       |      FROM d),
       |s AS (SELECT vec_id, m,
       |        list_slice(u, m * $sub + 1, m * $sub + $sub) AS us
       |      FROM u CROSS JOIN range($PqM) r(m)),
       |cb AS (SELECT m, vec_id AS cw, us AS cs FROM s WHERE vec_id < $PqK),
       |asn AS (SELECT s.vec_id, s.m, cb.cw,
       |         list_dot_product(s.us, s.us) - 2 * list_dot_product(s.us, cb.cs)
       |           + list_dot_product(cb.cs, cb.cs) AS l2
       |        FROM s JOIN cb USING (m)),
       |code AS (SELECT vec_id, m, cw FROM (
       |        SELECT vec_id, m, cw,
       |          row_number() OVER (PARTITION BY vec_id, m ORDER BY l2, cw) AS rn
       |        FROM asn) WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS qid, q.m, cb.cw,
       |          CAST(list_dot_product(q.us, cb.cs) AS BIGINT) AS dp
       |        FROM s q JOIN cb USING (m) WHERE q.vec_id < $queryBound),
       |sc AS (SELECT lut.qid, code.vec_id AS cid, CAST(sum(lut.dp) AS BIGINT) AS score
       |       FROM code JOIN el USING (vec_id)
       |       JOIN lut ON code.m = lut.m AND code.cw = lut.cw
       |       WHERE lut.qid <> code.vec_id GROUP BY 1, 2),
       |cand AS (SELECT qid, cid FROM (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM sc) WHERE rn <= $shortlist),
       |p AS (SELECT qid, cid, round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
       |      FROM cand JOIN d qv ON qv.vec_id = qid JOIN d cv ON cv.vec_id = cid)
       |SELECT qid, cid, sim, CAST(rn AS INT) AS rank FROM (
       |  SELECT qid, cid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |  FROM p) WHERE rn <= $k""".stripMargin
  }

  /** DuckDB oracle for [[q8TopKFromCodes]] over [[quantizeCorpus]]
    * codes: replicates the quantization and the
    * integer-exact scoring term for term.
    */
  def q8OracleSql(queryBound: Int): String =
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sc AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127 AS s FROM d),
       |z AS (SELECT vec_id,
       |        list_transform(v, x -> floor(x / s + 0.5)) AS q FROM sc),
       |n AS (SELECT vec_id, q, list_dot_product(q, q) AS nrm FROM z),
       |p AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |        round(list_dot_product(a.q, b.q) / sqrt(a.nrm * b.nrm), 6) AS sim
       |      FROM n a JOIN n b ON a.vec_id <> b.vec_id
       |      WHERE a.vec_id < $queryBound),
       |r AS (SELECT qid, cid, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
       |      FROM p)
       |SELECT qid, cid, sim FROM r WHERE rn = 1""".stripMargin
}
