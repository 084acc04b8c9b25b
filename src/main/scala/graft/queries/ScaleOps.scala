package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Round-4 scale-path battery: operators whose point is the 100 TB
  * execution shape — event-time interval joins (the stream-stream
  * attribution primitive), storage-bucketed co-located joins, quantized
  * similarity search over a landed int8 index, keyed CDC merge, and the
  * repetition/PII corpus gates. Each entry is oracle-checked like every
  * other registered query.
  */
object ScaleOps {

  /** View → purchase attribution within 30 minutes, routed through the
    * shared batch/stream operator (`IntervalJoinSpec` proves a
    * MemoryStream run of the same function emits the same rows).
    */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    graft.stream.IntervalJoin.attribution(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"),
        "30 minutes")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        round(col("purchase_value"), 2).as("purchase_value"))
  }

  /** Left-outer attribution: views that did NOT convert surface with
    * NULL purchase columns ([[graft.stream.IntervalJoin.attributionLeft]];
    * `IntervalJoinSpec` proves the streaming emission of the negatives).
    */
  def intervalJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    graft.stream.IntervalJoin.attributionLeft(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"),
        "30 minutes")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        round(col("purchase_value"), 2).as("purchase_value"))
  }

  /** The bucketed orders/lineitem pair as catalog tables; the operator
    * under measurement is the co-located JOIN.
    */
  private def landBucketed(s: SparkSession, dir: String): (String, String) = {
    val tag = graft.Tables.pathTag(dir)
    val (ot, lt) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    graft.Tables.land("bkt", dir) { base =>
      graft.sink.BucketedLayout.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
        ot, s"$base/orders", 16, "o_orderkey")
      graft.sink.BucketedLayout.writeBucketed(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        lt, s"$base/lineitem", 16, "l_orderkey")
    }
    (ot, lt)
  }

  /** Fact-fact revenue join off the bucketed layout: both scans emit
    * HashPartitioning(key, 16), so the join inserts NO exchange
    * (`BucketedLayoutSpec` asserts zero shuffles under the join) — only
    * the 3-group aggregate shuffles. Revenue goes through DECIMAL(18,4)
    * so the sum is order-independent and engine-exact: the raw double
    * product is a ≤4-decimal quantity (2-decimal price × 2-decimal
    * discount), recovered exactly by the cast, summed in integer
    * decimal arithmetic in both Spark and DuckDB.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = landBucketed(s, dir)
    s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** Cosine top-1 on int8-quantized vectors. The code table is landed
    * — quantization is index-build cost, queries pay only the
    * 4×-smaller code scan. The oracle replicates quantization +
    * integer-exact scoring from the raw embeddings; `SimSearchSpec`
    * measures top-1 agreement with the float path.
    */
  def simTopKQ8(s: SparkSession, dir: String): DataFrame = {
    graft.ext.SimSearch.q8TopKFromCodes(graft.Tables.landed(s, "q8", dir) {
      graft.ext.SimSearch.quantizeCorpus(t(s, dir, "embeddings"))
    }, 100)
  }

  /** Product-quantization ADC top-1: the corpus compresses ONCE to
    * M = 16 single-byte codes per vector (16× smaller than the floats)
    * and is landed; queries touch only the landed code table plus a
    * broadcast lookup table — the float corpus is never rescanned.
    * Codebook is parameter-locked to the first-256 subvectors so the
    * DuckDB oracle replays encoding and scoring integer-exactly;
    * `SimSearchSpec` measures top-1 agreement with brute force.
    */
  /** The parameter-locked PQ codebook, landed with the index (r17):
    * deriving it per query re-scanned + re-quantized the first-256
    * embedding slice at serving time — index-build cost, paid at
    * serving rate. The landed rows are bit-identical to the
    * derivation, so every PQ oracle (which replays the derivation) is
    * untouched.
    */
  private[queries] def pqCodebookLanded(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "pq_cb", dir) {
      graft.ext.SimSearch.pqCodebook(t(s, dir, "embeddings"), 64)
    }

  def simTopKPq(s: SparkSession, dir: String): DataFrame = {
    val codes = graft.Tables.landed(s, "pq", dir) {
      graft.ext.SimSearch.pqEncode(t(s, dir, "embeddings"), 64)
    }
    graft.ext.SimSearch.pqTopKFromCodes(codes, t(s, dir, "embeddings"), 100, 64,
      shortlist = 20, codebook = pqCodebookLanded(s, dir))
  }

  /** Filtered PQ ANN serving: the metadata predicate composed into the
    * LANDED code table — codes are landed WITH their filter columns,
    * so eligibility pushes down to the code parquet scan; ADC and the
    * exact re-rank touch only eligible candidates. Completes the
    * filtered-ANN family (brute = exactness contrast, trained-IVF =
    * cell-composed predicate, PQ = compressed-code predicate).
    */
  /** The landed PQ code table WITH its metadata columns — the filtered
    * serving artifact (predicates push down to this scan).
    */
  private[queries] def pqCodesWithMeta(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.Tables.landed(s, "pqf", dir) {
      graft.ext.SimSearch.pqEncode(emb, 64)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
    }
  }

  def simTopKPqFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.SimSearch.pqTopKNFilteredFromCodes(
      pqCodesWithMeta(s, dir), t(s, dir, "embeddings"), 100, 5, 64,
      $"label" === 1, shortlist = 20, codebook = pqCodebookLanded(s, dir))
  }

  /** Retrieval-quality grade of the PQ index (ADC shortlist + exact
    * re-rank over the landed codes) vs brute-force ground truth — the
    * [[graft.ext.AnnEval.recallAtK]] measurement applied to the
    * compressed-code family, so both deployed index types (trained IVF
    * in `ann_recall`, PQ here) carry recall evidence. Oracle nests the
    * two existing replays.
    */
  def annRecallPqQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.ext.AnnEval.recallAtK(
      graft.ext.SimSearch.pqTopKNFilteredFromCodes(
        pqCodesWithMeta(s, dir), emb, 64, 10, 64, lit(true),
        shortlist = 20, codebook = pqCodebookLanded(s, dir)),
      graft.ext.SimSearch.bruteTopKNFiltered(emb, 64, 10))
  }

  /** CDC merge over customer: a deterministic change feed (two stacked
    * updates — latest wins, deletes — including a delete that outranks
    * an update on %77 keys, and keyspace-shifted inserts) applied via
    * the broadcast-anti-join merge. `CdcMergeSpec` asserts the
    * base-never-shuffles plan shape.
    */
  def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    def upd(add: Double, seq: Int): DataFrame = cust
      .filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + add)
      .withColumn("op", lit("U")).withColumn("seq", lit(seq))
    val del = cust.filter(col("c_custkey") % 11 === 0)
      .withColumn("op", lit("D")).withColumn("seq", lit(3))
    val ins = cust.filter(col("c_custkey") % 13 === 0)
      .withColumn("c_custkey", col("c_custkey") + 10000000L)
      .withColumn("op", lit("I")).withColumn("seq", lit(1))
    val changes = upd(50.0, 1).unionByName(upd(100.0, 2))
      .unionByName(del).unionByName(ins)
    graft.transform.CdcMerge.applyChanges(cust, changes, "c_custkey")
  }

  /** Version snapshot diff (K5 time travel, exercised end to end):
    * customer publishes as v1, the CDC-merged state as v2, and
    * [[graft.sink.WarehousePublisher.snapshotDiff]] classifies every
    * key as added / removed / changed from the two time-travel reads.
    * The change feed is the deterministic cdc_merge one, so the
    * classification is pure key arithmetic for the oracle: %11 keys
    * were deleted (delete outranks the %77 update overlap), remaining
    * %7 keys changed (acctbal bumped), %13 keys re-inserted shifted
    * (added).
    */
  def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val tag = graft.Tables.pathTag(dir)
    val cfg = graft.config.WarehouseConfig(
      schema = "graft_snap", table = tag, analyze = false)
    graft.Tables.land("snap", dir) { _ =>
      graft.sink.WarehousePublisher.publish(s, t(s, dir, "customer"), cfg)
      graft.sink.WarehousePublisher.publish(s, cdcMerge(s, dir), cfg)
    }
    graft.sink.WarehousePublisher.snapshotDiff(
      s, cfg.qualified, "c_custkey", oldVersion = 1L, newVersion = 2L)
  }

  /** Incremental aggregate refresh, end to end through the versioned
    * warehouse: the per-user rollup of 90% of events publishes as v1,
    * then [[graft.transform.IncrementalAgg.merge]] folds the remaining
    * 10% delta's aggregate in and publishes v2 — WITHOUT re-reading the
    * base facts. The oracle aggregates ALL events directly, so the gate
    * is the incremental-view-maintenance identity itself:
    * merge(agg(base), agg(Δ)) = agg(base ∪ Δ), exact because every
    * measure is a sum-decomposable integer.
    */
  def incrAgg(s: SparkSession, dir: String): DataFrame = {
    val tag = graft.Tables.pathTag(dir)
    val cfg = graft.config.WarehouseConfig(
      schema = "graft_incr", table = tag, analyze = false)
    def rollup(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100, 0) as bigint)")).as("v_cents"))
    graft.Tables.land("incr", dir) { _ =>
      val e = t(s, dir, "events")
      graft.sink.WarehousePublisher.publish(
        s, rollup(e.filter(col("event_id") % 10 =!= 0)), cfg)
      val v1 = graft.sink.WarehousePublisher.readVersion(s, cfg.qualified, 1L)
      graft.sink.WarehousePublisher.publish(
        s,
        graft.transform.IncrementalAgg.merge(
          v1, rollup(e.filter(col("event_id") % 10 === 0)),
          Seq("user_id"), Seq("n_events", "v_cents")),
        cfg)
    }
    graft.sink.WarehousePublisher.readVersion(s, cfg.qualified, 2L)
      .select(col("user_id"), col("n_events"), col("v_cents"))
  }

  /** Deterministic pseudonymization with PRESERVED JOINABILITY: keyed
    * salted-hash tokens replace raw identifiers (same input + salt →
    * same token), so de-identified datasets still join on the
    * tokenized key — the privacy-engineering step beyond redaction
    * (pii_redact destroys linkage; tokenization keeps it, raw ids
    * never leave the scan projection). The query proves it: the
    * per-segment order counts THROUGH the token join equal the plain
    * key join's. Tokenization is map-side; the join keeps the key
    * join's exact shape (hash of a hash distributes identically).
    */
  def pseudoJoin(s: SparkSession, dir: String): DataFrame = {
    val salt = "graft_salt_v1"
    def tok(c: org.apache.spark.sql.Column) =
      md5(concat_ws(":", lit(salt), c.cast("string")))
    val cust = t(s, dir, "customer")
      .select(tok(col("c_custkey")).as("cust_token"), col("c_mktsegment"))
    t(s, dir, "orders")
      .select(tok(col("o_custkey")).as("cust_token"))
      .join(broadcast(cust), "cust_token")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Benford first-digit audit (numeric forensics): observed leading-
    * digit distribution of order totals vs the Benford expectation —
    * the fraud/fabrication screen auditors run on monetary columns.
    * The digit comes from the integer-cent string (leading significant
    * digit is invariant under the ×100 shift), so extraction is exact
    * on both engines; the two floats are one division of exact longs
    * and one engine-native log10, each rounded. Map-side partial
    * aggregate; the digit frame is 9 rows.
    */
  def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    val digits = t(s, dir, "orders")
      .select(substring(
        expr("cast(cast(round(o_totalprice * 100, 0) as bigint) as string)"),
        1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    digits.select(col("digit"), col("n"),
      round(col("n") / sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))), 6)
        .as("obs_p"),
      round(log10((col("digit") + 1) / col("digit")), 6).as("benford_p"))
  }

  /** Gopher-style repetition gate over documents (thresholds chosen to
    * split the fixture: top-word fractions run 0.05-0.25, duplicate-
    * bigram fractions 0-0.14).
    */
  def repRatio(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.repetitionScores(
      t(s, dir, "documents"), "doc_id", "text", 0.12, 0.05)

  /** Salted skew join: lineitem ⨝ part with the fact side scattered
    * across 8 salt buckets and the dimension replicated per bucket —
    * the explicit pre-shuffle remedy for a hot key that AQE's runtime
    * split cannot reach (broadcast-ineligible dim, skew known up
    * front). Result is identical to the plain join (`SkewJoinSpec`);
    * the quantity sum routes through DECIMAL(18,4) so both engines add
    * exact integers regardless of grouping order.
    */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
    val p = t(s, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
    graft.ext.SkewJoin.saltedJoin(li, p, "l_partkey", salts = 8)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Two-phase salted aggregation on a 3-value group key — the
    * explicit escape hatch when one group is too hot for a single
    * reducer even after partial aggregation. The pre-cast decimal
    * column keeps the two-level sum order-independent and
    * engine-exact.
    */
  def skewAgg(s: SparkSession, dir: String): DataFrame =
    graft.ext.SkewJoin.saltedSumCount(
        t(s, dir, "lineitem")
          .withColumn("qty_dec", col("l_quantity").cast("decimal(18,4)")),
        "l_returnflag", "qty_dec", salts = 8)
      .select(col("l_returnflag"),
        col("sum_value").cast("double").as("sum_value"), col("n_rows"))

  /** Two-dimensional selective scan off the Z-ordered layout. The
    * lineitem projection is landed as Morton-clustered sorted files
    * (`ZOrder.writeZOrdered`); the query
    * under measurement is the pruned scan — `ZOrderSpec` proves files
    * are skipped on BOTH predicate dimensions, which a linear sort
    * gives only for its leading column. The oracle filters the raw
    * table: layout must never change results.
    */
  def zorderScan(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.landedWith(s, "zorder", dir) { path =>
      val proj = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      // Derive the z-key width from the observed key range (zValue's
      // contract: values must fit [0, 2^bits) or high bits silently
      // drop and distant keys collide on the z key).
      graft.ext.ZOrder.writeZOrdered(proj, path, "l_partkey", "l_suppkey",
        bits = graft.ext.ZOrder.deriveBits(proj, "l_partkey", "l_suppkey"),
        numFiles = 16)
    }.filter(col("l_partkey").between(100, 300) && col("l_suppkey").between(1, 40))
  }

  /** Schema-evolution read (SURVEY §1 "mergeSchema"): two parquet
    * landings of the same table written under DIFFERENT schema versions
    * (v2 adds a column) are read back as one frame via mergeSchema —
    * old files surface the added column as NULL. The oracle states the
    * same union over the raw table, so the merged read is checked
    * value-exact, not just shape-compatible.
    */
  def schemaMerge(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Tables.land("evolve", dir) { path =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$path/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$path/v2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** Incremental near-dup off a LANDED index: the base corpus
    * (doc_id % 10 ≠ 7) lands once as two bucketed tables — band keys
    * bucketed on `bkey`, shingle sets bucketed on `doc_id` — and the
    * increment (doc_id % 10 = 7) probes them. Base-side rows of both
    * the candidate and verify joins come off the scan pre-partitioned;
    * only increment-sized data shuffles (`IncrementalDedupSpec`
    * asserts the no-base-exchange plan shape). Geometry is the derived
    * bandingFor(0.5) = (22, 11) — same recall argument as
    * `dedup_near`.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val tag = graft.Tables.pathTag(dir)
    val (kt, st) = (s"graft_ndx_keys_$tag", s"graft_ndx_sh_$tag")
    val docs = t(s, dir, "documents")
    graft.Tables.land("ndx", dir) { base =>
      val (numHashes, numBands) = graft.ext.NearDup.bandingFor(0.5)
      val baseSh = graft.ext.NearDup.shingleSets(
        docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", 3)
      graft.sink.BucketedLayout.writeBucketed(
        graft.ext.NearDup.bandIndex(baseSh, numHashes, numBands),
        kt, s"$base/keys", 16, "bkey")
      graft.sink.BucketedLayout.writeBucketed(
        baseSh, st, s"$base/sh", 16, "doc_id")
    }
    graft.ext.NearDup.incrementalPairs(
      docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 0.5,
      s.table(kt), s.table(st))
  }

  /** Stream-static enrichment rollup (batch twin of the shared
    * operator — `StreamEnrichSpec` proves a MemoryStream run of the
    * same function emits the same rows): events enriched with the
    * customer segment via a broadcast dimension join, rolled up per
    * (segment, event type).
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame =
    graft.stream.StreamEnrich.segmentRollup(
      t(s, dir, "events"), t(s, dir, "customer"),
      "user_id", "c_custkey", "c_mktsegment")

  /** One-pass EXACT column profile of lineitem (ANALYZE-style quality
    * metrics): 4 aggregates per column in ONE job, unpivoted to long
    * format ([[graft.quality.Profiler]]). Columns restricted to
    * int/string: min/max surface through a string cast, and
    * double/timestamp formatting differs between engines. Registered
    * as the OPT-IN `profile_table_exact`: exact count-DISTINCT
    * compiles to Expand ×(cols+1), so the default `profile_table`
    * routes to [[profileLineitemApprox]]'s no-Expand plan.
    */
  def profileLineitem(s: SparkSession, dir: String): DataFrame =
    graft.quality.Profiler.profile(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))

  /** The scale-path profile and the registered DEFAULT
    * `profile_table`: HLL cardinality instead of exact distinct — no
    * Expand, map-side partials only (sketch-bounded like
    * `approx_distinct`: rows-only driver check; `ProfilerSpec` bounds
    * it against the exact profile).
    */
  def profileLineitemApprox(s: SparkSession, dir: String): DataFrame =
    graft.quality.Profiler.profileApprox(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))

  /** Fixed-width price histogram (5000-wide bins) — the distribution
    * half of the profiling pass; sparse bins, two-phase aggregate.
    */
  def priceHistogram(s: SparkSession, dir: String): DataFrame =
    graft.quality.Profiler.histogram(t(s, dir, "lineitem"), "l_extendedprice", 5000.0)

  /** Partition-pruned scan off a Hive-layout landing (K1 read side):
    * orders land once partitioned by order year; the year-filtered
    * read touches only matching directories —
    * `PruneFileSourcePartitions` turns the predicate into partition
    * pruning, the property that keeps a 100 TB time-partitioned table
    * scannable (`PartitionPruneSpec` asserts selected < total
    * partitions and the pushed partition filter).
    */
  def partitionScan(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.landedWith(s, "part", dir) { path =>
      graft.sink.PartitionedWriter.write(
        t(s, dir, "orders")
          .withColumn("order_year", year(col("o_orderdate"))),
        path, partitionBy = Seq("order_year"))
    }.filter(col("order_year") === 1995)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("order_year").cast("long").as("order_year"))
  }

  /** Co-purchase pair mining (association analysis): unordered part
    * pairs that appear together in ≥2 orders. The pair generation is
    * ARRAY arithmetic, not a self-join: one exchange collects each
    * order's distinct sorted parts, then nested `transform` + `slice`
    * emits the C(n,2) combinations per order inline — the candidate
    * count is bounded by Σ C(items-per-order, 2) (basket-sized, ~6 per
    * order here), never |lineitem|². A self-join on l_orderkey builds
    * the same pairs but scans and shuffles lineitem twice; the DuckDB
    * oracle deliberately IS that other formulation.
    */
  def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    minePairsFromSigs(landedBasketSigs(s, dir), fixedFloor = 2, floorFrac = None)

  /** Density-normalized minimum support, as a fraction of baskets —
    * the classic Apriori minsup. 2e-5 keeps the floor at the absolute
    * minimum (2) for fixtures up to ~100k baskets, then grows linearly
    * with the corpus: on a replicated 10× corpus (the sf1 scale-up
    * fixture) the floor reaches 30 and admits exactly the pairs whose
    * RELATIVE co-occurrence frequency clears it — a fixed ≥2 floor
    * saturates there (every pair eventually co-occurs twice) and blows
    * up the downstream wedge joins (PLANS_r06: 61 → 1.88M triangles).
    */
  val CopurchaseNormFrac = 2e-5

  /** [[copurchasePairs]] under the density-normalized floor — the
    * registered scale-safe variant; the shared [[copurchaseEdges]]
    * landing (pagerank / degree_hist / assoc_rules / triangle_count)
    * rides this rule too.
    */
  def copurchaseNorm(s: SparkSession, dir: String): DataFrame =
    minePairsFromSigs(landedBasketSigs(s, dir),
      fixedFloor = 2, floorFrac = Some(CopurchaseNormFrac))

  /** The pair miner over any (basket, item) frame. `fixedFloor` is the
    * absolute co-occurrence floor (the oracle contract above);
    * `floorFrac` additionally demands support ≥ ceil(frac · #baskets) —
    * the density-NORMALIZED knob. The fixed floor is density-relative
    * in disguise: at 100 TB a ≥2 floor saturates (PLANS_r06 measured
    * 61 → 1.88M triangles at 10× because every pair eventually
    * co-occurs twice), while a fractional floor keeps the graph sparse
    * under any scale-up since true association frequencies, not raw
    * counts, gate the edge. The basket count rides a broadcast 1-row
    * cross join — no collect, no extra pass over the pair list.
    */
  def minePairs(
      baskets: DataFrame, orderCol: String, itemCol: String,
      fixedFloor: Int, floorFrac: Option[Double]): DataFrame =
    minePairsFromSigs(
      basketSigsOf(baskets, orderCol, itemCol), fixedFloor, floorFrac)

  /** The transaction-merged basket signature table (parts, __m) —
    * the FP-growth identical-transaction collapse: baskets with the
    * SAME item set fold into one weighted signature BEFORE the
    * quadratic pair expansion, so the C(k,2) explode runs once per
    * DISTINCT basket signature and the pair aggregate sums
    * multiplicities. support = Σ multiplicity = basket count
    * containing the pair — bit-identical to expanding every basket.
    * At scale this bounds the expansion by the signature universe
    * instead of the basket count (retail corpora repeat single-item
    * and common-pair baskets heavily; the r12 sf10 probe measured
    * 36 M → 3.6 M expansions on the replicated fixture); the worst
    * case (all baskets distinct) adds one signature-keyed exchange of
    * one row per basket — strictly smaller rows than the pair
    * expansion it feeds.
    */
  private def basketSigsOf(
      baskets: DataFrame, orderCol: String, itemCol: String): DataFrame =
    baskets
      .groupBy(col(orderCol))
      .agg(array_sort(collect_set(col(itemCol))).as("parts"))
      .groupBy(col("parts"))
      .agg(count(lit(1)).as("__m"))

  /** The lineitem basket signatures, landed — the shared mining prefix of
    * copurchase_pairs / copurchase_norm / triangle_topk (and, through
    * copurchase_norm, the [[copurchaseEdges]] consumers): each of
    * those rows previously re-scanned lineitem and re-paid the basket
    * collect_set + signature-merge exchanges (~1.7-2.0 s each at
    * sf0.1) to build the IDENTICAL table. Landing it is the same move
    * a production pipeline makes by persisting its transaction-merge
    * output; the signature table is strictly smaller than lineitem
    * (one row per distinct basket signature), and the support
    * aggregation — the actual mining — still runs per query.
    */
  private[queries] def landedBasketSigs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "sigs", dir) {
      basketSigsOf(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
    }

  /** The support aggregation + floor over a signature table —
    * [[minePairs]] from the merge point on.
    */
  private[queries] def minePairsFromSigs(
      sigs: DataFrame, fixedFloor: Int, floorFrac: Option[Double]): DataFrame = {
    val pairs = sigs.select(col("__m"), explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .agg(sum(col("__m")).as("support"))
    floorFrac match {
      case None => pairs.filter(col("support") >= fixedFloor)
      case Some(frac) =>
        // Basket count folds from the signature table (Σ multiplicity
        // = one per distinct order, exactly) — no second scan +
        // distinct over the raw baskets; the sigs exchange is reused.
        val n = sigs.agg(sum(col("__m")).as("__n_baskets"))
        pairs.crossJoin(broadcast(n))
          .filter(col("support") >=
            greatest(lit(fixedFloor), ceil(lit(frac) * col("__n_baskets"))))
          .drop("__n_baskets")
    }
  }

  /** The support-filtered co-purchase pair list, landed: pagerank, degree_hist,
    * assoc_rules and triangle_count all consume this same sparse edge
    * list, and re-mining it per query re-scans lineitem and re-shuffles
    * the basket arrays each time (~1.8 s each at sf0.1). Landing the
    * shared prefix is the same move a production pipeline makes by
    * persisting its edge table. `copurchase_pairs` (like
    * `copurchase_norm` and `triangle_topk`) reads the landed
    * basket-signature table too, so only the support-aggregation
    * suffix of the mining plan is benched per query; the lineitem scan
    * and signature-merge prefix run once per fixture dir, when that
    * table lands.
    */
  def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    graft.Tables.landed(s, "edges_norm", dir)(copurchaseNorm(s, dir))

  /** SCD2 point-in-time dimension join: each order attached to the
    * dimension version ACTIVE at order date — the warehouse temporal
    * join (effective-dated attributes), composed from the as-of
    * operator: "active version at t" IS a backward as-of on
    * valid_from, so the one-exchange union-sort-carry shape replaces
    * the BETWEEN-range self-join entirely. The versioned dimension is
    * synthesized deterministically (3 versions per customer, arithmetic
    * effective dates), so the DuckDB oracle — its native ASOF LEFT
    * JOIN — replays it exactly; orders before a customer's first
    * version keep a NULL segment (left shape).
    */
  def scd2Join(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer").select(col("c_custkey"))
      .select(col("c_custkey"), explode(sequence(lit(0), lit(2))).as("v"))
      .select(col("c_custkey"), col("v").cast("int").as("v"),
        date_add(to_date(lit("1993-01-01")),
          (col("v") * 500 + col("c_custkey") % 97).cast("int")).as("valid_from"),
        ((col("c_custkey") * 7 + col("v")) % 5).cast("int").as("segment"))
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    graft.ext.AsofJoin.asofBackward(
        orders, "o_custkey", "o_orderdate",
        dim, "c_custkey", "valid_from", Seq("segment", "v"))
      .groupBy(col("segment"), col("v"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"))
  }

  /** Triangles in the co-purchase graph: part triples where all three
    * pairs co-occur in ≥2 orders — the cohesion primitive (bundle
    * detection, graph-density features) one rung up from pair mining.
    * Edges are canonically a<b, so each triangle enumerates exactly
    * once as a<b<c with no orientation dedup. Both joins run on the
    * SPARSE pair list (support-filtered — bounded by true pairs, never
    * lineitem²): wedge build keyed on the shared endpoint, then a
    * closing equi-join on (a, c). Intermediate size is Σ deg(b)² over
    * the filtered graph — the standard edge-list triangle shape.
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    trianglesOf(copurchaseEdges(s, dir))

  /** Canonical a<b<c wedge-join triangle closure over an a<b edge
    * list: wedge build keyed on the shared endpoint, then a closing
    * equi-join on (a, c). Intermediate size is Σ deg(b)² over the
    * input graph.
    */
  private def trianglesOf(edges: DataFrame): DataFrame = {
    // The edge list is consumed three times (two wedge sides + the
    // closing join) and arrives as a TakeOrderedAndProject, which has
    // no exchange AQE could reuse — without a materialization point
    // the whole upstream mining chain re-runs per consumer (the r16
    // before-plan had 6 parquet scans and 45 MB shuffle-read vs 21 MB
    // written). One exchange on part_a materializes the (≤ K-row)
    // edges once; the second wedge side consumes it key-aligned.
    val e = edges.select(col("part_a"), col("part_b"))
      .repartition(col("part_a"))
    val wedges = e.select(col("part_a").as("a"), col("part_b").as("b"))
      .join(e.select(col("part_a").as("b"), col("part_b").as("c")), "b")
    wedges.join(
        e.select(col("part_a").as("a"), col("part_b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Edge cap for [[triangleTopK]]: bounds the wedge-join input at any
    * corpus size. */
  val TriangleTopEdges = 20000

  /** Triangles among the [[TriangleTopEdges]] STRONGEST co-purchase
    * edges (support ≥ 2, then a deterministic top-K by (support desc,
    * part_a, part_b)) — the dense-subgraph cohesion variant, and the
    * geometry that keeps the triangle plan DISCRIMINATING at every
    * scale: the normalized floor (`triangle_count`) is the 100 TB
    * contract but thins a random-basket fixture to zero triangles at
    * sf0.1, so a bench row there exercised none of the wedge-join
    * plan; while a bare fixed floor saturates at sf1 (PLANS_r06:
    * 61 → 1.88M triangles for 10× data). The top-K cap gives both:
    * non-empty wherever support-2 pairs exist, and wedge input bounded
    * by K regardless of how the graph densifies — at 100 TB this is
    * "triangles among the K strongest associations", a real
    * dense-subgraph primitive. The global top-K is a
    * TakeOrderedAndProject (per-partition top-K + one merge), never a
    * full sort.
    */
  def triangleTopK(s: SparkSession, dir: String): DataFrame =
    trianglesOf(
      minePairsFromSigs(landedBasketSigs(s, dir), fixedFloor = 2, floorFrac = None)
        .orderBy(col("support").desc, col("part_a").asc, col("part_b").asc)
        .limit(TriangleTopEdges))

  /** Per-group numeric outlier gate: lineitem prices vs their return-
    * flag group's z-score, moments exact in integer cents
    * ([[graft.quality.Profiler.zScoreOutliers]]). Threshold 1.5σ —
    * the fixture's uniform prices cap |z| at √3, so a 3σ gate would be
    * vacuously empty; the operator's contract is the deterministic
    * flagging, not the threshold.
    */
  def numericOutliers(s: SparkSession, dir: String): DataFrame =
    graft.quality.Profiler.zScoreOutliers(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_extendedprice"),
            round(col("l_extendedprice") * 100).cast("long").as("price_cents")),
        "l_returnflag", "price_cents", threshold = 1.5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), col("z"))

  /** Blocked fuzzy entity matching over customer names: block on the
    * 16-char prefix (stable part — "Customer#" + first 7 of 9 digits),
    * verify levenshtein ≤ 1 within blocks ([[graft.ext.FuzzyJoin]]).
    * The oracle replicates the blocking, so the gate is deterministic;
    * cross-block typos are out of contract by design.
    */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame =
    graft.ext.FuzzyJoin.blockedPairs(
      t(s, dir, "customer"), "c_custkey", "c_name",
      substring(col("c_name"), 1, 16), maxDist = 1)

  /** PII scrub over documents carrying deterministic synthetic contact
    * strings (the fixture corpus has no organic PII to find).
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val withPii = t(s, dir, "documents").select(col("doc_id"),
      concat(substring(col("text"), 1, 80),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    graft.ext.TextAnalysis.redactPii(withPii, "doc_id", "text")
  }

  /** Runtime Bloom-pruned fact ⋈ dim join ([[graft.ext.BloomJoin]]):
    * the filter built over the selective customer subset's keys drops
    * ~91 % of orders BEFORE the join's exchange; the join removes the
    * filter's bounded false positives, so the composition is exactly
    * the plain join the oracle runs.
    */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000)
    graft.ext.BloomJoin.prunedEquiJoin(
        t(s, dir, "orders"), "o_custkey", dim, "c_custkey",
        expectedItems = 100000L, fpp = 0.01)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("c_name"))
  }

  /** File-level zone-map data skipping ([[graft.ext.ZoneMap]]):
    * lineitem landed range-clustered on l_shipdate with a landed
    * min/max-per-file index; a 3-month predicate resolves against the
    * index to the 1-2 intersecting files of 16, which are the only
    * ones opened. The residual filter keeps the result exactly equal
    * to the plain scan the oracle runs.
    */
  def zonemapScan(s: SparkSession, dir: String): DataFrame = {
    val data = graft.Tables.land("zonemap", dir) { path =>
      graft.ext.ZoneMap.landClustered(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("l_quantity")),
        path, "l_shipdate", numFiles = 16)
    }
    val idx = graft.Tables.landed(s, "zonemap_index", dir) {
      graft.ext.ZoneMap.buildIndex(s, data, "l_shipdate")
    }
    graft.ext.ZoneMap.prunedRangeScan(s, data, idx,
      "l_shipdate",
      java.sql.Timestamp.valueOf("1997-06-01 00:00:00"),
      java.sql.Timestamp.valueOf("1997-08-31 00:00:00"))._1
  }

  /** File-level Bloom data skipping ([[graft.ext.BloomSkip]]): lineitem
    * landed clustered on l_orderkey with a per-file Bloom index; an
    * IN-list probe of 5 scattered orderkeys consults the index and
    * opens only might-contain files (clustering puts each key in one
    * file, so ~≤5 of 16 open; false positives cost an extra open,
    * never correctness). Residual IN filter keeps the result exactly
    * the plain scan the oracle runs.
    */
  def bloomskipScan(s: SparkSession, dir: String): DataFrame = {
    val data = graft.Tables.land("bloomskip", dir) { path =>
      graft.ext.ZoneMap.landClustered(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")),
        path, "l_orderkey", numFiles = 16)
    }
    val idx = graft.Tables.landed(s, "bloomskip_index", dir) {
      graft.ext.BloomSkip.buildIndex(s, data, "l_orderkey", 100000L, 0.01)
    }
    graft.ext.BloomSkip.prunedInScan(s, data, idx,
      "l_orderkey", BloomSkipProbeKeys)._1
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 2).as("l_quantity"),
        round(col("l_extendedprice"), 2).as("l_extendedprice"))
  }

  /** Probe keys for [[bloomskipScan]] — spread across the key range so
    * several distinct files qualify; shared with the oracle below.
    */
  private val BloomSkipProbeKeys: Seq[Long] = Seq(1L, 977L, 5003L, 10007L, 14009L)

  /** Materialized-rollup query routing ([[graft.plans.RollupRewrite]]):
    * a landed (returnflag, linestatus) rollup of lineitem + the
    * session-installed Catalyst rule; the registered query is the
    * PLAIN aggregate over the base scan — the optimizer reroutes it to
    * the KB-scale rollup (spec-asserted), and the oracle's direct
    * GROUP BY proves the rewrite is semantically invisible.
    */
  def mvRewriteScan(s: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/lineitem.parquet"
    val rollupPath = graft.Tables.land("mv", dir) { path =>
      s.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
        .write.mode("overwrite").parquet(path)
    }
    graft.plans.RollupRewrite.install(s, graft.plans.RollupTarget(
      base, rollupPath, Seq("l_returnflag", "l_linestatus"), "n_rows",
      Map("l_quantity" -> "sum_qty")))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** MV routing over the full mergeable-aggregate family: the rollup
    * additionally lands min/max per group, and the registered query
    * asks min / max / avg / count — min and max route to their landed
    * columns, avg rewrites to sum_qty / n_rows (avg itself is not
    * mergeable; its pieces are), count to n_rows. Exactness of the avg
    * path rides the integral-valued-measure discipline (sum and count
    * are exact, so the one double division is deterministic on both
    * engines).
    */
  def mvRewriteMinmax(s: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/lineitem.parquet"
    val rollupPath = graft.Tables.land("mv_mm", dir) { path =>
      s.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .write.mode("overwrite").parquet(path)
    }
    graft.plans.RollupRewrite.install(s, graft.plans.RollupTarget(
      base, rollupPath, Seq("l_returnflag", "l_linestatus"), "n_rows",
      Map("l_quantity" -> "sum_qty"),
      minCols = Map("l_quantity" -> "min_qty"),
      maxCols = Map("l_quantity" -> "max_qty")))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("n_rows"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_rewrite" -> (mvRewriteScan _),
    "mv_rewrite_minmax" -> (mvRewriteMinmax _),
    "bloomskip_scan" -> (bloomskipScan _),
    "zonemap_scan" -> (zonemapScan _),
    "bloom_join" -> (bloomJoin _),
    "interval_join" -> (intervalJoin _),
    "interval_join_left" -> (intervalJoinLeft _),
    "bucketed_join" -> (bucketedJoin _),
    "sim_topk_q8" -> (simTopKQ8 _),
    "sim_topk_pq" -> (simTopKPq _),
    "sim_topk_filtered_pq" -> (simTopKPqFiltered _),
    "ann_recall_pq" -> (annRecallPqQ _),
    "cdc_merge" -> (cdcMerge _),
    "snapshot_diff" -> (snapshotDiffQ _),
    "copurchase_pairs" -> (copurchasePairs _),
    "copurchase_norm" -> (copurchaseNorm _),
    "incr_agg" -> (incrAgg _),
    "triangle_count" -> (triangleCount _),
    "triangle_topk" -> (triangleTopK _),
    "scd2_join" -> (scd2Join _),
    "benford_digits" -> (benfordDigits _),
    "pseudo_join" -> (pseudoJoin _),
    "rep_ratio" -> (repRatio _),
    "pii_redact" -> (piiRedact _),
    "skew_join" -> (skewJoin _),
    "skew_agg" -> (skewAgg _),
    "zorder_scan" -> (zorderScan _),
    "dedup_incremental" -> (dedupIncremental _),
    "stream_enrich" -> (streamEnrich _),
    "profile_table" -> (profileLineitemApprox _),
    "profile_table_exact" -> (profileLineitem _),
    "price_histogram" -> (priceHistogram _),
    "fuzzy_match" -> (fuzzyMatch _),
    "partition_scan" -> (partitionScan _),
    "numeric_outliers" -> (numericOutliers _),
    "schema_merge" -> (schemaMerge _))

  val oracle: Map[String, String] = Map(
    "mv_rewrite" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "mv_rewrite_minmax" ->
      """SELECT l_returnflag, l_linestatus,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | sum(l_quantity) / count(*) AS avg_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "bloomskip_scan" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_quantity, 2) AS l_quantity,
        | round(l_extendedprice, 2) AS l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey IN (1, 977, 5003, 10007, 14009)""".stripMargin,
    "zonemap_scan" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-06-01 00:00:00'
        |                     AND TIMESTAMP '1997-08-31 00:00:00'""".stripMargin,
    "bloom_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000""".stripMargin,
    "interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        | round(p.value, 2) AS purchase_value
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 30 MINUTE""".stripMargin,
    "interval_join_left" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        | round(p.value, 2) AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        |  AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 30 MINUTE""".stripMargin,
    "bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |      AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "sim_topk_q8" -> graft.ext.SimSearch.q8OracleSql(100),
    "sim_topk_pq" -> graft.ext.SimSearch.pqOracleSql(100, 64),
    "sim_topk_filtered_pq" ->
      graft.ext.SimSearch.pqFilteredOracleSql(100, 5, 64, "label = 1"),
    "ann_recall_pq" -> graft.ext.AnnEval.recallFromReplaysSql(
      graft.ext.SimSearch.pqFilteredOracleSql(64, 10, 64, "TRUE"),
      graft.ext.SimSearch.bruteTopKNFilteredOracleSql(64, 10)),
    "cdc_merge" ->
      """WITH chg AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 50 AS c_acctbal,
        |         c_mktsegment, 'U' AS op, 1 AS seq
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100,
        |         c_mktsegment, 'U', 2
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'D', 3
        |  FROM customer WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
        |         c_mktsegment, 'I', 1
        |  FROM customer WHERE c_custkey % 13 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
        |    FROM chg) WHERE rn = 1)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM latest WHERE op <> 'D'""".stripMargin,
    "rep_ratio" -> graft.ext.TextAnalysis.repetitionOracleSql(
      "documents", "doc_id", "text", 0.12, 0.05),
    "pii_redact" -> graft.ext.TextAnalysis.redactOracleSql("documents", "doc_id",
      "substr(text, 1, 80) || ' contact user' || doc_id || '@example.com or 555-' " +
        "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"),
    "skew_join" ->
      """SELECT p_brand, count(*) AS n_items,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "skew_agg" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "numeric_outliers" ->
      """WITH c AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |st AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(cents) AS DOUBLE) AS s,
        |    CAST(sum(CAST(cents * cents AS DECIMAL(38,0))) AS DOUBLE) AS sq
        |  FROM c GROUP BY l_returnflag),
        |z AS (
        |  SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag, c.l_extendedprice,
        |    (c.cents - s / n) / sqrt(sq / n - (s / n) * (s / n)) AS zraw,
        |    sqrt(sq / n - (s / n) * (s / n)) AS sigma
        |  FROM c JOIN st USING (l_returnflag))
        |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |  round(zraw, 4) AS z
        |FROM z WHERE sigma > 0 AND abs(zraw) > 1.5""".stripMargin,
    // The layout must never change results: the oracle filters the raw
    // table by the same derived year.
    "partition_scan" ->
      """SELECT o_orderkey, o_totalprice,
        | CAST(year(o_orderdate) AS BIGINT) AS order_year
        |FROM orders WHERE year(o_orderdate) = 1995""".stripMargin,
    "fuzzy_match" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        | a.c_name AS name_a, b.c_name AS name_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b
        |  ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // The diff classification is pure key arithmetic because the
    // cdc_merge change feed is deterministic: %11 deleted (delete
    // outranks the %77 update), remaining %7 changed, %13 inserted
    // key-shifted.
    // The IVM identity: the oracle aggregates ALL events directly;
    // the engine must reach the same rows via merge(agg(90%), agg(10%)).
    "incr_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events GROUP BY user_id""".stripMargin,
    // The oracle joins through the SAME tokens — and since md5 agrees
    // across engines, the counts also equal the plain key join's.
    "pseudo_join" ->
      """WITH c AS (
        |  SELECT md5('graft_salt_v1:' || CAST(c_custkey AS VARCHAR)) AS cust_token,
        |    c_mktsegment
        |  FROM customer),
        |o AS (
        |  SELECT md5('graft_salt_v1:' || CAST(o_custkey AS VARCHAR)) AS cust_token
        |  FROM orders)
        |SELECT c_mktsegment, count(*) AS n_orders
        |FROM o JOIN c USING (cust_token)
        |GROUP BY 1""".stripMargin,
    "benford_digits" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, count(*) AS n FROM c GROUP BY 1)
        |SELECT digit, n,
        |  round(n / CAST(sum(n) OVER () AS BIGINT), 6) AS obs_p,
        |  round(log10((digit + 1) / digit), 6) AS benford_p
        |FROM g""".stripMargin,
    // DuckDB's native ASOF LEFT JOIN replays the point-in-time match.
    "scd2_join" ->
      """WITH dim AS (
        |  SELECT c_custkey, CAST(uv.v AS INT) AS v,
        |    DATE '1993-01-01' + CAST(uv.v * 500 + c_custkey % 97 AS INT) AS valid_from,
        |    CAST((c_custkey * 7 + uv.v) % 5 AS INT) AS segment
        |  FROM customer, UNNEST(range(3)) AS uv(v))
        |SELECT segment, v, count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_custs
        |FROM orders ASOF LEFT JOIN dim
        |  ON orders.o_custkey = dim.c_custkey
        | AND orders.o_orderdate >= dim.valid_from
        |GROUP BY 1, 2""".stripMargin,
    "triangle_count" ->
      s"""WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM p a JOIN p b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= greatest(2, CAST(ceil(
        |    $CopurchaseNormFrac *
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem)) AS BIGINT)))
        |SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |FROM e e1
        |JOIN e e2 ON e1.pb = e2.pa
        |JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb""".stripMargin,
    "triangle_topk" ->
      s"""WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
        |  FROM p a JOIN p b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa, pb FROM e0
        |      ORDER BY support DESC, pa ASC, pb ASC LIMIT $TriangleTopEdges)
        |SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |FROM e e1
        |JOIN e e2 ON e1.pb = e2.pa
        |JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb""".stripMargin,
    // Deliberately the self-join formulation the Spark side avoids.
    "copurchase_pairs" ->
      """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS support
        |FROM p a JOIN p b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "copurchase_norm" ->
      s"""WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS support
        |FROM p a JOIN p b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= greatest(2, CAST(ceil(
        |  $CopurchaseNormFrac *
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem)) AS BIGINT))""".stripMargin,
    "snapshot_diff" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, 'removed' AS change
        |FROM customer WHERE c_custkey % 11 = 0
        |UNION ALL
        |SELECT CAST(c_custkey AS BIGINT), 'changed'
        |FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
        |UNION ALL
        |SELECT CAST(c_custkey + 10000000 AS BIGINT), 'added'
        |FROM customer WHERE c_custkey % 13 = 0""".stripMargin,
    "profile_table_exact" -> Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      .map(c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_value,
           | CAST(max($c) AS VARCHAR) AS max_value
           |FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n"),
    "price_histogram" ->
      graft.quality.Profiler.histogramOracleSql("lineitem", "l_extendedprice", 5000.0),
    "stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type""".stripMargin,
    // Exact cross-split Jaccard truth; banding recall is deterministic
    // on this corpus for the same reason as dedup_near (pair mass sits
    // far above the threshold).
    "dedup_incremental" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |      FOR i IN range(1, len(ws) - 1)]) AS s
        |  FROM tok WHERE len(ws) >= 3)
        |SELECT n.doc_id AS new_id, b.doc_id AS base_id,
        |  round(len(list_intersect(n.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(n.s, b.s))), 6) AS jaccard
        |FROM sh n JOIN sh b
        |  ON n.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        |WHERE len(list_intersect(n.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(n.s, b.s))) >= 0.5""".stripMargin,
    "zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 1 AND 40""".stripMargin,
    "schema_merge" ->
      """SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
}
