package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.SparkTestBase

/** Plan-regression guard for the most expensive bench queries: pins
  * the (shuffle, broadcast) exchange counts of each query's physical
  * plan at sf0.001, so a future re-plan — a Spark upgrade, a config
  * drift, an innocent-looking refactor — cannot silently regress a
  * scale-critical shape (e.g. a broadcast join decaying to a shuffle
  * join, or a new Exchange appearing in a map-only pipeline). The
  * pinned numbers are the AUDITED shapes from the round plan audits
  * (VERDICT r10-r12): when one moves, the right response is to re-run
  * the audit and either fix the regression or re-pin with a written
  * justification — never to bump the number blind.
  *
  * Counts are taken on the static physical plan (a child session with
  * AQE off — the plan after EnsureRequirements, before any runtime
  * re-optimization), which is deterministic for a fixed fixture +
  * config and needs no job execution.
  */
class PlanGuardSpec extends SparkTestBase {

  private lazy val staticSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def expand(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case other => other
  }

  private def counts(df: DataFrame): (Int, Int) = {
    val plan = expand(df.queryExecution.executedPlan)
    (plan.collect { case s: ShuffleExchangeLike => s }.size,
      plan.collect { case b: BroadcastExchangeLike => b }.size)
  }

  // (query, expected shuffles, expected broadcasts) — the 10 most
  // expensive rows of BENCH_r14_sliced (headline sf0.1 sweep; the r12
  // top-10's dropped rows stay pinned below so coverage never
  // shrinks). Audited shapes: simhash_pairs + image_neardup are the
  // r14 hot-bucket-safe re-plans (one materialized fingerprint/hash
  // exchange shared across the collapse/tiled-hamming/banded branches
  // — their extra skinny exchanges are the documented price of
  // skew-safety, and this pin is what keeps a refactor from silently
  // re-fattening them); the join-bearing rows carry their small sides
  // as broadcasts (a broadcast decaying into a shuffle shows up here
  // as a -1/+1 move).
  // r16 re-pins (OPTIMIZATION_r16.md): jaccard_pairs /
  // containment_join materialize their shingle subtrees through ONE
  // id-keyed exchange each (before: the text was re-scanned and
  // re-shingled once per consumer — 12 and 10 parquet scans); the
  // extra pinned shuffles are those explicit repartitions plus the
  // consumers that now read them key-aligned, and the broadcast
  // counts are UNCHANGED (no small side decayed to a shuffle).
  // ccnet_buckets/cfg_lm_buckets derive both LM lookup tables from one
  // (h1, hb) aggregate — +1 vocabulary-sized shuffle, −1 full
  // instance-stream exchange. triangle_topk materializes the top-K
  // edge list once (+1 K-row shuffle, −2 recomputations of the whole
  // mining chain).
  private val pinned: Seq[(String, Int, Int)] = Seq(
    // jaccard_pairs r16 final shape: 4 shuffles (df agg, prefix window,
    // the h-keyed self-join exchange, candidate distinct + the verify
    // regroup folding into it) and NO corpus-wide exchange of the
    // shingle arrays — the verify side explodes each candidate pair
    // into two probe rows and joins the shingle stream ONCE; only
    // matched candidates' arrays shuffle. A 5th shuffle appearing here
    // usually means the verify went back to per-side joins or an array
    // exchange crept in.
    ("jaccard_pairs", 4, 3),
    // r17 re-pin: simhash_pairs / image_neardup fold their two
    // tiledPairs lanes (hamming-0 member tiling + banded rep
    // candidates) over ONE lane-tagged chunk window and ONE cell join
    // (FuzzyJoin.hammingPairs). Shuffles: fingerprint agg (simhash
    // only), the materialized fingerprint exchange, and the shared
    // chunk-window exchange (reused by both join sides AND both lane
    // consumers) — the old shape's second window, candidate distinct
    // and two fp-attach joins are gone. Broadcasts 5 → 4: the tile
    // join's build side, the two expansion builds (mem reused), and
    // the groups build under mem.
    ("simhash_pairs", 3, 4),
    // containment_join's static plan is fully exchange-deduplicated
    // (needle + corpus shingle subtrees computed once each): 3
    // distinct shuffles, every further consumer a ReusedExchange.
    ("containment_join", 3, 4),
    ("cfg_decontam", 1, 1),
    ("image_neardup", 2, 4), // r17 lane fold — see simhash_pairs above

    ("cfg_lm_buckets", 9, 4),
    ("sim_topk_pq", 2, 4),
    // r17 re-pin: triangle_topk mines from the landed basket-signature
    // table (ScaleOps.landedBasketSigs — the shared prefix of the
    // copurchase family), so the basket collect_set and signature-merge
    // exchanges left its per-query plan: what remains is the support
    // aggregate and the top-K edge materialization.
    ("triangle_topk", 2, 2),
    // r16 re-pin: MmrRerank's single-pass re-plan (VERDICT r15 #1) —
    // the old (0, 0) was an artifact of per-step localCheckpoints
    // hiding the lineage; the new whole-operator static plan is
    // exactly 1 shuffle (the top-m window on qid, reused by the
    // per-qid collect) + 1 broadcast (the bounded query side). More
    // of either means the driver-sequenced greedy grew back.
    ("mmr_rerank_filtered", 1, 1),
    ("ccnet_buckets", 9, 4),
    // r12-era top-10 rows no longer in the r14 top-10 — kept pinned.
    ("profile_table", 1, 0),
    ("price_deciles", 7, 2),
    ("profile_table_exact", 8, 0),
    ("video_frames", 0, 0),
    ("q18_bigorders", 1, 2),
    // The curation chain (training_manifest = cfg_curation) runs each
    // shared subplan once: dedup is one window over the digest
    // exchange, the mix reads its count table once (n_min as a window
    // on it), and the shard prefix sum carries the chunk columns
    // through instead of joining them back on __key. Shuffles: the
    // digest exchange of the survivor stream and of the count table's
    // input, the count aggregate, its n_min window, the bucket window,
    // the bucket-total aggregate and its offset window. Broadcasts: the
    // mix's rate table and the bucket offsets. Before: (14, 4).
    ("training_manifest", 7, 2),
    ("cfg_curation", 7, 2),
    ("temperature_mix", 2, 1))

  test("exchange counts of the most expensive bench queries are pinned") {
    val actual = pinned.map { case (name, _, _) =>
      val df = graft.SparkEntry.queries(name)(staticSession, sf0001)
      name -> counts(df)
    }.toMap
    val bad = pinned.flatMap { case (name, es, eb) =>
      val (as, ab) = actual(name)
      if ((as, ab) != ((es, eb))) Some(s"$name: expected ($es shuffles, $eb broadcasts), got ($as, $ab)")
      else None
    }
    assert(bad.isEmpty,
      s"\nplan shapes moved:\n  ${bad.mkString("\n  ")}\nfull actual: $actual")
  }

  test("hot-bucket-safe re-plans (simhash_pairs, image_neardup) keep their" +
    " audited shape: no cartesian product, one exchange REUSED across the" +
    " collapse/hamming/banded branches") {
    for (name <- Seq("simhash_pairs", "image_neardup")) {
      val plan = expand(graft.SparkEntry.queries(name)(staticSession, sf0001)
        .queryExecution.executedPlan)
      val cartesians = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cartesians.isEmpty, s"$name grew a cartesian product:\n$plan")
      // The r14 design shares ONE materialized fingerprint/hash exchange
      // across its branches — if reuse disappears, every branch re-pays
      // the decode/fingerprint scan.
      val reused = plan.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(reused.nonEmpty,
        s"$name lost its shared materialized exchange (ReusedExchange):\n$plan")
    }
  }

  test("training_manifest scans documents.text at most twice in its static plan") {
    val plan = expand(graft.SparkEntry.queries("training_manifest")(staticSession, sf0001)
      .queryExecution.executedPlan)
    val textScans = plan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("documents")) &&
            f.requiredSchema.fieldNames.contains("text") => f
    }
    // One scan feeds the survivor stream, one the mix's count table;
    // every other consumer is a ReusedExchange (4 scans before).
    assert(textScans.size <= 2, s"${textScans.size} documents.text scans:\n$plan")
  }
}
