package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANN serving-quality EVALUATION — the measurement half of the
  * similarity-search surface. Every approximate index in this engine
  * (IVF, trained IVF, PQ, SRP, LSH) trades recall for probe cost;
  * operating one at 100 TB requires measuring that trade on the
  * corpus itself, against exact brute-force ground truth over a
  * bounded query sample. Nothing in the reference pipeline measures
  * retrieval quality (its surface is ETL — `/root/reference/README.md`);
  * this is part of the beyond-reference LLM-serving brief, the same
  * family as the filtered-ANN and MMR serving shapes.
  *
  * Integer-exact by design: per-query outputs are COUNTS (`hits` of
  * recall@k, the ANN `nn_rank` of the true nearest neighbor), never
  * averaged ratios — a mean of 1/rank differs in the last ulp across
  * engines, while the integers hash-compare exactly and the human
  * aggregates (recall = mean hits/k, MRR = mean 1/nn_rank) derive from
  * them losslessly.
  *
  * Both sides rank candidates under the SAME total order (round-6
  * cosine DESC, cid ASC), which yields a useful structural fact used
  * by the probe-curve: with a total order, a ground-truth member found
  * among the candidates is ALWAYS inside the ANN top-k (at most k-1
  * candidates can outrank it, because anything outranking it also
  * outranks it globally). So hits = |candidates ∩ GT|, and recall is
  * monotone in the candidate set — nondecreasing in the probe count
  * (spec-pinned).
  *
  * Scale shape: ground truth is a bounded-query brute scan (queries
  * broadcast, corpus never shuffles — the [[SimSearch.bruteTopKNFiltered]]
  * plan); the ANN side is whatever index is being graded; the
  * comparison itself joins two top-k lists of ≤ queryBound·k rows —
  * driver-negligible at any corpus size.
  */
object AnnEval {

  /** Per-query retrieval quality of an ANN top-k list against the
    * exact ground truth: `hits` = |ANN ∩ GT| (recall@k numerator) and
    * `nn_rank` = the ANN rank of the true nearest neighbor (0 =
    * missed). Inputs are any two (qid, cid, rank) top-k frames ranked
    * under the same total order.
    */
  def recallAtK(ann: DataFrame, gt: DataFrame): DataFrame = {
    val g = gt.select(col("qid"), col("cid"), col("rank").as("grank"))
    val a = ann.select(col("qid"), col("cid"), col("rank").as("arank"))
    g.join(a, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("arank")).as("hits"),
        coalesce(max(when(col("grank") === 1, coalesce(col("arank"), lit(0)))),
          lit(0)).cast("long").as("nn_rank"))
  }

  /** Recall-vs-probe-count sweep over a trained IVF index in ONE pass:
    * rank every vector against the broadcast centroids once, compute
    * each candidate pair's MINIMAL surfacing probe level, then grade
    * the induced ANN top-k at every level in `levels` against brute
    * ground truth. The nprobe-tuning curve an index operator reads
    * before fixing the serving probe count.
    *
    * Output per level: (probes, total_hits, nn_found, n_queries) —
    * all BIGINT; recall@k = total_hits / (k · n_queries).
    */
  def recallCurve(emb: DataFrame, queryBound: Int, k: Int,
      levels: Seq[Int], cents: DataFrame): DataFrame = {
    require(levels.nonEmpty && levels == levels.sorted && levels.head >= 1,
      s"probe levels must be ascending positives: $levels")
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = SimSearch.normed(emb, "vec_id", "v", "n")
    val ranked = SimSearch.centroidRanks(vecs, cents)
    val cells = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("cid"), col("cent_id").as("cell"))
    val qprobe = ranked
      .filter(col("vec_id") < queryBound && col("crn") <= levels.max)
      .select(col("vec_id").as("qid"), col("cent_id").as("cell"),
        col("crn"))
    // A pair surfaces at probe level p iff SOME shared cell sits within
    // the query's p nearest — i.e. iff min(crn over shared cells) <= p.
    val pairMin = broadcast(qprobe).join(cells, "cell")
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid")).agg(min(col("crn")).as("mincrn"))
    val sims = pairMin
      .join(broadcast(vecs.filter(col("vec_id") < queryBound)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n").as("qn"))), "qid")
      .join(vecs.select(col("vec_id").as("cid"),
        col("v").as("cv"), col("n").as("cn")), "cid")
      .select(col("qid"), col("cid"), col("mincrn"),
        SimSearch.cos6("qv", "cv", "qn", "cn").as("sim"))
    val lv = levels.map(_.toLong).toDF("probes")
    val wr = Window.partitionBy(col("probes"), col("qid"))
      .orderBy(col("sim").desc, col("cid").asc)
    val ann = sims.join(broadcast(lv), col("mincrn") <= col("probes"))
      .withColumn("arank", row_number().over(wr))
      .filter(col("arank") <= k)
      .select(col("probes"), col("qid"), col("cid"), col("arank"))
    val gt = SimSearch.bruteTopKNFiltered(emb, queryBound, k)
      .select(col("qid"), col("cid"), col("rank").as("grank"))
    gt.crossJoin(broadcast(lv))
      .join(ann, Seq("probes", "qid", "cid"), "left")
      .groupBy(col("probes"))
      .agg(count(col("arank")).as("total_hits"),
        sum(when(col("grank") === 1 && col("arank").isNotNull, 1L)
          .otherwise(0L)).as("nn_found"),
        countDistinct(col("qid")).as("n_queries"))
  }

  /** DuckDB twin of [[recallAtK]] over ANY two nested (qid, cid, rank)
    * replays — any index replay grades against any ground-truth replay
    * with the identical integer reduction.
    */
  def recallFromReplaysSql(annSql: String, gtSql: String): String =
    s"""WITH gt AS (
       |$gtSql
       |), ann AS (
       |$annSql
       |), j AS (
       |  SELECT g.qid, g.rank AS grank, a.rank AS arank
       |  FROM gt g LEFT JOIN ann a ON g.qid = a.qid AND g.cid = a.cid)
       |SELECT qid, CAST(count(arank) AS BIGINT) AS hits,
       |  CAST(coalesce(max(CASE WHEN grank = 1 THEN coalesce(arank, 0) END), 0)
       |    AS BIGINT) AS nn_rank
       |FROM j GROUP BY qid""".stripMargin

  /** [[recallFromReplaysSql]] for the trained-IVF grade: ann = the
    * trained serving replay, gt = brute force. `ivfWhere` /
    * `bruteWhere` are the eligibility predicate in each replay's
    * dialect (aliases `e` / `c`), "TRUE" for the unfiltered grade.
    */
  def recallOracleSql(queryBound: Int, k: Int, iters: Int, dim: Int,
      ivfWhere: String, bruteWhere: String): String =
    recallFromReplaysSql(
      SimSearch.ivfTrainedFilteredOracleSql(queryBound, k, iters, dim, ivfWhere),
      SimSearch.bruteTopKNFilteredOracleSql(queryBound, k, bruteWhere))

  /** DuckDB twin of [[recallCurve]]: training + ranking replay, pair
    * minimal probe levels, per-level re-rank, integer reduction.
    */
  def recallCurveOracleSql(queryBound: Int, k: Int, levels: Seq[Int],
      iters: Int, dim: Int): String = {
    val vals = levels.map(p => s"($p)").mkString(", ")
    s"""WITH ${SimSearch.trainedCentroidCtesWhere(iters, dim, "TRUE")},
       |r AS (SELECT d.vec_id, cent_id,
       |        row_number() OVER (PARTITION BY d.vec_id
       |          ORDER BY round(list_cosine_similarity(d.v, cu), 6) DESC, cent_id) AS crn
       |      FROM d CROSS JOIN c$iters),
       |cell AS (SELECT vec_id AS cid, cent_id AS cell FROM r WHERE crn = 1),
       |qp AS (SELECT vec_id AS qid, cent_id AS cell, crn FROM r
       |       WHERE vec_id < $queryBound AND crn <= ${levels.max}),
       |pm AS (SELECT qid, cid, min(crn) AS mincrn
       |       FROM qp JOIN cell ON qp.cell = cell.cell AND qid <> cid
       |       GROUP BY qid, cid),
       |sims AS (SELECT qid, cid, mincrn,
       |           round(list_cosine_similarity(qv.v, cv2.v), 6) AS sim
       |         FROM pm JOIN d qv ON qv.vec_id = qid JOIN d cv2 ON cv2.vec_id = cid),
       |lv(probes) AS (SELECT * FROM (VALUES $vals) t(probes)),
       |ar AS (SELECT probes, qid, cid,
       |         row_number() OVER (PARTITION BY probes, qid
       |           ORDER BY sim DESC, cid ASC) AS arank
       |       FROM sims JOIN lv ON mincrn <= probes),
       |ann AS (SELECT probes, qid, cid, arank FROM ar WHERE arank <= $k),
       |gt AS (
       |${SimSearch.bruteTopKNFilteredOracleSql(queryBound, k)}
       |), j AS (
       |  SELECT lv.probes, g.qid, g.rank AS grank, a.arank
       |  FROM gt g CROSS JOIN lv
       |  LEFT JOIN ann a ON a.probes = lv.probes AND a.qid = g.qid AND a.cid = g.cid)
       |SELECT CAST(probes AS BIGINT) AS probes,
       |  CAST(count(arank) AS BIGINT) AS total_hits,
       |  CAST(sum(CASE WHEN grank = 1 AND arank IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS nn_found,
       |  CAST(count(DISTINCT qid) AS BIGINT) AS n_queries
       |FROM j GROUP BY probes""".stripMargin
  }
}
