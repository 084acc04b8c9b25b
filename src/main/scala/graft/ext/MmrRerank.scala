package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.{col => ndot}

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
  * — the standard diversity pass over a retrieval candidate list: pick
  * greedily, each step taking the candidate maximizing
  * `relevance − max-similarity-to-already-selected` (the λ = 1/2 MMR
  * objective up to a positive scale, which cannot change any argmax).
  *
  * Selection is deterministic cross-engine by the same recipe as the
  * `sim_topk` family: every cosine is rounded to 6 decimals FIRST, so
  * both engines run the greedy over identical doubles, and every
  * argmax tie-breaks by candidate id.
  *
  * Plan shape (r16 re-plan): the whole operator is ONE Spark job. The
  * k-step greedy is a pure function of each query's (rounded,
  * tie-broken) candidate list, so instead of driver-sequencing k
  * join+window rounds (the r15 design: ~12 eagerly-executed jobs with
  * per-step lineage cuts for 160 output rows), the top-m candidates
  * are collected per query — m structs of (cid, rel, norm, vector),
  * index-scoped, never corpus-scoped — and the m² pairwise cosines +
  * the k greedy argmax steps run inside a single typed flatMap over
  * that aggregate. Relevance cosines and norms stay Catalyst-computed
  * (same expressions as before, so the rounded doubles are identical);
  * the in-reduction arithmetic replicates them exactly: the dot
  * product is the same element-order widened-float loop as
  * [[graft.functions.DotProduct]], and [[MmrRerank.round6]] is
  * bit-identical to Catalyst `round(_, 6)` on doubles (spec-pinned
  * against the real `Round` expression).
  *
  * Scale shape: the query side is bounded and broadcast; candidate
  * generation is the existing brute/ANN top-m (per-query heaps, corpus
  * never shuffles); everything after the top-m window is qid-local
  * over ≤ m rows per query. Swapping the brute candidate stage for an
  * ANN index changes nothing downstream — brute is the
  * oracle-replayable baseline.
  */
object MmrRerank {

  /** Bit-identical twin of Catalyst `round(x, 6)` on DoubleType
    * (Spark 4.1 `RoundBase` codegen: NaN/Inf pass through, else
    * `java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP)
    * .doubleValue()`). Pinned against the real expression by a
    * property lane in MmrRerankSpec — the greedy's scores must match
    * what the DuckDB oracle computes from the same rounded inputs.
    */
  private[ext] def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Element-order dot product over widened-to-double vectors — the
    * same IEEE operation sequence as [[graft.functions.DotProduct]]
    * (each float widens exactly to double before multiplying, so
    * casting the array to double upfront is bit-neutral).
    */
  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The k-step greedy over one query's candidate list: rank 1 is the
    * plain relevance argmax; each later rank maximizes
    * `round6(rel − max sim to selected)`, every argmax tie-breaking by
    * (score DESC, cid ASC) — the exact unrolled-CTE semantics of
    * [[oracleSql]]. Emits fewer than k rows only when the candidate
    * list itself is shorter than k.
    */
  private def greedy(qid: Long, cands: Seq[Row], k: Int): Seq[(Long, Long, Int, Double)] = {
    val n = cands.length
    if (n == 0) return Nil
    val cid = new Array[Long](n)
    val rel = new Array[Double](n)
    val cn = new Array[Double](n)
    val v = new Array[Seq[Double]](n)
    var i = 0
    while (i < n) {
      val r = cands(i)
      cid(i) = r.getLong(0); rel(i) = r.getDouble(1)
      cn(i) = r.getDouble(2); v(i) = r.getSeq[Double](3)
      i += 1
    }
    val sim = Array.ofDim[Double](n, n)
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val s = round6(dot(v(i), v(j)) / (cn(i) * cn(j)))
        sim(i)(j) = s; sim(j)(i) = s
        j += 1
      }
      i += 1
    }
    val out = ArrayBuffer.empty[(Long, Long, Int, Double)]
    val taken = new Array[Boolean](n)
    val selected = ArrayBuffer.empty[Int]
    var best = -1
    i = 0
    while (i < n) {
      if (best < 0 || rel(i) > rel(best) ||
        (rel(i) == rel(best) && cid(i) < cid(best))) best = i
      i += 1
    }
    out += ((qid, cid(best), 1, rel(best)))
    taken(best) = true; selected += best
    var rank = 2
    while (rank <= k && selected.length < n) {
      var bi = -1
      var bs = 0.0
      i = 0
      while (i < n) {
        if (!taken(i)) {
          var pen = Double.NegativeInfinity
          selected.foreach { j => if (sim(i)(j) > pen) pen = sim(i)(j) }
          val sc = round6(rel(i) - pen)
          if (bi < 0 || sc > bs || (sc == bs && cid(i) < cid(bi))) { bi = i; bs = sc }
        }
        i += 1
      }
      out += ((qid, cid(bi), rank, bs))
      taken(bi) = true; selected += bi
      rank += 1
    }
    out.toSeq
  }

  /** Greedy MMR top-k over the brute top-m candidates of each query
    * (`vec_id < queryBound`). Output: (qid, cid, rank, score) where
    * rank 1's score is the plain relevance and later ranks carry
    * `round(rel − max sim to selected, 6)`.
    *
    * `candWhere` pre-filters the candidate side (the filtered-serving
    * contract of `sim_topk_filtered`: every retrieved row eligible by
    * construction, never post-filter under-return); at scale the
    * predicate pushes into the candidate scan.
    */
  def rerank(emb: DataFrame, queryBound: Int, m: Int, k: Int,
             candWhere: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(k >= 1 && m >= k, s"need m >= k >= 1, got m=$m k=$k")
    val session = emb.sparkSession
    import session.implicits._
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(ndot(col("embedding"), col("embedding"))).as("__n"))
    val q = e.filter(col("vec_id") < queryBound)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("__n").as("qn"))
    val c = candWhere.fold(emb)(emb.filter)
      .select(col("vec_id"), col("embedding"),
        sqrt(ndot(col("embedding"), col("embedding"))).as("__n"))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("__n").as("cn"))

    val wRel = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("cid").asc)
    val cand = broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("cv"), col("cn"),
        round(ndot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("rel"))
      .withColumn("__rn", row_number().over(wRel))
      .filter(col("__rn") <= m)
      .select(col("qid"), col("cid"), col("rel"), col("cn"),
        col("cv").cast("array<double>").as("dv"))

    cand
      .groupBy(col("qid"))
      .agg(collect_list(struct(col("cid"), col("rel"), col("cn"), col("dv"))).as("cs"))
      .flatMap { row => greedy(row.getLong(0), row.getSeq[Row](1), k) }
      .toDF("qid", "cid", "rank", "score")
  }

  /** DuckDB twin: the k greedy steps unrolled as CTEs, each replaying
    * the rounded-cosine scores and the (score DESC, cid ASC) argmax.
    * `candSql` is the candidate-side predicate over alias `c`
    * (mirrors `candWhere`).
    */
  def oracleSql(queryBound: Int, m: Int, k: Int,
                candSql: Option[String] = None): String = {
    val candPred = candSql.fold("")(p => s" AND $p")
    val steps = (2 to k).map { r =>
      s"""sc$r AS (SELECT c.qid, c.cid,
         |    round(c.rel - (SELECT max(p.s) FROM pair p
         |                   JOIN sel${r - 1} t ON t.qid = p.qid AND t.cid = p.j
         |                   WHERE p.qid = c.qid AND p.i = c.cid), 6) AS score
         |  FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} t
         |                    WHERE t.qid = c.qid AND t.cid = c.cid)),
         |pk$r AS (SELECT qid, cid, $r AS rank, score FROM (
         |    SELECT qid, cid, score, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
         |    FROM sc$r) WHERE rn = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pk$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, label,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cand0 AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    round(list_cosine_similarity(q.v, c.v), 6) AS rel
       |  FROM v q JOIN v c ON q.vec_id <> c.vec_id$candPred
       |  WHERE q.vec_id < $queryBound),
       |cand AS (SELECT qid, cid, rel FROM (
       |    SELECT qid, cid, rel, row_number() OVER (
       |      PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn
       |    FROM cand0) WHERE rn <= $m),
       |pair AS (SELECT a.qid, a.cid AS i, b.cid AS j,
       |    round(list_cosine_similarity(va.v, vb.v), 6) AS s
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
       |  JOIN v va ON va.vec_id = a.cid
       |  JOIN v vb ON vb.vec_id = b.cid),
       |sel1 AS (SELECT qid, cid, 1 AS rank, rel AS score FROM (
       |    SELECT qid, cid, rel, row_number() OVER (
       |      PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn
       |    FROM cand) WHERE rn = 1),
       |$steps
       |SELECT qid, cid, CAST(rank AS INT) AS rank, score FROM sel$k"""
      .stripMargin
  }
}
