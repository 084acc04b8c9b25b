package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 relevance scoring over the document corpus — the retrieval
  * primitive a training-data pipeline uses for query-driven curation
  * (topic mining, targeted decontamination, eval-set neighborhoods).
  * Okapi BM25 with the Lucene-style non-negative idf:
  * ln(1 + (N - df + 0.5)/(df + 0.5)).
  *
  * Cross-engine exactness: tf, dl, df, N are exact integers; avgdl is
  * one double division of exact integers; each per-term score is a
  * fixed sequence of IEEE ops on those values, rounded to 6 places,
  * and the per-document SUM runs over DECIMAL(18,6) — order-
  * independent, so Spark's nondeterministic aggregation order cannot
  * produce a different hash than DuckDB's sequential sum.
  *
  * Execution shape at 100 TB: document frequencies ride the SAME
  * pre-pass as the corpus statistics (one conditional sum per query
  * term — the agg row stays query-sized), and reach the scoring plan
  * as a literal map, so the main job is a single corpus scan with no
  * tf⋈df self-join (runtime exchange reuse does NOT fire across the
  * differing aggregates; the naive formulation scans and re-tokenizes
  * the corpus twice — pinned by `Bm25Spec`). The explode filters to
  * the query's terms BEFORE any exchange, so the shuffle carries only
  * query-term hits, never the corpus token stream; the final top-k is
  * TakeOrderedAndProject (per-partition heaps + driver merge), never a
  * global sort. The stats pre-pass is cacheable across queries against
  * the same corpus snapshot.
  */
object Bm25 {

  // BM25 constants as literals on BOTH engines — K1Plus1 is written
  // 2.2, not computed 1.2 + 1.0, so the Spark literal and the SQL
  // literal parse to the same double.
  private val K1 = "1.2"
  private val K1Plus1 = "2.2"
  private val B = "0.75"
  private val OneMinusB = "0.25"

  /** Top `k` documents for `terms`, scored by BM25 over
    * whitespace-tokenized `textCol`. Emits doc id, number of distinct
    * query terms matched, and the summed score (ties rank by id).
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val termList = terms.distinct
    // Pre-pass: N, total tokens, and every term's df in ONE scan.
    val dfExprs = termList.map(t =>
      sum(when(array_contains(col("qt"), t), 1L).otherwise(0L)).as(s"df_$t"))
    val stats = docs
      .select(size(toks).as("dl"),
        array_intersect(array_distinct(toks), typedLit(termList)).as("qt"))
      .agg(count(lit(1)).as("n"),
        (sum(col("dl")).as("tot") +: dfExprs): _*)
      .head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n.toDouble
    val dfMap = termList.zipWithIndex.map { case (t, i) =>
      t -> stats.getLong(2 + i)
    }.toMap
    // Scoring is a pure per-document projection: with df a driver
    // scalar, each query term contributes size(filter(toks, == t)) as
    // its tf and a fixed arithmetic tail — no explode, no (doc, term)
    // aggregate, NO exchange anywhere in the job. idf is still
    // computed BY THE ENGINE (log on constant-folded Columns), so the
    // float path stays engine-native and bit-comparable with the
    // oracle's ln; per-term scores are summed as DECIMAL(18,6), which
    // is associative-exact regardless of expression order.
    def score(t: String): org.apache.spark.sql.Column = {
      val d = dfMap(t)
      val idf = log(lit(1.0) +
        (lit(n.toDouble) - lit(d) + lit(0.5)) / (lit(d) + lit(0.5)))
      // Codegen'd occurrence count — the interpreted equivalent
      // (size(filter(tk, _ === t))) allocates a filtered array per
      // (row, term) and was the scoring job's hot path.
      val tf = graft.functions.TermCount.col(col("tk"), lit(t)).cast("long")
      val tfPart = (tf * expr(K1Plus1)) /
        (tf + expr(K1) * (expr(OneMinusB) + expr(B) * col("dl") / lit(avgdl)))
      when(tf > 0, round(idf * tfPart, 6).cast("decimal(18,6)"))
    }
    // Each per-term score is materialized as ONE column and reused for
    // both the match count and the sum, behind a projection boundary.
    val sCols = termList.indices.map(i => s"__s_$i")
    docs
      .select(col(idCol), size(toks).as("dl"), toks.as("tk"))
      .select(col(idCol) +: termList.zip(sCols).map { case (t, c) =>
        score(t).as(c)
      }: _*)
      .select(col(idCol),
        sCols.map(c => col(c).isNotNull.cast("long")).reduce(_ + _).as("n_terms"),
        sCols.map(c => coalesce(col(c), lit(BigDecimal(0)).cast("decimal(18,6)")))
          .reduce(_ + _).cast("double").as("score"))
      .filter(col("n_terms") > 0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** DuckDB twin of [[topK]] over the `documents` table. */
  def oracleSql(terms: Seq[String], k: Int): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dls AS (
       |  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl,
       |    string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dls),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dls)
       |  WHERE term IN ($termList)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      ln(1.0 + (CAST(stats.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
       |      ((tf.tf * $K1Plus1) /
       |       (tf.tf + $K1 * ($OneMinusB + $B * tf.dl / stats.avgdl))),
       |    6) AS DECIMAL(18,6)) AS s
       |  FROM tf JOIN df USING (term) CROSS JOIN stats)
       |SELECT doc_id, count(*) AS n_terms, CAST(sum(s) AS DOUBLE) AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }
}
