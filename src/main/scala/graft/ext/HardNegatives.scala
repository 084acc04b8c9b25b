package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.{col => ndot}

/** Hard-negative mining for contrastive / retriever training (the DPR
  * recipe, Karpukhin et al. 2020): for each anchor, the top-k most
  * similar vectors with a DIFFERENT label — maximally confusable
  * negatives. Complements `contrastive_triplets` (which pairs one
  * positive with one random-ish negative): hard negatives are what
  * actually move a retriever's decision boundary.
  *
  * The label inequality is a JOIN condition, not a pushable filter —
  * each anchor excludes a different slice of the corpus — so the shape
  * is the brute top-k scan with the label pair test fused into the
  * join predicate: anchors broadcast, corpus never shuffles, per-query
  * heaps serve the rank filter. Cosines round to 6 dp, ties break on
  * candidate id (the `sim_topk` determinism recipe).
  */
object HardNegatives {

  def mine(emb: DataFrame, queryBound: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < queryBound)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"),
        sqrt(ndot(col("embedding"), col("embedding"))).as("qn"))
    val c = emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("embedding").as("cv"),
      sqrt(ndot(col("embedding"), col("embedding"))).as("cn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid").asc)
    broadcast(q)
      .join(c, col("qid") =!= col("cid") && col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("cid"), col("clabel"),
        round(ndot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def oracleSql(queryBound: Int, k: Int): String =
    s"""WITH v AS (SELECT vec_id, label,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS clabel,
       |        round(list_cosine_similarity(q.v, c.v), 6) AS sim
       |      FROM v q JOIN v c
       |        ON q.vec_id <> c.vec_id AND q.label <> c.label
       |      WHERE q.vec_id < $queryBound),
       |r AS (SELECT qid, cid, clabel, sim,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, cid ASC) AS rn
       |      FROM p)
       |SELECT qid, cid, clabel, sim, CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= $k""".stripMargin
}
