package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.{col => ndot}

/** Signed random projection (SRP) dimensionality reduction: project
  * each embedding onto `outDim` deterministic ±1 hyperplanes —
  * Achlioptas-style database-friendly random projection, the standard
  * cheap-ANN preprocessing step (4× fewer multiply-adds per distance at
  * outDim = inDim/4, and the reduced index is 4× smaller at rest and in
  * every shuffle/broadcast).
  *
  * Everything is integer-exact end to end: inputs are the established
  * symmetric-int8 codes ([[SimSearch.quantizeQ8]] — floor(x+0.5), the
  * engine-agreed tie policy), signs are md5-parity of "i_j" (the same
  * md5-prefix integer construction as the corpus fingerprints), and
  * components are sums of ±code products (|comp| ≤ 64·127 — far inside
  * double's exact range). Both engines therefore compute bit-identical
  * components regardless of summation order, and reduced-space cosine
  * ranking is deterministic.
  *
  * Scale shape: the reduction is MAP-ONLY — the sign matrix is a
  * compile-time literal baked into codegen (outDim×inDim ints; no
  * broadcast variable, no shuffle), and the code array is materialized
  * once per row in its own projection so the per-component taps are
  * O(1) attribute reads, not re-quantizations (CollapseProject keeps
  * the boundary: non-cheap producer referenced outDim times).
  */
object RandomProjection {

  /** Deterministic ±1 sign for matrix cell (i, j): parity of the 60-bit
    * md5-prefix integer of "i_j" — replayed verbatim by the oracle.
    */
  private def sign(i: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${i}_$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  /** The outDim×inDim sign matrix as a driver-side literal. */
  def signMatrix(inDim: Int, outDim: Int): Seq[Seq[Int]] =
    (0 until outDim).map(j => (0 until inDim).map(i => sign(i, j)))

  /** Long-format reduced corpus: (vec_id, dim, comp) — one exact
    * integer component per (vector, output dimension).
    */
  def reduce(emb: DataFrame, inDim: Int, outDim: Int): DataFrame = {
    val m = typedLit(signMatrix(inDim, outDim))
    reducedVecs(emb, m, inDim, outDim)
      .select(col("vec_id"), posexplode(col("__r")).as(Seq("dim", "comp")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"),
        col("comp").cast("long").as("comp"))
  }

  /** (vec_id, __r = array<double> of exact-integer components).
    *
    * The code array is bound ONCE as a lambda variable (the
    * single-element `transform(array(codes), qv => …)` wrap): lambda
    * variables evaluate once per element, so the outDim×inDim taps are
    * O(1) reads. Referencing a `__q` projection column instead looks
    * equivalent but is not — the quantization expression gets re-inlined
    * into every tap (and its per-element scale re-inlines array_max),
    * O(dim²) interpreted work PER TAP; measured 258 s for 500 rows vs
    * sub-second for this shape.
    */
  private def reducedVecs(emb: DataFrame, m: Column, inDim: Int,
      outDim: Int): DataFrame =
    emb.select(col("vec_id"),
      element_at(
        transform(
          array(SimSearch.quantizeQ8(col("embedding")).getField("q")
            .cast("array<double>")),
          qv => transform(sequence(lit(0), lit(outDim - 1)), j =>
            aggregate(sequence(lit(1), lit(inDim)), lit(0.0), (acc, i) =>
              acc + element_at(element_at(m, j + 1), i) *
                element_at(qv, i)))),
        1).as("__r"))

  /** Reduced-space brute cosine top-1 for the first `queryBound`
    * vectors — the cheap first-pass ANN over the 4×-smaller index.
    * Same plan as the q8 brute shape: queries broadcast, corpus
    * streamed map-side, per-query heap via the ranking window.
    */
  def topK(emb: DataFrame, inDim: Int, outDim: Int,
      queryBound: Int): DataFrame = {
    val m = typedLit(signMatrix(inDim, outDim))
    topKOverVecs(reducedVecs(emb, m, inDim, outDim), queryBound)
  }

  /** Array-format reduced corpus (vec_id, __r) — the LANDED index
    * shape: serving consumes whole vectors, so landing arrays makes
    * every serving query map-only over the index instead of paying a
    * corpus-sized groupBy+collect_list pivot per query (the r10 sf1
    * audit measured that pivot as `sim_topk_srp`'s scaling term).
    */
  def reduceToArrays(emb: DataFrame, inDim: Int, outDim: Int): DataFrame = {
    val m = typedLit(signMatrix(inDim, outDim))
    reducedVecs(emb, m, inDim, outDim)
  }

  /** The long (vec_id, dim, comp) contract from a landed array index —
    * one map-side posexplode.
    */
  def explodeReduced(arrays: DataFrame): DataFrame =
    arrays
      .select(col("vec_id"), posexplode(col("__r")).as(Seq("dim", "comp")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"),
        col("comp").cast("long").as("comp"))

  /** [[topK]] over a LANDED array-format reduced index
    * ([[reduceToArrays]]'s output, written once per corpus) — the
    * serve shape: the reduction is an index build paid at landing
    * time, the query streams the index map-side with zero exchanges
    * before the per-query ranking window.
    */
  def topKFromArrays(arrays: DataFrame, queryBound: Int): DataFrame =
    topKOverVecs(arrays, queryBound)

  private def topKOverVecs(vecs: DataFrame, queryBound: Int): DataFrame = {
    val z = vecs
      .select(col("vec_id"), col("__r"),
        ndot(col("__r"), col("__r")).as("nrm"))
      .filter(col("nrm") > 0)
    val q = z.filter(col("vec_id") < queryBound)
      .select(col("vec_id").as("qid"), col("__r").as("qv"),
        col("nrm").as("qn"))
    val c = z.select(col("vec_id").as("cid"), col("__r").as("cv"),
      col("nrm").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(ndot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn")), 6)
          .as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("cid"), col("sim"))
  }

  /** Shared oracle CTEs: q8 codes, the md5-parity sign matrix, and the
    * long-format reduced components.
    */
  private def reducedCtes(inDim: Int, outDim: Int): String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id,
       |        list_transform(v, x ->
       |          floor(x / (list_max(list_transform(v, y -> abs(y))) / 127)
       |            + 0.5)) AS q
       |      FROM v),
       |m AS (SELECT i, j,
       |        CASE WHEN ('0x' || substr(md5(CAST(i AS VARCHAR) || '_' ||
       |          CAST(j AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
       |        THEN 1 ELSE -1 END AS s
       |      FROM range($inDim) r1(i) CROSS JOIN range($outDim) r2(j)),
       |red AS (SELECT vec_id, j AS dim, sum(m.s * q.q[m.i + 1]) AS comp
       |        FROM q CROSS JOIN m GROUP BY vec_id, j)""".stripMargin

  /** DuckDB oracle for [[reduce]]. */
  def reduceOracleSql(inDim: Int, outDim: Int): String =
    s"""WITH ${reducedCtes(inDim, outDim)}
       |SELECT vec_id, CAST(dim AS INT) AS dim, CAST(comp AS BIGINT) AS comp
       |FROM red""".stripMargin

  /** DuckDB oracle for [[topK]]. */
  def topKOracleSql(inDim: Int, outDim: Int, queryBound: Int): String =
    s"""WITH ${reducedCtes(inDim, outDim)},
       |rv AS (SELECT vec_id, list(comp ORDER BY dim) AS r FROM red
       |       GROUP BY vec_id),
       |z AS (SELECT vec_id, r, list_dot_product(r, r) AS nrm FROM rv
       |      WHERE list_dot_product(r, r) > 0),
       |p AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |        round(list_dot_product(a.r, b.r) / sqrt(a.nrm * b.nrm), 6)
       |          AS sim
       |      FROM z a JOIN z b ON a.vec_id < $queryBound
       |        AND a.vec_id <> b.vec_id),
       |r AS (SELECT qid, cid, sim,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, cid ASC) AS rn
       |      FROM p)
       |SELECT qid, cid, sim FROM r WHERE rn = 1""".stripMargin
}
