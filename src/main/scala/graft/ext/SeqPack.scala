package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget sharding: assign each document to a fixed-token-budget
  * training shard by its START OFFSET in the corpus-wide running token
  * total over a deterministic document order — the step that turns a
  * cleaned corpus into evenly-sized sequence-packing work units
  * (shard k holds the docs whose token stream begins in
  * [k·budget, (k+1)·budget)).
  *
  * A global running sum is the textbook anti-pattern at 100 TB — a
  * window over ONE ordering is a single-partition sort. This is the
  * classic two-level parallel prefix sum instead:
  *
  *  1. docs bucket by a monotone function of the order key
  *     (floor(id / bucketWidth)), so bucket order == document order;
  *  2. an in-bucket running sum (window partitioned BY BUCKET — fully
  *     parallel, each bucket sorts locally);
  *  3. per-bucket totals (tiny aggregate: one row per bucket) get an
  *     EXCLUSIVE running sum over bucket order — the only
  *     single-partition window, over #buckets rows, not the corpus;
  *  4. bucket offsets broadcast back; each doc's global start offset
  *     is bucket_offset + in_bucket_running − own_count.
  *
  * The result is bit-identical to the global window for ANY
  * bucketWidth (spec-asserted), so the width is purely a parallelism
  * knob: pick it so each bucket holds a few partitions' worth of rows.
  */
object SeqPack {

  /** Shard assignment over a precomputed token-count column: the
    * [[startOffsets]] prefix sum with `start div budget` on top. Every
    * other column of `docs` passes through, so a caller carrying
    * payload columns needs no join back on the id. `idCol` must be
    * non-negative (the deterministic order key); with unique ids the
    * running sum is total-ordered.
    */
  def tokenShards(docs: DataFrame, idCol: String, tokCol: String,
      budget: Long, bucketWidth: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    startOffsets(docs, idCol, tokCol, bucketWidth)
      // Integral divide (start offsets are non-negative): a double
      // division loses exactness once offsets pass 2^53 — inside the
      // design's corpus ambition; `div` stays exact over the full
      // long range (SeqPackSpec proves the divergence).
      .select(docs.columns.map(col) :+ expr(s"start div ${budget}L").as("shard_id"): _*)
  }

  /** Exclusive corpus start-offset per document — the two-level prefix
    * sum, steps 1-4 above: `docs`' columns (wCol cast to long) plus
    * `start`, the sum of `wCol` over all ids before this one.
    * Bit-identical to the global window for any bucketWidth.
    */
  def startOffsets(docs: DataFrame, idCol: String, wCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val bucketed = docs.withColumn(wCol, col(wCol).cast("long"))
      .withColumn("__bucket", floor(col(idCol) / bucketWidth).cast("long"))
    val wIn = Window.partitionBy(col("__bucket")).orderBy(col(idCol))
    val wOff = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__bucket"))
      .agg(sum(col(wCol)).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wOff), lit(0L)))
      .select(col("__bucket"), col("__off"))
    bucketed.withColumn("__run", sum(col(wCol)).over(wIn))
      .join(broadcast(offsets), "__bucket")
      .select(docs.columns.map(col) :+
        (col("__off") + col("__run") - col(wCol)).as("start"): _*)
  }

  /** Systematic probability-proportional-to-size sampling: lay the
    * documents' weights end to end on the integer line (deterministic
    * id order) and select every document whose interval
    * [start, start+w) covers a multiple of `step` — each document's
    * selection probability is min(1, w/step), the classic
    * systematic-PPS estimator, with ZERO randomness state: the sample
    * is a pure function of (corpus, step), so two runs — or two
    * engines — agree exactly.
    *
    * The only corpus-sized work is the two-level prefix sum
    * ([[startOffsets]]); selection is a map-side predicate. pick_idx
    * (which multiple of step the interval covers first) gives the
    * sample a stable dense ordering.
    */
  def ppsSample(docs: DataFrame, idCol: String, wCol: String,
      step: Long, bucketWidth: Long): DataFrame = {
    require(step >= 1, s"step must be >= 1, got $step")
    startOffsets(docs, idCol, wCol, bucketWidth)
      // smallest multiple of step >= start, inside the interval?
      .withColumn("__pick", expr(s"(start + ${step - 1}L) div ${step}L"))
      .filter(col("__pick") * step < col("start") + col(wCol))
      .select(col(idCol), col(wCol), col("start"), col("__pick").as("pick_idx"))
  }

  /** DuckDB replay of [[ppsSample]]: the single global window the
    * two-level sum must match, plus the same integer selection rule.
    */
  def ppsOracleSql(table: String, idCol: String, wExpr: String,
      wName: String, step: Long): String =
    s"""WITH q AS (SELECT $idCol, CAST($wExpr AS BIGINT) AS $wName FROM $table),
       |r AS (
       |  SELECT $idCol, $wName,
       |    CAST(coalesce(sum($wName) OVER (ORDER BY $idCol
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM q)
       |SELECT $idCol, $wName, start,
       |  CAST((start + ${step - 1}) // $step AS BIGINT) AS pick_idx
       |FROM r
       |WHERE ((start + ${step - 1}) // $step) * $step < start + $wName""".stripMargin

  /** Reference single-window encoding (the shape the two-level version
    * must reproduce bit-for-bit) — test/oracle use only: one global
    * sort, fine at fixture scale, wrong at corpus scale.
    */
  def tokenShardsGlobal(docs: DataFrame, idCol: String, tokCol: String,
      budget: Long): DataFrame = {
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("__run", sum(col(tokCol).cast("long")).over(w))
      .withColumn("__start", col("__run") - col(tokCol).cast("long"))
      .select(col(idCol), col(tokCol).cast("long").as(tokCol),
        expr(s"__start div ${budget}L").as("shard_id"))
  }

  /** Best-fit sequence PACKING (vs [[tokenShards]]' offset sharding,
    * which lets a document straddle a boundary): bin-pack whole
    * documents into fixed-`budget` training sequences to minimize
    * padding — the packer a real pretraining pipeline runs before
    * writing sequence files. Deterministic, distributed, class-
    * decomposed first-fit-decreasing:
    *
    *  1. documents group into EXACT-LENGTH classes; within a class all
    *     items are interchangeable, so packing is pure integer
    *     arithmetic: k = ⌊budget/len⌋ docs per sequence, the class's
    *     id-ordered rank divides into local sequences — fully parallel
    *     (one window partitioned by length), no greedy state at all;
    *  2. each class leaves at most ONE partial sequence, so the
    *     residual frame is bounded by the number of distinct lengths
    *     (≤ budget rows — output-sized, NOT corpus-sized); those
    *     partials merge by next-fit-decreasing over (tokens desc) — a
    *     sequential fold, deliberately quarantined to the tiny frame
    *     (same justification as the vocab-rank windows);
    *  3. sequences get stable dense ids by one output-sized global
    *     window over (full-before-residual, length desc, position).
    *
    * Documents longer than the budget get k = 1: their own (overfull)
    * sequence, surfaced rather than dropped. Waste per residual bin is
    * < the largest item packed after it (next-fit bound); per full
    * class sequence it is budget mod len < len. The whole assignment
    * — including the greedy fold — replays in the DuckDB oracle (the
    * fold as a linear recursive CTE).
    */
  def ffdPack(docs: DataFrame, idCol: String, tokCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(
      col(idCol).cast("long").as("id"), col(tokCol).cast("long").as("len"))
    val wClass = Window.partitionBy(col("len")).orderBy(col("id"))
    val ranked = base
      .withColumn("k", expr(s"greatest(${budget}L DIV len, 1L)"))
      .withColumn("rn", (row_number().over(wClass) - 1).cast("long"))
      .withColumn("local_seq", expr("rn DIV k"))
    val seqs = ranked.groupBy(col("len"), col("local_seq"))
      .agg(max(col("k")).as("k"), count(lit(1)).as("n"))
      .withColumn("toks", col("n") * col("len"))
    val fullSeqs = seqs.where(col("n") === col("k"))
    // Next-fit-decreasing fold over the ≤ one-partial-per-length frame.
    // repartition(1) + sortWithinPartitions pins a deterministic scan
    // order; (toks, len) is unique across partials (one per length).
    val folded = seqs.where(col("n") < col("k"))
      .select(col("len"), col("local_seq"), col("toks"))
      .repartition(1).sortWithinPartitions(col("toks").desc, col("len").desc)
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var fill = -1L
        var bin = -1L
        it.map { case (len, localSeq, toks) =>
          if (fill < 0 || fill + toks > budget) { bin += 1; fill = toks }
          else fill += toks
          (len, localSeq, toks, bin)
        }
      }.toDF("len", "local_seq", "toks", "bin")
    // Stable dense sequence ids: full sequences first (length desc,
    // position), then residual bins — one window over #sequences rows.
    val entries = fullSeqs
      .select(lit(0L).as("grp"), (-col("len")).as("k1"), col("local_seq").as("k2"))
      .unionByName(folded.select(col("bin")).distinct()
        .select(lit(1L).as("grp"), col("bin").as("k1"), lit(0L).as("k2")))
    val ids = entries.withColumn("seq_id",
      (row_number().over(Window.orderBy(col("grp"), col("k1"), col("k2"))) - 1)
        .cast("long"))
    val fullAssign = fullSeqs
      .select(col("len"), col("local_seq"), lit(0L).as("grp"),
        (-col("len")).as("k1"), col("local_seq").as("k2"))
      .join(ids, Seq("grp", "k1", "k2"))
      .select(col("len"), col("local_seq"), col("seq_id"))
    val partAssign = folded
      .select(col("len"), col("local_seq"), lit(1L).as("grp"),
        col("bin").as("k1"), lit(0L).as("k2"))
      .join(ids, Seq("grp", "k1", "k2"))
      .select(col("len"), col("local_seq"), col("seq_id"))
    ranked
      .join(fullAssign.unionByName(partAssign), Seq("len", "local_seq"))
      .select(col("id").as(idCol), col("len").as(tokCol), col("seq_id"))
  }
}
