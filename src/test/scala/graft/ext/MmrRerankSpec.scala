package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** MMR diverse re-ranking (Carbonell & Goldstein 1998). */
class MmrRerankSpec extends SparkTestBase {
  import spark.implicits._

  test("diversity beats redundancy: rank 2 skips the near-duplicate") {
    // Query 0 = [1,0,0]. Candidate 10 is the best match; candidate 11
    // is near-identical to 10 (rel(11) > rel(12), but sim(11,10) ≈ 1
    // makes its marginal score negative), so MMR's rank 2 goes to the
    // diverse candidate 12 (score ≈ 0.7071 − 0.7028 > 0).
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (10L, Seq(0.9f, 0.1f, 0f)),
      (11L, Seq(0.9f, 0.1f, 0.001f)),
      (12L, Seq(0.7f, 0f, 0.7f)))
      .toDF("vec_id", "embedding")
    val out = MmrRerank.rerank(emb, 1, 3, 3)
      .collect().map(r => r.getAs[Int]("rank") -> r.getAs[Long]("cid")).toMap
    assert(out(1) === 10L)
    assert(out(2) === 12L) // not 11, despite rel(11) > rel(12)
    assert(out(3) === 11L)
  }

  test("rank 1 equals the plain relevance argmax; scores carry penalties") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = MmrRerank.rerank(emb, 8, 10, 3).cache()
    val top1 = SimSearch.bruteTopKNFiltered(emb, 8, 1)
      .select("qid", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.filter(col("rank") === 1).collect().foreach { r =>
      assert(top1(r.getAs[Long]("qid")) === r.getAs[Long]("cid"))
    }
    // every query yields exactly k distinct candidates with ranks 1..k
    val perQ = out.groupBy("qid")
      .agg(countDistinct("cid").as("nc"), count(lit(1)).as("n"),
        min("rank").as("lo"), max("rank").as("hi")).collect()
    perQ.foreach { r =>
      assert(r.getAs[Long]("nc") === 3L && r.getAs[Long]("n") === 3L)
      assert(r.getAs[Int]("lo") === 1 && r.getAs[Int]("hi") === 3)
    }
    out.unpersist()
  }

  test("filtered MMR: every pick eligible; always-true predicate is identity") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val eligible = emb.filter(col("label") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val filtered = MmrRerank.rerank(emb, 8, 10, 3, Some(col("label") === 1))
      .collect()
    assert(filtered.nonEmpty)
    filtered.foreach { r =>
      assert(eligible(r.getAs[Long]("cid")), s"ineligible pick: $r")
    }
    val all = MmrRerank.rerank(emb, 8, 10, 3, Some(lit(true)))
      .collect().map(_.toSeq).toSet
    val plain = MmrRerank.rerank(emb, 8, 10, 3)
      .collect().map(_.toSeq).toSet
    assert(all === plain)
  }

  test("round6 is bit-identical to Catalyst round(_, 6) on doubles") {
    // The in-reduction greedy rounds Scala-side; this lane pins the
    // replica against the REAL Round expression (the binary we ship
    // against), over adversarial values: half-way points at the 6th
    // decimal, tiny cosine differences, negatives, denormals, specials.
    import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
    def sparkRound(x: Double): Double =
      Round(Literal(x), Literal(6)).eval().asInstanceOf[Double]
    val rng = new scala.util.Random(421)
    val adversarial = Seq(
      0.1234565, 0.1234575, -0.1234565, 0.9999995, -0.9999995,
      0.0000005, -0.0000005, 1.0000005, 0.5e-6, -0.5e-6, 0.0, -0.0,
      1.0, -1.0, 0.123456, 0.7071067811865476, 2.5e-7,
      Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    val random = Seq.fill(2000)(rng.nextDouble() * 2 - 1) ++
      Seq.fill(500)((rng.nextDouble() * 2 - 1) * 1e-6) ++
      // differences of two already-rounded cosines (the greedy's input shape)
      Seq.fill(500)(sparkRound(rng.nextDouble()) - sparkRound(rng.nextDouble()))
    (adversarial ++ random).foreach { x =>
      val mine = MmrRerank.round6(x)
      val ref = sparkRound(x)
      assert(java.lang.Double.compare(mine, ref) === 0 ||
        (mine.isNaN && ref.isNaN), s"round6($x): mine=$mine spark=$ref")
    }
  }

  test("single-pass plan: one Spark job, no driver-sequenced greedy") {
    // The r16 re-plan contract (VERDICT r15 #1): the whole rerank is
    // one action — no per-step localCheckpoint jobs remain.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val sc = spark.sparkContext
    val listener = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      MmrRerank.rerank(emb, 8, 10, 3).collect()
      // listener events are async; onJobStart fires synchronously with
      // job submission in local mode well before this settles
      Thread.sleep(300)
      // collect = 1 job; the broadcast of the bounded query side may
      // add one more. Anything beyond that is a re-grown greedy loop.
      assert(listener.jobs.get() <= 3,
        s"MMR rerank ran ${listener.jobs.get()} jobs — the single-pass plan regressed")
    } finally sc.removeSparkListener(listener)
  }

  test("greedy is penalty-consistent: a later pick never beats rank 2's score") {
    // Within a query, scores at ranks >= 2 are non-increasing: each
    // step maximizes over a shrinking remaining set with a growing
    // penalty term.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val rows = MmrRerank.rerank(emb, 8, 10, 4)
      .filter(col("rank") >= 2).orderBy("qid", "rank")
      .collect().groupBy(_.getAs[Long]("qid"))
    rows.values.foreach { qRows =>
      val scores = qRows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      scores.sliding(2).foreach {
        case Array(a, b) => assert(a >= b, s"scores increased: $a -> $b")
        case _ =>
      }
    }
  }
}
