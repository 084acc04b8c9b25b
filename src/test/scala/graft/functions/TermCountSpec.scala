package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** graft_term_count must equal the declarative size(filter(...)) it
  * replaces — on every document of the fixture, through codegen.
  */
class TermCountSpec extends SparkTestBase {

  test("equals size(filter(arr, == t)) on the corpus, nulls handled") {
    val s = spark; import s.implicits._
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(split(trim(col("text")), "\\s+").as("tk"))
    val diff = docs.select(
        TermCount.col(col("tk"), lit("hash")).as("fast"),
        size(filter(col("tk"), x => x === "hash")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0L)
    // NULL array → NULL; null elements don't count; empty term counts empties.
    val edge = Seq(
      (Some(Seq(Some("a"), None, Some("a"))), "a"),
      (None: Option[Seq[Option[String]]], "a"))
      .toDF("tk", "t")
      .select(TermCount.col(col("tk"), col("t")).as("c")).collect()
    assert(edge(0).getInt(0) == 2)
    assert(edge(1).isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    // A parquet-backed scan — a local relation would be constant-folded
    // before any codegen stage exists.
    val q = graft.Tables.t(spark, sf0001, "documents")
      .select(TermCount.col(split(trim(col("text")), "\\s+"), lit("a")).as("c"))
    // The `*(n)` prefix marks a whole-stage-codegen'd operator.
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_term_count""".r.findFirstIn(plan).isDefined, plan)
    q.collect() // and the generated code actually compiles and runs
  }
}
