package graft.tools
/** Dumps formatted physical plans for the headline queries — the
  * plan-audit loop behind PLANS_r02.md.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_PLAN_AQE=off dumps the STATIC physical plan (AQE
    // disabled): ReuseExchange then shows as explicit ReusedExchange
    // nodes instead of being applied invisibly at runtime — the form
    // the plans/r16 exchange-reuse evidence is committed in. AQE is a
    // runtime conf, so the choice overrides the factory's AQE-on here.
    val aqe = if (sys.env.get("SPARK_GRAFT_PLAN_AQE").contains("off")) "false" else "true"
    val spark = graft.GraftSession.create(8)
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q3_topk", "q5_region", "dedup_exact", "dedup_near", "sim_topk_lsh",
      "window_topn", "event_window", "simhash")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
