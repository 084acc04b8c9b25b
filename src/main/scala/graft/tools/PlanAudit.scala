package graft.tools
/** Dumps the formatted physical plan of every registered query, in
  * name order, for the fixture dir given as the first argument; query
  * names may follow to dump only those. Tokens that differ between two
  * runs of the same code (expression ids, plan ids, RDD ids, lambda
  * and array identities, part-file names, the checkout path) are
  * normalized, so two dumps diff clean unless a plan changed:
  *
  *   sbt "runMain graft.tools.PlanAudit <fixture dir> [query ...]" > plans.txt
  */
object PlanAudit {
  private val volatile: Seq[(scala.util.matching.Regex, String)] = Seq(
    "#\\d+".r -> "#N",
    "plan_id=\\d+".r -> "plan_id=N",
    "\\$\\$Lambda\\S*?@[0-9a-f]+".r -> "\\$\\$Lambda@X",
    "\\[B@[0-9a-f]+".r -> "[B@X",
    "RDD\\[\\d+\\]".r -> "RDD[N]",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r -> "UUID",
    // Which task wrote a row range: a landed layout's part numbers vary by run.
    "part-\\d{5}-".r -> "part-N-")

  def normalize(plan: String, checkout: String): String =
    volatile.foldLeft(plan.replace(checkout, "<checkout>")) {
      case (p, (re, token)) => re.replaceAllIn(p, token)
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanAudit <fixture dir> [query ...]")
    // SPARK_GRAFT_PLAN_AQE=off dumps the STATIC physical plan (AQE
    // disabled): ReuseExchange then shows as explicit ReusedExchange
    // nodes instead of being applied invisibly at runtime — the form
    // the plans/r16 exchange-reuse evidence is committed in. AQE is a
    // runtime conf, so the choice overrides the factory's AQE-on here.
    val aqe = if (sys.env.get("SPARK_GRAFT_PLAN_AQE").contains("off")) "false" else "true"
    val spark = graft.GraftSession.create(8)
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.head
    val names = if (args.length > 1) args.toSeq.tail else graft.SparkEntry.queries.keys.toSeq.sorted
    val checkout = java.nio.file.Paths.get("").toAbsolutePath.toString
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val plan = graft.SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(normalize(plan, checkout))
    }
    spark.stop()
  }
}
