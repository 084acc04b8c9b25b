package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.config.{MetricSpec, QualityCheck}

/** Data-quality checks (SURVEY F2-F4; sample_source.yaml:85-95) and
  * threshold monitors (F6; sample_source.yaml:98-107).
  *
  * Scale design: every check of a run is evaluated by ONE action. With
  * no unique check it is a single global aggregate (map-side partial
  * aggregation). Otherwise it is one keyed aggregate — a plain groupBy
  * for one distinct key set, GROUPING SETS tagged by `grouping_id()`
  * for several — whose groups carry the row count and every not_null
  * and regex check's conditional count, folded by one global aggregate
  * into the totals and, per key set, the count of keys seen more than
  * once. No collect of row data — only the per-check violation counts
  * come back to the driver.
  *
  * Null contract: a NULL value violates `not_null`, never `regex` —
  * regex evaluates only present values (SQL `rlike` three-valued
  * semantics). Configure both checks on a column to get both gates.
  */
object QualityChecks {

  final case class CheckResult(check: QualityCheck, violations: Long) {
    def passed: Boolean = violations == 0
  }

  final case class QualityReport(rowCount: Long, results: Seq[CheckResult]) {
    def passed: Boolean = results.forall(_.passed)
  }

  def run(df: DataFrame, checks: Seq[QualityCheck]): QualityReport = {
    val scalarChecks = checks.filter(c => c.kind == "not_null" || c.kind == "regex")
    val uniqueChecks = checks.filter(_.kind == "unique")
    val scalarCounts = scalarChecks.zipWithIndex.map { case (c, i) =>
      count(when(violation(c), 1)).as(s"__c$i")
    }
    // Key sets that name the same columns are one grouping set: GROUPING
    // SETS would otherwise expand every row into both copies.
    val norm: String => String =
      if (df.sparkSession.sessionState.conf.caseSensitiveAnalysis) identity else _.toLowerCase
    val keyOf = (c: QualityCheck) => c.columns.map(norm).toSet
    val keySets = uniqueChecks.map(keyOf).distinct

    val row: Row = keySets match {
      case Seq() =>
        df.agg(count(lit(1)).as("__rows"), scalarCounts: _*).head()
      case _ =>
        // Each group carries its size and its scalar counts; the fold
        // sums them over one key set (every row lands in each set once)
        // and counts each set's groups of more than one row.
        val (groups, inSet) = keySets match {
          case Seq(keys) =>
            (df.groupBy(keys.toSeq.map(col): _*)
              .agg(count(lit(1)).as("__n"), scalarCounts: _*), (_: Int) => lit(true))
          case _ =>
            val all = keySets.flatten.distinct
            // grouping_id(): bit set, most significant first, for each
            // column the grouping set leaves out.
            val gid = keySets.map(keys =>
              all.foldLeft(0L)((acc, c) => acc << 1 | (if (keys(c)) 0L else 1L)))
            (df.groupingSets(keySets.map(_.toSeq.map(col)), all.map(col): _*)
              .agg(grouping_id().as("__g"), count(lit(1)).as("__n") +: scalarCounts: _*),
              (k: Int) => col("__g") === gid(k))
        }
        val folded = (col("__n") +: scalarChecks.indices.map(i => col(s"__c$i"))).map(c =>
          coalesce(sum(when(inSet(0), c)), lit(0L))) ++
          keySets.indices.map(k => count(when(inSet(k) && col("__n") > 1, 1)))
        groups.agg(folded.head, folded.tail: _*).head()
    }
    val rowCount = row.getLong(0)
    val scalarResults = scalarChecks.zipWithIndex.map { case (c, i) =>
      CheckResult(c, row.getLong(i + 1))
    }
    val uniqueResults = uniqueChecks.map { c =>
      CheckResult(c, row.getLong(1 + scalarChecks.size + keySets.indexOf(keyOf(c))))
    }
    QualityReport(rowCount, scalarResults ++ uniqueResults)
  }

  /** A NULL value violates `not_null`, never `regex`. */
  private def violation(c: QualityCheck): Column = c.kind match {
    case "not_null" => c.columns.map(col(_).isNull).reduce(_ || _)
    case "regex" =>
      val target = c.columns.head
      col(target).isNotNull && !col(target).rlike(c.pattern.getOrElse(".*"))
  }

  /** Rows violating any check — the quarantine split (violations go to a
    * side path instead of silently dropping). unique violations are the
    * 2nd..nth copies per duplicated key.
    */
  def quarantine(df: DataFrame, checks: Seq[QualityCheck]): DataFrame = {
    val scalarViol = checks.filter(c => c.kind == "not_null" || c.kind == "regex").map(violation)
    val base = if (scalarViol.nonEmpty) df.filter(scalarViol.reduce(_ || _))
               else df.limit(0)
    checks.filter(_.kind == "unique").foldLeft(base) { (acc, c) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(c.columns.map(col): _*)
        .orderBy(df.columns.map(col): _*)
      acc.unionByName(
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") > 1).drop("__rn"))
    }
  }

  /** Referential-integrity check: child rows whose foreign key has no
    * parent — the orphan detection a pipeline runs between a fact load
    * and its dimension. One left-anti join keyed on the FK: the parent
    * side ships only its distinct key column (broadcast when the
    * dimension is small, keyed shuffle otherwise — never parent
    * payloads), and only the violation count returns to the driver.
    * NULL foreign keys are not orphans (that's `not_null`'s contract).
    */
  def referentialViolations(child: DataFrame, fkCol: String,
      parent: DataFrame, pkCol: String): DataFrame = {
    child
      .filter(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)).distinct(), Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .crossJoin(child.agg(count(lit(1)).as("n_rows")))
  }

  /** F15: k-anonymity audit — the privacy gate a pipeline runs before
    * publishing a table as training data: every row must share its
    * quasi-identifier combination with at least k−1 others, else the
    * combination re-identifies. Reports the violating-group count,
    * the rows they expose, and the group-size extremes (min < k is
    * the one-glance verdict).
    *
    * Scale shape: one partial-aggregated exchange keyed on the QI
    * tuple (group count ≪ rows), then a scalar fold over the group
    * frame — the same two-level shape as every counting audit here;
    * QI payloads never shuffle, only the tuple + count.
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[Column], k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    df.groupBy(qiCols: _*)
      .agg(count(lit(1)).as("grp_n"))
      .agg(
        count(when(col("grp_n") < k, 1)).as("violating_groups"),
        coalesce(sum(when(col("grp_n") < k, col("grp_n"))), lit(0))
          .cast("long").as("violating_rows"),
        count(lit(1)).as("n_groups"),
        min(col("grp_n")).as("min_group"),
        max(col("grp_n")).as("max_group"))
  }

  /** F6: threshold monitors — compare a named metric against its
    * configured threshold (sample_source.yaml:98-107).
    */
  def evaluateMonitors(metrics: Map[String, Double], specs: Seq[MetricSpec]): Seq[(MetricSpec, Boolean)] =
    specs.map { m =>
      val v = metrics.getOrElse(m.name, 0.0)
      val breached = m.comparison match {
        case "GreaterThan"          => v > m.threshold
        case "GreaterThanOrEqualTo" => v >= m.threshold
        case "LessThan"             => v < m.threshold
        case "LessThanOrEqualTo"    => v <= m.threshold
        case _                      => false
      }
      (m, breached)
    }
}
