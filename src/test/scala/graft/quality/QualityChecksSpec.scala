package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.config.QualityCheck

/** `QualityChecks.run` against a per-check reference computed here, one
  * plain query per check: whatever shape the single quality action
  * takes, each count must equal its reference.
  */
class QualityChecksSpec extends SparkTestBase {
  import spark.implicits._

  private def reference(df: DataFrame, c: QualityCheck): Long = c.kind match {
    case "not_null" => df.filter(c.columns.map(col(_).isNull).reduce(_ || _)).count()
    case "regex" =>
      df.filter(col(c.columns.head).isNotNull &&
        !col(c.columns.head).rlike(c.pattern.get)).count()
    case "unique" =>
      df.groupBy(c.columns.map(col): _*).count().filter(col("count") > 1).count()
  }

  private def assertMatchesReference(df: DataFrame, checks: Seq[QualityCheck]) = {
    val report = QualityChecks.run(df, checks)
    assert(report.rowCount == df.count())
    assert(report.results.map(_.check).sorted(Ordering.by[QualityCheck, String](_.toString)) ==
      checks.sorted(Ordering.by[QualityCheck, String](_.toString)))
    report.results.foreach { r =>
      assert(r.violations == reference(df, r.check), s"${r.check}")
    }
    report
  }

  private val people = Seq(
    (Option(1L), Option("a"), Option("a@x.com")),
    (Option(2L), Option("a"), Option.empty[String]),
    (Option(2L), Option("b"), Option("bad")),
    (Option(3L), Option("b"), Option("c@x.com")),
    (Option.empty[Long], Option("c"), Option("d@x.com")),
    (Option.empty[Long], Option.empty[String], Option("e@x.com")),
    (Option(3L), Option("b"), Option("f@x.com"))).toDF("id", "grp", "email")

  private val Email = "^[^@]+@[^@]+$"

  test("NULL never violates regex") {
    val c = QualityCheck("regex", Seq("email"), pattern = Some(Email))
    val report = assertMatchesReference(people, Seq(c))
    assert(report.results.head.violations == 1) // only "bad"; the NULL email passes
  }

  test("not_null over several columns counts rows with any NULL") {
    val c = QualityCheck("not_null", Seq("id", "grp"))
    val report = assertMatchesReference(people, Seq(c))
    assert(report.results.head.violations == 2)
  }

  test("composite unique key counts duplicated key tuples") {
    val c = QualityCheck("unique", Seq("id", "grp"))
    val report = assertMatchesReference(people, Seq(c))
    assert(report.results.head.violations == 1) // (3, b) twice; (2, a)/(2, b) differ
  }

  test("NULL keys group together: two NULL-key rows are one duplicated key") {
    val c = QualityCheck("unique", Seq("id"))
    val report = assertMatchesReference(people, Seq(c))
    assert(report.results.head.violations == 3) // id 2, id 3 and NULL
  }

  test("two unique checks plus scalar checks in one call") {
    val checks = Seq(
      QualityCheck("not_null", Seq("email")),
      QualityCheck("unique", Seq("id")),
      QualityCheck("regex", Seq("email"), pattern = Some(Email)),
      QualityCheck("unique", Seq("grp", "email")),
      QualityCheck("unique", Seq("grp")))
    val report = assertMatchesReference(people, checks)
    assert(report.results.map(r => r.check -> r.violations).toMap ==
      checks.zip(Seq(1L, 3L, 1L, 0L, 2L)).toMap)
    assert(!report.passed)
  }

  test("a key set named twice, in either column order, counts for each check") {
    val checks = Seq(
      QualityCheck("unique", Seq("id", "grp")),
      QualityCheck("unique", Seq("grp", "id")),
      QualityCheck("unique", Seq("grp")))
    val report = assertMatchesReference(people, checks)
    assert(report.results.map(_.violations) == Seq(1L, 1L, 2L))
  }

  test("an empty frame has rowCount 0 and passes every check") {
    val empty = people.limit(0)
    val checks = Seq(
      QualityCheck("not_null", Seq("id")),
      QualityCheck("regex", Seq("email"), pattern = Some(Email)),
      QualityCheck("unique", Seq("id")),
      QualityCheck("unique", Seq("grp")))
    val report = assertMatchesReference(empty, checks)
    assert(report.rowCount == 0L)
    assert(report.results.forall(_.violations == 0L) && report.passed)
    assert(QualityChecks.run(empty, checks.take(2)).rowCount == 0L)
  }

  test("no checks: the row count alone, and a pass") {
    val report = assertMatchesReference(people, Nil)
    assert(report.rowCount == 7L && report.results.isEmpty && report.passed)
  }
}
