package graft.functions

import graft.SparkTestBase

/** The SQL deployment surface: a session built by `GraftSession.create`
  * carries GraftExtensions, so plain `spark.sql` sees the custom
  * expressions, matching their DataFrame twins. No DataFrame code path
  * registers a function (`FunctionRegistryGuardSpec`), so every SQL lane
  * here proves the extension is installed.
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("graft_dot / graft_normalize / graft_heavy_hitters work from plain SQL") {
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head.getDouble(0)
    assert(dot == 11.0)
    val norm = spark.sql("SELECT graft_normalize('  A\tB  c ')").head.getString(0)
    assert(norm == "a b c")
    val hh = spark.sql(
      """SELECT graft_heavy_hitters(x, 2) FROM VALUES
        |('a'),('a'),('a'),('b'),('c') AS t(x)""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(_.getString(0)).contains("a"))
  }

  test("non-literal k is rejected loudly") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_heavy_hitters(x, CAST(x AS INT)) FROM VALUES ('1') AS t(x)")
        .collect()
    }
    assert(e.getMessage.contains("literal"))
  }
}
