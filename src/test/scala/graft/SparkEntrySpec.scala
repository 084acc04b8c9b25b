package graft

import org.apache.spark.sql.functions.col

/** `SparkEntry.entry`, the flagship `cfg_pipeline` query
  * on the sf0.001 fixture, keeps exactly the orders its required filter
  * admits.
  */
class SparkEntrySpec extends SparkTestBase {
  test("entry: one row per order with both required keys, and rows > 0") {
    val expected = spark.read.parquet(s"$sf0001/orders.parquet")
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull).count()
    val n = SparkEntry.entry(spark).count()
    assert(n == expected)
    assert(n > 0)
  }
}
