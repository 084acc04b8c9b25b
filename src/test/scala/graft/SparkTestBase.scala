package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (suites run in a
  * single forked JVM; getOrCreate reuses the session).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // A throwaway warehouse per test JVM. SparkConf reads `spark.*`
    // system properties, so the factory needs no test-only parameter.
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    val s = GraftSession.create(8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def resource(path: String): String =
    getClass.getClassLoader.getResource(path).getPath
}
