package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session in the engine, its tools and its tests comes from
  * `GraftSession.create`, so the confs cannot drift apart again.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val Builder = "SparkSession" + ".builder"

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no session is built outside GraftSession.scala") {
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "GraftSession.scala")
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(Builder))
    if (offenders.nonEmpty)
      fail(s"$Builder outside GraftSession.scala: ${offenders.mkString(", ")}")
  }
}
