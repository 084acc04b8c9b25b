package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's custom expressions have one SQL registration point,
  * `graft.functions.GraftExtensions`, and one DataFrame builder each
  * (`DotProduct.col` etc., through `ColumnBridge`). Engine code that
  * registers a function into a session, or calls a `graft_*` function
  * by name, would bring back a second path that works only in some
  * sessions.
  */
class FunctionRegistryGuardSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => f -> new String(Files.readAllBytes(f), "UTF-8"))
    finally walk.close()
  }

  private def offenders(pattern: scala.util.matching.Regex): Seq[String] =
    mainSources.flatMap { case (f, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }

  test("no engine code registers a function into a session") {
    val hits = offenders("functionRegistry|createOrReplaceTempFunction|registerFunction".r)
    if (hits.nonEmpty) fail(s"function-registry mutation outside GraftExtensions:\n${hits.mkString("\n")}")
  }

  test("no engine code calls a graft_ function by name") {
    val hits = offenders("""call_function\(\s*"graft_""".r)
    if (hits.nonEmpty) fail(s"graft_ function called by name:\n${hits.mkString("\n")}")
  }
}
