package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every build-once artifact lands through `graft.Tables.land`, which
  * owns the `/tmp/graft_<name>/<tag>` layout, the single-flight build
  * and the cached read. A query that spells its own landing path or
  * keeps its own guard brings back the races `land` closes: a path
  * marked built before it is written, a failed build never retried, two
  * first callers both writing.
  */
class LandingGuardSpec extends AnyFunSuite {

  private val Landing = """landOnce\(|readImmutable\(|"/tmp/graft_""".r

  /** FixtureStamp caches the fixture's content stamp ACROSS processes,
    * keyed by the fixture listing; it is not an artifact a query lands
    * and reads, so it keeps its own file under /tmp.
    */
  private val allowed = Map("FixtureStamp.scala" -> "\"/tmp/graft_fixture_stamp\"")

  private def mainSources: Seq[Path] = {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no engine code lands an artifact outside Tables.land") {
    val files = mainSources
    assert(files.exists(_.getFileName.toString == "Tables.scala"))
    val hits = files.filter(_.getFileName.toString != "Tables.scala").flatMap { f =>
      val name = f.getFileName.toString
      new String(Files.readAllBytes(f), "UTF-8").linesIterator.zipWithIndex.collect {
        case (line, i) if Landing.findFirstIn(line).isDefined &&
            !allowed.get(name).exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    if (hits.nonEmpty) fail(s"landing outside Tables.land:\n${hits.mkString("\n")}")
  }
}
