package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's own checks; exit code 0 when all pass. */
object SelfTest {
  /** Canonical renderings `pin.py` must reproduce for DuckDB values. */
  val RenderCases: Seq[(Any, String)] = Seq(
    (null, "\\N"), (true, "true"), (42L, "42"), (-7, "-7"), (0.0, "0"), (-0.0, "0"),
    (0.1 + 0.2, "0.3"), (1234.5, "1234.5"), (1e20, "100000000000000000000"),
    (1.0 / 3, "0.333333333333"), (2.5f, "2.5"), ("a b", "a b"),
    (java.time.LocalDate.of(2024, 1, 31), "2024-01-31"),
    (java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 1, 5000), "1704067201000005"),
    (Seq(1L, 2L), "[1,2]"))

  def run(root: String, benchmarkJson: String): Int = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

    // 1. Metric names: well-formed, unique, and exactly BENCHMARK.json's.
    val all = Metrics.E2E ++ Metrics.PerLayer
    all.foreach { case (n, u) =>
      check(n.matches(Metrics.NamePattern) && n.length <= 64, s"bad metric name $n")
      check(u.matches("[A-Za-z0-9_/%.-]{1,16}"), s"bad unit $u for $n")
    }
    check(all.map(_._1).distinct.size == all.size, "duplicate metric names")
    implicit val f: Formats = DefaultFormats
    val bj = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(benchmarkJson)), "UTF-8"))
    def declared(key: String) = (bj \ key).children.map(m =>
      ((m \ "name").extract[String], (m \ "unit").extract[String]))
    check(declared("end_to_end") == Metrics.E2E,
      s"BENCHMARK.json end_to_end ${declared("end_to_end")} != emitted ${Metrics.E2E}")
    check(declared("per_layer") == Metrics.PerLayer,
      s"BENCHMARK.json per_layer differs from emitted: " +
        s"${declared("per_layer").diff(Metrics.PerLayer)} / ${Metrics.PerLayer.diff(declared("per_layer"))}")
    check((bj \ "workloads").children.map(w => (w \ "name").extract[String]) == Workloads.Names,
      "BENCHMARK.json workloads differ from Workloads.Names")

    // 2. Tail rule: the chosen step keeps >= 10 samples beyond it and no
    //    higher step does; too few samples fall back to the slowest op.
    for (n <- Seq(1, 5, 14, 19, 20, 39, 40, 45, 99, 100, 199, 200, 999, 1000, 9999, 10000)) {
      val p = Metrics.tailPercentile(n)
      if (n >= 4 * Metrics.MinBeyond)
        check(p.exists(Metrics.beyond(n, _) >= Metrics.MinBeyond), s"n=$n p=$p too few beyond")
      else check(p.isEmpty, s"n=$n should fall back to the slowest op, got $p")
      check(Metrics.Ladder.filter(h => p.forall(h > _)).forall(Metrics.beyond(n, _) < Metrics.MinBeyond),
        s"n=$n p=$p not the highest")
    }
    check(Metrics.tailPercentile(45).contains(75.0), "45 samples must give p75")
    check(Metrics.tailPercentile(100).contains(90.0), "100 samples must give p90")
    check(Metrics.tailPercentile(1000).contains(99.0), "1000 samples must give p99")
    check(Metrics.percentile(Vector(1.0, 2.0, 3.0, 4.0), 50.0) == 2.0, "nearest-rank p50")
    val few = Seq("a" -> 1.0, "b" -> 5.0, "b" -> 3.0, "c" -> 2.0, "b" -> 9.0, "a" -> 1.5)
    check(Metrics.tail(few)._1 == 5.0, "few samples: the tail is the slowest op's median")
    val many = (1 to 100).map(i => s"q${i % 7}" -> i.toDouble)
    check(Metrics.tail(many)._1 == 90.0, "100 samples: the tail is the nearest-rank p90")

    // 3. Call-site map: every graft/* module and top-level file is covered.
    val graft = new File(root, "src/main/scala/graft")
    val mm = ModuleMap.fromSources(graft)
    val entries = Option(graft.listFiles()).getOrElse(Array.empty[File]).toSeq
    check(entries.nonEmpty, s"no sources under $graft")
    entries.foreach { e =>
      val m = if (e.isDirectory) e.getName else e.getName.stripSuffix(".scala")
      check(mm.modules.contains(m), s"module $m has no call-site mapping")
    }
    check(Metrics.Modules.forall(mm.modules.contains), "a reported module is missing from the sources")
    check(mm.moduleOf("count at QualityChecks.scala:45").contains("quality"), "QualityChecks → quality")
    check(mm.moduleOf("parquet at PartitionedWriter.scala:32").contains("sink"), "PartitionedWriter → sink")
    check(mm.moduleOf("collect at Tables.scala:9").contains("Tables"), "Tables → Tables")
    check(mm.moduleOf("run at ThreadPoolExecutor.java:1136").isEmpty, "JDK frames map to nothing")

    // 4. Canonical rendering matches the table pin.py also checks.
    RenderCases.foreach { case (v, want) =>
      check(Canon.render(v) == want, s"render($v) = ${Canon.render(v)}, want $want")
    }

    failures.foreach(m => println(s"[selftest] FAIL: $m"))
    println(s"[selftest] ${if (failures.isEmpty) "PASS" else s"${failures.size} failures"}")
    if (failures.isEmpty) 0 else 1
  }
}
