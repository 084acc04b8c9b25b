package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Closed-loop benchmark runner: one client, one op at a time, in whole
  * sweeps over the workload's ops: at least its `timedSweeps`, and
  * until `--seconds` of op time have been measured.
  *
  * Modes (all take `--data <fixture dir> --src <checkout root>`):
  *   run:         --workload W --seed N --seconds S --trace 0|1 --scratch D
  *                --pins F --traces D --t0-ms EPOCH_MS
  *   --selftest:  checks metric names, the tail rule and the module map
  *   --dump-oracle F: writes the oracle SQL of every query op to F
  */
object Main {
  final case class Rec(id: String, seconds: Double, startMs: Long, endMs: Long,
      out: Outcome, traced: Boolean, trace: Option[OpTrace], gcMs: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (argv.contains("--selftest")) sys.exit(SelfTest.run(a("src"), a("benchmark")))
    if (a.contains("dump-oracle")) { dumpOracle(a("dump-oracle")); return }
    run(a)
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Per-table (rows, bytes) of the generated fixture. */
  def fixtureStamp(data: String): Map[String, (Long, Long)] = {
    implicit val f: Formats = DefaultFormats
    val js = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(data, "fixture_stamp.json")), "UTF-8"))
    (js \ "tables").asInstanceOf[JObject].obj.map { case (n, t) =>
      n -> ((t \ "rows").extract[Long], (t \ "bytes").extract[Long])
    }.toMap
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def run(a: Map[String, String]): Unit = {
    val t0Ms = a("t0-ms").toLong
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val scratch = a("scratch")
    val spark = session(cores, scratch)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val sc = spark.sparkContext
    val env = Env(spark, a("data"), scratch)
    val pins: Map[String, String] = {
      implicit val f: Formats = DefaultFormats
      JsonMethods.parse(new String(Files.readAllBytes(Paths.get(a("pins"))), "UTF-8"))
        .extract[Map[String, String]]
    }
    val w = Workloads(workload, env, pins)
    val modules = ModuleMap.fromSources(new File(a("src"), "src/main/scala/graft"))
    val tracer = new Tracer(modules, w.entryModule)
    val rng = new Random(seed)

    def attach(): Unit = {
      BenchAccess.drainListeners(sc)
      sc.addSparkListener(tracer); spark.listenerManager.register(tracer); tracer.take()
    }
    def detach(): Unit = {
      BenchAccess.drainListeners(sc)
      sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
    }

    /** One sweep. With `traceParity`, every other op in name order is
      * traced, so over two sweeps each op runs once traced and once
      * untraced (every workload has an odd number of ops). */
    def runSweep(traceParity: Option[Int], checked: Boolean = true): Seq[Rec] = {
      val ops = w.sweep(rng)
      val rank = ops.map(_.id).sorted.zipWithIndex.toMap
      ops.map { op =>
        val traced = traceParity.exists(p => (rank(op.id) + p) % 2 == 1)
        if (traced) attach()
        try {
          val g0 = gcMs()
          val s0 = System.currentTimeMillis()
          val n0 = System.nanoTime()
          val res = Try(op.run())
          val dt = (System.nanoTime() - n0) / 1e9
          val s1 = System.currentTimeMillis()
          val g1 = gcMs()
          val tr = if (traced) { BenchAccess.drainListeners(sc); Some(tracer.take()) } else None
          val out = res.flatMap(o => if (checked) Try(op.check(o)) else Try(o)).recover { case e =>
            Outcome("", 0L, 0L, failure = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
          }.get
          out.failure.foreach(m => System.err.println(s"[perfbench] ${op.id} FAILED: ${m.take(500)}"))
          Rec(op.id, dt, s0, s1, out, traced, tr, g1 - g0)
        } finally if (traced) detach() // the check's own jobs belong to no op
      }
    }

    // Set-up ends with one untimed, unchecked warm-up sweep: artifacts
    // land, relations resolve, code is JIT-compiled.
    runSweep(None, checked = false)
    w.reset()
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val recs = ArrayBuffer.empty[Rec]
    var sweeps = 0
    def measured = recs.map(_.seconds).sum
    while (sweeps < w.timedSweeps || measured < seconds) {
      recs ++= runSweep(if (traceOn) Some(sweeps % 2) else None)
      sweeps += 1
    }
    val endMs = System.currentTimeMillis()
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after
    // a GC finds them unreachable; give it time between collections.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val heapAfterGcMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    // An op whose result differs between sweeps fails in every sweep.
    val fingerprints = recs.filter(_.out.failure.isEmpty).groupBy(_.id)
      .map { case (id, rs) => id -> rs.map(_.out.fingerprint).distinct.sorted }
    fingerprints.collect { case (id, fs) if fs.size > 1 =>
      System.err.println(s"[perfbench] $id gave different results: ${fs.mkString(", ")}")
    }
    val attempted = recs.size
    val failed = recs.count(r => r.out.failure.nonEmpty || fingerprints.get(r.id).exists(_.size > 1))
    val fingerprint = Canon.combine(fingerprints.map { case (id, fs) => id -> fs.mkString("|") })

    val metrics: Seq[(String, Double, String)] =
      if (!traceOn) {
        val lat = recs.map(_.seconds).toIndexedSeq
        val total = lat.sum
        val (tail, rule) = Metrics.tail(recs.map(r => r.id -> r.seconds).toSeq)
        println(s"op_tail_s is the $rule")
        Seq(
          ("setup_s", setupS, "s"),
          ("ops_per_s", lat.size / total, "op/s"),
          ("op_p50_s", Metrics.median(lat), "s"),
          ("op_tail_s", tail, "s"),
          ("rows_per_s", recs.map(_.out.inputRows).sum / total, "rows/s"),
          ("live_heap_mb", heapMb, "MB"))
      } else {
        val layer = PerLayer.compute(recs.toSeq, cores, w.layerMetrics(), heapAfterGcMb)
        writeSpans(a("traces"), workload, seed, recs.filter(_.traced).toSeq)
        Metrics.PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    println(f"setup: session ${sessionS}%.3f s, warm-up and inputs ${setupS - sessionS}%.3f s")
    println(s"workload=$workload seed=$seed cores=$cores sweeps=$sweeps ops=$attempted " +
      f"measured_s=${measured}%.3f wall_s=${(endMs - t0Ms) / 1000.0 - setupS}%.3f")
    println(s"fixture_stamp=${new String(Files.readAllBytes(Paths.get(a("data"), "fixture_stamp.json")), "UTF-8")}")
    println(s"result_fingerprint=$fingerprint")
    println(f"failed_frac=${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6f ratio ($failed of $attempted)")
    recs.groupBy(_.id).toSeq.sortBy(_._1).foreach { case (id, rs) =>
      println(f"op $id%-28s median ${Metrics.median(rs.map(_.seconds).toSeq)}%.3f s over ${rs.size}: " +
        rs.map(r => f"${r.seconds}%.3f").mkString(" "))
    }
    metrics.foreach { case (n, v, u) => println(s"metric $n = $v $u") }
    val js = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $js}""")
    spark.stop()
  }

  /** Spans of the traced ops, one JSON object per line: the op, its layer
    * spans (sequential, so their bounds follow from the durations) and
    * its Spark jobs, each naming its parent span. */
  private def writeSpans(dir: String, workload: String, seed: Long, recs: Seq[Rec]): Unit = {
    implicit val f: Formats = DefaultFormats
    Files.createDirectories(Paths.get(dir))
    val pw = new PrintWriter(new File(dir, s"$workload-seed$seed.jsonl"), "UTF-8")
    try recs.zipWithIndex.foreach { case (r, i) =>
      val opSpan = s"op$i"
      var at = r.startMs.toDouble
      val layerSpans = r.out.layers.toSeq.map { case (n, s) =>
        val span = Map("span" -> s"$opSpan.$n", "parent" -> opSpan, "name" -> n,
          "start_ms" -> math.round(at), "end_ms" -> math.round(at + s * 1000))
        at += s * 1000; span
      }
      val jobSpans = r.trace.toSeq.flatMap(_.jobs.values).map { j =>
        Map("span" -> s"$opSpan.job${j.id}", "parent" -> opSpan, "name" -> s"${j.module}.job",
          "start_ms" -> j.start, "end_ms" -> j.end)
      }
      val all = Map("span" -> opSpan, "parent" -> "", "name" -> r.id,
        "start_ms" -> r.startMs, "end_ms" -> r.endMs) +: (layerSpans ++ jobSpans)
      all.foreach(s => pw.println(Serialization.write(s)))
    } finally pw.close()
  }

  private def dumpOracle(path: String): Unit = {
    implicit val f: Formats = DefaultFormats
    val ops = Workloads.analyticsOps ++ Workloads.CurationOps
    val sql = ops.map(n => n -> graft.queries.Registry.oracle(n)).toMap
    Files.write(Paths.get(path), Serialization.writePretty(sql).getBytes("UTF-8"))
  }
}
