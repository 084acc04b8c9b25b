package graft
/** Benchmark harness: runs every registered query on SPARK_GRAFT_SF_DIR
  * and emits one JSON line. A query that throws is reported with
  * ok=false and counted in "failed" — failures are never silently timed
  * as successes.
  *
  * Each query executes THREE times and the MEDIAN time is reported:
  * single-shot numbers conflate a query's cost with whichever
  * JIT/codegen/parquet-footer warm-up it happened to absorb first
  * (r2 example: sim_topk measured 4.3 s cold vs 0.9 s warm purely from
  * alphabetical ordering), and even a warm second run can eat a GC or
  * machine-load spike (observed: 1.0 s vs 3.4 s for the same star
  * join back-to-back). The median of three discards the cold first
  * touch AND one spike. Caches are NOT reused across runs — registered
  * queries build their own plans per call — so every run re-executes
  * every job.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(cpus)
    // ERROR, not WARN: the driver parses the bench JSON out of a
    // bounded stdout tail; stray WARN lines competing for that window
    // cost us a parseable BENCH line in r3/r4.
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the session (codegen, parquet footer caches, shuffle infra)
    // so the alphabetically-first query doesn't absorb startup cost.
    spark.read.parquet(s"$sfDir/region.parquet").join(
      spark.read.parquet(s"$sfDir/nation.parquet")).count()
    // SPARK_GRAFT_SLICE="k/n" runs only queries with index ≡ k (mod n)
    // in sorted order — the sub-batch mode behind the standing sf1
    // artifact: ~200 queries in ONE JVM accumulate enough session
    // debris (broadcast blocks, JIT churn, old-gen) to distort
    // individual rows by 3-6x in either direction (r10 measured
    // copurchase_norm 25.4 s in-session vs 3.6 s warm-isolated, and
    // video_shots 7.4 s vs 2.0 s in a different run). Round-robin
    // slices across fresh JVMs bound the debris; scripts/bench_sliced.py
    // merges the per-slice files. The driver's single-invocation
    // contract (no env var) is unchanged.
    val slice = sys.env.get("SPARK_GRAFT_SLICE").map { s =>
      val Array(k, n) = s.split("/").map(_.toInt); (k, n)
    }
    val picked = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .filter { case (_, i) => slice.forall { case (k, n) => i % n == k } }
      .map(_._1)
    // Canary set: fixed, plan-diverse, code-stable queries measured
    // warm (median of 3) in EVERY bench JVM before the main sweep.
    // Purpose: separate machine/JVM drift from code regressions when
    // comparing artifacts across rounds — a row that moved with the
    // canaries is the box; a row that moved against them is the code.
    // Every sliced JVM measures the same canaries, so per-slice health
    // is attributable too (scripts/bench_sliced.py emits raw AND
    // canary-normalized per-query times).
    // A canary that THROWS is recorded as failed, never timed: a
    // fast-failing canary would otherwise shrink the slice's canary
    // sum and silently inflate its normalized rows downstream
    // (scripts/bench_sliced.py excludes slices with failed canaries
    // from the normalization median).
    val canary: Seq[(String, Double, Boolean)] = Canaries.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val runs = Seq.fill(3) {
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] canary $name FAILED: ${e.getMessage}")
              false
            }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        val times = runs.map(_._1).sorted
        (name, times(1), runs.forall(_._2))
      }
    }
    val results = picked.map { case (name, fn) =>
      // Old-gen pressure from the 200 queries that ran BEFORE this one
      // is not this query's cost, but an in-run full GC lands in
      // whichever timed region it strikes (r9's standing sf1 artifact
      // committed 59.9 s for video_shots vs 2.2 s warm-isolated), and
      // Spark's ContextCleaner only releases accumulated broadcast /
      // shuffle state when a GC actually runs. Collect OUTSIDE the
      // timed region whenever the heap is more than a quarter full,
      // so session debris is paid between queries, not inside one
      // (the 50% threshold still left video_shots 3.7x over its
      // warm-isolation number in the first r10 sf1 run).
      val rt = Runtime.getRuntime
      if (rt.totalMemory() - rt.freeMemory() > rt.maxMemory() / 4) System.gc()
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val first = once()
      val (sec, ok) =
        if (!first._2) first // don't re-run a failure
        else {
          // SPARK_GRAFT_REPS (default 3, the driver contract) raises
          // the rep count for fresh-JVM sliced runs, where a query can
          // need TWO runs to finish JIT-warming (sim_topk_pq at sf1:
          // 22 s cold, 6.7 s second, 4.6 s steady — a median of 3
          // reports the still-cooling 6.7).
          val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
          val times = (Seq(first._1) ++
            Seq.fill(reps - 1)(once()._1)).sorted
          (times(reps / 2), true)
        }
      (name, sec, ok)
    }
    // Fixture identity (row counts + content hash, cached per fixture
    // state): makes cross-round per-query comparisons attributable —
    // same stamp → same data → a moved row is the code's.
    val stamp = FixtureStamp.stampJson(spark, sfDir)
    val (fullLine, stdoutLine) = renderLines(results, sfDir, stamp, canary)
    // File copy carries the COMPLETE per-query map (debuggable even if the
    // stdout tail is lost); stdout gets the truncation-safe line as the
    // forked JVM's final output — build.sbt's StdoutOutput strategy keeps
    // it free of sbt's "[info] " prefix.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      fullLine.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(stdoutLine)
    spark.stop()
  }

  /** Renders (fullLine, stdoutLine).
    *
    * The driver captures only a ~2,000-char TAIL of stdout and parses the
    * JSON line out of it. That bit us three rounds running: r3's line
    * (full-precision doubles) overflowed; by r5 the 110-query map alone was
    * ~2.3 KB so the truncation ate the HEAD of the line — including
    * `"metric":"total"` — and BENCH_r05.json parsed as null. Per-query
    * count grows every round, so no fixed format that carries every query
    * on stdout can stay safe.
    *
    * Fix: stdout carries ONE line that is guaranteed short. Summary fields
    * (`metric`/`value`/`failed`) come FIRST; the `queries` map is capped to
    * the slowest entries that keep the whole line within StdoutBudget
    * bytes (the slowest are the ones worth seeing in a bounded window);
    * `queries_full` points at the committed file with the complete map.
    */
  def renderLines(results: Seq[(String, Double, Boolean)], sfDir: String,
      fixtureStamp: String = "{}",
      canary: Seq[(String, Double, Boolean)] = Nil): (String, String) = {
    def ms(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def fqJson(names: Seq[String]): String =
      names.map(n => s"\"" + n + "\"").mkString("[", ",", "]")
    val failedNames = results.collect { case (k, _, false) => k }
    val failed = failedNames.size
    val total = results.map(_._2).sum
    def line(qEntries: Seq[String], fq: Seq[String], extra: String): String =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","failed":$failed,"failed_queries":${fqJson(fq)},"sf":"$sfDir"$extra,"queries":${qEntries.mkString("{", ",", "}")}}"""
    val allEntries = results.sortBy(_._1).map { case (k, v, _) => s"\"" + k + "\":" + ms(v) }
    // Failed canaries are EXCLUDED from the map and the sum, and named
    // explicitly — a canary total that silently contained a
    // time-to-failure would corrupt every normalization built on it.
    val canaryJson = canary.collect { case (k, v, true) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val canaryFailed = canary.collect { case (k, _, false) => k }
    val canaryTotal = canary.collect { case (_, v, true) => v }.sum
    // The canary queries were measured WARM before the main sweep; in
    // whichever slice also times them, their main-sweep rows are warm
    // rows — "warmed" flags them so a cross-round diff doesn't misread
    // the warm-up as a code win.
    val warmed = canary.map(_._1).filter(n => results.exists(_._1 == n)).sorted
    // The full file line carries the complete fixture stamp AND the
    // per-canary map; stdout (truncation-budgeted) carries the short
    // combined hash plus the one-number canary total.
    // Twin stamps (file line only): cfg_* rows re-measure a composition
    // their Scala twin already times — the stamp lets a cross-round
    // reader separate operator drift (twin moved too) from
    // config-compiler drift (only the cfg row moved) without paying
    // the rows twice in ITS accounting.
    val twinJson = queries.Registry.twinOf.toSeq
      .filter { case (c, _) => results.exists(_._1 == c) }.sortBy(_._1)
      .map { case (c, t) => s"\"" + c + "\":\"" + t + "\"" }
      .mkString("{", ",", "}")
    val fullLine = line(allEntries, failedNames,
      s""","fixture":$fixtureStamp,"canary":$canaryJson""" +
        s""","canary_failed":${fqJson(canaryFailed)},"warmed":${fqJson(warmed)}""" +
        s""","twin_of":$twinJson""")
    val stdoutExtra = StdoutExtra +
      s""","fixture_hash":"${FixtureStamp.shortHash(fixtureStamp)}"""" +
      s""","canary_sec":${ms(canaryTotal)},"canary_failed_n":${canaryFailed.size}"""
    // Stdout: failed_queries is capped too — a mass-failure round (the
    // rounds where the report matters most) must not overflow the tail
    // window through the failure list; `failed` carries the true count
    // and the file line carries every name.
    val fqCapped = failedNames.take(MaxStdoutFailures)
    val bySlow = results.sortBy(-_._2).map { case (k, v, _) => s"\"" + k + "\":" + ms(v) }
    val fixedLen = line(Nil, fqCapped, stdoutExtra).length
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = fixedLen
    for (e <- bySlow if used + e.length + 1 <= StdoutBudget) { kept += e; used += e.length + 1 }
    (fullLine, line(kept.toSeq, fqCapped, stdoutExtra))
  }
  /** Byte budget for the stdout line — half the driver's ~2,000-char tail
    * window, leaving headroom for any stray final log lines. */
  val StdoutBudget = 1000
  /** Max failure names on stdout (~25 bytes each ≤ 200 of the budget). */
  val MaxStdoutFailures = 8
  /** The fixed canary set: mid-weight (~1 s at sf0.1), plan-diverse
    * (two TPC-H joins, a window/stat battery, text scoring, a
    * profiling join), and code-stable across rounds — these five are
    * deliberately never re-planned, so their drift measures the BOX,
    * not the code.
    */
  val Canaries: Seq[String] =
    Seq("bm25_topk", "fk_discovery", "ks_test", "q5_region", "q7_volume")
  private val StdoutExtra = ""","queries_full":"bench_last.json""""
}
