package graft.sink

import java.nio.file.Files

import graft.SparkTestBase
import graft.config.WarehouseConfig

/** Versioned publish protocol: atomic view-pointer commit under
  * concurrent readers, version retention, and the UNLOAD export.
  */
class PublisherSpec extends SparkTestBase {
  import spark.implicits._

  test("concurrent readers never observe a missing table or partial data") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "conc", analyze = false)
    WarehousePublisher.publish(spark, Seq.tabulate(1)(i => (i, "x")).toDF("k", "v"), cfg)

    @volatile var running = true
    // The K5 guarantee is about the VIEW pointer: it must never be
    // missing or serve partial data. A reader that resolved the view
    // to version N and is still scanning after N has aged out of the
    // lag-by-one retention window can hit the dropped PHYSICAL table —
    // that is the documented finish-your-scan retention boundary, not
    // a swap-atomicity failure, and is distinguishable because the
    // error names `<target>_v<N>`, never the view itself.
    @volatile var swapFailure: Option[Throwable] = None
    val staleScans = new java.util.concurrent.atomic.AtomicInteger
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val reader = new Thread(() => {
      while (running && swapFailure.isEmpty) {
        try seen.add(spark.table("pubspec_conc").count())
        catch {
          case e: Throwable
              if Option(e.getMessage).exists(_.matches("(?s).*pubspec_conc_v\\d+.*")) =>
            staleScans.incrementAndGet()
          case e: Throwable => swapFailure = Some(e)
        }
      }
    })
    reader.start()
    try {
      // 50 consecutive publish+swap iterations under a hot reader.
      (2 to 51).foreach { n =>
        WarehousePublisher.publish(spark, Seq.tabulate(n)(i => (i, "x")).toDF("k", "v"), cfg)
      }
    } finally {
      running = false
      reader.join(30000)
    }
    assert(swapFailure.isEmpty, s"reader failed mid-swap: $swapFailure")
    val valid = (1L to 51L).toSet
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.forall(valid.contains), s"reader saw partial data: $seen")
    assert(spark.table("pubspec_conc").count() == 51)
  }

  test("pointer swap is reader-atomic across 200 alternating swaps") {
    // Pure swap hammer: no writes, no retention — two fixed physical
    // versions and 200 ALTER VIEW pointer mutations while a reader
    // resolves the view as fast as it can. Any drop-then-create window
    // (the CREATE OR REPLACE VIEW behavior this spec pins against)
    // surfaces as TABLE_OR_VIEW_NOT_FOUND on the view name.
    Seq((1, "a")).toDF("k", "v").write.saveAsTable("pubspec_swap_a")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.saveAsTable("pubspec_swap_b")
    WarehousePublisher.swapPointer(spark, "pubspec_swap", "pubspec_swap_a")

    @volatile var running = true
    @volatile var failure: Option[Throwable] = None
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val reader = new Thread(() => {
      while (running && failure.isEmpty) {
        try seen.add(spark.table("pubspec_swap").count())
        catch { case e: Throwable => failure = Some(e) }
      }
    })
    reader.start()
    try {
      (1 to 200).foreach { i =>
        val phys = if (i % 2 == 0) "pubspec_swap_a" else "pubspec_swap_b"
        WarehousePublisher.swapPointer(spark, "pubspec_swap", phys)
      }
    } finally {
      running = false
      reader.join(30000)
    }
    assert(failure.isEmpty, s"reader failed mid-swap: $failure")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.subsetOf(Set(1L, 2L)), s"partial data: $seen")
  }

  test("retention keeps exactly the latest two physical versions") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "ret", analyze = false)
    (1 to 4).foreach { n =>
      WarehousePublisher.publish(spark, Seq.tabulate(n)(i => (i, "x")).toDF("k", "v"), cfg)
    }
    val versions = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("pubspec_ret_v")).sorted.toSeq
    assert(versions == Seq("pubspec_ret_v3", "pubspec_ret_v4"))
    assert(spark.table("pubspec_ret").count() == 4)
  }

  test("failed publish leaves the previous version intact") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "abort", analyze = false)
    WarehousePublisher.publish(spark, Seq((1, "a")).toDF("k", "v"), cfg)
    // distkey on a missing column fails at write/plan time
    val bad = cfg.copy(distkey = Some("no_such_col"))
    intercept[Throwable] {
      WarehousePublisher.publish(spark, Seq((2, "b")).toDF("k", "v"), bad)
    }
    assert(spark.table("pubspec_abort").count() == 1)
  }

  test("legacy plain table migrates into the version chain without data loss") {
    // Pre-versioning layout: a plain TABLE at the target name.
    Seq((1, "legacy")).toDF("k", "v").write.saveAsTable("pubspec_legacy")
    val cfg = WarehouseConfig(schema = "pubspec", table = "legacy", analyze = false)
    WarehousePublisher.publish(spark, Seq((2, "new"), (3, "new")).toDF("k", "v"), cfg)
    assert(spark.table("pubspec_legacy").count() == 2) // view → new version
    assert(spark.catalog.getTable("pubspec_legacy").tableType == "VIEW")
    // old data renamed into the chain (next free slot), not dropped
    assert(spark.table("pubspec_legacy_v1").collect().map(_.getString(1)).toSeq == Seq("legacy"))
    // a second publish after migration works (no version collisions)
    WarehousePublisher.publish(spark, Seq((9, "x")).toDF("k", "v"),
      WarehouseConfig(schema = "pubspec", table = "legacy", analyze = false))
    assert(spark.table("pubspec_legacy").count() == 1)
  }

  test("vacuum_strategy full compacts into a fresh version without breaking the view") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "vac",
      vacuumStrategy = "full", analyze = true)
    val r = WarehousePublisher.publish(spark,
      Seq.tabulate(50)(i => (i, s"v$i")).toDF("k", "v"), cfg)
    assert(r.analyzed)
    assert(spark.table("pubspec_vac").count() == 50) // view follows compaction
    val versions = spark.catalog.listTables().collect()
      .map(_.name).filter(_.matches("pubspec_vac_v\\d+"))
    assert(versions.length >= 2) // original + compacted rewrite
  }

  test("K7 schema gate: additive columns publish; drops and retypes are rejected") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "compat", analyze = false)
    WarehousePublisher.publish(spark, Seq((1, "a")).toDF("k", "v"), cfg)

    // Additive: a new column is compatible, publishes fine.
    WarehousePublisher.publish(spark, Seq((1, "a", 9L)).toDF("k", "v", "extra"), cfg)
    assert(spark.table("pubspec_compat").columns.toSeq == Seq("k", "v", "extra"))

    // Dropping a published column is rejected before any write...
    val drop = intercept[WarehousePublisher.SchemaCompatException] {
      WarehousePublisher.publish(spark, Seq((1, "a")).toDF("k", "v"), cfg)
    }
    assert(drop.getMessage.contains("dropped=[extra]"))
    // ...and so is retyping one.
    val retype = intercept[WarehousePublisher.SchemaCompatException] {
      WarehousePublisher.publish(spark, Seq((1, "a", "s")).toDF("k", "v", "extra"), cfg)
    }
    assert(retype.getMessage.contains("retyped=[extra: bigint -> string]"))
    // The rejected publishes left the current version untouched.
    assert(spark.table("pubspec_compat").count() == 1)

    // Opting into evolution allows the drop.
    WarehousePublisher.publish(spark, Seq((2, "b")).toDF("k", "v"),
      cfg.copy(allowColumnEvolution = true))
    assert(spark.table("pubspec_compat").columns.toSeq == Seq("k", "v"))
  }

  test("time travel: the previous version stays queryable after a publish") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "tt", analyze = false)
    WarehousePublisher.publish(spark, Seq((1, "old")).toDF("k", "v"), cfg)
    WarehousePublisher.publish(spark, Seq((1, "new"), (2, "new")).toDF("k", "v"), cfg)
    assert(WarehousePublisher.currentVersion(spark, "pubspec_tt") == 2L)
    assert(WarehousePublisher.listVersions(spark, "pubspec_tt") == Seq(2L, 1L))
    assert(WarehousePublisher.readVersion(spark, "pubspec_tt", 1L)
      .collect().map(_.getString(1)).toSeq == Seq("old"))
    assert(spark.table("pubspec_tt").count() == 2)
  }

  test("rollback atomically repoints to the previous version; history moves forward") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "rb", analyze = false)
    WarehousePublisher.publish(spark, Seq((1, "v1")).toDF("k", "v"), cfg)
    WarehousePublisher.publish(spark, Seq((1, "v2")).toDF("k", "v"), cfg)

    assert(WarehousePublisher.rollback(spark, "pubspec_rb") == 1L)
    assert(WarehousePublisher.currentVersion(spark, "pubspec_rb") == 1L)
    assert(spark.table("pubspec_rb").collect().map(_.getString(1)).toSeq == Seq("v1"))
    // The rolled-back version is retained, not dropped.
    assert(WarehousePublisher.readVersion(spark, "pubspec_rb", 2L)
      .collect().map(_.getString(1)).toSeq == Seq("v2"))

    // The next publish takes a fresh slot and must NOT drop v1 (the
    // version readers were served from right up to the swap).
    WarehousePublisher.publish(spark, Seq((1, "v3")).toDF("k", "v"), cfg)
    assert(WarehousePublisher.currentVersion(spark, "pubspec_rb") == 3L)
    assert(spark.table("pubspec_rb").collect().map(_.getString(1)).toSeq == Seq("v3"))
    assert(WarehousePublisher.listVersions(spark, "pubspec_rb").contains(1L))

    // A further publish (pointer now at the newest) resumes normal
    // lag-one retention.
    WarehousePublisher.publish(spark, Seq((1, "v4")).toDF("k", "v"), cfg)
    assert(WarehousePublisher.listVersions(spark, "pubspec_rb") == Seq(4L, 3L))
  }

  test("rollback with no retained predecessor fails loudly") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "rb1", analyze = false)
    WarehousePublisher.publish(spark, Seq((1, "only")).toDF("k", "v"), cfg)
    val e = intercept[IllegalStateException] {
      WarehousePublisher.rollback(spark, "pubspec_rb1")
    }
    assert(e.getMessage.contains("no retained version"))
  }

  test("vacuum_strategy delete reclaims all versions but the current one") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "vd", analyze = false)
    WarehousePublisher.publish(spark, Seq((1, "a")).toDF("k", "v"), cfg)
    WarehousePublisher.publish(spark, Seq((2, "b")).toDF("k", "v"), cfg)
    // Normal publishes keep the lag-one window...
    assert(WarehousePublisher.listVersions(spark, "pubspec_vd") == Seq(2L, 1L))
    // ...a delete-strategy publish trades it for space.
    WarehousePublisher.publish(spark, Seq((3, "c")).toDF("k", "v"),
      cfg.copy(vacuumStrategy = "delete"))
    assert(WarehousePublisher.listVersions(spark, "pubspec_vd") == Seq(3L))
    assert(spark.table("pubspec_vd").collect().map(_.getString(1)).toSeq == Seq("c"))
  }

  test("snapshotDiff classifies added/removed/changed and NULL != empty string") {
    val s = spark; import s.implicits._
    val cfg = WarehouseConfig(schema = "pubspec", table = "diff", analyze = false)
    val v1 = Seq(
      (1L, Option("a"), 10.0),  // unchanged
      (2L, Option("b"), 20.0),  // value change
      (3L, Option(""), 30.0),   // "" -> NULL: must register as changed
      (4L, Option("d"), 40.0))  // removed
      .toDF("k", "v", "x")
    val v2 = Seq(
      (1L, Option("a"), 10.0),
      (2L, Option("B"), 20.0),
      (3L, Option.empty[String], 30.0),
      (5L, Option("e"), 50.0))  // added
      .toDF("k", "v", "x")
    WarehousePublisher.publish(spark, v1, cfg)
    WarehousePublisher.publish(spark, v2, cfg)
    val diff = WarehousePublisher.snapshotDiff(spark, "pubspec_diff", "k", 1L, 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "changed", 3L -> "changed", 4L -> "removed", 5L -> "added"))
  }

  test("changeFeed round-trips: applyChanges(v1, feed(v1,v2)) == v2") {
    val s = spark; import s.implicits._
    val cfg = WarehouseConfig(schema = "pubspec", table = "feed", analyze = false)
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (4L, "d", 40.0))
      .toDF("k", "v", "x")
    val v2 = Seq((1L, "a", 10.0), (2L, "B", 21.0), (5L, "e", 50.0))
      .toDF("k", "v", "x")
    WarehousePublisher.publish(spark, v1, cfg)
    WarehousePublisher.publish(spark, v2, cfg)
    val feed = WarehousePublisher.changeFeed(spark, "pubspec_feed", "k", 1L, 2L)
    val ops = feed.collect().map(r => r.getLong(2) -> r.getString(0)).toMap
    assert(ops == Map(2L -> "U", 4L -> "D", 5L -> "I"))
    // Deletes carry NULL payloads; the merge must still remove them.
    val merged = graft.transform.CdcMerge
      .applyChanges(WarehousePublisher.readVersion(spark, "pubspec_feed", 1L),
        feed, "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val want = v2.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(merged == want)
  }

  test("publish reclaims an orphaned location left by a dead JVM") {
    val s = spark; import s.implicits._
    val cfg = WarehouseConfig(schema = "pubspec", table = "orphan", analyze = false)
    // Simulate a crashed JVM: files exist at the v1 managed location but
    // the (session) catalog has no entry for the table.
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new java.io.File(new java.net.URI(wh).getPath, "pubspec_orphan_v1")
    loc.mkdirs()
    assert(new java.io.File(loc, "leftover").createNewFile())
    val res = WarehousePublisher.publish(spark, Seq((1, "a")).toDF("k", "v"), cfg)
    assert(res.version == 1L)
    assert(spark.table("pubspec_orphan").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  private def stats(table: String) = spark.sessionState.catalog
    .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).stats

  /** Stats now on `table`, then the stats a fresh ANALYZE writes. */
  private def statsThenAnalyzed(table: String) = {
    val before = stats(table)
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    (before, stats(table))
  }

  test("K7 footer verification: rowsLoaded equals a count of the committed table") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "footer", distkey = Some("k"),
      analyze = false)
    val r = WarehousePublisher.publish(spark,
      Seq.tabulate(37)(i => (i % 5, s"v$i")).toDF("k", "v"), cfg)
    assert(r.rowsLoaded == 37)
    assert(r.rowsLoaded == spark.table(s"pubspec_footer_v${r.version}").count())
  }

  test("analyze: the written statistics equal those a following ANALYZE writes") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "stats", distkey = Some("k"),
      sortkey = Seq("v"), analyze = true)
    val r = WarehousePublisher.publish(spark,
      Seq.tabulate(120)(i => (i % 7, s"v$i")).toDF("k", "v"), cfg)
    assert(r.analyzed)
    val (written, analyzed) = statsThenAnalyzed(s"pubspec_stats_v${r.version}")
    assert(written.flatMap(_.rowCount).contains(BigInt(120)))
    assert(written == analyzed)
  }

  test("vacuum_strategy full: the compacted copy is analyzed with correct stats") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "vacstats",
      vacuumStrategy = "full", analyze = true)
    val r = WarehousePublisher.publish(spark,
      Seq.tabulate(50)(i => (i, s"v$i")).toDF("k", "v"), cfg)
    assert(r.analyzed && r.rowsLoaded == 50)
    val current = WarehousePublisher.currentVersion(spark, "pubspec_vacstats")
    assert(current > r.version) // the view points at the compacted copy
    val (written, analyzed) = statsThenAnalyzed(s"pubspec_vacstats_v$current")
    assert(written.flatMap(_.rowCount).contains(BigInt(50)))
    assert(written == analyzed)
  }

  test("a non-Parquet provider falls back to the counted verification") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "orcpub", analyze = true)
    spark.conf.set("spark.sql.sources.default", "orc")
    val r = try WarehousePublisher.publish(spark,
        Seq.tabulate(9)(i => (i, s"v$i")).toDF("k", "v"), cfg)
      finally spark.conf.unset("spark.sql.sources.default")
    val phys = s"pubspec_orcpub_v${r.version}"
    assert(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(phys))
      .provider.contains("orc"))
    assert(r.rowsLoaded == 9 && r.analyzed)
    assert(spark.table("pubspec_orcpub").count() == 9)
    val (written, analyzed) = statsThenAnalyzed(phys)
    assert(written.flatMap(_.rowCount).contains(BigInt(9)))
    assert(written == analyzed)
  }

  test("exportTable (UNLOAD) round-trips a published table") {
    val cfg = WarehouseConfig(schema = "pubspec", table = "exp", analyze = false)
    WarehousePublisher.publish(spark, Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), cfg)
    val out = Files.createTempDirectory("graft-unload").toString + "/export"
    val n = WarehousePublisher.exportTable(spark, "pubspec_exp", out)
    assert(n == 3)
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.columns.sorted.toSeq == Seq("k", "v"))
  }
}
