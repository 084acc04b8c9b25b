package graft.sink

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit, md5, when}

import graft.config.WarehouseConfig

/** Warehouse publish with atomic visibility (SURVEY K4-K7; reference
  * redshift_loader/handler.py:76-183).
  *
  * Reference protocol: CREATE staging LIKE target → COPY into staging →
  * verify count → transactional double-RENAME swap → drop old. The
  * double rename has a reader-visible gap (no table exists between the
  * renames), so this engine uses a strictly stronger commit: each load
  * writes an immutable versioned physical table `<target>_vN`, and the
  * commit point is a single `ALTER VIEW <target> AS` pointer swap (one
  * catalog.alterTable mutation; the view is created once on first
  * publish) — readers of `<target>` see the old version or the new
  * one, never a missing table or partial data. A failure before the
  * view swap leaves the previous version fully intact.
  *
  * Retention keeps the latest two physical versions so readers that
  * resolved the previous pointer mid-swap finish their scan before the
  * files disappear (lag-by-one retention, the same reason table formats
  * keep a vacuum horizon).
  */
object WarehousePublisher {

  final case class PublishResult(
      table: String, rowsLoaded: Long, analyzed: Boolean, version: Long)

  private val VersionRe = """(?i)(.*)_v(\d+)""".r

  /** The atomic pointer swap. `CREATE OR REPLACE VIEW` is NOT
    * reader-atomic in Spark's session catalog — `CreateViewCommand`
    * with replace=true executes dropTable THEN createTable, and a
    * concurrent `spark.table(target)` resolving in that window gets
    * TABLE_OR_VIEW_NOT_FOUND (observed: the PublisherSpec concurrent-
    * reader hammer failing under a loaded JVM). `ALTER VIEW ... AS`
    * instead runs AlterViewAsCommand → one `catalog.alterTable`
    * mutation of an entry that never leaves the catalog, so readers
    * see the old definition or the new one, never neither. The view
    * is created once on first publish and only ever ALTERed after.
    */
  private[sink] def swapPointer(spark: SparkSession, target: String, phys: String): Unit = {
    val isView = spark.catalog.tableExists(target) &&
      spark.catalog.getTable(target).tableType == "VIEW"
    if (isView) spark.sql(s"ALTER VIEW $target AS SELECT * FROM $phys")
    else spark.sql(s"CREATE VIEW $target AS SELECT * FROM $phys")
  }

  /** Physical versions of `target` only: names that are not exactly
    * `<target>_v<digits>` (views, sibling targets, backups) are
    * ignored, never matched-on-error. Reads catalog metadata only
    * (`spark.catalog.listTables()` would run a Spark job per call).
    */
  private def versionsOf(spark: SparkSession, target: String): Seq[(String, Long)] = {
    val catalog = spark.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase).flatMap { t =>
      t.table.toLowerCase match {
        case VersionRe(base, v) if base == target.toLowerCase => Some((t.table, v.toLong))
        case _ => None
      }
    }
  }

  /** Rows and bytes of the data files a Parquet table committed, read
    * on the driver from the file listing and the footers — no Spark
    * job, and still a read-back of what was committed. The file rule
    * is ANALYZE's: names starting with `_` or `.` are not data. None
    * for any other provider.
    *
    * Scale note: one footer read per file, serially; a table of many
    * thousands of files would want them read in parallel.
    */
  private def committedParquet(spark: SparkSession, phys: String): Option[CatalogStatistics] = {
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(phys))
    if (!meta.provider.exists(_.equalsIgnoreCase("parquet"))) return None
    val root = new Path(meta.location)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    def dataFiles(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .flatMap(dataFiles)
    val files = dataFiles(fs.getFileStatus(root))
    val rows = files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
    Some(CatalogStatistics(sizeInBytes = BigInt(files.map(_.getLen).sum),
      rowCount = Some(BigInt(rows))))
  }

  /** Raised by the K7 schema gate: the incoming frame dropped or
    * retyped columns of the currently published version and the config
    * did not opt into evolution.
    */
  final class SchemaCompatException(msg: String) extends RuntimeException(msg)

  /** K7 column introspection gate, mirroring the reference's
    * information_schema.columns check before COPY
    * (redshift_loader/handler.py:102-118): every column of the
    * currently published version must exist in the incoming frame with
    * the same type. Additive columns are always compatible (the view
    * swap republishes the full schema, so readers see the superset);
    * drops/retypes are silent data loss for downstream readers and
    * fail the publish unless `allow_column_evolution` opts in.
    *
    * Catalog metadata only — no data is read.
    */
  private def checkColumnCompat(
      spark: SparkSession, target: String, incoming: DataFrame): Unit = {
    if (!spark.catalog.tableExists(target)) return
    val published = spark.catalog.listColumns(target).collect()
      .map(c => c.name.toLowerCase -> c.dataType).toMap
    val offered = incoming.schema.map(f =>
      f.name.toLowerCase -> f.dataType.simpleString).toMap
    val dropped = published.keySet -- offered.keySet
    val retyped = published.collect {
      case (name, dt) if offered.get(name).exists(_ != dt) =>
        s"$name: $dt -> ${offered(name)}"
    }
    if (dropped.nonEmpty || retyped.nonEmpty)
      throw new SchemaCompatException(
        s"incompatible publish to $target: dropped=[${dropped.toSeq.sorted.mkString(", ")}] " +
          s"retyped=[${retyped.toSeq.sorted.mkString(", ")}] " +
          "(set allow_column_evolution to publish anyway)")
  }

  /** `properties` are stamped onto the physical version BEFORE the view
    * swap, so they commit atomically with the data: if the swap
    * happened, the property is visible on the current version; if not,
    * neither is the data. This is the hook exactly-once consumers use
    * to record their progress marker transactionally (see
    * [[graft.stream.StreamSink.rollupEachBatch]]).
    */
  def publish(spark: SparkSession, df: DataFrame, cfg: WarehouseConfig,
      properties: Map[String, String] = Map.empty): PublishResult = {
    val target = cfg.qualified
    if (!cfg.allowColumnEvolution) checkColumnCompat(spark, target, df)

    // Physical layout: distribution key → hash repartition (co-locates
    // equal keys, the distkey contract); sort keys → within-partition
    // sort (run-length/dictionary-friendly parquet, range-pruned scans).
    val shaped0 = cfg.distkey.fold(df)(k => df.repartition(col(k)))
    val shaped = if (cfg.sortkey.nonEmpty)
      shaped0.sortWithinPartitions(cfg.sortkey.map(col): _*)
    else shaped0

    val existing = versionsOf(spark, target)
    // One-time migration from a pre-versioning layout: a plain TABLE at
    // the target name is RENAMED into the version chain (never dropped —
    // a crash must not lose the old data). It takes the next free slot,
    // and the new load the one after, so the rename can never collide
    // with an existing version. The rename→create-view window is the
    // legacy protocol's gap, paid once; every later publish is a pure
    // atomic view swap.
    val legacyExists = spark.catalog.tableExists(target) &&
      spark.catalog.getTable(target).tableType != "VIEW"
    // The version the live pointer reads right now. Usually the newest,
    // but after a rollback it's older — retention must never drop the
    // version readers were just being served from.
    val pointerBefore: Option[Long] =
      if (!legacyExists && spark.catalog.tableExists(target))
        scala.util.Try(currentVersion(spark, target)).toOption
      else None
    val nextSlot = existing.map(_._2).maxOption.getOrElse(0L) + 1L
    val legacySlot = if (legacyExists) Some(nextSlot) else None
    val version = if (legacyExists) nextSlot + 1L else nextSlot
    val phys = s"${target}_v$version"

    try {
      reclaimOrphanLocation(spark, phys)
      shaped.write.mode(SaveMode.Overwrite).saveAsTable(phys)
      // K7-style verification: read back what was committed — the
      // footer row counts of the files under the table's location
      // (a job-free read); a non-Parquet provider counts a scan.
      val committed = committedParquet(spark, phys)
      val loaded = committed.flatMap(_.rowCount).map(_.toLong)
        .getOrElse(spark.table(phys).count())
      if (properties.nonEmpty) {
        val kvs = properties.map { case (k, v) =>
          s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'"
        }.mkString(", ")
        spark.sql(s"ALTER TABLE $phys SET TBLPROPERTIES($kvs)")
      }
      legacySlot.foreach(s => spark.sql(s"ALTER TABLE $target RENAME TO ${target}_v$s"))
      // Commit point: one atomic pointer swap (see swapPointer).
      swapPointer(spark, target, phys)
      // Retention: latest two versions stay readable — and whatever
      // version the pointer served immediately before this swap (equal
      // to the newest except after a rollback), for the same
      // finish-your-scan reason.
      existing.filter { case (_, v) =>
        v < version - 1 && !pointerBefore.contains(v)
      }.foreach { case (name, _) =>
        spark.sql(s"DROP TABLE IF EXISTS $name")
      }
      val analyzed = maintain(spark, cfg, target, phys, committed)
      PublishResult(target, loaded, analyzed, version)
    } catch {
      case e: Throwable =>
        spark.sql(s"DROP TABLE IF EXISTS $phys") // abort: old version untouched
        throw e
    }
  }

  /** Crash recovery for the versioned layout: a JVM that died after
    * writing `<phys>`'s files but whose session catalog died with it
    * leaves an orphaned managed-table location that makes the next
    * `saveAsTable` of the same slot fail with LOCATION_ALREADY_EXISTS.
    * A location with no catalog entry is unreachable by any reader
    * (readers resolve through the catalog view pointer), so it is safe
    * to reclaim. Never fires for live tables: those ARE in the catalog,
    * and versionsOf advances the slot past them.
    */
  private def reclaimOrphanLocation(spark: SparkSession, phys: String): Unit =
    if (!spark.catalog.tableExists(phys)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val path = new org.apache.hadoop.fs.Path(wh, phys.toLowerCase)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }

  /** K6: table maintenance — ANALYZE maps to COMPUTE STATISTICS on the
    * physical version; the VACUUM analog (small-file compaction)
    * rewrites into the next version and re-points the view, so even
    * compaction never interrupts readers. Triggered only under
    * `vacuum_strategy: full` to keep `auto` cheap.
    *
    * When the analyzed table is the version just written and its
    * footers were read (`committed`), the statistics ANALYZE would
    * compute — total data-file bytes and row count — are already known
    * and are written directly; a compacted copy or a non-Parquet
    * version runs ANALYZE.
    */
  private def maintain(
      spark: SparkSession, cfg: WarehouseConfig, target: String, phys: String,
      committed: Option[CatalogStatistics]): Boolean = {
    var current = phys
    if (cfg.vacuumStrategy == "full") {
      val compacted = spark.table(phys).coalesce(
        math.max(1, spark.sparkContext.defaultParallelism / 4))
      val next = versionsOf(spark, target).map(_._2).max + 1L
      val nextPhys = s"${target}_v$next"
      compacted.write.mode(SaveMode.Overwrite).saveAsTable(nextPhys)
      swapPointer(spark, target, nextPhys)
      current = nextPhys
    } else if (cfg.vacuumStrategy == "delete") {
      // VACUUM DELETE ONLY analog: reclaim space now — drop every
      // retained version except the one just published, trading the
      // time-travel window for storage. No rewrite, no re-point.
      versionsOf(spark, target)
        .filter(!_._1.equalsIgnoreCase(phys))
        .foreach { case (name, _) => spark.sql(s"DROP TABLE IF EXISTS $name") }
    }
    if (cfg.analyze) {
      committed.filter(_ => current == phys) match {
        case Some(stats) =>
          spark.sessionState.catalog.alterTableStats(TableIdentifier(phys), Some(stats))
        case None => spark.sql(s"ANALYZE TABLE $current COMPUTE STATISTICS")
      }
      true
    } else false
  }

  /** Retained physical versions of `target`, newest first. The lag-one
    * retention window means this is normally (current, previous).
    */
  def listVersions(spark: SparkSession, target: String): Seq[Long] =
    versionsOf(spark, target).map(_._2).sorted.reverse

  /** Time-travel read: a specific retained physical version. The
    * previous publish stays queryable until the next one lands
    * (retention keeps two versions) — the same bounded time travel a
    * table format gives inside its vacuum horizon.
    */
  def readVersion(spark: SparkSession, target: String, version: Long): DataFrame =
    spark.table(s"${target}_v$version")

  /** Row-level diff between two published versions of a table: which
    * keys were added, removed, or changed — the audit/CDC-validation
    * primitive a versioned warehouse owes its users ("what did this
    * publish actually do?"). Rows are classified by a full-outer join
    * on the key plus an md5 over the canonically-ordered non-key
    * columns (NULLs sentinel-coded so NULL ≠ empty string); untouched
    * rows are not emitted.
    *
    * Scale: one key-keyed exchange of each snapshot and a hash compare
    * — no row-by-row column diffing, no broadcast of either side; the
    * output is bounded by the true change set.
    *
    * Contract: `keyCol` must be losslessly castable to BIGINT (the
    * emitted key is normalized to long so the diff schema is stable
    * across versions whose key width widened). String keys need a
    * surrogate — the same rule a warehouse distkey imposes.
    */
  def snapshotDiff(spark: SparkSession, target: String, keyCol: String,
      oldVersion: Long, newVersion: Long): DataFrame = {
    val o = readVersion(spark, target, oldVersion)
    val n = readVersion(spark, target, newVersion)
    require(o.columns.sorted.toSeq == n.columns.sorted.toSeq,
      s"snapshot diff needs matching schemas, got ${o.columns.toSeq} vs ${n.columns.toSeq}")
    val nonKey = o.columns.filterNot(_ == keyCol).sorted.toSeq
    def hashed(df: DataFrame, tag: String): DataFrame = df.select(
      col(keyCol).cast("long").as(s"__${tag}_k"),
      md5(concat_ws("\u0001",
        nonKey.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
        .as(s"__${tag}_h"))
    hashed(o, "o")
      .join(hashed(n, "n"), col("__o_k") === col("__n_k"), "full_outer")
      .select(
        coalesce(col("__o_k"), col("__n_k")).as(keyCol),
        when(col("__o_k").isNull, "added")
          .when(col("__n_k").isNull, "removed")
          .when(col("__o_h") =!= col("__n_h"), "changed")
          .as("change"))
      .filter(col("change").isNotNull)
  }

  /** CDC EXTRACT — the inverse of [[graft.transform.CdcMerge]]: derive
    * the change feed (op ∈ I/U/D, seq, full new-row payload) that
    * transforms one published version into another. The defining
    * property, pinned by `PublisherSpec`:
    * `CdcMerge.applyChanges(v_old, changeFeed(v_old, v_new)) == v_new`
    * — so a warehouse that only stores snapshots can still FEED
    * downstream CDC consumers (or replicate to another warehouse)
    * without a log. Same shape as [[snapshotDiff]]: one key-keyed
    * exchange per snapshot, hash compare, output bounded by the true
    * change set; deletes carry NULL payloads.
    */
  def changeFeed(spark: SparkSession, target: String, keyCol: String,
      oldVersion: Long, newVersion: Long): DataFrame = {
    val n = readVersion(spark, target, newVersion)
    val payload = n.columns.toSeq
    val keyType = n.schema(keyCol).dataType
    // Alias both sides: the diff is itself derived from the new
    // version's scan, so unqualified references are an ambiguous
    // self-join.
    val diff = snapshotDiff(spark, target, keyCol, oldVersion, newVersion)
      .select(col(keyCol).as("__k"), col("change")).alias("__d")
    val op = when(col("change") === "added", "I")
      .when(col("change") === "removed", "D")
      .otherwise("U")
    diff.join(n.alias("__n"),
        col("__k") === col(s"__n.$keyCol").cast("long"), "left")
      .select(op.as("op") +: lit(1L).as("seq") +:
        col("__k").cast(keyType).as(keyCol) +:
        payload.filterNot(_ == keyCol).map(c => col(s"__n.$c").as(c)): _*)
  }

  /** A property of the CURRENTLY published version (stamped at publish
    * time) — the transactional progress marker read-side.
    */
  def currentProperty(spark: SparkSession, target: String, key: String): Option[String] = {
    val phys = s"${target}_v${currentVersion(spark, target)}"
    spark.sql(s"SHOW TBLPROPERTIES $phys").collect()
      .collectFirst { case r if r.getString(0) == key => r.getString(1) }
  }

  /** The version the published view currently points at, parsed from
    * the view definition — the pointer IS the commit state, so there is
    * no side channel to fall out of sync with.
    */
  def currentVersion(spark: SparkSession, target: String): Long = {
    val text = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(target))
      .viewText.getOrElse(
        throw new IllegalStateException(s"$target is not a published view"))
    """(?i)_v(\d+)\s*$""".r.findFirstMatchIn(text.trim)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"$target view does not point at a version: $text"))
  }

  /** Roll the published pointer back to the newest retained version
    * below the current one — the same single atomic view swap as
    * publish, so readers see old-or-new, never neither. The rolled-back
    * version is NOT dropped; the next publish takes a fresh slot above
    * it (history moves forward even through a rollback).
    */
  def rollback(spark: SparkSession, target: String): Long = {
    val cur = currentVersion(spark, target)
    val prev = versionsOf(spark, target).map(_._2).filter(_ < cur).maxOption
      .getOrElse(throw new IllegalStateException(
        s"no retained version below v$cur to roll $target back to"))
    swapPointer(spark, target, s"${target}_v$prev")
    prev
  }

  /** K8 UNLOAD (README.md:57,148): export a published table/view to
    * files for external consumers — a scan + write, counted in the
    * same pass via observe().
    */
  def exportTable(
      spark: SparkSession, table: String, path: String, format: String = "parquet"): Long = {
    val obs = Observation()
    spark.table(table)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).format(format).save(path)
    obs.get("n").asInstanceOf[Long]
  }
}
