package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.config.CurationConfig
import graft.ext.{NearDup, TextAnalysis}
import graft.transform.CurationCompiler

/** The FULL config-compiled curation chain as a stream: documents
  * arriving on a stream land in an idempotent landing zone, and each
  * micro-batch re-materializes the curated corpus — optional eval-set
  * decontamination gate, then gate → dedup → mix → chunk → shard via
  * [[CurationCompiler.compile]] VERBATIM (the same code path the
  * `cfg_curation` registered query gates). The streaming twin of
  * `cfg_curation`, driven from the same `curation:` config section.
  *
  * Two maintenance modes:
  *
  * **Re-materialize** ([[start]]): each micro-batch re-runs the batch
  * chain over the accumulated landing zone. Semantically bulletproof
  * (after the last batch the output IS `compile(cu)(allDocs)` by
  * construction) but O(corpus) work per batch — the right mode for
  * bounded corpora or slow triggers.
  *
  * **Incremental** ([[startIncremental]]): per-batch work touching
  * TEXT is bounded by the batch — the quality gate, digesting,
  * chunking, and shingling run on batch rows only — and everything
  * corpus-global is maintained as fixed-width metadata state:
  *  - `index/v=N`: the exact-dedup winner per digest (digest, min id,
  *    stratum) — the min-merge against each batch is the
  *    incremental-rollup fold, replay-idempotent because version N is
  *    a deterministic function of version N-1 plus batch N.
  *  - `counts/v=N`: per-stratum winner counts for the temperature
  *    mix, folded from batch deltas (+ new winner, − displaced,
  *    − revoked), never recomputed from the corpus. NULL strata keep
  *    their group: the batch chain's count table includes it (it
  *    participates in n_min even though the mix join drops null-key
  *    rows), so the fold must too.
  *  - `chunks/batch_id=N`: context-window chunk METADATA (id,
  *    chunk_id, n_chunk_tokens, chunk_hash, __key) of the batch's new
  *    winners — chunking is per-doc deterministic, so chunks computed
  *    at arrival equal chunks computed over the full corpus. No text
  *    column is ever stored.
  *  - `shingles/batch_id=N` + `evalsh/batch_id=N` (decontam only):
  *    hashed shingle sets per NEW digest and per eval row. A batch's
  *    shingles land as one file sorted on `(hb, h)`, with the bucket
  *    `hb = h mod` [[ShingleBuckets]] as a column, so the
  *    retroactive-revocation probe prunes to the eval delta's buckets
  *    on Parquet min/max statistics instead of scanning the accumulated
  *    store. The layout is versioned in the store's `_BUCKETS` marker;
  *    stores created with `hb=B` partition dirs keep them. Arriving
  *    candidates are checked against the full eval state; arriving
  *    eval rows retroactively REVOKE already-accepted digests (the
  *    full-recompute semantics: an eval row contaminates documents
  *    that arrived before it). Each (doc, eval) pair is checked
  *    exactly once — at whichever arrives later — with both shingle
  *    sets complete, so the monotone contamination verdict matches
  *    the batch chain. Identical text ⇒ identical digest ⇒ identical
  *    shingles, so a digest group is contaminated all-or-nothing and
  *    revocation can operate on winners alone.
  *
  * Only the OUTPUT-sized tail (mix keep + shard prefix sum over chunk
  * metadata) re-materializes per batch — the streamed-MV maintenance
  * shape, all fixed-width columns, no text.
  *
  * Exactly-once (both modes): state writes are deterministic
  * functions of (prior-version state, batch) keyed by batchId, and
  * the output commit is one ATOMIC pointer swap — `v=<batchId>` dirs
  * plus a `_CURRENT` pointer file renamed into place with
  * Rename.OVERWRITE, so [[readOutput]] sees old-or-new, never a
  * half-overwritten directory (and a replayed micro-batch reproduces
  * byte-identical state).
  */
object StreamCuration {

  /** Bucket count for NEWLY CREATED shingle stores (`hb = h mod
    * buckets`): revocation probes prune to the eval delta's buckets. The
    * bound is pinned by the probe arithmetic: a revocation delta of E
    * eval shingles touches min(E, buckets) buckets, so the pruning
    * factor saturates at `buckets` — at 64 a typical ≤10-shingle eval
    * delta still skips ≥84% of the store. In the sorted layout `hb` is
    * a data column, so the count no longer sets a tick's file count
    * (one file per tick either way). A store's ACTUAL count is
    * versioned in its `_BUCKETS` marker ([[shingleLayout]]), so this
    * default can change — or a deployment can pick a larger count for
    * a bigger eval suite — without breaking any existing store's
    * pruning or readability.
    */
  val ShingleBuckets = 64

  /** Name of the shingle store's layout marker file: `sorted:<buckets>`
    * for the sorted layout, a bare `<buckets>` for `hb=` partition dirs.
    * Underscore-prefixed, so parquet discovery ignores it.
    */
  private[graft] val BucketsMarkerName = "_BUCKETS"

  private val SortedMarkerPrefix = "sorted:"

  /** The landed shingle store's columns in the sorted layout. */
  private val SortedShingleSchema = StructType(Seq(
    StructField("__h", StringType), StructField("h", LongType),
    StructField("hb", IntegerType)))

  /** The landed shingle store's layout, probed from disk — the
    * backward-compatibility seam: a store keeps the layout it was
    * created with, and stores written before bucketing (or mixed, if a
    * legacy checkpoint resumed under a bucketing engine) must keep
    * REVOCATION CORRECT even though they cannot prune.
    */
  private[graft] sealed trait ShingleLayout
  private[graft] object ShingleLayout {
    /** Every batch dir holds files sorted on `(hb, h)` with `hb` (mod
      * `buckets`) as a data column; probes prune on Parquet min/max
      * statistics (row group and page).
      */
    final case class Sorted(buckets: Int) extends ShingleLayout
    /** Every batch dir carries `hb=` partitions written at `buckets`. */
    final case class Bucketed(buckets: Int) extends ShingleLayout
    /** At least one batch dir predates bucketing: reads must go per-dir
      * and unpruned (mixed dirs break whole-store partition discovery).
      */
    case object Legacy extends ShingleLayout
    /** No batch has landed shingles yet. */
    case object Empty extends ShingleLayout
  }

  /** Probe `storeDir`'s layout: the `_BUCKETS` marker wins (the
    * versioned contract); absent a marker, a store whose every batch
    * dir with data has the same layout has that layout, and anything
    * else is legacy/mixed.
    */
  private[graft] def shingleLayout(spark: SparkSession,
      storeDir: String): ShingleLayout = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(storeDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) ShingleLayout.Empty
    else graft.sink.AtomicPointer.read(conf, storeDir,
        name = BucketsMarkerName) match {
      case Some(m) if m.startsWith(SortedMarkerPrefix) =>
        ShingleLayout.Sorted(m.stripPrefix(SortedMarkerPrefix).toInt)
      case Some(n) => ShingleLayout.Bucketed(n.toInt)
      case None =>
        // Lazy, so a legacy store stops at its first dir's footer.
        val layouts = fs.listStatus(p).iterator
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
          .flatMap(s => batchDirLayout(fs, s.getPath))
        if (!layouts.hasNext) ShingleLayout.Empty
        else {
          val first = layouts.next()
          if (first != ShingleLayout.Legacy && layouts.forall(_ == first)) first
          else ShingleLayout.Legacy
        }
    }
  }

  /** One marker-less batch dir's layout, or None if it holds no data.
    * The counts are pinned to LITERAL 64, not ShingleBuckets: the r14
    * engine bucketed at 64 only, and a sorted dir without a marker is
    * the crash window of a store's first sorted write, made at 64.
    * Tracking the default here would, after a default change, prune
    * `hb` (written mod 64) against probes computed mod the new default
    * — silently missing revocations.
    */
  private def batchDirLayout(fs: FileSystem, dir: Path): Option[ShingleLayout] = {
    val kids = fs.listStatus(dir)
    if (kids.exists(k => k.isDirectory && k.getPath.getName.startsWith("hb=")))
      Some(ShingleLayout.Bucketed(64))
    else kids.find(k => k.isFile && !k.getPath.getName.startsWith("_") &&
        !k.getPath.getName.startsWith(".")).map { f =>
      // Footer only (no Spark job): an `hb` column marks a sorted write.
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, fs.getConf))
      try {
        if (r.getFileMetaData.getSchema.containsField("hb")) ShingleLayout.Sorted(64)
        else ShingleLayout.Legacy
      } finally r.close()
    }
  }

  /** `(__h, h)` rows of the accumulated shingle store, restricted —
    * when the layout allows pruning — to the buckets an eval-shingle
    * delta can touch. Sorted stores filter `hb IN (probed)` as a data
    * filter that Parquet min/max statistics turn into skipped row
    * groups and pages; bucketed stores read only the delta's `hb=`
    * partition dirs (revocation work follows the DELTA's size either
    * way); legacy/mixed stores fall back to an unpruned PER-BATCH-DIR
    * union (whole-store discovery over mixed dirs throws on conflicting
    * structures), trading the pruning away but never correctness.
    */
  private[graft] def shingleStateFor(spark: SparkSession, storeDir: String,
      evalDelta: DataFrame): DataFrame = {
    // `store`'s rows in the buckets the eval delta can possibly touch
    // (≤ nb ints — a KB-scale metadata collect).
    def pruned(store: DataFrame, nb: Int): DataFrame = {
      val probed = evalDelta
        .select(pmod(col("h"), lit(nb)).cast("int").as("hb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      store.filter(col("hb").isin(probed: _*)).select(col("__h"), col("h"))
    }
    shingleLayout(spark, storeDir) match {
      case ShingleLayout.Sorted(nb) =>
        pruned(spark.read.schema(SortedShingleSchema).parquet(storeDir), nb)
      case ShingleLayout.Bucketed(nb) =>
        pruned(spark.read.parquet(storeDir), nb)
      case ShingleLayout.Legacy =>
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new Path(storeDir)
        val fs = p.getFileSystem(conf)
        fs.listStatus(p).map(_.getPath)
          .filter(d => d.getName.startsWith("batch_id="))
          .map(d => spark.read.parquet(d.toString).select(col("__h"), col("h")))
          .reduceLeft(_ unionByName _)
      case ShingleLayout.Empty =>
        emptyDf(spark, StructType(Seq(StructField("__h", StringType),
          StructField("h", LongType))))
    }
  }

  /** Land one batch's `(__h, h)` shingle rows in `storeDir` under the
    * store's `layout` — an empty store starts sorted at [[ShingleBuckets]]
    * — then stamp the layout's marker. The marker goes AFTER the write:
    * it is the store's contract for every later read/write.
    */
  private[graft] def writeShingleBatch(sh: DataFrame, storeDir: String,
      batchId: Long, layout: ShingleLayout): Unit = {
    val dir = s"$storeDir/batch_id=$batchId"
    def withHb(nb: Int) = sh.withColumn("hb", pmod(col("h"), lit(nb)).cast("int"))
    def stamp(marker: String): Unit = graft.sink.AtomicPointer.write(
      sh.sparkSession.sparkContext.hadoopConfiguration, storeDir, marker,
      name = BucketsMarkerName)
    layout match {
      case ShingleLayout.Legacy =>
        sh.write.mode("overwrite").parquet(dir)
      case ShingleLayout.Bucketed(nb) =>
        withHb(nb).write.mode("overwrite").partitionBy("hb").parquet(dir)
        stamp(nb.toString)
      case _ =>
        val nb = layout match {
          case ShingleLayout.Sorted(b) => b
          case _ => ShingleBuckets
        }
        // coalesce, not repartition: one batch-bounded writer task and
        // no extra shuffle stage. 1000-row pages (20000 by default) give
        // the page index about bucket granularity on a 500k-row batch:
        // the pruned scan of a 10M-row store fell from ~0.4 s to
        // ~0.25 s on 4 cores, for ~4% more bytes.
        withHb(nb).coalesce(1).sortWithinPartitions(col("hb"), col("h"))
          .write.mode("overwrite")
          .option("parquet.page.row.count.limit", "1000")
          .parquet(dir)
        stamp(s"$SortedMarkerPrefix$nb")
    }
  }

  // ---------------------------------------------------------------
  // Atomic versioned output publish (shared by both modes)
  // ---------------------------------------------------------------

  /** Write `df` as `outDir/v=<version>` and atomically re-point
    * `_CURRENT` at it. Retention keeps the two newest versions so an
    * in-flight reader of the previous version finishes its scan.
    */
  private[stream] def publishOutput(df: DataFrame, outDir: String,
      version: Long): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    df.write.mode("overwrite").parquet(s"$outDir/v=$version")
    val dir = new Path(outDir)
    graft.sink.AtomicPointer.write(conf, outDir, s"v=$version")
    // Retention AFTER the swap: drop all but the two newest versions.
    val fs = dir.getFileSystem(conf)
    val vs = fs.listStatus(dir).map(_.getPath).flatMap { p =>
      val n = p.getName
      if (n.startsWith("v=")) scala.util.Try(n.drop(2).toLong).toOption.map(_ -> p)
      else None
    }.sortBy(-_._1)
    vs.drop(2).foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Read the currently-published output: follow the `_CURRENT`
    * pointer (atomic with the publish — never a partial directory).
    */
  def readOutput(spark: SparkSession, outDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val version = graft.sink.AtomicPointer.read(conf, outDir).getOrElse(
      throw new IllegalStateException(
        s"$outDir has no _CURRENT pointer — no batch has published yet"))
    spark.read.parquet(s"$outDir/$version")
  }

  // ---------------------------------------------------------------
  // Re-materialize mode (the semantics baseline)
  // ---------------------------------------------------------------

  /** The curation chain over the accumulated landing zone: drop eval
    * rows and contaminated documents when a `decontam:` section is
    * present, then [[CurationCompiler.compile]] verbatim.
    */
  def curate(spark: SparkSession, cu: CurationConfig,
      landingDir: String): DataFrame = {
    val corpus0 = spark.read.parquet(landingDir).drop("batch_id")
    val corpus = cu.decontam match {
      case Some(dc) =>
        val hits = CurationCompiler
          .compileDecontam(dc, cu.idField, cu.textField)(corpus0)
          .select(col("doc_id").as(cu.idField)).distinct()
        corpus0.filter(!expr(dc.evalWhere))
          .join(hits, Seq(cu.idField), "left_anti")
      case None => corpus0
    }
    CurationCompiler.compile(cu)(corpus)
  }

  /** One micro-batch: idempotent landing append (batchId partition,
    * overwritten on replay) + re-materialization of the curated
    * output, committed by one atomic pointer swap.
    */
  def writeBatch(batch: DataFrame, batchId: Long, cu: CurationConfig,
      landingDir: String, outDir: String): Unit = {
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(landingDir)
    publishOutput(curate(batch.sparkSession, cu, landingDir), outDir, batchId)
  }

  def start(spark: SparkSession, docs: DataFrame, cu: CurationConfig,
      landingDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, cu, landingDir, outDir)
      }
      .start()

  // ---------------------------------------------------------------
  // Incremental mode (bounded per-batch text work)
  // ---------------------------------------------------------------

  /** Newest state version strictly below `below`, or None before the
    * first batch. Strictness is the replay guarantee: a replayed
    * batch N reads version N-1 (still retained), never its own
    * possibly-partial v=N.
    */
  private def latestVersion(spark: SparkSession, dir: String,
      below: Long): Option[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.drop(2).toLong).toOption)
      .filter(_ < below)
      .maxOption
  }

  private def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def chunkSchema(cu: CurationConfig): StructType = StructType(Seq(
    StructField(cu.idField, LongType), StructField("chunk_id", LongType),
    StructField("n_chunk_tokens", LongType), StructField("chunk_hash", StringType),
    StructField("__key", LongType)))

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** One incremental micro-batch. All text-bearing work (decontam
    * check, gate, digest, chunking, shingling) reads ONLY `batch0`;
    * the maintained state and the re-materialized tail are fixed-width
    * metadata.
    */
  def writeBatchIncremental(batch0: DataFrame, batchId: Long,
      cu: CurationConfig, stateDir: String, outDir: String): Unit = {
    val spark = batch0.sparkSession
    val idF = cu.idField; val textF = cu.textField; val stratF = cu.stratumField
    val batch = batch0.cache()
    val prevV = latestVersion(spark, s"$stateDir/index", below = batchId)
    val oldIndex = prevV.map(v => spark.read.parquet(s"$stateDir/index/v=$v"))
    val oldCounts = prevV.map(v => spark.read.parquet(s"$stateDir/counts/v=$v"))
    // The per-batch stats ride the state writes below as observed
    // metrics, each on an uncached node (an empty cached subtree may be
    // dropped from the final plan, its metrics with it) — no recount.
    val batchObs = Observation()
    val foldObs = Observation()
    val indexObs = Observation()
    // Eval shingle state as written in step 1 (read back schema-known).
    val evalShSchema = StructType(Seq(
      StructField("eval_id", batch.schema(idF).dataType), StructField("h", LongType)))

    // -- 1. decontam: land the batch's eval shingles, then gate
    //    arriving candidates against the FULL eval state (old evals +
    //    this batch's). Per-(doc, eval) check with complete shingle
    //    sets — the later arrival pays it.
    val cand = cu.decontam match {
      case Some(dc) =>
        val evalPred = expr(dc.evalWhere)
        val newEvalSh = NearDup.shingleSets(
            batch.observe(batchObs, count(lit(1)).as("n")).filter(evalPred),
            idF, textF, dc.shingleLen)
          .select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
        newEvalSh.write.mode("overwrite")
          .parquet(s"$stateDir/evalsh/batch_id=$batchId")
        val evalShAll = spark.read.schema(evalShSchema)
          .parquet(s"$stateDir/evalsh")
          .select(col("eval_id"), col("h"))
        val candDocs = batch.filter(!evalPred)
        val candSh = NearDup.shingleSets(candDocs, idF, textF, dc.shingleLen)
          .select(col("doc_id"), explode(col("hs")).as("h"))
        // hs arrays are distinct, so count(*) is the distinct-shared count.
        val contaminated = candSh.join(broadcast(evalShAll), Seq("h"))
          .groupBy(col("doc_id"), col("eval_id"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= dc.minShared)
          .select(col("doc_id").as(idF)).distinct()
        candDocs.join(contaminated, Seq(idF), "left_anti")
      case None => batch.toDF()
    }

    // -- 2. gate (the batch chain's exact expressions) + digest
    val gated = CurationCompiler.gate(cu)(cand)
    val digest = cu.dedup match {
      case "exact" => md5(col(textF).cast("binary"))
      // 'none' still flows through the index: a unique per-id digest
      // makes every gated row its own singleton winner.
      case "none" => concat(lit("id:"), col(idF).cast("string"))
      case other => throw new IllegalArgumentException(
        s"curation.dedup must be 'exact' or 'none', got '$other'")
    }
    // b_n: the digest group's gated rows — summed, the gated_rows stat.
    val batchBest = gated.withColumn("__h", digest)
      .groupBy(col("__h"))
      .agg(min(col(idF)).as("b_id"),
        min_by(col(stratF), col(idF)).as("b_stratum"),
        min_by(col(textF), col(idF)).as("b_text"),
        count(lit(1)).as("b_n"))

    // -- 3. the min-merge fold: old index FULL OUTER batch winners
    // Fresh empty relation (not batchBest.limit(0)): sharing lineage
    // with batchBest would make the full-outer below a self-join.
    val o = oldIndex.getOrElse {
      val bs = batchBest.schema
      emptyDf(spark, StructType(Seq(
        StructField("__h", bs("__h").dataType),
        StructField("id", bs("b_id").dataType),
        StructField("stratum", bs("b_stratum").dataType))))
    }
    val joined = o.select(col("__h"), col("id").as("o_id"),
        col("stratum").as("o_stratum"))
      .join(batchBest, Seq("__h"), "full_outer")
      .cache()
    val batchWins = col("b_id").isNotNull &&
      (col("o_id").isNull || col("b_id") < col("o_id"))
    val newWinners = joined.filter(batchWins)
      .select(col("__h"), col("b_id").as("id"), col("b_stratum").as("stratum"),
        col("b_text").as("text"), col("o_id"))
      .cache() // batch-bounded
    val displacedOld = joined.filter(col("o_id").isNotNull && batchWins)
      .select(col("__h"), col("o_stratum"))
    val merged = joined
      .observe(foldObs, coalesce(sum(col("b_n")), lit(0L)).as("gated"),
        count_if(batchWins).as("new_winners"))
      .select(col("__h"),
        when(batchWins, col("b_id")).otherwise(col("o_id")).as("id"),
        when(batchWins, col("b_stratum")).otherwise(col("o_stratum")).as("stratum"))

    // -- 4. retroactive revocation: digests accepted BEFORE this batch
    //    whose text is contaminated by this batch's NEW eval rows.
    //    (New digests were already checked against the full eval state
    //    at arrival, so only old-index digests need the delta check.)
    val revokedM: DataFrame = cu.decontam match {
      case Some(dc) if prevV.isDefined &&
          dirExists(spark, s"$stateDir/shingles") &&
          dirExists(spark, s"$stateDir/evalsh/batch_id=$batchId") =>
        val newEvalShPart = spark.read.schema(evalShSchema)
          .parquet(s"$stateDir/evalsh/batch_id=$batchId")
        // The store scan prunes to the eval delta's buckets when the
        // landed layout supports it (revocation work follows the
        // DELTA's size, not the accumulated store's); a legacy
        // pre-bucketing store falls back to an unpruned per-dir scan —
        // see [[shingleStateFor]].
        val shState = shingleStateFor(spark, s"$stateDir/shingles",
            newEvalShPart)
          .join(o.select(col("__h")), Seq("__h"), "left_semi")
        // Eagerly materialized (it is revoked-digest-sized): its plan
        // reads the shingle store, whose batch-N dir step 6 OVERWRITES
        // on a replay — without the checkpoint a later action
        // re-executing this plan would chase deleted files.
        shState.join(broadcast(newEvalShPart.select(col("eval_id"), col("h"))),
            Seq("h"))
          .groupBy(col("__h"), col("eval_id"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= dc.minShared)
          .select(col("__h")).distinct()
          .localCheckpoint(true)
      case _ => emptyDf(spark, StructType(Seq(StructField("__h", StringType))))
    }
    val newIndex = merged.join(revokedM, Seq("__h"), "left_anti")
    newIndex.observe(indexObs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$stateDir/index/v=$batchId")

    // -- 5. stratum-count fold (the incremental-agg shape): batch
    //    deltas only, never a corpus recount. groupBy keeps the NULL
    //    stratum group, matching the batch chain's count table.
    val adds = newWinners.join(revokedM, Seq("__h"), "left_anti")
      .select(col("stratum").as(stratF), lit(1L).as("__d"))
    val dropsDisplaced = displacedOld.join(revokedM, Seq("__h"), "left_anti")
      .select(col("o_stratum").as(stratF), lit(-1L).as("__d"))
    val dropsRevoked = o.join(revokedM, Seq("__h"), "left_semi")
      .select(col("stratum").as(stratF), lit(-1L).as("__d"))
    val prior = oldCounts.getOrElse(
        emptyDf(spark, StructType(Seq(
          StructField(stratF, newIndex.schema("stratum").dataType),
          StructField("__n", LongType)))))
      .select(col(stratF), col("__n").as("__d"))
    val newCounts = prior.unionByName(adds).unionByName(dropsDisplaced)
      .unionByName(dropsRevoked)
      .groupBy(col(stratF)).agg(sum(col("__d")).as("__n"))
      .filter(col("__n") > 0)
    newCounts.write.mode("overwrite").parquet(s"$stateDir/counts/v=$batchId")

    // -- 6. chunk metadata for this batch's new winners (per-doc
    //    deterministic ⇒ arrival-time chunks equal corpus chunks);
    //    shingle sets for NEW digests (revocation state).
    val newWinDocs = newWinners.select(col("id").as(idF), col("text").as(textF))
    val newChunks = CurationCompiler.chunksKeyed(cu)(newWinDocs)
      .select(col(idF), col("chunk_id"), col("n_chunk_tokens"),
        col("chunk_hash"), col("__key"))
    newChunks.write.mode("overwrite").parquet(s"$stateDir/chunks/batch_id=$batchId")
    if (cu.decontam.isDefined) {
      // The shingle store is corpus-shingle-sized at scale, and
      // revocation (step 4) probes it with a usually-tiny eval delta,
      // keyed by shingle-hash bucket (hb = h mod buckets) so that scan
      // PRUNES to the delta's buckets instead of reading the store. A
      // new store lands each batch as ONE file sorted on (hb, h): the
      // probe prunes on its min/max statistics, and a tick writes one
      // file instead of a file per bucket. A store keeps the layout and
      // bucket count it was created with (its `_BUCKETS` marker — never
      // re-bucket under a changed default): `hb=` partition dirs stay
      // partitioned, and a legacy store keeps its unbucketed layout so
      // its per-dir fallback reads stay structurally uniform.
      val storeDir = s"$stateDir/shingles"
      val sh = NearDup.shingleSets(
          newWinners.filter(col("o_id").isNull)
            .select(col("__h"), col("text").as(textF)),
          "__h", textF, cu.decontam.get.shingleLen)
        .select(col("doc_id").as("__h"), explode(col("hs")).as("h"))
      writeShingleBatch(sh, storeDir, batchId, shingleLayout(spark, storeDir))
    }

    // -- 7. bounded-work stats (the per-batch evidence): every count
    //    here is a function of the BATCH, not the corpus, except
    //    index_rows which records the state size. Without decontam no
    //    write scans the batch outside a cache, so it is counted.
    val fold = foldObs.get
    val stats = Map(
      "batch_rows" -> (if (cu.decontam.isDefined)
        batchObs.get("n").asInstanceOf[Long] else batch.count()),
      "gated_rows" -> fold("gated").asInstanceOf[Long],
      "new_winner_rows" -> fold("new_winners").asInstanceOf[Long],
      "index_rows" -> indexObs.get("n").asInstanceOf[Long])
    writeStats(spark, s"$stateDir/stats/p=$batchId", batchId, stats)

    // -- 8. output tail over metadata only + atomic publish
    publishOutput(buildOutput(spark, cu, stateDir, batchId,
        Some(StateSchemas(newIndex.schema, newCounts.schema, newChunks.schema))),
      outDir, batchId)

    // Retention: state versions older than prevV are no longer needed
    // even by a replay (a replayed batch N reads exactly v=N-1).
    prevV.foreach { pv =>
      val conf = spark.sparkContext.hadoopConfiguration
      Seq("index", "counts").foreach { sub =>
        val d = new Path(s"$stateDir/$sub")
        val fs = d.getFileSystem(conf)
        if (fs.exists(d)) fs.listStatus(d).map(_.getPath).foreach { p =>
          scala.util.Try(p.getName.drop(2).toLong).toOption
            .filter(v => p.getName.startsWith("v=") && v < pv)
            .foreach(_ => fs.delete(p, true))
        }
      }
    }
    joined.unpersist(); newWinners.unpersist()
    batch.unpersist()
  }

  /** Schemas of the index, counts and chunk frames a tick just wrote:
    * reading that state back with them skips Parquet schema inference
    * (a one-task job per read).
    */
  private final case class StateSchemas(index: StructType, counts: StructType,
      chunks: StructType)

  /** The output-sized tail over state version `v`: winners → mix keep
    * (maintained counts) → chunk-metadata join → shard prefix sum.
    * Reads only fixed-width state — no scan in this plan carries the
    * text column (spec-asserted). Without `known` schemas (state of an
    * earlier run) each read infers its schema.
    */
  private def buildOutput(spark: SparkSession, cu: CurationConfig,
      stateDir: String, v: Long, known: Option[StateSchemas]): DataFrame = {
    def read(path: String, schema: StateSchemas => StructType): DataFrame =
      known.fold(spark.read)(k => spark.read.schema(schema(k))).parquet(path)
    val winners = read(s"$stateDir/index/v=$v", _.index)
      .select(col("id").as(cu.idField), col("stratum").as(cu.stratumField))
    val kept =
      if (cu.mix) {
        val counts = read(s"$stateDir/counts/v=$v", _.counts)
        TextAnalysis.temperatureMixWithCounts(
          winners, cu.idField, cu.stratumField, counts)
      } else winners
    val chunkStore =
      if (dirExists(spark, s"$stateDir/chunks"))
        read(s"$stateDir/chunks", _.chunks).drop("batch_id")
      else emptyDf(spark, chunkSchema(cu))
    val keptChunks = chunkStore
      .join(kept.select(col(cu.idField)), Seq(cu.idField), "left_semi")
    CurationCompiler.shardJoin(cu)(keptChunks)
  }

  /** The current incremental output as a DataFrame built from state —
    * the spec's plan-assert hook (no text column in any scan, every
    * scan under `stateDir`).
    */
  def incrementalOutput(spark: SparkSession, cu: CurationConfig,
      stateDir: String): DataFrame = {
    val v = latestVersion(spark, s"$stateDir/index", below = Long.MaxValue)
      .getOrElse(throw new IllegalStateException(
        s"$stateDir has no index versions — no batch has run yet"))
    buildOutput(spark, cu, stateDir, v, known = None)
  }

  /** Per-batch stats as written by [[writeBatchIncremental]] — the
    * bounded-work audit trail. Returns (batch_id → stat map).
    */
  def readStats(spark: SparkSession,
      stateDir: String): Map[Long, Map[String, Long]] = {
    if (!dirExists(spark, s"$stateDir/stats")) return Map.empty
    spark.read.parquet(s"$stateDir/stats").drop("p").collect().map { r =>
      r.getAs[Long]("batch_id") -> Map(
        "batch_rows" -> r.getAs[Long]("batch_rows"),
        "gated_rows" -> r.getAs[Long]("gated_rows"),
        "new_winner_rows" -> r.getAs[Long]("new_winner_rows"),
        "index_rows" -> r.getAs[Long]("index_rows"))
    }.toMap
  }

  private def writeStats(spark: SparkSession, dir: String, batchId: Long,
      stats: Map[String, Long]): Unit = {
    import spark.implicits._
    Seq((batchId, stats("batch_rows"), stats("gated_rows"),
        stats("new_winner_rows"), stats("index_rows")))
      .toDF("batch_id", "batch_rows", "gated_rows", "new_winner_rows",
        "index_rows")
      .write.mode("overwrite").parquet(dir)
  }

  def startIncremental(spark: SparkSession, docs: DataFrame,
      cu: CurationConfig, stateDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIncremental(batch, batchId, cu, stateDir, outDir)
      }
      .start()
}
