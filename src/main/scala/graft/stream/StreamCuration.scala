package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.config.CurationConfig
import graft.ext.{NearDup, TextAnalysis}
import graft.transform.CurationCompiler

/** The FULL config-compiled curation chain as a stream — the
  * streaming twin of `cfg_curation`, driven from the same `curation:`
  * config section: optional eval-set decontamination gate, then
  * gate → dedup → mix → chunk → shard. After every micro-batch the
  * published output equals [[curate]], the batch chain
  * ([[CurationCompiler.compile]]) over every document delivered so far.
  *
  * One maintenance mode, incremental ([[startIncremental]]). Each stage
  * decision is the batch chain's own definition — the quality gate
  * ([[CurationCompiler.gate]]), the dedup digest
  * ([[CurationCompiler.dedupDigest]]) and the shingle-overlap test
  * ([[NearDup.shingleOverlap]]) — so the equality holds by construction.
  * Per-batch work touching TEXT is bounded by the batch — gating,
  * digesting, chunking and shingling run on batch rows only — and
  * everything corpus-global is maintained as fixed-width metadata state:
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
  *    store. Arriving candidates are checked against the full eval
  *    state; arriving eval rows retroactively REVOKE already-accepted
  *    digests (the full-recompute semantics: an eval row contaminates
  *    documents that arrived before it). Each (doc, eval) pair is checked
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
  * Exactly-once: state writes are deterministic functions of
  * (prior-version state, batch) keyed by batchId, and the output commit
  * is one ATOMIC pointer swap — `v=<batchId>` dirs plus a `_CURRENT`
  * pointer file renamed into place with Rename.OVERWRITE, so
  * [[readOutput]] sees old-or-new, never a half-overwritten directory
  * (and a replayed micro-batch reproduces byte-identical state).
  */
object StreamCuration {

  /** Bucket count of the shingle store (`hb = h mod buckets`):
    * revocation probes prune to the eval delta's buckets. The bound is
    * pinned by the probe arithmetic: a revocation delta of E eval
    * shingles touches min(E, buckets) buckets, so the pruning factor
    * saturates at `buckets` — at 64 a typical ≤10-shingle eval delta
    * still skips ≥84% of the store. `hb` is a data column, so the count
    * does not set a tick's file count (one file per tick). The count is
    * part of the store's format marker ([[StoreMarker]]): changing it
    * makes every existing store fail loudly on its next tick instead of
    * pruning `hb` written mod 64 against probes computed mod the new
    * count, which would silently skip revocations.
    */
  val ShingleBuckets = 64

  /** Name of the shingle store's format marker file. Underscore-prefixed,
    * so parquet discovery ignores it.
    */
  private val BucketsMarkerName = "_BUCKETS"

  /** The one shingle-store format: every batch dir holds one file sorted
    * on `(hb, h)` with `hb = h mod` [[ShingleBuckets]] as a data column.
    */
  private val StoreMarker = s"sorted:$ShingleBuckets"

  private val ShingleSchema = StructType(Seq(
    StructField("__h", StringType), StructField("h", LongType),
    StructField("hb", IntegerType)))

  /** Whether `storeDir` holds a shingle store in [[StoreMarker]]'s format;
    * false when it holds none yet. The marker is written before a store's
    * first data file, so data without it — or a store with any other
    * marker (`hb=` partition dirs stamped with a bare count, unbucketed
    * stores) — was written by an older format. Reading such a store
    * would prune it wrongly and silently skip revocations, so it throws.
    */
  private def shingleStoreMarked(spark: SparkSession, storeDir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(storeDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) false
    else graft.sink.AtomicPointer.read(conf, storeDir, name = BucketsMarkerName) match {
      case Some(StoreMarker) => true
      case None if fs.listStatus(p).forall { s =>
          val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") } => false
      case found => throw new IllegalStateException(
        s"shingle store $storeDir has format marker ${found.getOrElse("<none>")}," +
        s" expected $StoreMarker: it was written in an older format, and reading" +
        " it would skip revocations")
    }
  }

  /** `(__h, h)` rows of the accumulated shingle store in the buckets an
    * eval-shingle delta can touch: `hb IN (probed)` is a data filter
    * that Parquet min/max statistics turn into skipped row groups and
    * pages, so revocation work follows the DELTA's size, not the
    * store's. Empty when no shingles have landed yet.
    */
  private[graft] def shingleStateFor(spark: SparkSession, storeDir: String,
      evalDelta: DataFrame): DataFrame =
    if (!shingleStoreMarked(spark, storeDir))
      emptyDf(spark, StructType(ShingleSchema.take(2)))
    else {
      // ≤ ShingleBuckets ints — a KB-scale metadata collect.
      val probed = evalDelta
        .select(pmod(col("h"), lit(ShingleBuckets)).cast("int").as("hb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      spark.read.schema(ShingleSchema).parquet(storeDir)
        .filter(col("hb").isin(probed: _*)).select(col("__h"), col("h"))
    }

  // ---------------------------------------------------------------
  // Atomic versioned output publish
  // ---------------------------------------------------------------

  /** Write `df` as `outDir/v=<version>` and atomically re-point
    * `_CURRENT` at it. Retention keeps the two newest versions so an
    * in-flight reader of the previous version finishes its scan.
    */
  private[stream] def publishOutput(df: DataFrame, outDir: String,
      version: Long): Unit =
    graft.sink.AtomicPointer.publishVersion(
      df.sparkSession.sparkContext.hadoopConfiguration, outDir, version)(
      df.write.mode("overwrite").parquet(_))

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

  /** The batch reference: the curation chain over a parquet landing
    * zone of every delivered document — drop eval rows and contaminated
    * documents when a `decontam:` section is present, then
    * [[CurationCompiler.compile]] verbatim. The incremental output
    * equals it after every tick.
    */
  def curate(spark: SparkSession, cu: CurationConfig,
      landingDir: String): DataFrame = {
    val corpus0 = spark.read.parquet(landingDir)
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

  // ---------------------------------------------------------------
  // The tick (bounded per-batch text work)
  // ---------------------------------------------------------------

  /** Newest state version strictly below `below`, or None before the
    * first batch. Strictness is the replay guarantee: a replayed
    * batch N reads version N-1 (still retained), never its own
    * possibly-partial v=N.
    */
  private def latestVersion(spark: SparkSession, dir: String,
      below: Long): Option[Long] =
    graft.sink.AtomicPointer.versions(spark.sparkContext.hadoopConfiguration, dir)
      .map(_._1).find(_ < below)

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
    // 'none' still flows through the index: a unique per-id digest
    // makes every gated row its own singleton winner. Resolved before
    // any state write, so a bad policy fails with nothing written.
    val digest = CurationCompiler.dedupDigest(cu)
      .getOrElse(concat(lit("id:"), col(idF).cast("string")))
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
        val contaminated = NearDup.shingleOverlap(candSh, evalShAll, dc.minShared)
          .select(col("doc_id").as(idF)).distinct()
        candDocs.join(contaminated, Seq(idF), "left_anti")
      case None => batch.toDF()
    }

    // -- 2. gate (the batch chain's exact expressions) + digest
    val gated = CurationCompiler.gate(cu)(cand)
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
        // Pruned to the eval delta's buckets — see [[shingleStateFor]].
        val shState = shingleStateFor(spark, s"$stateDir/shingles",
            newEvalShPart)
          .join(o.select(col("__h")), Seq("__h"), "left_semi")
        // Eagerly materialized (it is revoked-digest-sized): its plan
        // reads the shingle store, whose batch-N dir step 6 OVERWRITES
        // on a replay — without the checkpoint a later action
        // re-executing this plan would chase deleted files.
        NearDup.shingleOverlap(shState,
            newEvalShPart.select(col("eval_id"), col("h")), dc.minShared)
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
      // PRUNES to the delta's buckets instead of reading the store. Each
      // batch lands as ONE file sorted on (hb, h): the probe prunes on
      // its min/max statistics. The format marker goes BEFORE the
      // store's first data file, so no store of this format is ever
      // without it; a store in any other format throws here.
      val storeDir = s"$stateDir/shingles"
      if (!shingleStoreMarked(spark, storeDir))
        graft.sink.AtomicPointer.write(spark.sparkContext.hadoopConfiguration,
          storeDir, StoreMarker, name = BucketsMarkerName)
      // coalesce, not repartition: one batch-bounded writer task and no
      // extra shuffle stage. 1000-row pages (20000 by default) give the
      // page index about bucket granularity on a 500k-row batch: the
      // pruned scan of a 10M-row store fell from ~0.4 s to ~0.25 s on 4
      // cores, for ~4% more bytes.
      NearDup.shingleSets(
          newWinners.filter(col("o_id").isNull)
            .select(col("__h"), col("text").as(textF)),
          "__h", textF, cu.decontam.get.shingleLen)
        .select(col("doc_id").as("__h"), explode(col("hs")).as("h"))
        .withColumn("hb", pmod(col("h"), lit(ShingleBuckets)).cast("int"))
        .coalesce(1).sortWithinPartitions(col("hb"), col("h"))
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "1000")
        .parquet(s"$storeDir/batch_id=$batchId")
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
        graft.sink.AtomicPointer.versions(conf, s"$stateDir/$sub")
          .collect { case (v, p) if v < pv => p }
          .foreach(p => p.getFileSystem(conf).delete(p, true))
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
    CurationCompiler.assignShards(cu)(keptChunks)
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
