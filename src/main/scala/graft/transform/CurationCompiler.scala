package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.CurationConfig
import graft.ext.{SeqPack, TextAnalysis}

/** Compiles a `curation:` config section onto the corpus operators —
  * the LLM-pipeline analog of how `transformations:` compiles onto the
  * scalar transform dispatcher ([[Transforms]]): the reference's YAML
  * config is the product's query language, so the north-star pipeline
  * (quality gate → dedup → temperature mix → context-window chunking →
  * token-budget sharding) must be reachable from pure config, not only
  * from Scala.
  *
  * Every stage is the SAME library operator the standalone registered
  * queries gate ([[TextAnalysis.temperatureMix]],
  * [[TextAnalysis.docChunks]], [[SeqPack.tokenShards]]); at default
  * parameters [[compile]] IS the `training_manifest` query, and the
  * `cfg_curation` registered query reaches it through YAML against the
  * same oracle. Each stage decision is defined once here and shared
  * with every other caller: the quality gate ([[qualityGate]], also
  * behind `quality_filter`, `corpus_mix` and the dsir/ccnet targets)
  * and the dedup policy ([[dedupDigest]]). The incremental streaming
  * twin ([[graft.stream.StreamCuration]]) reuses them, so its output
  * equals [[compile]] by construction, not by parallel code.
  *
  * Scale shape: the gate is map-only codegen'd regex work; dedup is
  * one window over the md5-digest exchange; the mix is a broadcast
  * gate; chunking is map-only; sharding is the two-level prefix sum
  * with the chunk columns carried through. No stage materializes
  * between stages. Column pruning gives each consumer of a shared
  * subplan its own projection, and an exchange is reused only between
  * consumers that need the same columns, so no stage here joins its
  * own input back. The static plan (AQE off, sf0.001) scans
  * `documents` twice: once for the survivor stream, once for the mix's
  * count table (id, lang and digest only). The shard offsets reuse the
  * survivor stream's digest exchange.
  */
object CurationCompiler {

  def compile(cu: CurationConfig)(docs: DataFrame): DataFrame = {
    val id = col(cu.idField)

    val gated = gate(cu)(docs)

    val survivors = dedupDigest(cu) match {
      case Some(digest) =>
        // Keep the lowest id per digest with a window over the digest
        // exchange: the survivors stream straight out of it, where a
        // keep-side groupBy joined back would be a second consumer
        // needing other columns — a second gate + md5 text pass.
        gated.withColumn("__h", digest)
          .withColumn("__min", min(id).over(Window.partitionBy(col("__h"))))
          .filter(id === col("__min"))
          .drop("__h", "__min")
      case None => gated
    }

    val mixed =
      if (cu.mix) TextAnalysis.temperatureMix(survivors, cu.idField, cu.stratumField)
      else survivors

    assignShards(cu)(chunksKeyed(cu)(mixed))
  }

  /** The `dedup` policy: the md5 text digest whose lowest id survives
    * (`exact`), or None (`none`). Every consumer of the policy — the
    * batch chain and the incremental tick — validates it here, so a bad
    * kind fails the same way in both.
    */
  def dedupDigest(cu: CurationConfig): Option[Column] = cu.dedup match {
    case "exact" => Some(md5(col(cu.textField).cast("binary")))
    case "none" => None
    case other => throw new IllegalArgumentException(
      s"curation.dedup must be 'exact' or 'none', got '$other'")
  }

  /** The quality gate: the ONE definition of "quality" in the project.
    * [[gate]], the registered `quality_filter` / `corpus_mix` queries
    * and the incremental streaming twin
    * ([[graft.stream.StreamCuration]]) filter with it; [[qualityPredicate]]
    * is its test as a condition. Returns `docs` with the passing rows,
    * plus the whitespace token count (`nTok`, long), the stopword count
    * (`nStop`, double) and `__barrier` — callers project what they
    * need. Per-doc, so gating a batch equals gating its rows inside the
    * full corpus.
    */
  def qualityGate(cu: CurationConfig, nTok: String = "__ntok",
      nStop: String = "__nstop")(docs: DataFrame): DataFrame = {
    val (tok, stop) = qualityCounts(cu)
    docs
      .withColumn(nTok, tok)
      .withColumn(nStop, stop)
      // Nondeterministic barrier: keeps the tokenize in ONE codegen'd
      // Project instead of being re-inlined into the Filter twice.
      .withColumn("__barrier", monotonically_increasing_id())
      .filter(qualityTest(cu, col(nTok), col(nStop)) && col("__barrier") >= 0)
  }

  /** The quality gate stage of [[compile]]: (id, text, stratum) rows
    * passing [[qualityGate]].
    */
  def gate(cu: CurationConfig)(docs: DataFrame): DataFrame =
    qualityGate(cu)(docs).select(col(cu.idField), col(cu.textField), col(cu.stratumField))

  /** [[qualityGate]]'s test as one predicate column, for stages that
    * need "quality" as a condition rather than a filter (the dsir
    * target and the lm_buckets reference default to it).
    */
  def qualityPredicate(cu: CurationConfig): Column = {
    val (tok, stop) = qualityCounts(cu)
    qualityTest(cu, tok, stop)
  }

  private def qualityCounts(cu: CurationConfig): (Column, Column) = {
    val text = col(cu.textField)
    (TextAnalysis.qualityTokenCount(text).cast("long"),
      TextAnalysis.qualityStopwordCount(text).cast("double"))
  }

  private def qualityTest(cu: CurationConfig, nTok: Column, nStop: Column): Column =
    nTok >= cu.minTokens && nTok <= cu.maxTokens && nStop / nTok >= cu.minStopRatio

  /** Context-window chunks of `docs` with the composite (doc, chunk)
    * order key — chunk_id < 2^20 by construction at any realistic
    * chunk count per document. Per-doc deterministic: a doc's chunk
    * rows are the same whether computed at arrival (streaming) or over
    * the full corpus (batch).
    */
  def chunksKeyed(cu: CurationConfig)(docs: DataFrame): DataFrame =
    TextAnalysis.docChunks(
        docs, cu.idField, cu.textField, cu.chunkTokens, cu.chunkOverlap)
      .withColumn("__key", col(cu.idField) * (1L << 20) + col("chunk_id"))

  /** The token-budget shard assignment over keyed chunk METADATA
    * (no text): the corpus-global prefix-sum tail of [[compile]]. The
    * chunk columns ride through [[SeqPack.tokenShards]], so there is
    * no join back on `__key`; a chunk row repeated n times (a
    * duplicated id) comes out n times.
    */
  def assignShards(cu: CurationConfig)(keyed: DataFrame): DataFrame =
    SeqPack.tokenShards(
        keyed.select(col(cu.idField), col("chunk_id"), col("n_chunk_tokens"),
          col("chunk_hash"), col("__key")),
        "__key", "n_chunk_tokens", cu.shardBudget, cu.shardBucketWidth)
      .drop("__key")

  /** Compiles a `curation.semantic_dedup:` section onto the SemDeDup
    * operators ([[graft.ext.SimSearch.semanticDedup]] /
    * [[graft.ext.SimSearch.semanticDedupBest]]): the embedding-space
    * dedup pass becomes config-reachable with its keep policy as the
    * declared knob. `cents` is the landed trained-centroid table (the
    * serving deployment shape — train once, compile many configs
    * against it); index geometry stays corpus-derived, never config.
    */
  def compileSemanticDedup(sd: graft.config.SemanticDedupConfig)(
      emb: DataFrame, cents: DataFrame): DataFrame = sd.policy match {
    case "min_id" =>
      graft.ext.SimSearch.semanticDedup(emb, sd.tau, cents)
    case "best" =>
      graft.ext.SimSearch.semanticDedupBest(emb, sd.tau, cents, sd.qualityField)
    case other => throw new IllegalArgumentException(
      s"curation.semantic_dedup.policy must be 'min_id' or 'best', got '$other'")
  }

  /** Corpus-size ceiling below which an index is not worth building:
    * an exact brute scan beats index construction when the corpus is
    * no larger than the PQ codebook itself (256 = SimSearch.PqK) — an
    * "index" trained on fewer points than its codewords is noise.
    */
  val SimBruteMax: Long = 256L

  /** Corpus-size ceiling for the float-vector trained-IVF path. Above
    * it the raw float corpus stops being the thing you scan (64-dim
    * floats at 10^6 vectors ≈ 256 MB per executor slice and growing
    * linearly) and the compressed-code PQ path takes over: 16 B/vector
    * codes, ADC shortlist, exact re-rank on the shortlist only.
    */
  val SimIvfMax: Long = 1000000L

  /** The documented index-dispatch rule (spec-pinned): exact brute for
    * tiny corpora, trained IVF while floats are scannable, PQ codes
    * beyond. Thresholds are corpus-size constants, never config.
    */
  def dispatchFor(n: Long): String =
    if (n <= SimBruteMax) "brute" else if (n <= SimIvfMax) "ivf" else "pq"

  /** Compiles a `curation.similarity:` section onto the filtered-ANN
    * serving family: the corpus size picks the operator via
    * [[dispatchFor]]; geometry stays corpus-derived
    * ([[graft.ext.SimSearch.IvfParams.forCorpus]]). `cents` and
    * `codes` are BY-NAME landed-artifact suppliers — only the
    * dispatched branch's index is ever touched (the brute branch
    * builds nothing). All three branches share the filtered top-k
    * contract (qid, cid, sim, rank), so a corpus growing across a
    * threshold changes the plan, not the schema.
    */
  def compileSimilarity(si: graft.config.SimilarityConfig)(
      emb: DataFrame, cents: => DataFrame, codes: => DataFrame): DataFrame = {
    val candW = si.candWhere.map(expr).getOrElse(lit(true))
    val n = emb.count()
    dispatchFor(n) match {
      case "brute" =>
        graft.ext.SimSearch.bruteTopKNFiltered(emb, si.queryBound, si.k, candW)
      case "ivf" =>
        graft.ext.SimSearch.ivfTopKNFilteredWithCentroids(
          emb, si.queryBound, si.k,
          graft.ext.SimSearch.IvfParams.forCorpus(n).probes, cents, candW)
      case _ =>
        val dim = emb.select(size(col("embedding"))).head.getInt(0)
        graft.ext.SimSearch.pqTopKNFilteredFromCodes(
          codes, emb, si.queryBound, si.k, dim, candW,
          shortlist = pqShortlistFor(si.k))
    }
  }

  /** Compiles a `similarity: retrain_when:` section onto the retrain
    * DECISION ([[graft.ext.IvfIndex.retrainSignal]]) over a cell-stats
    * frame — the config-reachable dry run of the maintenance loop: the
    * operator reads one row (breach flags + verdict) before letting
    * [[graft.ext.IvfIndex.maintainIndex]] act on it.
    */
  def compileRetrainSignal(si: graft.config.SimilarityConfig)(
      stats: DataFrame): DataFrame =
    graft.ext.IvfIndex.retrainSignal(stats, retrainPolicyOf(si))

  /** The policy of a `similarity: retrain_when:` section (shared by the
    * dry-run decision and the maintenance ACT; absent section → the
    * documented defaults).
    */
  def retrainPolicyOf(
      si: graft.config.SimilarityConfig): graft.ext.IvfIndex.RetrainPolicy = {
    val rw = si.retrainWhen.getOrElse(graft.config.RetrainWhenConfig())
    graft.ext.IvfIndex.RetrainPolicy(rw.maxDeltaPct, rw.maxCellRatio)
  }

  /** Compiles a `similarity: retrain_when:` section onto the
    * maintenance ACT ([[graft.ext.IvfIndex.maintainIndexAuto]]): check
    * the landed index at `indexDir` against the policy and, on breach,
    * retrain + atomically publish the next version. EVERYTHING scale-
    * sensitive derives from the corpus, never config: K via
    * [[graft.ext.SimSearch.IvfParams.forCorpus]], the delta predicate
    * via the published trained-at watermark (so repeated ticks
    * converge), and the training stride via
    * [[graft.ext.SimSearch.IvfParams.trainStrideFor]] inside the act —
    * a policy breach at any corpus size costs the stride curve, not the
    * full N^1.5 build. Returns true iff a retrain published.
    */
  def compileMaintainIndex(si: graft.config.SimilarityConfig)(
      emb: DataFrame, indexDir: String, iters: Int = 2): Boolean =
    graft.ext.IvfIndex.maintainIndexAuto(emb,
      graft.ext.SimSearch.IvfParams.forCorpus(emb.count()).numCentroids,
      iters, indexDir, retrainPolicyOf(si))

  /** ADC shortlist size for a config-dispatched PQ serving at top-k:
    * the shortlist must dominate k, or a config `k` above the default
    * shortlist (20) silently truncates the served list — and an
    * `eval_recall: true` grade would then measure the hidden cap, not
    * the index. 2k keeps the exact re-rank's candidate set a strict
    * superset of any defensible serving list while staying k-sized.
    */
  def pqShortlistFor(k: Int): Int = math.max(20, 2 * k)

  /** Entry point for a `curation.similarity:` section: serving top-k
    * by default; with `eval_recall: true` the dispatched serving shape
    * is GRADED against exact brute-force ground truth under the same
    * predicate ([[graft.ext.AnnEval.recallAtK]]) — per graded query,
    * the recall@k numerator and the ANN rank of the true nearest
    * neighbor. Ground truth is a bounded-query brute scan, so the
    * grade costs one extra corpus pass regardless of index type.
    */
  def compileSimilaritySection(si: graft.config.SimilarityConfig)(
      emb: DataFrame, cents: => DataFrame, codes: => DataFrame): DataFrame = {
    val served = compileSimilarity(si)(emb, cents, codes)
    if (!si.evalRecall) served
    else graft.ext.AnnEval.recallAtK(served,
      graft.ext.SimSearch.bruteTopKNFiltered(emb, si.queryBound, si.k,
        si.candWhere.map(expr).getOrElse(lit(true))))
  }

  /** Compiles a `curation.dsir:` section onto [[graft.ext.Dsir.sample]]:
    * importance resampling toward the config's target distribution.
    * With `target_where` the target is any SQL predicate over the
    * table's columns; without it the curation section's OWN quality
    * gate defines the target (the self-contained form — "make the
    * corpus look like its quality-gated subset"), reusing the same
    * gate expressions [[compile]] applies, so the two sections can
    * never define "quality" differently.
    */
  def compileDsir(ds: graft.config.DsirConfig, cu: CurationConfig)(
      docs: DataFrame): DataFrame = {
    val isTarget = ds.targetWhere.map(expr).getOrElse(qualityPredicate(cu))
    graft.ext.Dsir.sample(docs, cu.idField, cu.textField, isTarget, ds.keepNum)
  }

  /** Compiles a `curation.substr_dedup:` section onto
    * [[graft.ext.SubstrDedup.dedup]]: exact duplicated-substring
    * removal becomes config-reachable with the window length as the
    * declared knob. Same scale shape as the Scala composition — the
    * corpus text never shuffles, only fixed-width window hashes.
    */
  def compileSubstrDedup(sd: graft.config.SubstrDedupConfig, idField: String,
      textField: String)(docs: DataFrame): DataFrame =
    graft.ext.SubstrDedup.dedup(docs, idField, textField, sd.windowLen)

  /** Compiles a `curation.lm_buckets:` section onto
    * [[graft.ext.LmBuckets.buckets]]: CCNet-style quality terciles
    * with the reference corpus declared either as a SQL predicate
    * (`ref_where`) or, when absent, as the curation section's own
    * quality gate — reusing the same gate expressions [[compile]]
    * applies, so "reference" and "quality" can never diverge.
    */
  def compileLmBuckets(lb: graft.config.LmBucketsConfig, cu: CurationConfig)(
      docs: DataFrame): DataFrame = {
    val isRef = lb.refWhere.map(expr).getOrElse(qualityPredicate(cu))
    graft.ext.LmBuckets.buckets(docs, cu.idField, cu.textField,
      lb.langField, isRef)
  }

  /** Compiles a `curation.gopher:` section onto
    * [[graft.ext.GopherRules.battery]] (or, with `line_rules: true`,
    * [[graft.ext.GopherRules.lineRules]]): the heuristic battery lands
    * either as audit columns on every document (`flag_only: true`) or
    * as the filtered passing subset (the gate shape).
    */
  def compileGopher(g: graft.config.GopherConfig, idField: String,
      textField: String)(docs: DataFrame): DataFrame = {
    require(!(g.lineRules && g.repetition),
      "curation.gopher: line_rules and repetition are mutually exclusive")
    if (g.lineRules) {
      val scored = graft.ext.GopherRules.lineRules(docs, idField, textField)
      if (g.flagOnly) scored else scored.filter(col("passes_lines"))
    } else if (g.repetition) {
      val scored = graft.ext.GopherRepetition.battery(docs, idField, textField)
      if (g.flagOnly) scored else scored.filter(col("passes"))
    } else {
      val scored = graft.ext.GopherRules.battery(docs, idField, textField)
      if (g.flagOnly) scored else scored.filter(col("passes"))
    }
  }

  /** Compiles a `curation.c4:` section onto
    * [[graft.ext.C4Rules.battery]]: the C4 cleaning battery lands
    * either as audit columns (`flag_only: true`) or as the filtered
    * passing subset — the gopher convention.
    */
  def compileC4(c: graft.config.C4Config, idField: String,
      textField: String)(docs: DataFrame): DataFrame = {
    require(c.blockWords.nonEmpty, "curation.c4.block_words is required")
    val scored = graft.ext.C4Rules.battery(docs, idField, textField, c.blockWords)
    if (c.flagOnly) scored else scored.filter(col("passes"))
  }

  /** Compiles a `curation.charset:` section onto
    * [[graft.ext.ScriptProfile.battery]]: encoding-damage audit
    * columns (`flag_only: true`) or the filtered clean subset.
    */
  def compileCharset(c: graft.config.CharsetConfig, idField: String,
      textField: String)(docs: DataFrame): DataFrame = {
    val scored = graft.ext.ScriptProfile.battery(docs, idField, textField)
    if (c.flagOnly) scored else scored.filter(col("clean"))
  }

  /** Compiles a `curation.html:` section onto
    * [[graft.ext.HtmlStrip.strip]]: markup extraction before the
    * word-level batteries, with an optional floor dropping documents
    * whose extracted text is shorter than `min_clean_chars`
    * (markup-only pages). Map-only either way.
    */
  def compileHtml(h: graft.config.HtmlConfig, idField: String,
      textField: String)(docs: DataFrame): DataFrame = {
    val stripped = graft.ext.HtmlStrip.strip(docs, idField, textField)
    if (h.minCleanChars <= 0) stripped
    else stripped.filter(length(col("clean_text")) >= h.minCleanChars)
  }

  /** Compiles a `curation.decontam:` section onto
    * [[graft.ext.NearDup.contamination]]: the config's `eval_where`
    * predicate splits the document table into held-out benchmark vs
    * corpus, then the standard broadcast-eval-shingles contamination
    * scan runs. Same scale shape as the Scala composition — the corpus
    * never shuffles, only matched hits exchange.
    */
  def compileDecontam(dc: graft.config.DecontamConfig, idField: String,
      textField: String)(docs: DataFrame): DataFrame = {
    require(dc.evalWhere.nonEmpty, "curation.decontam.eval_where is required")
    val evalPred = expr(dc.evalWhere)
    graft.ext.NearDup.contamination(
      docs.filter(!evalPred), docs.filter(evalPred),
      idField, textField, dc.shingleLen, dc.minShared)
  }
}
