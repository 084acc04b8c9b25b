package graft.queries

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables.t
import graft.config.{MappingTarget, SchemaConfig, TransformSpec}
import graft.transform.TransformPipeline

/** The config-DSL pipeline as an oracle-checked query: the full
  * read → map → transform → required-filter → metadata → partition
  * derivation chain (transform_data.py:206-212) compiled from a
  * SchemaConfig, with every stage visible in the output schema.
  */
object Pipeline {

  private val ordersSchema = SchemaConfig(
    inputFormat = "parquet",
    mapping = Seq(
      "order_key" -> MappingTarget.Path("o_orderkey"),
      "cust_key" -> MappingTarget.Path("o_custkey"),
      "status" -> MappingTarget.Path("o_orderstatus"),
      "total_price" -> MappingTarget.Path("o_totalprice"),
      "order_date" -> MappingTarget.Path("o_orderdate"),
      "priority" -> MappingTarget.Path("o_orderpriority")),
    required = Seq("order_key", "cust_key"),
    transformations = Seq(
      TransformSpec("total_price", "double"),
      TransformSpec("status", "trim"),
      TransformSpec("order_date", "datetime", format = Some("yyyy-MM-dd HH:mm:ss")),
      TransformSpec("priority", "regexp_replace",
        pattern = Some("^[0-9]-"), replacement = Some("")),
      TransformSpec("ghost_field", "unknown_kind"))) // silently skipped — DSL contract

  /** Deterministic start time so processed_timestamp is oracle-checkable. */
  private val pinnedStart = LocalDateTime.of(2026, 1, 1, 0, 0, 0)

  def cfgPipeline(s: SparkSession, dir: String): DataFrame =
    TransformPipeline.compile(ordersSchema, "orders", pinnedStart,
      partitionBy = Seq("year", "month", "day"))(t(s, dir, "orders"))

  /** The WHOLE declared product path as ONE oracle-gated behavior —
    * O1–O7 composed, not seven isolated specs: a hermetic stub REST
    * API (offset pagination) → [[graft.ingest.ApiSource]] fetch → raw
    * zone landing → config-compiled transform (mapping, casts, trim,
    * datetime, required-filter, metadata, partition derivation) →
    * partitioned processed-zone write → quality checks → threshold
    * monitors (error_count deliberately BREACHES: the required filter
    * drops the 11 null-customer records, 11 > 5) → warehouse publish.
    * The hashed frame is the PUBLISHED table crossed with the run
    * report's deterministic fields, so the gate pins data content,
    * filter/metadata semantics, counts, quality verdict, and monitor
    * evaluation in one row-set. The stub serves arithmetic-derived
    * records so DuckDB replays the full pipeline from `range(300)`.
    *
    * Runs once per fixture dir ([[graft.Tables.land]]); re-invocations
    * read the published table + landed report.
    */
  def pipelineReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val wh = graft.config.WarehouseConfig(
      schema = "graft_pipe", table = graft.Tables.pathTag(dir), analyze = false)
    val base = graft.Tables.land("pipe", dir) { base =>
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(0), 0)
      try {
        val total = 300
        def rec(i: Int): String = {
          val cust = if (i % 29 == 0) "null" else (i % 50).toString
          f"""{"id":$i,"customer":$cust,"cents":${(i * 37) % 10000},""" +
            f""""state":" S${i % 3} ","event_date":"2026-01-${i % 28 + 1}%02d"}"""
        }
        server.createContext("/records", { ex =>
          val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
            .split('&').filter(_.nonEmpty)
            .map { kv => val a = kv.split("=", 2); a(0) -> a(1) }.toMap
          val off = q.getOrElse("offset", "0").toInt
          val lim = q.getOrElse("limit", "100").toInt
          val body = (off until math.min(off + lim, total)).map(rec)
            .mkString("""{"results":[""", ",", "]}")
          val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        })
        server.start()
        val api = graft.config.ApiConfig(
          endpoint = s"http://localhost:${server.getAddress.getPort}/records",
          parameters = Map("limit" -> "64"),
          pagination = Some(graft.config.PaginationConfig(style = "offset")))
        graft.ingest.ApiSource.fetch(s, api)
          .write.mode("overwrite").json(s"$base/raw")
        val cfg = graft.config.SourceConfig(
          name = "api_records",
          sourceType = graft.config.SourceType.RestApi,
          api = Some(api),
          schema = SchemaConfig(
            inputFormat = "json",
            mapping = Seq(
              "rec_id" -> MappingTarget.Path("id"),
              "cust" -> MappingTarget.Path("customer"),
              "amount" -> MappingTarget.Path("cents"),
              "status" -> MappingTarget.Path("state"),
              "event_date" -> MappingTarget.Path("event_date")),
            required = Seq("rec_id", "cust"),
            transformations = Seq(
              TransformSpec("amount", "double"),
              TransformSpec("status", "trim"),
              TransformSpec("event_date", "datetime", format = Some("yyyy-MM-dd")))),
          destination = graft.config.Destination(processed = Some(
            graft.config.DestinationZone(prefix = s"$base/processed",
              partitionBy = Seq("year", "month", "day")))),
          warehouse = Some(wh),
          qualityChecks = Seq(
            graft.config.QualityCheck("not_null", Seq("rec_id")),
            graft.config.QualityCheck("unique", Seq("rec_id"))),
          monitoring = graft.config.Monitoring(metrics = Seq(
            graft.config.MetricSpec("error_count", threshold = 5.0),
            graft.config.MetricSpec("record_count", threshold = 1000.0))))
        val report = graft.orchestrate.PipelineRunner.run(
          s, cfg, s"$base/raw", s"$base/processed", "json",
          publish = true, startTime = pinnedStart)
        import s.implicits._
        Seq((report.inputCount, report.outputCount, report.qualityPassed,
            report.breachedMonitors.sorted.mkString(","), report.quarantinedCount))
          .toDF("n_in", "n_out", "quality_passed", "breached_monitors",
            "n_quarantined")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/report")
      } finally server.stop(0)
    }
    s.table(wh.qualified)
      .select(col("rec_id"), col("cust"), col("amount"), col("status"),
        col("event_date"), col("source_name"), col("processed_timestamp"),
        col("year"), col("month"), col("day"))
      .crossJoin(broadcast(s.read.parquet(s"$base/report")))
  }

  /** The north-star pipeline declared in PURE CONFIG: a YAML
    * `curation:` section (the reference DSL's shape extended with the
    * LLM-pipeline stages) parsed by [[graft.config.ConfigLoader]] and
    * compiled by [[graft.transform.CurationCompiler]] onto the same
    * operators `training_manifest` composes in Scala. Parameters match
    * the defaults, so the frame hashes against the SAME oracle —
    * config-reachability itself is the gated behavior.
    */
  private val curationYaml =
    """source:
      |  name: corpus_curation
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    stratum_field: lang
      |    quality:
      |      min_tokens: 10
      |      max_tokens: 5000
      |      min_stop_ratio: 0.01
      |    dedup: exact
      |    mix: true
      |    chunk:
      |      tokens: 32
      |      overlap: 8
      |    shard:
      |      budget: 2048
      |      bucket_width: 67108864
      |""".stripMargin

  def cfgCuration(s: SparkSession, dir: String): DataFrame = {
    val cfg = graft.config.ConfigLoader.fromYaml(curationYaml)
    val cu = cfg.curation.getOrElse(
      throw new IllegalStateException("curation section failed to parse"))
    graft.transform.CurationCompiler.compile(cu)(t(s, dir, "documents"))
  }

  /** The embedding-space dedup pass declared in pure config: a
    * `curation.semantic_dedup:` section compiled by
    * [[graft.transform.CurationCompiler.compileSemanticDedup]] onto
    * the SAME SemDeDup operator (and the same landed trained
    * centroids) `semantic_dedup` composes in Scala — so the frame
    * hashes against the same training-replay oracle. The `policy: best`
    * twin of this section maps to `semantic_dedup_best`; `min_id` is
    * registered because its oracle is the cheaper replay.
    */
  private val semanticDedupYaml =
    """source:
      |  name: corpus_semantic_dedup
      |  type: file
      |  curation:
      |    id_field: vec_id
      |    semantic_dedup:
      |      tau: 0.4
      |      policy: min_id
      |""".stripMargin

  def cfgSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(semanticDedupYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val sd = cu.semanticDedup.getOrElse(
      throw new IllegalStateException("semantic_dedup section failed to parse"))
    graft.transform.CurationCompiler.compileSemanticDedup(sd)(
      t(s, dir, "embeddings"), NorthStar.trainedCents(s, dir))
  }

  /** Eval-set decontamination declared in pure config: a
    * `curation.decontam:` section whose `eval_where` predicate selects
    * the held-out benchmark rows, compiled onto
    * [[graft.ext.NearDup.contamination]] — parameters match the Scala
    * `decontam` composition, so the frame hashes against its oracle.
    */
  private val decontamYaml =
    """source:
      |  name: corpus_decontam
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    decontam:
      |      eval_where: doc_id % 97 = 0
      |      shingle_len: 3
      |      min_shared: 3
      |""".stripMargin

  def cfgDecontam(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(decontamYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val dc = cu.decontam.getOrElse(
      throw new IllegalStateException("decontam section failed to parse"))
    graft.transform.CurationCompiler.compileDecontam(dc, cu.idField, cu.textField)(
      t(s, dir, "documents"))
  }

  /** DSIR importance resampling declared in pure config: a
    * `curation.dsir:` section with no `target_where`, so the curation
    * quality gate defines the target distribution — compiled onto
    * [[graft.ext.Dsir.sample]] with the same parameters as the Scala
    * `dsir_sample` composition, so the frame hashes against its oracle.
    */
  private val dsirYaml =
    """source:
      |  name: corpus_dsir
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    dsir:
      |      keep_num: 25
      |""".stripMargin

  def cfgDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cu = graft.config.ConfigLoader.fromYaml(dsirYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val ds = cu.dsir.getOrElse(
      throw new IllegalStateException("dsir section failed to parse"))
    graft.transform.CurationCompiler.compileDsir(ds, cu)(t(s, dir, "documents"))
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  /** Exact substring dedup declared in pure config, compiled onto the
    * same operator as the Scala `substr_dedup` composition (window_len
    * 8 = NorthStar.SubstrWindow), so the frame hashes against its
    * oracle.
    */
  private val substrYaml =
    """source:
      |  name: corpus_substr
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    substr_dedup:
      |      window_len: 8
      |""".stripMargin

  def cfgSubstrDedup(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(substrYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val sd = cu.substrDedup.getOrElse(
      throw new IllegalStateException("substr_dedup section failed to parse"))
    graft.transform.CurationCompiler.compileSubstrDedup(sd, cu.idField,
      cu.textField)(t(s, dir, "documents"))
  }

  /** CCNet-style LM bucketing declared in pure config: a
    * `curation.lm_buckets:` section with no `ref_where`, so the
    * curation quality gate defines the reference corpus — the same
    * parameters as the Scala `ccnet_buckets` composition, so the frame
    * hashes against its oracle.
    */
  private val lmBucketsYaml =
    """source:
      |  name: corpus_lm_buckets
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    lm_buckets:
      |      lang_field: lang
      |""".stripMargin

  def cfgLmBuckets(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(lmBucketsYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val lb = cu.lmBuckets.getOrElse(
      throw new IllegalStateException("lm_buckets section failed to parse"))
    graft.transform.CurationCompiler.compileLmBuckets(lb, cu)(
      t(s, dir, "documents"))
  }

  /** Gopher battery declared in pure config (audit shape), hash-equal
    * to the Scala `gopher_rules` composition.
    */
  private val gopherYaml =
    """source:
      |  name: corpus_gopher
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    gopher:
      |      flag_only: true
      |""".stripMargin

  def cfgGopher(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(gopherYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val g = cu.gopher.getOrElse(
      throw new IllegalStateException("gopher section failed to parse"))
    graft.transform.CurationCompiler.compileGopher(g, cu.idField, cu.textField)(
      t(s, dir, "documents"))
  }

  /** The full table-A1 repetition battery declared in pure config
    * (`repetition: true`), over the same derived lane as
    * `gopher_repetition` — hash-equal to the Scala composition's
    * oracle.
    */
  private val gopherRepetitionYaml =
    """source:
      |  name: corpus_gopher_repetition
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    gopher:
      |      flag_only: true
      |      repetition: true
      |""".stripMargin

  def cfgGopherRepetition(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(gopherRepetitionYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val g = cu.gopher.getOrElse(
      throw new IllegalStateException("gopher section failed to parse"))
    graft.transform.CurationCompiler.compileGopher(g, cu.idField, cu.textField)(
      NorthStar.repLinedDocs(s, dir))
  }

  /** Charset profile declared in pure config (audit shape), over the
    * same damage lane as `script_profile` — hash-equal to the Scala
    * composition's oracle.
    */
  private val charsetYaml =
    """source:
      |  name: corpus_charset
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    charset:
      |      flag_only: true
      |""".stripMargin

  def cfgCharset(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(charsetYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val c = cu.charset.getOrElse(
      throw new IllegalStateException("charset section failed to parse"))
    graft.transform.CurationCompiler.compileCharset(c, cu.idField, cu.textField)(
      NorthStar.charLanedDocs(s, dir))
  }

  /** HTML extraction declared in pure config (pure-transform shape:
    * min_clean_chars 0), over the same markup lane as `html_strip` —
    * hash-equal to the Scala composition's oracle.
    */
  private val htmlYaml =
    """source:
      |  name: corpus_html
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    html:
      |      min_clean_chars: 0
      |""".stripMargin

  def cfgHtmlStrip(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(htmlYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val h = cu.html.getOrElse(
      throw new IllegalStateException("html section failed to parse"))
    graft.transform.CurationCompiler.compileHtml(h, cu.idField, cu.textField)(
      NorthStar.htmlLanedDocs(s, dir))
  }

  /** C4 cleaning battery declared in pure config (audit shape), over
    * the same derived line lane as `c4_rules` — hash-equal to the
    * Scala composition's oracle.
    */
  private val c4Yaml =
    """source:
      |  name: corpus_c4
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    c4:
      |      flag_only: true
      |      block_words:
      |        - c4blockedterm
      |""".stripMargin

  def cfgC4(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(c4Yaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val c = cu.c4.getOrElse(
      throw new IllegalStateException("c4 section failed to parse"))
    graft.transform.CurationCompiler.compileC4(c, cu.idField, cu.textField)(
      NorthStar.c4LinedDocs(s, dir))
  }

  /** The LINE-shaped Gopher half declared in pure config (`line_rules:
    * true`), over the same derived newline lane as `gopher_rules_lines`
    * — hash-equal to the Scala composition's oracle.
    */
  private val gopherLinesYaml =
    """source:
      |  name: corpus_gopher_lines
      |  type: file
      |  curation:
      |    id_field: doc_id
      |    text_field: text
      |    gopher:
      |      flag_only: true
      |      line_rules: true
      |""".stripMargin

  def cfgGopherLines(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(gopherLinesYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val g = cu.gopher.getOrElse(
      throw new IllegalStateException("gopher section failed to parse"))
    graft.transform.CurationCompiler.compileGopher(g, cu.idField, cu.textField)(
      NorthStar.linedDocs(s, dir))
  }

  /** Filtered ANN top-k serving declared in pure config: the
    * `curation.similarity:` section names only the QUERY (query_bound,
    * k, cand_where); the index is chosen by corpus size
    * ([[graft.transform.CurationCompiler.dispatchFor]]) and its
    * geometry derives from the corpus. At every fixture scale the
    * corpus lands in the trained-IVF band, so the frame hashes against
    * the `sim_topk_filtered_ivf` training-replay oracle; the brute and
    * PQ bands are pinned by `CurationCompilerSpec`'s dispatch lanes.
    */
  private val similarityYaml =
    """source:
      |  name: corpus_similarity
      |  type: file
      |  curation:
      |    id_field: vec_id
      |    similarity:
      |      query_bound: 100
      |      k: 5
      |      cand_where: label = 1
      |""".stripMargin

  def cfgSimTopK(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(similarityYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val si = cu.similarity.getOrElse(
      throw new IllegalStateException("similarity section failed to parse"))
    graft.transform.CurationCompiler.compileSimilarity(si)(
      t(s, dir, "embeddings"),
      NorthStar.trainedCents(s, dir),
      ScaleOps.pqCodesWithMeta(s, dir))
  }

  /** `eval_recall: true` declared in pure config: the dispatched index
    * (trained IVF at fixture sizes) is graded against brute ground
    * truth — hash-equal to the `ann_recall` Scala composition, so
    * config reachability of the eval is the gated behavior.
    */
  private val annRecallYaml =
    """source:
      |  name: corpus_similarity_eval
      |  type: file
      |  curation:
      |    id_field: vec_id
      |    similarity:
      |      query_bound: 64
      |      k: 10
      |      eval_recall: true
      |""".stripMargin

  def cfgAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(annRecallYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val si = cu.similarity.getOrElse(
      throw new IllegalStateException("similarity section failed to parse"))
    graft.transform.CurationCompiler.compileSimilaritySection(si)(
      t(s, dir, "embeddings"),
      NorthStar.trainedCents(s, dir),
      ScaleOps.pqCodesWithMeta(s, dir))
  }

  /** `retrain_when:` declared in pure config: the compiled dry-run
    * decision over the upserted index's cell stats — hash-equal to the
    * `ivf_retrain_stats` Scala composition, so config reachability of
    * the retrain policy is the gated behavior.
    */
  private val retrainYaml =
    """source:
      |  name: corpus_index_maintenance
      |  type: file
      |  curation:
      |    id_field: vec_id
      |    similarity:
      |      retrain_when:
      |        max_delta_pct: 30
      |        max_cell_ratio: 8
      |""".stripMargin

  def cfgIvfRetrain(s: SparkSession, dir: String): DataFrame = {
    val cu = graft.config.ConfigLoader.fromYaml(retrainYaml)
      .curation.getOrElse(throw new IllegalStateException("no curation section"))
    val si = cu.similarity.getOrElse(
      throw new IllegalStateException("similarity section failed to parse"))
    val emb = t(s, dir, "embeddings")
    val cutoff = 4L * emb.count() / 5
    graft.transform.CurationCompiler.compileRetrainSignal(si)(
      graft.ext.IvfIndex.cellStats(
        NorthStar.upsertCells(s, dir),
        org.apache.spark.sql.functions.col("vec_id") >= cutoff))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cfg_pipeline" -> (cfgPipeline _),
    "cfg_sim_topk" -> (cfgSimTopK _),
    "cfg_ann_recall" -> (cfgAnnRecall _),
    "cfg_ivf_retrain" -> (cfgIvfRetrain _),
    "cfg_curation" -> (cfgCuration _),
    "cfg_semantic_dedup" -> (cfgSemanticDedup _),
    "cfg_decontam" -> (cfgDecontam _),
    "cfg_dsir" -> (cfgDsir _),
    "cfg_substr_dedup" -> (cfgSubstrDedup _),
    "cfg_lm_buckets" -> (cfgLmBuckets _),
    "cfg_gopher" -> (cfgGopher _),
    "cfg_gopher_lines" -> (cfgGopherLines _),
    "cfg_c4" -> (cfgC4 _),
    "cfg_gopher_repetition" -> (cfgGopherRepetition _),
    "cfg_charset" -> (cfgCharset _),
    "cfg_html_strip" -> (cfgHtmlStrip _),
    "pipeline_report" -> (pipelineReport _))

  val oracle: Map[String, String] = Map(
    // Same truth as training_manifest: the config-compiled plan must
    // reproduce the Scala-composed plan bit-for-bit.
    "cfg_curation" -> NorthStar.oracle("training_manifest"),
    // Same contract for the similarity-stack sections: config
    // reachability is the gated behavior, the truth is unchanged.
    "cfg_semantic_dedup" -> NorthStar.oracle("semantic_dedup"),
    "cfg_sim_topk" -> NorthStar.oracle("sim_topk_filtered_ivf"),
    "cfg_ann_recall" -> NorthStar.oracle("ann_recall"),
    "cfg_ivf_retrain" -> NorthStar.oracle("ivf_retrain_stats"),
    "cfg_decontam" -> NorthStar.oracle("decontam"),
    "cfg_dsir" -> NorthStar.oracle("dsir_sample"),
    "cfg_substr_dedup" -> NorthStar.oracle("substr_dedup"),
    "cfg_lm_buckets" -> NorthStar.oracle("ccnet_buckets"),
    "cfg_gopher" -> NorthStar.oracle("gopher_rules"),
    "cfg_gopher_lines" -> NorthStar.oracle("gopher_rules_lines"),
    "cfg_c4" -> NorthStar.oracle("c4_rules"),
    "cfg_gopher_repetition" -> NorthStar.oracle("gopher_repetition"),
    "cfg_charset" -> NorthStar.oracle("script_profile"),
    "cfg_html_strip" -> NorthStar.oracle("html_strip"),
    "cfg_pipeline" ->
      """SELECT o_orderkey AS order_key, o_custkey AS cust_key,
        | trim(o_orderstatus) AS status,
        | CAST(o_totalprice AS DOUBLE) AS total_price,
        | CAST(o_orderdate AS DATE) AS order_date,
        | regexp_replace(o_orderpriority, '^[0-9]-', '', 'g') AS priority,
        | 'orders' AS source_name,
        | TIMESTAMP '2026-01-01 00:00:00' AS processed_timestamp,
        | CAST(year(o_orderdate) AS INTEGER) AS year,
        | CAST(month(o_orderdate) AS INTEGER) AS month,
        | CAST(day(o_orderdate) AS INTEGER) AS day
        |FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL""".stripMargin,
    // Full-pipeline replay from range(300): the stub API's records are
    // arithmetic in i, so every stage (mapping, casts, trim, datetime,
    // required-filter, metadata, partition derivation) and the report
    // constants (counts, quality verdict, breached monitor) are
    // predictable without HTTP.
    "pipeline_report" ->
      """WITH r AS (SELECT ui.i AS i FROM UNNEST(range(300)) AS ui(i)),
        |rec AS (
        |  SELECT i AS rec_id,
        |    CASE WHEN i % 29 = 0 THEN NULL ELSE i % 50 END AS cust,
        |    CAST((i * 37) % 10000 AS DOUBLE) AS amount,
        |    'S' || CAST(i % 3 AS VARCHAR) AS status,
        |    DATE '2026-01-01' + CAST(i % 28 AS INTEGER) AS event_date
        |  FROM r)
        |SELECT rec_id, cust, amount, status, event_date,
        |  'api_records' AS source_name,
        |  TIMESTAMP '2026-01-01 00:00:00' AS processed_timestamp,
        |  CAST(2026 AS INT) AS year, CAST(1 AS INT) AS month,
        |  CAST(day(event_date) AS INT) AS day,
        |  CAST(300 AS BIGINT) AS n_in, CAST(289 AS BIGINT) AS n_out,
        |  TRUE AS quality_passed, 'error_count' AS breached_monitors,
        |  CAST(0 AS BIGINT) AS n_quarantined
        |FROM rec WHERE cust IS NOT NULL""".stripMargin)
}
