package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.config.{ConfigLoader, CurationConfig}
import graft.ext.{SeqPack, TextAnalysis}

/** The config-DSL curation section: YAML parsing (field lift +
  * defaults), the compiled chain's equality with an independent
  * reference formulation on the fixture corpus, and its row
  * multiplicity when ids repeat.
  */
class CurationCompilerSpec extends SparkTestBase {

  test("curation YAML parses with declared values and defaults") {
    val cu = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    text_field: body
        |    quality: {min_tokens: 5}
        |    dedup: none
        |    chunk: {tokens: 64}
        |""".stripMargin).curation.get
    assert(cu.textField == "body" && cu.idField == "doc_id")
    assert(cu.minTokens == 5 && cu.maxTokens == 5000 && cu.minStopRatio == 0.01)
    assert(cu.dedup == "none" && cu.mix)
    assert(cu.chunkTokens == 64 && cu.chunkOverlap == 8)
    assert(cu.shardBudget == 2048L && cu.shardBucketWidth == (64L << 20))
    assert(ConfigLoader.fromYaml("source:\n  name: x\n  type: file\n").curation.isEmpty)
    // Every subsection present but empty: each defaulted field loads
    // equal to its case-class default (the fields without a default,
    // eval_where and block_words, load empty).
    val allEmpty = ConfigLoader.fromYaml(
      """source:
        |  name: e
        |  type: file
        |  curation:
        |    quality: {}
        |    chunk: {}
        |    shard: {}
        |    semantic_dedup: {}
        |    similarity: {retrain_when: {}}
        |    decontam: {}
        |    dsir: {}
        |    substr_dedup: {}
        |    lm_buckets: {}
        |    gopher: {}
        |    c4: {}
        |    charset: {}
        |    html: {}
        |""".stripMargin).curation.get
    import graft.config._
    assert(allEmpty == CurationConfig(
      semanticDedup = Some(SemanticDedupConfig()),
      similarity = Some(SimilarityConfig(retrainWhen = Some(RetrainWhenConfig()))),
      decontam = Some(DecontamConfig(evalWhere = "")),
      dsir = Some(DsirConfig()),
      substrDedup = Some(SubstrDedupConfig()),
      lmBuckets = Some(LmBucketsConfig()),
      gopher = Some(GopherConfig()),
      c4 = Some(C4Config(blockWords = Nil)),
      charset = Some(CharsetConfig()),
      html = Some(HtmlConfig())))
  }

  test("bad dedup kind fails loudly") {
    val cu = graft.config.CurationConfig(dedup = "minhashish")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val batch = intercept[IllegalArgumentException](CurationCompiler.compile(cu)(docs))
    // The incremental tick validates through the same definition, and
    // fails before writing any state.
    val dir = java.nio.file.Files.createTempDirectory("bad-dedup").toString
    val tick = intercept[IllegalArgumentException](
      graft.stream.StreamCuration.writeBatchIncremental(docs.limit(8), 0L, cu,
        s"$dir/state", s"$dir/out"))
    assert(tick.getMessage == batch.getMessage)
    assert(tick.getMessage.contains("'minhashish'"))
    assert(!new java.io.File(s"$dir/state").exists())
  }

  test("config-compiled pipeline equals the Scala-composed training_manifest") {
    val got = multiset(graft.queries.Pipeline.cfgCuration(spark, sf0001))
    val want = multiset(graft.queries.NorthStar.queries("training_manifest")(spark, sf0001))
    assert(got == want && got.nonEmpty)
  }

  /** Rows with their multiplicities. */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def documents: DataFrame = graft.Tables.t(spark, sf0001, "documents")

  /** An independent formulation of the default curation chain: a
    * keep-side groupBy joined back on (__h, id), n_min as its own
    * aggregate cross-joined onto the counts, and shard ids computed on
    * (__key, n_chunk_tokens) alone and joined back on __key.
    */
  private def referenceChain(docs: DataFrame): DataFrame = {
    val cu = CurationConfig()
    val hashed = CurationCompiler.gate(cu)(docs)
      .withColumn("__h", md5(col("text").cast("binary")))
    val keep = hashed.groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
    val survivors = hashed.join(keep, Seq("__h", "doc_id")).drop("__h")
    val counts = survivors.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
    val nmin = counts.agg(min(col("__n")).as("__nmin"))
    val bucket = pmod(TextAnalysis.tokenHash(col("doc_id").cast("string")), lit(100L))
    val mixed = survivors.join(broadcast(counts.crossJoin(nmin)), Seq("lang"))
      .filter(bucket * bucket * col("__n") < lit(10000L) * col("__nmin"))
      .select(survivors.columns.map(col): _*)
    val keyed = CurationCompiler.chunksKeyed(cu)(mixed)
    val shards = SeqPack.tokenShards(keyed.select(col("__key"), col("n_chunk_tokens")),
      "__key", "n_chunk_tokens", cu.shardBudget, cu.shardBucketWidth)
    keyed.join(shards.select(col("__key"), col("shard_id")), "__key")
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        col("chunk_hash"), col("shard_id"))
  }

  test("compiled chain equals the independent reference chain as a multiset") {
    val got = multiset(CurationCompiler.compile(CurationConfig())(documents))
    val want = multiset(referenceChain(documents))
    assert(got.nonEmpty && got.values.forall(_ == 1))
    assert(got == want)
  }

  // Duplicated ids: the compiled chain emits each surviving input row's
  // chunks once; the reference's __key join-back emits a chunk of an id
  // carried by n surviving rows n² times. The distinct rows agree.
  test("duplicated (id, text) rows: each copy's chunks appear once") {
    val dup = documents.filter(col("doc_id") % 11 === 0)
    val docs = documents.unionByName(dup)
    val copies = multiset(docs.select(col("doc_id"))).map { case (k, n) => k.head -> n }
    val got = multiset(CurationCompiler.compile(CurationConfig())(docs))
    val want = multiset(referenceChain(docs))
    assert(got.keySet == want.keySet)
    assert(got.forall { case (row, n) => n == copies(row.head) })
    assert(got.exists(_._2 == 2), "no duplicated id survived the chain")
    assert(want.forall { case (row, n) => n == copies(row.head) * copies(row.head) })
  }

  test("ids reused with other text: every chunk row appears once") {
    // Five surviving ids each gain a second row with other text: their
    // own tokens reversed — same gate and mix decision, another digest.
    val ids = multiset(CurationCompiler.compile(CurationConfig())(documents))
      .keys.map(_.head.asInstanceOf[Long]).toSeq.distinct.sorted.take(5)
    val reused = documents.filter(col("doc_id").isin(ids: _*))
      .withColumn("text", array_join(reverse(split(trim(col("text")), "\\s+")), " "))
    val docs = documents.unionByName(reused)
    val got = multiset(CurationCompiler.compile(CurationConfig())(docs))
    val want = multiset(referenceChain(docs))
    assert(got.keySet == want.keySet)
    assert(got.values.forall(_ == 1))
    assert(want.values.sum > got.values.sum, "no reused id kept both rows")
  }

  test("semantic_dedup / decontam sections parse with declared values and defaults") {
    val cu = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    semantic_dedup: {tau: 0.25, policy: best, quality_field: score}
        |    decontam:
        |      eval_where: source = 'benchmark'
        |""".stripMargin).curation.get
    val sd = cu.semanticDedup.get
    assert(sd.tau == 0.25 && sd.policy == "best" && sd.qualityField == "score")
    val dc = cu.decontam.get
    assert(dc.evalWhere == "source = 'benchmark'")
    assert(dc.shingleLen == 3 && dc.minShared == 3)
    // absent sections stay None; defaults fill a bare semantic_dedup
    val bare = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    semantic_dedup: {}
        |""".stripMargin).curation.get
    assert(bare.semanticDedup.get ==
      graft.config.SemanticDedupConfig(0.4, "min_id", "label"))
    assert(bare.decontam.isEmpty)
  }

  test("bad semantic_dedup policy and empty decontam predicate fail loudly") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    intercept[IllegalArgumentException](
      CurationCompiler.compileSemanticDedup(
        graft.config.SemanticDedupConfig(policy = "keep-some"))(docs, docs))
    intercept[IllegalArgumentException](
      CurationCompiler.compileDecontam(
        graft.config.DecontamConfig(evalWhere = ""), "doc_id", "text")(docs))
  }

  test("dsir section parses with declared values and defaults") {
    val cu = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    dsir: {keep_num: 40, target_where: "source = 'books'"}
        |""".stripMargin).curation.get
    assert(cu.dsir.get == graft.config.DsirConfig(40, Some("source = 'books'")))
    val bare = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    dsir: {}
        |""".stripMargin).curation.get
    assert(bare.dsir.get == graft.config.DsirConfig(25, None))
  }

  test("config-compiled dsir equals the Scala dsir_sample composition") {
    val got = graft.queries.Pipeline.cfgDsir(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val want = graft.queries.NorthStar.queries("dsir_sample")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // target_where overrides the quality-gate target: an always-true
    // predicate makes target = raw, so every ratio is 1 and keep_num
    // 100 keeps every featured doc.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val all = CurationCompiler.compileDsir(
      graft.config.DsirConfig(100, Some("1 = 1")),
      graft.config.CurationConfig())(docs)
    val featured = graft.ext.Dsir.weights(
      docs, "doc_id", "text", org.apache.spark.sql.functions.expr("1 = 1"))
    assert(all.count() == featured.count() && all.count() > 0)
  }

  test("config-compiled semantic_dedup and decontam equal the Scala compositions") {
    val gotSd = graft.queries.Pipeline.cfgSemanticDedup(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val wantSd = graft.queries.NorthStar.queries("semantic_dedup")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(gotSd == wantSd && gotSd.nonEmpty)
    val gotDc = graft.queries.Pipeline.cfgDecontam(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val wantDc = graft.queries.NorthStar.queries("decontam")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(gotDc == wantDc && gotDc.nonEmpty)
  }

  test("substr_dedup and lm_buckets sections parse with declared values and defaults") {
    val cu = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    substr_dedup: {window_len: 12}
        |    lm_buckets: {lang_field: source, ref_where: "lang = 'en'"}
        |""".stripMargin).curation.get
    assert(cu.substrDedup.get == graft.config.SubstrDedupConfig(12))
    assert(cu.lmBuckets.get ==
      graft.config.LmBucketsConfig("source", Some("lang = 'en'")))
    val bare = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    substr_dedup: {}
        |    lm_buckets: {}
        |""".stripMargin).curation.get
    assert(bare.substrDedup.get == graft.config.SubstrDedupConfig(8))
    assert(bare.lmBuckets.get == graft.config.LmBucketsConfig("lang", None))
  }

  test("gopher section: flag_only keeps every row, gate shape filters") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val audit = CurationCompiler.compileGopher(
      graft.config.GopherConfig(flagOnly = true), "doc_id", "text")(docs)
    val gate = CurationCompiler.compileGopher(
      graft.config.GopherConfig(flagOnly = false), "doc_id", "text")(docs)
    assert(audit.count() == docs.count())
    assert(gate.count() > 0 && gate.count() < docs.count())
    val gotCfg = graft.queries.Pipeline.cfgGopher(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val want = graft.ext.GopherRules.battery(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(gotCfg == want)
  }

  test("gopher repetition mode: cfg equals Scala; exclusive with line_rules") {
    val docs = graft.queries.NorthStar.repLinedDocs(spark, sf0001)
    val gate = CurationCompiler.compileGopher(
      graft.config.GopherConfig(flagOnly = false, repetition = true),
      "doc_id", "text")(docs)
    assert(gate.count() > 0 && gate.count() < docs.count())
    val gotCfg = graft.queries.Pipeline.cfgGopherRepetition(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val want = graft.ext.GopherRepetition.battery(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(gotCfg == want)
    intercept[IllegalArgumentException] {
      CurationCompiler.compileGopher(
        graft.config.GopherConfig(lineRules = true, repetition = true),
        "doc_id", "text")(docs)
    }
  }

  test("charset section: flag_only audits, gate filters, cfg equals Scala") {
    val docs = graft.queries.NorthStar.charLanedDocs(spark, sf0001)
    val audit = CurationCompiler.compileCharset(
      graft.config.CharsetConfig(flagOnly = true), "doc_id", "text")(docs)
    val gate = CurationCompiler.compileCharset(
      graft.config.CharsetConfig(flagOnly = false), "doc_id", "text")(docs)
    assert(audit.count() == docs.count())
    assert(gate.count() > 0 && gate.count() < docs.count())
    val gotCfg = graft.queries.Pipeline.cfgCharset(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val want = graft.ext.ScriptProfile.battery(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(gotCfg == want)
  }

  test("c4 section: flag_only keeps every row, gate filters, cfg equals Scala") {
    val docs = graft.queries.NorthStar.c4LinedDocs(spark, sf0001)
    val block = Seq("c4blockedterm")
    val audit = CurationCompiler.compileC4(
      graft.config.C4Config(block, flagOnly = true), "doc_id", "text")(docs)
    val gate = CurationCompiler.compileC4(
      graft.config.C4Config(block, flagOnly = false), "doc_id", "text")(docs)
    assert(audit.count() == docs.count())
    assert(gate.count() > 0 && gate.count() < docs.count())
    val gotCfg = graft.queries.Pipeline.cfgC4(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val want = graft.ext.C4Rules.battery(docs, "doc_id", "text", block)
      .collect().map(_.toSeq).toSet
    assert(gotCfg == want)
    // an empty blocklist is a config error, not a silent no-op gate
    intercept[IllegalArgumentException] {
      CurationCompiler.compileC4(
        graft.config.C4Config(Nil), "doc_id", "text")(docs)
    }
  }

  test("config-compiled substr_dedup and lm_buckets equal the Scala compositions") {
    val gotSu = graft.queries.Pipeline.cfgSubstrDedup(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val wantSu = graft.queries.NorthStar.queries("substr_dedup")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(gotSu == wantSu && gotSu.nonEmpty)
    val gotLm = graft.queries.Pipeline.cfgLmBuckets(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val wantLm = graft.queries.NorthStar.queries("ccnet_buckets")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(gotLm == wantLm && gotLm.nonEmpty)
  }

  test("similarity section parses; index choice is corpus-derived, never config") {
    val cu = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    id_field: vec_id
        |    similarity:
        |      query_bound: 50
        |      k: 3
        |      cand_where: label = 1
        |""".stripMargin).curation.get
    val si = cu.similarity.get
    assert(si.queryBound == 50 && si.k == 3 && si.candWhere.contains("label = 1"))
    // Defaults + no way to name an index in config.
    val si2 = ConfigLoader.fromYaml(
      """source:
        |  name: c
        |  type: file
        |  curation:
        |    similarity: {}
        |""".stripMargin).curation.get.similarity.get
    assert(si2.queryBound == 100 && si2.k == 5 && si2.candWhere.isEmpty)
  }

  test("similarity dispatch rule: brute <= 256 < ivf <= 1M < pq (boundary-exact)") {
    assert(CurationCompiler.dispatchFor(1L) == "brute")
    assert(CurationCompiler.dispatchFor(CurationCompiler.SimBruteMax) == "brute")
    assert(CurationCompiler.dispatchFor(CurationCompiler.SimBruteMax + 1) == "ivf")
    assert(CurationCompiler.dispatchFor(CurationCompiler.SimIvfMax) == "ivf")
    assert(CurationCompiler.dispatchFor(CurationCompiler.SimIvfMax + 1) == "pq")
  }

  test("PQ shortlist scales with config k: a served top-k is never" +
    " silently capped by the default ADC shortlist") {
    assert(CurationCompiler.pqShortlistFor(5) == 20)
    assert(CurationCompiler.pqShortlistFor(10) == 20)
    assert(CurationCompiler.pqShortlistFor(25) == 50)
    // End to end at k=25 (> the default shortlist of 20): with the
    // scaled shortlist every graded query serves a full k-row list.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dim = emb.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("embedding"))).head.getInt(0)
    val k = 25
    val codes = graft.ext.SimSearch.pqEncode(emb, dim)
    val served = graft.ext.SimSearch.pqTopKNFilteredFromCodes(
      codes, emb, 4, k, dim, org.apache.spark.sql.functions.lit(true),
      shortlist = CurationCompiler.pqShortlistFor(k))
    val perQ = served.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQ.nonEmpty && perQ.forall(_ == k.toLong))
    // The default shortlist would have capped the list at 20.
    val capped = graft.ext.SimSearch.pqTopKNFilteredFromCodes(
      codes, emb, 4, k, dim, org.apache.spark.sql.functions.lit(true))
    val perQCapped = capped.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQCapped.forall(_ <= 20L))
  }

  test("small corpus dispatches to exact brute; the index suppliers are never touched") {
    val s2 = spark; import s2.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 200) // under SimBruteMax
    val si = graft.config.SimilarityConfig(
      queryBound = 20, k = 3, candWhere = Some("label = 1"))
    def boom: org.apache.spark.sql.DataFrame =
      throw new IllegalStateException("index supplier touched on brute path")
    val got = CurationCompiler.compileSimilarity(si)(emb, boom, boom)
      .collect().map(_.toSeq).toSet
    val want = graft.ext.SimSearch.bruteTopKNFiltered(emb, 20, 3, $"label" === 1)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("fixture corpus dispatches to trained IVF and equals the Scala composition") {
    val got = graft.queries.Pipeline.cfgSimTopK(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val want = graft.queries.NorthStar.queries("sim_topk_filtered_ivf")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }
}
