package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north star):
  * language-ID (stopword n-gram heuristic), BPE-ish token counting,
  * SimHash fingerprints + banded near-dup candidates, and a rolling
  * (Rabin-Karp) document fingerprint.
  *
  * Every operator is a native-expression DataFrame transform (no UDFs)
  * with a deterministic DuckDB oracle — hash-dependent operators use
  * md5-derived integers so the oracle reproduces them bit-for-bit.
  *
  * Scale: lang_id / tok_bpe / rolling fingerprint are map-only;
  * simhash is one explode + hash-aggregate (map-side partial agg on
  * doc_id); simhash candidate pairs shuffle only (band, combined-block
  * key, id) tuples — never text — with a 2^24 key space per band at
  * the defaults (see [[simhashBandKeys]]).
  */
object TextAnalysis {

  /** md5-derived 60-bit integer hash of a token — reproducible in any
    * engine with md5 (DuckDB: ('0x'||substr(md5(t),1,15))::BIGINT).
    */
  def tokenHash(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long")

  // ---- shared quality-gate heuristics ----

  /** One stopword list feeds the scorer (text_quality), the gate
    * (quality_filter / training_manifest), and the config-DSL curation
    * compiler, so they can never silently diverge.
    */
  val QualityStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Whitespace token count — the deterministic size proxy every gate
    * uses.
    */
  def qualityTokenCount(text: Column): Column = size(split(trim(text), "\\s+"))

  /** Stopword count as a single codegen'd regex pass — provably equal
    * to counting split-on-\s+ tokens IN the stopword set: a token
    * equals a stopword iff that stopword occurs bounded by whitespace
    * or string edges, and stopwords contain no whitespace, so
    * occurrences and matching tokens are 1:1. The lookahead keeps the
    * trailing boundary unconsumed so adjacent stopword tokens
    * ("of the") both match. The higher-order-function formulation
    * knocks its operator out of whole-stage codegen and runs
    * interpreted — measured 12× slower in the quality-gate filter.
    */
  def qualityStopwordCount(text: Column): Column =
    regexp_count(text, lit(s"(?:^|\\s)(?:${QualityStopwords.mkString("|")})(?=\\s|$$)"))

  // ---- language ID ----

  /** Tiny distinctive stopword profiles; a production deployment loads
    * larger per-language n-gram tables through the same scoring shape.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "es" -> Seq("el", "los", "las", "es", "una", "en", "que", "por", "con", "para"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour", "que", "pas"))

  /** Stopword-hit counts per language + argmax prediction (ties go to
    * the alphabetically first language — deterministic).
    */
  def langId(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val hitCols = LangProfiles.map { case (lang, words) =>
      size(filter(toks, t => t.isInCollection(words))).cast("long").as(s"${lang}_hits")
    }
    val scored = docs.select(col(idCol) +: hitCols: _*)
    val m = greatest(LangProfiles.map(p => col(s"${p._1}_hits")): _*)
    val pred = LangProfiles.foldLeft(lit(null).cast("string")) { case (acc, (lang, _)) =>
      when(acc.isNotNull, acc).otherwise(when(col(s"${lang}_hits") === m, lit(lang)))
    }
    scored.select(
      (col(idCol) +: LangProfiles.map(p => col(s"${p._1}_hits"))) :+ pred.as("pred_lang"): _*)
  }

  /** DuckDB oracle for [[langId]]. */
  def langIdOracleSql(table: String, textCol: String, idCol: String): String = {
    def hitsSql(words: Seq[String]): String =
      s"len(list_filter(string_split_regex(trim($textCol), '\\s+'), x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"
    val cols = LangProfiles.map { case (l, ws) => s"CAST(${hitsSql(ws)} AS BIGINT) AS ${l}_hits" }
    val m = s"greatest(${LangProfiles.map(p => s"${p._1}_hits").mkString(",")})"
    val pred = LangProfiles.map(p => s"WHEN ${p._1}_hits = $m THEN '${p._1}'").mkString(" ")
    s"""WITH h AS (SELECT $idCol, ${cols.mkString(",\n  ")} FROM $table)
       |SELECT $idCol, ${LangProfiles.map(p => s"${p._1}_hits").mkString(", ")},
       |  CASE $pred END AS pred_lang
       |FROM h""".stripMargin
  }

  // ---- BPE-ish tokenization ----

  /** Word/number/punctuation split — the BPE-pretokenizer shape (runs
    * of letters, runs of digits, single other non-space chars).
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokenStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = regexp_extract_all(col(textCol), lit(BpePattern), lit(0))
    docs.select(
      col(idCol),
      size(toks).cast("long").as("n_bpe_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_bpe_tokens"))
  }

  def bpeOracleSql(table: String, textCol: String, idCol: String): String =
    s"""SELECT $idCol,
       | CAST(len(regexp_extract_all($textCol, '$BpePattern')) AS BIGINT) AS n_bpe_tokens,
       | CAST(len(list_distinct(regexp_extract_all($textCol, '$BpePattern'))) AS BIGINT) AS n_distinct_bpe_tokens
       |FROM $table""".stripMargin

  // ---- SimHash ----

  val SimhashBits = 60 // 15 hex chars of md5 → always positive in a long

  /** 60-bit SimHash over the distinct-token set: bit b is set iff the
    * majority of token hashes have bit b set. Computed as one explode +
    * hash aggregate (60 conditional sums), so each token is hashed
    * exactly once and the aggregation is map-side partial.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tokens = docs.select(col(idCol),
      explode(array_distinct(split(trim(col(textCol)), "\\s+"))).as("tok"))
    val h = tokenHash(col("tok"))
    val sums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    tokens.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until SimhashBits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  def simhashOracleSql(table: String, textCol: String, idCol: String): String = {
    val sums = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
    val bits = (0 until SimhashBits).map(b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
    s"""WITH tok AS (
       |  SELECT $idCol, unnest(list_distinct(string_split_regex(trim($textCol), '\\s+'))) AS tok
       |  FROM $table),
       |h AS (SELECT $idCol, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
       |bits AS (SELECT $idCol, ${sums.mkString(",\n  ")} FROM h GROUP BY $idCol)
       |SELECT $idCol, ${bits.mkString(" + ")} AS simhash FROM bits""".stripMargin
  }

  /** Band keys for a SimHash fingerprint: split the 60 bits into
    * `maxHamming + combine` blocks (the last block absorbs any
    * remainder bits) and emit one key per `combine`-subset of blocks,
    * each key the concatenation of its blocks' values.
    *
    * Completeness (pigeonhole): ≤ maxHamming flipped bits dirty at most
    * maxHamming blocks, leaving ≥ combine clean blocks — so at least
    * one subset is clean on both sides and the pair shares that band's
    * key exactly. Spec'd as a property test in `TextAnalysisSpec`.
    *
    * Key space per band is 2^(combine · blockBits): at the defaults
    * (maxHamming=3, combine=2 → 5 blocks × 12 bits, C(5,2)=10 bands of
    * 24-bit keys) that is ~16.7M buckets/band — expected bucket
    * occupancy stays O(N/2²⁴), vs the 32k-bucket cap of single-block
    * banding, which went quadratic at ~10⁸ docs. Raising `combine`
    * (e.g. 3 → 6 blocks, 20 bands, 30-bit keys) trades more bands for
    * another 64× key space at corpus scale.
    */
  def simhashBandKeys(fp: Column, maxHamming: Int, combine: Int): Column =
    array(simhashBandKeyExprs(fp, maxHamming, combine): _*)

  /** The band keys of [[simhashBandKeys]] as one column PER band —
    * the per-index form the folded pair engine needs (its
    * first-shared-band dedup recomputes individual keys locally).
    */
  private[ext] def simhashBandKeyExprs(
      fp: Column, maxHamming: Int, combine: Int): Seq[Column] = {
    require(combine >= 1, "combine must be >= 1")
    require(maxHamming >= 0, "maxHamming must be >= 0")
    val blocks = maxHamming + combine
    require(blocks <= SimhashBits, s"need $blocks blocks of >= 1 bit from $SimhashBits bits")
    val blockBits = SimhashBits / blocks
    // Block j: [j*blockBits, ...); the last block takes the remainder so
    // every fingerprint bit lands in exactly one block.
    def width(j: Int): Int =
      if (j == blocks - 1) SimhashBits - (blocks - 1) * blockBits else blockBits
    def block(j: Int): Column =
      shiftright(fp, j * blockBits).bitwiseAND((1L << width(j)) - 1)
    val combos = (0 until blocks).combinations(combine).toSeq
    combos.map(c =>
      c.foldLeft(lit(0L)) { (acc, j) =>
        shiftleft(acc, width(j)).bitwiseOR(block(j))
      })
  }

  /** SimHash near-dup candidate pairs from precomputed fingerprints
    * (column `simhash`). Banded by [[simhashBandKeys]]: the bucket
    * self-join is COMPLETE for the given `maxHamming` and never an
    * all-pairs scan; only (band, key, id, fingerprint) tuples shuffle —
    * never text.
    *
    * Hot-bucket safety (the [[ImageHash.nearDup]] design, same two skew
    * amplifiers): identical fingerprints — every exact-duplicate text,
    * and token-set near-identicals, a large fraction of any web corpus
    * when no exact dedup ran upstream — collapse to one representative
    * BEFORE banding, so an m-member cluster meets the candidate join
    * once instead of m² times; its hamming-0 pairs come from a
    * per-task-bounded tiled self-join on the full fingerprint, and
    * cross-cluster matches expand arithmetically AFTER the Hamming
    * filter. Band buckets above `bucketCap` representatives chunk-split
    * into id-ordered cells. Emitted pair set identical to the
    * uncollapsed join (spec-asserted on a planted hot cluster).
    *
    * r17: both lanes (the hamming-0 member tiling and the banded rep
    * candidates) fold over ONE chunk window + ONE cell join —
    * [[FuzzyJoin.hammingPairs]]; the pair set is unchanged.
    */
  def simhashPairsFromFingerprints(
      fps: DataFrame, idCol: String,
      maxHamming: Int = 3, combine: Int = 2, bucketCap: Int = 4096): DataFrame = {
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    // One materialized exchange on the fingerprint: the group collapse,
    // the lane fold and the membership join all consume fp
    // partitioning, so the (expensive) upstream fingerprint computation
    // runs once (ReuseExchange), not once per branch.
    val members = fps.select(col(idCol).as("id"), col("simhash").as("fp"))
      .repartition(col("fp"))
    val groups = members.groupBy(col("fp")).agg(min(col("id")).as("rep"))
    FuzzyJoin.hammingPairs(members, groups,
      fp => simhashBandKeyExprs(fp, maxHamming, combine),
      maxHamming, bucketCap)
  }

  /** SimHash near-dup candidates: pairs within `maxHamming` bits, end
    * to end from text. SimHash is a candidate stage; feed survivors to
    * exact Jaccard ([[NearDup]]) for confirmation.
    */
  def simhashPairs(
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, combine: Int = 2): DataFrame =
    simhashPairsFromFingerprints(
      simhash(docs, textCol, idCol), idCol, maxHamming, combine)

  def simhashPairsOracleSql(
      table: String, textCol: String, idCol: String, maxHamming: Int = 3): String =
    s"""WITH sh AS (${simhashOracleSql(table, textCol, idCol)})
       |SELECT a.$idCol AS id_a, b.$idCol AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.$idCol < b.$idCol
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin

  // ---- deterministic sampling ----

  /** Hash-based deterministic sampling: keep rows whose id-hash bucket
    * (md5-derived, 0-99) lies in [lo, hi). Unlike rand()-based
    * sampling this is reproducible across runs/engines, composable —
    * [0,80)/[80,90)/[90,100) give disjoint train/val/test splits — and
    * stable under repartitioning: the sampling primitive a
    * training-data pipeline needs for mixes and ablations.
    */
  def deterministicSample(docs: DataFrame, idCol: String, lo: Int, hi: Int): DataFrame = {
    val bucket = pmod(tokenHash(col(idCol).cast("string")), lit(100L))
    docs.filter(bucket >= lo && bucket < hi)
  }

  /** Prefix convenience: the first `pct` buckets. */
  def deterministicSample(docs: DataFrame, idCol: String, pct: Int): DataFrame =
    deterministicSample(docs, idCol, 0, pct)

  def sampleOracleSql(table: String, idCol: String, lo: Int, hi: Int): String =
    s"""SELECT * FROM $table
       |WHERE ('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 15))::BIGINT % 100 >= $lo
       |  AND ('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 15))::BIGINT % 100 < $hi""".stripMargin

  def sampleOracleSql(table: String, idCol: String, pct: Int): String =
    sampleOracleSql(table, idCol, 0, pct)

  /** Stratified deterministic sampling: each stratum keeps its own
    * id-hash bucket prefix [0, pct), so per-stratum rates compose into
    * a training-data MIX (e.g. en 50%, de 20%, fr 10%) that is
    * reproducible, repartition-stable, and — because every stratum
    * samples from the same bucket function — consistent with
    * [[deterministicSample]] splits: a document in the 20% global
    * sample is in every stratum sample whose rate ≥ 20%.
    *
    * The rates ride a broadcast join (scales to arbitrarily many
    * strata, unlike a literal when-chain); unlisted strata fall back to
    * `defaultPct`.
    */
  def stratifiedSample(
      docs: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    require(rates.values.forall(p => p >= 0 && p <= 100) &&
      defaultPct >= 0 && defaultPct <= 100, "rates are percents in [0,100]")
    val s = docs.sparkSession
    import s.implicits._
    val ratesDf = broadcast(rates.toSeq.toDF(stratumCol, "__pct"))
    val bucket = pmod(tokenHash(col(idCol).cast("string")), lit(100L))
    docs.join(ratesDf, Seq(stratumCol), "left")
      .filter(bucket < coalesce(col("__pct"), lit(defaultPct)))
      .drop("__pct")
      .select(docs.columns.map(col): _*) // original column order
  }

  def stratifiedOracleSql(
      table: String, idCol: String, stratumCol: String,
      rates: Map[String, Int], defaultPct: Int = 0): String = {
    val cases = rates.toSeq.sortBy(_._1)
      .map { case (k, p) => s"WHEN '$k' THEN $p" }.mkString(" ")
    s"""SELECT * FROM $table
       |WHERE ('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 15))::BIGINT % 100
       |  < (CASE $stratumCol $cases ELSE $defaultPct END)""".stripMargin
  }

  // ---- rolling (Rabin-Karp) fingerprint ----

  val RollP = 1000000007L // prime modulus keeps DuckDB's strict BIGINT in range
  val RollB = 31L

  /** Order-sensitive polynomial fingerprint over the token stream:
    * fp = Σ h(tokᵢ)·B^(n-1-i) mod P. Unlike the set-based md5
    * fingerprint, token order matters — reordered documents get
    * different fingerprints.
    */
  def rollingFingerprint(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val hs = transform(toks, t => pmod(tokenHash(t), lit(RollP)))
    docs.select(col(idCol),
      aggregate(hs, lit(0L), (acc, h) => pmod(acc * lit(RollB) + h, lit(RollP)))
        .as("rolling_fp"))
  }

  def rollingOracleSql(table: String, textCol: String, idCol: String): String =
    s"""SELECT $idCol,
       | list_reduce(
       |   list_prepend(0::BIGINT,
       |     list_transform(string_split_regex(trim($textCol), '\\s+'),
       |       t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $RollP)),
       |   (acc, h) -> (acc * $RollB + h) % $RollP) AS rolling_fp
       |FROM $table""".stripMargin

  // ---- repetition filter (Gopher-style) ----

  /** Per-document repetition scores — the Gopher/C4 repetition family:
    * duplicate-bigram fraction (map-only, from the shared shingle
    * stream) and top-word fraction (most frequent word / total words),
    * plus the gate flag. The word count is a real distributed
    * aggregate — explode → partial-agg — so shuffled volume is the
    * per-doc VOCABULARY (distinct words), not the token stream; per-doc
    * state never materializes a wordcount map in one task's heap, which
    * is what makes this shape safe for billion-token documents where a
    * per-row higher-order fold would go quadratic or OOM.
    *
    * Ratios divide exact integer counts, so both engines produce
    * bit-identical doubles; the flag compares the unrounded values.
    */
  def repetitionScores(docs: DataFrame, idCol: String, textCol: String,
      topWordMax: Double, dupBigramMax: Double): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val bg = NearDup.shingles(col(textCol), 2)
    val bigrams = docs
      .filter(size(toks) >= 2)
      .select(col(idCol),
        (lit(1.0) - size(array_distinct(bg)).cast("double") / size(bg))
          .as("dup_bigram_frac"))
    val topWord = docs
      .select(col(idCol), explode(toks).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("top_word_frac"))
    bigrams.join(topWord, idCol)
      .select(col(idCol),
        round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"),
        round(col("top_word_frac"), 6).as("top_word_frac"),
        (col("top_word_frac") > topWordMax || col("dup_bigram_frac") > dupBigramMax)
          .as("repetitive"))
  }

  def repetitionOracleSql(table: String, idCol: String, textCol: String,
      topWordMax: Double, dupBigramMax: Double): String =
    s"""WITH tok AS (
       |  SELECT $idCol, string_split_regex(trim($textCol), '\\s+') AS ws FROM $table),
       |bg AS (
       |  SELECT $idCol,
       |    1.0 - len(list_distinct([ws[i] || ' ' || ws[i+1]
       |      FOR i IN range(1, len(ws))])) * 1.0 / (len(ws) - 1) AS dup_bigram_frac
       |  FROM tok WHERE len(ws) >= 2),
       |wrd AS (SELECT $idCol, unnest(ws) AS w FROM tok),
       |wc AS (SELECT $idCol, w, count(*) AS c FROM wrd GROUP BY 1, 2),
       |tw AS (SELECT $idCol, CAST(max(c) AS DOUBLE) / sum(c) AS top_word_frac
       |       FROM wc GROUP BY 1)
       |SELECT bg.$idCol,
       |  round(dup_bigram_frac, 6) AS dup_bigram_frac,
       |  round(top_word_frac, 6) AS top_word_frac,
       |  (top_word_frac > $topWordMax OR dup_bigram_frac > $dupBigramMax) AS repetitive
       |FROM bg JOIN tw ON bg.$idCol = tw.$idCol""".stripMargin

  // ---- span-level dedup (C4-style) ----

  /** Corpus-level duplicated-span statistics — the measurement behind
    * C4's "remove any three-sentence span occurring more than once"
    * pass, re-expressed for this corpus (no sentence boundaries) as
    * consecutive non-overlapping `spanLen`-token blocks. A span
    * INSTANCE is duplicated iff its span text occurs ≥ 2 times across
    * the whole corpus (including twice within one document).
    *
    * Scale shape: spans are hashed to 64 bits map-side (one xxhash64
    * per span — raw span text never shuffles, same trade as
    * [[NearDup]]); the global span-frequency table is a two-phase hash
    * aggregate whose exchange is bounded by distinct spans per map
    * partition; the join back to span instances shuffles the hashed
    * span stream (token stream / spanLen) once — the irreducible cost
    * of a corpus-global dedup decision — and the final per-doc rollup
    * is map-side-combinable again.
    */
  def spanDedupStats(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    // Same barrier as [[bigramFit]]: the lambda must reference the
    // token array as an ATTRIBUTE — slice over the raw split expression
    // re-runs the tokenizer once per span.
    val toks = split(trim(col(textCol)), "\\s+")
    val spanHashes = transform(
      sequence(lit(0), (size(col("__toks")) / spanLen).cast("int") - 1),
      i => xxhash64(concat_ws(" ",
        slice(col("__toks"), i * spanLen + 1, lit(spanLen)))))
    val inst = docs
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= spanLen)
      .select(col(idCol), explode(spanHashes).as("h"))
    val counts = inst.groupBy(col("h")).agg(count(lit(1)).as("c"))
    inst.join(counts, "h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6).as("dup_frac"))
  }

  /** DuckDB twin of [[spanDedupStats]] — intersects span STRINGS
    * directly (the Spark side's xxhash64 stands in for string equality
    * exactly as in the Jaccard family).
    */
  def spanDedupOracleSql(table: String, idCol: String, textCol: String,
      spanLen: Int): String =
    s"""WITH tok AS (
       |  SELECT $idCol, string_split_regex(trim($textCol), '\\s+') AS ws FROM $table),
       |spans AS (
       |  SELECT $idCol,
       |    unnest([array_to_string(ws[(i*$spanLen)+1 : (i*$spanLen)+$spanLen], ' ')
       |            FOR i IN range(0, len(ws)//$spanLen)]) AS span
       |  FROM tok WHERE len(ws) >= $spanLen),
       |cnt AS (SELECT span, count(*) AS c FROM spans GROUP BY span)
       |SELECT $idCol, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_frac
       |FROM spans JOIN cnt USING (span)
       |GROUP BY $idCol""".stripMargin

  // ---- TF-IDF ----

  /** Top-`k` characteristic terms per document by TF-IDF. The IDF is
    * the smoothed RATIO (N+1)/(df+1) rather than its logarithm: the
    * ranking is identical for any single-document ordering (log is
    * monotone) and the score stays a ratio of exact integers, so both
    * engines compute bit-identical doubles — a cross-engine `ln`
    * differs in the last ulp between libm implementations, which a
    * hash-compared oracle cannot tolerate.
    *
    * Scale shape: term frequencies are a two-phase hash aggregate over
    * the exploded token stream; document frequencies aggregate the
    * (term, doc) pairs already grouped — both exchanges are bounded by
    * per-partition distinct terms, not token occurrences. The df
    * attach is a vocabulary-keyed join (AQE broadcasts it when small)
    * and the final top-k is one window over each document's DISTINCT
    * terms.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val n = docs.count() // corpus size: one cheap count-star job, scalar into the plan
    val tf = docs
      .select(col(idCol), explode(toks).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df via aggregate + join, NOT the count-only window idiom
    // novelty_score uses. At fixture scale the two measure the same
    // (~1.2 s warm at sf0.1), but the shapes diverge at scale: term
    // vocabularies are small relative to the (doc, term) frame, so
    // the df side broadcasts and the big frame never re-exchanges,
    // while a window over the term key sorts every (doc, term) row
    // (WindowExec sorts by its partition key even for count-only
    // frames). The window idiom wins only when the key space is
    // corpus-sized (shingle hashes), where the df frame cannot
    // broadcast and the join would shuffle both sides anyway.
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score",
        col("tf").cast("double") * lit((n + 1).toDouble) / (col("df") + 1).cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"),
        round(col("score"), 6).as("score"))
  }

  /** DuckDB twin of [[tfidfTopTerms]]. */
  def tfidfOracleSql(table: String, idCol: String, textCol: String, k: Int): String =
    s"""WITH tk AS (
       |  SELECT $idCol, unnest(string_split_regex(trim($textCol), '\\s+')) AS term
       |  FROM $table),
       |tf AS (
       |  SELECT $idCol, term, count(*) AS tf FROM tk
       |  WHERE len(term) > 0 GROUP BY $idCol, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n FROM $table),
       |scored AS (
       |  SELECT tf.$idCol, tf.term, tf.tf,
       |    tf.tf::DOUBLE * (n.n + 1)::DOUBLE / (df.df + 1)::DOUBLE AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (
       |  SELECT $idCol, term, tf, score,
       |    row_number() OVER (PARTITION BY $idCol
       |      ORDER BY score DESC, term ASC) AS rank
       |  FROM scored)
       |SELECT $idCol, CAST(rank AS INT) AS rank, term, tf,
       |  round(score, 6) AS score
       |FROM ranked WHERE rank <= $k""".stripMargin

  // ---- PII redaction ----

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** Redact emails and (toy) phone numbers from a text column and count
    * what was removed — the PII-scrub pass every published training
    * corpus runs. Map-only: two RE2-class regex passes per row inside
    * whole-stage codegen; the regex set is a config surface, these two
    * are the deterministic fixture pair.
    */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]").as("redacted"),
      (regexp_count(col(textCol), lit(EmailRe)) +
        regexp_count(col(textCol), lit(PhoneRe))).cast("long").as("n_pii"))

  /** DuckDB twin of [[redactPii]] over an expression `textExpr`. */
  def redactOracleSql(table: String, idCol: String, textExpr: String): String =
    s"""SELECT $idCol,
       | regexp_replace(regexp_replace($textExpr,
       |   '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g') AS redacted,
       | CAST(len(regexp_extract_all($textExpr, '$EmailRe'))
       |   + len(regexp_extract_all($textExpr, '$PhoneRe')) AS BIGINT) AS n_pii
       |FROM $table""".stripMargin

  // ---- bigram corpus-fit scoring ----

  /** Corpus-fit score from a bigram "language model" — the cheap
    * KenLM-style quality signal of a pretraining pipeline: documents
    * whose token transitions are common corpus-wide score high; word
    * salad and boilerplate-with-rare-joins score low. Per document:
    * the number of bigrams, their total corpus frequency mass, and
    * fit = mass / n_bigrams (average corpus frequency of the doc's
    * transitions).
    *
    * Exactness: both aggregates are INTEGER sums (counts), so the one
    * division at the end is the only float op — deterministic in any
    * engine, no summation-order sensitivity. Bigrams travel as
    * xxhash64 keys; the oracle joins the strings themselves (hash
    * equality stands in for string equality, the [[spanDedupStats]] /
    * Jaccard-family convention).
    *
    * Scale: one exploded bigram-hash stream feeds BOTH the frequency
    * aggregate and the per-doc join, hash-partitioned on the same key
    * (AQE reuses the exchange); the count table and the join carry
    * fixed-width (hash, count) pairs, never text. Map-side partial
    * aggs on both groupBys.
    */
  def bigramFit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Materialize the token array in its own Project before the lambda
    // references it: element_at over an expression (not an attribute)
    // re-evaluates it PER ELEMENT — the split would run O(n²) times per
    // document (measured 12 s at sf0.1; 1.6 s with the barrier). Multi-
    // reference keeps CollapseProject from inlining it back.
    val toks = split(trim(col(textCol)), "\\s+")
    val bgs = transform(sequence(lit(0), size(col("__toks")) - 2),
      i => xxhash64(concat_ws(" ",
        element_at(col("__toks"), i + 1), element_at(col("__toks"), i + 2))))
    val inst = docs
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(bgs).as("h"))
    val counts = inst.groupBy(col("h")).agg(count(lit(1)).as("n"))
    inst.join(counts, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("n")).as("bigram_mass"))
      .select(col(idCol), col("n_bigrams"), col("bigram_mass"),
        round(col("bigram_mass").cast("double") / col("n_bigrams"), 6).as("fit"))
  }

  /** DuckDB twin of [[bigramFit]] — joins bigram STRINGS directly. */
  def bigramFitOracleSql(table: String, idCol: String, textCol: String): String =
    s"""WITH tok AS (SELECT $idCol,
       |    string_split_regex(trim($textCol), '\\s+') AS ws FROM $table),
       |bg AS (SELECT $idCol,
       |    unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS b
       |  FROM tok WHERE len(ws) >= 2),
       |c AS (SELECT b, count(*) AS n FROM bg GROUP BY 1)
       |SELECT $idCol, count(*) AS n_bigrams,
       |  CAST(sum(n) AS BIGINT) AS bigram_mass,
       |  round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS fit
       |FROM bg JOIN c USING (b) GROUP BY 1""".stripMargin

  // ---- temperature-flattened corpus mixing ----

  /** Temperature-flattened resampling (T = 2): per-`keyCol` keep rates
    * chosen so the sampled mass per key is proportional to the SQUARE
    * ROOT of the key's raw mass — the standard flattening move for a
    * skewed source/language mixture when only downsampling is allowed
    * (no upsampling by filtering). A document survives iff
    *
    *   bucket(id)² · n_key  <  100² · n_min
    *
    * with bucket the md5-derived [[deterministicSample]] bucket in
    * [0,100), n_key its key's document count and n_min the smallest
    * key's. The rarest key keeps everything; a key with r× its mass
    * keeps ≈ 100/√r percent, so kept mass ∝ √n_key throughout. The
    * boundary comparison is pure 64-bit integer arithmetic — no float
    * `pow`/`sqrt` whose last-ulp rounding could flip a keep decision
    * between engines — so the result is engine-exact and composes with
    * the other bucket samples (a kept doc is a [[deterministicSample]]
    * doc of its key's effective rate).
    *
    * Scale: per-key counts are one map-side-combined aggregate over the
    * mixture key (cardinality = #languages/#sources — tiny); n_min is
    * a window over THAT K-row table; the rate table broadcasts and
    * the gate is map-only. The corpus itself never shuffles.
    *
    * Rows with a NULL mixture key are dropped (inner join on the key):
    * an unlabeled document has no place in a keyed mixture — route
    * nulls through a sentinel key upstream if they should participate.
    */
  def temperatureMix(docs: DataFrame, idCol: String, keyCol: String): DataFrame =
    temperatureMixWithCounts(docs, idCol, keyCol,
      docs.groupBy(col(keyCol)).agg(count(lit(1)).as("__n")))

  /** [[temperatureMix]] with the per-key count table supplied by the
    * caller instead of derived from `docs` — the incrementally-
    * maintained-counts form ([[graft.stream.StreamCuration]] folds the
    * counts per micro-batch and passes them here, so the keep rule is
    * shared code, not a re-implementation). `counts` must have columns
    * (keyCol, __n); when it equals docs.groupBy(keyCol).count the
    * result is [[temperatureMix]] exactly.
    *
    * `counts` is read ONCE: n_min is `min(__n) over ()` on the count
    * table itself, not a second aggregate joined back, so the plan
    * builds the table a single time. That window is single-partition,
    * but the table has one row per key, so it sorts strata, not
    * documents.
    */
  def temperatureMixWithCounts(docs: DataFrame, idCol: String,
      keyCol: String, counts: DataFrame): DataFrame = {
    val rates = counts.withColumn("__nmin", min(col("__n")).over())
    val bucket = pmod(tokenHash(col(idCol).cast("string")), lit(100L))
    docs.join(broadcast(rates), Seq(keyCol))
      .filter(bucket * bucket * col("__n") < lit(10000L) * col("__nmin"))
      .select(docs.columns.map(col): _*)
  }

  /** DuckDB twin of [[temperatureMix]]; `cols` pins the output schema. */
  def temperatureOracleSql(
      table: String, idCol: String, keyCol: String, cols: Seq[String]): String = {
    val bkt = s"(('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 15))::BIGINT % 100)"
    s"""WITH c AS (SELECT $keyCol AS k, count(*) AS n FROM $table GROUP BY 1)
       |SELECT ${cols.map("d." + _).mkString(", ")}
       |FROM $table d JOIN c ON d.$keyCol = c.k
       |WHERE $bkt * $bkt * c.n < 10000 * (SELECT min(n) FROM c)""".stripMargin
  }

  /** Exact-SIZE-k uniform sample: the k rows with the smallest
    * md5-derived id hash, ties broken by id. The bucket samples fix a
    * RATE; this fixes a COUNT — the eval-set / human-spot-check
    * primitive ("exactly 1000 docs, reproducibly"). Because the hash
    * order is a global property of the ids, the sample is stable under
    * repartitioning and ingestion order, and bottom-k(k₁) ⊆
    * bottom-k(k₂) for k₁ ≤ k₂ — samples nest.
    *
    * Scale: plans as TakeOrderedAndProject — every partition keeps a
    * k-row heap and the driver merges #partitions·k rows; the corpus is
    * never globally sorted and never shuffled.
    */
  def bottomKSample(docs: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    docs.withColumn("__h", tokenHash(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol))
      .limit(k)
      .select(docs.columns.map(col): _*)
  }

  /** DuckDB twin of [[bottomKSample]]. */
  def bottomKOracleSql(
      table: String, idCol: String, k: Int, cols: Seq[String]): String =
    s"""SELECT ${cols.mkString(", ")} FROM $table
       |ORDER BY ('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 15))::BIGINT,
       |  $idCol LIMIT $k""".stripMargin

  // ---- context-window chunking ----

  /** Context-window chunking: each document's whitespace token stream
    * is cut into windows of `chunkTokens` tokens whose starts advance
    * by `chunkTokens - overlap` — the LLM training-sequence / RAG
    * passage primitive. Windows are emitted while their start lies
    * inside the stream's first `n - overlap` tokens (so a final
    * fragment shorter than the overlap folds into its predecessor
    * rather than duplicating it); a document of ≤ `chunkTokens` tokens
    * yields exactly one window. Each row carries the window's md5, so
    * cross-document chunk dedup is exact dedup on `chunk_hash`
    * downstream ([[graft.queries.NorthStar.dedupExact]] shape).
    *
    * Scale: strictly map-side — tokenize, explode an integer sequence,
    * slice per window. No exchange anywhere; output mass is
    * ~n_tokens/stride fixed-width rows per doc, never the text.
    */
  def docChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got ($chunkTokens, $overlap)")
    val stride = chunkTokens - overlap
    val toks = split(trim(col(textCol)), "\\s+")
    val nch = when(size(toks) <= chunkTokens, lit(1)).otherwise(
      floor((size(toks) - lit(chunkTokens) + lit(stride - 1)).cast("double") /
        lit(stride)).cast("int") + 1)
    val start = col("chunk_id") * stride
    val clen = least(lit(chunkTokens), col("__n") - start)
    docs
      .select(col(idCol), toks.as("__toks"), size(toks).as("__n"), nch.as("__nch"))
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), col("__nch") - 1)).as("chunk_id"))
      .select(
        col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        start.cast("long").as("chunk_start"),
        clen.cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("__toks"), start + 1, clen)).cast("binary"))
          .as("chunk_hash"))
  }

  /** DuckDB twin of [[docChunks]]. */
  def chunksOracleSql(table: String, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): String = {
    val stride = chunkTokens - overlap
    s"""WITH tk AS (SELECT $idCol,
       |    regexp_split_to_array(trim($textCol), '\\s+') AS toks FROM $table),
       |n AS (SELECT $idCol, toks, len(toks) AS n FROM tk),
       |g AS (SELECT $idCol, toks, n,
       |    CASE WHEN n <= $chunkTokens THEN 1
       |      ELSE CAST(floor((n - $chunkTokens + ${stride - 1}) * 1.0 / $stride)
       |        AS BIGINT) + 1 END AS nch FROM n),
       |e AS (SELECT $idCol, toks, n, unnest(range(nch)) AS chunk_id FROM g)
       |SELECT $idCol, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_id * $stride AS BIGINT) AS chunk_start,
       |  CAST(least($chunkTokens, n - chunk_id * $stride) AS BIGINT)
       |    AS n_chunk_tokens,
       |  md5(array_to_string(list_slice(toks, chunk_id * $stride + 1,
       |    chunk_id * $stride + least($chunkTokens, n - chunk_id * $stride)), ' '))
       |    AS chunk_hash
       |FROM e""".stripMargin
  }
}
