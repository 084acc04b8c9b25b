package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** BPE tokenizer training as oracle-gated queries: the merge table
  * ([[graft.ext.BpeTrain.learnMerges]]) and the trained segmentation
  * of the whole vocabulary, both replayed round-for-round by DuckDB —
  * the oracle SQL unrolls every merge round (pair count → argmax with
  * the same (count desc, lhs, rhs) tie-break → literal-replace
  * application), the same unrolled-iteration discipline as the
  * pagerank and trained-IVF oracles. Training is landed once per
  * fixture dir and both queries read the landed artifacts.
  */
object Tokenizer {

  private[queries] val NumMerges = 20

  private def landBpe(s: SparkSession, dir: String): String =
    graft.Tables.land("bpe", dir) { base =>
      val (merges, vocab) = graft.ext.BpeTrain.learnMerges(
        s, t(s, dir, "documents"), "text", NumMerges)
      graft.ext.BpeTrain.mergeTable(s, merges)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/merges")
      vocab
        .withColumn("n_pieces",
          size(array_remove(split(col("enc"), "\\|"), "")).cast("long"))
        .write.mode("overwrite").parquet(s"$base/vocab")
    }

  /** The learned merge table: rank, pair, merged symbol, and the pair
    * frequency that won the round.
    */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${landBpe(s, dir)}/merges")

  /** The trained tokenizer applied to every distinct word — the
    * word → pieces lookup table a production tokenizer materializes
    * (the final state of the training loop).
    */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${landBpe(s, dir)}/vocab")

  // ---- oracle generation: the training loop unrolled in SQL ----

  /** Shared CTE chain: r0 = word frequencies with per-symbol-wrapped
    * encoding; then per round i: pair counts (pc_i), the argmax with
    * deterministic tie-break (p_i), and the applied merge (r_i).
    * MATERIALIZED keeps DuckDB's work linear in rounds (each CTE is
    * referenced more than once).
    */
  private def bpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH r0 AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n,
      |    regexp_replace(word, '(.)', '|\1|', 'g') AS enc
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      |        FROM documents)
      |  WHERE length(word) > 0 AND word NOT LIKE '%|%'
      |  GROUP BY word)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
        |pc$i AS MATERIALIZED (
        |  SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |    SELECT ss[j] AS a, ss[j + 1] AS b, n FROM (
        |      SELECT n, ss, unnest(range(1, len(ss))) AS j FROM (
        |        SELECT n, list_filter(string_split(enc, '|'), x -> x <> '') AS ss
        |        FROM r${i - 1})))
        |  GROUP BY a, b),
        |p$i AS MATERIALIZED (SELECT a, b, cnt FROM pc$i ORDER BY cnt DESC, a, b LIMIT 1),
        |r$i AS MATERIALIZED (SELECT word, n,
        |  replace(enc, '|' || (SELECT a FROM p$i) || '||' || (SELECT b FROM p$i) || '|',
        |    '|' || (SELECT a FROM p$i) || (SELECT b FROM p$i) || '|') AS enc
        |  FROM r${i - 1})""".stripMargin
    }
    sb.toString
  }

  private def bpeMergesSql(rounds: Int): String =
    bpeCtes(rounds) + "\n" +
      (1 to rounds).map { i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, " +
          s"a || b AS merged, cnt AS pair_n FROM p$i"
      }.mkString("", "\nUNION ALL\n", "")

  private def bpeVocabSql(rounds: Int): String =
    bpeCtes(rounds) + s"""
      |SELECT word, n, enc,
      |  CAST(len(list_filter(string_split(enc, '|'), x -> x <> '')) AS BIGINT)
      |    AS n_pieces
      |FROM r$rounds""".stripMargin

  /** The trained tokenizer applied to the CORPUS: every document's
    * token stream looked up through the landed word → pieces table
    * (broadcast — the vocabulary is corpus-distinct words, orders of
    * magnitude smaller than the token stream), reduced to per-document
    * word and piece counts. This is the production shape: train once,
    * tokenize everywhere as a map-side broadcast join — the token
    * stream itself never shuffles.
    */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val vocab = s.read.parquet(s"${landBpe(s, dir)}/vocab")
      .select(col("word"), col("n_pieces"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0 && !col("word").contains("|"))
      .join(broadcast(vocab), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"))
  }

  private def bpeTokenizeSql(rounds: Int): String =
    bpeCtes(rounds) + s""",
      |v AS (SELECT word,
      |  CAST(len(list_filter(string_split(enc, '|'), x -> x <> '')) AS BIGINT)
      |    AS n_pieces
      |  FROM r$rounds),
      |wd AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      |  FROM documents)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces
      |FROM wd JOIN v USING (word)
      |WHERE length(word) > 0 AND word NOT LIKE '%|%'
      |GROUP BY doc_id""".stripMargin

  /** Per-source tokenizer fertility — pieces per word under the
    * trained BPE, the standard tokenizer-evaluation rollup (a source
    * whose fertility is far above the corpus mean is paying more
    * context window per word; multilingual pipelines watch this per
    * language/source before fixing a vocabulary). Rides the landed
    * vocab exactly like [[bpeTokenize]]: broadcast word→pieces lookup,
    * token stream never shuffles, one tiny per-source aggregate.
    */
  def tokFertility(s: SparkSession, dir: String): DataFrame =
    bpeTokenize(s, dir)
      .join(t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"),
        round(sum(col("n_pieces")).cast("double") / sum(col("n_words")), 6)
          .as("fertility"))

  private def tokFertilitySql(rounds: Int): String =
    bpeCtes(rounds) + s""",
      |v AS (SELECT word,
      |  CAST(len(list_filter(string_split(enc, '|'), x -> x <> '')) AS BIGINT)
      |    AS n_pieces
      |  FROM r$rounds),
      |wd AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      |  FROM documents),
      |per AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(n_pieces) AS BIGINT) AS n_pieces
      |  FROM wd JOIN v USING (word)
      |  WHERE length(word) > 0 AND word NOT LIKE '%|%'
      |  GROUP BY doc_id)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS n_words,
      |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
      |  round(CAST(sum(n_pieces) AS DOUBLE) / CAST(sum(n_words) AS BIGINT), 6)
      |    AS fertility
      |FROM per JOIN documents d USING (doc_id)
      |GROUP BY d.source""".stripMargin

  /** Unigram-LM tokenizer family ([[graft.ext.UnigramLm]]): candidate
    * inventory with integer bit costs, Viterbi corpus application, and
    * one hard-EM refit round — all three oracle-replayed (the oracle
    * enumerates every segmentation by recursive CTE and takes the same
    * (cost, path) argmin the engine's DP computes).
    */
  def unigramVocab(s: SparkSession, dir: String): DataFrame =
    graft.ext.UnigramLm.pieceInventory(t(s, dir, "documents"), "text")

  def unigramTokenize(s: SparkSession, dir: String): DataFrame =
    graft.ext.UnigramLm.tokenize(t(s, dir, "documents"), "doc_id", "text")

  def unigramRefit(s: SparkSession, dir: String): DataFrame =
    graft.ext.UnigramLm.refit(t(s, dir, "documents"), "text")

  private val PackBudget = 256L

  /** Best-fit sequence packing ([[graft.ext.SeqPack.ffdPack]]): whole
    * documents bin-packed into fixed-256-token training sequences —
    * class-decomposed FFD with the next-fit-decreasing residual fold,
    * every assignment (including the fold) replayed by the oracle's
    * recursive CTE.
    */
  def seqPack(s: SparkSession, dir: String): DataFrame =
    graft.ext.SeqPack.ffdPack(
      t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", PackBudget)

  private def seqPackSql(budget: Long): String =
    s"""WITH RECURSIVE docs AS (
      |  SELECT doc_id AS id,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS len
      |  FROM documents),
      |ranked AS (
      |  SELECT id, len, greatest($budget // len, 1) AS k,
      |    CAST(row_number() OVER (PARTITION BY len ORDER BY id) - 1 AS BIGINT) AS rn
      |  FROM docs),
      |a AS (SELECT id, len, k, rn // k AS local_seq FROM ranked),
      |s AS (SELECT len, local_seq, max(k) AS k, count(*) AS n,
      |    CAST(count(*) * len AS BIGINT) AS toks
      |  FROM a GROUP BY len, local_seq),
      |fullseq AS (SELECT len, local_seq FROM s WHERE n = k),
      |part AS (SELECT len, local_seq, toks,
      |    CAST(row_number() OVER (ORDER BY toks DESC, len DESC) AS BIGINT) AS prn
      |  FROM s WHERE n < k),
      |fold AS (
      |  SELECT prn, len, local_seq, toks AS fill, CAST(0 AS BIGINT) AS bin
      |  FROM part WHERE prn = 1
      |  UNION ALL
      |  SELECT p.prn, p.len, p.local_seq,
      |    CASE WHEN f.fill + p.toks <= $budget THEN f.fill + p.toks ELSE p.toks END,
      |    CASE WHEN f.fill + p.toks <= $budget THEN f.bin ELSE f.bin + 1 END
      |  FROM fold f JOIN part p ON p.prn = f.prn + 1),
      |entries AS (
      |  SELECT CAST(0 AS BIGINT) AS grp, -len AS k1, local_seq AS k2 FROM fullseq
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), bin, CAST(0 AS BIGINT)
      |  FROM (SELECT DISTINCT bin FROM fold)),
      |ids AS (SELECT grp, k1, k2,
      |    CAST(row_number() OVER (ORDER BY grp, k1, k2) - 1 AS BIGINT) AS seq_id
      |  FROM entries),
      |assign AS (
      |  SELECT f2.len, f2.local_seq, i.seq_id FROM fullseq f2
      |    JOIN ids i ON i.grp = 0 AND i.k1 = -f2.len AND i.k2 = f2.local_seq
      |  UNION ALL
      |  SELECT fo.len, fo.local_seq, i.seq_id FROM fold fo
      |    JOIN ids i ON i.grp = 1 AND i.k1 = fo.bin)
      |SELECT a.id AS doc_id, a.len AS n_tokens, asg.seq_id
      |FROM a JOIN assign asg ON asg.len = a.len AND asg.local_seq = a.local_seq"""
      .stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_merges" -> (bpeMerges _),
    "bpe_vocab" -> (bpeVocab _),
    "bpe_tokenize" -> (bpeTokenize _),
    "tok_fertility" -> (tokFertility _),
    "unigram_vocab" -> (unigramVocab _),
    "unigram_tokenize" -> (unigramTokenize _),
    "unigram_refit" -> (unigramRefit _),
    "seq_pack" -> (seqPack _))

  val oracle: Map[String, String] = Map(
    "bpe_merges" -> bpeMergesSql(NumMerges),
    "bpe_vocab" -> bpeVocabSql(NumMerges),
    "bpe_tokenize" -> bpeTokenizeSql(NumMerges),
    "tok_fertility" -> tokFertilitySql(NumMerges),
    "unigram_vocab" ->
      graft.ext.UnigramLm.inventoryOracleSql("documents", "text"),
    "unigram_tokenize" ->
      graft.ext.UnigramLm.tokenizeOracleSql("documents", "doc_id", "text"),
    "unigram_refit" ->
      graft.ext.UnigramLm.refitOracleSql("documents", "text"),
    "seq_pack" -> seqPackSql(PackBudget))
}
