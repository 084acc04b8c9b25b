package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: materialize an N× scale-up of a fixture dir for scaling
  * spot-benches (the sf1 run the driver doesn't ship data for).
  *
  * The copies are SHARD-DISJOINT by construction — ids offset per
  * copy, fuzzy-block name prefixes and shingle tokens tagged with the
  * copy index — so every data-dependent output (dedup components,
  * similarity pairs, fuzzy blocks) grows linearly with the factor and
  * a super-linear wall-time term can only come from the ENGINE plan,
  * which is exactly what the probe exists to catch. Small dims and
  * untouched tables are byte-copied.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1: $factor")
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def copies(df: DataFrame)(tag: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => tag(df, k)).reduce(_ unionAll _)

    // orders + lineitem share ONE order-key offset so the scaled
    // tables stay referentially intact — a join probe must see join
    // work scale with the data, and an RI probe must see zero orphans.
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val okMax = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    copies(li)((df, k) => df.withColumn("l_orderkey", col("l_orderkey") + lit(k * okMax)))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val custMax = cust.agg(max("c_custkey")).head().getLong(0) + 1
    copies(ord) { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * okMax))
        .withColumn("o_custkey", col("o_custkey") + lit(k * custMax))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")

    // documents: ids offset; every NON-STOPWORD token of copy k > 0
    // tagged so shingle/minhash spaces are disjoint across copies.
    // Stopwords stay intact because the quality gate counts them: the
    // r10 fixture tagged every token, which turned the stopword ratio
    // of all copies k > 0 to zero — every gated pipeline (manifest,
    // corpus_mix, quality_filter) passed only copy 0 and its
    // downstream stages stopped scaling with the factor (measured:
    // training_manifest rows identical at sf1 and sf10). Shared
    // stopwords cannot re-link copies: the fixture corpus has at most
    // TWO distinct all-stopword 3-shingle types per document (77
    // occurrences / 5,000 docs; zero docs with >= 3), so the
    // decontam floor (>= 3 distinct shared shingles) is unreachable
    // cross-copy and Jaccard/containment thresholds (>= 0.5) are two
    // orders of magnitude above the achievable overlap.
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docMax = docs.agg(max("doc_id")).head().getLong(0) + 1
    val stopAlt = graft.ext.TextAnalysis.QualityStopwords.mkString("|")
    copies(docs) { (df, k) =>
      val tagged = if (k == 0) df
        else df.withColumn("text",
          regexp_replace(
            regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1x$k")),
            lit(s"(?:(?<=\\s)|^)($stopAlt)x$k(?=\\s|$$)"), lit("$1")))
      tagged
        .withColumn("doc_id", col("doc_id") + lit(k * docMax))
        .withColumn("n_chars", length(col("text")))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: ids offset; copies perturbed so ANN ties don't pile up.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embMax = emb.agg(max("vec_id")).head().getLong(0) + 1
    copies(emb) { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + lit(k * embMax))
        .withColumn("embedding",
          transform(col("embedding"), x => (x + lit(k * 0.001f)).cast("float")))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // customer: keys offset; the copy tag REPLACES the first character
    // (same length!) so the fuzzy-match block key (first 16 chars) is
    // copy-disjoint while keeping the original digit structure — a
    // length-changing prefix would shift which digits land in the key
    // and blow the block sizes up 100x (observed: fuzzy_match went
    // super-linear on exactly that fixture bug).
    copies(cust) { (df, k) =>
      // Lowercase tags: the fixture names start with an uppercase
      // letter, so no copy can collide with copy 0 ('A'+2 would
      // reproduce 'C'ustomer and merge blocks across copies).
      val named = if (k == 0) df
        else df.withColumn("c_name",
          concat(lit(('a' + k).toChar.toString), expr("substring(c_name, 2)")))
      named.withColumn("c_custkey", col("c_custkey") + lit(k * custMax))
    }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    // Small dims and events are byte copies: region/nation/part/
    // supplier are broadcast-sized everywhere, and events references
    // customer copy 0 only (documented: event probes at scale need
    // their own generator).
    for (t <- Seq("region", "nation", "part", "supplier", "events")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"SCALEUP done: $out = $factor x $src")
    spark.stop()
  }
}
