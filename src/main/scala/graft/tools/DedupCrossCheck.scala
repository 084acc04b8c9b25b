package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.{NearDup, SetSimJoin}

/** Scale-tier verification for the three dedup queries whose DuckDB
  * oracles (brute all-pairs / recursive closure) exceed any reasonable
  * budget at sf0.1. Instead of replaying the computation, each check
  * verifies an INDEPENDENT property a correct answer must satisfy:
  *
  *  1. `dedup_survivors` fixed point — near-dup pairs are the edges of
  *     the cluster graph and survivors keep one doc per component, so
  *     re-running pair detection ON the survivors must find ZERO
  *     pairs. (Candidacy is per-pair under banding — signatures only
  *     depend on the two documents — so a pair cannot newly appear on
  *     the subset.)
  *  2. `dedup_incremental` — probing the landed base index with the
  *     increment must equal the from-scratch batch pair set restricted
  *     to (increment, base) pairs: same banding geometry, same verify,
  *     different code path (landed bucketed tables vs in-memory).
  *  3. `jaccard_pairs` — (a) every reported pair re-verifies with RAW
  *     STRING shingle sets (no hashing at all — catches any
  *     hash-collision artifact in the 60-bit path) at the identical
  *     rounded Jaccard; (b) the MinHash-banded pair set at the same
  *     threshold must be a SUBSET (PPJoin claims exact-complete;
  *     banding claims ≥95% recall — a banded pair PPJoin missed would
  *     disprove completeness).
  *
  * Usage: runMain graft.tools.DedupCrossCheck [sfDir]. Prints one
  * CHECK line each + SUMMARY; exit 1 on any failure.
  */
object DedupCrossCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.t(spark, sfDir, "documents")
    var failed = false
    def check(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) failed = true
      println(s"CHECK $name ${if (ok) "PASS" else "FAIL"} $detail")
    }

    // 1. Survivor set is a fixed point of the dedup.
    val survivors = NearDup.dedupSurvivors(docs, "doc_id", "text", 0.5)
    val residual = NearDup.nearDuplicatePairs(survivors, "doc_id", "text", 0.5).count()
    check("survivors_fixed_point", residual == 0,
      s"survivors=${survivors.count()} residual_pairs=$residual")

    // 2. Incremental dedup equals batch restricted to (increment, base).
    val incremental = graft.queries.Registry.queries("dedup_incremental")(spark, sfDir)
      .select(col("new_id"), col("base_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchRestricted = NearDup.nearDuplicatePairs(docs, "doc_id", "text", 0.5)
      .filter((col("id_a") % 10 === 7) =!= (col("id_b") % 10 === 7))
      .select(
        when(col("id_a") % 10 === 7, col("id_a")).otherwise(col("id_b")).as("new_id"),
        when(col("id_a") % 10 === 7, col("id_b")).otherwise(col("id_a")).as("base_id"),
        col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    check("incremental_equals_batch", incremental == batchRestricted,
      s"incremental=${incremental.size} batch_restricted=${batchRestricted.size} " +
        s"only_inc=${(incremental -- batchRestricted).size} " +
        s"only_batch=${(batchRestricted -- incremental).size}")

    // 3a. PPJoin pairs re-verify on RAW string shingles (no hashing).
    val pp = SetSimJoin.jaccardPairs(docs, "doc_id", "text", 0.6)
    val raw = docs.select(col("doc_id"),
      NearDup.shingleSet(col("text"), NearDup.DefaultShingleLen).as("rs"))
    val rawJac = size(array_intersect(col("rs_a"), col("rs_b"))).cast("double") /
      size(array_union(col("rs_a"), col("rs_b"))).cast("double")
    val reverified = pp
      .join(raw.select(col("doc_id").as("id_a"), col("rs").as("rs_a")), "id_a")
      .join(raw.select(col("doc_id").as("id_b"), col("rs").as("rs_b")), "id_b")
      .withColumn("raw_jaccard", round(rawJac, 6))
    val nPairs = reverified.count()
    val mismatched = reverified
      .filter(col("raw_jaccard") =!= col("jaccard") || col("raw_jaccard") < 0.6)
      .count()
    check("jaccard_raw_reverify", mismatched == 0,
      s"pairs=$nPairs raw_mismatch=$mismatched")

    // 3b. MinHash-banded pairs at the same threshold are a subset.
    val ppSet = pp.select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = NearDup.nearDuplicatePairs(docs, "doc_id", "text", 0.6)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = banded -- ppSet
    check("jaccard_superset_of_banded", missing.isEmpty,
      f"ppjoin=${ppSet.size} banded=${banded.size} banded_not_in_ppjoin=${missing.size} " +
        f"banding_recall=${if (ppSet.isEmpty) 1.0 else banded.size.toDouble / ppSet.size}%.4f")

    // 4. Cluster-map consistency (dedup_clusters / dedup_near at this
    //    scale): (a) the two endpoints of every near-dup pair carry the
    //    SAME cluster id (pairs are the edges the components were built
    //    from — a split component would break this); (b) every cluster
    //    id IS the minimum member id (the labeling rule); (c) survivors
    //    are exactly the per-cluster minima.
    val clusters = NearDup.nearDuplicateClusters(docs, "doc_id", "text", 0.5)
    val pairs = NearDup.nearDuplicatePairs(docs, "doc_id", "text", 0.5)
    val splitEdges = pairs
      .join(clusters.select(col("doc_id").as("id_a"), col("cluster_id").as("ca")), "id_a")
      .join(clusters.select(col("doc_id").as("id_b"), col("cluster_id").as("cb")), "id_b")
      .filter(col("ca") =!= col("cb")).count()
    check("pairs_share_cluster", splitEdges == 0, s"split_edges=$splitEdges")
    val badLabels = clusters.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("mn"))
      .filter(col("cluster_id") =!= col("mn")).count()
    check("cluster_id_is_min_member", badLabels == 0, s"bad_labels=$badLabels")
    val minima = clusters.groupBy(col("cluster_id")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val clustered = clusters.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val allIds = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val survivorIds = survivors.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = allIds -- (clustered -- minima)
    check("survivors_are_cluster_minima", survivorIds == expected,
      s"survivors=${survivorIds.size} expected=${expected.size} " +
        s"clusters=${clustered.size} minima=${minima.size}")

    println(s"SUMMARY ${if (failed) "FAIL" else "PASS"} sfDir=$sfDir")
    spark.stop()
    if (failed) sys.exit(1)
  }
}
