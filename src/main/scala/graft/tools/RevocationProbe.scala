package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: retroactive-revocation scan cost against a GROWN shingle
  * store — the pruned probe ([[graft.stream.StreamCuration
  * .shingleStateFor]]) vs a full-store scan, at a multi-batch state far
  * larger than any fixture stream reaches, for each shingle-store
  * layout. Evidence that revocation work follows the eval DELTA's size,
  * not the accumulated store's.
  *
  * Usage: runMain graft.tools.RevocationProbe <batches> <rowsPerBatch>
  *        [deltaShingles=8] [layout=both|sorted|hbdirs] — per layout,
  * plants `batches` batch dirs of `rowsPerBatch` synthetic (digest,
  * shingle-hash) rows each through the tick's own shingle writer
  * (`sorted`: one (hb, h)-sorted file per batch; `hbdirs`: `hb=`
  * partition dirs), then times (one warm-up, then the median of 3
  * reps): (a) the pruned probe with a `deltaShingles`-row eval delta,
  * (b) the same rows via an unpruned full-store scan (the legacy
  * fallback's cost). Both layouts run in one JVM, sorted first.
  */
object RevocationProbe {
  def main(args: Array[String]): Unit = {
    val batches = args(0).toInt
    val rowsPerBatch = args(1).toLong
    val deltaShingles = args.lift(2).map(_.toInt).getOrElse(8)
    val layouts = args.lift(3).filter(_ != "both").map(Seq(_))
      .getOrElse(Seq("sorted", "hbdirs"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.stream.StreamCuration
    import StreamCuration.ShingleLayout

    val nb = StreamCuration.ShingleBuckets
    // The eval delta: hashes present in the store (worst case — every
    // probed bucket holds matches).
    val delta = spark.range(deltaShingles.toLong)
      .select(xxhash64(col("id")).as("h")).localCheckpoint()
    // One untimed run (JIT, file listing caches), then 3 timed.
    def med(f: => Long): (Double, Long) = {
      f
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val c = f
        ((System.nanoTime() - t0) / 1e9, c)
      }
      (runs.map(_._1).sorted.apply(1), runs.head._2)
    }
    layouts.foreach { name =>
      val layout = name match {
        case "sorted" => ShingleLayout.Sorted(nb)
        case "hbdirs" => ShingleLayout.Bucketed(nb)
        case other => throw new IllegalArgumentException(
          s"layout must be both, sorted or hbdirs, got '$other'")
      }
      val store = java.nio.file.Files.createTempDirectory(s"revprobe_$name").toString
      (0 until batches).foreach { b =>
        StreamCuration.writeShingleBatch(spark.range(rowsPerBatch)
          .select(concat(lit(s"d${b}_"), col("id")).as("__h"),
            xxhash64(col("id") + lit(b.toLong * rowsPerBatch)).as("h")),
          store, b.toLong, layout)
      }
      println(s"REVPROBE layout=$name store_rows=${batches * rowsPerBatch}" +
        s" batches=$batches buckets=$nb delta=$deltaShingles")
      val (tp, cp) = med {
        StreamCuration.shingleStateFor(spark, store, delta)
          .join(broadcast(delta), Seq("h")).count()
      }
      println(f"REVPROBE $name%-6s pruned   $tp%8.2f s  matched=$cp")
      val (tf, cf) = med {
        spark.read.parquet(store).select(col("__h"), col("h"))
          .join(broadcast(delta), Seq("h")).count()
      }
      println(f"REVPROBE $name%-6s fullscan $tf%8.2f s  matched=$cf" +
        f"  ratio=x${tf / tp}%.1f")
      assert(cp == cf, s"pruned/full mismatch: $cp vs $cf")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    }
    spark.stop()
  }
}
