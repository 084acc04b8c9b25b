package graft.sink

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** Atomic `_CURRENT` pointer for versioned landed artifacts — the one
  * commit primitive every atomic publish in this repo shares (the
  * warehouse table swap, the streaming-curation output, the IVF index
  * version): write the new pointer beside the old one, then rename it
  * into place with `Rename.OVERWRITE`. Readers following the pointer
  * see the old version or the new one, never a partial directory —
  * rename is the only atomic filesystem primitive HDFS/posix both
  * guarantee.
  */
object AtomicPointer {

  val PointerName = "_CURRENT"

  /** Atomically (re-)point `dir/<name>` at `value`. The tmp path is
    * unique PER WRITER (UUID suffix), not per value: two publishers
    * racing on the same value would otherwise share one tmp file, and
    * a CREATE+OVERWRITE create can truncate the other mid-write —
    * the subsequent rename would install a partially written pointer.
    * With per-writer tmps each rename installs a complete file; last
    * rename wins, which is the documented last-publisher-wins
    * semantics of the pointer.
    */
  def write(conf: Configuration, dir: String, value: String,
      name: String = PointerName): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) fs.mkdirs(d)
    val fc = FileContext.getFileContext(d.toUri, conf)
    val tmp = new Path(d, s"$name.tmp.${java.util.UUID.randomUUID()}")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(value.getBytes("UTF-8")) finally out.close()
    fc.rename(tmp, new Path(d, name), Options.Rename.OVERWRITE)
    reclaimStaleTmps(conf, d, name)
  }

  /** How old a `<name>.tmp.<uuid>` must be before [[write]] reclaims
    * it. Per-writer tmps are orphaned only by a crash between create
    * and rename; without reclamation every failed publish leaves one
    * behind forever (unbounded metadata litter on object stores). The
    * age guard keeps reclamation safe under racing publishers: a LIVE
    * writer's tmp is seconds old, never minutes, so only genuinely
    * abandoned files are deleted — deleting an in-flight tmp would
    * fail that writer's rename.
    */
  private val StaleTmpAgeMs = 10 * 60 * 1000L

  private def reclaimStaleTmps(conf: Configuration, d: Path,
      name: String): Unit =
    try {
      val fs = d.getFileSystem(conf)
      val cutoff = System.currentTimeMillis() - StaleTmpAgeMs
      fs.listStatus(d)
        .filter(s => s.getPath.getName.startsWith(s"$name.tmp.") &&
          s.getModificationTime < cutoff)
        .foreach(s => try fs.delete(s.getPath, false)
          catch { case _: Exception => () })
    } catch { case _: Exception => () } // best-effort, never fail a publish

  /** Versioned-directory publish: `land` writes `dir/v=<version>` (it
    * is handed that path), `_CURRENT` swaps to it, and retention then
    * keeps the two newest versions so an in-flight reader of the
    * previous version finishes its scan.
    */
  def publishVersion(conf: Configuration, dir: String, version: Long)(
      land: String => Unit): Unit = {
    land(s"$dir/v=$version")
    write(conf, dir, s"v=$version")
    keepNewest(conf, dir, 2)
  }

  /** The `v=<n>` version directories under `dir`, newest first; empty
    * when `dir` does not exist. Names that do not parse are skipped.
    */
  def versions(conf: Configuration, dir: String): Seq[(Long, Path)] = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath).flatMap { p =>
      val n = p.getName
      if (n.startsWith("v=")) scala.util.Try(n.drop(2).toLong).toOption.map(_ -> p)
      else None
    }.sortBy(-_._1)
  }

  /** Delete all but the `n` newest versions under `dir`. */
  def keepNewest(conf: Configuration, dir: String, n: Int): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    versions(conf, dir).drop(n).foreach { case (_, p) => fs.delete(p, true) }
  }

  /** The current pointer value, or None if nothing has published yet. */
  def read(conf: Configuration, dir: String,
      name: String = PointerName): Option[String] = {
    val cur = new Path(dir, name)
    val fs = cur.getFileSystem(conf)
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }
}
