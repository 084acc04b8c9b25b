package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent content fingerprint of a result: each row is
  * rendered canonically (columns sorted by name, numbers to 12
  * significant digits, timestamps as epoch micros), hashed to 64 bits,
  * and the row hashes are summed mod 2^64. `pin.py` renders DuckDB
  * results with the same rules, so a pinned oracle fingerprint and the
  * engine's must agree exactly.
  */
object Canon {
  final case class Fingerprint(rows: Long, hash: Long) {
    def hex: String = f"$rows%d:$hash%016x"
  }

  private val Sig = new MathContext(12, RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else dec(new java.math.BigDecimal(d))

  def dec(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(Sig).stripTrailingZeros.toPlainString

  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => dec(x)
    case x: scala.math.BigDecimal => dec(x.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(rendered: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(rendered.getBytes("UTF-8"))
    ByteBuffer.wrap(md, 0, 8).getLong
  }

  def of(df: DataFrame): Fingerprint = ofRows(df.schema.fieldNames, df.collect())

  def ofRows(names: Array[String], rows: Array[Row]): Fingerprint = {
    val order = names.indices.sortBy(i => names(i))
    var h = 0L
    rows.foreach(r => h += rowHash(order.map(i => render(r.get(i))).mkString("\u0001")))
    Fingerprint(rows.length.toLong, h)
  }

  /** Combines named fingerprints into one, independent of their order. */
  def combine(named: Iterable[(String, String)]): String = {
    val md = MessageDigest.getInstance("MD5")
    named.toSeq.sorted.foreach { case (k, v) => md.update(s"$k=$v\n".getBytes("UTF-8")) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
