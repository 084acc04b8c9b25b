package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd canonical text normalization: Unicode NFC composition →
  * ROOT-locale lowercase → whitespace runs collapsed to single spaces →
  * trim. The normalize-before-fingerprint step of a dedup pipeline:
  * "café" typed with a combining accent (`café`), stray NBSP
  * runs, or case variance must not defeat exact/near dedup, so every
  * document passes through ONE canonical form before hashing.
  *
  * A native expression rather than a UDF for the usual reasons (no
  * Row boxing, stays inside whole-stage codegen — the generated code
  * calls the same static helper the interpreted path uses, so the two
  * paths are one implementation), and rather than chained built-ins
  * because NFC does not exist as a Spark function at all.
  *
  * The JDK's `java.text.Normalizer` implements Unicode normalization
  * (public, versioned by the Unicode standard); `NormalizeTextSpec`
  * pins composed/decomposed convergence, NFC-vs-NFKC restraint
  * (ligatures survive), idempotence, and codegen/interpreted equality.
  * Map-only, zero exchanges; the fast path skips allocation entirely
  * for already-normalized ASCII (the overwhelming case in a real
  * corpus, and detectable in one byte scan).
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_normalize requires a string input, got $t")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"

  override def nullSafeEval(input: Any): Any =
    NormalizeText.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NormalizeText.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(newChild)
}

object NormalizeText {
  /** Shared eval core (called from generated code — must stay public
    * and static-shaped). ASCII fast path: if every byte is printable
    * ASCII, already lowercase, and single-spaced, return the input
    * UTF8String untouched (no JVM String materialization).
    */
  def normalize(s: UTF8String): UTF8String = {
    if (isCanonicalAscii(s)) return s
    val str = s.toString
    val nfc = Normalizer.normalize(str, Normalizer.Form.NFC)
    val lowered = nfc.toLowerCase(java.util.Locale.ROOT)
    val collapsed = WsRun.matcher(lowered).replaceAll(" ")
    UTF8String.fromString(trimSpaces(collapsed))
  }

  /** Precompiled whitespace-run class (String.replaceAll would
    * recompile it on every slow-path row). */
  private val WsRun =
    java.util.regex.Pattern.compile("[\\s\\u00a0\\u2007\\u202f]+")

  /** Trim ONLY the space character: Java's String.trim strips every
    * code point <= U+0020 — including control chars like U+0001 that
    * the collapse class deliberately leaves alone — while the DuckDB
    * twin's trim() removes only spaces. Trimming spaces keeps
    * norm_text/norm_hash engine-agreed on ANY input, not just inputs
    * without edge control characters.
    */
  private def trimSpaces(s: String): String = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    if (from == 0 && to == s.length) s else s.substring(from, to)
  }

  /** One pass over the raw bytes: ASCII, no uppercase, no control
    * chars, no leading/trailing/double spaces ⇒ normalize is identity.
    */
  private def isCanonicalAscii(s: UTF8String): Boolean = {
    val n = s.numBytes()
    if (n == 0) return true
    var i = 0
    var prevSpace = true // leading space must fail
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0x20 || b == 0x7f) return false          // non-ASCII or control
      if (b >= 'A' && b <= 'Z') return false           // uppercase
      if (b == ' ') { if (prevSpace) return false; prevSpace = true }
      else prevSpace = false
      i += 1
    }
    !prevSpace // trailing space must fail
  }

  /** `graft_normalize(c)` as a Column. */
  def col(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    column(NormalizeText(expression(c)))
  }
}
