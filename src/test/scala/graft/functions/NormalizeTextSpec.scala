package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** graft_normalize semantics: NFC convergence without NFKC overreach,
  * ROOT-locale casefold, exotic-whitespace collapse, idempotence, the
  * allocation-free ASCII fast path, and codegen/interpreted equality.
  * Unicode inputs are spelled as escapes so the fixtures cannot be
  * silently re-normalized by an editor.
  */
class NormalizeTextSpec extends SparkTestBase {
  import spark.implicits._

  private def norm(s: String): String =
    NormalizeText.normalize(UTF8String.fromString(s)).toString

  test("NFC composes decomposed accents; NFKC-only mappings are left alone") {
    // 'e' + COMBINING ACUTE (U+0301) vs precomposed U+00E9 — one form.
    assert(norm("cafe\u0301") == norm("caf\u00e9"))
    assert(norm("cafe\u0301") == "caf\u00e9")
    // NFC must NOT touch compatibility characters (that's NFKC):
    // the ﬁ ligature (U+FB01) and superscript two (U+00B2) survive.
    assert(norm("\ufb01le") == "\ufb01le")
    assert(norm("x\u00b2") == "x\u00b2")
  }

  test("casefold, exotic whitespace collapse, trim, idempotence") {
    assert(norm("Hello\u00a0\u00a0World") == "hello world") // NBSP run
    assert(norm("  A\tB\u202f C\r\n") == "a b c") // narrow-space run
    assert(norm("\u00c9COLE") == "\u00e9cole") // E-acute folds through NFC+lower
    val once = norm("  MiXeD   Cas\u00e9  ")
    assert(norm(once) == once, "normalization must be idempotent")
  }

  test("canonical ASCII takes the zero-allocation fast path") {
    val in = UTF8String.fromString("already lower and single spaced")
    assert(NormalizeText.normalize(in) eq in)
    // Near misses all take the slow path and canonicalize.
    assert(norm("double  space") == "double space")
    assert(norm("Upper") == "upper")
    assert(norm(" lead") == "lead")
    assert(norm("trail ") == "trail")
    assert(norm("") == "")
  }

  test("edge control chars survive the trim — matching DuckDB's space-only trim") {
    // \u0001 is outside both the collapse class and DuckDB trim()'s
    // space-only default; Java's String.trim would strip it (it strips
    // every code point <= U+0020) and diverge norm_text/norm_hash
    // between the engines.
    assert(norm("\u0001abc") == "\u0001abc")
    assert(norm("abc\u0002") == "abc\u0002")
    assert(norm(" \u0001 Abc ") == "\u0001 abc")
    // Whitespace-class controls (tab, CR, LF) still collapse and trim.
    assert(norm("\tabc\n") == "abc")
  }

  test("codegen path equals the shared core, nulls propagate") {
    val inputs = Seq("cafe\u0301\u00a0\u00a0RIVER", "plain ascii", "\u00c9COLE x", null)
    val viaDf = inputs.toDF("s").select(NormalizeText.col(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    val expected = inputs.map(s => Option(s).map(norm))
    assert(viaDf.toSeq == expected)
  }
}
