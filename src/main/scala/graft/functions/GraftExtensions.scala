package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions hook registering the engine's custom
  * expressions as SQL functions — the idiomatic deployment packaging:
  * `graft.GraftSession.create` installs it, and
  * `spark.sql.extensions=graft.functions.GraftExtensions` makes them
  * available to plain SQL on any cluster, no code changes. This is the
  * ONLY place the SQL names are registered: DataFrame code builds its
  * columns through `DotProduct.col` etc., which wrap the expression
  * directly and never touch a session's function registry, so
  * DataFrame users need no extension config.
  *
  * Registered: `graft_dot` (codegen'd float dot product),
  * `graft_normalize` (text canonicalization), `graft_term_count`
  * (occurrences of a term in a string array), and the
  * `graft_heavy_hitters(col, k)` Misra-Gries aggregate. The
  * config-parameterized expressions (SignBandKeys, MinhashSignature)
  * stay DataFrame-only by design: their plane/permutation constants
  * are derived library-side from banding math, not user-writable SQL
  * literals.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case l: Literal if l.foldable =>
      l.eval() match {
        case i: Int => i
        case i: Long => i.toInt
        case other => throw new IllegalArgumentException(
          s"$what must be an integer literal, got $other")
      }
    case other => throw new IllegalArgumentException(
      s"$what must be a literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      (exprs: Seq[Expression]) => NormalizeText(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_term_count"),
      new ExpressionInfo(classOf[TermCount].getName, "graft_term_count"),
      (exprs: Seq[Expression]) => TermCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "graft_heavy_hitters"),
      (exprs: Seq[Expression]) =>
        MisraGriesAgg(exprs(0), intLit(exprs(1), "graft_heavy_hitters k"))))
  }
}
