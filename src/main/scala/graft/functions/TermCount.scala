package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd occurrence count of a string in a string array.
  *
  * The declarative formulation — `size(filter(arr, x -> x == t))` — is
  * a higher-order function Catalyst evaluates interpreted, building a
  * filtered ArrayData per row per term; on BM25 scoring (one count per
  * query term per document) it is the hot path. This expression emits
  * a tight loop of UTF8String equality checks inside whole-stage
  * codegen: no allocation, no lambda dispatch, binary comparison on
  * the unsafe bytes.
  *
  * NULL array → NULL; NULL elements never match (SQL equality
  * semantics of the filter it replaces would null-poison the lambda —
  * here a null element simply does not count, which is what every
  * call site wants and what `x == t` filters produce for non-null t).
  */
case class TermCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_term_count requires (array<string>, string), got $l / $r")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_term_count"

  override def nullSafeEval(a: Any, t: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val term = t.asInstanceOf[UTF8String]
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && term.equals(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, t) => {
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      s"""
         |final int $n = $a.numElements();
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && $t.equals($a.getUTF8String($i))) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TermCount = copy(newLeft, newRight)
}

object TermCount {
  /** `graft_term_count(arr, term)` as a Column. */
  def col(arr: Column, term: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    column(TermCount(expression(arr), expression(term)))
  }
}
