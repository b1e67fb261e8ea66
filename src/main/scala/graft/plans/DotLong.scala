package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: exact Long dot product of two
  * `array<bigint>` columns.
  *
  * This is the hot scalar of the quantized-vector scheme
  * (DedupQueries): the `zip_with`/`aggregate` formulation is
  * CodegenFallback (interpreted per element), and a Scala UDF would
  * pay serialization per row. A BinaryExpression with `doGenCode`
  * stays inside whole-stage codegen — the generated loop reads the
  * unsafe array data directly, no boxing, no fallback.
  */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_long expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

object DotLong {
  /** `dot_long(a, b)` as a Column, without a function-registry lookup. */
  def col(a: Column, b: Column): Column =
    GraftSqlShims.column(DotLong(GraftSqlShims.expression(a),
      GraftSqlShims.expression(b)))
}
