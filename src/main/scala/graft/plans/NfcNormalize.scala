package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization
  * (`nfc_norm(str)`).
  *
  * Canonical normalization is the text-pipeline prerequisite the
  * reference's mixed full/half-width corpus motivates (SURVEY §2.2:
  * patterns.py:1-16 works AROUND unnormalized width variants rather
  * than normalizing) and every dedup operator benefits from: visually
  * identical strings with different codepoint sequences (e + U+0301
  * vs é) hash to different shingles/fingerprints unless normalized
  * first.
  *
  * Spark has no normalization builtin, and a Scala UDF would pay
  * Row-serialization per value. A UnaryExpression with `doGenCode`
  * stays inside whole-stage codegen; the only per-row cost beyond
  * `java.text.Normalizer` itself is one UTF8String→String round trip
  * (Normalizer works on UTF-16, so that conversion is inherent).
  * `Normalizer.isNormalized` short-circuits the common
  * already-normalized case without allocating.
  *
  * Oracle: DuckDB's `nfc_normalize` — byte-identical output (both
  * implement Unicode canonical composition; TextQueries t12 verifies
  * value parity through md5 on planted decomposed text).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      // NullType: a bare NULL literal is a valid (always-null) input,
      // as for the built-in string functions
      case StringType | org.apache.spark.sql.types.NullType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nfc_norm expects string, got ${other.simpleString}")
    }

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_norm"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NfcNormalize$$.MODULE$$.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static kernel shared by interpreted and codegen paths. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** `nfc_norm(c)` as a Column, without a function-registry lookup. */
  def col(c: Column): Column =
    GraftSqlShims.column(NfcNormalize(GraftSqlShims.expression(c)))
}
