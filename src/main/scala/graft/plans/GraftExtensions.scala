package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.GraftSqlShims

/** The engine's one extension installer: the `dot_long` and
  * `nfc_norm` SQL names plus the as-of join's planner strategy and
  * optimizer rule. Idempotent per session. `graft.Session` calls it
  * once; `AsOfJoin.asofJoin` calls it too, because its plan node can
  * reach a session the factory did not build. Query builders never
  * need it: they build DotLong/NfcNormalize columns directly. */
object GraftExtensions {
  private val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_long", classOf[DotLong], c => DotLong(c(0), c(1))),
    ("nfc_norm", classOf[NfcNormalize], c => NfcNormalize(c.head)))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, cls, build) <- sqlFunctions) {
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), build)
    }
    val exp = GraftSqlShims.experimental(spark)
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
    if (!exp.extraOptimizations.contains(PushFilterThroughAsOfJoin))
      exp.extraOptimizations = exp.extraOptimizations :+ PushFilterThroughAsOfJoin
  }
}
