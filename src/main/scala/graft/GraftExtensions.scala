package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{JsonScalarExpressions, TextHashExpressions, TextStatExpressions, VectorExpressions}
import org.apache.spark.unsafe.types.UTF8String

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available in any session via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * or SparkSession.builder().withExtensions(new GraftExtensions).
  * It also injects the optimizer rule [[graft.plans.CheapPredicatesFirst]]
  * and the planner strategy [[graft.ai.AiEvalStrategy]], which keeps up
  * to eight AI calls per task in flight. (The AI UDFs need a live
  * session and are registered by [[Graft.init]] instead.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.CheapPredicatesFirst)
    e.injectPlannerStrategy(_ => graft.ai.AiEvalStrategy)
    e.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorExpressions.VectorDot].getName, "vector_dot"),
      exprs => VectorExpressions.VectorDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("vector_norm"),
      new ExpressionInfo(classOf[VectorExpressions.VectorNorm].getName, "vector_norm"),
      exprs => VectorExpressions.VectorNorm(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[TextHashExpressions.SimHash64].getName, "simhash64"),
      exprs => TextHashExpressions.SimHash64(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("json_get_long"),
      new ExpressionInfo(
        classOf[JsonScalarExpressions.JsonGetLong].getName, "json_get_long"),
      exprs => JsonScalarExpressions.JsonGetLong(exprs.head, exprs(1) match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          l.value.asInstanceOf[UTF8String]
        case other => throw new IllegalArgumentException(
          s"json_get_long key must be a literal string, got $other")
      })))
    e.injectFunction((
      FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(
        classOf[TextStatExpressions.BpeTokenCount].getName, "bpe_token_count"),
      exprs => TextStatExpressions.BpeTokenCount(exprs.head)))
  }
}

/** One-call library setup for an existing session: registers the AI
  * UDFs and the native expressions for SQL use.
  */
object Graft {
  def init(spark: SparkSession): Unit = {
    graft.ai.AiFunctions.register(spark)
    VectorExpressions.register(spark)
    TextHashExpressions.register(spark)
    JsonScalarExpressions.register(spark)
    TextStatExpressions.register(spark)
  }
}
