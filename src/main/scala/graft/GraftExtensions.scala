package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{MediaExpressions, TextExpressions, VectorExpressions}

/** Library entry point for `SparkSessionExtensions` — the deployment
  * path where users never call a graft API before writing SQL:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   // or programmatically:
  *   SparkSession.builder().withExtensions(new GraftExtensions) …
  * }}}
  *
  * injects every graft SQL function (the codegen'd vector kernels and
  * the text generators) into the session's function registry at build
  * time. Sessions built without the extension keep working: each
  * operator path still calls the idempotent `GraftExtensions.register`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
}

object GraftExtensions {
  /** Every graft SQL function by name. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    VectorExpressions.builders ++ TextExpressions.builders ++
      MediaExpressions.builders

  /** Register every graft function as a SQL function (idempotent,
    * per-session). Callers then use `expr("graft_dot(a, b)")` — the
    * registry route works across the Spark 4 Column API without
    * touching internals. Existence is checked PER NAME: one name
    * present (e.g. from a partial or user registration) must not skip
    * the others, which would surface later as unresolved-function
    * errors far from the cause; re-registering an existing one would
    * emit a WARN and rebuild the builder closure. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
