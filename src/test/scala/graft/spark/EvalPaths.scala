package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Sessions that force one expression-evaluation path, sharing the given
  * session's SparkContext but not its SQL conf (so other suites on the
  * shared session are unaffected), plus executed-plan helpers.
  *
  * Local-relation folding is off in both, so a projection over a
  * `Seq(...).toDF` runs in its operator instead of being evaluated once by
  * the optimizer's interpreter. ANSI mode is on, as in Spark 4 by default,
  * so an expression that can throw on bad input does. */
object EvalPaths extends AdaptiveSparkPlanHelper {
  private def session(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    (Seq("spark.sql.ansi.enabled" -> "true",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") ++ conf)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Generated code only: a compile error fails the query instead of
    * falling back to the interpreter or to non-whole-stage execution. */
  def codegenOnly(spark: SparkSession): SparkSession = session(spark,
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  /** Interpreted `eval` only: no whole-stage or expression codegen. */
  def interpreted(spark: SparkSession): SparkSession = session(spark,
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  /** Every operator of the executed (final, if adaptive) plan, through
    * query stages. Call after the query has run. */
  def operators(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  /** The operators that run inside a whole-stage-codegen stage — the ones
    * `explain` prints with a `*(n)` prefix. */
  def inCodegenStage(df: DataFrame): Seq[SparkPlan] = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    operators(df).collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
  }
}
