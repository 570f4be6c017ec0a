package graft

import org.apache.spark.sql.DataFrame

/** LangSpec's goldens again, every query planned past the bound: compiled. */
class LangCompiledSpec extends LangSpec {
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    Execution.bound.withValue(0L)(super.withFixture(test))

  test("the goldens run compiled here") {
    val df = g.query("/orders?o_totalprice>400000{o_orderkey}")
    assert(df.sparkSession eq spark)
    assert(WholeStage(df))
  }
}

/** Whether a DataFrame's executed plan, adaptive stages included, holds a
  * `WholeStageCodegenExec`: runs it first, so the adaptive plan is final.
  */
object WholeStage extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Boolean = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
  }
}
