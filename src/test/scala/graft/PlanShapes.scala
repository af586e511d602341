package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan probes shared by the plan-shape specs. */
object PlanShapes {

  /** Count distinct shuffle exchanges, descending into AQE query stages;
    * reused exchanges don't count (that's the point of reuse). */
  def countShuffles(p: SparkPlan): Int = {
    val self = p match {
      case _: ReusedExchangeExec => 0
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self + kids.map(countShuffles).sum
  }

  def shuffles(df: DataFrame): Int = countShuffles(df.queryExecution.executedPlan)
}
