package graft.functions

import graft.pipe.SparkTestSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Pmod}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** graft_once (r6 optimization): a value-identity no-op that pins an
  * expensive computed column to ONE evaluation site — predicate
  * pushdown otherwise substitutes the defining expression into the
  * filter and evaluates it a second time below upstream exchanges.
  */
class OnceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("once() is a value no-op (same results, same nulls)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(("a b c", 1L), (null, 2L), ("x", 3L))
      .toDF("text", "id")
    val plain = df.select($"id", size(split($"text", " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    val onced = df.select($"id",
      OnceOps.once(size(split($"text", " "))).as("n"))
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    assert(plain == onced)
  }

  test("a filter on a once()-wrapped column is NOT pushed below the " +
    "defining projection (single evaluation site in the plan)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.range(100).toDF("id")
      .repartition(4)
      .withColumn("q", OnceOps.once(pmod($"id" * 37, lit(97))))
      .filter($"q" > 10)
    assert(df.count() == 88)
    // the defining expression appears exactly once in the physical
    // plan's projections and filters, and never in a filter below the
    // repartition exchange (where pushdown would duplicate it)
    val nodes = planNodes(df.queryExecution.executedPlan)
    def pmods(p: SparkPlan): Int = p match {
      case pr: ProjectExec => pr.projectList.map(countPmod).sum
      case f: FilterExec => countPmod(f.condition)
      case _ => 0
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(nodes.map(pmods).sum == 1,
      s"expected 1 evaluation site, plan:\n$plan")
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, plan)
    for (e <- exchanges; f <- planNodes(e).collect { case f: FilterExec => f })
      assert(countPmod(f.condition) == 0,
        s"pmod pushed below the exchange, plan:\n$plan")
  }

  private def countPmod(e: Expression): Int =
    e.collect { case p: Pmod => p }.length

  /** Every node of a physical plan, looking through adaptive plans
    * and query stages.
    */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }
}
