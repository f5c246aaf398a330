package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.queries.Registry

/** Bench times each row's full result through a `noop` sink. These
  * guards check that the timed plan keeps the work a `count()` lets
  * Catalyst prune (ColumnPruning drops t13's `graft_wsum` projection,
  * EliminateSorts drops g6's final sort).
  */
class BenchSpec extends SparkTestBase {

  /** Every operator of a plan: adaptive stages, reused exchanges and
    * subqueries unwrapped.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  /** The executed plan of the row's timed `noop` write. */
  private def timedPlan(name: String): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.nodeName.contains("OverwriteByExpression")) seen.add(qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val q = Registry.all.find(_.name == name).get
    try {
      assert(Bench.fullResult(q.run(spark, sfDir)) > 0)
      eventually(timeout(60.seconds)) { assert(!seen.isEmpty) }
    } finally spark.listenerManager.unregister(listener)
    nodes(seen.asScala.last.executedPlan)
  }

  private def evaluates(ops: Seq[SparkPlan], fn: String): Boolean =
    ops.exists(_.expressions.exists(_.exists(_.prettyName == fn)))

  test("Bench's timed plan for t13_model_quality evaluates graft_wsum, " +
      "which its count() plan prunes") {
    val ops = timedPlan("t13_model_quality")
    assert(evaluates(ops, "graft_wsum"), ops.map(_.nodeName).mkString(", "))
    val df = Registry.all.find(_.name == "t13_model_quality").get.run(spark, sfDir)
    assert(!evaluates(nodes(df.groupBy().count().queryExecution.executedPlan),
      "graft_wsum"))
  }

  test("Bench's timed plan for g6_monthly_summary keeps its final sort") {
    val ops = timedPlan("g6_monthly_summary")
    assert(ops.exists { case s: SortExec => s.global; case _ => false },
      ops.map(_.nodeName).mkString(", "))
  }
}
