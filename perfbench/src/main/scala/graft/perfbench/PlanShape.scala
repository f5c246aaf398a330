package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Shape counters of an executed physical plan, adaptive stages and
  * subqueries included.
  */
final case class PlanShape(exchanges: Int, broadcastJoins: Int,
                           sortMergeJoins: Int, nonCodegenOps: Int,
                           codegenFallbackExprs: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(
    exchanges + o.exchanges, broadcastJoins + o.broadcastJoins,
    sortMergeJoins + o.sortMergeJoins, nonCodegenOps + o.nonCodegenOps,
    codegenFallbackExprs + o.codegenFallbackExprs)
}

object PlanShape {
  val Zero: PlanShape = PlanShape(0, 0, 0, 0, 0)

  /** Every operator node, paired with whether it runs inside a
    * whole-stage-codegen stage. Wrappers (adaptive root, query stages,
    * reused exchanges) are unwrapped, not counted.
    */
  def nodes(plan: SparkPlan): Seq[(SparkPlan, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(SparkPlan, Boolean)]
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
        case q: QueryStageExec => walk(q.plan, inCodegen = false)
        case r: ReusedExchangeExec => walk(r.child, inCodegen = false)
        case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
        case i: InputAdapter => walk(i.child, inCodegen = false)
        case other =>
          out += other -> inCodegen
          other.children.foreach(walk(_, inCodegen))
      }
      p.subqueries.foreach(walk(_, inCodegen = false))
    }
    walk(plan, inCodegen = false)
    out.toSeq
  }

  /** Operators that are plumbing rather than work. */
  private def structural(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
    case _: ColumnarToRowExec | _: RowToColumnarExec => true
    case _: SubqueryExec | _: SubqueryBroadcastExec => true
    case _ => p.nodeName.startsWith("AQEShuffleRead") ||
      p.nodeName == "WriteFiles" || p.isInstanceOf[v2Commands]
  }

  private type v2Commands = org.apache.spark.sql.execution.datasources.v2.V2CommandExec

  def of(plan: SparkPlan): PlanShape = {
    val ns = nodes(plan)
    PlanShape(
      exchanges = ns.count(_._1.isInstanceOf[ShuffleExchangeExec]),
      broadcastJoins = ns.count(_._1.isInstanceOf[BroadcastHashJoinExec]),
      sortMergeJoins = ns.count(_._1.isInstanceOf[SortMergeJoinExec]),
      nonCodegenOps = ns.count { case (p, inCg) =>
        !inCg && !structural(p) && !p.isInstanceOf[LeafExecNode] },
      codegenFallbackExprs = ns.map(_._1.expressions
        .map(_.collect { case e: CodegenFallback => e }.size).sum).sum)
  }
}
