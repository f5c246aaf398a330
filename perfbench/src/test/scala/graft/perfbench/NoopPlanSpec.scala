package graft.perfbench

import org.apache.spark.sql.execution.SortExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry

/** The suite times each row's full result through a `noop` sink; these
  * guards check that the timed plans keep the work a `count()` would let
  * Catalyst prune.
  */
class NoopPlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = Main.session(System.getProperty("java.io.tmpdir"))
  private val data = "data/sf0.001"

  override def afterAll(): Unit = spark.stop()

  /** The executed plan of the row's timed write (its last action). */
  private def timedPlan(name: String) = {
    val actions = new Actions(() => 0.0)
    spark.listenerManager.register(actions)
    try QuerySuite.fullResult(spark, Registry.all.find(_.name == name).get, data)
    finally {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(actions)
    }
    val a = actions.all.last
    assert(a.qe.executedPlan.nodeName.contains("OverwriteByExpression"),
      a.qe.executedPlan.treeString)
    PlanShape.nodes(a.qe.executedPlan).map(_._1)
  }

  test("t13_model_quality's timed plan evaluates graft_wsum") {
    val ops = timedPlan("t13_model_quality")
    assert(ops.exists(_.expressions.exists(_.exists(_.prettyName == "graft_wsum"))),
      ops.map(_.nodeName).mkString(", "))
  }

  test("g6_monthly_summary's timed plan keeps its final sort") {
    val ops = timedPlan("g6_monthly_summary")
    assert(ops.exists { case s: SortExec => s.global; case _ => false },
      ops.map(_.nodeName).mkString(", "))
  }
}
