package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Dashboard, Functions}
import graft.pipeline.{RawRetailPipeline, RetailPipeline}

/** The one-collect dashboard against the three-query render it
  * replaced, kept here as the oracle: the panel datasets computed by
  * Spark (DECIMAL-exact `dsum`, `orderBy` tie-breaks), drawn by the same
  * [[Dashboard.draw]], must give a byte-identical SVG.
  */
class DashboardOracleSpec extends SparkTestBase {

  /** The former `Dashboard.render`: materialize a non-scan view once,
    * then one Spark query per panel dataset.
    */
  private def oracle(monthlyIn: DataFrame): String = {
    val isBareScan = monthlyIn.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }
    val monthly =
      if (isBareScan) monthlyIn
      else graft.queries.Scratch.materialize(
        monthlyIn.sparkSession, "dashboard_oracle", monthlyIn)
    val revEur = "total_revenue_eur"
    val byMonth = monthly.groupBy(col("year"), col("month"))
      .agg(Functions.dsum(col(revEur)).as("m_eur"),
        sum(col("total_orders")).as("m_orders"))
      .orderBy("year", "month")
      .collect()
      .map(r => (f"${r.getLong(0)}%d-${r.getLong(1)}%02d",
        r.getDouble(2), r.getLong(3)))
    val topCountries = monthly.groupBy(col("country"))
      .agg(Functions.dsum(col(revEur)).as("c_eur"),
        sum(col("total_orders")).as("c_orders"))
      .orderBy(desc("c_eur"), asc("country"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val top5 = topCountries.take(5).map(_._1)
    val trendRows = monthly
      .filter(col("country").isin(top5.toSeq: _*))
      .select(col("year"), col("month"), col("country"), col(revEur))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2), r.getDouble(3)))
    Dashboard.draw(Dashboard.Panels(byMonth.toSeq, topCountries.toSeq,
      trendRows.toSeq), None)
  }

  private def sameSvg(monthly: DataFrame): Unit = {
    val svg = Dashboard.render(monthly)
    assert(svg == oracle(monthly))
  }

  test("golden fixture: one-collect render equals the three-query render") {
    val cat = GoldenSpec.built
    sameSvg(cat.table("v_monthly_sales_summary"))
    sameSvg(graft.queries.Scratch.materialize(spark, "dashboard_oracle_view",
      RawRetailPipeline.monthlyView(spark, cat)))
  }

  test("TPC-H twin: one-collect render equals the three-query render") {
    sameSvg(RetailPipeline.monthlySummaryLazy(spark, sfDir))
  }

  test("revenue ties, 6dp midpoints and non-ASCII countries break alike") {
    import spark.implicits._
    // Equal country totals only after DECIMAL(38,6) HALF_UP rounding
    // (x.xxxxxx5 rounds up, and 0.1 + 0.2 is exact in decimal), and
    // country names whose UTF-16 and UTF-8 orders disagree.
    val rows = Seq(
      (2010L, 1L, "BＡ", 0.1, 3L), (2010L, 2L, "BＡ", 0.2, 1L),
      (2010L, 1L, "B😀", 0.3, 2L), (2010L, 2L, "B😀", 0.0, 2L),
      (2010L, 1L, "Aland", 1.0000005, 1L), (2010L, 2L, "Aland", 0.0, 1L),
      (2010L, 1L, "Zed", 1.000001, 4L),
      (2010L, 3L, "Mid", 2.5, 5L), (2011L, 1L, "Low", 0.25, 0L),
      (2011L, 1L, "Ties", 0.3, 1L))
    sameSvg(rows.toDF("year", "month", "country", "total_revenue_eur",
      "total_orders"))
  }
}
