package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.engine.GoldenFixture
import graft.pipeline.RawRetailPipeline

/** End-to-end golden path at smoke scale: generate reference-shaped raw
  * files (multi-sheet xlsx with SST + date serials, SDMX XML, BIFF8
  * xls), parse them through the byte-level Sources, run the reference's
  * table chain, and assert the generator's independently-computed
  * manifest — row counts, entity cardinalities, date spans, and
  * DECIMAL-exact revenue totals. The full-scale (1.07M-row) run is
  * `runMain graft.Golden` + tools/check_golden.py (the DuckDB
  * differential); this spec keeps the path green per-commit.
  */
class GoldenSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import GoldenSpec.{cfg, built}

  private lazy val m = GoldenFixture.manifest(cfg)

  test("raw staging reproduces the workbook row counts per sheet") {
    val counts = built.table("raw_retail_data")
      .groupBy("source_sheet").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts(GoldenFixture.SheetNames(0)) == m.rawRowsSheet1)
    assert(counts(GoldenFixture.SheetNames(1)) == m.rawRowsSheet2)
  }

  test("dims hit the manifest cardinalities exactly") {
    assert(built.table("dim_product").count() == m.products)
    assert(built.table("dim_customer").count() == m.customers)
    assert(built.table("dim_calendar").count() == m.calendarDays)
    assert(m.calendarDays == 761L) // the README's month-extended span
    val countries = built.table("dim_customer")
      .select(countDistinct(col("country"))).head().getLong(0)
    assert(countries == m.countries && countries == 42L)
  }

  test("facts, rates, and invoices match the manifest") {
    val fct = built.table("fct_sales")
    assert(fct.count() == m.fctRows)
    assert(built.table("fct_sales_eur").count() == m.fctRows)
    assert(built.table("daily_fx_rates").count() == m.fxDays)
    assert(m.fxDays == 739L) // the README's fct-range FX coverage
    val inv = fct.select(countDistinct(col("invoice_no"))).head().getLong(0)
    assert(inv == m.invoices)
    val dates = fct.agg(min(col("date")).cast("string"),
      max(col("date")).cast("string")).head()
    assert(dates.getString(0) == m.minDate && dates.getString(1) == m.maxDate)
  }

  test("revenue totals are DECIMAL-exact against the manifest walk") {
    val gbp = built.table("fct_sales")
      .agg(sum(col("gross_amount_gbp").cast(DecimalType(38, 6))))
      .head().getDecimal(0)
    val eur = built.table("fct_sales_eur")
      .agg(sum(col("gross_amount_eur").cast(DecimalType(38, 6))))
      .head().getDecimal(0)
    assert(BigDecimal(gbp) == m.netRevenueGbp, s"gbp $gbp != ${m.netRevenueGbp}")
    assert(BigDecimal(eur) == m.netRevenueEur, s"eur $eur != ${m.netRevenueEur}")
  }

  test("referential integrity: every fct key resolves in its dim") {
    val fct = built.table("fct_sales")
    def orphans(dim: String, key: String): Long =
      fct.join(built.table(dim), Seq(key), "left_anti").count()
    assert(orphans("dim_calendar", "date") == 0L)
    assert(orphans("dim_product", "stock_code") == 0L)
    assert(orphans("dim_customer", "customer_id") == 0L)
    // and the EUR conversion covered every fct row (no rate gaps)
    assert(fct.join(built.table("daily_fx_rates"), Seq("date"), "left_anti")
      .count() == 0L)
  }

  test("calendar flags the generated UK holidays inside the span") {
    val flagged = built.table("dim_calendar")
      .filter(col("is_uk_holiday")).select("date")
      .collect().map(_.getDate(0).toString).toSet
    val expected = GoldenFixture.UkHolidays
      .filter(d => d >= "2009-12-01" && d <= "2011-12-31").toSet
    assert(flagged == expected)
  }

  test("every table the build writes is registered with its parquet schema") {
    Seq("raw_retail_data", "raw_fx_rates", "raw_uk_holidays",
      "dim_calendar", "dim_product", "dim_customer", "fct_sales",
      "daily_fx_rates", "fct_sales_eur", "agg_country_day").foreach { t =>
      assert(built.table(t).schema ==
        spark.read.parquet(s"${built.warehouse}/$t").schema, t)
    }
  }

  test("a failed build releases the warehouse; a retry on it succeeds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden_retry")
      .toString
    val small = Golden.scaled(2000)
    val (xlsx, fx, hol) = GoldenSpec.writeRaw(small, dir)
    val corrupt = s"$dir/corrupt.xlsx"
    java.nio.file.Files.write(java.nio.file.Paths.get(corrupt),
      "not a zip archive".getBytes("UTF-8"))
    val wh = s"$dir/warehouse"
    assertThrows[java.util.zip.ZipException](
      RawRetailPipeline.build(spark, corrupt, fx, hol, wh))
    val cat = RawRetailPipeline.build(spark, xlsx, fx, hol, wh)
    try assert(cat.table("fct_sales").count() ==
      GoldenFixture.manifest(small).fctRows)
    finally cat.close()
  }

  test("raw_fx_rates and raw_uk_holidays are staged with no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden_plans")
      .toString
    val (xlsx, fx, hol) = GoldenSpec.writeRaw(Golden.scaled(2000), dir)
    val small = Set("raw_fx_rates", "raw_uk_holidays")
    val plans = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
          new java.io.File(c.outputPath.toString).getName
        }.filter(small).foreach(plans.put(_, qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try RawRetailPipeline.build(spark, xlsx, fx, hol, s"$dir/warehouse").close()
    finally spark.listenerManager.unregister(listener)
    // listener events arrive on the listener bus, after the write returns
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (plans.size < small.size && System.nanoTime() < deadline) Thread.sleep(50)
    assert(plans.keySet.asScala == small)
    plans.asScala.foreach { case (t, plan) =>
      val adaptive = plan.collect { case a: AdaptiveSparkPlanExec => a }
      assert(adaptive.nonEmpty && adaptive.forall(_.isFinalPlan), s"$t:\n$plan")
      val shuffles = (plan +: adaptive.flatMap(a => Seq(a.initialPlan, a.executedPlan)))
        .flatMap(collectWithSubqueries(_) { case e: ShuffleExchangeExec => e })
      assert(shuffles.isEmpty, s"$t:\n$plan")
    }
  }
}

/** The smoke-scale golden build, shared by every suite that reads it
  * (suites run in one JVM, so it is built once).
  */
object GoldenSpec {
  val cfg: GoldenFixture.Config = GoldenFixture.Config(
    rowsSheet1 = 14800, rowsSheet2 = 15200,
    nProducts = 150, nCustomers = 160)

  /** Write the three raw files for `c` under `dir`. */
  def writeRaw(c: GoldenFixture.Config, dir: String): (String, String, String) = {
    val (xlsx, fx, hol) = (s"$dir/retail.xlsx", s"$dir/gbp.xml", s"$dir/holidays.xls")
    GoldenFixture.writeXlsx(c, xlsx)
    GoldenFixture.writeFxXml(fx)
    GoldenFixture.writeHolidaysXls(hol)
    (xlsx, fx, hol)
  }

  lazy val built: graft.engine.Catalog = {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden_spec")
      .toString
    val (xlsx, fx, hol) = writeRaw(cfg, dir)
    RawRetailPipeline.build(SparkTestSession.spark, xlsx, fx, hol,
      s"$dir/warehouse")
  }
}
