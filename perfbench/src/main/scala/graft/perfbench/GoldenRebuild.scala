package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Catalog, Dashboard, GoldenFixture, XlsSource, XlsxSource, XmlFxSource}
import graft.pipeline.RawRetailPipeline

/** The paper's job: raw xlsx/xml/xls files → star schema → monthly view
  * → dashboard, checked against the generator's manifest goldens.
  */
final class GoldenRebuild extends Workload {
  import GoldenRebuild.Tables
  private var cfg: GoldenFixture.Config = _
  private var manifest: GoldenFixture.Manifest = _
  private var xlsx, fxXml, holXls: String = _

  /** The reference workbook's shape, scaled to `rows`; the seed moves
    * the customer-id base and the sheet lengths, so each seed writes
    * different files with their own goldens.
    */
  private def config(rows: Int, seed: Long): GoldenFixture.Config = {
    val full = GoldenFixture.Config()
    val n = rows + (seed % 97).toInt
    val s1 = (n.toLong * full.rowsSheet1 / (full.rowsSheet1 + full.rowsSheet2)).toInt
    GoldenFixture.Config(rowsSheet1 = s1, rowsSheet2 = n - s1,
      nProducts = math.max(60, n / 200), nCustomers = math.max(50, n / 180),
      custBase = 12346L + (seed % 5000) * 10)
  }

  def setup(ctx: Ctx, spans: Spans): Unit = {
    cfg = config(ctx.scale.goldenRows, ctx.seed)
    val raw = ctx.dir("raw")
    xlsx = s"$raw/online_retail_II.xlsx"
    fxXml = s"$raw/gbp.xml"
    holXls = s"$raw/ukbankholidays.xls"
    spans("GoldenFixture.writeXlsx")(GoldenFixture.writeXlsx(cfg, xlsx))
    spans("GoldenFixture.writeFxXml")(GoldenFixture.writeFxXml(fxXml))
    spans("GoldenFixture.writeHolidaysXls")(GoldenFixture.writeHolidaysXls(holXls))
    manifest = spans("GoldenFixture.manifest")(GoldenFixture.manifest(cfg))
  }

  def pass(ctx: Ctx, spans: Spans, passDir: String): Seq[Op] = {
    val spark = ctx.spark
    Seq(Op.timed("golden_rebuild") {
      val cat = spans("RawRetailPipeline.build") {
        RawRetailPipeline.build(spark, xlsx, fxXml, holXls, s"$passDir/warehouse")
      }
      try {
        spans("Catalog.save.v_monthly_sales_summary_materialized") {
          cat.save("v_monthly_sales_summary_materialized",
            RawRetailPipeline.monthlyView(spark, cat))
        }
        val svg = spans("Dashboard.render") {
          Dashboard.render(cat.table("v_monthly_sales_summary_materialized"),
            Some(s"$passDir/monthly_sales_dashboard.svg"))
        }
        val bad = spans("goldens.check")(mismatches(cat)) ++
          (if (svg.startsWith("<svg")) Nil else Seq("dashboard: not an SVG"))
        if (bad.isEmpty) None else Some(s"golden mismatch: ${bad.mkString("; ")}")
      } finally cat.close()
    })
  }

  /** The 16 manifest goldens (the `graft.Golden` checks), as mismatches. */
  private def mismatches(cat: Catalog): Seq[String] = {
    val m = manifest
    def one(df: DataFrame) = df.head()
    val raw = one(cat.table("raw_retail_data").agg(
      count(lit(1)),
      count(when(col("source_sheet") === GoldenFixture.SheetNames(0), 1)),
      count(when(col("source_sheet") === GoldenFixture.SheetNames(1), 1))))
    val fct = one(cat.table("fct_sales").agg(
      count(lit(1)), countDistinct(col("invoice_no")),
      min(col("date")).cast("string"), max(col("date")).cast("string"),
      sum(col("gross_amount_gbp").cast(DecimalType(38, 6)))))
    val eur = one(cat.table("fct_sales_eur").agg(count(lit(1)),
      sum(col("gross_amount_eur").cast(DecimalType(38, 6)))))
    val countries = cat.table("dim_customer")
      .select(countDistinct(col("country"))).head().getLong(0)
    val checks: Seq[(String, Any, Any)] = Seq(
      ("raw_rows", m.rawRows, raw.getLong(0)),
      ("raw_rows_sheet1", m.rawRowsSheet1, raw.getLong(1)),
      ("raw_rows_sheet2", m.rawRowsSheet2, raw.getLong(2)),
      ("fct_rows", m.fctRows, fct.getLong(0)),
      ("fct_eur_rows", m.fctRows, eur.getLong(0)),
      ("invoices", m.invoices, fct.getLong(1)),
      ("products", m.products, cat.table("dim_product").count()),
      ("customers", m.customers, cat.table("dim_customer").count()),
      ("countries", m.countries, countries),
      ("calendar_days", m.calendarDays, cat.table("dim_calendar").count()),
      ("fx_days", m.fxDays, cat.table("daily_fx_rates").count()),
      ("min_date", m.minDate, fct.getString(2)),
      ("max_date", m.maxDate, fct.getString(3)),
      ("net_revenue_gbp", m.netRevenueGbp, BigDecimal(fct.getDecimal(4))),
      ("net_revenue_eur", m.netRevenueEur, BigDecimal(eur.getDecimal(1))),
      ("agg_country_day", m.aggCountryDay, cat.table("agg_country_day").count()))
    checks.collect { case (n, exp, got) if exp.toString != got.toString =>
      s"$n expected=$exp actual=$got" }
  }

  def layers(ctx: Ctx, trace: Trace, passDir: String): Seq[(String, Double)] = {
    val wh = new java.io.File(s"$passDir/warehouse").getCanonicalPath
    val acts = trace.actions.all
    def table(path: String): Option[String] = {
      val p = new java.io.File(new java.net.URI(path).getPath).getCanonicalPath
      if (p.startsWith(wh + "/")) Some(p.stripPrefix(wh + "/").takeWhile(_ != '/'))
      else None
    }
    val writeSecs = acts.flatMap(a => a.outputPath.flatMap(table).map(_ -> a.secs))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val build = trace.spans.spans.filter(_.name == "RawRetailPipeline.build")
    val buildActs = trace.actionsIn("RawRetailPipeline.build")
    val render = trace.spans.spans.filter(_.name == "Dashboard.render")
    val (files, mb) = Workload.written(acts)
    Tables.map(t => s"pipeline.write_s.$t" -> writeSecs.getOrElse(t, 0.0)) ++ Seq(
      "pipeline.driver_s" ->
        (build.map(_.iv.length).sum - buildActs.map(_.secs).sum),
      "pipeline.actions" -> buildActs.size.toDouble,
      "dashboard.render_s" -> render.map(_.iv.length).sum,
      "catalog.files_written" -> files,
      "catalog.mb_written" -> mb)
  }

  /** The byte-level readers, each timed on its own: the eager driver-side
    * parse at load, then the Spark re-read of what it produced.
    */
  override def probes(ctx: Ctx, spans: Spans): Seq[(String, Double)] = {
    val spark = ctx.spark
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spills = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_xlsx_spill_")).toSet
    val before = spills
    val (df, parse) = Workload.secs(spans("XlsxSource.load") {
      XlsxSource(xlsx, RawRetailPipeline.RetailSchema).load(spark)
    })
    val spillMb = (spills -- before).toSeq.map(Workload.dirBytes).sum / 1e6
    val (_, reparse) = Workload.secs(spans("xlsx.reparse")(Workload.toNoop(df)))
    val (_, fx) = Workload.secs(spans("XmlFxSource.load") {
      Workload.toNoop(XmlFxSource(fxXml).load(spark))
    })
    val (_, xls) = Workload.secs(spans("XlsSource.load") {
      Workload.toNoop(XlsSource(holXls, RawRetailPipeline.HolidaysSchema).load(spark))
    })
    val xlsxMb = new java.io.File(xlsx).length() / 1e6
    Seq(
      "sources.xlsx_parse_s" -> parse,
      "sources.xlsx_parse_mb_per_s" -> xlsxMb / parse,
      "sources.xlsx_spill_mb" -> spillMb,
      "sources.xlsx_reparse_s" -> reparse,
      "sources.fx_parse_s" -> fx,
      "sources.xls_parse_s" -> xls)
  }
}

object GoldenRebuild {
  /** Tables the build writes, plus the materialized view. */
  val Tables: Seq[String] = Seq("raw_retail_data", "raw_fx_rates",
    "raw_uk_holidays", "dim_calendar", "dim_product", "dim_customer",
    "fct_sales", "daily_fx_rates", "fct_sales_eur", "agg_country_day",
    "v_monthly_sales_summary_materialized")
}
