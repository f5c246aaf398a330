package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.GoldenFixture
import graft.pipeline.RawRetailPipeline

/** End-to-end golden harness (SURVEY.md §5): generate the
  * production-scale raw files (the reference's real `data/raw` files are
  * git-LFS pointer stubs with no payload on this machine — see
  * [[GoldenFixture]]), parse them through the byte-level Sources, run
  * the reference's table chain ([[RawRetailPipeline]]), and assert the
  * golden numbers computed independently from the generator's row model
  * (no file parsing on the manifest side). Revenue goldens compare in
  * exact DECIMAL(38,6) — not a rounded double.
  *
  * Usage: runMain graft.Golden <outDir>
  * SPARK_GRAFT_GOLDEN_ROWS scales the workbook down for smoke runs.
  * Writes <outDir>/goldens.json; exits nonzero on any mismatch. The
  * DuckDB differential over the staged tables is tools/check_golden.py.
  */
object Golden {

  def config(): GoldenFixture.Config =
    sys.env.get("SPARK_GRAFT_GOLDEN_ROWS").map(_.toInt)
      .fold(GoldenFixture.Config())(scaled)

  /** The full workbook's shape scaled down to `n` rows. */
  def scaled(n: Int): GoldenFixture.Config = {
    val full = GoldenFixture.Config()
    val s1 = (n.toLong * full.rowsSheet1 / (full.rowsSheet1 + full.rowsSheet2)).toInt
    GoldenFixture.Config(
      rowsSheet1 = s1, rowsSheet2 = n - s1,
      nProducts = math.max(60, n / 200),
      nCustomers = math.max(50, n / 180))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("golden_out")
    val spark = graft.engine.Graft.session("graft-golden")
    val failures = try run(spark, outDir, config()) finally spark.stop()
    if (failures > 0) {
      System.err.println(s"[golden] $failures golden(s) FAILED")
      sys.exit(1)
    }
  }

  /** Generate the raw files under `outDir/raw`, build the warehouse in
    * `outDir/warehouse` (the tables, the materialized view and the
    * dashboard SVG), check the manifest goldens and write
    * `outDir/goldens.json`; returns the number of failed goldens.
    */
  def run(spark: org.apache.spark.sql.SparkSession, outDir: String,
          cfg: GoldenFixture.Config): Int = {
    val rawDir = s"$outDir/raw"
    new java.io.File(rawDir).mkdirs()

    val t0 = System.nanoTime()
    val xlsx = s"$rawDir/online_retail_II.xlsx"
    val fxXml = s"$rawDir/gbp.xml"
    val holXls = s"$rawDir/ukbankholidays.xls"
    GoldenFixture.writeXlsx(cfg, xlsx)
    GoldenFixture.writeFxXml(fxXml)
    GoldenFixture.writeHolidaysXls(holXls)
    val genSecs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[golden] raw files generated in $genSecs%.1f s " +
      f"(xlsx ${new java.io.File(xlsx).length() / 1e6}%.1f MB)")

    val t1 = System.nanoTime()
    val cat = RawRetailPipeline.build(spark, xlsx, fxXml, holXls,
      s"$outDir/warehouse")
    // materialize the view result too, for the DuckDB differential
    cat.save("v_monthly_sales_summary_materialized",
      RawRetailPipeline.monthlyView(spark, cat))
    // the reference flow's last step: the analysis dashboard
    // (analyze_monthly_sales.py) — rendered from the same view
    graft.engine.Dashboard.render(
      cat.table("v_monthly_sales_summary_materialized"),
      Some(s"$outDir/monthly_sales_dashboard.svg")): Unit
    val buildSecs = (System.nanoTime() - t1) / 1e9

    val m = GoldenFixture.manifest(cfg)
    def one(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row =
      df.head()
    val raw = cat.table("raw_retail_data")
    val rawCounts = one(raw.agg(
      count(lit(1)),
      count(when(col("source_sheet") === GoldenFixture.SheetNames(0), 1)),
      count(when(col("source_sheet") === GoldenFixture.SheetNames(1), 1))))
    val fct = cat.table("fct_sales")
    val fctStats = one(fct.agg(
      count(lit(1)),
      countDistinct(col("invoice_no")),
      min(col("date")).cast("string"),
      max(col("date")).cast("string"),
      sum(col("gross_amount_gbp").cast(DecimalType(38, 6)))))
    val eurSum = one(cat.table("fct_sales_eur")
      .agg(count(lit(1)),
        sum(col("gross_amount_eur").cast(DecimalType(38, 6)))))
    val dims = Map(
      "dim_product" -> cat.table("dim_product").count(),
      "dim_customer" -> cat.table("dim_customer").count(),
      "dim_calendar" -> cat.table("dim_calendar").count(),
      "daily_fx_rates" -> cat.table("daily_fx_rates").count(),
      "agg_country_day" -> cat.table("agg_country_day").count(),
      "v_monthly_sales_summary" ->
        cat.table("v_monthly_sales_summary_materialized").count())
    val countries = cat.table("dim_customer")
      .select(countDistinct(col("country"))).head().getLong(0)

    val achievedGbp = BigDecimal(fctStats.getDecimal(4))
    val achievedEur = BigDecimal(eurSum.getDecimal(1))
    val checks: Seq[(String, Any, Any)] = Seq(
      ("raw_rows", m.rawRows, rawCounts.getLong(0)),
      ("raw_rows_sheet1", m.rawRowsSheet1, rawCounts.getLong(1)),
      ("raw_rows_sheet2", m.rawRowsSheet2, rawCounts.getLong(2)),
      ("fct_rows", m.fctRows, fctStats.getLong(0)),
      ("fct_eur_rows", m.fctRows, eurSum.getLong(0)),
      ("invoices", m.invoices, fctStats.getLong(1)),
      ("products", m.products, dims("dim_product")),
      ("customers", m.customers, dims("dim_customer")),
      ("countries", m.countries, countries),
      ("calendar_days", m.calendarDays, dims("dim_calendar")),
      ("fx_days", m.fxDays, dims("daily_fx_rates")),
      ("min_date", m.minDate, fctStats.getString(2)),
      ("max_date", m.maxDate, fctStats.getString(3)),
      ("net_revenue_gbp", m.netRevenueGbp, achievedGbp),
      ("net_revenue_eur", m.netRevenueEur, achievedEur),
      ("agg_country_day", m.aggCountryDay, dims("agg_country_day")))
    val failures = checks.filter { case (_, exp, got) =>
      exp.toString != got.toString
    }
    checks.foreach { case (name, exp, got) =>
      val mark = if (exp.toString == got.toString) "OK  " else "FAIL"
      System.err.println(s"[golden] $mark $name expected=$exp actual=$got")
    }
    // README.md:96-118 shape targets (the real data's published
    // numbers, reproduced as cardinalities by construction at full
    // scale; informational at smoke scale)
    System.err.println(s"[golden] README shape: fct=1.07M dims=5.3K/5.9K/761 " +
      s"rates=739 countries=42 invoices=53K revenue=£19.3M/€22.3M")
    System.err.println(f"[golden] achieved:     fct=${fctStats.getLong(0)}%d " +
      f"dims=${dims("dim_product")}%d/${dims("dim_customer")}%d/" +
      f"${dims("dim_calendar")}%d rates=${dims("daily_fx_rates")}%d " +
      f"countries=$countries%d invoices=${fctStats.getLong(1)}%d " +
      f"revenue=GBP ${achievedGbp.toDouble / 1e6}%.2fM/EUR " +
      f"${achievedEur.toDouble / 1e6}%.2fM")
    System.err.println(f"[golden] build took $buildSecs%.1f s " +
      f"(agg=${dims("agg_country_day")}%d rows, " +
      f"view=${dims("v_monthly_sales_summary")}%d rows)")

    val json = new StringBuilder
    json.append("{")
    json.append(checks.map { case (name, exp, got) =>
      val e = exp.toString; val g = got.toString
      val quote = (s: String) =>
        if (s.matches("-?\\d+(\\.\\d+)?")) s else "\"" + s + "\""
      s""""$name":{"expected":${quote(e)},"actual":${quote(g)},"match":${e == g}}"""
    }.mkString(","))
    json.append(s""","gen_secs":$genSecs,"build_secs":$buildSecs""")
    json.append(s""","agg_rows":${dims("agg_country_day")}""")
    json.append(s""","view_rows":${dims("v_monthly_sales_summary")}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/goldens.json"),
      (json.toString + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    cat.close()
    failures.size
  }
}
