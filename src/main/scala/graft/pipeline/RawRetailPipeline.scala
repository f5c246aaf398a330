package graft.pipeline

import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  ExecutorService, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Catalog, Functions, XlsSource, XlsxSource, XmlFxSource}

/** The reference pipeline executed over its OWN raw-file formats — the
  * end-to-end acceptance path: multi-sheet .xlsx retail transactions
  * through [[XlsxSource]], ECB SDMX XML FX rates through
  * [[XmlFxSource]], BIFF8 .xls UK bank holidays through [[XlsSource]],
  * then the reference's exact table chain
  * (`/root/reference/src/run.py:60-83`): raw staging → dim_calendar /
  * dim_product / dim_customer → fct_sales → daily_fx_rates →
  * fct_sales_eur → agg_country_day → v_monthly_sales_summary.
  *
  * [[RetailPipeline]] re-expresses the same OPERATORS over the TPC-H
  * testdata (oracle-gated per-operator); this module reproduces the
  * reference's actual COLUMN CONTRACTS over its actual file formats, so
  * a DuckDB replay of the reference SQL on the staged tables
  * (tools/check_golden.py) can diff every downstream table cell-by-cell.
  *
  * Documented determinism deviations (SURVEY.md §7.4 conventions, used
  * by every oracle-checked query in this repo):
  *  - MODE(...) → deterministic mode (count DESC, value ASC tie-break;
  *    DuckDB/Spark native MODE both tie-break arbitrarily).
  *  - SUM(double) → exact DECIMAL(38,6) accumulation cast back to
  *    double ([[Functions.dsum]]); the float sum is order-dependent and
  *    therefore not cross-engine comparable.
  *  - pandas' `str(nan) == 'nan'` staging artifact is NOT reproduced:
  *    missing cells stay NULL (the reference filters both '' and 'nan'
  *    — `/root/reference/src/models/facts.py:52-54` — and NULL rows are
  *    excluded by both engines identically).
  */
object RawRetailPipeline {

  /** The workbook's original column contract
    * (`/root/reference/src/ingestion/retail_data.py:44-53` mapping).
    */
  val RetailSchema: StructType = StructType(Seq(
    StructField("Invoice", StringType),
    StructField("StockCode", StringType),
    StructField("Description", StringType),
    StructField("Quantity", LongType),
    StructField("InvoiceDate", TimestampType),
    StructField("Price", DoubleType),
    StructField("Customer ID", DoubleType),
    StructField("Country", StringType)))

  val HolidaysSchema: StructType = StructType(Seq(
    StructField("UK BANK HOLIDAYS", DateType)))

  /** Stage + build every table; returns the catalog with
    * raw_retail_data, raw_fx_rates, raw_uk_holidays, dim_calendar,
    * dim_product, dim_customer, fct_sales, daily_fx_rates,
    * fct_sales_eur, agg_country_day and the v_monthly_sales_summary
    * view registered.
    *
    * The tables form a small DAG, built one dependency level at a time;
    * the tables inside a level do not read each other and are built
    * concurrently, so one driver keeps several independent Spark jobs
    * in flight instead of running them one after another:
    *  1. raw_retail_data (xlsx scan, one task per sheet), raw_fx_rates
    *     and raw_uk_holidays (one Spark job each);
    *  2. dim_calendar (after its bounds query), dim_product,
    *     dim_customer;
    *  3. fct_sales, and daily_fx_rates over the fct plan's date range;
    *  4. fct_sales_eur; 5. agg_country_day; then the view.
    * A failed build closes its catalog (releasing the warehouse claim)
    * and rethrows the first failure.
    */
  def build(spark: SparkSession, xlsxPath: String, fxXmlPath: String,
            holidaysXlsPath: String, warehouse: String): Catalog = {
    val cat = new Catalog(spark, warehouse)
    val pool = Executors.newFixedThreadPool(LevelWidth)
    try {
      buildTables(spark, cat, pool, xlsxPath, fxXmlPath, holidaysXlsPath)
      cat
    } catch {
      case t: Throwable =>
        try cat.close() catch { case c: Throwable => t.addSuppressed(c) }
        throw t
    } finally pool.shutdownNow(): Unit
  }

  /** The widest dependency level of [[build]]. */
  private val LevelWidth = 3

  /** Run one dependency level: every branch on its own `pool` thread,
    * then wait for all of them. The first failure (in completion order)
    * is rethrown as the original exception once every branch has
    * finished, with any later failures attached as suppressed.
    */
  private def level(pool: ExecutorService)(branches: (() => Any)*): Unit = {
    val done = new ExecutorCompletionService[Any](pool)
    branches.foreach(b => done.submit(() => b()))
    val failures = branches.flatMap { _ =>
      try { done.take().get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  private def buildTables(spark: SparkSession, cat: Catalog,
                          pool: ExecutorService, xlsxPath: String,
                          fxXmlPath: String, holidaysXlsPath: String): Unit = {
    import spark.implicits._

    // Level 1 — ingestion (retail_data.py / fx_data.py / holidays_data.py).
    // Column renames mirror retail_data.py:44-56; strings arrive trimmed
    // from the readers (the P2 contract).
    level(pool)(
      () => cat.save("raw_retail_data",
        XlsxSource(xlsxPath, RetailSchema).load(spark)
          .select(
            col("Invoice").as("invoice_no"),
            col("StockCode").as("stock_code"),
            col("Description").as("description"),
            col("Quantity").as("qty"),
            col("InvoiceDate").as("invoice_ts"),
            col("Price").as("unit_price_gbp"),
            col("Customer ID").as("customer_id"),
            col("Country").as("country"),
            col("source_sheet"))),
      // The two small sources are parsed on the driver. One partition
      // already satisfies the distinct's and the sort's distribution,
      // so each table is staged in one job with no Exchange.
      () => cat.save("raw_fx_rates",
        XmlFxSource(fxXmlPath).load(spark).coalesce(1)
          .withColumnRenamed("rate", "gbp_per_eur")
          .orderBy("date")),
      () => cat.save("raw_uk_holidays",
        XlsSource(holidaysXlsPath, HolidaysSchema).load(spark).coalesce(1)
          .select(col("UK BANK HOLIDAYS").as("holiday_date"))
          .filter($"holiday_date".isNotNull)
          .distinct().orderBy("holiday_date")))

    // Level 2 — the three dimensions, each over the staged raw tables.
    level(pool)(
      // dim_calendar (dimensions.py:27-95): month-extended range of the
      // raw data, gap-free series, weekend/iso/holiday flags.
      () => {
        val b = cat.table("raw_retail_data")
          .agg(min(to_date($"invoice_ts")), max(to_date($"invoice_ts"))).head()
        val (lo, hi) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
        val calStart = java.sql.Date.valueOf(lo.withDayOfMonth(1))
        val calEnd = java.sql.Date.valueOf(
          hi.withDayOfMonth(1).plusMonths(1).minusDays(1))
        val series = Functions.dateSeries(spark, calStart, calEnd)
        val holidaysInRange = cat.table("raw_uk_holidays")
          .filter($"holiday_date".between(calStart, calEnd))
        val calendar = series.select(
            $"date",
            Functions.isWeekend($"date").as("is_weekend"),
            Functions.isoYear($"date").cast("long").as("iso_year"),
            Functions.isoWeek($"date").cast("long").as("iso_week"),
            month($"date").cast("long").as("month"),
            year($"date").cast("long").as("year"),
            Functions.dowSun0($"date").cast("long").as("day_of_week"),
            Functions.dayName($"date").as("day_name"),
            Functions.monthName($"date").as("month_name"))
          .join(broadcast(holidaysInRange), $"date" === $"holiday_date", "left")
          .withColumn("is_uk_holiday", $"holiday_date".isNotNull)
          .drop("holiday_date")
        cat.save("dim_calendar", calendar, sortBy = Seq("date"))
      },
      // dim_product (dimensions.py:146-171): deterministic mode of
      // description + first/last seen, bad codes filtered. This is
      // [[Functions.modeDet]] and a per-code min/max in one aggregation
      // and one window pass, not a join of two aggregates: AQE plans the
      // two branches' final stages in the order their shuffles finish,
      // so their generated classes' stage ids (part of the codegen cache
      // key) swapped from build to build and were compiled again.
      () => {
        val goodCode = $"stock_code".isNotNull &&
          $"stock_code" =!= "" && $"stock_code" =!= "nan"
        val byCode = Window.partitionBy($"stock_code")
        // non-null descriptions first, then count DESC, value ASC; a
        // code with no description at all has no mode and no row
        val mode = byCode.orderBy($"description".isNull, $"n".desc,
          $"description".asc)
        val product = cat.table("raw_retail_data").filter(goodCode)
          .groupBy($"stock_code", $"description")
          .agg(count(lit(1)).as("n"), min(to_date($"invoice_ts")).as("lo"),
            max(to_date($"invoice_ts")).as("hi"))
          .select($"stock_code", $"description",
            min($"lo").over(byCode).as("first_seen"),
            max($"hi").over(byCode).as("last_seen"),
            row_number().over(mode).as("rn"))
          .filter($"rn" === 1 && $"description".isNotNull)
          .drop("rn")
        cat.save("dim_product", product, sortBy = Seq("stock_code"))
      },
      // dim_customer (dimensions.py:192-216): coalesce(-1) surrogate,
      // deterministic mode of country, UNKNOWN for the surrogate row.
      () => {
        val withSurrogate = cat.table("raw_retail_data")
          .withColumn("customer_id", coalesce($"customer_id", lit(-1.0)))
        val customer = Functions.modeDet(withSurrogate, Seq("customer_id"),
            "country", "country")
          .withColumn("country",
            when($"customer_id" === -1.0, lit("UNKNOWN")).otherwise($"country"))
        cat.save("dim_customer", customer, sortBy = Seq("customer_id"))
      })

    // Level 3 — fct_sales (facts.py:37-57): cleaning filters + inner
    // dim joins (all three dims broadcast — they are entity-bounded).
    val fct = cat.table("raw_retail_data")
      .filter($"stock_code".isNotNull && $"stock_code" =!= "" &&
        $"stock_code" =!= "nan" &&
        $"unit_price_gbp".isNotNull && $"qty".isNotNull)
      .withColumn("date", to_date($"invoice_ts"))
      .withColumn("customer_id", coalesce($"customer_id", lit(-1.0)))
      .join(broadcast(cat.table("dim_calendar").select("date")), Seq("date"))
      .join(broadcast(cat.table("dim_product").select("stock_code")),
        Seq("stock_code"))
      .join(broadcast(cat.table("dim_customer").select("customer_id")),
        Seq("customer_id"))
      .withColumn("gross_amount_gbp", $"qty" * $"unit_price_gbp")
      .select("invoice_no", "stock_code", "customer_id", "date", "qty",
        "unit_price_gbp", "gross_amount_gbp")
    level(pool)(
      () => cat.save("fct_sales", fct, sortBy = Seq("date", "invoice_no")),
      // daily_fx_rates (facts.py:153-202): gap-free series over the FCT
      // date range (taken from the fct plan, so it need not wait for the
      // fct_sales write), forward-filled, leading-null dates dropped.
      () => {
        val fb = fct.agg(min($"date"), max($"date")).head()
        val rates = Functions.forwardFill(
            Functions.dateSeries(spark, fb.getDate(0), fb.getDate(1))
              .join(cat.table("raw_fx_rates")
                .withColumnRenamed("gbp_per_eur", "rate_raw"), Seq("date"), "left"),
            "date", "rate_raw", "gbp_per_eur")
          .select($"date", $"gbp_per_eur")
          .filter($"gbp_per_eur".isNotNull)
        cat.save("daily_fx_rates", rates, sortBy = Seq("date"))
      })

    // Level 4 — fct_sales_eur (facts.py:258-288): GBP→EUR conversion
    // through the daily rate (date-bounded broadcast join).
    val eur = cat.table("fct_sales")
      .join(broadcast(cat.table("daily_fx_rates")), Seq("date"))
      .select($"invoice_no", $"stock_code", $"customer_id", $"date", $"qty",
        $"unit_price_gbp",
        ($"unit_price_gbp" / $"gbp_per_eur").as("unit_price_eur"),
        $"gross_amount_gbp",
        ($"gross_amount_gbp" / $"gbp_per_eur").as("gross_amount_eur"),
        $"gbp_per_eur".as("fx_rate_used"))
    cat.save("fct_sales_eur", eur, sortBy = Seq("date", "invoice_no"))

    // Level 5 — agg_country_day (facts.py:349-421): fct ⋈ fct_eur on
    // the composite line key, dims re-attached, per-(date, country)
    // rollup with the calendar context columns.
    val f = cat.table("fct_sales")
    val fe = cat.table("fct_sales_eur")
      .select($"invoice_no", $"stock_code", $"date", $"customer_id",
        $"gross_amount_eur")
    val agg = f
      .join(fe, Seq("invoice_no", "stock_code", "date", "customer_id"))
      .join(broadcast(cat.table("dim_customer")), Seq("customer_id"))
      .join(broadcast(cat.table("dim_calendar")
        .select($"date", $"is_weekend", $"is_uk_holiday", $"iso_week",
          $"iso_year", $"month", $"year")), Seq("date"))
      .groupBy($"date", $"country", $"is_weekend", $"is_uk_holiday",
        $"iso_week", $"iso_year", $"month", $"year")
      .agg(
        countDistinct(when(!$"invoice_no".like("C%"), $"invoice_no"))
          .as("orders"),
        count(lit(1)).as("items"),
        sum($"qty").as("net_qty"),
        Functions.dsum($"gross_amount_gbp").as("net_revenue_gbp"),
        Functions.dsum($"gross_amount_eur").as("net_revenue_eur"))
      .select($"date", $"country", $"orders", $"items", $"net_qty",
        $"net_revenue_gbp", $"net_revenue_eur", $"is_weekend",
        $"is_uk_holiday", $"iso_week", $"iso_year", $"month", $"year")
    cat.save("agg_country_day", agg, sortBy = Seq("date", "country"))

    // The monthly view (the reference's
    // sql/views/monthly_sales_summary.sql:5-41).
    cat.createView("v_monthly_sales_summary", monthlyView(spark, cat)): Unit
  }

  /** The reference view, column-for-column (rounded ratio columns
    * included — the golden checker compares them with a midpoint
    * tolerance, SURVEY.md §7.4).
    */
  def monthlyView(spark: SparkSession, cat: Catalog): DataFrame = {
    import spark.implicits._
    cat.table("agg_country_day")
      .filter($"net_revenue_gbp" > 0)
      .groupBy(year($"date").cast("long").as("year"),
        month($"date").cast("long").as("month"),
        trunc($"date", "month").as("month_start_date"),
        $"country")
      .agg(
        countDistinct($"date").as("trading_days"),
        sum($"orders").as("total_orders"),
        sum($"items").as("total_items"),
        sum($"net_qty").as("total_quantity"),
        Functions.dsum($"net_revenue_gbp").as("total_revenue_gbp"),
        Functions.dsum($"net_revenue_eur").as("total_revenue_eur"))
      .withColumn("avg_daily_revenue_gbp",
        round($"total_revenue_gbp" /
          nullif($"trading_days".cast("double"), lit(0.0)), 2))
      .withColumn("avg_daily_orders",
        round($"total_orders".cast("double") /
          nullif($"trading_days".cast("double"), lit(0.0)), 2))
      .withColumn("avg_order_value_gbp",
        round($"total_revenue_gbp" /
          nullif($"total_orders".cast("double"), lit(0.0)), 2))
  }
}
