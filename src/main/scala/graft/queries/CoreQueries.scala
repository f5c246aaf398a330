package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Checksum, Functions, Graft}

/** Relational operator coverage over the driver testdata (SURVEY.md §2).
  *
  * Each query re-expresses one (or a cluster of) reference operators over
  * the TPC-H-ish tables, with a DuckDB oracle. Determinism rules
  * (SURVEY.md §7.4): money sums via exact DECIMAL accumulation
  * ([[Functions.dsum]]), explicit ORDER BY everywhere, integer outputs
  * cast to BIGINT on both sides.
  */
object CoreQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(spark, dir, name)

  /** Shared base: per-(day, country) rollup — the reference's
    * `agg_country_day` re-expressed (facts.py:369-412). Exercises J1-J3
    * (broadcast dims), G4 (conditional distinct), G5 (multi-key group),
    * P6 (CASE), P7 (arithmetic).
    *
    * Scale shape: lineitem is PRE-AGGREGATED per order key before the
    * big join (Catalyst cannot push an aggregate through a join on its
    * own), so the orderkey shuffle moves one compact row per order
    * instead of every line item — ~4x fewer shuffle rows at TPC-H
    * ratios, more at 100 TB. Results are bit-identical to the flat
    * join+group the oracle runs: the per-order partials stay exact
    * DECIMAL(38,6), and exact decimal sums are associative.
    */
  def dailyCountryRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val perOrder = li.groupBy(li("l_orderkey"))
      .agg(count(lit(1)).as("line_items"),
        sum(li("l_quantity").cast(dec)).as("qty_dec"),
        sum((li("l_extendedprice") * (lit(1) - li("l_discount"))).cast(dec))
          .as("net_dec"))
    perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(to_date(o("o_orderdate")).as("date"), n("n_name").as("country"))
      .agg(
        countDistinct(when(not(o("o_orderstatus").startsWith("F")),
          o("o_orderkey"))).as("orders"),
        sum(col("line_items")).as("items"),
        sum(col("qty_dec")).cast("double").as("net_qty"),
        sum(col("net_dec")).cast("double").as("net_revenue"))
  }

  /** [[dailyCountryRollup]] memoized per input dir — the day×country
    * aggregate is read by FIVE registered queries (g5, g6, s7, g9, g11
    * via the monthly view), and re-running the lineitem-scale
    * pre-aggregation pipeline once per consumer is exactly the waste
    * the reference avoids by materializing `agg_country_day` as a
    * TABLE (facts.py:366-370, `CREATE TABLE agg_country_day AS`)
    * rather than a view.
    * The fused plan stays exercised — it is this memo's builder, and
    * PlanSpec guards its shape directly — while consumers read the
    * ~day×country-cardinality parquet (10⁴ rows at any corpus size).
    */
  def dailyCountryRollupShared(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Scratch.memoized(spark, s"daily_rollup:$dir",
      "daily_rollup", dailyCountryRollup(spark, dir))

  /** The daily rollup as an ingest artifact: the reference materializes
    * `agg_country_day` as a TABLE at ingest (facts.py `CREATE TABLE ... AS`).
    */
  val DailyRollup: Artifact = Artifact("daily_rollup_build",
    (s, d) => dailyCountryRollupShared(s, d): Unit)

  private val DailySql: String =
    """SELECT CAST(o.o_orderdate AS DATE) AS date, n.n_name AS country,
      |  COUNT(DISTINCT CASE WHEN o.o_orderstatus NOT LIKE 'F%' THEN o.o_orderkey END) AS orders,
      |  COUNT(*) AS items,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS net_qty,
      |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** Flagship: monthly sales summary — the reference's
    * `v_monthly_sales_summary` (sql/views/monthly_sales_summary.sql)
    * re-expressed. Adds G6 re-aggregation, P8 NULLIF/ROUND, P14 filter,
    * D2/D6 date extraction on top of [[dailyCountryRollup]].
    */
  def monthlySummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    monthlySummaryUnordered(spark, dir).orderBy($"year", $"month", $"country")
  }

  /** [[monthlySummary]] without the presentation sort — for consumers
    * (g11's window) whose own exchange would discard a global range
    * sort the instant it repartitions: at 100 TB that sort is a full
    * extra shuffle of the aggregate for nothing.
    */
  def monthlySummaryUnordered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = dailyCountryRollupShared(spark, dir)
    daily
      // PRE-aggregation revenue filter — the reference's placement
      // (monthly_sales_summary.sql:31 `WHERE net_revenue_gbp > 0`):
      // return-only days are excluded from the monthly totals AND from
      // trading_days, not merely zero-revenue months from the output
      .filter($"net_revenue" > 0)
      .groupBy(
        year($"date").cast("long").as("year"),
        month($"date").cast("long").as("month"),
        trunc($"date", "month").as("month_start_date"),
        $"country")
      .agg(
        countDistinct($"date").as("trading_days"),
        sum($"orders").as("total_orders"),
        sum($"items").as("total_items"),
        Functions.dsum($"net_qty").as("total_quantity"),
        Functions.dsum($"net_revenue").as("total_revenue"))
      .withColumn("avg_daily_revenue",
        round($"total_revenue" / $"trading_days", 2))
      .withColumn("avg_daily_orders",
        round($"total_orders".cast("double") / $"trading_days", 2))
      .withColumn("avg_order_value",
        round($"total_revenue" / when($"total_orders" =!= 0, $"total_orders"), 2))
  }

  /** Shared DuckDB oracle for the monthly view shape — used by both
    * g6_monthly_summary (DataFrame path) and s7_view_from_sql (SQL-text
    * view path): the two must hash-match the same oracle.
    */
  private val MonthlySql: String =
    s"""WITH daily AS ($DailySql),
       |monthly AS (
       |  SELECT EXTRACT(year FROM date) AS year, EXTRACT(month FROM date) AS month,
       |    CAST(DATE_TRUNC('month', date) AS DATE) AS month_start_date, country,
       |    COUNT(DISTINCT date) AS trading_days,
       |    CAST(SUM(orders) AS BIGINT) AS total_orders,
       |    CAST(SUM(items) AS BIGINT) AS total_items,
       |    CAST(SUM(CAST(net_qty AS DECIMAL(38,6))) AS DOUBLE) AS total_quantity,
       |    CAST(SUM(CAST(net_revenue AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue
       |  FROM daily WHERE net_revenue > 0 GROUP BY 1, 2, 3, 4)
       |SELECT *, ROUND(total_revenue / trading_days, 2) AS avg_daily_revenue,
       |  ROUND(total_orders / trading_days, 2) AS avg_daily_orders,
       |  ROUND(total_revenue / NULLIF(total_orders, 0), 2) AS avg_order_value
       |FROM monthly
       |ORDER BY year, month, country""".stripMargin

  def all: Seq[Q] = Seq(

    Q("g6_monthly_summary",
      "G6/P8/P14/D2/D6 — monthly re-aggregation of the daily rollup " +
        "(v_monthly_sales_summary analog)",
      (s, d) => monthlySummary(s, d),
      Some(MonthlySql),
      artifacts = Seq(DailyRollup)),

    Q("s7_view_from_sql",
      "S7 (SQL-text path) — the monthly view created by executing a " +
        "dialect-adjusted .sql file read from disk, exactly like the " +
        "reference (analyze_monthly_sales.py:30-39 reads and executes " +
        "sql/views/monthly_sales_summary.sql); output hash-matches the " +
        "same oracle as g6_monthly_summary",
      (s, d) => {
        import s.implicits._
        // query-scoped registration: binding the view to a name of our
        // own means a session-global `agg_country_day` (e.g. the
        // RetailPipeline warehouse table) is never clobbered.
        dailyCountryRollupShared(s, d).createOrReplaceTempView("s7_agg_country_day")
        // resolve the view file independent of the working directory
        val rel = "sql/views/monthly_sales_summary.sql"
        val path = Seq(rel, s"/root/repo/$rel")
          .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          .getOrElse(rel)
        // scratch-fresh warehouse path: a FIXED path here once made s7
        // fail transiently — the single-writer _LOCK survives process
        // exit, and when the dead holder's pid gets recycled to a live
        // process the stale-steal legitimately refuses. Fresh per
        // session ⇒ no cross-process lock collisions by construction.
        val view = new graft.engine.Catalog(s, Scratch.fresh(s, "s7_wh"))
          .createViewFromSql(path,
            rewrites = Map(
              "agg_country_day" -> "s7_agg_country_day",
              // the created view too: RetailPipeline registers the
              // session-global v_monthly_sales_summary, and suites share
              // one SparkSession under sbt's parallel execution.
              "v_monthly_sales_summary" -> "s7_monthly_sales_summary"))
        view.orderBy($"year", $"month", $"country")
      },
      Some(MonthlySql),
      artifacts = Seq(DailyRollup)),

    Q("r1_top_products_by_revenue",
      "README 'Top Products by Revenue' analog " +
        "(/root/reference/README.md:152-163): product-dim join, " +
        "returns excluded, top-10 products by revenue with line-item " +
        "counts (broadcast dim + TakeOrderedAndProject)",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val p = t(s, d, "part")
        li.filter(col("l_returnflag") =!= "R" && col("l_quantity") > 0)
          .join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(li("l_partkey").as("stock_code"),
            p("p_name").as("description"))
          .agg(
            Functions.dsum(li("l_extendedprice") * (lit(1) - li("l_discount")))
              .as("total_revenue"),
            count(lit(1)).as("line_items"))
          .orderBy(col("total_revenue").desc, col("stock_code"))
          .limit(10)
      },
      Some(
        """SELECT l.l_partkey AS stock_code, p.p_name AS description,
          |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue,
          |  COUNT(*) AS line_items
          |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |WHERE l.l_returnflag != 'R' AND l.l_quantity > 0
          |GROUP BY 1, 2
          |ORDER BY total_revenue DESC, stock_code LIMIT 10""".stripMargin)),

    Q("r2_customer_geo_analysis",
      "README 'Customer Geographic Analysis' analog " +
        "(/root/reference/README.md:166-177): customer-dim join, " +
        "returns excluded, per-country distinct customers, revenue, and " +
        "average transaction value (computed as exact-sum / count, not " +
        "AVG(double), so the result is partitioning-independent)",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val dec = org.apache.spark.sql.types.DecimalType(38, 6)
        // same pre-aggregation shape as dailyCountryRollup: filter and
        // reduce lineitem per order before the big join
        val perOrder = li.filter(col("l_returnflag") =!= "R")
          .groupBy(li("l_orderkey"))
          .agg(count(lit(1)).as("line_items"),
            sum((li("l_extendedprice") * (lit(1) - li("l_discount"))).cast(dec))
              .as("net_dec"))
        perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(n("n_name").as("country"))
          .agg(
            countDistinct(o("o_custkey")).as("customers"),
            sum(col("net_dec")).cast("double").as("revenue"),
            sum(col("line_items")).as("n_transactions"))
          .withColumn("avg_transaction", col("revenue") / col("n_transactions"))
          .orderBy(col("revenue").desc, col("country"))
      },
      Some(
        """SELECT n.n_name AS country,
          |  COUNT(DISTINCT o.o_custkey) AS customers,
          |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_transactions,
          |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_transaction
          |FROM lineitem l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |WHERE l.l_returnflag != 'R'
          |GROUP BY 1 ORDER BY revenue DESC, country""".stripMargin)),

    Q("g5_daily_country_rollup",
      "G5/G4/J1-J3/P6/P7 — 2-key day×country rollup with conditional " +
        "distinct orders (agg_country_day analog)",
      (s, d) => {
        val r = dailyCountryRollupShared(s, d)
        r.orderBy(r("date"), r("country"))
      },
      Some(s"""SELECT * FROM ($DailySql) daily ORDER BY date, country"""),
      artifacts = Seq(DailyRollup)),

    Q("g1_mode_deterministic",
      "G1/G2 — deterministic MODE (count desc, value asc) per group " +
        "(dim_product description mode analog)",
      (s, d) => Functions
        .modeDet(t(s, d, "documents"), Seq("source"), "lang", "mode_lang")
        .orderBy("source"),
      Some(
        """SELECT source, mode_lang FROM (
          |  SELECT source, lang AS mode_lang,
          |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang ASC) AS rn
          |  FROM documents WHERE lang IS NOT NULL GROUP BY source, lang) t
          |WHERE rn = 1 ORDER BY source""".stripMargin)),

    Q("g3_global_multi_agg",
      "G3 — global multi-aggregate: COUNT(*), 3× COUNT(DISTINCT), " +
        "SUM(CASE) (facts.py:69-79 analog)",
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("long").as("n_returned"),
        Functions.dsum(when(col("l_quantity") > 0,
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))).as("gross_revenue")),
      Some(
        """SELECT COUNT(*) AS n_rows,
          |  COUNT(DISTINCT l_orderkey) AS n_orders,
          |  COUNT(DISTINCT l_partkey) AS n_parts,
          |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
          |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
          |  CAST(SUM(CAST(CASE WHEN l_quantity > 0 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS gross_revenue
          |FROM lineitem""".stripMargin)),

    Q("g4_conditional_distinct",
      "G4 — COUNT(DISTINCT CASE WHEN ...) cancellation-excluding order " +
        "count (facts.py:375-378 analog)",
      (s, d) => t(s, d, "orders").agg(
        countDistinct(when(not(col("o_orderstatus").startsWith("F")),
          col("o_orderkey"))).as("open_orders"),
        countDistinct(col("o_orderkey")).as("all_orders")),
      Some(
        """SELECT
          |  COUNT(DISTINCT CASE WHEN o_orderstatus NOT LIKE 'F%' THEN o_orderkey END) AS open_orders,
          |  COUNT(DISTINCT o_orderkey) AS all_orders
          |FROM orders""".stripMargin)),

    Q("w1_forward_fill",
      "W1/J4/D7 — gap-free date series LEFT JOIN sparse daily values, " +
        "LAST_VALUE IGNORE NULLS forward-fill (daily_fx_rates analog)",
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
        val b = o.agg(min(to_date($"o_orderdate")), max(to_date($"o_orderdate"))).head()
        val series = Functions.dateSeries(s, b.getDate(0), b.getDate(1))
        val dailyV = o.groupBy(to_date($"o_orderdate").as("date"))
          .agg(max($"o_totalprice").as("v"))
        val joined = series.join(dailyV, Seq("date"), "left")
        Functions.forwardFill(joined, "date", "v", "v_filled")
          .select($"date", $"v_filled").orderBy($"date")
      },
      Some(
        """WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo, MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
          |series AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date FROM b),
          |daily AS (SELECT CAST(o_orderdate AS DATE) AS date, MAX(o_totalprice) AS v FROM orders GROUP BY 1)
          |SELECT s.date,
          |  LAST_VALUE(dv.v IGNORE NULLS) OVER (ORDER BY s.date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
          |FROM series s LEFT JOIN daily dv ON s.date = dv.date
          |ORDER BY s.date""".stripMargin)),

    Q("dim_calendar",
      "D1-D9/D7 — calendar dimension from a generated date series: dow " +
        "(Sun=0), weekend, ISO year/week, day/month names, month snapping",
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
        val b = o.agg(min(to_date($"o_orderdate")), max(to_date($"o_orderdate"))).head()
        Functions.dateSeries(s, b.getDate(0), b.getDate(1))
          .select($"date",
            Functions.dowSun0($"date").cast("long").as("day_of_week"),
            Functions.isWeekend($"date").as("is_weekend"),
            Functions.isoYear($"date").cast("long").as("iso_year"),
            Functions.isoWeek($"date").cast("long").as("iso_week"),
            month($"date").cast("long").as("month"),
            year($"date").cast("long").as("year"),
            Functions.dayName($"date").as("day_name"),
            Functions.monthName($"date").as("month_name"),
            trunc($"date", "month").as("month_start_date"),
            last_day($"date").as("month_end_date"))
          .orderBy($"date")
      },
      Some(
        """WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo, MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
          |series AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date FROM b)
          |SELECT date,
          |  EXTRACT(dow FROM date) AS day_of_week,
          |  EXTRACT(dow FROM date) IN (0, 6) AS is_weekend,
          |  EXTRACT(isoyear FROM date) AS iso_year,
          |  EXTRACT(week FROM date) AS iso_week,
          |  EXTRACT(month FROM date) AS month,
          |  EXTRACT(year FROM date) AS year,
          |  DAYNAME(date) AS day_name,
          |  MONTHNAME(date) AS month_name,
          |  CAST(DATE_TRUNC('month', date) AS DATE) AS month_start_date,
          |  LAST_DAY(date) AS month_end_date
          |FROM series ORDER BY date""".stripMargin)),

    Q("w2_lag_gap_check",
      "W2/D8 — LAG window over ordered dates + datediff gap count " +
        "(calendar continuity check, dimensions.py:129-143 analog)",
      (s, d) => {
        import s.implicits._
        val dates = t(s, d, "orders")
          .select(to_date($"o_orderdate").as("date")).distinct()
        val w = org.apache.spark.sql.expressions.Window.orderBy($"date")
        dates.withColumn("prev", lag($"date", 1).over(w))
          .filter($"prev".isNotNull && datediff($"date", $"prev") > 1)
          .agg(count(lit(1)).as("n_gaps"))
      },
      Some(
        """WITH dates AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders),
          |gaps AS (SELECT date, LAG(date) OVER (ORDER BY date) AS prev FROM dates)
          |SELECT COUNT(*) AS n_gaps FROM gaps
          |WHERE prev IS NOT NULL AND DATE_DIFF('day', prev, date) > 1""".stripMargin)),

    Q("p1_rename_trim_scan",
      "S4/P1/P2 — table scan with rename + trim normalization " +
        "(retail_data.py:42-61 analog)",
      (s, d) => t(s, d, "region")
        .select(col("r_regionkey").cast("long").as("region_id"),
          trim(concat(lit(" "), col("r_name"), lit(" "))).as("region_name"))
        .orderBy("region_id"),
      Some(
        """SELECT CAST(r_regionkey AS BIGINT) AS region_id,
          |  TRIM(CONCAT(' ', r_name, ' ')) AS region_name
          |FROM region ORDER BY region_id""".stripMargin)),

    Q("p3_like_filter",
      "P3 — LIKE / NOT LIKE prefix predicates (cancellation-detection " +
        "analog, retail_data.py:79)",
      (s, d) => t(s, d, "orders")
        .filter(col("o_orderstatus").like("F%") &&
          !col("o_orderpriority").like("3%"))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
          |WHERE o_orderstatus LIKE 'F%' AND o_orderpriority NOT LIKE '3%'
          |ORDER BY o_orderkey""".stripMargin)),

    Q("p11_in_subquery",
      "P11 — IN (subquery) semi-join + scalar subqueries " +
        "(dimensions.py:88-93 analog)",
      (s, d) => {
        Graft.registerAll(s, d)
        s.sql(
          """SELECT o_orderkey, o_custkey FROM orders
            |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey < 10)
            |  AND o_orderkey BETWEEN (SELECT MIN(o_orderkey) FROM orders)
            |                     AND (SELECT MIN(o_orderkey) FROM orders) + 500
            |ORDER BY o_orderkey""".stripMargin)
      },
      Some(
        """SELECT o_orderkey, o_custkey FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey < 10)
          |  AND o_orderkey BETWEEN (SELECT MIN(o_orderkey) FROM orders)
          |                     AND (SELECT MIN(o_orderkey) FROM orders) + 500
          |ORDER BY o_orderkey""".stripMargin)),

    Q("u1_integrity_report",
      "U1/J8 — labeled UNION ALL of referential-integrity anti-join " +
        "counts (facts.py:114-139 analog)",
      (s, d) => {
        val o = t(s, d, "orders"); val c = t(s, d, "customer")
        val li = t(s, d, "lineitem"); val p = t(s, d, "part")
        def branch(nm: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("violations"))
            .select(lit(nm).as("check_name"), col("violations"))
        branch("lineitem_without_order",
            li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"))
          .unionByName(branch("lineitem_without_part",
            li.join(p, li("l_partkey") === p("p_partkey"), "left_anti")))
          .unionByName(branch("orders_without_customer",
            o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
          .orderBy("check_name")
      },
      Some(
        """SELECT * FROM (
          |  SELECT 'lineitem_without_order' AS check_name, COUNT(*) AS violations
          |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  WHERE o.o_orderkey IS NULL
          |  UNION ALL
          |  SELECT 'lineitem_without_part', COUNT(*)
          |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
          |  WHERE p.p_partkey IS NULL
          |  UNION ALL
          |  SELECT 'orders_without_customer', COUNT(*)
          |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          |  WHERE c.c_custkey IS NULL) t
          |ORDER BY check_name""".stripMargin)),

    Q("g9_topk_revenue",
      "G9/O2 — top-k countries by revenue (TakeOrderedAndProject)",
      (s, d) => {
        val r = dailyCountryRollupShared(s, d)
        val agg = r.groupBy(r("country"))
          .agg(Functions.dsum(r("net_revenue")).as("revenue"))
        agg.orderBy(agg("revenue").desc, agg("country")).limit(5)
      },
      Some(
        s"""SELECT country, CAST(SUM(CAST(net_revenue AS DECIMAL(38,6))) AS DOUBLE) AS revenue
           |FROM ($DailySql) daily
           |GROUP BY country ORDER BY revenue DESC, country LIMIT 5""".stripMargin),
      artifacts = Seq(DailyRollup)),

    Q("g11_mom_growth",
      "G11/W2(partitioned) — month-over-month revenue growth per " +
        "country from the monthly summary (the dashboard's growth calc, " +
        "analyze_monthly_sales.py:162-168, as a partitioned LAG window)",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"country").orderBy($"year", $"month")
        monthlySummaryUnordered(s, d)
          .select($"year", $"month", $"country", $"total_revenue")
          .withColumn("prev_revenue", lag($"total_revenue", 1).over(w))
          .withColumn("growth_pct",
            ($"total_revenue" - $"prev_revenue") / $"prev_revenue" * 100)
          .filter($"prev_revenue".isNotNull)
          .orderBy($"country", $"year", $"month")
      },
      Some(
        s"""WITH daily AS ($DailySql),
           |monthly AS (
           |  SELECT EXTRACT(year FROM date) AS year, EXTRACT(month FROM date) AS month,
           |    country,
           |    CAST(SUM(CAST(net_revenue AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue
           |  FROM daily WHERE net_revenue > 0 GROUP BY 1, 2, 3),
           |lagged AS (
           |  SELECT year, month, country, total_revenue,
           |    LAG(total_revenue) OVER (PARTITION BY country ORDER BY year, month) AS prev_revenue
           |  FROM monthly)
           |SELECT year, month, country, total_revenue, prev_revenue,
           |  (total_revenue - prev_revenue) / prev_revenue * 100 AS growth_pct
           |FROM lagged WHERE prev_revenue IS NOT NULL
           |ORDER BY country, year, month""".stripMargin),
      artifacts = Seq(DailyRollup)),

    Q("w3_ranking",
      "Ranking windows — rank, dense_rank, ntile, cume_dist, lead over " +
        "nation partitions (the ranking family the reference never " +
        "needed; completes the window-function surface)",
      (s, d) => {
        import s.implicits._
        val c = t(s, d, "customer")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
        c.select($"c_nationkey", $"c_custkey", $"c_acctbal")
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("next_bal", lead($"c_acctbal", 1).over(w))
          .filter($"rnk" <= 3)
          .orderBy($"c_nationkey", $"rnk")
      },
      Some(
        """SELECT * FROM (
          |  SELECT c_nationkey, c_custkey, c_acctbal,
          |    CAST(RANK() OVER w AS BIGINT) AS rnk,
          |    CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
          |    CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
          |    CUME_DIST() OVER w AS cd,
          |    LEAD(c_acctbal, 1) OVER w AS next_bal
          |  FROM customer
          |  WINDOW w AS (PARTITION BY c_nationkey
          |               ORDER BY c_acctbal DESC, c_custkey)) t
          |WHERE rnk <= 3 ORDER BY c_nationkey, rnk""".stripMargin)),

    Q("w4_moving_avg_range",
      "RANGE-frame window — calendar-aware 7-day moving average of " +
        "daily revenue (RANGE BETWEEN 6 PRECEDING over an integer day " +
        "index, so gaps in the date series shrink the window instead " +
        "of silently spanning them like a ROWS frame would). Completes " +
        "the frame-type surface: ROWS (w1), RANGE (here), rank family " +
        "(w3), LAG/LEAD (w2/g11). Exactness: the windowed SUM stays " +
        "DECIMAL (association-free; DuckDB computes window aggregates " +
        "over a segment tree, so a double sum could differ by " +
        "association order) and the average is one double division at " +
        "the end. Runs at date cardinality — the same documented " +
        "global-window convention as w1; the fact-scale variant " +
        "partitions first (w1p).",
      (s, d) => {
        import s.implicits._
        val daily = t(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("date"))
          .agg(sum($"o_totalprice".cast(
            org.apache.spark.sql.types.DecimalType(38, 6))).as("rev"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(datediff($"date", lit("1970-01-01").cast("date")))
          .rangeBetween(-6, 0)
        daily.select($"date",
            $"rev".cast("double").as("daily_revenue"),
            count($"rev").over(w).cast("long").as("n_days_in_window"),
            (sum($"rev").over(w).cast("double") / count($"rev").over(w))
              .as("mov_avg_7d"))
          .orderBy("date")
      },
      Some(
        """WITH daily AS (
          |  SELECT CAST(o_orderdate AS DATE) AS date,
          |    SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
          |  FROM orders GROUP BY 1)
          |SELECT date,
          |  CAST(rev AS DOUBLE) AS daily_revenue,
          |  CAST(n AS BIGINT) AS n_days_in_window,
          |  CAST(sw AS DOUBLE) / n AS mov_avg_7d
          |FROM (
          |  SELECT date, rev, SUM(rev) OVER w AS sw, COUNT(rev) OVER w AS n
          |  FROM daily
          |  WINDOW w AS (ORDER BY (date - DATE '1970-01-01')
          |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) t
          |ORDER BY date""".stripMargin)),

    Q("u3_setops",
      "INTERSECT / EXCEPT — nations with customers vs nations with " +
        "suppliers (set-op surface beyond the reference's UNION ALL)",
      (s, d) => {
        val cn = t(s, d, "customer").select(col("c_nationkey").as("nk"))
        val sn = t(s, d, "supplier").select(col("s_nationkey").as("nk"))
        val both = cn.intersect(sn).withColumn("set_op", lit("both"))
        val custOnly = cn.except(sn).withColumn("set_op", lit("customers_only"))
        both.unionByName(custOnly).orderBy("set_op", "nk")
      },
      Some(
        """SELECT * FROM (
          |  SELECT nk, 'both' AS set_op FROM (
          |    SELECT c_nationkey AS nk FROM customer
          |    INTERSECT SELECT s_nationkey FROM supplier) a
          |  UNION ALL
          |  SELECT nk, 'customers_only' FROM (
          |    SELECT c_nationkey AS nk FROM customer
          |    EXCEPT SELECT s_nationkey FROM supplier) b) t
          |ORDER BY set_op, nk""".stripMargin)),

    Q("u4_union_evolved",
      "Schema-evolution union — two ingest batches whose schema drifted " +
        "(the later batch grew a column) unioned BY NAME with missing " +
        "columns null-filled (unionByName(allowMissingColumns) / " +
        "DuckDB's UNION ALL BY NAME): the batch-append shape every " +
        "long-lived ingest hits when a field is added upstream. " +
        "Positional UNION would silently misalign; this is the " +
        "name-resolved contract.",
      (s, d) => {
        val o = t(s, d, "orders")
        val early = o.filter(col("o_orderkey") % 1000 === 0)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val late = o.filter(col("o_orderkey") % 1000 === 1)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority"))
        early.unionByName(late, allowMissingColumns = true)
          .orderBy("k")
      },
      Some(
        """SELECT * FROM (
          |  SELECT o_orderkey AS k, o_orderstatus AS status
          |  FROM orders WHERE o_orderkey % 1000 = 0
          |  UNION ALL BY NAME
          |  SELECT o_orderkey AS k, o_orderstatus AS status,
          |    o_orderpriority AS priority
          |  FROM orders WHERE o_orderkey % 1000 = 1)
          |ORDER BY k""".stripMargin)),

    Q("e3_grouped_topk",
      "Grouped top-k — top-3 users by total value per event type via a " +
        "ranking window over an aggregate (WindowGroupLimit pushdown " +
        "keeps per-key heaps instead of full sorts)",
      (s, d) => {
        import s.implicits._
        val e = Graft.events(s, d)
        val totals = e.groupBy($"event_type", $"user_id")
          .agg(Functions.dsum($"value").as("total_value"),
            count(lit(1)).as("n_events"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type")
          .orderBy($"total_value".desc, $"user_id")
        totals.withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 3)
          .orderBy($"event_type", $"rnk")
      },
      Some(
        """SELECT * FROM (
          |  SELECT event_type, user_id,
          |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
          |    COUNT(*) AS n_events,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
          |      ORDER BY CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) DESC, user_id) AS BIGINT) AS rnk
          |  FROM events GROUP BY event_type, user_id) t
          |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin)),

    Q("x12_skew_profile",
      "Key-skew census — for each profiled (table, key) pair: rows, " +
        "distinct keys, the heaviest key's population, its corpus " +
        "share in exact ppm (integer division — no float printf in a " +
        "hash contract), and a skew verdict (max > 2x mean). This is " +
        "the introspection that FEEDS the engine's own skew levers " +
        "(e5/e7 salting, c6 domain caps, AQE skew-join thresholds): " +
        "you salt what this report flags, with the measured fan-out. " +
        "One profile-table list drives both the Spark plans and the " +
        "DuckDB twin, so the pair set cannot drift. Scale shape: one " +
        "map-side-combinable groupBy count per key then a 1-row " +
        "collapse — the same two-stage shape as g3; at 100 TB the " +
        "per-key frame is the only data-sized stage and combines " +
        "before the wire (a count-min sketch is the sub-scan " +
        "alternative when even one pass per key is too dear).",
      (s, d) => SkewProfilePairs.map { case (tbl, kc) =>
        // group on the NATIVE key (the cast to string is injective for
        // every profiled key type, so the groups are identical) — the
        // per-key exchange carries 8-byte longs instead of their
        // decimal strings and the hash aggregate compares primitives
        // (guide §2.3 narrower types); x12b casts only the 3 surviving
        // keys. The collapse here never sees key values at all.
        t(s, d, tbl)
          .select(col(kc).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
            max(col("c")).as("max_pop"))
          .select(lit(tbl).as("tbl"), lit(kc).as("key_col"),
            col("n_rows"), col("n_keys"), col("max_pop"),
            expr("max_pop * 1000000 div n_rows").as("top_ppm"),
            (col("max_pop") * col("n_keys") >
              col("n_rows") * lit(2L)).as("skewed"))
      }.reduce(_ unionByName _).orderBy("tbl", "key_col"),
      Some(SkewProfileSql)),

    Q("x12b_heavy_hitters",
      "Heavy-hitter list — x12's companion: the top-3 keys BY NAME per " +
        "profiled (table, key) pair with their populations (x12 tells " +
        "you THAT a key family skews; this names the keys a salting " +
        "or capping rule must target — the literal list e7's salt or " +
        "c6's cap would be configured with). Deterministic tiebreak " +
        "on the key string. Scale shape: one map-side-combinable " +
        "count per key, then DISTRIBUTED top-k (orderBy+limit plans " +
        "as TakeOrderedAndProject — per-partition partial top-3, " +
        "merged; never a single-partition sort of the key-cardinality " +
        "frame); the rank window runs over only the 3 survivors.",
      (s, d) => SkewProfilePairs.map { case (tbl, kc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
          .orderBy(col("pop").desc, col("key_value"))
        t(s, d, tbl)
          .select(col(kc).as("kv"))
          .groupBy(col("kv")).agg(count(lit(1)).as("pop"))
          // cast AFTER the count aggregate but BEFORE the top-3, so the
          // per-key exchange carries native keys (§2.3) while the
          // (pop DESC, key string) tie-break — and therefore the
          // selected and emitted rows — stays byte-identical
          .select(col("kv").cast("string").as("key_value"), col("pop"))
          .orderBy(col("pop").desc, col("key_value")).limit(3)
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(lit(tbl).as("tbl"), lit(kc).as("key_col"),
            col("rk"), col("key_value"), col("pop"))
      }.reduce(_ unionByName _).orderBy("tbl", "key_col", "rk"),
      Some(HeavyHittersSql)),

    Q("x12c_heavy_hitters_cms",
      "Heavy hitters via count-min sketch — the 100 TB swap for " +
        "x12b's exact per-key counts when the key set itself no " +
        "longer fits anywhere: a fixed-size (eps=5e-4, depth 7, seed " +
        "42) counter array that merges map-side, with candidate keys " +
        "rescored against the sketch. Driver-visible as the " +
        "established exact-vs-approx DIFFERENTIAL (g12b/x2b): the " +
        "output carries the exact top-10 event users by population " +
        "(DuckDB reproduces them) plus a boolean per row asserting " +
        "the CMS estimate obeys both published guarantees — " +
        "one-sided (estimate >= exact, an ALWAYS-true structural " +
        "property, not probabilistic) and bounded overshoot " +
        "(estimate <= exact + 2*eps*N; deterministic for the fixed " +
        "seed on fixed data). A broken sketch flips a boolean and " +
        "fails the driver's hash gate. The 10-key estimate loop is a " +
        "bounded driver barrier over the collected k-row top list, " +
        "the same shape as the dashboard aggregates; the sketch " +
        "build is one distributed pass.",
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"))
        val eps = 5e-4
        val n = ev.count()
        val sketch = ev.stat.countMinSketch(
          "user_id", eps, 1.0 - 1.0 / 128.0, 42)
        val topRows = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("pop"))
          .orderBy(col("pop").desc, col("user_id")).limit(10)
          .collect()
        val bound = 2.0 * eps * n
        val out = topRows.map { r =>
          val (uid, pop) = (r.getLong(0), r.getLong(1))
          val est = sketch.estimateCount(uid)
          (uid, pop, est >= pop && est <= pop + bound)
        }.toSeq
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
          .orderBy(col("pop").desc, col("user_id"))
        out.toDF("user_id", "pop", "cms_ok")
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(col("rk"), col("user_id"), col("pop"), col("cms_ok"))
          .orderBy("rk")
      },
      Some(
        """SELECT CAST(ROW_NUMBER() OVER (ORDER BY pop DESC, user_id)
          |    AS BIGINT) AS rk,
          |  user_id, pop, TRUE AS cms_ok
          |FROM (SELECT user_id, COUNT(*) AS pop FROM events
          |      GROUP BY 1 ORDER BY pop DESC, user_id LIMIT 10)
          |ORDER BY rk""".stripMargin)),

    Q("x14_bloom_semijoin",
      "Runtime-filter semi-join pruning via an explicit Bloom filter — " +
        "the technique that makes selective large⋈large joins cheap at " +
        "100 TB: instead of broadcasting the build side's ROWS or " +
        "shuffling the probe side, broadcast a fixed-size bit-position " +
        "SET (m=65536 bits, k=3 integer hash functions h_j(x) = " +
        "((x*A_j + B_j) mod P) mod m — pure BIGINT arithmetic, so the " +
        "DuckDB oracle reproduces the EXACT pass set bit for bit, a " +
        "stronger contract than the x12c boolean differential) and " +
        "drop probe rows that miss any bit at the scan side. Build = " +
        "high-balance customers; probe = orders. Output is the " +
        "differential: probe census, exact semi-join matches, bloom " +
        "passes, false positives, observed fp rate. The Bloom " +
        "guarantee is structural: every exact match passes (no false " +
        "negatives — ApproxSpec asserts it), and the fp count is " +
        "deterministic for the fixed constants. At 100 TB: the bit " +
        "set is <= 3*|build| entries regardless of probe size, the " +
        "probe side is touched map-side only (explode + broadcast " +
        "bit join), and the per-order membership count collapses in " +
        "partial aggregation before its exchange — the same shape " +
        "Spark's runtime row-level filtering injects, made " +
        "oracle-checkable.",
      (s, d) => {
        val m = 65536L
        val p = 1000000007L
        val as = Seq(1000003L, 2000003L, 3000019L)
        val bs = Seq(12345L, 67890L, 424242L)
        def h(j: Int, c: org.apache.spark.sql.Column) =
          ((c * as(j) + bs(j)) % p) % m
        val build = t(s, d, "customer")
          .filter(col("c_acctbal") > 9000).select(col("c_custkey"))
        val bits = build.select(explode(array(
            (0 until 3).map(j => h(j, col("c_custkey"))): _*)).as("bit"))
          .distinct()
        val probe = t(s, d, "orders")
          .filter(col("o_custkey").isNotNull)
          .select(col("o_orderkey"), col("o_custkey"))
        val need = probe.select(col("o_orderkey"),
          array_distinct(array(
            (0 until 3).map(j => h(j, col("o_custkey"))): _*)).as("bs"))
        val passed = need
          .select(col("o_orderkey"), size(col("bs")).as("nb"),
            explode(col("bs")).as("bit"))
          .join(broadcast(bits), Seq("bit"))
          .groupBy(col("o_orderkey"), col("nb"))
          .agg(count(lit(1)).as("nhit"))
          .filter(col("nhit") === col("nb"))
          .select(col("o_orderkey"), lit(1L).as("bloom_pass"))
        // ONE job for the whole differential: the bloom-pass flag and
        // the exact-match flag left-join onto the probe (o_orderkey and
        // c_custkey are unique keys — no row multiplication) and a
        // single conditional aggregate emits all three counts together.
        // The previous shape ran hits.count(), the exact semi-join
        // count, and probe.count() as three separate jobs — three full
        // probe scans at 100 TB for one report.
        val flagged = probe
          .join(broadcast(build.withColumn("exact_hit", lit(1L))),
            probe("o_custkey") === build("c_custkey"), "left")
          .join(passed, Seq("o_orderkey"), "left")
        // zero non-matching probes = no false-positive opportunity:
        // define the rate as 0.0 (both engines; avoids 0/0 NaN whose
        // rendering is engine-specific)
        flagged.agg(
            count(lit(1)).as("n_probe"),
            coalesce(sum(col("exact_hit")), lit(0L)).as("n_exact"),
            coalesce(sum(col("bloom_pass")), lit(0L)).as("n_bloom_pass"))
          .select(col("n_probe"), col("n_exact"), col("n_bloom_pass"),
            (col("n_bloom_pass") - col("n_exact")).as("n_false_pos"),
            when(col("n_probe") === col("n_exact"), lit(0.0))
              .otherwise((col("n_bloom_pass") - col("n_exact"))
                .cast("double") /
                (col("n_probe") - col("n_exact")).cast("double"))
              .as("fp_rate"))
      },
      Some(
        """WITH build AS (
          |  SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
          |bits AS (
          |  SELECT ((c_custkey * 1000003 + 12345) % 1000000007) % 65536
          |    AS bit FROM build
          |  UNION
          |  SELECT ((c_custkey * 2000003 + 67890) % 1000000007) % 65536
          |    FROM build
          |  UNION
          |  SELECT ((c_custkey * 3000019 + 424242) % 1000000007) % 65536
          |    FROM build),
          |probe AS (
          |  SELECT o_orderkey, o_custkey FROM orders
          |  WHERE o_custkey IS NOT NULL),
          |need AS (
          |  SELECT o_orderkey, list_distinct([
          |    ((o_custkey * 1000003 + 12345) % 1000000007) % 65536,
          |    ((o_custkey * 2000003 + 67890) % 1000000007) % 65536,
          |    ((o_custkey * 3000019 + 424242) % 1000000007) % 65536]) AS bs
          |  FROM probe),
          |expl AS (
          |  SELECT o_orderkey, len(bs) AS nb, UNNEST(bs) AS bit FROM need),
          |hits AS (
          |  SELECT e.o_orderkey, e.nb, COUNT(*) AS nhit
          |  FROM expl e JOIN bits USING (bit) GROUP BY 1, 2),
          |pass AS (
          |  SELECT COUNT(*) AS n_bloom_pass FROM hits WHERE nhit = nb),
          |exact AS (
          |  SELECT COUNT(*) AS n_exact FROM probe o
          |  WHERE EXISTS (SELECT 1 FROM build b
          |                WHERE b.c_custkey = o.o_custkey)),
          |tot AS (SELECT COUNT(*) AS n_probe FROM probe)
          |SELECT n_probe, n_exact, n_bloom_pass,
          |  n_bloom_pass - n_exact AS n_false_pos,
          |  CASE WHEN n_probe - n_exact = 0 THEN 0.0
          |    ELSE CAST(n_bloom_pass - n_exact AS DOUBLE)
          |      / CAST(n_probe - n_exact AS DOUBLE) END AS fp_rate
          |FROM tot, exact, pass""".stripMargin)),

    Q("x1_distinct",
      "X1 — dropDuplicates / SELECT DISTINCT",
      (s, d) => t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus"),
      Some(
        """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("x4_table_checksum",
      "Order-independent table checksum — commutative (DECIMAL-exact) " +
        "sum of a per-row content hash over identity columns, plus the " +
        "row count: the migration-validation primitive for verifying a " +
        "100 TB copy without sorting or moving either side (both " +
        "clusters scan locally, compare two numbers). One column list " +
        "drives both the Spark expression and the DuckDB twin " +
        "(engine.Checksum), so the renderings cannot drift; doubles are " +
        "rejected by design — their shortest-repr string forms differ " +
        "across engines, and a checksum that depends on printf details " +
        "is not a contract.",
      (s, d) => Checksum.of(t(s, d, "lineitem"), LineitemChecksumCols),
      Some(Checksum.duckSql("lineitem", LineitemChecksumCols))),

    Q("x5_orders_checksum",
      "The same checksum contract over a second table (orders) through " +
        "the generic engine.Checksum helper — proves the primitive is " +
        "table-agnostic, not a lineitem-specific query.",
      (s, d) => Checksum.of(t(s, d, "orders"), OrdersChecksumCols),
      Some(Checksum.duckSql("orders", OrdersChecksumCols))),

    Q("x7_column_profile",
      "Column profiling — per-column row/non-null/distinct counts and " +
        "min/max (rendered to strings for a uniform row shape), the " +
        "one-scan table summary behind the reference's " +
        "data_exploration profilers (online_retail_data.py etc.) and " +
        "any new-corpus triage. Doubles excluded (cross-engine printf); " +
        "one scan, all columns profiled in the same pass via a " +
        "per-column agg union.",
      (s, d) => {
        val o = t(s, d, "orders")
        val cols = Seq("o_orderkey", "o_custkey",
          "o_orderstatus", "o_orderpriority")
        // genuinely ONE scan: a single wide aggregate computes every
        // column's measures (the multi-count-distinct Expand plan),
        // then the 1-row result reshapes to long via explode — a
        // per-column agg union would re-scan the table once per column
        val wide = o.agg(count(lit(1)).as("n_rows"),
          cols.flatMap(c => Seq(
            count(col(c)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c"),
            min(col(c)).cast("string").as(s"mn_$c"),
            max(col(c)).cast("string").as(s"mx_$c"))): _*)
        wide.select(explode(array(cols.map(c => struct(
            lit(c).as("column"), col("n_rows"),
            col(s"nn_$c").as("n_nonnull"), col(s"nd_$c").as("n_distinct"),
            col(s"mn_$c").as("min_v"), col(s"mx_$c").as("max_v"))): _*))
            .as("p"))
          .select("p.*")
          .orderBy("column")
      },
      Some(
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
          .map(c =>
            s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
               |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
               |  CAST(MIN($c) AS VARCHAR) AS min_v,
               |  CAST(MAX($c) AS VARCHAR) AS max_v FROM orders""".stripMargin)
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
            "\n) ORDER BY \"column\""))),

    Q("x6_partition_checksums",
      "Per-partition checksums — copy-validation step two: when the " +
        "whole-table numbers (x4) disagree, one checksum row per " +
        "partition key locates WHICH partition diverged without " +
        "re-reading 100 TB. Grouped by ship year, the fact tables' " +
        "physical partition key.",
      (s, d) => Checksum.by(t(s, d, "lineitem"),
        "cast(year(to_date(l_shipdate)) as bigint)", LineitemChecksumCols),
      Some(Checksum.duckSqlBy("lineitem",
        "CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS BIGINT)",
        LineitemChecksumCols))),

    Q("x8_version_diff",
      "Table-version diff — the audit operator versioned snapshots " +
        "(o5, Catalog.tableAt) exist for: full-outer join two versions " +
        "on the key, classify every row added / removed / changed / " +
        "unchanged by within-engine content comparison, and emit " +
        "per-class counts with key ranges — 'what changed between the " +
        "corpus my last run trained on and today's?'. The versions " +
        "here are content-derived slices of orders (v2 shifts the " +
        "membership window and reprices every 10th key) so the query " +
        "is warehouse-free and oracle-exact; the storage half is " +
        "proven by o5/VersionSpec. At 100 TB this is ONE shuffle " +
        "co-partitioning both sides on the key — no sorting, no " +
        "driver-side diffing.",
      (s, d) => {
        val o = t(s, d, "orders")
        val m = col("o_orderkey") % 1000
        val v1 = o.filter(m < 500)
          .select(col("o_orderkey").as("k1"),
            col("o_totalprice").as("p1"), col("o_orderstatus").as("st1"))
        val v2 = o.filter(m >= 100 && m < 600)
          .select(col("o_orderkey").as("k2"),
            when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
              .otherwise(col("o_totalprice")).as("p2"),
            col("o_orderstatus").as("st2"))
        v1.join(v2, col("k1") === col("k2"), "full_outer")
          .select(
            when(col("k1").isNull, "added")
              .when(col("k2").isNull, "removed")
              .when(col("p1") =!= col("p2") || col("st1") =!= col("st2"),
                "changed")
              .otherwise("unchanged").as("change_type"),
            coalesce(col("k1"), col("k2")).as("k"))
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("k")).as("key_min"), max(col("k")).as("key_max"))
          .orderBy("change_type")
      },
      Some(
        """WITH v1 AS (
          |  SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
          |  FROM orders WHERE o_orderkey % 1000 < 500),
          |v2 AS (
          |  SELECT o_orderkey AS k,
          |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
          |         ELSE o_totalprice END AS p,
          |    o_orderstatus AS st
          |  FROM orders
          |  WHERE o_orderkey % 1000 >= 100 AND o_orderkey % 1000 < 600)
          |SELECT
          |  CASE WHEN v1.k IS NULL THEN 'added'
          |       WHEN v2.k IS NULL THEN 'removed'
          |       WHEN v1.p != v2.p OR v1.st != v2.st THEN 'changed'
          |       ELSE 'unchanged' END AS change_type,
          |  COUNT(*) AS n_rows,
          |  MIN(COALESCE(v1.k, v2.k)) AS key_min,
          |  MAX(COALESCE(v1.k, v2.k)) AS key_max
          |FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
          |GROUP BY 1 ORDER BY change_type""".stripMargin)),

    Q("x9_corpus_card",
      "Corpus datasheet — the one-row dataset card a training run " +
        "records next to its pinned corpus version: doc/source/" +
        "language cardinalities, exact-unique text count (dedup rate's " +
        "numerator, via the cross-engine content hash), token and " +
        "char totals, and the summed quality score. One corpus scan " +
        "feeding a single wide aggregate (the g3-style multi-distinct " +
        "Expand plan); every number is exact and engine-portable, so " +
        "two sites can attest the same card for the same bytes.",
      (s, d) => {
        val scored = Functions.qualityScored(t(s, d, "documents"))
        scored.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          // 128-bit md5 (as x10's dedup stage uses): a ~2^30 strhash
          // space would birthday-collide into an undercount beyond a
          // few tens of thousands of docs — not acceptable for a number
          // documented as the EXACT unique count
          countDistinct(md5(col("text").cast("binary"))).as("n_unique_texts"),
          sum(col("ws_tokens")).as("total_ws_tokens"),
          sum(col("n_chars")).as("total_chars"),
          Functions.dsum(col("score")).as("total_quality"))
      },
      Some(
        raw"""SELECT COUNT(*) AS n_docs,
           |  COUNT(DISTINCT source) AS n_sources,
           |  COUNT(DISTINCT lang) AS n_langs,
           |  COUNT(DISTINCT md5(text)) AS n_unique_texts,
           |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           |    AS total_ws_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           |  CAST(SUM(CAST(
           |    ${TextQueries.QualityScoreSql} AS DECIMAL(38,6))) AS DOUBLE)
           |    AS total_quality
           |FROM documents""".stripMargin)),

    Q("x10_corpus_funnel",
      "Curation funnel datasheet — the stage-by-stage attrition table " +
        "every pretraining-data paper publishes (C4, RefinedWeb): " +
        "raw corpus, then NFC-normalized exact dedup (md5 of " +
        "graft_nfc'd text, keep the minimum doc_id — composed vs " +
        "decomposed spellings of the same text collapse BEFORE " +
        "hashing, which is exactly what t15's normalization exists " +
        "for), then the t2 quality-score cut at 0.5, then the 40-" +
        "token length floor. Cuts are cumulative, so each row is the " +
        "corpus a run trained on if it stopped filtering there; docs " +
        "and token/char mass reported per stage. One corpus scan " +
        "computes every per-doc flag, one hash shuffle ranks dedup " +
        "canonicals, one global conditional aggregate feeds a 4-row " +
        "stack — at 100 TB the only data-sized exchange is the dedup " +
        "hash partition, which exact dedup needs anyway.",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("nh")).orderBy(col("doc_id"))
        Functions.qualityScored(t(s, d, "documents"))
          .withColumn("nh", md5(expr("graft_nfc(text)")))
          .withColumn("rn", row_number().over(w))
          .withColumn("k1", col("rn") === 1)
          .withColumn("k2", col("k1") && col("score") >= 0.5)
          .withColumn("k3", col("k2") && col("ws_tokens") >= 40)
          .agg(
            count(lit(1)).as("r_docs"),
            sum(col("ws_tokens")).as("r_tok"),
            sum(col("n_chars")).as("r_ch"),
            count(when(col("k1"), 1)).as("d_docs"),
            coalesce(sum(when(col("k1"), col("ws_tokens"))), lit(0L))
              .as("d_tok"),
            coalesce(sum(when(col("k1"), col("n_chars"))), lit(0L))
              .as("d_ch"),
            count(when(col("k2"), 1)).as("q_docs"),
            coalesce(sum(when(col("k2"), col("ws_tokens"))), lit(0L))
              .as("q_tok"),
            coalesce(sum(when(col("k2"), col("n_chars"))), lit(0L))
              .as("q_ch"),
            count(when(col("k3"), 1)).as("l_docs"),
            coalesce(sum(when(col("k3"), col("ws_tokens"))), lit(0L))
              .as("l_tok"),
            coalesce(sum(when(col("k3"), col("n_chars"))), lit(0L))
              .as("l_ch"))
          .selectExpr(
            "stack(4, " +
              "1L, 'raw', r_docs, r_tok, r_ch, " +
              "2L, 'nfc_exact_dedup', d_docs, d_tok, d_ch, " +
              "3L, 'quality_0.5', q_docs, q_tok, q_ch, " +
              "4L, 'min_40_tokens', l_docs, l_tok, l_ch) " +
              "AS (stage_id, stage, n_docs, n_tokens, n_chars)")
          .orderBy("stage_id")
      },
      Some(
        raw"""WITH scored AS (
          |  SELECT doc_id, n_chars,
          |    len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
          |    ${TextQueries.QualityScoreSql} AS score,
          |    md5(nfc_normalize(text)) AS nh
          |  FROM documents),
          |flags AS (
          |  SELECT *,
          |    ROW_NUMBER() OVER (PARTITION BY nh ORDER BY doc_id) = 1 AS k1
          |  FROM scored),
          |fl AS (
          |  SELECT *, k1 AND score >= 0.5 AS k2,
          |    k1 AND score >= 0.5 AND ws_tokens >= 40 AS k3
          |  FROM flags),
          |a AS (SELECT
          |  COUNT(*) AS r_docs,
          |  CAST(SUM(ws_tokens) AS BIGINT) AS r_tok,
          |  CAST(SUM(n_chars) AS BIGINT) AS r_ch,
          |  COUNT(*) FILTER (k1) AS d_docs,
          |  CAST(COALESCE(SUM(ws_tokens) FILTER (k1), 0) AS BIGINT) AS d_tok,
          |  CAST(COALESCE(SUM(n_chars) FILTER (k1), 0) AS BIGINT) AS d_ch,
          |  COUNT(*) FILTER (k2) AS q_docs,
          |  CAST(COALESCE(SUM(ws_tokens) FILTER (k2), 0) AS BIGINT) AS q_tok,
          |  CAST(COALESCE(SUM(n_chars) FILTER (k2), 0) AS BIGINT) AS q_ch,
          |  COUNT(*) FILTER (k3) AS l_docs,
          |  CAST(COALESCE(SUM(ws_tokens) FILTER (k3), 0) AS BIGINT) AS l_tok,
          |  CAST(COALESCE(SUM(n_chars) FILTER (k3), 0) AS BIGINT) AS l_ch
          |  FROM fl)
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
          |    r_docs AS n_docs, r_tok AS n_tokens, r_ch AS n_chars FROM a
          |  UNION ALL SELECT 2, 'nfc_exact_dedup', d_docs, d_tok, d_ch FROM a
          |  UNION ALL SELECT 3, 'quality_0.5', q_docs, q_tok, q_ch FROM a
          |  UNION ALL SELECT 4, 'min_40_tokens', l_docs, l_tok, l_ch FROM a)
          |ORDER BY stage_id""".stripMargin)),

    Q("x11_drift_profile",
      "Corpus drift monitor — per-category distribution shift between " +
        "two corpus snapshots (doc_id parity stands in for " +
        "version N vs N+1) over the three features a data-quality " +
        "gate watches: language mix, source mix, and length-bucket " +
        "histogram (floor(n_chars/100)). Each category row carries " +
        "both raw counts, both proportions, and its triangular-" +
        "discrimination contribution (p-q)^2/(p+q) — the chi-square-" +
        "family statistic chosen over PSI because it needs no ln() " +
        "(a libm call whose last ulp differs across runtimes, " +
        "unacceptable in a hash-matched contract) and no smoothing " +
        "(p+q > 0 by construction for every emitted category). " +
        "Per-category rows are emitted UNAGGREGATED, ordered, so no " +
        "order-dependent float summation exists anywhere; the alert " +
        "threshold is the consumer's. Scale shape: ONE corpus scan " +
        "(the three features explode from one projected row), one " +
        "map-side-combined aggregation on (feature, category) — " +
        "category-cardinality output regardless of corpus size.",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("side", when(col("doc_id") % 2 === 0, 1).otherwise(0))
        val feats = docs.select(col("side"), explode(array(
            struct(lit("lang").as("feature"), col("lang").as("category")),
            struct(lit("len_bucket").as("feature"),
              expr("CAST(CAST(floor(n_chars / 100.0) AS BIGINT) AS STRING)")
                .as("category")),
            struct(lit("source").as("feature"), col("source").as("category"))
          )).as("f"))
          .select(col("side"), col("f.feature"), col("f.category"))
        val counts = feats.groupBy(col("feature"), col("category"))
          .agg(sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_base"),
            sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_cur"))
        val totals = docs.agg(
          sum(when(col("side") === 1, 1L).otherwise(0L))
            .cast("double").as("t_base"),
          sum(when(col("side") === 0, 1L).otherwise(0L))
            .cast("double").as("t_cur"))
        counts.crossJoin(broadcast(totals))
          .withColumn("p", col("n_base") / col("t_base"))
          .withColumn("q", col("n_cur") / col("t_cur"))
          .withColumn("contrib",
            (col("p") - col("q")) * (col("p") - col("q"))
              / (col("p") + col("q")))
          .select(col("feature"), col("category"), col("n_base"),
            col("n_cur"), col("p"), col("q"), col("contrib"))
          .orderBy("feature", "category")
      },
      Some(
        """WITH docs AS (
          |  SELECT *, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS side
          |  FROM documents),
          |feats AS (
          |  SELECT side, 'lang' AS feature, lang AS category FROM docs
          |  UNION ALL
          |  SELECT side, 'len_bucket',
          |    CAST(CAST(floor(n_chars / 100.0) AS BIGINT) AS VARCHAR)
          |  FROM docs
          |  UNION ALL
          |  SELECT side, 'source', source FROM docs),
          |counts AS (
          |  SELECT feature, category,
          |    CAST(COALESCE(SUM(CASE WHEN side = 1 THEN 1 END), 0) AS BIGINT)
          |      AS n_base,
          |    CAST(COALESCE(SUM(CASE WHEN side = 0 THEN 1 END), 0) AS BIGINT)
          |      AS n_cur
          |  FROM feats GROUP BY 1, 2),
          |totals AS (
          |  SELECT CAST(COALESCE(SUM(CASE WHEN side = 1 THEN 1 END), 0)
          |      AS DOUBLE) AS t_base,
          |    CAST(COALESCE(SUM(CASE WHEN side = 0 THEN 1 END), 0) AS DOUBLE)
          |      AS t_cur
          |  FROM docs)
          |SELECT feature, category, n_base, n_cur,
          |  n_base / t_base AS p, n_cur / t_cur AS q,
          |  (n_base / t_base - n_cur / t_cur)
          |    * (n_base / t_base - n_cur / t_cur)
          |    / (n_base / t_base + n_cur / t_cur) AS contrib
          |FROM counts CROSS JOIN totals
          |ORDER BY feature, category""".stripMargin))
  )

  import Checksum.{IntLike, Str, TsDay}
  private val LineitemChecksumCols: Seq[(String, Checksum.Kind)] = Seq(
    "l_orderkey" -> IntLike, "l_partkey" -> IntLike, "l_suppkey" -> IntLike,
    "l_linenumber" -> IntLike, "l_returnflag" -> Str, "l_linestatus" -> Str,
    "l_shipdate" -> TsDay)
  private val OrdersChecksumCols: Seq[(String, Checksum.Kind)] = Seq(
    "o_orderkey" -> IntLike, "o_custkey" -> IntLike,
    "o_orderstatus" -> Str, "o_orderpriority" -> Str,
    "o_orderdate" -> TsDay)

  /** x12's profile set: every key the suite's own shuffles hang off —
    * join keys, window partition keys, and the domain keys the capping
    * and salting operators act on.
    */
  private val SkewProfilePairs: Seq[(String, String)] = Seq(
    "lineitem" -> "l_orderkey", "lineitem" -> "l_suppkey",
    "orders" -> "o_custkey", "events" -> "user_id",
    "events" -> "event_type", "documents" -> "source",
    "customer" -> "c_nationkey")

  /** x12b's DuckDB twin, generated from [[SkewProfilePairs]]. */
  private def HeavyHittersSql: String = {
    val blocks = SkewProfilePairs.map { case (tbl, kc) =>
      s"""  SELECT '$tbl' AS tbl, '$kc' AS key_col, rk, key_value, pop
         |  FROM (
         |    SELECT CAST(ROW_NUMBER() OVER (
         |        ORDER BY pop DESC, key_value) AS BIGINT) AS rk,
         |      key_value, pop
         |    FROM (SELECT CAST($kc AS VARCHAR) AS key_value,
         |            COUNT(*) AS pop FROM $tbl GROUP BY 1))
         |  WHERE rk <= 3""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"SELECT * FROM (\n$blocks\n) ORDER BY tbl, key_col, rk"
  }

  /** x12's DuckDB twin, generated from [[SkewProfilePairs]]. */
  private def SkewProfileSql: String = {
    val blocks = SkewProfilePairs.map { case (tbl, kc) =>
      s"""  SELECT '$tbl' AS tbl, '$kc' AS key_col,
         |    CAST(SUM(c) AS BIGINT) AS n_rows,
         |    COUNT(*) AS n_keys,
         |    CAST(MAX(c) AS BIGINT) AS max_pop,
         |    CAST(MAX(c) AS BIGINT) * 1000000
         |      // CAST(SUM(c) AS BIGINT) AS top_ppm,
         |    CAST(MAX(c) AS BIGINT) * COUNT(*)
         |      > 2 * CAST(SUM(c) AS BIGINT) AS skewed
         |  FROM (SELECT COUNT(*) AS c FROM $tbl
         |        GROUP BY CAST($kc AS VARCHAR))""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"SELECT * FROM (\n$blocks\n) ORDER BY tbl, key_col"
  }
}
