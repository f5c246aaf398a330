package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Functions, Graft}

/** Retail-pipeline operator rows from SURVEY.md §2 not yet covered by
  * [[CoreQueries]]: NULL/COALESCE handling (P4/P5), the filter gauntlet
  * (P9/P10/P12/P13), mode-over-coalesced-key (G2), FX-style conversion
  * joins (J5), the large⋈large composite-key fact join (J6/J7), coverage
  * anti-join (J9), stats/validation aggregates (G7/G8), segmented
  * analysis with a fold-mutation-into-join flag (G10/M1), sheet-union
  * ingestion (U2/S1), ingestion dedup+sort (O3), the PARTITIONED
  * forward-fill path (W1 at scale), and events-table queries that pin the
  * TIMESTAMP_NS→µs conversion.
  *
  * Scale notes (100 TB): every big-side join here keeps the large fact on
  * the stream side and broadcasts date-cardinality or dimension tables;
  * the one deliberate large⋈large join (j6) shuffles both sides on the
  * composite key exactly once — same-key partitioning is reused by the
  * downstream group-by thanks to Catalyst output-partitioning matching.
  */
object PipelineQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  /** Daily "FX-rate"-shaped series derived from orders: per order date,
    * rate = max(o_totalprice)/1e5, forward-filled over the gap-free
    * lineitem-shipdate span (daily_fx_rates analog,
    * /root/reference/src/models/facts.py:166-202: J4 + W1).
    */
  private def rateSeries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = t(s, d, "orders")
    val li = t(s, d, "lineitem")
    val b = li.agg(min(to_date($"l_shipdate")), max(to_date($"l_shipdate"))).head()
    val series = Functions.dateSeries(s, b.getDate(0), b.getDate(1))
    // No ROUND here: round(double, n) disagrees between engines on
    // shortest-repr midpoints (Spark HALF_UP on the decimal string vs
    // DuckDB on the binary value); max/constant-divide is deterministic.
    val daily = o.groupBy(to_date($"o_orderdate").as("date"))
      .agg((max($"o_totalprice") / 100000).as("rate"))
    Functions.forwardFill(series.join(daily, Seq("date"), "left"),
      "date", "rate", "rate_filled")
      .select($"date", $"rate_filled".as("rate"))
  }

  private val RateSql: String =
    """SELECT s.date,
      |  LAST_VALUE(dr.rate IGNORE NULLS) OVER (ORDER BY s.date
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rate
      |FROM (SELECT CAST(UNNEST(generate_series(
      |        (SELECT MIN(CAST(l_shipdate AS DATE)) FROM lineitem),
      |        (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem),
      |        INTERVAL 1 DAY)) AS DATE) AS date) s
      |LEFT JOIN (SELECT CAST(o_orderdate AS DATE) AS date,
      |             MAX(o_totalprice) / 100000 AS rate
      |           FROM orders GROUP BY 1) dr ON s.date = dr.date""".stripMargin

  def all: Seq[Q] = Seq(

    Q("p4_null_coalesce",
      "P4/P5 — NULL predicates + COALESCE(-1) surrogate over a LEFT join " +
        "that manufactures unmatched rows (dim_customer UNKNOWN analog, " +
        "dimensions.py:203-214)",
      (s, d) => {
        val o = t(s, d, "orders")
        val c = t(s, d, "customer").filter(col("c_acctbal") > 5000)
        o.join(c, o("o_custkey") === c("c_custkey"), "left")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
              .cast("long").as("n_unknown_customer"),
            countDistinct(coalesce(col("c_custkey"), lit(-1L)))
              .as("n_customer_keys"))
      },
      Some(
        """SELECT COUNT(*) AS n_orders,
          |  CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_customer,
          |  COUNT(DISTINCT COALESCE(c.c_custkey, -1)) AS n_customer_keys
          |FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
          |  ON o.o_custkey = c.c_custkey""".stripMargin)),

    Q("p9_filter_gauntlet",
      "P9/P10/P12/P13 — BETWEEN dates + IN-list + string inequality + " +
        "not-null filters, pushed to the scan (facts.py:51-55 analog)",
      (s, d) => t(s, d, "lineitem")
        .filter(to_date(col("l_shipdate"))
          .between(lit("1996-01-01"), lit("1996-12-31")))
        .filter(col("l_linenumber").isin(1, 2, 3))
        .filter(col("l_returnflag").isNotNull &&
          col("l_returnflag") =!= "" && col("l_returnflag") =!= "nan")
        .filter(col("l_quantity").isNotNull)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          Functions.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("net_revenue"))
        .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue
          |FROM lineitem
          |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
          |  AND l_linenumber IN (1, 2, 3)
          |  AND l_returnflag IS NOT NULL AND l_returnflag != '' AND l_returnflag != 'nan'
          |  AND l_quantity IS NOT NULL
          |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    Q("g2_mode_coalesce",
      "G2 — deterministic MODE over a COALESCE'd nullable value per group " +
        "(dim_customer country mode analog, dimensions.py:203-213)",
      (s, d) => {
        val c = t(s, d, "customer").withColumn("seg",
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("UNKNOWN")))
        Functions.modeDet(c, Seq("c_nationkey"), "seg", "mode_segment")
          .orderBy("c_nationkey")
      },
      Some(
        """SELECT c_nationkey, mode_segment FROM (
          |  SELECT c_nationkey, seg AS mode_segment,
          |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
          |      ORDER BY COUNT(*) DESC, seg ASC) AS rn
          |  FROM (SELECT c_nationkey,
          |          COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'UNKNOWN') AS seg
          |        FROM customer)
          |  WHERE seg IS NOT NULL GROUP BY c_nationkey, seg) t
          |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin)),

    Q("j5_fx_convert",
      "J5/W1/P7 — fact joined to a broadcast forward-filled daily rate " +
        "series; per-year GBP/EUR-style totals (fct_sales_eur analog, " +
        "facts.py:269-288)",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val rates = rateSeries(s, d)
        li.withColumn("date", to_date(col("l_shipdate")))
          .join(broadcast(rates), Seq("date"))
          .withColumn("net", col("l_extendedprice") * (lit(1) - col("l_discount")))
          .groupBy(year(col("date")).cast("long").as("year"))
          .agg(count(lit(1)).as("n_items"),
            Functions.dsum(col("net")).as("net_revenue"),
            Functions.dsum(col("net") / col("rate")).as("net_revenue_conv"))
          .orderBy("year")
      },
      Some(
        s"""WITH rates AS ($RateSql)
           |SELECT EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS year,
           |  COUNT(*) AS n_items,
           |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
           |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) / r.rate AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue_conv
           |FROM lineitem l JOIN rates r ON CAST(l.l_shipdate AS DATE) = r.date
           |GROUP BY 1 ORDER BY year""".stripMargin)),

    Q("j6_fact_variants_join",
      "J6/J7/G5 — large⋈large composite-key join of two fact variants, " +
        "then broadcast dims + rollup (facts.py:366-412 analog). The " +
        "composite-key shuffle is reused by the downstream aggregate. " +
        "The shared per-line fact frame is materialized ONCE to scratch " +
        "parquet and self-joined from storage (the d4 signature-table " +
        "pattern): without it the two variants each re-scan and " +
        "re-project lineitem — double scan at 100 TB.",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val fact = Scratch.materialize(s, "j6_fact",
          li.select(col("l_orderkey"), col("l_linenumber"),
            to_date(col("l_shipdate")).as("date"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net")))
        val gbp = fact
        val eur = fact.select(col("l_orderkey"), col("l_linenumber"),
          col("date"), (col("net") * 0.85).as("net_conv"))
        gbp.join(eur, Seq("l_orderkey", "l_linenumber", "date"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(n("n_name").as("country"))
          .agg(count(lit(1)).as("n_items"),
            Functions.dsum(col("net")).as("net_revenue"),
            Functions.dsum(col("net_conv")).as("net_revenue_conv"))
          .orderBy("country")
      },
      Some(
        """WITH gbp AS (SELECT l_orderkey, l_linenumber,
          |    CAST(l_shipdate AS DATE) AS date,
          |    l_extendedprice * (1 - l_discount) AS net FROM lineitem),
          |eur AS (SELECT l_orderkey, l_linenumber, date,
          |    net * 0.85 AS net_conv FROM gbp)
          |SELECT n.n_name AS country, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(g.net AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
          |  CAST(SUM(CAST(e.net_conv AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue_conv
          |FROM gbp g
          |JOIN eur e ON g.l_orderkey = e.l_orderkey
          |  AND g.l_linenumber = e.l_linenumber AND g.date = e.date
          |JOIN orders o ON g.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |GROUP BY 1 ORDER BY country""".stripMargin)),

    Q("j6b_fact_variants_bucketed",
      "j6 over PRE-BUCKETED fact variants — the 100 TB shape of the " +
        "composite-key fact⋈fact join: both variants are written " +
        "bucketBy+sortBy the join key once (at ingest time in " +
        "production; memoized once per corpus here), so the join " +
        "itself carries ZERO Exchange — co-located, pre-sorted bucket " +
        "files stream straight into the SortMergeJoin (PlanSpec " +
        "asserts the no-Exchange plan). Same result contract as j6, " +
        "same oracle: bucketing is a physical-layout choice, never a " +
        "semantics choice. At 100 TB this converts the suite's " +
        "largest recurring shuffle (two fact-wide exchanges per run) " +
        "into a one-time ingest cost amortized over every consumer. " +
        "Bench times the two costs separately: the bucket build runs " +
        "in warmup and is reported as ingest_artifacts.j6b_bucket_" +
        "build, so this row's number is the zero-Exchange JOIN alone " +
        "(measured 1.9x per 10x data vs the build's linear 6.9x).",
      (s, d) => {
        val (gbp, eur) = j6bBucketedFacts(s, d)
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        gbp.join(eur, Seq("l_orderkey", "l_linenumber", "date"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(n("n_name").as("country"))
          .agg(count(lit(1)).as("n_items"),
            Functions.dsum(col("net")).as("net_revenue"),
            Functions.dsum(col("net_conv")).as("net_revenue_conv"))
          .orderBy("country")
      },
      Some(
        """WITH gbp AS (SELECT l_orderkey, l_linenumber,
          |    CAST(l_shipdate AS DATE) AS date,
          |    l_extendedprice * (1 - l_discount) AS net FROM lineitem),
          |eur AS (SELECT l_orderkey, l_linenumber, date,
          |    net * 0.85 AS net_conv FROM gbp)
          |SELECT n.n_name AS country, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(g.net AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
          |  CAST(SUM(CAST(e.net_conv AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue_conv
          |FROM gbp g
          |JOIN eur e ON g.l_orderkey = e.l_orderkey
          |  AND g.l_linenumber = e.l_linenumber AND g.date = e.date
          |JOIN orders o ON g.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |GROUP BY 1 ORDER BY country""".stripMargin),
      artifacts = Seq(J6bBuckets)),

    Q("j9_coverage_anti",
      "J9/J8 — coverage anti-join: ship dates with no order placed that " +
        "day (FX-coverage analog, facts.py:210-221)",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val shipDates = li.select(to_date(col("l_shipdate")).as("date")).distinct()
        val orderDates = o.select(to_date(col("o_orderdate")).as("date")).distinct()
        shipDates.join(orderDates, Seq("date"), "left_anti")
          .agg(count(lit(1)).as("n_uncovered_dates"))
      },
      Some(
        """SELECT COUNT(*) AS n_uncovered_dates FROM (
          |  SELECT DISTINCT CAST(l_shipdate AS DATE) AS date FROM lineitem) s
          |LEFT JOIN (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders) o
          |  ON s.date = o.date
          |WHERE o.date IS NULL""".stripMargin)),

    Q("g7_rate_stats",
      "G7 — MIN/MAX/derived-AVG/COUNT(DISTINCT) stats over the " +
        "forward-filled rate series (facts.py:224-231 analog)",
      (s, d) => {
        val r = rateSeries(s, d)
        r.agg(count(lit(1)).as("n_days"),
          countDistinct(col("rate")).as("n_distinct_rates"),
          min(col("rate")).as("min_rate"),
          max(col("rate")).as("max_rate"))
          .withColumn("avg_rate_proxy",
            (col("min_rate") + col("max_rate")) / 2)
      },
      Some(
        s"""WITH rates AS ($RateSql)
           |SELECT COUNT(*) AS n_days, COUNT(DISTINCT rate) AS n_distinct_rates,
           |  MIN(rate) AS min_rate, MAX(rate) AS max_rate,
           |  (MIN(rate) + MAX(rate)) / 2 AS avg_rate_proxy
           |FROM rates""".stripMargin)),

    Q("g8_quality_counts",
      "G8/U1 — labeled UNION ALL of validation counts with WHERE " +
        "(facts.py:523-545 analog)",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        def branch(nm: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("violations"))
            .select(lit(nm).as("check_name"), col("violations"))
        branch("negative_quantity", li.filter(col("l_quantity") < 0))
          .unionByName(branch("zero_or_negative_price",
            li.filter(col("l_extendedprice") <= 0)))
          .unionByName(branch("finished_orders",
            o.filter(col("o_orderstatus") === "F")))
          .orderBy("check_name")
      },
      Some(
        """SELECT * FROM (
          |  SELECT 'negative_quantity' AS check_name, COUNT(*) AS violations
          |  FROM lineitem WHERE l_quantity < 0
          |  UNION ALL
          |  SELECT 'zero_or_negative_price', COUNT(*)
          |  FROM lineitem WHERE l_extendedprice <= 0
          |  UNION ALL
          |  SELECT 'finished_orders', COUNT(*)
          |  FROM orders WHERE o_orderstatus = 'F') t
          |ORDER BY check_name""".stripMargin)),

    Q("g10_segmented_flags",
      "G10/M1/D3 — segmented analysis over boolean flags where one flag " +
        "is computed M1-style (fold ALTER+UPDATE into a left-join flag; " +
        "dimensions.py:79-94, facts.py:463-492)",
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
        val b = o.agg(min(to_date($"o_orderdate")), max(to_date($"o_orderdate"))).head()
        val cal = Functions.dateSeries(s, b.getDate(0), b.getDate(1))
          .withColumn("is_weekend", Functions.isWeekend($"date"))
        // "holiday" set analog: first day of each month, attached via
        // left join + IS NOT NULL flag (the M1 fold; no UPDATE in Spark).
        val holidays = cal.select(trunc($"date", "month").as("holiday_date")).distinct()
        val cal2 = cal.join(broadcast(holidays),
            cal("date") === holidays("holiday_date"), "left")
          .withColumn("is_month_start", $"holiday_date".isNotNull)
          .drop("holiday_date")
        o.withColumn("date", to_date($"o_orderdate"))
          .join(broadcast(cal2), Seq("date"))
          .groupBy($"is_weekend", $"is_month_start")
          .agg(count(lit(1)).as("n_orders"),
            Functions.dsum($"o_totalprice").as("revenue"))
          .orderBy($"is_weekend", $"is_month_start")
      },
      Some(
        """WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
          |             MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
          |cal AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date FROM b),
          |cal2 AS (SELECT c.date, EXTRACT(dow FROM c.date) IN (0, 6) AS is_weekend,
          |    h.holiday_date IS NOT NULL AS is_month_start
          |  FROM cal c LEFT JOIN (SELECT DISTINCT CAST(DATE_TRUNC('month', date) AS DATE) AS holiday_date FROM cal) h
          |    ON c.date = h.holiday_date)
          |SELECT c.is_weekend, c.is_month_start, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
          |FROM orders o JOIN cal2 c ON CAST(o.o_orderdate AS DATE) = c.date
          |GROUP BY 1, 2 ORDER BY is_weekend, is_month_start""".stripMargin)),

    Q("u2_union_sheets",
      "U2/S1 — multi-sheet ingestion analog: split source by priority " +
        "prefix, tag each slice with source_sheet, unionByName back " +
        "(retail_data.py:27-38)",
      (s, d) => {
        val o = t(s, d, "orders")
        def sheet(nm: String, f: Column): DataFrame =
          o.filter(f).withColumn("source_sheet", lit(nm))
        val unioned = sheet("urgent", col("o_orderpriority").startsWith("1"))
          .unionByName(sheet("high", col("o_orderpriority").startsWith("2")))
          .unionByName(sheet("other", !col("o_orderpriority").startsWith("1") &&
            !col("o_orderpriority").startsWith("2")))
        unioned.groupBy(col("source_sheet"))
          .agg(count(lit(1)).as("n_rows"),
            Functions.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("source_sheet")
      },
      Some(
        """SELECT source_sheet, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
          |FROM (
          |  SELECT *, 'urgent' AS source_sheet FROM orders WHERE o_orderpriority LIKE '1%'
          |  UNION ALL
          |  SELECT *, 'high' FROM orders WHERE o_orderpriority LIKE '2%'
          |  UNION ALL
          |  SELECT *, 'other' FROM orders
          |  WHERE o_orderpriority NOT LIKE '1%' AND o_orderpriority NOT LIKE '2%') t
          |GROUP BY 1 ORDER BY source_sheet""".stripMargin)),

    Q("o3_ingest_dedup_sort",
      "O3/X1 — ingestion-side dedup + sort (holidays dedup analog, " +
        "holidays_data.py:44-46)",
      (s, d) => t(s, d, "lineitem")
        .select(to_date(col("l_shipdate")).as("date"),
          col("l_returnflag").as("flag"))
        .dropDuplicates("date")
        .select("date")
        .orderBy("date"),
      Some(
        // dropDuplicates keeps an arbitrary row per key; projecting to the
        // key alone makes the result deterministic = DISTINCT dates.
        """SELECT DISTINCT CAST(l_shipdate AS DATE) AS date
          |FROM lineitem ORDER BY date""".stripMargin)),

    Q("o4_incremental_rollup",
      "Incremental materialized-rollup maintenance (the 100 TB " +
        "counterpart of the reference's rebuild-everything " +
        "agg_country_day, facts.py:347-412): the events facts arrive as " +
        "two date-split batches into a day-partitioned fact table, and " +
        "after each batch only the touched rollup day-partitions are " +
        "recomputed and swapped in (dynamic partition overwrite). The " +
        "oracle is the FULL recompute over all events — hash-matching " +
        "it proves incremental == full.",
      (s, d) => {
        import s.implicits._
        val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o4_wh"))
        val ev = Graft.events(s, d)
          .select(to_date($"ts").as("day"), $"event_type", $"value")
        def rollup(slice: org.apache.spark.sql.DataFrame) =
          slice.groupBy($"day", $"event_type")
            .agg(count(lit(1)).as("n_events"),
              Functions.dsum($"value").as("total_value"))
        // data-derived mid-span cut: both batches are non-empty for any
        // events date range (first ingest must carry rows — the rollup
        // has no schema to exist from otherwise)
        val b = ev.agg(min($"day"), max($"day")).head()
        val (lo, hi) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
        val cut = lit(java.sql.Date.valueOf(
          lo.plusDays(java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2)))
        graft.pipeline.IncrementalRollup.ingest(cat, "ev_fact", "ev_rollup",
          "day", ev.filter($"day" < cut), rollup)
        graft.pipeline.IncrementalRollup.ingest(cat, "ev_fact", "ev_rollup",
          "day", ev.filter($"day" >= cut), rollup)
          .select($"day", $"event_type", $"n_events", $"total_value")
          .orderBy($"day", $"event_type")
      },
      Some(
        """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
          |  COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    Q("o6_incremental_neardup",
      "Incremental NEAR-dup ingest — pipeline/IncrementalNearDup's " +
        "two-batch drive: batch 1 (doc_id < 250) establishes the " +
        "corpus and its simhash signature index, batch 2 dedups " +
        "against BOTH itself and the index (band join, hamming <= 3) " +
        "without any corpus-sized recompute. The DRIVE is an " +
        "ingest-time artifact (memoized per corpus, reported as " +
        "ingest_artifacts.o6_ingest_drive in the bench — the j6b/t17b " +
        "split): production pays the fold once per arriving batch, " +
        "and this row measures what a consumer then reads — the " +
        "per-batch in/kept census with the kept-id sum (exact witness " +
        "of WHICH docs survived), ONE aggregate over the committed " +
        "corpus partitions. Replay and crash-repair are proven " +
        "separately (NearDupIngestSpec). Oracle: the same " +
        "banded-simhash suppression rules replayed as one DuckDB CTE " +
        "chain — hash-matching proves the incremental path computes " +
        "exactly the declarative spec.",
      (s, d) => {
        val cat = o6Warehouse(s, d)
        // tag-and-union, not crossJoin-of-scalars: one aggregate over
        // both frames keeps the plan census free of cartesians; the
        // kept side reads the warehouse's committed __batch_id
        // partitions, so survivors need no recompute
        val in = Graft.table(s, d, "documents")
          .select(when(col("doc_id") < 250, lit(1L)).otherwise(lit(2L))
              .as("batch"),
            lit(1L).as("in_flag"), lit(0L).as("kept_flag"),
            lit(0L).as("kid"))
        val kept = graft.pipeline.IncrementalNearDup
          .corpusWithBatchId(cat, "corpus")
          .select(col("__batch_id").cast("long").as("batch"),
            lit(0L).as("in_flag"), lit(1L).as("kept_flag"),
            col("doc_id").as("kid"))
        in.unionByName(kept)
          .groupBy(col("batch"))
          .agg(sum(col("in_flag")).as("n_in"),
            sum(col("kept_flag")).as("n_kept"),
            sum(col("kid")).as("kept_docid_sum"))
          .orderBy("batch")
      },
      Some(
        s"""WITH ${graft.queries.DedupQueries.SimhashDocsSql},
           |bands AS (SELECT UNNEST([0, 1, 2, 3]) AS k),
           |sh1 AS (SELECT * FROM sh WHERE doc_id < 250),
           |sh2 AS (SELECT * FROM sh WHERE doc_id >= 250),
           |b1 AS (SELECT doc_id, simhash, k,
           |  (simhash >> (16 * k)) & 65535 AS band FROM sh1, bands),
           |b2 AS (SELECT doc_id, simhash, k,
           |  (simhash >> (16 * k)) & 65535 AS band FROM sh2, bands),
           |dup1 AS (
           |  SELECT DISTINCT y.doc_id FROM b1 x JOIN b1 y
           |    ON x.k = y.k AND x.band = y.band AND x.doc_id < y.doc_id
           |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
           |kept1 AS (SELECT doc_id, simhash FROM sh1
           |  WHERE doc_id NOT IN (SELECT doc_id FROM dup1)),
           |bk1 AS (SELECT doc_id, simhash, k,
           |  (simhash >> (16 * k)) & 65535 AS band FROM kept1, bands),
           |dup2w AS (
           |  SELECT DISTINCT y.doc_id FROM b2 x JOIN b2 y
           |    ON x.k = y.k AND x.band = y.band AND x.doc_id < y.doc_id
           |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
           |dup2i AS (
           |  SELECT DISTINCT x.doc_id FROM b2 x JOIN bk1 i
           |    ON x.k = i.k AND x.band = i.band
           |  WHERE bit_count(xor(x.simhash, i.simhash)) <= 3),
           |kept2 AS (SELECT doc_id FROM sh2 WHERE doc_id NOT IN
           |  (SELECT doc_id FROM dup2w UNION SELECT doc_id FROM dup2i))
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS batch,
           |    (SELECT COUNT(*) FROM sh1) AS n_in,
           |    (SELECT COUNT(*) FROM kept1) AS n_kept,
           |    (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM kept1)
           |      AS kept_docid_sum
           |  UNION ALL
           |  SELECT CAST(2 AS BIGINT),
           |    (SELECT COUNT(*) FROM sh2),
           |    (SELECT COUNT(*) FROM kept2),
           |    (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM kept2)
           |) ORDER BY batch""".stripMargin),
      artifacts = Seq(O6Drive)),

    Q("w1p_forward_fill_partitioned",
      "W1(partitioned)/J4 — per-event-type daily series forward-fill " +
        "using the partitionCols path (the 100 TB-scalable variant of " +
        "w1_forward_fill; parallel window per partition key)",
      (s, d) => {
        import s.implicits._
        val e = Graft.events(s, d).withColumn("date", to_date($"ts"))
        val b = e.agg(min($"date"), max($"date")).head()
        // Grid = date series x distinct event types: both sides bounded
        // (days in range; type cardinality), and the broadcast hint
        // keeps the product a BNLJ instead of a partition-product
        // CartesianProduct when auto-broadcast is off.
        val series = Functions.dateSeries(s, b.getDate(0), b.getDate(1))
          .crossJoin(broadcast(e.select($"event_type").distinct()))
        val daily = e.groupBy($"date", $"event_type")
          .agg(max($"value").as("v"))
        val joined = series.join(daily, Seq("date", "event_type"), "left")
        Functions.forwardFill(joined, "date", "v", "v_filled",
            partitionCols = Seq("event_type"))
          .select($"date", $"event_type", $"v_filled")
          .orderBy($"date", $"event_type")
      },
      Some(
        """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date, event_type, value FROM events),
          |b AS (SELECT MIN(date) AS lo, MAX(date) AS hi FROM e),
          |series AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date FROM b),
          |grid AS (SELECT s.date, t.event_type FROM series s CROSS JOIN (SELECT DISTINCT event_type FROM e) t),
          |daily AS (SELECT date, event_type, MAX(value) AS v FROM e GROUP BY 1, 2)
          |SELECT g.date, g.event_type,
          |  LAST_VALUE(dv.v IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.date
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
          |FROM grid g LEFT JOIN daily dv ON g.date = dv.date AND g.event_type = dv.event_type
          |ORDER BY g.date, g.event_type""".stripMargin)),

    Q("o5_versioned_snapshot",
      "Versioned-table reproducibility — v1 of a corpus (short docs " +
        "only) is written and committed, then a superseding v2 (all " +
        "docs) lands; the query reads the PINNED v1 afterwards. " +
        "Hash-matching the v1-filter oracle proves a committed version " +
        "is immutable under later saves — the 'which exact corpus did " +
        "this run train on' contract (Catalog.saveVersioned/tableAt).",
      (s, d) => {
        import s.implicits._
        val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o5_wh"))
        val docs = t(s, d, "documents")
        val v1 = cat.saveVersioned("corpus", docs.filter($"n_chars" < 300))
        cat.saveVersioned("corpus", docs): Unit // v2 supersedes v1
        cat.tableAt("corpus", v1)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("total_chars"))
          .orderBy($"lang")
      },
      Some(
        """SELECT lang, COUNT(*) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM documents WHERE n_chars < 300
          |GROUP BY 1 ORDER BY lang""".stripMargin)),

    Q("o8_incremental_gram",
      "Incremental Gram/PCA statistics maintenance — the two-batch " +
        "drive of pipeline/IncrementalGram: the embeddings table is " +
        "split by vec_id parity, batch 1 creates the persisted " +
        "statistics table, batch 2 FOLDS IN by pure (i, j)-keyed " +
        "DECIMAL addition — one O(batch · d²) pass plus a d²-row " +
        "merge, never a corpus recompute (the additivity PcaSpec " +
        "proves algebraically, here proven through the real persisted-" +
        "table read-modify-overwrite path). The oracle is a10's SQL " +
        "VERBATIM: the batches partition the corpus, so the merged " +
        "statistics must hash-match the full-corpus declarative " +
        "computation bit for bit.",
      (s, d) => {
        val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o8_wh"))
        val e = Graft.table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        graft.pipeline.IncrementalGram.ingest(cat,
          e.filter(col("vec_id") % 2 === 0), "gram_stats")
        graft.pipeline.IncrementalGram.ingest(cat,
          e.filter(col("vec_id") % 2 =!= 0), "gram_stats")
        cat.table("gram_stats").orderBy("i", "j")
      },
      Some(SimilarityQueries.GramOracleSql)),

    Q("o8b_gram_retire",
      "The deletion path of o8, end to end through the persisted " +
        "table — takedowns and corrupted-batch rollback for additive " +
        "statistics: ingest batches A and B (vec_id parity split), " +
        "then RETIRE B by folding in its statistics negated — one " +
        "O(batch · d²) pass + a d²-row merge, never a corpus " +
        "recompute, exactly like ingestion (exact sums are invertible; " +
        "a float accumulation would not be). Oracle: the full " +
        "declarative a10 computation over batch A ALONE — the table " +
        "after retire must hash-match a recompute over the surviving " +
        "corpus bit for bit, which also exercises the all-zero-residue " +
        "drop (keys whose entire contribution came from the retired " +
        "batch must vanish, not linger as zeros).",
      (s, d) => {
        val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o8b_wh"))
        val e = Graft.table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val a = e.filter(col("vec_id") % 2 === 0)
        val b = e.filter(col("vec_id") % 2 =!= 0)
        graft.pipeline.IncrementalGram.ingest(cat, a, "gram_stats")
        graft.pipeline.IncrementalGram.ingest(cat, b, "gram_stats")
        graft.pipeline.IncrementalGram.retire(cat, b, "gram_stats")
        cat.table("gram_stats").orderBy("i", "j")
      },
      Some(SimilarityQueries.gramOracleSqlOver("WHERE vec_id % 2 = 0"))),

    Q("o9_incremental_postings",
      "Incremental BM25 corpus-statistics maintenance — the retrieval " +
        "twin of o8, through the same pipeline/AdditiveStats " +
        "primitive: df / term-frequency totals / doc counts are exact " +
        "counts, so a batch of new documents folds into the persisted " +
        "postings-statistics table by tk-keyed addition — one " +
        "O(batch) tokenize pass + a vocabulary-cardinality merge, " +
        "never a corpus rescan (at 100 TB THIS table is what t17's " +
        "scoring reads, maintained by ingest instead of recomputed " +
        "per query). Batches are disjoint on doc_id by construction " +
        "(parity split), which is what makes the per-term distinct " +
        "doc count additive. Oracle: the full-corpus declarative " +
        "computation — the merged table must hash-match it bit for " +
        "bit.",
      (s, d) => {
        val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o9_wh"))
        val docs = Graft.table(s, d, "documents")
          .select(col("doc_id"), col("text"))
        graft.pipeline.AdditiveStats.fold(cat, "postings",
          TextQueries.postingsStats(docs.filter(col("doc_id") % 2 === 0)),
          Seq("tk"))
        graft.pipeline.AdditiveStats.fold(cat, "postings",
          TextQueries.postingsStats(docs.filter(col("doc_id") % 2 =!= 0)),
          Seq("tk"))
        cat.table("postings").orderBy("tk")
      },
      Some(TextQueries.PostingsOracleSql)),

    Q("o11_incremental_segments",
      "Incremental first-occurrence segment registry — d15's corpus " +
        "rewrite maintained by ingest through pipeline/MinMergeStats, " +
        "the THIRD merge algebra in the incremental family: per " +
        "distinct segment the registry keeps the lexicographically-" +
        "minimal (doc_id, start) owner, and min over a total order is " +
        "commutative, associative AND idempotent — so unlike o8/o9's " +
        "additive folds the registry is exact under ANY batch arrival " +
        "order and under REDELIVERY. This drive proves it the hard " +
        "way: the even-doc batch folds TWICE on purpose (an " +
        "at-least-once upstream's double delivery) and the odd batch " +
        "lands in between — the final registry must still equal the " +
        "full-corpus recompute, with no upstream dedup contract. The " +
        "tradeoff vs addition: min is not invertible, so takedowns " +
        "rebuild affected keys from the surviving corpus instead of " +
        "retiring by negation (documented in MinMergeStats). Since " +
        "round 16 each fold APPENDS its batch's reduced candidate " +
        "owners as a delta (O(batch) write — idempotent min absorbs " +
        "over-append, so folds never read or rewrite the dictionary; " +
        "the r15 census measured the old per-fold dictionary rewrite " +
        "above-linear at the sixth decade) and the drive compacts " +
        "once at the end, so this row's probe reads the plain merged " +
        "scan. The rewrite probes the registry by (digest, literal) " +
        "and keeps exactly the registered owners. " +
        "The DRIVE is an ingest-time artifact (memoized per corpus, " +
        "reported as ingest_artifacts.o11_registry_drive in the bench " +
        "— the o6/j6b split): production pays the fold once per " +
        "arriving batch, and this row measures what a consumer then " +
        "reads — the registry probe + corpus rewrite. Oracle: d15's " +
        "full-corpus SQL verbatim — maintained-registry semantics " +
        "must equal recompute bit for bit.",
      (s, d) => {
        val cat = o11Warehouse(s, d)
        val toks = DedupQueries.segTokens(s, d)
        // The probe ships NO literals: a registry row's (first_doc,
        // first_start) is the exact corpus position its seg literal was
        // read from, so position equality (plus the digest) implies
        // literal equality — the (h, seg)-keyed registry protects the
        // MERGE from digest collisions, while the probe rides 24-byte
        // (h, doc_id, start) triples.
        val reg = graft.pipeline.MinMergeStats.view(cat, "seg_registry",
            DedupQueries.SegRegistryKeys, DedupQueries.SegRegistryOrd)
          .select(col("h"), col("first_doc"), col("first_start"))
        val probe = DedupQueries.docSegments(toks)
          .select(col("doc_id"), col("start"), col("h"))
        val kept = probe
          .join(reg,
            probe("h") === reg("h") &&
              probe("doc_id") === reg("first_doc") &&
              probe("start") === reg("first_start"))
          .select(probe("doc_id"), probe("start"))
        DedupQueries.rewriteFromKept(toks, kept)
      },
      Some(DedupQueries.SegRewriteOracleSql),
      artifacts = Seq(O11Drive)),

    Q("o11b_segment_retire",
      "Takedown on the min-merge registry — the path MinMergeStats' " +
        "doc promises in place of retire-by-negation (a min is not " +
        "invertible: the table no longer holds the runner-up). " +
        "Retiring a doc batch REBUILDS exactly the affected keys — " +
        "registry rows whose OWNER is a retired doc; keys owned by a " +
        "survivor are untouched, because removing a non-owner " +
        "occurrence never changes a min — from the surviving corpus " +
        "(one digest-triple pass, semi-join-pruned to affected keys), " +
        "and affected keys with no surviving occurrence drop out. " +
        "This drive ingests even+odd doc batches, retires the odd " +
        "batch, then emits the corpus rewrite for the survivors from " +
        "the rebuilt registry — which must hash-match a from-scratch " +
        "d15 recompute over the surviving docs alone (the oracle: the " +
        "shared rewrite SQL with the retired docs filtered at the " +
        "source). The o8b contrast, completed: addition retires by " +
        "negation but demands exactly-once delivery; min-merge " +
        "ingests idempotently but retires by bounded rebuild. The " +
        "DRIVE (folds + ingest-end compaction + the takedown rebuild " +
        "— all ingest-shaped: a takedown arrives like any batch) is a " +
        "memoized ingest artifact reported as " +
        "ingest_artifacts.o11b_retire_drive (the o6/o11/o12/o12b " +
        "measurement boundary); this row measures what a consumer " +
        "reads AFTER the takedown — the registry probe + survivor " +
        "corpus rewrite.",
      (s, d) => {
        val cat = o11bWarehouse(s, d)
        val toks = DedupQueries.segTokens(s, d)
          .filter(col("doc_id") % 2 === 0)
        val reg = graft.pipeline.MinMergeStats.view(cat, "seg_registry",
            DedupQueries.SegRegistryKeys, DedupQueries.SegRegistryOrd)
          .select(col("h"), col("first_doc"), col("first_start"))
        val probe = DedupQueries.docSegments(toks)
          .select(col("doc_id"), col("start"), col("h"))
        val kept = probe
          .join(reg,
            probe("h") === reg("h") &&
              probe("doc_id") === reg("first_doc") &&
              probe("start") === reg("first_start"))
          .select(probe("doc_id"), probe("start"))
        DedupQueries.rewriteFromKept(toks, kept)
      },
      Some(DedupQueries.segRewriteOracleSqlOver(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)")),
      artifacts = Seq(O11bDrive)),

    Q("o11s_segment_stream",
      "§2.12 driver-visible streaming row #8: the min-merge segment " +
        "registry maintained BY THE STREAMING ENGINE — o11's fold " +
        "driven from a checkpointed AvailableNow file stream " +
        "(streaming/SegmentRegistryStream), one micro-batch per " +
        "staged corpus file, foreachBatch folding each batch's " +
        "candidate owners through pipeline/MinMergeStats. The payoff " +
        "of the idempotent algebra: unlike d1s/c1s (whose sinks lean " +
        "on the file sink's commit log) and NearDupStream (per-batch " +
        "appends keyed by the stream's batch id), this sink carries " +
        "NO batch-id bookkeeping — at-least-once redelivery is " +
        "absorbed by min-merge itself, and StreamingSpec proves it by " +
        "deleting a committed batch's commit marker mid-checkpoint " +
        "and restarting (the replay must leave the registry " +
        "bit-identical). Since round 16 each micro-batch fold is an " +
        "APPEND-ONLY delta write — O(batch), never reading the " +
        "registry — killing the r15 sixth-decade finding (11.9x per " +
        "10x: every micro-batch rewrote the whole literal-carrying " +
        "dictionary). Since round 17 the TERMINATED drive compacts " +
        "before handing off (the batch drives' shape — the r16 bench " +
        "paid a 4-delta merge-on-read in-row here), so the probe " +
        "reads the single-delta plain scan; a still-running " +
        "continuous stream instead bounds read amplification by the " +
        "amortized bucket-scoped auto-compaction. The staged " +
        "file split is arbitrary on " +
        "purpose: min over a total order is batching-invariant. " +
        "The STREAM DRIVE (stage + 4 checkpointed micro-batch folds + " +
        "drive-end compaction) is a memoized ingest artifact reported " +
        "as ingest_artifacts.o11s_stream_drive — the o12s boundary: " +
        "production pays each micro-batch once at ingest; this row " +
        "measures what a consumer then reads, the registry probe + " +
        "corpus rewrite. " +
        "Oracle: d15's full-corpus rewrite SQL verbatim — " +
        "stream-maintained registry semantics must equal the batch " +
        "recompute bit for bit.",
      (s, d) => {
        val cat = o11sWarehouse(s, d)
        // probe + rewrite: identical to o11's read path — triples
        // only, literals never shuffle (position equality + digest
        // implies literal equality; the (h, seg)-keyed registry
        // protects the merge from digest collisions)
        val toks = DedupQueries.segTokens(s, d)
        val reg = graft.pipeline.MinMergeStats.view(cat, "seg_registry",
            DedupQueries.SegRegistryKeys, DedupQueries.SegRegistryOrd)
          .select(col("h"), col("first_doc"), col("first_start"))
        val probe = DedupQueries.docSegments(toks)
          .select(col("doc_id"), col("start"), col("h"))
        val kept = probe
          .join(reg,
            probe("h") === reg("h") &&
              probe("doc_id") === reg("first_doc") &&
              probe("start") === reg("first_start"))
          .select(probe("doc_id"), probe("start"))
        DedupQueries.rewriteFromKept(toks, kept)
      },
      Some(DedupQueries.SegRewriteOracleSql),
      artifacts = Seq(O11sDrive)),

    Q("o12_incremental_cc",
      "Incremental near-dup LABEL maintenance — the FOURTH merge " +
        "algebra (pipeline/IncrementalCc), closing the last heavy " +
        "shared artifact with no maintenance path: the simhash CC " +
        "label table d7/d10/c14/x10b and the corpus release consume " +
        "was rebuilt from scratch per corpus. Arriving batch = the " +
        "banded hamming<=3 edges with >= 1 endpoint in the batch " +
        "(DedupQueries.simhashEdgesVs — the union over arrivals " +
        "reproduces the full pair set exactly); fold = contract " +
        "existing components to their labels, run CC on the " +
        "contracted graph ONLY (O(new edges + touched components), " +
        "never corpus mass), broadcast the changed-label map back " +
        "over the table. min-label over a total order is idempotent, " +
        "so this drive refolds batch 2's edges as a deliberate " +
        "at-least-once redelivery — the contraction turns every " +
        "refolded edge into a self-loop and the fold is a PHYSICAL " +
        "no-op (since round 16 folds append label deltas through " +
        "MinMergeStats' log — labels only ever decrease under merges, " +
        "so min(l) per v over appended rows IS the current label; an " +
        "empty delta is dropped, and the per-fold write is O(touched " +
        "components + new vertices), never the corpus-sized label " +
        "table the r15 verdict flagged). The DRIVE is an ingest-time " +
        "artifact (memoized per " +
        "corpus, reported as ingest_artifacts.o12_cc_drive in the " +
        "bench — the o6/o11 split: production pays the fold once per " +
        "arriving batch); this row measures what a consumer then " +
        "reads — the MAINTAINED label table projected onto the " +
        "corpus as per-doc keep/drop verdicts, d10's exact read " +
        "shape. Oracle: d10's full-corpus recursive-CTE closure SQL " +
        "VERBATIM — one oracle for both rows is the " +
        "interchangeability proof: the maintained table must serve " +
        "every label consumer exactly as the from-scratch memo does " +
        "(DedupSpec additionally proves table == memo bit-equality " +
        "and batching invariance).",
      (s, d) => {
        val cat = o12Warehouse(s, d)
        val docs = Graft.table(s, d, "documents").select(col("doc_id"))
        val labels = graft.pipeline.IncrementalCc.labels(cat)
        docs.join(labels, docs("doc_id") === labels("v"), "left")
          .select(col("doc_id"),
            col("l").as("cluster"),
            (col("l").isNull || col("doc_id") === col("l")).as("kept"))
          .orderBy("doc_id")
      },
      Some(DedupQueries.CcVerdictOracleSql),
      artifacts = Seq(O12Drive)),

    Q("o12s_cc_label_stream",
      "§2.12 driver-visible streaming row #10: the near-dup CC label " +
        "table maintained BY THE STREAMING ENGINE — o12's fold driven " +
        "from a checkpointed AvailableNow file stream " +
        "(streaming/CcLabelStream), one micro-batch of arriving " +
        "document signatures per staged file. Per batch: banded " +
        "hamming<=3 edges vs the signatures seen so far " +
        "(simhashEdgesVs — the union over arrivals reproduces the " +
        "full pair set exactly), IncrementalCc's contracted fold " +
        "appends the label delta, and the batch's signatures join " +
        "the seen set through a second min-merge fold. TWO idempotent " +
        "algebras, ZERO batch-id bookkeeping: a crash replay refolds " +
        "edges into self-loops (structural no-op) and re-appends " +
        "signatures a min absorbs, in any interleaving — " +
        "StreamingSpec proves it by deleting the last commit marker " +
        "and restarting (labels must come out bit-identical). The " +
        "file split is arbitrary on purpose: DedupSpec proves label " +
        "batching-invariance. The STREAM DRIVE is an ingest-time " +
        "artifact (memoized per corpus, reported as " +
        "ingest_artifacts.o12s_stream_drive — the o6/o11/o12 split: " +
        "production pays each micro-batch once at ingest); this row " +
        "measures what a consumer then reads — the stream-maintained " +
        "label table projected onto the corpus as keep/drop verdicts. " +
        "Oracle: d10's full-corpus " +
        "recursive-CTE closure SQL VERBATIM — the third row on the " +
        "one closure oracle (d10 recompute, o12 batch-maintained, " +
        "this stream-maintained), the interchangeability proof for " +
        "every label consumer.",
      (s, d) => {
        val cat = o12sWarehouse(s, d)
        val docs = Graft.table(s, d, "documents").select(col("doc_id"))
        val labels = graft.pipeline.IncrementalCc.labels(cat)
        docs.join(labels, docs("doc_id") === labels("v"), "left")
          .select(col("doc_id"),
            col("l").as("cluster"),
            (col("l").isNull || col("doc_id") === col("l")).as("kept"))
          .orderBy("doc_id")
      },
      Some(DedupQueries.CcVerdictOracleSql),
      artifacts = Seq(O12sDrive)),

    Q("o12b_cc_retire",
      "Takedown on the maintained CC label table — the graph-level " +
        "complement of o11b, and STRICTLY harder: a key-owner retire " +
        "rebuilds affected keys from surviving occurrences, but a " +
        "vertex removal can SPLIT a component (the retired doc may be " +
        "the only bridge between two sub-clusters), so min-label CC " +
        "cannot retire by any per-key rule — IncrementalCc.retire " +
        "rebuilds exactly the AFFECTED components (those losing >= 1 " +
        "member; one semi-join against the retired batch) from the " +
        "banded pair join over their surviving members' signatures " +
        "alone, O(affected), never corpus mass. Components untouched " +
        "by the takedown keep their labels verbatim (all members " +
        "survive, so each label is still the component's min vertex); " +
        "survivors left edge-less drop out of the table, matching " +
        "fold's edges-only vertex contract. The rewrite rides " +
        "MinMergeStats' staged _REBUILD protocol (crash rolls back to " +
        "the intact table or forward to the completed sweep). This " +
        "drive ingests two signature batches, compacts (the " +
        "production ingest shape), retires batch 2, and emits d10's " +
        "keep/drop verdicts over the survivors. The DRIVE (folds + " +
        "compaction + the takedown itself — all ingest-shaped: " +
        "takedowns arrive at ingest time like any batch) is an " +
        "ingest-time artifact, memoized per (session, corpus) and " +
        "reported as ingest_artifacts.o12b_retire_drive (the " +
        "o6/o11/o12 measurement boundary); this row measures what a " +
        "consumer reads AFTER the takedown — the maintained table " +
        "projected as keep/drop verdicts over the survivors. Oracle: " +
        "the closure SQL over the surviving docs ALONE — " +
        "retire-then-read must be bit-identical to a from-scratch " +
        "recompute without the retired batch (the o11b oracle pattern " +
        "lifted to graphs; DedupSpec additionally pins the bridge-doc " +
        "case, where one retire splits a component in two).",
      (s, d) => {
        val cat = o12bWarehouse(s, d)
        val docs = Graft.table(s, d, "documents")
          .select(col("doc_id")).filter(col("doc_id") % 3 =!= 1)
        val labels = graft.pipeline.IncrementalCc.labels(cat)
        docs.join(labels, docs("doc_id") === labels("v"), "left")
          .select(col("doc_id"),
            col("l").as("cluster"),
            (col("l").isNull || col("doc_id") === col("l")).as("kept"))
          .orderBy("doc_id")
      },
      Some(DedupQueries.ccVerdictOracleSqlOver(
        "(SELECT * FROM documents WHERE doc_id % 3 != 1)")),
      artifacts = Seq(O12bDrive)),

    Q("o7_scd2_dims",
      "Slowly-changing dimension TYPE 2 — the warehouse dimension-" +
        "history operator (Kimball SCD2): an update batch (here the " +
        "deterministic fixture: customers with custkey % 7 == 3 move " +
        "to segment 'MOVED' with acctbal+100, effective 1997-06-01) " +
        "merges into the current dimension WITHOUT updates-in-place: " +
        "touched keys close their current row (valid_to = effective " +
        "date, is_current = false) and open a v2 row; untouched keys " +
        "pass through. The whole merge is ONE left join of the " +
        "dimension against the update batch plus a union of the " +
        "batch — no MERGE statement, no per-row mutation. At 100 TB: " +
        "the update batch is day-scale (broadcast or hash join on " +
        "the key), history rows are immutable so only the IS_CURRENT " +
        "partition rewrites (the o4 dynamic-partition-overwrite " +
        "pattern applied to dimensions); version pinning composes " +
        "with o5's Catalog versioning for as-of-date dimension reads.",
      (s, d) => {
        import s.implicits._
        val dim = t(s, d, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        val updates = dim.filter($"c_custkey" % 7 === 3)
          .select($"c_custkey",
            lit("MOVED").as("c_mktsegment"),
            ($"c_acctbal" + 100.0).as("c_acctbal"))
        val eff = to_date(lit("1997-06-01"))
        val closed = dim
          .join(updates.select($"c_custkey", lit(1).as("u")),
            Seq("c_custkey"), "left")
          .select($"c_custkey", lit(1L).as("version"),
            $"c_mktsegment", $"c_acctbal",
            to_date(lit("1992-01-01")).as("valid_from"),
            when($"u".isNotNull, eff).as("valid_to"),
            $"u".isNull.as("is_current"))
        val opened = updates
          .select($"c_custkey", lit(2L).as("version"),
            $"c_mktsegment", $"c_acctbal",
            eff.as("valid_from"),
            lit(null).cast("date").as("valid_to"),
            lit(true).as("is_current"))
        closed.unionByName(opened)
          .orderBy($"c_custkey", $"version")
      },
      Some(
        """WITH dim AS (
          |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
          |updates AS (
          |  SELECT c_custkey, 'MOVED' AS c_mktsegment,
          |    c_acctbal + 100.0 AS c_acctbal
          |  FROM dim WHERE c_custkey % 7 = 3),
          |closed AS (
          |  SELECT d.c_custkey, CAST(1 AS BIGINT) AS version,
          |    d.c_mktsegment, d.c_acctbal,
          |    DATE '1992-01-01' AS valid_from,
          |    CASE WHEN u.c_custkey IS NOT NULL
          |      THEN DATE '1997-06-01' END AS valid_to,
          |    u.c_custkey IS NULL AS is_current
          |  FROM dim d LEFT JOIN updates u ON d.c_custkey = u.c_custkey),
          |opened AS (
          |  SELECT c_custkey, CAST(2 AS BIGINT) AS version,
          |    c_mktsegment, c_acctbal,
          |    DATE '1997-06-01' AS valid_from,
          |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
          |  FROM updates)
          |SELECT * FROM closed UNION ALL SELECT * FROM opened
          |ORDER BY c_custkey, version""".stripMargin)),

    Q("e1_hourly_window",
      "D6/streaming-equivalent — tumbling 1-hour window aggregation over " +
        "events (batch twin of the Structured Streaming query; also pins " +
        "the TIMESTAMP_NS→µs conversion end-to-end)",
      (s, d) => {
        import s.implicits._
        Graft.events(s, d)
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n_events"),
            Functions.dsum($"value").as("total_value"))
          .select($"window.start".as("hour_start"), $"event_type",
            $"n_events", $"total_value")
          .orderBy($"hour_start", $"event_type")
      },
      Some(
        """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
          |  COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    Q("e1s_hourly_window_stream",
      "§2.12 driver-visible streaming row: the SAME tumbling-window " +
        "topology as e1 executed BY THE STREAMING ENGINE — file-stream " +
        "source, stateful window aggregation, Trigger.AvailableNow " +
        "one-shot — and hash-checked against e1's DuckDB oracle. The " +
        "streaming extension is gated by the same cross-engine " +
        "comparison as every batch operator, not only by spec parity.",
      (s, d) => graft.streaming.EventsStream.hourlyCountsOneShot(s, d),
      Some(
        """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
          |  COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    Q("e2s_stream_static_join",
      "§2.12 driver-visible streaming row #4: STREAM-STATIC broadcast-" +
        "join enrichment — the most common production join shape " +
        "(events stream ⋈ broadcast dimension), which unlike " +
        "stream-stream holds NO join state: the static event_type → " +
        "tier dim is a plain batch frame re-resolved per micro-batch. " +
        "File-stream source, broadcast hash join inside the streaming " +
        "plan, bounded-key Complete-mode aggregate, AvailableNow " +
        "one-shot through the durable parquet sink — hash-checked " +
        "against the pure batch equivalent in DuckDB.",
      (s, d) => graft.streaming.EventsStream.tierRollupOneShot(s, d),
      Some(
        """SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
          |  WHEN event_type IN ('purchase', 'signup') THEN 'revenue'
          |  ELSE 'ops' END AS tier,
          |  COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1 ORDER BY tier""".stripMargin)),

    Q("e12s_stream_stream_join",
      "§2.12 driver-visible streaming row #5: STREAM-STREAM event-time " +
        "interval join — signup→purchase conversion pairs per user " +
        "within 24 hours, BOTH sides streaming (a self-join of the " +
        "event stream), watermarked on each side. This is the join " +
        "shape that actually holds stream state: each side buffers " +
        "rows until the other side's watermark clears the interval " +
        "bound, so state is rate x (delay + interval), not history. " +
        "Append-mode durable parquet sink (per-batch overwrite would " +
        "drop earlier batches' pairs), AvailableNow one-shot, " +
        "hash-checked against the pure batch join in DuckDB.",
      (s, d) => graft.streaming.EventsStream.conversionPairsOneShot(s, d),
      Some(
        """SELECT s.user_id, CAST(s.ts AS TIMESTAMP) AS signup_ts,
          |  CAST(p.ts AS TIMESTAMP) AS purchase_ts, p.value
          |FROM events s JOIN events p ON s.user_id = p.user_id
          |  AND s.event_type = 'signup' AND p.event_type = 'purchase'
          |  AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
          |  AND CAST(p.ts AS TIMESTAMP) <=
          |      CAST(s.ts AS TIMESTAMP) + INTERVAL 24 HOURS
          |ORDER BY 1, 2, 3""".stripMargin)),

    Q("d1s_dedup_stream",
      "§2.12 driver-visible streaming row #6: STREAMING EXACT DEDUP — " +
        "d1's dedup-at-ingestion twin. The event stream unioned with a " +
        "second reader re-emitting every tenth event (planted " +
        "duplicates — corpus event_ids are unique, so a bare dedup " +
        "would be an unobservable pass-through) flows through " +
        "dropDuplicatesWithinWatermark(event_id): state holds one key " +
        "per event inside the 1-hour horizon and is evicted past it, " +
        "so memory is rate × horizon, never corpus-wide. Dedup emits " +
        "first-occurrence rows immediately in Append mode; durable " +
        "parquet sink, AvailableNow one-shot, hash-checked against " +
        "the plain batch table (dedup(events ∪ copies) == events).",
      (s, d) => graft.streaming.EventsStream.dedupOneShot(s, d),
      Some(
        """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
          |  event_type, value, props
          |FROM events ORDER BY event_id""".stripMargin)),

    Q("e8s_sliding_window_stream",
      "§2.12 driver-visible streaming row #7: SLIDING-window stateful " +
        "aggregation — e8's topology run by the streaming engine " +
        "(1-hour windows every 15 minutes, 1-hour watermark). The " +
        "overlap factor (window/slide = 4) multiplies STATE, not " +
        "input: each event lands in 4 window keys, so state is " +
        "4 x types x horizon, bounded by the grid. Exact DECIMAL " +
        "value accumulation (micro-batch boundaries reorder float " +
        "additions), Complete-mode durable parquet sink, AvailableNow " +
        "one-shot, hash-checked against e8's DuckDB oracle verbatim.",
      (s, d) => graft.streaming.EventsStream.slidingCountsOneShot(s, d),
      Some(
        """SELECT make_timestamp(
          |    (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000
          |      - CAST(g.i AS BIGINT) * 900000000) AS win_start,
          |  event_type, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          |FROM events, (SELECT UNNEST([0, 1, 2, 3]) AS i) g
          |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    Q("e8_sliding_window",
      "Sliding 1-hour windows every 15 minutes — each event lands in " +
        "exactly 4 overlapping windows (Spark expands via the window() " +
        "generator; the oracle replays the same epoch-aligned grid with " +
        "exact integer microsecond arithmetic). The overlap factor is " +
        "the Expand cost at scale: state/shuffle = events x " +
        "(window/slide).",
      (s, d) => {
        import s.implicits._
        Graft.events(s, d)
          .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
          .agg(count(lit(1)).as("n_events"),
            Functions.dsum($"value").as("total_value"))
          .select($"window.start".as("win_start"), $"event_type",
            $"n_events", $"total_value")
          .orderBy($"win_start", $"event_type")
      },
      Some(
        """SELECT make_timestamp(
          |    (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000
          |      - CAST(g.i AS BIGINT) * 900000000) AS win_start,
          |  event_type, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          |FROM events, (SELECT UNNEST([0, 1, 2, 3]) AS i) g
          |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    Q("e2_json_extract",
      "JSON path extraction from the events props column + grouped stats " +
        "(training-pipeline metadata parsing)",
      (s, d) => {
        import s.implicits._
        Graft.events(s, d)
          .withColumn("k", get_json_object($"props", "$.k").cast("long"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum($"k").as("sum_k"),
            min($"k").as("min_k"),
            max($"k").as("max_k"),
            countDistinct($"k").as("n_distinct_k"))
          .orderBy($"event_type")
      },
      Some(
        """SELECT event_type, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
          |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Q("e4_sessionize_batch",
      "Sessionization via LAG + cumulative-sum windows partitioned by " +
        "user (batch twin of the stateful streaming sessionizer; scales " +
        "per user key)",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = Graft.events(s, d)
        val wUser = Window.partitionBy($"user_id").orderBy($"ts")
        val sessions = e
          .withColumn("prev_ts", lag($"ts", 1).over(wUser))
          .withColumn("new_session",
            when($"prev_ts".isNull ||
              (unix_micros($"ts") - unix_micros($"prev_ts")) > 30L * 60 * 1000000,
              1L).otherwise(0L))
          .withColumn("session_id",
            sum($"new_session").over(
              wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sessions.groupBy($"user_id", $"session_id")
          .agg(count(lit(1)).as("n"),
            (unix_micros(max($"ts")) - unix_micros(min($"ts"))).as("dur_us"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum($"n").as("n_events"),
            max($"dur_us").as("max_session_us"))
          .orderBy($"user_id")
      },
      Some(
        """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
          |marked AS (SELECT user_id, ts,
          |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 30 * 60 * 1000000
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |sessions AS (SELECT user_id, ts,
          |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |  FROM marked),
          |per_session AS (SELECT user_id, session_id, COUNT(*) AS n,
          |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
          |  FROM sessions GROUP BY 1, 2)
          |SELECT user_id, COUNT(*) AS n_sessions,
          |  CAST(SUM(n) AS BIGINT) AS n_events,
          |  MAX(dur_us) AS max_session_us
          |FROM per_session GROUP BY 1 ORDER BY user_id""".stripMargin)),

    Q("e4s_sessionize_stream",
      "§2.12 driver-visible streaming row: stateful sessionization " +
        "executed BY THE STREAMING ENGINE — file-stream source, " +
        "mapGroupsWithState with one fixed-size state record per user, " +
        "Trigger.AvailableNow one-shot — emitting the SAME per-user " +
        "session statistics as e4_sessionize_batch and hash-checked " +
        "against e4's DuckDB oracle. Closes the last spec-only " +
        "streaming surface: every streaming topology (window agg, " +
        "file sink, sessionizer) now has an oracle-gated row.",
      (s, d) => graft.streaming.EventsStream.sessionStatsOneShot(s, d),
      Some(
        """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
          |marked AS (SELECT user_id, ts,
          |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 30 * 60 * 1000000
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |sessions AS (SELECT user_id, ts,
          |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |  FROM marked),
          |per_session AS (SELECT user_id, session_id, COUNT(*) AS n,
          |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
          |  FROM sessions GROUP BY 1, 2)
          |SELECT user_id, COUNT(*) AS n_sessions,
          |  CAST(SUM(n) AS BIGINT) AS n_events,
          |  MAX(dur_us) AS max_session_us
          |FROM per_session GROUP BY 1 ORDER BY user_id""".stripMargin)),

    Q("e5_skew_salted_distinct",
      "Skew pattern #1: the COMPOUND-KEY REWRITE (not a literal salt — " +
        "see e7_salted_agg for the explicit-salt variant) — two-phase " +
        "COUNT(DISTINCT) over a 5-value hot key: phase 1 dedups on " +
        "(key, value) so the shuffle spreads by both columns, phase 2 " +
        "counts per key; no single reducer ever holds a hot key's full " +
        "value set",
      (s, d) => {
        import s.implicits._
        val e = Graft.events(s, d)
        // phase 1: distinct on the compound key — Spark shuffles on
        // (event_type, user_id), so the hot event_type fans out.
        val phase1 = e.filter($"user_id".isNotNull)
          .select($"event_type", $"user_id").distinct()
        phase1.groupBy($"event_type")
          .agg(count(lit(1)).as("n_distinct_users"))
          .orderBy($"event_type")
      },
      Some(
        """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Q("e7_salted_agg",
      "Skew pattern #2: TRUE SALTED two-stage aggregation over the " +
        "5-value hot event_type key — an explicit salt = " +
        "pmod(xxhash64(event_id), 16) spreads each hot key across 16 " +
        "reducers for the partial aggregate; the final stage combines " +
        "the 16 partials per key. The salt is internal (the result is " +
        "salt-invariant), so the oracle is the plain aggregate; sums " +
        "stay DECIMAL(38,6) through BOTH stages so re-association " +
        "cannot perturb the double result.",
      (s, d) => {
        import s.implicits._
        val e = Graft.events(s, d)
        val salted = e.withColumn("salt",
          pmod(xxhash64($"event_id"), lit(16)))
        val partial = salted
          .groupBy($"event_type", $"salt")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(
              org.apache.spark.sql.types.DecimalType(38, 6))).as("v"))
        partial.groupBy($"event_type")
          .agg(sum($"n").as("n_events"),
            sum($"v").cast("double").as("total_value"))
          .orderBy($"event_type")
      },
      Some(
        """SELECT event_type, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Q("e6_asof_join",
      "As-of join — each event picks the latest reference value at or " +
        "before its date for its event_type (Functions.asofJoin: " +
        "union + partitioned running window, one shuffle, no range " +
        "join). Oracle uses DuckDB's native ASOF JOIN.",
      (s, d) => {
        import s.implicits._
        val e = Graft.events(s, d).withColumn("date", to_date($"ts"))
        // sparse reference series: per-type daily max over the first
        // half of the month only — later events must look back.
        val rates = e.filter(dayofmonth($"date") <= 15)
          .groupBy($"event_type", $"date")
          .agg(max($"value").as("ref_v"))
        val joined = Functions.asofJoin(
          e.select($"event_id", $"event_type", $"date", $"value"),
          rates, Seq("event_type"), "date", "ref_v", "ref_v")
        joined.groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            Functions.dsum($"ref_v").as("total_ref"),
            sum(when($"ref_v".isNull, 1L).otherwise(0L)).cast("long")
              .as("n_unmatched"))
          .orderBy($"event_type")
      },
      Some(
        """WITH e AS (SELECT event_id, event_type,
          |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date, value FROM events),
          |rates AS (SELECT event_type, date, MAX(value) AS ref_v
          |  FROM e WHERE EXTRACT(day FROM date) <= 15 GROUP BY 1, 2)
          |SELECT e.event_type AS event_type, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(r.ref_v AS DECIMAL(38,6))) AS DOUBLE) AS total_ref,
          |  CAST(SUM(CASE WHEN r.ref_v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
          |FROM e ASOF LEFT JOIN rates r
          |  ON e.event_type = r.event_type AND e.date >= r.date
          |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Q("e11_interval_join",
      "Range/interval-containment join via BIN-AND-REFINE — the join " +
        "family's last gap (the survey notes the reference has no " +
        "theta/range joins; e6 covers as-of). Interval side: 'hot' " +
        "windows per event_type (hourly buckets with >= 2 events — " +
        "the smoke-scale constant), padded to [start-15min, " +
        "start+75min) so containment is NOT a truncation equality. " +
        "A naive ts-BETWEEN join is a nested-loop cross product; the " +
        "scale shape BINS each interval into every hour bucket it " +
        "overlaps (explode(sequence(...)) — fan-out = interval span " +
        "in hours, 2 here), equi-joins events on (hour(ts), type) as " +
        "a plain hash join, and REFINES with the exact range " +
        "predicate as a post-join filter. Each (event, window) pair " +
        "survives at most once: the event's hour bucket is unique, so " +
        "only the window replica in that bucket can match. At 100 TB " +
        "both sides shuffle once on the (bucket, type) key, skew " +
        "bounded by events-per-hour-per-type; no CartesianProduct or " +
        "BroadcastNestedLoop anywhere (PlanSpec-guarded).",
      (s, d) => {
        import s.implicits._
        val ev = Graft.events(s, d)
          .select($"event_type", $"ts", $"value")
        val hot = ev
          .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
          .agg(count(lit(1)).as("n"))
          .filter($"n" >= 2)
          .select($"event_type".as("w_type"),
            ($"w.start" - expr("interval 15 minutes")).as("w_start"),
            ($"w.start" + expr("interval 75 minutes")).as("w_end"))
        val binned = hot.withColumn("bucket",
          explode(sequence(
            date_trunc("hour", $"w_start"),
            date_trunc("hour", $"w_end" - expr("interval 1 microsecond")),
            expr("interval 1 hour"))))
        val evB = ev.withColumn("bucket", date_trunc("hour", $"ts"))
        evB.join(binned,
            evB("bucket") === binned("bucket") &&
              $"event_type" === $"w_type" &&
              $"ts" >= $"w_start" && $"ts" < $"w_end")
          .groupBy($"w_type".as("event_type"), $"w_start", $"w_end")
          .agg(count(lit(1)).as("n_contained"),
            Functions.dsum($"value").as("sum_value"))
          .orderBy($"event_type", $"w_start")
      },
      Some(
        """WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
          |  FROM events),
          |hot AS (
          |  SELECT event_type AS w_type,
          |    date_trunc('hour', ts) - INTERVAL 15 MINUTE AS w_start,
          |    date_trunc('hour', ts) + INTERVAL 75 MINUTE AS w_end
          |  FROM ev GROUP BY event_type, date_trunc('hour', ts)
          |  HAVING COUNT(*) >= 2)
          |SELECT h.w_type AS event_type, h.w_start, h.w_end,
          |  COUNT(*) AS n_contained,
          |  CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
          |FROM hot h JOIN ev e ON e.event_type = h.w_type
          |  AND e.ts >= h.w_start AND e.ts < h.w_end
          |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)),

    Q("g12_percentiles",
      "Exact percentiles — median/p90 of event value per type (Spark " +
        "exact percentile vs DuckDB quantile_cont, both linear " +
        "interpolation). At 100 TB swap for approx_percentile and a " +
        "tolerance check.",
      (s, d) => {
        import s.implicits._
        Graft.events(s, d)
          .groupBy($"event_type")
          .agg(expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.9)").as("p90"),
            count(lit(1)).as("n"))
          .orderBy($"event_type")
      },
      Some(
        """SELECT event_type,
          |  quantile_cont(value, 0.5) AS p50,
          |  quantile_cont(value, 0.9) AS p90,
          |  COUNT(*) AS n
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Q("g12b_percentiles_approx",
      "Approximate percentiles — the documented 100 TB swap for g12: " +
        "approx_percentile (t-digest-style sketch, mergeable across " +
        "partitions, bounded memory) instead of the exact sort-based " +
        "percentile. Driver-visible as an exact-vs-approx " +
        "DIFFERENTIAL: the frame carries the exact percentiles (which " +
        "DuckDB reproduces) plus booleans asserting the sketch value's " +
        "RANK lands within the published guarantee (rank error <= " +
        "n/accuracy; an observed value v satisfies a quantile q iff " +
        "[count(<v)+1, count(<=v)] intersects q*n +- err). A sketch " +
        "regression flips a boolean and the driver's hash check fails.",
      (s, d) => {
        import s.implicits._
        val ev = Graft.events(s, d).select($"event_type", $"value")
        val approx = ev.groupBy($"event_type")
          .agg(expr("approx_percentile(value, 0.5, 10000)").as("p50a"),
            expr("approx_percentile(value, 0.9, 10000)").as("p90a"))
        def rankOk(q: Double, lt: Column, le: Column): Column = {
          val err = $"n" / 10000.0 + 1.0
          (lt + lit(1.0) <= $"n" * q + err) && (le >= $"n" * q - err)
        }
        ev.join(broadcast(approx), "event_type")
          .groupBy($"event_type")
          .agg(expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.9)").as("p90"),
            count(lit(1)).as("n"),
            sum(when($"value" < $"p50a", 1L).otherwise(0L)).as("lt50"),
            sum(when($"value" <= $"p50a", 1L).otherwise(0L)).as("le50"),
            sum(when($"value" < $"p90a", 1L).otherwise(0L)).as("lt90"),
            sum(when($"value" <= $"p90a", 1L).otherwise(0L)).as("le90"))
          .select($"event_type", $"p50", $"p90", $"n",
            rankOk(0.5, $"lt50", $"le50").as("p50_ok"),
            rankOk(0.9, $"lt90", $"le90").as("p90_ok"))
          .orderBy($"event_type")
      },
      Some(
        """SELECT event_type,
          |  quantile_cont(value, 0.5) AS p50,
          |  quantile_cont(value, 0.9) AS p90,
          |  COUNT(*) AS n,
          |  TRUE AS p50_ok, TRUE AS p90_ok
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Q("x2b_approx_count_distinct",
      "Approximate COUNT(DISTINCT) — the 100 TB swap for exact distinct " +
        "counts (X2): HyperLogLog++ sketches merge map-side with no " +
        "Expand explosion and bounded memory per key. Driver-visible " +
        "as an exact-vs-approx DIFFERENTIAL: exact counts (DuckDB " +
        "reproduces them) plus booleans asserting the sketch is within " +
        "3x the configured rsd (0.02 -> 6%, a deterministic pass for " +
        "any correct HLL++ on this data); a broken sketch flips a " +
        "boolean and fails the driver's hash check.",
      (s, d) => t(s, d, "lineitem").agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("asu"))
        .select(col("n_orders"), col("n_parts"), col("n_suppliers"),
          ApproxDiff.okCol(col("n_orders"), col("ao"), 0.06).as("orders_ok"),
          ApproxDiff.okCol(col("n_parts"), col("ap"), 0.06).as("parts_ok"),
          ApproxDiff.okCol(col("n_suppliers"), col("asu"), 0.06)
            .as("suppliers_ok")),
      Some(
        """SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
          |  COUNT(DISTINCT l_partkey) AS n_parts,
          |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
          |  TRUE AS orders_ok, TRUE AS parts_ok, TRUE AS suppliers_ok
          |FROM lineitem""".stripMargin)),

    Q("g13_rollup",
      "GROUPING SETS — ROLLUP over (year, priority) with subtotal and " +
        "grand-total rows (Expand-based plan; one shuffle)",
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .withColumn("year", year(to_date($"o_orderdate")).cast("long"))
          .rollup($"year", $"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            Functions.dsum($"o_totalprice").as("revenue"))
          .orderBy($"year".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
      },
      Some(
        """SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS year,
          |  o_orderpriority, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
          |FROM orders
          |GROUP BY ROLLUP(1, 2)
          |ORDER BY year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    Q("g15_cube",
      "GROUPING SETS — CUBE over (status, priority) emits all four " +
        "grouping combinations in one Expand-based pass, with " +
        "GROUPING() flags distinguishing a subtotal NULL from a data " +
        "NULL (the g13 ROLLUP sibling; together they cover the " +
        "grouping-sets surface)",
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            grouping($"o_orderstatus").cast("long").as("g_status"),
            grouping($"o_orderpriority").cast("long").as("g_priority"))
          .orderBy($"g_status", $"g_priority",
            $"o_orderstatus".asc_nulls_first,
            $"o_orderpriority".asc_nulls_first)
      },
      Some(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
          |FROM orders GROUP BY CUBE(1, 2)
          |ORDER BY g_status, g_priority,
          |  o_orderstatus ASC NULLS FIRST,
          |  o_orderpriority ASC NULLS FIRST""".stripMargin)),

    Q("g17_grouping_sets",
      "GROUPING SETS — an EXPLICIT asymmetric set list ((year, " +
        "priority), (status), ()) that neither ROLLUP nor CUBE can " +
        "express, completing the g13/g15 family via the Dataset " +
        "groupingSets API (one Expand-based pass, one shuffle — the " +
        "N-sets-one-scan shape a report fanning out N separate " +
        "aggregations would otherwise scan N times). grouping_id() " +
        "keys each output row to its set (both engines use the " +
        "leftmost-column-is-MSB convention, driver-verified: sets " +
        "land on gid 1, 6, 7).",
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .withColumn("year", year(to_date($"o_orderdate")).cast("long"))
          .groupingSets(
            Seq(Seq($"year", $"o_orderpriority"), Seq($"o_orderstatus"),
              Seq.empty[Column]),
            $"year", $"o_orderpriority", $"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            Functions.dsum($"o_totalprice").as("revenue"),
            grouping_id().cast("long").as("gid"))
          .orderBy($"gid", $"year".asc_nulls_first,
            $"o_orderpriority".asc_nulls_first,
            $"o_orderstatus".asc_nulls_first)
      },
      Some(
        """SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS year,
          |  o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
          |  CAST(GROUPING(EXTRACT(year FROM CAST(o_orderdate AS DATE)),
          |    o_orderpriority, o_orderstatus) AS BIGINT) AS gid
          |FROM orders
          |GROUP BY GROUPING SETS ((1, 2), (3), ())
          |ORDER BY gid, year ASC NULLS FIRST,
          |  o_orderpriority ASC NULLS FIRST,
          |  o_orderstatus ASC NULLS FIRST""".stripMargin)),

    Q("g16_unpivot",
      "UNPIVOT — the g14 inverse: per-status wide columns melted back " +
        "to (status, metric, value) long rows (Spark unpivot/melt vs " +
        "DuckDB UNPIVOT), the normalization step for metric tables " +
        "whose schema grew a column per measure",
      (s, d) => {
        import s.implicits._
        val wide = t(s, d, "lineitem")
          .groupBy($"l_linestatus")
          .agg(count(lit(1)).as("n_items"),
            countDistinct($"l_orderkey").as("n_orders"))
        wide.unpivot(
            Array($"l_linestatus"),
            Array($"n_items", $"n_orders"),
            "metric", "value")
          .orderBy($"l_linestatus", $"metric")
      },
      Some(
        """SELECT l_linestatus, metric, value FROM (
          |  SELECT l_linestatus, COUNT(*) AS n_items,
          |    COUNT(DISTINCT l_orderkey) AS n_orders
          |  FROM lineitem GROUP BY 1)
          |UNPIVOT (value FOR metric IN (n_items, n_orders))
          |ORDER BY l_linestatus, metric""".stripMargin)),

    Q("g14_pivot",
      "Pivot — return-flag counts pivoted to columns per line status " +
        "(fixed pivot values so the schema is static; conditional " +
        "aggregation twin on the oracle side)",
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .groupBy($"l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy($"l_linestatus")
      },
      Some(
        """SELECT l_linestatus,
          |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS "A",
          |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS "N",
          |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS "R"
          |FROM lineitem GROUP BY 1 ORDER BY l_linestatus""".stripMargin)),

    Q("pipe_monthly_summary",
      "End-to-end pipeline differential — the full 8-stage retail " +
        "dataflow (staging, rate conversion, composite fact join with " +
        "its faithful fan-out, country dims, daily rollup, monthly " +
        "view) fused into one lazy Catalyst plan and hash-matched " +
        "against a single DuckDB CTE chain",
      (s, d) => graft.pipeline.RetailPipeline.monthlySummaryShared(s, d)
        .orderBy("year", "month", "country"),
      Some(
        """WITH raw AS (
          |  SELECT o.o_orderkey AS invoice_no, l.l_partkey AS stock_code,
          |    CAST(o.o_orderdate AS DATE) AS date,
          |    COALESCE(o.o_custkey, -1) AS customer_id,
          |    o.o_orderstatus AS status, l.l_quantity AS qty,
          |    l.l_quantity * (l.l_extendedprice * (1 - l.l_discount) / l.l_quantity) AS net_amount
          |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN part p ON l.l_partkey = p.p_partkey
          |  WHERE l.l_partkey IS NOT NULL AND l.l_quantity IS NOT NULL
          |    AND l.l_extendedprice * (1 - l.l_discount) / l.l_quantity IS NOT NULL),
          |rates AS (SELECT CAST(o_orderdate AS DATE) AS date,
          |    MAX(o_totalprice) / 100000 AS rate FROM orders GROUP BY 1),
          |cc AS (SELECT COALESCE(c.c_custkey, -1) AS customer_id, n.n_name AS country
          |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
          |eur AS (SELECT r.invoice_no, r.stock_code, r.date, r.customer_id,
          |    r.net_amount / rt.rate AS net_amount_eur
          |  FROM raw r JOIN rates rt ON r.date = rt.date),
          |agg AS (
          |  SELECT g.date AS date, COALESCE(cc.country, 'UNKNOWN') AS country,
          |    EXTRACT(year FROM g.date) AS year, EXTRACT(month FROM g.date) AS month,
          |    COUNT(DISTINCT CASE WHEN g.status != 'F' THEN g.invoice_no END) AS orders,
          |    COUNT(*) AS items,
          |    CAST(SUM(CAST(g.qty AS DECIMAL(38,6))) AS DOUBLE) AS net_qty,
          |    CAST(SUM(CAST(g.net_amount AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
          |    CAST(SUM(CAST(e.net_amount_eur AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue_eur
          |  FROM raw g
          |  JOIN eur e ON g.invoice_no = e.invoice_no AND g.stock_code = e.stock_code
          |    AND g.date = e.date AND g.customer_id = e.customer_id
          |  LEFT JOIN cc ON g.customer_id = cc.customer_id
          |  GROUP BY 1, 2, 3, 4),
          |monthly AS (
          |  SELECT year, month, country, COUNT(DISTINCT date) AS trading_days,
          |    CAST(SUM(orders) AS BIGINT) AS total_orders,
          |    CAST(SUM(items) AS BIGINT) AS total_items,
          |    CAST(SUM(CAST(net_qty AS DECIMAL(38,6))) AS DOUBLE) AS total_quantity,
          |    CAST(SUM(CAST(net_revenue AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue,
          |    CAST(SUM(CAST(net_revenue_eur AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue_eur
          |  FROM agg WHERE net_revenue > 0 GROUP BY 1, 2, 3)
          |SELECT *, make_date(year, month, 1) AS month_start_date,
          |  total_revenue / trading_days AS avg_daily_revenue,
          |  total_orders / trading_days AS avg_daily_orders,
          |  total_revenue / NULLIF(total_orders, 0) AS avg_order_value
          |FROM monthly
          |ORDER BY year, month, country""".stripMargin)),

    Q("pipe_corpus_release",
      "End-to-end LLM corpus-release pipeline as ONE oracle row — the " +
        "documents-side analog of pipe_monthly_summary: NFC (t15) -> " +
        "quality floor (t13's integer scorer) -> exact dedup (d1's md5 " +
        "canonical) -> near-dup verdicts (d10 semantics; labels read " +
        "from the o12 MAINTAINED cc_labels table — the production " +
        "shape: a release consumes the ingest job's incrementally-" +
        "maintained verdicts, never re-clusters, and this row's " +
        "closure oracle gates the interchangeability end-to-end) -> " +
        "train split (t5) -> decontamination " +
        "(train docs leaking val/test 13-grams dropped, the c11 " +
        "mirror) -> temperature mixture (c7, rates from the " +
        "decontaminated census; the LARGEST source gets rate " +
        "floor(sqrt(1)*1e5) = 100000 exactly, i.e. is kept at 100% — " +
        "flattening only downsamples sources smaller than the head, " +
        "pinned by MixtureSpec) -> sequence packing (c3) -> epoch " +
        "shuffle (c8) -> versioned snapshot (o5), with the shard/pack " +
        "census computed from the COMMITTED version read back. The " +
        "report: 7 cumulative funnel rows (docs, tokens, kept-doc_id " +
        "witness), per-shard permutation witnesses, per-lang packing " +
        "stats — all exact integers, hash-matched against one DuckDB " +
        "CTE chain reproducing every stage. This is where inter-stage " +
        "contract bugs live (which text a digest is over, kept/drop " +
        "conventions, null handling); piecewise per-operator oracles " +
        "cannot see them.",
      (s, d) => graft.pipeline.CorpusRelease.report(s, d),
      Some(graft.pipeline.CorpusRelease.ReportOracleSql),
      artifacts = Seq(DedupQueries.EvalGrams)),

    Q("r3_dashboard_insights",
      "S9 — the reference dashboard's KEY INSIGHTS block " +
        "(analyze_monthly_sales.py:143-168) over the full pipeline " +
        "view: grand totals, top country, best month, first-to-last " +
        "EUR growth. The SVG dashboard itself (engine.Dashboard) " +
        "renders from the same frame; this row oracle-gates its data " +
        "layer. Deterministic tie-breaks replace the reference's " +
        "arbitrary idxmax (SURVEY.md §7.4).",
      (s, d) => graft.engine.Dashboard.insights(s,
        // One pipeline pass: insights drives several driver-side
        // actions, and persist() over the fused plan materializes the
        // cache at ~2x the plain compute cost (measured) — the shared
        // per-session monthly memo (built by pipe_monthly_summary)
        // makes every insight action a tiny scan.
        graft.pipeline.RetailPipeline.monthlySummaryShared(s, d)),
      Some(
        """WITH raw AS (
          |  SELECT o.o_orderkey AS invoice_no, l.l_partkey AS stock_code,
          |    CAST(o.o_orderdate AS DATE) AS date,
          |    COALESCE(o.o_custkey, -1) AS customer_id,
          |    o.o_orderstatus AS status, l.l_quantity AS qty,
          |    l.l_quantity * (l.l_extendedprice * (1 - l.l_discount) / l.l_quantity) AS net_amount
          |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN part p ON l.l_partkey = p.p_partkey
          |  WHERE l.l_partkey IS NOT NULL AND l.l_quantity IS NOT NULL
          |    AND l.l_extendedprice * (1 - l.l_discount) / l.l_quantity IS NOT NULL),
          |rates AS (SELECT CAST(o_orderdate AS DATE) AS date,
          |    MAX(o_totalprice) / 100000 AS rate FROM orders GROUP BY 1),
          |cc AS (SELECT COALESCE(c.c_custkey, -1) AS customer_id, n.n_name AS country
          |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
          |eur AS (SELECT r.invoice_no, r.stock_code, r.date, r.customer_id,
          |    r.net_amount / rt.rate AS net_amount_eur
          |  FROM raw r JOIN rates rt ON r.date = rt.date),
          |agg AS (
          |  SELECT g.date AS date, COALESCE(cc.country, 'UNKNOWN') AS country,
          |    EXTRACT(year FROM g.date) AS year, EXTRACT(month FROM g.date) AS month,
          |    COUNT(DISTINCT CASE WHEN g.status != 'F' THEN g.invoice_no END) AS orders,
          |    COUNT(*) AS items,
          |    CAST(SUM(CAST(g.qty AS DECIMAL(38,6))) AS DOUBLE) AS net_qty,
          |    CAST(SUM(CAST(g.net_amount AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
          |    CAST(SUM(CAST(e.net_amount_eur AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue_eur
          |  FROM raw g
          |  JOIN eur e ON g.invoice_no = e.invoice_no AND g.stock_code = e.stock_code
          |    AND g.date = e.date AND g.customer_id = e.customer_id
          |  LEFT JOIN cc ON g.customer_id = cc.customer_id
          |  GROUP BY 1, 2, 3, 4),
          |mv AS (
          |  SELECT year, month, country,
          |    CAST(SUM(orders) AS BIGINT) AS total_orders,
          |    CAST(SUM(CAST(net_revenue AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue,
          |    CAST(SUM(CAST(net_revenue_eur AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue_eur
          |  FROM agg WHERE net_revenue > 0 GROUP BY 1, 2, 3),
          |per_month AS (
          |  SELECT year, month,
          |    CAST(SUM(CAST(total_revenue AS DECIMAL(38,6))) AS DOUBLE) AS m_gbp,
          |    CAST(SUM(CAST(total_revenue_eur AS DECIMAL(38,6))) AS DOUBLE) AS m_eur
          |  FROM mv GROUP BY 1, 2),
          |ordered AS (SELECT *, ROW_NUMBER() OVER (ORDER BY year, month) AS rn,
          |    COUNT(*) OVER () AS n FROM per_month)
          |SELECT
          |  (SELECT CAST(SUM(CAST(total_revenue AS DECIMAL(38,6))) AS DOUBLE) FROM mv) AS total_revenue,
          |  (SELECT CAST(SUM(CAST(total_revenue_eur AS DECIMAL(38,6))) AS DOUBLE) FROM mv) AS total_revenue_eur,
          |  (SELECT CAST(SUM(total_orders) AS BIGINT) FROM mv) AS total_orders,
          |  (SELECT country FROM (
          |     SELECT country, CAST(SUM(CAST(total_revenue AS DECIMAL(38,6))) AS DOUBLE) AS c_gbp
          |     FROM mv GROUP BY 1 ORDER BY c_gbp DESC, country ASC LIMIT 1)) AS top_country,
          |  (SELECT CAST(year AS VARCHAR) || '-' || lpad(CAST(month AS VARCHAR), 2, '0')
          |   FROM per_month ORDER BY m_gbp DESC, year ASC, month ASC LIMIT 1) AS best_month,
          |  (SELECT CASE WHEN l.n > 1 AND f.m_eur != 0
          |          THEN (l.m_eur - f.m_eur) / f.m_eur * 100.0 ELSE 0.0 END
          |   FROM ordered f, ordered l WHERE f.rn = 1 AND l.rn = l.n) AS growth_pct""".stripMargin)),

    Q("e9_funnel",
      "First-touch funnel — users progressing view -> click -> purchase " +
        "with STRICT event-time ordering (each stage's first qualifying " +
        "event must be after the previous stage's): per-user conditional " +
        "MINs chained through two joins, then three 1-row stage counts. " +
        "Scale shape: three map-combinable per-user aggregations on the " +
        "same user_id partitioning, no window over the raw stream, no " +
        "per-user state beyond one timestamp per stage.",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_v"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts") > col("t_v"))
          .groupBy("user_id").agg(min(col("ts")).as("t_c"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts") > col("t_c"))
          .groupBy("user_id").agg(min(col("ts")).as("t_p"))
        def stage(df: org.apache.spark.sql.DataFrame, name: String) =
          df.agg(count(lit(1)).as("n_users")).withColumn("stage", lit(name))
        stage(v, "1_view")
          .unionByName(stage(c, "2_click"))
          .unionByName(stage(p, "3_purchase"))
          .select(col("stage"), col("n_users"))
          .orderBy("stage")
      },
      Some(
        """WITH ev AS (
          |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
          |  FROM events),
          |v AS (SELECT user_id, MIN(ts) AS t_v FROM ev
          |      WHERE event_type = 'view' GROUP BY 1),
          |c AS (SELECT e.user_id, MIN(e.ts) AS t_c
          |      FROM ev e JOIN v USING (user_id)
          |      WHERE e.event_type = 'click' AND e.ts > v.t_v GROUP BY 1),
          |p AS (SELECT e.user_id, MIN(e.ts) AS t_p
          |      FROM ev e JOIN c USING (user_id)
          |      WHERE e.event_type = 'purchase' AND e.ts > c.t_c GROUP BY 1)
          |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
          |UNION ALL SELECT '2_click', COUNT(*) FROM c
          |UNION ALL SELECT '3_purchase', COUNT(*) FROM p
          |ORDER BY stage""".stripMargin)),

    Q("e10_retention_cohorts",
      "Weekly retention cohorts — users grouped by first-seen week, " +
        "counted per activity week (the classic cohort-retention " +
        "matrix; weeks because the events table spans one month). " +
        "Scale shape: ONE user_id shuffle computes both the cohort " +
        "(min week) and the distinct active weeks (map-combinable " +
        "partial collect_set, bounded by weeks-since-cohort per user), " +
        "then explode + one week-cardinality rollup — no join back to " +
        "the raw stream, no window, no driver-side state. A " +
        "distinct+join formulation measured 4 exchanges; this is 2.",
      (s, d) => {
        import s.implicits._
        val ev = Graft.events(s, d)
          .select($"user_id",
            date_trunc("week", $"ts").cast("date").as("week"))
        ev.groupBy($"user_id")
          .agg(min($"week").as("cohort_week"),
            collect_set($"week").as("weeks"))
          .select($"cohort_week", explode($"weeks").as("week"))
          .groupBy($"cohort_week", $"week")
          // one row per (user, week) after the set explode, so the
          // distinct-user count is a plain count
          .agg(count(lit(1)).as("n_users"))
          .withColumn("week_offset",
            floor(datediff($"week", $"cohort_week") / lit(7.0)).cast("long"))
          .select($"cohort_week", $"week", $"week_offset", $"n_users")
          .orderBy($"cohort_week", $"week")
      },
      Some(
        """WITH ev AS (
          |  SELECT user_id,
          |    CAST(DATE_TRUNC('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
          |  FROM events),
          |first AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1),
          |act AS (SELECT DISTINCT user_id, week FROM ev)
          |SELECT f.cohort_week, a.week,
          |  CAST(FLOOR((a.week - f.cohort_week) / 7.0) AS BIGINT) AS week_offset,
          |  COUNT(DISTINCT a.user_id) AS n_users
          |FROM act a JOIN first f USING (user_id)
          |GROUP BY 1, 2, 3 ORDER BY cohort_week, week""".stripMargin))
  )

  /** Bucketed-table names per (session, corpus) — the j6b fact variants
    * are written bucketBy+sortBy ONCE per corpus (production writes
    * them at ingest) and every later run reads the co-located files.
    */
  private val j6bTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The j6 fact variants as bucketed+sorted tables on the composite
    * join key `(l_orderkey, l_linenumber, date)` — reading these joins
    * with zero Exchange (co-located buckets, pre-sorted files).
    */
  private[graft] def j6bBucketedFacts(s: SparkSession,
                                      d: String): (DataFrame, DataFrame) = {
    val key = s"${s.sparkContext.applicationId}:$d"
    val names = j6bTables.computeIfAbsent(key, _ => {
      val sfx = (key.hashCode.toLong & 0xffffffffL).toString
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "j6b_wh"))
      val fact = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("date"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      val keyCols = Seq("l_orderkey", "l_linenumber", "date")
      cat.saveBucketed(s"j6b_gbp_$sfx", fact, keyCols, 8)
      cat.saveBucketed(s"j6b_eur_$sfx",
        fact.select(col("l_orderkey"), col("l_linenumber"), col("date"),
          (col("net") * 0.85).as("net_conv")), keyCols, 8)
      (s"j6b_gbp_$sfx", s"j6b_eur_$sfx")
    })
    (s.table(names._1), s.table(names._2))
  }

  /** j6b's bucketed fact variants, written once at ingest: the row times
    * the zero-Exchange join alone.
    */
  val J6bBuckets: Artifact = Artifact("j6b_bucket_build",
    (s, d) => j6bBucketedFacts(s, d): Unit)

  /** Just the bucketed fact⋈fact join — package-visible so PlanSpec
    * can assert the plan carries no Exchange at all.
    */
  private[graft] def j6bJoined(s: SparkSession, d: String): DataFrame = {
    val (gbp, eur) = j6bBucketedFacts(s, d)
    gbp.join(eur, Seq("l_orderkey", "l_linenumber", "date"))
  }

  private val o11Memo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** o11's min-merge segment registry warehouse — the three-fold
    * MinMergeStats demonstration drive (even batch, odd batch, then the
    * even batch AGAIN as a deliberate at-least-once redelivery that the
    * idempotent algebra must absorb) — built ONCE per (session, corpus)
    * and memoized, the o6/j6b/t17b pattern: production pays the
    * registry fold once per arriving batch at ingest, and every
    * query-time consumer reads the committed registry. Bench pre-builds
    * it in warmup and reports the drive as
    * `ingest_artifacts.o11_registry_drive`, so the o11 row's number is
    * the registry PROBE + REWRITE read path alone. Redelivery
    * idempotency stays proven three ways: this drive's own oracle
    * (registry after the duplicate fold must equal recompute),
    * PropertySpec's random-batching invariance, and o11s's
    * commit-marker-deletion stream replay.
    */
  private[graft] def o11Warehouse(s: SparkSession,
                                  d: String): graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(o11Memo.get(key)).getOrElse {
      import DedupQueries.{SegRegistryKeys, SegRegistryOrd, segmentOwners}
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o11_wh"))
      // one tokenize+explode pass feeds all three folds
      val segs = Scratch.materialize(s, "o11_segs",
        DedupQueries.docSegments(DedupQueries.segTokens(s, d)))
      val even = segs.filter(col("doc_id") % 2 === 0)
      val odd = segs.filter(col("doc_id") % 2 =!= 0)
      graft.pipeline.MinMergeStats.fold(cat, "seg_registry",
        segmentOwners(even), SegRegistryKeys, SegRegistryOrd,
        batchReduced = true)
      graft.pipeline.MinMergeStats.fold(cat, "seg_registry",
        segmentOwners(odd), SegRegistryKeys, SegRegistryOrd,
        batchReduced = true)
      // deliberate redelivery: the second even fold must be a no-op
      graft.pipeline.MinMergeStats.fold(cat, "seg_registry",
        segmentOwners(even), SegRegistryKeys, SegRegistryOrd,
        batchReduced = true)
      // drive-end compaction: merge the delta log once at ingest so
      // every query-time consumer reads the single-delta plain scan
      graft.pipeline.MinMergeStats.compact(cat, "seg_registry",
        SegRegistryKeys, SegRegistryOrd)
      Option(o11Memo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** o11's three-fold MinMergeStats drive, redelivery included: the row
    * times the registry probe + rewrite read path.
    */
  val O11Drive: Artifact = Artifact("o11_registry_drive",
    (s, d) => o11Warehouse(s, d): Unit)

  private val o12Memo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** o12's incremental-CC label warehouse — the four-fold
    * IncrementalCc demonstration drive (thirds of the corpus, with
    * batch 2's edges refolded as a deliberate at-least-once
    * redelivery) — built ONCE per (session, corpus) and memoized, the
    * o6/o11 pattern: production pays the label fold once per arriving
    * batch at ingest, every query-time consumer reads the maintained
    * table. Bench pre-builds it in warmup and reports the drive as
    * `ingest_artifacts.o12_cc_drive`. Batch signatures are sliced from
    * the per-corpus memoized simhash index (signatures computed once
    * per corpus, not once per consumer).
    */
  private[graft] def o12Warehouse(s: SparkSession,
                                  d: String): graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(o12Memo.get(key)).getOrElse {
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o12_wh"))
      val sigs = DedupQueries.simhashSigs(s, d)
      val b1 = sigs.filter(col("doc_id") % 3 === 0)
      val b2 = sigs.filter(col("doc_id") % 3 === 1)
      val b3 = sigs.filter(col("doc_id") % 3 === 2)
      graft.pipeline.IncrementalCc.fold(cat, "cc_labels",
        DedupQueries.simhashEdgesVs(b1, sigs.limit(0)))
      graft.pipeline.IncrementalCc.fold(cat, "cc_labels",
        DedupQueries.simhashEdgesVs(b2, b1))
      // deliberate redelivery: refolding batch 2's edges must leave
      // the table bit-identical (contraction -> all self-loops)
      graft.pipeline.IncrementalCc.fold(cat, "cc_labels",
        DedupQueries.simhashEdgesVs(b2, b1))
      graft.pipeline.IncrementalCc.fold(cat, "cc_labels",
        DedupQueries.simhashEdgesVs(b3, b1.unionByName(b2)))
      // drive-end compaction (the amortized rewrite): label consumers
      // read the single-delta plain scan, exactly the pre-LSM shape
      graft.pipeline.IncrementalCc.compact(cat, "cc_labels")
      Option(o12Memo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** o12's four-fold IncrementalCc drive, redelivery included: the row
    * times the maintained-table read.
    */
  val O12Drive: Artifact = Artifact("o12_cc_drive",
    (s, d) => o12Warehouse(s, d): Unit)

  private val o12sMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** o12s's stream-maintained label warehouse — the CcLabelStream
    * drive (3 staged signature files -> 3 checkpointed micro-batches,
    * each folding edges-vs-seen then its signatures) — built ONCE per
    * (session, corpus) and memoized, the o6/o11/o12 pattern: bench
    * pre-builds it in warmup and reports the drive as
    * `ingest_artifacts.o12s_stream_drive`, so the o12s row's number is
    * the maintained-table consumer read alone. Crash-replay idempotency
    * stays spec-proven (StreamingSpec's commit-marker deletion).
    */
  private[graft] def o12sWarehouse(s: SparkSession,
                                   d: String): graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(o12sMemo.get(key)).getOrElse {
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o12s_wh"))
      // stage the corpus signatures as 3 files -> 3 micro-batches
      // (hash split; any split must yield the same labels)
      val stage = Scratch.fresh(s, "o12s_stage")
      DedupQueries.simhashSigs(s, d)
        .repartition(3).write.mode("overwrite").parquet(stage)
      val q = graft.streaming.CcLabelStream.maintain(
        cat, stage, Scratch.fresh(s, "o12s_ckpt"))
      try q.awaitTermination() finally q.stop()
      // drive-end compaction: consumers read the plain single-delta scan
      graft.pipeline.IncrementalCc.compact(cat, "cc_labels")
      // the signature seen-set too — a resumed stream (or any probe)
      // then reads one delta instead of merging a per-micro-batch log
      graft.pipeline.MinMergeStats.compact(cat, "cc_sigs",
        graft.streaming.CcLabelStream.SigKeys,
        graft.streaming.CcLabelStream.SigOrd)
      Option(o12sMemo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** o12s's three-micro-batch CcLabelStream drive: the row times the
    * maintained-table read.
    */
  val O12sDrive: Artifact = Artifact("o12s_stream_drive",
    (s, d) => o12sWarehouse(s, d): Unit)

  private val o11sMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** o11s's stream-maintained segment registry — stage the corpus as 4
    * files, fold each through SegmentRegistryStream's checkpointed
    * AvailableNow micro-batches, compact at drive end (a TERMINATED
    * drive hands consumers the single-delta plain scan; only a
    * still-running continuous stream leaves readers merging deltas,
    * bounded by AutoCompactDeltas). Memoized per (session, corpus) and
    * reported as `ingest_artifacts.o11s_stream_drive` — the o12s
    * boundary: the o11s row measures the consumer read alone.
    * Crash-replay idempotency stays spec-proven (StreamingSpec's
    * commit-marker deletion drives maintain directly).
    */
  private[graft] def o11sWarehouse(s: SparkSession,
                                   d: String): graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(o11sMemo.get(key)).getOrElse {
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o11s_wh"))
      // 4 staged files -> 4 micro-batches (hash split; any split must
      // yield the same registry — min-merge is batching-invariant)
      val stage = Scratch.fresh(s, "o11s_stage")
      Graft.table(s, d, "documents").select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(stage)
      val q = graft.streaming.SegmentRegistryStream.maintain(
        cat, stage, Scratch.fresh(s, "o11s_ckpt"))
      try q.awaitTermination() finally q.stop()
      graft.pipeline.MinMergeStats.compact(cat, "seg_registry",
        DedupQueries.SegRegistryKeys, DedupQueries.SegRegistryOrd)
      Option(o11sMemo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** o11s's four-micro-batch SegmentRegistryStream drive and its
    * drive-end compaction: the row times the registry probe + rewrite.
    */
  val O11sDrive: Artifact = Artifact("o11s_stream_drive",
    (s, d) => o11sWarehouse(s, d): Unit)

  private val o11bMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** o11b's post-takedown registry — even+odd ingest folds, ingest-end
    * compaction, then the takedown rebuild of odd-owned keys from the
    * surviving (even) corpus. Memoized per (session, corpus) and
    * reported as `ingest_artifacts.o11b_retire_drive`: every stage is
    * ingest-shaped (a takedown arrives like any batch), and the o11b
    * row measures the post-takedown consumer read alone — the
    * o6/o11/o12/o12b measurement boundary.
    */
  private[graft] def o11bWarehouse(s: SparkSession,
                                   d: String): graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(o11bMemo.get(key)).getOrElse {
      import DedupQueries.{SegRegistryKeys, SegRegistryOrd, segmentOwners}
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o11b_wh"))
      val segs = Scratch.materialize(s, "o11b_segs",
        DedupQueries.docSegments(DedupQueries.segTokens(s, d)))
      val even = segs.filter(col("doc_id") % 2 === 0)
      val odd = segs.filter(col("doc_id") % 2 =!= 0)
      graft.pipeline.MinMergeStats.fold(cat, "seg_registry",
        segmentOwners(even), SegRegistryKeys, SegRegistryOrd,
        batchReduced = true)
      graft.pipeline.MinMergeStats.fold(cat, "seg_registry",
        segmentOwners(odd), SegRegistryKeys, SegRegistryOrd,
        batchReduced = true)
      // ingest-end compaction BEFORE the takedown — the production
      // shape: the rebuild then reads the single-delta plain scan
      graft.pipeline.MinMergeStats.compact(cat, "seg_registry",
        SegRegistryKeys, SegRegistryOrd)
      // takedown: retire the odd batch — rebuild keys owned by odd
      // docs from the surviving (even) corpus only
      graft.pipeline.MinMergeStats.rebuild(cat, "seg_registry",
        even.select(col("h"), col("seg"),
          col("doc_id").as("first_doc"),
          col("start").as("first_start")),
        col("first_doc") % 2 =!= 0, SegRegistryKeys, SegRegistryOrd)
      Option(o11bMemo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** o11b's fold + compact + rebuild takedown drive: the row times the
    * post-takedown read.
    */
  val O11bDrive: Artifact = Artifact("o11b_retire_drive",
    (s, d) => o11bWarehouse(s, d): Unit)

  private val o12bMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** o12b's post-takedown label warehouse — two IncrementalCc folds,
    * drive-end compaction, then `IncrementalCc.retire` of batch 2
    * (affected components re-clustered from the banded pair join over
    * exactly their surviving members' signatures) — built ONCE per
    * (session, corpus) and memoized, reported as
    * `ingest_artifacts.o12b_retire_drive`: every stage is
    * ingest-shaped (a takedown arrives at ingest time like any
    * batch), and the o12b row measures the post-takedown consumer
    * read alone, the o6/o11/o12 measurement boundary.
    */
  private[graft] def o12bWarehouse(s: SparkSession,
                                   d: String): graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(o12bMemo.get(key)).getOrElse {
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o12b_wh"))
      val sigs = DedupQueries.simhashSigs(s, d)
      val b1 = sigs.filter(col("doc_id") % 3 =!= 1)
      val b2 = sigs.filter(col("doc_id") % 3 === 1)
      graft.pipeline.IncrementalCc.fold(cat, "cc_labels",
        DedupQueries.simhashEdgesVs(b1, sigs.limit(0)))
      graft.pipeline.IncrementalCc.fold(cat, "cc_labels",
        DedupQueries.simhashEdgesVs(b2, b1))
      // drive-end compaction: the takedown below rebuilds against the
      // single-delta registry, the production shape (o11b's pattern)
      graft.pipeline.IncrementalCc.compact(cat, "cc_labels")
      graft.pipeline.IncrementalCc.retire(cat, "cc_labels",
        b2.select(col("doc_id").as("v")),
        vs => DedupQueries.simhashEdgesVs(
          sigs.join(vs.select(col("v").as("doc_id")),
            Seq("doc_id"), "left_semi"),
          sigs.limit(0)))
      Option(o12bMemo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** o12b's fold + compact + retire drive: the row times the
    * post-takedown read.
    */
  val O12bDrive: Artifact = Artifact("o12b_retire_drive",
    (s, d) => o12bWarehouse(s, d): Unit)

  private val o6Memo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** o6's near-dup warehouse — the two-batch IncrementalNearDup drive
    * (batch 1: doc_id < 250, batch 2: the rest; signatures sliced from
    * the per-corpus memoized simhash index shared with d4/d4b/d7) —
    * built ONCE per (session, corpus) and memoized, the j6b/t17b
    * pattern: production pays the ingest fold once per arriving batch,
    * and every query-time consumer reads the committed corpus. Bench
    * pre-builds it in warmup and reports the drive as
    * `ingest_artifacts.o6_ingest_drive`, so the o6 row's number is the
    * maintained-corpus READ alone. Replay idempotency and crash repair
    * stay spec-proven (NearDupIngestSpec drives them explicitly).
    * Racing duplicate builds are benign — each writes its own fresh
    * warehouse, putIfAbsent keeps the first, the loser closes its
    * orphan.
    */
  private[graft] def o6Warehouse(s: SparkSession,
                                 d: String): graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(o6Memo.get(key)).getOrElse {
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o6_wh"))
      val docs = Graft.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val sigs = graft.queries.DedupQueries.simhashSigs(s, d)
      graft.pipeline.IncrementalNearDup.ingest(cat,
        docs.filter(col("doc_id") < 250), "corpus", Some(1L),
        Some(sigs.filter(col("doc_id") < 250))): Unit
      graft.pipeline.IncrementalNearDup.ingest(cat,
        docs.filter(col("doc_id") >= 250), "corpus", Some(2L),
        Some(sigs.filter(col("doc_id") >= 250))): Unit
      Option(o6Memo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** o6's two-batch IncrementalNearDup drive: production pays the fold
    * once per arriving batch; the row times the maintained-corpus read.
    */
  val O6Drive: Artifact = Artifact("o6_ingest_drive",
    (s, d) => o6Warehouse(s, d): Unit)
}
