#!/usr/bin/env python3
"""DEV-ONLY golden differential: replay the reference pipeline's SQL in
DuckDB over the STAGED raw tables (written by `runMain graft.Golden`)
and diff every downstream table cell-by-cell against the Spark build.

NOT part of the Spark library (driver-side python allowed for tooling
only). Usage:

    python3 tools/check_golden.py <goldenOutDir> [reportPath]

The SQL below is the reference's own table chain
(/root/reference/src/models/dimensions.py, facts.py,
sql/views/monthly_sales_summary.sql) with this repo's documented
determinism substitutions (SURVEY.md §7.4):
  - MODE(x)            -> deterministic mode (count DESC, value ASC)
  - SUM(double)        -> SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,6)))
                          cast back: the varchar hop rounds the SHORTEST
                          DECIMAL REPR half-up, exactly like Spark's
                          Decimal(double) (BigDecimal.valueOf + HALF_UP);
                          a direct double->decimal cast in DuckDB rounds
                          the raw binary value and differs by 1 ulp at
                          6dp midpoints (~1 cell per million division
                          results)
  - EXTRACT(week/...)  -> same functions both engines verified on (the
                          D-series oracle rows)
The three ROUND(x, 2) ratio columns in the view are compared with a
0.011 tolerance (round-half midpoint behavior differs across engines on
binary doubles); every other cell must match exactly.
"""
import json
import math
import sys

import duckdb

STAGED = ["raw_retail_data", "raw_fx_rates", "raw_uk_holidays"]
BUILT = ["dim_calendar", "dim_product", "dim_customer", "fct_sales",
         "daily_fx_rates", "fct_sales_eur", "agg_country_day",
         "v_monthly_sales_summary_materialized"]

# Deterministic mode: most frequent value, ties by smallest value.
MODE_DET = """
SELECT {keys}, {val} FROM (
  SELECT {keys}, {val},
         ROW_NUMBER() OVER (PARTITION BY {keys}
                            ORDER BY COUNT(*) DESC, {val} ASC) AS rn
  FROM {src} GROUP BY {keys}, {val}
) WHERE rn = 1
"""

CHAIN = {
    # dimensions.py:55-95 (month-extended gap-free series + flags)
    "dim_calendar": """
WITH b AS (
  SELECT DATE_TRUNC('month', MIN(CAST(invoice_ts AS DATE))) AS lo,
         LAST_DAY(MAX(CAST(invoice_ts AS DATE))) AS hi
  FROM raw_retail_data
), series AS (
  SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b),
                INTERVAL '1 day'))::DATE AS date
)
SELECT s.date,
       EXTRACT(dow FROM s.date) IN (0, 6) AS is_weekend,
       EXTRACT(isoyear FROM s.date) AS iso_year,
       EXTRACT(week FROM s.date) AS iso_week,
       EXTRACT(month FROM s.date) AS month,
       EXTRACT(year FROM s.date) AS year,
       EXTRACT(dow FROM s.date) AS day_of_week,
       DAYNAME(s.date) AS day_name,
       MONTHNAME(s.date) AS month_name,
       h.holiday_date IS NOT NULL AS is_uk_holiday
FROM series s
LEFT JOIN (SELECT holiday_date FROM raw_uk_holidays
           WHERE holiday_date BETWEEN (SELECT lo FROM b)
                                  AND (SELECT hi FROM b)) h
  ON s.date = h.holiday_date
""",
    # dimensions.py:146-171 (deterministic mode substitution)
    "dim_product": """
WITH good AS (
  SELECT * FROM raw_retail_data
  WHERE stock_code IS NOT NULL AND stock_code != '' AND stock_code != 'nan'
), m AS (""" + MODE_DET.format(keys="stock_code", val="description",
                               src="good") + """)
SELECT g.stock_code, m.description,
       MIN(CAST(g.invoice_ts AS DATE)) AS first_seen,
       MAX(CAST(g.invoice_ts AS DATE)) AS last_seen
FROM good g JOIN m USING (stock_code)
GROUP BY g.stock_code, m.description
""",
    # dimensions.py:192-216 (deterministic mode substitution)
    "dim_customer": """
WITH w AS (
  SELECT COALESCE(customer_id, -1) AS customer_id, country
  FROM raw_retail_data
), m AS (""" + MODE_DET.format(keys="customer_id", val="country",
                               src="w") + """)
SELECT customer_id,
       CASE WHEN customer_id = -1 THEN 'UNKNOWN' ELSE country END AS country
FROM m
""",
    # facts.py:37-57
    "fct_sales": """
SELECT r.invoice_no, r.stock_code,
       COALESCE(r.customer_id, -1) AS customer_id,
       CAST(r.invoice_ts AS DATE) AS date,
       r.qty, r.unit_price_gbp,
       r.qty * r.unit_price_gbp AS gross_amount_gbp
FROM raw_retail_data r
JOIN duck_dim_calendar c ON CAST(r.invoice_ts AS DATE) = c.date
JOIN duck_dim_product p ON r.stock_code = p.stock_code
JOIN duck_dim_customer cu ON COALESCE(r.customer_id, -1) = cu.customer_id
WHERE r.stock_code IS NOT NULL AND r.stock_code != ''
  AND r.stock_code != 'nan'
  AND r.unit_price_gbp IS NOT NULL AND r.qty IS NOT NULL
""",
    # facts.py:153-202
    "daily_fx_rates": """
WITH b AS (SELECT MIN(date) AS lo, MAX(date) AS hi FROM duck_fct_sales),
series AS (
  SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b),
                INTERVAL '1 day'))::DATE AS date
),
ff AS (
  SELECT ds.date,
         LAST_VALUE(fx.gbp_per_eur IGNORE NULLS) OVER (
           ORDER BY ds.date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gbp_per_eur
  FROM series ds LEFT JOIN raw_fx_rates fx ON ds.date = fx.date
)
SELECT date, gbp_per_eur FROM ff WHERE gbp_per_eur IS NOT NULL
""",
    # facts.py:258-288
    "fct_sales_eur": """
SELECT f.invoice_no, f.stock_code, f.customer_id, f.date, f.qty,
       f.unit_price_gbp,
       f.unit_price_gbp / fx.gbp_per_eur AS unit_price_eur,
       f.gross_amount_gbp,
       f.gross_amount_gbp / fx.gbp_per_eur AS gross_amount_eur,
       fx.gbp_per_eur AS fx_rate_used
FROM duck_fct_sales f
JOIN duck_daily_fx_rates fx ON f.date = fx.date
""",
    # facts.py:349-421 (DECIMAL-exact revenue sums)
    "agg_country_day": """
SELECT f.date, cu.country,
       COUNT(DISTINCT CASE WHEN f.invoice_no NOT LIKE 'C%'
                           THEN f.invoice_no END) AS orders,
       COUNT(*) AS items,
       CAST(SUM(f.qty) AS BIGINT) AS net_qty,
       CAST(CAST(SUM(CAST(CAST(f.gross_amount_gbp AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE)
            AS DOUBLE) AS net_revenue_gbp,
       CAST(CAST(SUM(CAST(CAST(fe.gross_amount_eur AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE)
            AS DOUBLE) AS net_revenue_eur,
       c.is_weekend, c.is_uk_holiday, c.iso_week, c.iso_year,
       c.month, c.year
FROM duck_fct_sales f
JOIN duck_fct_sales_eur fe ON (f.invoice_no = fe.invoice_no
  AND f.stock_code = fe.stock_code AND f.date = fe.date
  AND f.customer_id = fe.customer_id)
JOIN duck_dim_customer cu ON f.customer_id = cu.customer_id
JOIN duck_dim_calendar c ON f.date = c.date
GROUP BY f.date, cu.country, c.is_weekend, c.is_uk_holiday, c.iso_week,
         c.iso_year, c.month, c.year
""",
    # sql/views/monthly_sales_summary.sql:5-41
    "v_monthly_sales_summary_materialized": """
SELECT EXTRACT(YEAR FROM date) AS year,
       EXTRACT(MONTH FROM date) AS month,
       DATE_TRUNC('month', date)::DATE AS month_start_date,
       country,
       COUNT(DISTINCT date) AS trading_days,
       CAST(SUM(orders) AS BIGINT) AS total_orders,
       CAST(SUM(items) AS BIGINT) AS total_items,
       CAST(SUM(net_qty) AS BIGINT) AS total_quantity,
       CAST(CAST(SUM(CAST(CAST(net_revenue_gbp AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE)
            AS DOUBLE) AS total_revenue_gbp,
       CAST(CAST(SUM(CAST(CAST(net_revenue_eur AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE)
            AS DOUBLE) AS total_revenue_eur,
       ROUND(CAST(SUM(CAST(CAST(net_revenue_gbp AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE)
             / NULLIF(COUNT(DISTINCT date), 0), 2) AS avg_daily_revenue_gbp,
       ROUND(SUM(orders) / NULLIF(COUNT(DISTINCT date), 0), 2)
         AS avg_daily_orders,
       ROUND(CAST(SUM(CAST(CAST(net_revenue_gbp AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE)
             / NULLIF(SUM(orders), 0), 2) AS avg_order_value_gbp
FROM duck_agg_country_day
WHERE net_revenue_gbp > 0
GROUP BY EXTRACT(YEAR FROM date), EXTRACT(MONTH FROM date),
         DATE_TRUNC('month', date), country
""",
}

ROUNDED_COLS = {"avg_daily_revenue_gbp", "avg_daily_orders",
                "avg_order_value_gbp"}
ROUND_TOL = 0.011


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    # Sort by the EXACT-compared columns only: the rounded ratio columns
    # are tolerance-compared because the engines can legitimately differ
    # by one rounding step, and a 1-ulp difference used as a sort key
    # would misalign otherwise-identical rows and produce spurious
    # mismatches on exact columns.
    keys = [c for c in df.columns if c not in ROUNDED_COLS] or list(df.columns)
    df = df.sort_values(by=keys, kind="mergesort",
                        ignore_index=True, na_position="first")
    return df


def cells_equal(a, b, col):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if col in ROUNDED_COLS:
            return abs(a - b) <= ROUND_TOL
        return a == b
    return str(a) == str(b)


def diff_table(name, exp, got):
    if list(exp.columns) != list(got.columns):
        return f"schema mismatch: duck={list(exp.columns)} spark={list(got.columns)}"
    if len(exp) != len(got):
        return f"row count mismatch: duck={len(exp)} spark={len(got)}"
    for c in exp.columns:
        ev, gv = exp[c].tolist(), got[c].tolist()
        for i, (a, b) in enumerate(zip(ev, gv)):
            a = None if (isinstance(a, float) and math.isnan(a)) else a
            b = None if (isinstance(b, float) and math.isnan(b)) else b
            if not cells_equal(a, b, c):
                return f"cell mismatch at row {i} col {c}: duck={a!r} spark={gv[i]!r}"
    return None


def main():
    out_dir = sys.argv[1]
    report_path = sys.argv[2] if len(sys.argv) > 2 else f"{out_dir}/GOLDEN_REPORT.md"
    wh = f"{out_dir}/warehouse"
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in STAGED:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{wh}/{t}/*.parquet')")
    results = []
    for t in BUILT:
        con.execute(f"CREATE TABLE duck_{t.replace('_materialized','')} AS "
                    + CHAIN[t])
        exp = norm(con.execute(
            f"SELECT * FROM duck_{t.replace('_materialized','')}").fetchdf())
        got = norm(con.execute(
            f"SELECT * FROM read_parquet('{wh}/{t}/*.parquet')").fetchdf())
        err = diff_table(t, exp, got)
        results.append((t, len(got), err))
        print(f"{'PASS' if err is None else 'FAIL'} {t} "
              f"({len(got)} rows)" + (f": {err}" if err else ""))
    goldens = json.load(open(f"{out_dir}/goldens.json"))
    n_fail = sum(1 for _, _, e in results if e)
    lines = ["# GOLDEN REPORT — reference pipeline reproduced end-to-end "
             "from raw files", ""]
    lines.append("The reference's real raw files are git-LFS pointer stubs "
                 "(no payload on this machine, zero egress); the run uses "
                 "GoldenFixture's deterministic production-scale stand-ins "
                 "at the real dataset's shape. See GoldenFixture.scala.")
    lines.append("")
    lines.append("## DuckDB differential (reference SQL replayed over the "
                 "staged raw tables)")
    lines.append("")
    lines.append("| table | rows | result |")
    lines.append("|---|---|---|")
    for t, n, e in results:
        lines.append(f"| {t} | {n} | {'PASS' if e is None else 'FAIL: ' + e} |")
    lines.append("")
    lines.append("## Golden numbers (generator manifest vs pipeline output)")
    lines.append("")
    lines.append("| golden | expected | actual | match |")
    lines.append("|---|---|---|---|")
    for k, v in goldens.items():
        if isinstance(v, dict):
            lines.append(f"| {k} | {v['expected']} | {v['actual']} | "
                         f"{'yes' if v['match'] else 'NO'} |")
    lines.append("")
    lines.append("## README published values (reference README.md:96-118) "
                 "vs this run")
    lines.append("")
    lines.append("| published | README | this run |")
    lines.append("|---|---|---|")

    def fmt_m(v):
        try:
            return f"{float(v) / 1e6:.1f}M"
        except (TypeError, ValueError):
            return "?"

    def actual(k):
        v = goldens.get(k)
        return v.get("actual") if isinstance(v, dict) else None

    readme_rows = [
        ("dim_product", "5.3K products", actual("products")),
        ("dim_customer", "5.9K customers", actual("customers")),
        ("dim_calendar", "761 dates", actual("calendar_days")),
        ("fct_sales", "1.07M line items", actual("fct_rows")),
        ("daily_fx_rates", "739 rates", actual("fx_days")),
        ("agg_country_day", "3.7K records", actual("agg_country_day")),
        ("total revenue GBP", "£19.3M", fmt_m(actual("net_revenue_gbp"))),
        ("total revenue EUR", "€22.3M", fmt_m(actual("net_revenue_eur"))),
        ("invoices", "53K invoices", actual("invoices")),
        ("countries", "42 countries", actual("countries")),
        ("time span", "25 months (Dec 2009 - Dec 2011)",
         f"{actual('min_date')}..{actual('max_date')}"),
    ]
    for name, pub, got in readme_rows:
        lines.append(f"| {name} | {pub} | {got} |")
    lines.append("")
    lines.append("Build levels (tables in one level are built concurrently): "
                 "raw_retail_data, raw_fx_rates, raw_uk_holidays → "
                 "dim_calendar, dim_product, dim_customer → "
                 "fct_sales, daily_fx_rates → fct_sales_eur → "
                 "agg_country_day → view, its materialization and the "
                 "dashboard.")
    lines.append("")
    lines.append(f"Build: {goldens.get('build_secs', '?')} s; generation: "
                 f"{goldens.get('gen_secs', '?')} s; agg rows: "
                 f"{goldens.get('agg_rows', '?')}; view rows: "
                 f"{goldens.get('view_rows', '?')}.")
    with open(report_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"report -> {report_path}")
    print(f"== {len(results) - n_fail} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()


