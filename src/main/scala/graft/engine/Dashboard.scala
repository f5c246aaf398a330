package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** S9 — the reference's monthly-sales dashboard
  * (`/root/reference/analysis/analyze_monthly_sales.py:52-141`: a 2×2
  * matplotlib figure over `v_monthly_sales_summary`), re-expressed with
  * zero dependencies: the four panels render to a single deterministic
  * SVG. The heavy work — the monthly view itself — is Spark; the render
  * collects only chart-cardinality aggregates (≤ tens of rows per
  * panel), exactly like the reference's own `fetchdf` boundary
  * (SURVEY.md §3.1). No timestamps or randomness in the output, so the
  * same warehouse renders byte-identical SVG.
  *
  * Panels (analyze_monthly_sales.py:77-137):
  *   1. monthly revenue trend lines, top-5 countries by EUR revenue
  *   2. total revenue by country, top-8 horizontal bars
  *   3. monthly order volume, vertical bars
  *   4. average order value by country, top-10 vertical bars
  */
object Dashboard {

  private val Palette = IndexedSeq(
    "#4c72b0", "#dd8452", "#55a868", "#c44e52", "#8172b3",
    "#937860", "#da8bc3", "#8c8c8c", "#ccb974", "#64b5cd")

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def fmt(d: Double): String =
    if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString
    else f"$d%.2f"

  /** Column-name shim: the TPC-H twin's view says `total_revenue`, the
    * raw-file pipeline's says `total_revenue_gbp` — same contract.
    */
  private def revCol(df: DataFrame): String =
    if (df.columns.contains("total_revenue_gbp")) "total_revenue_gbp"
    else "total_revenue"

  /** What the four panels draw: per month (label, EUR revenue,
    * orders) in month order; per country (country, EUR revenue, orders)
    * by revenue descending, country ascending; and the top-5
    * countries' monthly rows ((year, month), country, EUR revenue).
    */
  private[graft] final case class Panels(
      byMonth: Seq[(String, Double, Long)],
      topCountries: Seq[(String, Double, Long)],
      trendRows: Seq[((Long, Long), String, Double)])

  /** Render the 2×2 dashboard SVG from the monthly view; returns the
    * SVG text (also written to `outPath` when given).
    *
    * The view has at most month × country rows, so it is collected
    * once (one pass over the view's plan, however deep) and the panels
    * are folded on the driver with [[Functions.dsum]]'s semantics.
    */
  def render(monthly: DataFrame, outPath: Option[String] = None): String =
    draw(panels(monthly.select(col("year"), col("month"), col("country"),
      col("total_revenue_eur"), col("total_orders")).collect()), outPath)

  /** [[Functions.dsum]] on the driver: each double cast to
    * DECIMAL(38,6) (shortest repr, HALF_UP), summed exactly, cast back.
    */
  private def dsum(xs: Iterable[Double]): Double =
    xs.foldLeft(java.math.BigDecimal.ZERO) { (acc, x) =>
      acc.add(BigDecimal(x).bigDecimal.setScale(6, java.math.RoundingMode.HALF_UP))
    }.doubleValue

  /** The three panel datasets from the collected view rows
    * `(year, month, country, total_revenue_eur, total_orders)`, with
    * the tie-breaks of a Spark `orderBy`: countries compare as UTF-8
    * bytes, as Spark strings do.
    */
  private def panels(rows: Array[Row]): Panels = {
    val byMonth = rows.groupBy(r => (r.getLong(0), r.getLong(1))).toSeq
      .sortBy(_._1)
      .map { case ((y, m), rs) =>
        (f"$y%d-$m%02d", dsum(rs.map(_.getDouble(3))), rs.map(_.getLong(4)).sum)
      }
    val topCountries = rows.groupBy(_.getString(2)).toSeq
      .map { case (c, rs) => (c, dsum(rs.map(_.getDouble(3))), rs.map(_.getLong(4)).sum) }
      .sortWith { case ((c1, v1, _), (c2, v2, _)) =>
        v1 > v2 || (v1 == v2 &&
          UTF8String.fromString(c1).compareTo(UTF8String.fromString(c2)) < 0) }
    val top5 = topCountries.take(5).map(_._1).toSet
    val trendRows = rows.toSeq.filter(r => top5(r.getString(2)))
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2), r.getDouble(3)))
    Panels(byMonth, topCountries, trendRows)
  }

  /** Draw the four panels; the SVG depends on `p` alone. */
  private[graft] def draw(data: Panels, outPath: Option[String]): String = {
    val Panels(byMonth, topCountries, trendRows) = data
    val top5 = topCountries.take(5).map(_._1)
    val months = byMonth.map(_._1)
    val monthIdx = byMonth.zipWithIndex
      .map { case ((p, _, _), i) => p -> i }.toMap

    val sb = new StringBuilder
    sb ++= """<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 1500 1200" font-family="sans-serif">"""
    sb ++= """<rect width="1500" height="1200" fill="white"/>"""
    sb ++= """<text x="750" y="36" text-anchor="middle" font-size="24" font-weight="bold">Monthly Sales Summary Dashboard (EUR)</text>"""

    def panel(x: Int, y: Int, title: String): (Int, Int) = {
      sb ++= s"""<text x="${x + 330}" y="${y + 24}" text-anchor="middle" font-size="17" font-weight="bold">${esc(title)}</text>"""
      (x + 60, y + 50) // plot origin (top-left of plot area)
    }
    val plotW = 600; val plotH = 420

    // 1 — trend lines (top-left)
    locally {
      val (px, py) = panel(30, 60, "Monthly Revenue Trends (Top 5 Countries)")
      val maxV = math.max(trendRows.map(_._3).foldLeft(0.0)(math.max), 1.0)
      sb ++= s"""<rect x="$px" y="$py" width="$plotW" height="$plotH" fill="none" stroke="#cccccc"/>"""
      top5.zipWithIndex.foreach { case (c, ci) =>
        val pts = trendRows.filter(_._2 == c)
          .map { case ((yy, mm), _, v) => (monthIdx(f"$yy%d-$mm%02d"), v) }
          .sortBy(_._1)
        val path = pts.map { case (i, v) =>
          val xx = px + (if (months.length > 1) i.toDouble / (months.length - 1) else 0.5) * plotW
          val yy = py + plotH - v / maxV * plotH
          f"$xx%.1f,$yy%.1f"
        }.mkString(" ")
        sb ++= s"""<polyline fill="none" stroke="${Palette(ci)}" stroke-width="2" points="$path"/>"""
        pts.foreach { case (i, v) =>
          val xx = px + (if (months.length > 1) i.toDouble / (months.length - 1) else 0.5) * plotW
          val yy = py + plotH - v / maxV * plotH
          sb ++= f"""<circle cx="$xx%.1f" cy="$yy%.1f" r="3" fill="${Palette(ci)}"/>"""
        }
        // legend
        sb ++= s"""<rect class="legend" x="${px + 10}" y="${py + 10 + ci * 20}" width="12" height="12" fill="${Palette(ci)}"/>"""
        sb ++= s"""<text x="${px + 28}" y="${py + 21 + ci * 20}" font-size="12">${esc(c)}</text>"""
      }
    }

    // 2 — revenue by country, top-8 horizontal bars (top-right)
    locally {
      val (px, py) = panel(780, 60, "Total Revenue by Country")
      val top8 = topCountries.take(8)
      val maxV = math.max(top8.map(_._2).foldLeft(0.0)(math.max), 1.0)
      val bh = plotH / math.max(top8.length, 1)
      top8.zipWithIndex.foreach { case ((c, v, _), i) =>
        val w = v / maxV * (plotW - 120)
        sb ++= f"""<rect class="rev-bar" x="$px" y="${py + i * bh + 4}" width="$w%.1f" height="${bh - 8}" fill="#4c72b0"/>"""
        sb ++= s"""<text x="${px - 6}" y="${py + i * bh + bh / 2 + 4}" text-anchor="end" font-size="11">${esc(c)}</text>"""
        sb ++= f"""<text x="${px + w + 6}%.1f" y="${py + i * bh + bh / 2 + 4}" font-size="10">&#8364;${fmt(v)}</text>"""
      }
    }

    // 3 — monthly order volume bars (bottom-left)
    locally {
      val (px, py) = panel(30, 620, "Monthly Order Volume")
      val maxV = math.max(byMonth.map(_._3.toDouble).foldLeft(0.0)(math.max), 1.0)
      val bw = plotW.toDouble / math.max(byMonth.length, 1)
      byMonth.zipWithIndex.foreach { case ((p, _, orders), i) =>
        val h = orders / maxV * plotH
        sb ++= f"""<rect class="vol-bar" x="${px + i * bw + 1}%.1f" y="${py + plotH - h}%.1f" width="${bw - 2}%.1f" height="$h%.1f" fill="#55a868"/>"""
        if (byMonth.length <= 30 || i % 3 == 0)
          sb ++= f"""<text x="${px + i * bw + bw / 2}%.1f" y="${py + plotH + 14}" font-size="8" text-anchor="middle" transform="rotate(45 ${px + i * bw + bw / 2}%.1f ${py + plotH + 14})">$p</text>"""
      }
    }

    // 4 — avg order value by country, top-10 bars (bottom-right)
    locally {
      val (px, py) = panel(780, 620, "Average Order Value by Country")
      val aov = topCountries.filter(_._3 > 0)
        .map { case (c, v, o) => (c, v / o) }
        .sortBy { case (c, a) => (-a, c) }.take(10)
      val maxV = math.max(aov.map(_._2).foldLeft(0.0)(math.max), 1.0)
      val bw = plotW.toDouble / math.max(aov.length, 1)
      aov.zipWithIndex.foreach { case ((c, a), i) =>
        val h = a / maxV * plotH
        sb ++= f"""<rect class="aov-bar" x="${px + i * bw + 4}%.1f" y="${py + plotH - h}%.1f" width="${bw - 8}%.1f" height="$h%.1f" fill="#dd8452"/>"""
        sb ++= f"""<text x="${px + i * bw + bw / 2}%.1f" y="${py + plotH + 14}" font-size="9" text-anchor="middle" transform="rotate(45 ${px + i * bw + bw / 2}%.1f ${py + plotH + 14})">${esc(c)}</text>"""
      }
    }

    sb ++= "</svg>"
    val svg = sb.toString
    outPath.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p),
      svg.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    svg
  }

  /** The script's "KEY INSIGHTS" block
    * (analyze_monthly_sales.py:143-168) as a one-row frame: grand
    * totals, top country by GBP revenue, best month by GBP revenue,
    * and first→last month EUR growth percent. Deterministic tie-breaks
    * (country/month ascending) where the reference's idxmax is
    * arbitrary — the SURVEY §7.4 convention.
    */
  def insights(spark: SparkSession, monthlyIn: DataFrame): DataFrame = {
    // Same single-pass rule as [[render]]: three driver-side actions
    // over a possibly-fused view plan must not mean three pipeline
    // runs (benchmarked: 16.2 s → one pipeline pass without this).
    val monthly = monthlyIn.persist()
    try insightsRow(spark, monthly)
    finally { monthly.unpersist(false); () }
  }

  private def insightsRow(spark: SparkSession, monthly: DataFrame): DataFrame = {
    import spark.implicits._
    val rev = revCol(monthly)
    val totals = monthly.agg(
      Functions.dsum(col(rev)).as("gbp"),
      Functions.dsum(col("total_revenue_eur")).as("eur"),
      sum(col("total_orders")).as("orders")).head()
    val topCountry = monthly.groupBy(col("country"))
      .agg(Functions.dsum(col(rev)).as("c_gbp"))
      .orderBy(desc("c_gbp"), asc("country"))
      .head().getString(0)
    val byMonth = monthly.groupBy(col("year"), col("month"))
      .agg(Functions.dsum(col(rev)).as("m_gbp"),
        Functions.dsum(col("total_revenue_eur")).as("m_eur"))
      .orderBy("year", "month")
      .collect()
    val best = byMonth.maxBy(r => (r.getDouble(2), -r.getLong(0), -r.getLong(1)))
    val bestMonth = f"${best.getLong(0)}%d-${best.getLong(1)}%02d"
    val growthPct =
      if (byMonth.length > 1 && byMonth.head.getDouble(3) != 0.0)
        (byMonth.last.getDouble(3) - byMonth.head.getDouble(3)) /
          byMonth.head.getDouble(3) * 100.0
      else 0.0
    Seq((totals.getDouble(0), totals.getDouble(1), totals.getLong(2),
      topCountry, bestMonth, growthPct))
      .toDF("total_revenue", "total_revenue_eur", "total_orders",
        "top_country", "best_month", "growth_pct")
  }
}
