package graft

import graft.engine.Graft
import graft.pipeline.{Invariants, RawRetailPipeline, RetailPipeline}

/** CLI entry point — flag-for-flag parity with the reference's
  * `python src/run.py --rawdir data/raw --db build/retail.duckdb
  * --rebuild` (`/root/reference/src/run.py:29-44`):
  *
  *   - `--rawdir DIR`  stage the reference's actual raw files from DIR
  *     (`online_retail_II.xlsx`, `gbp.xml`,
  *     `ukbankholidays-jul19.xls` — the exact names run.py:63-65
  *     resolves) through the byte-level Sources via
  *     [[RawRetailPipeline]].
  *   - `--db DIR`      the warehouse directory (the parquet analog of
  *     the reference's .duckdb file).
  *   - `--rebuild`     drop the warehouse first (run.py unlinks the db
  *     file; we drop the warehouse directory).
  *
  * Without `--rawdir`, the TPC-H-testdata [[RetailPipeline]] runs over
  * a positional `<sfDir>` instead (the oracle-gated operator chain —
  * same table names, same invariants). Either way: build the staged
  * star schema, print each table's wait on its dependencies and its
  * run time, and the build's critical path, print the catalog
  * (inspect_db analog), show a monthly-view sample
  * (analyze_monthly_sales analog), and abort with a nonzero exit if
  * any invariant is violated (run.py:85-87).
  *
  *   sbt "runMain graft.Run --rawdir <dir> --db <dir> [--rebuild]"
  *   sbt "runMain graft.Run <sfDir> <warehouseDir> [--rebuild]"
  */
object Run {
  private[graft] final case class Args(
      rawdir: Option[String], db: Option[String], rebuild: Boolean,
      positional: Seq[String])

  private[graft] def parse(args: Seq[String]): Args = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Args): Args = rest match {
      case "--rawdir" :: v :: t => loop(t, acc.copy(rawdir = Some(v)))
      case "--db" :: v :: t     => loop(t, acc.copy(db = Some(v)))
      case "--rebuild" :: t     => loop(t, acc.copy(rebuild = true))
      case v :: t => loop(t, acc.copy(positional = acc.positional :+ v))
      case Nil => acc
    }
    loop(args.toList, Args(None, None, rebuild = false, Nil))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val warehouse = a.db.orElse(a.positional.lift(1))
      .getOrElse("/tmp/graft-warehouse")
    val spark = Graft.session("graft-run")
    val code = try run(spark, a, warehouse) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** The whole lifecycle, factored so PipelineSpec can drive the CLI
    * surface (flags included) in-process; returns the exit code.
    */
  private[graft] def run(spark: org.apache.spark.sql.SparkSession,
                         a: Args, warehouse: String): Int = {
    if (a.rebuild) new graft.engine.Catalog(spark, warehouse).dropWarehouse()

    val (cat, report) = a.rawdir match {
      case Some(rd) =>
        RawRetailPipeline.buildWithReport(spark,
          s"$rd/online_retail_II.xlsx", s"$rd/gbp.xml",
          s"$rd/ukbankholidays-jul19.xls", warehouse)
      case None =>
        val sfDir = a.positional.headOption
          .getOrElse("/root/testdata/sf0.001")
        RetailPipeline.buildWithReport(spark, sfDir, warehouse)
    }

    println("== build ==")
    report.lines.foreach(println)

    println("== catalog ==")
    cat.tables().foreach { t =>
      println(f"$t%-24s ${cat.table(t).count()}%10d rows")
    }

    println("== v_monthly_sales_summary (sample) ==")
    cat.table("v_monthly_sales_summary")
      .orderBy("year", "month", "country")
      .show(5, truncate = false)

    println("== invariants ==")
    val violations = Invariants.checkAll(cat).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    violations.foreach { case (n, v) => println(f"$n%-28s $v%6d") }
    if (violations.exists(_._2 != 0L)) {
      System.err.println("pipeline FAILED: invariant violations")
      1
    } else 0
  }
}
