package graft

import java.nio.file.Files
import graft.engine.XmlFxSource
import graft.pipeline.{Invariants, RetailPipeline}

/** End-to-end staged pipeline on sf0.001: builds the full star schema
  * into a temp warehouse, asserts every invariant is zero, exercises
  * catalog introspection + idempotent rebuild (M2), and drives the
  * ECB-shaped XML source.
  */
class PipelineSpec extends SparkTestBase {

  test("full pipeline builds, invariants hold, rebuild is idempotent") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val cat = RetailPipeline.build(spark, sfDir, wh)
    val expected = Seq("agg_country_day", "daily_fx_rates", "dim_calendar",
      "dim_customer", "dim_product", "fct_sales", "fct_sales_eur",
      "raw_sales")
    assert(expected.toSet.subsetOf(cat.tables().toSet))

    val inv = Invariants.checkAll(cat).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inv.size === 9)
    inv.foreach { case (name, v) => assert(v === 0L, s"invariant $name") }

    val monthly = cat.table("v_monthly_sales_summary")
    assert(monthly.count() > 0)
    assert(cat.describe("fct_sales").exists(_._1 == "net_amount"))

    // Full reference view column contract
    // (/root/reference/sql/views/monthly_sales_summary.sql:5-41).
    val monthlyCols = monthly.columns.toSet
    Seq("year", "month", "month_start_date", "country", "trading_days",
      "total_orders", "total_items", "total_quantity", "total_revenue",
      "total_revenue_eur", "avg_daily_revenue", "avg_daily_orders",
      "avg_order_value").foreach(c =>
      assert(monthlyCols.contains(c), s"monthly view missing $c"))

    // Full 8-key agg_country_day contract (facts.py:369-411): date,
    // country + 6 calendar attrs, plus the net_qty measure.
    val aggCols = cat.table("agg_country_day").columns.toSet
    Seq("date", "country", "is_weekend", "is_holiday", "iso_week",
      "iso_year", "month", "year", "net_qty").foreach(c =>
      assert(aggCols.contains(c), s"agg_country_day missing $c"))

    // Observability: one report row per CTAS stage, all with rows > 0.
    val rep = cat.table("pipeline_build_report").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.keySet === expected.toSet)
    rep.foreach { case (s, n) => assert(n > 0L, s"stage $s wrote 0 rows") }

    // Scale guard: fct_sales is written partitionBy(year), so a
    // year-ranged scan must prune at the PARTITION level (the whole
    // point of the layout at 100 TB) — the filter has to appear in
    // PartitionFilters, not as a post-scan predicate over every file.
    import org.apache.spark.sql.functions.{col, max}
    val yr = cat.table("fct_sales").select(max(col("year"))).head().getInt(0)
    val pruned = cat.table("fct_sales").filter(col("year") === yr)
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail("no PartitionFilters in fct_sales scan"))
    assert(scanLine.contains("year"), scanLine)

    // M2: rebuild over an existing warehouse must succeed and agree.
    // The first session hands the warehouse off (single-writer lock)
    // before the rebuild opens it.
    val n1 = cat.table("fct_sales").count()
    cat.close()
    val cat2 = RetailPipeline.build(spark, sfDir, wh)
    assert(cat2.table("fct_sales").count() === n1)
    cat2.dropWarehouse()
    cat2.close()
  }

  test("createViewFromSql rejects files without a CREATE VIEW statement") {
    val f = Files.createTempFile("notaview", ".sql")
    Files.writeString(f, "SELECT 1 AS x")
    val cat = new graft.engine.Catalog(spark,
      Files.createTempDirectory("graft-wh2").toString)
    assertThrows[IllegalArgumentException] {
      cat.createViewFromSql(f.toString)
    }
  }

  test("Catalog.checksum is table-agnostic and rejects float columns loudly") {
    import graft.engine.Checksum
    val li = graft.engine.Graft.table(spark, sfDir, "lineitem")
    // the helper's frame matches the oracle-gated x4 query's shape
    val row = Checksum.of(li, Seq(
      "l_orderkey" -> Checksum.IntLike, "l_returnflag" -> Checksum.Str,
      "l_shipdate" -> Checksum.TsDay)).head()
    assert(row.getLong(0) == li.count())
    assert(!row.isNullAt(1))
    // doubles are excluded by design: their printf differs across engines
    val e = intercept[IllegalArgumentException] {
      Checksum.of(li, Seq("l_quantity" -> Checksum.IntLike)).head()
    }
    assert(e.getMessage.contains("excluded by design"))
    // and the checksum actually DETECTS corruption: mutate one cell of
    // one row and the (n_rows, checksum) pair must diverge — same row
    // count, different sum (the migration-validation property)
    import org.apache.spark.sql.functions.{col, when}
    val cols = Seq("l_orderkey" -> Checksum.IntLike,
      "l_linenumber" -> Checksum.IntLike, "l_returnflag" -> Checksum.Str)
    val base = Checksum.of(li, cols).head()
    val firstKey = li.select("l_orderkey").head().getLong(0)
    val mutated = li.withColumn("l_returnflag",
      when(col("l_orderkey") === firstKey, "@").otherwise(col("l_returnflag")))
    val mut = Checksum.of(mutated, cols).head()
    assert(mut.getLong(0) == base.getLong(0))
    assert(mut.getDouble(1) != base.getDouble(1))
  }

  test("partition checksums locate the corrupted partition") {
    import graft.engine.Checksum
    import org.apache.spark.sql.functions.{col, when, year, to_date}
    val li = graft.engine.Graft.table(spark, sfDir, "lineitem")
    val cols = Seq("l_orderkey" -> Checksum.IntLike,
      "l_returnflag" -> Checksum.Str, "l_shipdate" -> Checksum.TsDay)
    val group = "cast(year(to_date(l_shipdate)) as bigint)"
    def byYear(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
      Checksum.by(df, group, cols).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val base = byYear(li)
    // corrupt rows within exactly one year partition — the synthetic
    // testdata has no unique row key (even (orderkey, linenumber)
    // repeats), so the year bound IS the corruption scope
    val victim = li.select(col("l_orderkey"), col("l_linenumber"),
      year(to_date(col("l_shipdate"))).cast("long").as("y")).head()
    val (badKey, badLine, badYear) =
      (victim.getLong(0), victim.getInt(1), victim.getLong(2))
    val mutated = li.withColumn("l_returnflag",
      when(col("l_orderkey") === badKey && col("l_linenumber") === badLine &&
          year(to_date(col("l_shipdate"))).cast("long") === badYear,
        "@").otherwise(col("l_returnflag")))
    val diff = byYear(mutated).toSet.diff(base.toSet).map(_._1)
    assert(diff == Set(badYear),
      s"corruption in $badYear must move exactly that partition's checksum, got $diff")
  }

  test("Catalog.compact shrinks the file count and preserves content exactly") {
    import graft.engine.Checksum
    val cat = new graft.engine.Catalog(spark,
      graft.queries.Scratch.fresh(spark, "compact_wh"))
    // a deliberately fragmented table: 40 tiny files, the shape an
    // incremental writer leaves behind
    cat.save("frag", graft.engine.Graft.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_orderdate")
      .repartition(40))
    def parquetFiles(): Seq[java.io.File] =
      Option(new java.io.File(s"${cat.warehouse}/frag").listFiles())
        .toSeq.flatten.filter(_.getName.endsWith(".parquet")).toSeq
    val cols = Seq("o_orderkey" -> Checksum.IntLike,
      "o_orderstatus" -> Checksum.Str, "o_orderdate" -> Checksum.TsDay)
    val before = Checksum.of(cat.table("frag"), cols).head()
    assert(parquetFiles().size == 40)
    assert(cat.compact("frag", targetBytes = Long.MaxValue))
    assert(parquetFiles().size == 1, parquetFiles().map(_.getName))
    val after = Checksum.of(cat.table("frag"), cols).head()
    assert(after.getLong(0) == before.getLong(0))
    assert(after.getDouble(1) == before.getDouble(1))
    // no temp/old dirs left behind by the atomic swap
    val siblings = Option(new java.io.File(cat.warehouse).listFiles())
      .toSeq.flatten.map(_.getName)
    assert(!siblings.exists(_.contains("__compact")), siblings)
  }

  test("Catalog.compactPartitions compacts each partition, keeps layout + checksum") {
    import graft.engine.Checksum
    val cat = new graft.engine.Catalog(spark,
      graft.queries.Scratch.fresh(spark, "compactp_wh"))
    // a partitioned table fragmented inside every partition — the
    // state an incremental per-batch writer leaves behind
    cat.save("pfrag", graft.engine.Graft.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_orderdate")
      .repartition(8),
      partitionBy = Seq("o_orderstatus"))
    def partDirs(): Seq[java.io.File] =
      Option(new java.io.File(s"${cat.warehouse}/pfrag").listFiles())
        .toSeq.flatten.filter(f => f.isDirectory && f.getName.contains("="))
    def filesIn(d: java.io.File): Int =
      Option(d.listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    val layoutBefore = partDirs().map(_.getName).sorted
    assert(layoutBefore.nonEmpty && partDirs().exists(filesIn(_) > 1))
    val cols = Seq("o_orderkey" -> Checksum.IntLike,
      "o_orderstatus" -> Checksum.Str, "o_orderdate" -> Checksum.TsDay)
    val before = Checksum.of(cat.table("pfrag"), cols).head()
    // the root-level guard still refuses; the per-partition path works
    assertThrows[IllegalArgumentException] { cat.compact("pfrag") }
    assert(cat.compactPartitions("pfrag", targetBytes = Long.MaxValue))
    assert(partDirs().map(_.getName).sorted == layoutBefore,
      "partition layout must survive compaction")
    assert(partDirs().forall(filesIn(_) == 1),
      partDirs().map(d => d.getName -> filesIn(d)))
    val after = Checksum.of(cat.table("pfrag"), cols).head()
    assert(after.getLong(0) == before.getLong(0))
    assert(after.getDouble(1) == before.getDouble(1))
  }

  test("compaction leaves a directory that cannot shrink untouched, and " +
      "writes no marker when nothing needs a rewrite") {
    import spark.implicits._
    val fs = new FaultStore(Int.MaxValue)
    val cat = new graft.engine.Catalog(spark,
      graft.queries.Scratch.fresh(spark, "compact_noop_wh"), fs)
    try {
      val a = (1 to 20).map(i => (i.toLong, "A")).toDF("k", "s").coalesce(1)
      val b = (21 to 60).map(i => (i.toLong, "B")).toDF("k", "s").repartition(3)
      cat.save("flat", a)
      cat.save("mixed", a.union(b), partitionBy = Seq("s"))
      def files(rel: String): Set[String] =
        Option(new java.io.File(s"${cat.warehouse}/$rel").listFiles())
          .toSeq.flatten.map(_.getName).filter(_.endsWith(".parquet")).toSet
      val (flat, leafA, leafB) = (files("flat"), files("mixed/s=A"), files("mixed/s=B"))
      assert(flat.size == 1 && leafA.size == 1 && leafB.size == 3)
      fs.arm()
      def view(name: String) = spark.sessionState.catalog.getRawTempView(name)
      val flatView = view("flat")
      assert(flatView.isDefined)
      assert(!cat.compact("flat"))
      assert(files("flat") == flat, "a one-file table was rewritten")
      assert(view("flat").exists(_ eq flatView.get),
        "a compaction that rewrote nothing re-registered the table's view")
      assert(!fs.trace.exists(Set("putAtomic", "writeParquet", "rename")),
        s"no rewrite is needed, so nothing may be written: ${fs.trace}")
      assert(cat.compactPartitions("mixed"))
      assert(files("mixed/s=A") == leafA, "the already-compact leaf was rewritten")
      val rewritten = files("mixed/s=B")
      assert(rewritten.size == 1 && rewritten.intersect(leafB).isEmpty,
        "the fragmented leaf must still be rewritten")
      assert(cat.table("mixed").count() == 60)
    } finally cat.close()
  }

  test("warehouse is single-writer: a second Catalog on the same root refuses") {
    val wh = graft.queries.Scratch.fresh(spark, "lock_wh")
    val cat = new graft.engine.Catalog(spark, wh)
    val e = intercept[IllegalStateException] {
      new graft.engine.Catalog(spark, wh)
    }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    // handoff: after close() the next session opens cleanly
    cat.close()
    val cat2 = new graft.engine.Catalog(spark, wh)
    cat2.close()
  }

  test("a dead holder's warehouse lock is stale and is stolen") {
    val wh = graft.queries.Scratch.fresh(spark, "stale_lock_wh")
    assert(new java.io.File(wh).mkdirs())
    // plant a _LOCK from a crashed session: a pid that cannot be alive
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, "_LOCK"),
      Long.MaxValue.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    val cat = new graft.engine.Catalog(spark, wh) // must not refuse
    // and the lock now names THIS process (pid:startMillis format)
    val pid = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(wh, "_LOCK")),
      java.nio.charset.StandardCharsets.UTF_8).trim.split(":")(0)
    assert(pid == ProcessHandle.current().pid().toString)
    cat.close()
  }

  test("dropWarehouse releases the single-writer claim (the Run --rebuild flow)") {
    val wh = graft.queries.Scratch.fresh(spark, "drop_claim_wh")
    new graft.engine.Catalog(spark, wh).dropWarehouse()
    // a successor on the same root must open cleanly — drop-then-build
    // is exactly what `Run --rebuild` does
    val cat2 = new graft.engine.Catalog(spark, wh)
    cat2.close()
  }

  test("close() after dropWarehouse must not disarm the successor's guards") {
    // the natural try/finally around a --rebuild: drop, successor opens,
    // THEN the finally fires close() on the dropped instance — which
    // must be a no-op, not delete the successor's _LOCK / openRoots
    val wh = graft.queries.Scratch.fresh(spark, "drop_close_wh")
    val dropped = new graft.engine.Catalog(spark, wh)
    dropped.dropWarehouse()
    val successor = new graft.engine.Catalog(spark, wh)
    dropped.close() // the finally — must not touch the successor
    assert(new java.io.File(wh, "_LOCK").exists(),
      "the successor's _LOCK must survive the dropped instance's close()")
    // both guards still live: a third open must refuse
    val e = intercept[IllegalStateException] {
      new graft.engine.Catalog(spark, wh)
    }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    dropped.close() // double-close: also a no-op
    successor.close()
  }

  test("close() leaves a _LOCK it did not write (successor on same path)") {
    val wh = graft.queries.Scratch.fresh(spark, "foreign_lock_wh")
    val cat = new graft.engine.Catalog(spark, wh)
    cat.close()
    // a successor (here: simulated foreign holder) re-locks the path;
    // a second close() of the old instance must not delete that lock
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, "_LOCK"),
      "99999999:1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    cat.close()
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(wh, "_LOCK")),
      java.nio.charset.StandardCharsets.UTF_8) == "99999999:1")
  }

  test("a lock recording start 0 keeps the conservative pid-alive check") {
    // start 0 = the writer could not read its own startInstant; the
    // holder's REAL start is never 0, so comparing would call every
    // such live lock recycled-stale and steal it — it must instead be
    // treated like a legacy pid-only lock (alive ⇒ refuse)
    val wh = graft.queries.Scratch.fresh(spark, "zero_start_wh")
    assert(new java.io.File(wh).mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, "_LOCK"),
      "1:0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException] {
      new graft.engine.Catalog(spark, wh)
    }
    assert(e.getMessage.contains("locked by live process"), e.getMessage)
  }

  test("a recycled-pid lock (live pid, different start time) is stale and stolen") {
    val wh = graft.queries.Scratch.fresh(spark, "recycled_lock_wh")
    assert(new java.io.File(wh).mkdirs())
    // pid 1 is alive (init), but the recorded start time belongs to a
    // long-dead holder whose pid number was reassigned — the lock must
    // read as stale, not as held forever
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, "_LOCK"),
      "1:12345".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cat = new graft.engine.Catalog(spark, wh) // must not refuse
    cat.close()
    // whereas a live pid with MATCHING start (a genuinely live foreign
    // holder) still refuses
    val h1 = ProcessHandle.of(1L).get()
    val start = h1.info().startInstant()
      .map[java.lang.Long](i => java.lang.Long.valueOf(i.toEpochMilli))
      .orElse(java.lang.Long.valueOf(0L)).longValue()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, "_LOCK"),
      s"1:$start".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException] {
      new graft.engine.Catalog(spark, wh)
    }
    assert(e.getMessage.contains("locked by live process"), e.getMessage)
  }

  test("mergeSchema read reconciles batches whose schema drifted") {
    import spark.implicits._
    val dir = graft.queries.Scratch.fresh(spark, "evolve")
    Seq((1L, "a")).toDF("k", "status")
      .write.mode("append").parquet(dir)
    Seq((2L, "b", "HIGH")).toDF("k", "status", "priority")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("k", "priority", "status"))
    val rows = merged.orderBy("k")
      .collect().map(r => (r.getLong(0), r.getAs[String]("priority")))
    assert(rows.toSeq == Seq((1L, null), (2L, "HIGH")))
  }

  test("XML FX source validates currency and skips malformed observations") {
    val f = Files.createTempFile("fx", ".xml")
    Files.writeString(f,
      """<DataSet>
        |  <Series CURRENCY="GBP">
        |    <Obs TIME_PERIOD="2024-01-02" OBS_VALUE="0.8654"/>
        |    <Obs TIME_PERIOD="bogus" OBS_VALUE="0.9"/>
        |    <Obs TIME_PERIOD="2024-01-03" OBS_VALUE="not-a-number"/>
        |    <Obs TIME_PERIOD="2024-01-04" OBS_VALUE="0.8700"/>
        |  </Series>
        |</DataSet>""".stripMargin)
    val df = XmlFxSource(f.toString).load(spark)
    val rows = df.orderBy("date").collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1)))
    assert(rows.toSeq === Seq(("2024-01-02", 0.8654), ("2024-01-04", 0.87)))

    val bad = Files.createTempFile("fx-bad", ".xml")
    Files.writeString(bad,
      """<DataSet><Series CURRENCY="USD">
        |<Obs TIME_PERIOD="2024-01-02" OBS_VALUE="1.1"/>
        |</Series></DataSet>""".stripMargin)
    assertThrows[IllegalArgumentException] {
      XmlFxSource(bad.toString).load(spark)
    }
  }

  test("Run CLI: --rawdir/--db/--rebuild drive the raw-file lifecycle " +
      "with the reference's flag surface") {
    // run.py parity (reference run.py:29-44,63-65): the rawdir must
    // contain the reference's exact file names; --rebuild must clear a
    // pre-existing warehouse; exit code 0 means invariants all passed.
    val dir = Files.createTempDirectory("graft_run_cli").toString
    val cfg = graft.engine.GoldenFixture.Config(
      rowsSheet1 = 600, rowsSheet2 = 500, nProducts = 40, nCustomers = 30)
    graft.engine.GoldenFixture.writeXlsx(cfg, s"$dir/online_retail_II.xlsx")
    graft.engine.GoldenFixture.writeFxXml(s"$dir/gbp.xml")
    graft.engine.GoldenFixture.writeHolidaysXls(
      s"$dir/ukbankholidays-jul19.xls")
    val wh = s"$dir/warehouse"
    // plant stale warehouse content that --rebuild must remove
    val stale = new java.io.File(s"$wh/stale_table")
    stale.mkdirs()
    val a = graft.Run.parse(
      Seq("--rawdir", dir, "--db", wh, "--rebuild"))
    assert(a.rawdir.contains(dir) && a.db.contains(wh) && a.rebuild)
    val code = graft.Run.run(spark, a, wh)
    assert(code === 0, "Run exited nonzero — invariant violations")
    assert(!stale.exists(), "--rebuild did not clear the warehouse")
    // Run's own Catalog still owns the warehouse (single-writer guard),
    // so assert the built tables on the directory layout + a direct read
    for (t <- Seq("fct_sales", "agg_country_day", "daily_fx_rates")) {
      assert(new java.io.File(s"$wh/$t").exists(), s"missing table $t")
      assert(spark.read.parquet(s"$wh/$t").count() > 0, s"empty table $t")
    }
  }
}
