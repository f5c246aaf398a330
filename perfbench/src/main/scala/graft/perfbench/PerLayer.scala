package graft.perfbench

/** Every per-layer metric a traced run prints, with its unit. A layer a
  * workload does not exercise reports 0.
  */
object PerLayer {
  val Units: Seq[(String, String)] =
    Seq("session.start_s" -> "s", "proc.peak_rss_mb" -> "MB") ++
    Seq("sources.xlsx_parse_s" -> "s", "sources.xlsx_parse_mb_per_s" -> "MB/s",
      "sources.xlsx_spill_mb" -> "MB", "sources.xlsx_reparse_s" -> "s",
      "sources.fx_parse_s" -> "s", "sources.xls_parse_s" -> "s") ++
    GoldenRebuild.Tables.map(t => s"pipeline.write_s.$t" -> "s") ++
    Seq("pipeline.driver_s" -> "s", "pipeline.actions" -> "count",
      "dashboard.render_s" -> "s") ++
    Seq("catalog.files_written" -> "count", "catalog.mb_written" -> "MB",
      "catalog.compact_s" -> "s", "catalog.files_before_compact" -> "count",
      "catalog.files_after_compact" -> "count") ++
    Seq("incremental.rollup_ingest_s" -> "s", "incremental.neardup_ingest_s" -> "s",
      "incremental.exact_ingest_s" -> "s", "incremental.fact_write_s" -> "s",
      "incremental.refresh_write_s" -> "s",
      "incremental.rollup_growth_ratio" -> "ratio") ++
    QuerySuite.Modules.map { case (m, _) => s"queries.${m}_s" -> "s" } ++
    Seq("plan.exchanges", "plan.broadcast_joins", "plan.sort_merge_joins",
      "plan.non_codegen_ops", "plan.codegen_fallback_exprs").map(_ -> "count") ++
    QuerySuite.artifacts.map { case (n, _) => s"artifact.${n}_s" -> "s" } ++
    Seq("graft_dot", "graft_strhash", "graft_wsum", "graft_dsq", "graft_nfc",
      "graft_kgram_hashes").map(f => s"expr.${f}_ns_per_row" -> "ns/row") ++
    Seq("stream.microbatches" -> "count", "stream.add_batch_s" -> "s",
      "stream.wal_commit_s" -> "s", "stream.query_planning_s" -> "s",
      "stream.trigger_s" -> "s") ++
    Seq("spark.task_cpu_s" -> "s", "spark.cpu_busy_ratio" -> "ratio",
      "spark.gc_s" -> "s", "spark.scheduler_delay_s" -> "s",
      "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count") ++
    Seq("trace.uncovered_s" -> "s", "trace.overhead_s" -> "s",
      "harness.fail_ratio" -> "ratio")

  /** All metrics in [[Units]] order, zero where `measured` has none;
    * a measured name missing from [[Units]] is a harness bug.
    */
  def complete(measured: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val m = measured.toMap
    require(m.size == measured.size, "a per-layer metric was reported twice")
    val unknown = m.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    Units.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
  }
}
