package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Catalog, Functions, Graft}
import graft.pipeline.{IncrementalIngest, IncrementalNearDup, IncrementalRollup}

/** Writes beside reads. The events table arrives as time-window batches
  * in a seed-shuffled order (one redelivered under its original id) and
  * maintains a daily rollup; a batch of documents goes through near-dup
  * and exact-dup ingest; between the writes, the [[QuerySuite]] rows run
  * to their full results. The pass ends by compacting the fact table's
  * partitions and checking every maintained table.
  */
final class IncrementalIngestBench extends Workload {
  import IncrementalIngestBench._
  private val reads = new QuerySuite
  private var events: DataFrame = _
  /** Start of the first window, in epoch seconds. */
  private var start = 0L
  /** (batch id, window start in epoch seconds), in arrival order. */
  private var arrivals: Seq[(Long, Long)] = Nil
  private var docBatch: DataFrame = _
  private var expectedRollup: Seq[org.apache.spark.sql.Row] = Nil
  private var expectedExact = 0L
  private var filesBefore, filesAfter = 0

  private def rollup(slice: DataFrame): DataFrame =
    slice.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Functions.dsum(col("value")).as("total_value"))

  def setup(ctx: Ctx, spans: Spans): Unit = {
    val spark = ctx.spark
    val sc = ctx.scale
    reads.setup(ctx, spans)
    events = Graft.events(spark, sc.dataDir)
      .select(col("ts"), to_date(col("ts")).as("day"), col("event_type"), col("value"))
    val first = events.agg(min(unix_timestamp(col("ts")))).head().getLong(0)
    start = first / BatchSecs * BatchSecs
    val windows = (0 until EventBatches).map(i => (i.toLong, start + i * BatchSecs))
    val r = new scala.util.Random(ctx.seed)
    // a redelivery arrives after every original, under the same id
    arrivals = r.shuffle(windows) ++ r.shuffle(windows).take(1)
    val end = start + EventBatches * BatchSecs
    expectedRollup = recompute(end)
    docBatch = Graft.table(spark, sc.dataDir, "documents").select("doc_id", "text")
      .orderBy("doc_id").limit(sc.docRows).cache()
    expectedExact = docBatch.select(md5(col("text"))).distinct().count()
  }

  private def window(from: Long): DataFrame =
    events.filter(unix_timestamp(col("ts")) >= from &&
      unix_timestamp(col("ts")) < from + BatchSecs).drop("ts")

  /** The rollup of every event before `end`, computed in one go. */
  private def recompute(end: Long): Seq[org.apache.spark.sql.Row] =
    rollup(events.filter(unix_timestamp(col("ts")) < end))
      .orderBy("day", "event_type").collect().toSeq

  private def maintained(cat: Catalog): Seq[org.apache.spark.sql.Row] =
    cat.spark.read.parquet(s"${cat.warehouse}/ev_rollup")
      .select("day", "event_type", "n_events", "total_value")
      .orderBy("day", "event_type").collect().toSeq

  def pass(ctx: Ctx, spans: Spans, passDir: String): Seq[Op] = {
    val cat = new Catalog(ctx.spark, s"$passDir/warehouse")
    try {
      val writes: Seq[() => Op] = arrivals.map { case (id, from) => () =>
        Op.timed("rollup_batch")(spans("IncrementalRollup.ingest") {
          ingestWindow(cat, id, from); None
        })
      } ++ Seq(
        () => Op.timed("neardup_batch")(spans("IncrementalNearDup.ingest") {
          IncrementalNearDup.ingest(cat, docBatch, "nd_corpus", Some(1L)); None
        }),
        () => Op.timed("exact_batch")(spans("IncrementalIngest.ingest") {
          IncrementalIngest.ingest(cat, docBatch, "text", "ex_corpus"); None
        }))
      val rows = reads.rowOps(ctx, spans)
      // reads interleaved with the writes, one after each write
      val n = math.max(writes.size, rows.size)
      val ops = (0 until n).flatMap(i => writes.lift(i).toSeq ++ rows.lift(i).toSeq)
        .map(_())
      ops :+ Op.timed("compact_and_check") {
        // the fact table is where the batches' small files accumulate
        // (one per batch and touched day); the rollup holds one file per
        // day by construction
        val fact = new java.io.File(s"${cat.warehouse}/ev_fact")
        filesBefore = Workload.dataFiles(fact)
        spans("Catalog.compactPartitions")(cat.compactPartitions("ev_fact"))
        filesAfter = Workload.dataFiles(fact)
        spans("check")(check(cat))
      }
    } finally cat.close()
  }

  private def ingestWindow(cat: Catalog, id: Long, from: Long): Unit =
    IncrementalRollup.ingest(cat, "ev_fact", "ev_rollup", "day",
      window(from), rollup, Some(id)): Unit

  private def check(cat: Catalog): Option[String] = {
    val got = maintained(cat)
    val exact = IncrementalNearDup.corpus(cat, "ex_corpus").count()
    val nd = IncrementalNearDup.corpus(cat, "nd_corpus")
      .agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    val (ndRows, ndIds) = (nd.getLong(0), nd.getLong(1))
    if (got != expectedRollup)
      Some(s"rollup differs from a full recompute: ${got.size} rows vs ${expectedRollup.size}")
    else if (exact != expectedExact)
      Some(s"exact-dup corpus has $exact rows, expected $expectedExact distinct texts")
    else if (ndRows != ndIds || ndRows == 0 || ndRows > expectedExact)
      Some(s"near-dup corpus has $ndRows rows over $ndIds ids")
    else None
  }

  def layers(ctx: Ctx, trace: Trace, passDir: String): Seq[(String, Double)] = {
    def per(name: String) = trace.spans.spans.filter(_.name == name).map(_.iv.length)
    val wh = s"$passDir/warehouse/"
    val acts = trace.actions.all
    // the ingest writes only: compaction rewrites go to `*.__compact_tmp`
    def writeSecs(table: String) = Workload.median(acts.filter(_.outputPath.exists(
      p => p.contains(wh + table) && !p.contains(".__compact"))).map(_.secs))
    val (files, mb) = Workload.written(acts)
    reads.layers(ctx, trace, passDir) ++ Seq(
      "incremental.rollup_ingest_s" -> Workload.median(per("IncrementalRollup.ingest")),
      "incremental.neardup_ingest_s" -> Workload.median(per("IncrementalNearDup.ingest")),
      "incremental.exact_ingest_s" -> Workload.median(per("IncrementalIngest.ingest")),
      "incremental.fact_write_s" -> writeSecs("ev_fact"),
      "incremental.refresh_write_s" -> writeSecs("ev_rollup"),
      "catalog.compact_s" -> per("Catalog.compactPartitions").sum,
      "catalog.files_before_compact" -> filesBefore.toDouble,
      "catalog.files_after_compact" -> filesAfter.toDouble,
      "catalog.files_written" -> files,
      "catalog.mb_written" -> mb)
  }

  override def probes(ctx: Ctx, spans: Spans): Seq[(String, Double)] =
    reads.probes(ctx, spans) :+ ("incremental.rollup_growth_ratio" -> growth(ctx, spans))

  /** Batch latency as batches accumulate: consecutive original windows
    * into a fresh warehouse, the median of the last half of the batches
    * over the median of the first half. Throws if the maintained rollup
    * then differs from a full recompute.
    */
  private def growth(ctx: Ctx, spans: Spans): Double = {
    val n = ctx.scale.growthBatches
    val cat = new Catalog(ctx.spark, s"${ctx.dir("growth")}/warehouse")
    try {
      val secs = (0 until n).map { i =>
        Workload.secs(spans("growth.IncrementalRollup.ingest") {
          ingestWindow(cat, i.toLong, start + i * BatchSecs)
        })._2
      }
      val want = recompute(start + n * BatchSecs)
      val got = maintained(cat)
      require(got == want,
        s"growth probe: rollup differs from a full recompute: ${got.size} rows vs ${want.size}")
      Stats.median(secs.takeRight(n / 2)) / Stats.median(secs.take(n / 2))
    } finally cat.close()
  }
}

object IncrementalIngestBench {
  /** Two 8-hour `events` windows, one of them redelivered. */
  val BatchSecs: Long = 8 * 3600L
  val EventBatches = 2
}
