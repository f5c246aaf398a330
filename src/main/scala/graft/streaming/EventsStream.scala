package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.engine.Parquet

/** Structured Streaming over the `events` table — the streaming twins of
  * the batch queries `e1_hourly_window` (tumbling window + watermark) and
  * `e4_sessionize_batch` (stateful sessionization via
  * mapGroupsWithState).
  *
  * The reference is pure batch (SURVEY.md §2.12), so this module is the
  * forward-looking extension: the same aggregation logic expressed as an
  * incremental plan. At scale the file source is swapped for a
  * partitioned log (Kafka/object-store listing); watermark + windowed agg
  * shard state by (window, event_type) and sessionization shards by
  * user_id, so state stores stay bounded per executor.
  */
object EventsStream {

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily lowered
    * to `n` — the knob that sizes STREAMING STATE parallelism: Spark
    * creates one state-store instance per shuffle partition per
    * stateful operator (a stream-stream join holds four per
    * partition), each paying open/snapshot/commit overhead every
    * micro-batch. The batch suite's 32 partitions are right for
    * corpus-sized shuffles but charge a bounded one-shot replay 32x
    * store bookkeeping for kilobyte-scale state. Production sizes this
    * by rate x horizon / target-partition-size; the bounded replays
    * compute the same sizing from the input via
    * [[statePartitionsFor]]. Results are partitioning-independent (hash
    * aggregation, dedup, and joins commute across partition counts;
    * every one-shot ends in an explicit orderBy) — only the state
    * constant changes. The conf is restored even on failure; the
    * override applies at query START (state layout is fixed by the
    * FIRST run against a checkpoint — these harnesses always start
    * fresh checkpoints, so no layout conflict exists).
    */
  private[streaming] def withStatePartitions[T](spark: SparkSession,
                                                n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** State-partition count sized to the replay's actual state volume —
    * the production "rate × horizon / target-partition-size" sizing
    * computed from the bounded input: source rows (one count job that
    * decodes no column) × the operator's state expansion factor
    * (the sliding window holds window/slide = 4 entries per event),
    * targeting ~100k state rows per partition, clamped to [4, 32].
    * A fixed 8 was measured 2× WORSE than 32 for the sliding window
    * at the 10× census decade (state became data-dominated) while 32
    * stayed 32× bookkeeping overhead at bench scale — the knob must
    * follow volume, exactly as it would at 100 TB. The floor dropped
    * 8 → 4 in r19: every state-store instance pays open/commit file
    * ops per micro-batch (a stream-stream join holds four stores per
    * partition), and the formula already moves the count up with
    * volume long before any decade where the floor could bind — the
    * floor only shapes the KB-scale replay, where fewer stores is
    * strictly less bookkeeping.
    */
  private[streaming] def statePartitionsFor(spark: SparkSession,
                                            dir: String,
                                            stateFactor: Long = 1L): Int = {
    val rows = eventRows(spark, dir)
    math.min(32L, math.max(4L, rows * stateFactor / 100000L)).toInt
  }

  /** Source row count for the state sizing above, summed from the
    * parquet footers on the driver: no Spark job, so a one-shot replay
    * pays none before its stream starts.
    */
  private def eventRows(spark: SparkSession, dir: String): Long =
    Parquet.rowCount(spark, s"$dir/events.parquet")

  /** Streaming source over the events parquet, normalized through the
    * SAME type-tolerant reader as the batch side
    * ([[graft.engine.Graft.normalizeTs]]). The file stream source needs
    * an explicit schema, and pinning one by hand is exactly how the two
    * sides drift (a producer switching TIMESTAMP(NANOS) → timestamp[us]
    * once turned every streamed event into 1970 while batch stayed
    * right): instead we probe the schema of a batch read, whose data
    * schema [[graft.engine.Parquet]] takes from the file's footer on
    * the driver (no Spark job, no data scan), and feed it to the
    * stream, so whatever physical form `ts` takes, stream and batch see
    * the identical TimestampType column.
    */
  def source(spark: SparkSession, dir: String): DataFrame = {
    val probed: StructType = Parquet.read(spark, s"$dir/events.parquet").schema
    graft.engine.Graft.normalizeTs(
      spark.readStream
        .schema(probed)
        // A glob, not the bare file (the file stream source requires its
        // basePath to be a directory or glob) — but one that matches ONLY
        // the literal name the batch twin reads: a `events*` prefix glob
        // would ingest siblings (events_old.parquet) on the stream side
        // only, breaking stream==batch parity.
        .parquet(s"$dir/events.parque[t]"))
  }

  /** Tumbling 1-hour window counts per event type with a 1-hour
    * watermark — the incremental twin of `e1_hourly_window`. The value
    * sum accumulates in exact DECIMAL ([[graft.engine.Functions.dsum]],
    * same as the batch twin): micro-batch boundaries reorder the float
    * additions, and an order-dependent double sum would drift from the
    * batch/oracle result by ulps.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.engine.Functions.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** One-shot streaming execution of [[hourlyCounts]]: process every
    * file currently in the events directory (`Trigger.AvailableNow`),
    * emit the full window set, terminate, and return the result as a
    * batch frame. Complete output mode because the run is a bounded
    * replay hash-checked against the batch oracle — append mode would
    * withhold every window the final watermark hasn't passed, which for
    * a bounded input is the tail of the data. The sink is a DURABLE
    * parquet directory driven through foreachBatch (each micro-batch
    * overwrites with the full refreshed window table — the
    * refresh-a-serving-table production shape, executors write, nothing
    * resident on the driver); the unbounded alternative (append mode +
    * watermark eviction into an ever-growing file sink) is exercised by
    * StreamingSpec's exactly-once restart test.
    */
  def hourlyCountsOneShot(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.fresh(spark, "e1s_out")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) {
      val q = hourlyCounts(source(spark, dir))
        .writeStream
        .outputMode(OutputMode.Complete())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.queries.Scratch.fresh(spark, "e1s_ckpt"))
        .start()
      try q.awaitTermination() finally q.stop()
    }
    Parquet.read(spark, out).orderBy(col("hour_start"), col("event_type"))
  }

  /** Stream-STATIC broadcast-join enrichment, the most common
    * production join shape: each micro-batch joins a bounded dimension
    * that broadcasts to every task — unlike stream-stream, the join
    * holds NO stream state at all (the static side is a plain batch
    * frame re-resolved per micro-batch, which is also how dim updates
    * become visible mid-stream). The dim here is a deterministic
    * event_type → tier mapping derived once from the batch table; at
    * 100 TB it is any warehouse dim small enough to broadcast, and the
    * aggregate after the join is ordinary bounded-key window state.
    */
  def tierRollup(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("event_type"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"),
        graft.engine.Functions.dsum(col("value")).as("total_value"))

  /** The deterministic event_type → tier dimension used by the e2s
    * drive (engagement / revenue / ops), built as a STATIC batch frame.
    */
  def tierDim(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Graft.events(spark, dir)
      .select(col("event_type")).distinct()
      .withColumn("tier",
        when(col("event_type").isin("click", "view"), "engagement")
          .when(col("event_type").isin("purchase", "signup"), "revenue")
          .otherwise("ops"))

  /** One-shot streaming execution of [[tierRollup]] over the events
    * file source with the static [[tierDim]] side — same
    * AvailableNow + Complete-mode + durable-parquet contract as
    * [[hourlyCountsOneShot]].
    */
  def tierRollupOneShot(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.fresh(spark, "e2s_out")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) {
      val q = tierRollup(source(spark, dir), tierDim(spark, dir))
        .writeStream
        .outputMode(OutputMode.Complete())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.queries.Scratch.fresh(spark, "e2s_ckpt"))
        .start()
      try q.awaitTermination() finally q.stop()
    }
    Parquet.read(spark, out).orderBy(col("tier"))
  }

  /** STREAM-STREAM event-time interval join — signup→purchase
    * conversion pairs per user within 24 hours, both sides streaming
    * (a self-join of the event stream). The join shape that actually
    * holds state: each side buffers rows until the OTHER side's
    * watermark passes beyond the interval bound, so state per side is
    * bounded by rate × (watermark delay + interval), not by history.
    * Works identically on a batch frame (withWatermark is a no-op in
    * batch) — StreamingSpec asserts stream == batch on the same files,
    * and the registered e12s row hash-checks the DuckDB twin.
    */
  def conversionPairs(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", "1 hour")
    signups.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <=
            col("signup_ts") + org.apache.spark.sql.functions
              .expr("interval 24 hours"))
      .select(col("user_id"), col("signup_ts"), col("purchase_ts"),
        col("value"))
  }

  /** One-shot replay of [[conversionPairs]] through a durable
    * parquet APPEND sink (stream-stream joins emit append-mode rows;
    * per-batch overwrite would keep only the last batch's pairs).
    */
  def conversionPairsOneShot(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.fresh(spark, "e12s_out")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) {
      val q = conversionPairs(source(spark, dir))
        .writeStream
        .outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.queries.Scratch.fresh(spark, "e12s_ckpt"))
        .start()
      try q.awaitTermination() finally q.stop()
    }
    Parquet.read(spark, out)
      .orderBy(col("user_id"), col("signup_ts"), col("purchase_ts"))
  }

  /** Sliding 1-hour windows every 15 minutes with a 1-hour watermark —
    * the incremental twin of `e8_sliding_window`. State per key-window
    * is bounded by (window/slide) x types x horizon.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // exact DECIMAL accumulation (dsum), same as hourlyCounts:
        // micro-batch boundaries reorder float additions, and an
        // order-dependent double sum would drift from the batch/oracle
        // result by ulps
        graft.engine.Functions.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** One-shot streaming execution of [[slidingCounts]] — same
    * AvailableNow + Complete-mode + durable-parquet contract as
    * [[hourlyCountsOneShot]]. The overlap factor (window/slide = 4)
    * multiplies STATE here, not input: each event lands in 4 window
    * keys, so sliding state = 4 x types x horizon — still bounded by
    * the grid, never the stream.
    */
  def slidingCountsOneShot(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.fresh(spark, "e8s_out")
    withStatePartitions(spark, statePartitionsFor(spark, dir, 4L)) {
      val q = slidingCounts(source(spark, dir))
        .writeStream
        .outputMode(OutputMode.Complete())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.queries.Scratch.fresh(spark, "e8s_ckpt"))
        .start()
      try q.awaitTermination() finally q.stop()
    }
    Parquet.read(spark, out).orderBy(col("win_start"), col("event_type"))
  }

  /** Streaming exact dedup by event_id within the watermark horizon —
    * the incremental twin of the batch hash-dedup (d1): state holds one
    * key per event inside the watermark and is evicted past it, so
    * memory stays bounded by the horizon, not the stream.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** The d1s drive input: the event stream UNIONED with a second
    * reader re-emitting every tenth event — the corpus's event_ids are
    * unique, so without planted copies a dedup row would be a no-op
    * pass-through and the oracle couldn't distinguish "dedup dropped
    * the copies" from "nothing was ever duplicated". Both readers
    * enumerate the same files, so each copy lands in the SAME
    * micro-batch as its original and the within-watermark guarantee is
    * never in play for the planted pairs (the horizon only governs
    * state eviction for genuinely late copies).
    */
  def dedupDriveInput(spark: SparkSession, dir: String): DataFrame =
    source(spark, dir)
      .unionByName(source(spark, dir).filter(col("event_id") % 10 === 0))

  /** One-shot streaming execution of [[dedupStream]] over
    * [[dedupDriveInput]] — dedup is the one stateful operator that
    * emits in APPEND mode immediately (first occurrence flows through;
    * the watermark only bounds state), so the durable parquet sink
    * receives exactly one copy of every event and the result
    * hash-checks against the plain batch table in DuckDB. This is the
    * dedup-at-ingestion shape of an LLM corpus feed: re-delivered
    * documents (at-least-once sources re-send on retry) are dropped in
    * the stream with state bounded by rate × horizon, never by a
    * corpus-wide join.
    */
  def dedupOneShot(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.fresh(spark, "d1s_out")
    withStatePartitions(spark, statePartitionsFor(spark, dir)) {
      val q = dedupStream(dedupDriveInput(spark, dir))
        .writeStream
        .outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.queries.Scratch.fresh(spark, "d1s_ckpt"))
        .start()
      try q.awaitTermination() finally q.stop()
    }
    Parquet.read(spark, out).orderBy(col("event_id"))
  }

  /** Watermarked stream-stream interval join (the enrichment shape):
    * pairs each left event with same-user right events from the
    * preceding 10 minutes. Both sides carry watermarks and the join
    * predicate carries the time range, so Spark can bound the join
    * state: buffered rows are evicted once the watermark passes their
    * last possible match — state is O(rate × interval + watermark), not
    * O(stream). At scale this is the click⋈impression pattern joined
    * without unbounded buffers; the batch twin is the same join over
    * the static table (parity in StreamingSpec).
    */
  def intervalJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val a = left.select(col("event_id").as("a_id"),
        col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "30 minutes")
    val b = right.select(col("event_id").as("b_id"),
        col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_type").as("b_type"))
      .withWatermark("b_ts", "30 minutes")
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") - expr("interval 10 minutes") &&
        col("b_ts") < col("a_ts"))
  }

  /** LEFT OUTER stream-stream interval join — [[intervalJoin]]'s
    * unmatched-side complement (the "clicks WITHOUT a preceding
    * impression" shape). Same watermarks and time-range predicate,
    * which is what makes the outer side SOUND in a stream: a left row
    * can only be declared match-less once the watermark has passed its
    * last possible right match (a_ts is the upper bound of its match
    * interval), at which point the engine emits it with nulls and
    * evicts it — null emission is a watermark-delayed decision, not an
    * end-of-batch one, so state stays O(rate × interval + watermark)
    * exactly like the inner join. Until the watermark passes, a
    * pending left row is neither matched nor null-emitted (the
    * StreamingSpec case drives this with a sentinel that advances the
    * watermark past the probe rows).
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame): DataFrame = {
    val a = left.select(col("event_id").as("a_id"),
        col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "30 minutes")
    val b = right.select(col("event_id").as("b_id"),
        col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_type").as("b_type"))
      .withWatermark("b_ts", "30 minutes")
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") - expr("interval 10 minutes") &&
        col("b_ts") < col("a_ts"),
      "leftOuter")
  }

  final case class SessionEvent(user_id: Long, ts_us: Long)
  final case class SessionState(sessionCount: Long, lastTs: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  final case class OpenSession(start_us: Long, last_us: Long, n_events: Long)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, dur_us: Long)

  /** Production-shaped sessionizer: flatMapGroupsWithState with an
    * event-time timeout — emits each session only once it CLOSES (a
    * 30-minute gap observed, or the watermark passes the gap horizon and
    * times the state out). State per user is one open session, evicted
    * on timeout, so the store stays bounded by active users rather than
    * stream length.
    */
  def sessionizeClosed(events: Dataset[SessionEvent]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.functions.timestamp_micros
    val gapUs = 30L * 60 * 1000000
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "30 minutes")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed the gap horizon → close and evict
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.start_us, s.last_us,
              s.n_events, s.last_us - s.start_us))
          } else {
            val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
            var open = state.getOption
            batch.toSeq.sortBy(_._2).foreach { case (_, tsUs, _) =>
              open match {
                case Some(s) if tsUs - s.last_us <= gapUs =>
                  // A late-but-within-watermark event from a later
                  // micro-batch may precede the open session's bounds —
                  // clamp instead of regressing them, or durations go
                  // negative and the earlier timeout re-splits sessions.
                  open = Some(s.copy(
                    start_us = math.min(s.start_us, tsUs),
                    last_us = math.max(s.last_us, tsUs),
                    n_events = s.n_events + 1))
                case Some(s) =>
                  closed += ClosedSession(userId, s.start_us, s.last_us,
                    s.n_events, s.last_us - s.start_us)
                  open = Some(OpenSession(tsUs, tsUs, 1))
                case None =>
                  open = Some(OpenSession(tsUs, tsUs, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last_us / 1000 + gapUs / 1000)
            }
            closed.iterator
          }
      }
  }

  final case class SessionAgg(n_sessions: Long, last_us: Long,
      cur_start_us: Long, max_dur_us: Long, n_events: Long)
  final case class UserSessionStats(user_id: Long, n_sessions: Long,
      n_events: Long, max_session_us: Long)

  /** Stateful sessionization with FULL per-user session statistics —
    * the streaming twin of `e4_sessionize_batch`'s complete output
    * (session count, event count, longest-session duration), emitted
    * via mapGroupsWithState in update mode. State per user is one
    * fixed-size record (five longs) regardless of history, sharded by
    * user_id — the bounded-state shape for a billion-user stream.
    * Counters are CUMULATIVE across micro-batches, so the latest
    * emitted row per user is always the complete answer so far.
    *
    * Cross-batch ordering contract: the per-batch sort only orders
    * events WITHIN a micro-batch. An event delivered in a later batch
    * with a timestamp at or before the user's recorded `last_us` (a
    * cross-batch late arrival) cannot be re-sessionized — bounded state
    * keeps no history to split or merge past sessions against. It is
    * folded into the OPEN session instead (same clamp policy as
    * [[sessionizeClosed]]): `n_events` counts it, `cur_start_us` clamps
    * down if it precedes the open session's start, and `last_us` never
    * regresses (a regressing `last` would let the next on-time event
    * fake a gap and over-count sessions). Session counts therefore
    * reflect the in-order subsequence; only when each user's events
    * arrive time-ordered across batches (e.g. the single-file one-shot,
    * which always drains in one batch) do they equal the batch answer.
    */
  def sessionStats(events: Dataset[SessionEvent]): Dataset[UserSessionStats] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionAgg, UserSessionStats](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionAgg]) =>
          val prev = state.getOption.getOrElse(
            SessionAgg(0L, Long.MinValue, Long.MinValue, 0L, 0L))
          var sessions = prev.n_sessions
          var last = prev.last_us
          var curStart = prev.cur_start_us
          var maxDur = prev.max_dur_us
          var n = prev.n_events
          // events within one micro-batch arrive unordered → sort by ts.
          batch.toSeq.sortBy(_.ts_us).foreach { e =>
            if (last != Long.MinValue && e.ts_us <= last) {
              // cross-batch late arrival: fold into the open session
              // without regressing `last` (see contract above)
              curStart = math.min(curStart, e.ts_us)
              maxDur = math.max(maxDur, last - curStart)
              n += 1
            } else {
              if (last == Long.MinValue || e.ts_us - last > gapUs) {
                sessions += 1; curStart = e.ts_us
              }
              last = e.ts_us
              maxDur = math.max(maxDur, last - curStart)
              n += 1
            }
          }
          state.update(SessionAgg(sessions, last, curStart, maxDur, n))
          UserSessionStats(userId, sessions, n, maxDur)
      }
  }

  /** One-shot streaming execution of [[sessionStats]] (the e4s driver
    * row): drain the events file through the stateful sessionizer with
    * `Trigger.AvailableNow`, return per-user session statistics as a
    * batch frame hash-checked against e4's batch oracle. Update output
    * mode — the sessionizer emits a refreshed cumulative row per user
    * per micro-batch, and since counters only grow, the per-column max
    * over emitted rows per user recovers the LATEST state row. That
    * collapse is exact for any batch split; whether the latest state
    * equals the batch answer is governed by [[sessionStats]]'s
    * cross-batch ordering contract — here the source is the single
    * events parquet, which the file source always delivers in one
    * micro-batch, so batch parity holds exactly.
    */
  def sessionStatsOneShot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.queries.Scratch.fresh(spark, "e4s_out")
    val src = source(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessionEvent]
    withStatePartitions(spark, statePartitionsFor(spark, dir)) {
      val q = sessionStats(src)
        .writeStream
        .outputMode(OutputMode.Update())
        // durable sink: update mode delivers each user's refreshed
        // cumulative row per micro-batch; appends accumulate across
        // batches and the read below collapses to the latest row per
        // user (counters only grow, so per-column max IS the latest) —
        // executors write, nothing resident on the driver
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserSessionStats], _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.queries.Scratch.fresh(spark, "e4s_ckpt"))
        .start()
      try q.awaitTermination() finally q.stop()
    }
    Parquet.read(spark, out).groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"),
        max(col("n_events")).as("n_events"),
        max(col("max_session_us")).as("max_session_us"))
      .orderBy(col("user_id"))
  }

  /** Stateful sessionization: counts 30-minute-gap sessions per user via
    * mapGroupsWithState — the incremental twin of `e4_sessionize_batch`.
    * (ProcessingTimeTimeout keeps state eviction explicit; with event
    * time you'd use EventTimeTimeout + watermark.)
    */
  def sessionize(events: Dataset[SessionEvent]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          var sessions = prev.sessionCount
          var last = prev.lastTs
          var n = 0L
          // events within one micro-batch arrive unordered → sort by ts.
          batch.toSeq.sortBy(_.ts_us).foreach { e =>
            if (last == Long.MinValue || e.ts_us - last > gapUs) sessions += 1
            last = e.ts_us
            n += 1
          }
          state.update(SessionState(sessions, last))
          UserSessions(userId, sessions, n)
      }
  }
}
