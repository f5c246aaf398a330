package graft

import java.nio.file.Files
import graft.queries.Registry
import graft.streaming.EventsStream
import graft.streaming.EventsStream.{SessionEvent, UserSessions}

/** Structured Streaming parity: the incremental plans must converge to
  * the same answers as their batch twins once the source is exhausted.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming hourlyCounts == batch e1_hourly_window after availableNow") {
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = EventsStream.hourlyCounts(EventsStream.source(spark, sfDir))
      .writeStream
      .format("memory")
      .queryName("hourly_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate in time")
    val streamed = spark.table("hourly_stream")
      .orderBy("hour_start", "event_type")
      .select("hour_start", "event_type", "n_events")
      .collect().toSeq
    val batch = Registry.all.find(_.name == "e1_hourly_window").get
      .run(spark, sfDir)
      .select("hour_start", "event_type", "n_events")
      .collect().toSeq
    assert(streamed === batch)
  }

  test("stream-static broadcast-join rollup == the batch join, and the " +
      "streaming plan carries a broadcast join") {
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val dim = EventsStream.tierDim(spark, sfDir)
    val q = EventsStream.tierRollup(EventsStream.source(spark, sfDir), dim)
      .writeStream
      .format("memory")
      .queryName("tier_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate in time")
    // the static side must join by BROADCAST inside the micro-batch
    // plan — a shuffled dim join would defeat the no-state claim. Assert
    // it on the EXECUTED physical plan of the last micro-batch, not just
    // on progress having been made.
    assert(q.lastProgress != null)
    val executed = q
      .asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    assert(executed.toString.contains("BroadcastHashJoin"),
      s"micro-batch plan lost the broadcast dim join:\n$executed")
    val streamed = spark.table("tier_stream").orderBy("tier").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = EventsStream
      .tierRollup(graft.engine.Graft.events(spark, sfDir), dim)
      .orderBy("tier").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed === batch)
    assert(streamed.map(_._1) === Seq("engagement", "ops", "revenue"))
  }

  test("stream-stream interval join == the batch join on the same files") {
    // Both sides streaming (self-join of the event stream), watermarked;
    // after an AvailableNow replay the appended pairs must equal the
    // batch join exactly — withWatermark is a no-op in batch, so the
    // SAME builder serves as its own twin.
    val streamed = EventsStream.conversionPairsOneShot(spark, sfDir)
      .collect().toSeq
    val batch = EventsStream
      .conversionPairs(graft.engine.Graft.events(spark, sfDir))
      .orderBy("user_id", "signup_ts", "purchase_ts")
      .collect().toSeq
    assert(streamed.nonEmpty, "stream-stream join emitted no pairs")
    assert(streamed === batch)
  }

  test("streaming corpus curation == the same pass run as a batch") {
    val ckpt = Files.createTempDirectory("graft-ckpt-corpus").toString
    val q = graft.streaming.CorpusStream
      .retention(graft.streaming.CorpusStream.source(spark, sfDir))
      .writeStream
      .format("memory")
      .queryName("corpus_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate in time")
    val streamed = spark.table("corpus_stream")
      .orderBy("lang", "source").collect().toSeq
    // same curation + aggregation over the same files, as one batch
    val batch = graft.streaming.CorpusStream
      .retention(graft.engine.Graft.table(spark, sfDir, "documents"))
      .orderBy("lang", "source").collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("d16s streaming decontamination == d16's batch differential") {
    def row(name: String) = graft.queries.Registry.all
      .find(_.name == name).get.run(spark, sfDir).collect().toSeq
    val streamed = row("d16s_decontam_stream")
    val batch = row("d16_bloom_decontam")
    assert(streamed === batch,
      "stream-maintained decontam differential must equal the batch row")
  }

  test("streaming slidingCounts == batch e8_sliding_window after availableNow") {
    val ckpt = Files.createTempDirectory("graft-ckpt6").toString
    val q = EventsStream.slidingCounts(EventsStream.source(spark, sfDir))
      .writeStream
      .format("memory")
      .queryName("sliding_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate in time")
    val streamed = spark.table("sliding_stream")
      .orderBy("win_start", "event_type")
      .select("win_start", "event_type", "n_events")
      .collect().toSeq
    val batch = Registry.all.find(_.name == "e8_sliding_window").get
      .run(spark, sfDir)
      .select("win_start", "event_type", "n_events")
      .collect().toSeq
    assert(streamed === batch)
  }

  test("streaming dedup by event_id preserves the distinct count") {
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    val q = EventsStream.dedupStream(EventsStream.source(spark, sfDir))
      .writeStream
      .format("memory")
      .queryName("dedup_stream")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate in time")
    val streamed = spark.table("dedup_stream").count()
    val batch = graft.engine.Graft.events(spark, sfDir)
      .select("event_id").distinct().count()
    assert(streamed === batch)
  }

  test("d1s planted-duplicate drive: the union really feeds copies, and " +
      "dedup returns exactly the batch table") {
    import org.apache.spark.sql.functions._
    // without dedup the planted union carries n + n/10 rows — run it
    // raw to prove the second reader emits (otherwise a silent
    // zero-row planted side would make the d1s oracle vacuous)
    val ckpt = Files.createTempDirectory("graft-ckpt-d1s").toString
    val q = EventsStream.dedupDriveInput(spark, sfDir)
      .writeStream
      .format("memory")
      .queryName("d1s_raw_union")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate in time")
    val events = graft.engine.Graft.events(spark, sfDir)
    val n = events.count()
    val planted = events.filter(col("event_id") % 10 === 0).count()
    assert(planted > 0)
    assert(spark.table("d1s_raw_union").count() === n + planted)
    // the registered row: dedup(events ∪ copies) == events, full rows
    val out = EventsStream.dedupOneShot(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = events.collect().map(_.toString).sorted.toSeq
    assert(out === batch)
  }

  test("flatMapGroupsWithState emits closed sessions matching the batch sessionizer") {
    import org.apache.spark.sql.functions._
    val ckpt = Files.createTempDirectory("graft-ckpt3").toString
    val src = EventsStream.source(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessionEvent]
    val q = EventsStream.sessionizeClosed(src)
      .writeStream
      .format("memory")
      .queryName("closed_sessions")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not terminate in time")
    // one batch + final watermark advance: sessions still open at
    // end-of-stream are not yet emitted, so streamed counts are a
    // prefix of the batch session set — per user at most one open.
    val streamed = spark.table("closed_sessions")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Registry.all.find(_.name == "e4_sessionize_batch").get
      .run(spark, sfDir)
      .select("user_id", "n_sessions").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (u, n) =>
      val total = batch(u)
      assert(n == total || n == total - 1,
        s"user $u: streamed $n closed vs batch $total sessions")
    }
  }

  test("stream-stream interval join matches the batch join") {
    val ckpt = Files.createTempDirectory("graft-ckpt4").toString
    val q = EventsStream.intervalJoin(
        EventsStream.source(spark, sfDir),
        EventsStream.source(spark, sfDir))
      .writeStream
      .format("memory")
      .queryName("interval_join_stream")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not terminate in time")
    val streamed = spark.table("interval_join_stream").count()
    val e = graft.engine.Graft.events(spark, sfDir)
    val batch = EventsStream.intervalJoin(e, e).count()
    assert(streamed > 0, "interval join found no pairs in testdata")
    // Exact parity holds only when the source drains in ONE micro-batch
    // (the file stream batches at file granularity): across batches the
    // 30-min watermark may legitimately evict buffered rows whose late
    // matches then drop in append mode. With a single events file we
    // assert equality; with a multi-file source only streamed <= batch.
    // Count LEAF parquet files: if events.parquet is ever a partitioned
    // directory, the file stream source batches per leaf file, not per
    // top-level entry.
    def leafParquets(f: java.io.File): Int =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.map(leafParquets).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val nFiles = Option(new java.io.File(sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("events")).map(leafParquets).sum
    if (nFiles <= 1) assert(streamed === batch)
    else assert(streamed <= batch,
      s"append-mode interval join must never exceed the batch join: $streamed > $batch")
  }

  test("left-outer interval join emits unmatched lefts only after the watermark") {
    // The outer complement of the inner interval join: a click with a
    // preceding same-user impression joins it; a click with none is
    // emitted with nulls — but only once the 30-min watermark passes
    // its match horizon (null emission is watermark-delayed, not
    // end-of-batch). Feed: user 1 click at 20m with impression at 15m
    // (match), user 2 click at 20m with no impression (unmatched),
    // then a sentinel far ahead to advance the watermark and force the
    // null emission. Batch parity: the same function on static frames.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val ckpt = Files.createTempDirectory("graft-ckpt-outer").toString
    val m = 60L * 1000000
    // (event_id, user_id, ts_us, event_type)
    val lms = MemoryStream[(Long, Long, Long, String)](spark)
    val rms = MemoryStream[(Long, Long, Long, String)](spark)
    def shape(df: org.apache.spark.sql.DataFrame) = df.select(
      col("_1").as("event_id"), col("_2").as("user_id"),
      timestamp_micros(col("_3")).as("ts"), col("_4").as("event_type"))
    val q = EventsStream.intervalJoinOuter(shape(lms.toDF()), shape(rms.toDF()))
      .writeStream
      .format("memory")
      .queryName("outer_interval_stream")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      val click1 = (101L, 1L, 20 * m, "click")
      val click2 = (102L, 2L, 20 * m, "click")
      val imp1 = (201L, 1L, 15 * m, "impression")
      lms.addData(click1, click2); rms.addData(imp1)
      q.processAllAvailable()
      // sentinel on BOTH sides far ahead: the watermark is the min
      // across inputs, so both must advance for eviction
      val sentL = (900L, 9L, 600 * m, "click")
      val sentR = (901L, 9L, 599 * m, "impression")
      lms.addData(sentL); rms.addData(sentR)
      q.processAllAvailable()
      lms.addData((910L, 9L, 1200 * m, "click"))
      rms.addData((911L, 9L, 1199 * m, "impression"))
      q.processAllAvailable()
      val streamed = spark.table("outer_interval_stream")
        .filter(col("a_id").isin(101L, 102L))
        .select(col("a_id"), col("b_id"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(streamed(101L) === Some(201L), "matched click lost its impression")
      assert(streamed(102L) === None,
        "unmatched click must emit with nulls after the watermark")
      // batch parity on the same rows
      val batch = EventsStream.intervalJoinOuter(
          shape(Seq(click1, click2, sentL).toDF()),
          shape(Seq(imp1, sentR).toDF()))
        .filter(col("a_id").isin(101L, 102L))
        .select(col("a_id"), col("b_id"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("checkpointed file sink is exactly-once across a restart") {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = Files.createTempDirectory("graft-ckpt5").toString
    val out = Files.createTempDirectory("graft-sink").toString
    def runOnce(): Unit = {
      val q = EventsStream.hourlyCounts(EventsStream.source(spark, sfDir))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not terminate in time")
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    // restart against the same checkpoint with no new input: the commit
    // log must prevent reprocessing — output unchanged, no duplicates.
    runOnce()
    val n2 = spark.read.parquet(out).count()
    assert(n1 === n2, s"restart duplicated output: $n1 -> $n2")
  }

  test("o11s mid-stream restart replaying a committed batch is a no-op " +
      "(min-merge idempotency IS the exactly-once mechanism — no " +
      "batch-id bookkeeping in the sink)") {
    import org.apache.spark.sql.functions._
    val cat = new graft.engine.Catalog(spark,
      Files.createTempDirectory("graft-o11s-wh").toString)
    val stage = Files.createTempDirectory("graft-o11s-stage").toString
    graft.engine.Graft.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).repartition(4)
      .write.mode("overwrite").parquet(stage)
    val ckpt = Files.createTempDirectory("graft-o11s-ckpt").toString
    val q = graft.streaming.SegmentRegistryStream.maintain(cat, stage, ckpt)
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()
    val before = cat.table("seg_registry")
      .collect().map(_.toString).sorted.toSeq
    // Simulate the at-least-once crash window: the last micro-batch's
    // OFFSETS are committed but its COMMIT marker is lost (crash
    // between sink write and commit). A restart re-runs that batch
    // through foreachBatch — the registry must come out bit-identical,
    // by the algebra alone.
    // listFiles() is null when the commits dir is absent — assert a
    // clear failure instead of an NPE (the .crc surgery below is
    // local-ChecksumFileSystem-specific; fine for this local-FS test)
    val commitFiles = new java.io.File(s"$ckpt/commits").listFiles()
    assert(commitFiles != null, s"checkpoint commits dir missing: $ckpt/commits")
    val commits = commitFiles
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.length >= 4,
      s"expected >= 4 committed micro-batches, got ${commits.length}")
    assert(commits.last.delete(), "could not delete last commit marker")
    // the local FS keeps a .N.crc checksum sidecar next to each commit
    // marker; leaving it behind makes the replay's rename-based commit
    // write fail with FileAlreadyExists instead of re-running the batch
    new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
      .delete(): Unit
    val q2 = graft.streaming.SegmentRegistryStream.maintain(cat, stage, ckpt)
    try assert(q2.awaitTermination(120000), "restart did not terminate")
    finally q2.stop()
    val after = cat.table("seg_registry")
      .collect().map(_.toString).sorted.toSeq
    assert(before === after,
      "replayed micro-batch changed the registry — idempotency broken")
  }

  test("o12s mid-stream restart replaying a committed batch leaves the " +
      "label table bit-identical (two idempotent algebras, no " +
      "batch-id bookkeeping)") {
    import org.apache.spark.sql.functions._
    val cat = new graft.engine.Catalog(spark,
      Files.createTempDirectory("graft-o12s-wh").toString)
    val stage = Files.createTempDirectory("graft-o12s-stage").toString
    graft.queries.DedupQueries.simhashSigs(spark, sfDir)
      .repartition(3).write.mode("overwrite").parquet(stage)
    val ckpt = Files.createTempDirectory("graft-o12s-ckpt").toString
    val q = graft.streaming.CcLabelStream.maintain(cat, stage, ckpt)
    try assert(q.awaitTermination(120000), "stream did not terminate")
    finally q.stop()
    val before = cat.table("cc_labels")
      .collect().map(_.toString).sorted.toSeq
    // the stream-maintained labels must equal the from-scratch shared
    // memo — the interchangeability contract o12's DedupSpec pins for
    // the batch fold, here for the stream twin
    val memo = graft.queries.DedupQueries.ccLabelsSimhash(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(before === memo,
      "stream-maintained labels must equal the from-scratch memo")
    // crash window: offsets committed, commit marker lost -> the batch
    // replays through foreachBatch; both folds must absorb it
    val commitFiles = new java.io.File(s"$ckpt/commits").listFiles()
    assert(commitFiles != null, s"no commits dir under $ckpt")
    val commits = commitFiles
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.length >= 3,
      s"expected >= 3 committed micro-batches, got ${commits.length}")
    assert(commits.last.delete(), "could not delete last commit marker")
    new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
      .delete(): Unit
    val q2 = graft.streaming.CcLabelStream.maintain(cat, stage, ckpt)
    try assert(q2.awaitTermination(120000), "restart did not terminate")
    finally q2.stop()
    val after = cat.table("cc_labels")
      .collect().map(_.toString).sorted.toSeq
    assert(before === after,
      "replayed micro-batch changed the labels — idempotency broken")
  }

  test("cross-batch late event past the watermark is dropped; batch keeps it") {
    // VERDICT r11 task 6: the watermark-drop path ACROSS micro-batch
    // boundaries. Four hand-fed micro-batches; a late event arrives in
    // batch 3 after its window's watermark expired in batch 2. Append
    // mode so finalized windows are emitted exactly once and the late
    // row's absence is observable; the batch twin over the identical
    // events keeps the late row — streamed == batch minus that row.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val ckpt = Files.createTempDirectory("graft-ckpt-late").toString
    val ms = MemoryStream[(Long, String, Double)](spark)
    val h = 3600L * 1000000 // one hour in micros
    def ev(us: Long) = (us, "click", 1.0)
    val events = ms.toDF()
      .select(timestamp_micros(col("_1")).as("ts"),
        col("_2").as("event_type"), col("_3").as("value"))
    val q = EventsStream.hourlyCounts(events)
      .writeStream
      .format("memory")
      .queryName("late_drop_stream")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // b1: two on-time events, windows [0,1) and [1,2); wm -> 0:30
      ms.addData(ev(h / 2), ev(h + h / 2)); q.processAllAvailable()
      // b2: jump to 10:30; wm -> 9:30, finalizing [0,1) and [1,2)
      ms.addData(ev(10 * h + h / 2)); q.processAllAvailable()
      // b3: LATE event at 0:45 — its window [0,1) closed when the
      // watermark passed 1:00 in b2 -> dropped; plus on-time 11:30
      ms.addData(ev(h * 3 / 4), ev(11 * h + h / 2)); q.processAllAvailable()
      // b4: sentinel far ahead flushes [10,11) and [11,12)
      ms.addData(ev(20 * h + h / 2)); q.processAllAvailable()
      val streamed = spark.table("late_drop_stream")
        .select(unix_micros(col("hour_start")).as("h"), col("n_events"))
        .collect().map(r => r.getLong(0) / h -> r.getLong(1)).toMap
      // batch twin over the SAME six events keeps the late row
      val batch = EventsStream.hourlyCounts(
          Seq(ev(h / 2), ev(h + h / 2), ev(10 * h + h / 2),
            ev(h * 3 / 4), ev(11 * h + h / 2), ev(20 * h + h / 2)).toDF()
            .select(timestamp_micros(col("_1")).as("ts"),
              col("_2").as("event_type"), col("_3").as("value")))
        .select(unix_micros(col("hour_start")).as("h"), col("n_events"))
        .collect().map(r => r.getLong(0) / h -> r.getLong(1)).toMap
      assert(batch(0L) === 2L, "batch twin must count the late event")
      assert(streamed(0L) === 1L,
        "late event past the watermark must be dropped from the stream")
      assert(streamed(1L) === 1L && streamed(10L) === 1L &&
        streamed(11L) === 1L)
      assert(!streamed.contains(20L),
        "append mode must withhold the still-open sentinel window")
      // full relation: streamed == batch minus the dropped row, minus
      // the never-finalized sentinel window
      val expected = batch.updated(0L, batch(0L) - 1) - 20L
      assert(streamed === expected)
    } finally q.stop()
  }

  test("sessionStats folds a cross-batch late event without over-counting sessions") {
    // ADVICE r11: a later micro-batch delivering an event at or before
    // the user's recorded last_us must not regress `last` (which would
    // fake a gap at the next on-time event) — it folds into the open
    // session. batch1: 0m, 10m, 35m (one session). batch2: late 2m +
    // on-time 40m. 40m-35m=5m -> SAME session; a regressed last of 2m
    // would have split it (40-2=38m > 30m gap).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ckpt = Files.createTempDirectory("graft-ckpt-sess-late").toString
    val m = 60L * 1000000
    val ms = MemoryStream[SessionEvent](spark)
    val q = EventsStream.sessionStats(ms.toDS())
      .writeStream
      .format("memory")
      .queryName("sess_late_stream")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      ms.addData(SessionEvent(7, 0), SessionEvent(7, 10 * m),
        SessionEvent(7, 35 * m))
      q.processAllAvailable()
      ms.addData(SessionEvent(7, 2 * m), SessionEvent(7, 40 * m))
      q.processAllAvailable()
      val fin = spark.table("sess_late_stream")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("n_sessions").as("s"),
          org.apache.spark.sql.functions.max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(fin(7L) === ((1L, 5L)),
        s"late fold broke: ${fin(7L)} (expected 1 session, 5 events)")
    } finally q.stop()
  }

  test("o11s continuous-stream soak: 50 micro-batch folds keep the " +
      "delta log bounded (per-bucket merge width <= AutoCompactDeltas " +
      "after every fold) and the registry equals the one-shot fold") {
    // r17 verdict #7: the read-amplification bound was contract, not
    // test — all committed stream drives are short (3-4 batches). This
    // drives the REAL file-stream sink through 50 one-file micro-batch
    // folds (the AvailableNow + maxFilesPerTrigger=1 long-soak shape)
    // and asserts the threshold-AutoCompactDeltas auto-compaction keeps
    // the on-disk delta log bounded: no bucket may be spread over more
    // than AutoCompactDeltas effective deltas (that count IS the
    // reader's merge width per key), and the total directory count
    // must sit far under the 50 an uncompacted log would hold.
    import org.apache.spark.sql.functions._
    import graft.pipeline.MinMergeStats
    val nBatches = 50
    val cat = new graft.engine.Catalog(spark,
      Files.createTempDirectory("graft-soak-wh").toString)
    val stage = Files.createTempDirectory("graft-soak-stage").toString
    // one doc per staged file; overlapping token windows across docs so
    // every fold carries candidate owners into recurring buckets
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until 44).map(j => s"tok${(i * 7 + j) % 61}").mkString(" "))
    (0 until nBatches).foreach { i =>
      Seq(doc(i)).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(stage)
    }
    val ckpt = Files.createTempDirectory("graft-soak-ckpt").toString
    val q = graft.streaming.SegmentRegistryStream.maintain(cat, stage, ckpt)
    try assert(q.awaitTermination(300000), "soak stream did not terminate")
    finally q.stop()
    val reg = new java.io.File(s"${cat.warehouse}/seg_registry")
    val deltas = Option(reg.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("__delta="))
    assert(deltas.nonEmpty, "soak produced no deltas")
    // the table-level backstop bound: sparse batches (few keys -> few
    // buckets per fold) never trip the per-bucket heat rule, so
    // without the backstop this reads 50 dirs after 50 folds — the
    // reader's listing/footer cost growing one per fold forever
    assert(deltas.size <= MinMergeStats.AutoCompactDeltas,
      s"delta count unbounded: ${deltas.size} dirs after $nBatches folds")
    val perBucket = scala.collection.mutable.Map.empty[String, Int]
    deltas.foreach { d =>
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
        .foreach(b => perBucket(b.getName) =
          perBucket.getOrElse(b.getName, 0) + 1)
    }
    assert(perBucket.values.max <= MinMergeStats.AutoCompactDeltas,
      s"reader merge width exceeded the dial: max per-bucket delta " +
        s"count ${perBucket.values.max} > ${MinMergeStats.AutoCompactDeltas}")
    // the dial's two sides in one line — dirs = read amplification,
    // soak wall = the write-amortization cost paid by the stream
    info(s"soak: dial=${MinMergeStats.AutoCompactDeltas} " +
      s"deltaDirs=${deltas.size} maxPerBucket=${perBucket.values.max}")
    // content: the 50-fold soak must equal the one-shot batch fold
    val soaked = cat.table("seg_registry")
      .collect().map(_.toString).sorted.toSeq
    val cat2 = new graft.engine.Catalog(spark,
      Files.createTempDirectory("graft-soak-wh2").toString)
    val all = (0 until nBatches).map(doc).toDF("doc_id", "text")
    val toks = all.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("tk"))
    MinMergeStats.fold(cat2, "seg_registry",
      graft.queries.DedupQueries.segmentOwners(
        graft.queries.DedupQueries.docSegments(toks)),
      graft.queries.DedupQueries.SegRegistryKeys,
      graft.queries.DedupQueries.SegRegistryOrd, batchReduced = true)
    val oneShot = cat2.table("seg_registry")
      .collect().map(_.toString).sorted.toSeq
    assert(soaked === oneShot,
      "50-batch soak registry must equal the one-shot fold bit for bit")
  }

  test("stateful sessionize counts 30-min-gap sessions per user") {
    val m = 60L * 1000000
    val events = Seq(
      SessionEvent(1, 0 * m), SessionEvent(1, 10 * m),   // session 1
      SessionEvent(1, 50 * m),                            // gap 40min → 2
      SessionEvent(2, 5 * m)).toDS()
    val got = EventsStream.sessionize(events)
      .collect().map(u => u.user_id -> u).toMap
    assert(got(1L) === UserSessions(1, 2, 3))
    assert(got(2L) === UserSessions(2, 1, 1))
  }
}
