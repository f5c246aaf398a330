package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.engine.Catalog
import graft.pipeline.IncrementalRollup

/** Streaming materialized-view maintenance — the streaming shape of
  * [[graft.pipeline.IncrementalRollup]] (o4's batch path): a file
  * stream of events drives the day-partitioned fact table and the
  * per-partition rollup refresh from inside `foreachBatch`, so the
  * rollup stays current as batches land instead of waiting for a
  * nightly rebuild.
  *
  * Exactly-once without a transactional sink: `foreachBatch` replays a
  * micro-batch whose commit never reached the checkpoint, and each
  * micro-batch is one [[IncrementalRollup.ingest]] under its stream
  * batch id — the fact write lands under `__batch_id=<id>/` with
  * mode(overwrite), so a replay overwrites its own directory with
  * identical content, and the rollup refresh recomputes touched
  * partitions from fact state. Crash between the two: the replay
  * overwrites the fact dir and re-runs the refresh — converges to the
  * same bytes.
  */
object RollupStream {

  /** The rollup formula shared by the stream and the parity check —
    * one definition, so the two cannot drift. Drops the
    * `__batch_id` partition-discovery column the streaming fact layout
    * adds (batch placement is a storage detail, not part of the
    * rollup's contract).
    */
  def rollup(slice: DataFrame): DataFrame =
    slice.drop("__batch_id")
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.engine.Functions.dsum(col("value")).as("total_value"))

  /** Start maintaining `ev_rollup` in `cat` from a one-shot
    * (AvailableNow) file stream over `$dir/events.parquet`. Returns the
    * started query; callers `awaitTermination()`.
    */
  def maintain(cat: Catalog, dir: String, checkpoint: String): StreamingQuery = {
    val ev = EventsStream.source(cat.spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
    ev.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IncrementalRollup.ingest(cat, "ev_fact", "ev_rollup", "day", batch,
          rollup, Some(batchId)): Unit
      }
      .start()
  }
}
