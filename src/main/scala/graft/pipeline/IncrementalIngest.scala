package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Catalog, Parquet}

/** Append-only ingestion with content dedup — the daily-batch shape of
  * a 100 TB training-data pipeline: every arriving batch is
  * deduplicated within itself AND against everything ever ingested,
  * then only the survivors (and their digests) are appended.
  *
  * State is one digest table (16-byte md5 per unique document ever
  * seen), so the anti-join shuffles on the digest — O(batch) work per
  * batch regardless of history size once the digest table is
  * bucketed/partitioned by digest prefix; no full-corpus rescan, no
  * driver-side state.
  *
  * Crash safety (exactly-once): there is no atomic multi-table commit
  * on a filesystem, so both appends are made *recoverable* instead —
  * each batch lands under its own `__batch_id=` partition in BOTH the
  * row table and the digest table, committed by its `_SUCCESS` (the
  * [[Catalog]]'s per-batch rule; readers see only committed
  * partitions). Append order is `_last_batch`
  * artifact, then rows, then digests; `recover` (run at the start of
  * every ingest, i.e. before `_last_batch` is overwritten) repairs the
  * newest batch from the durable `_last_batch`. The failure matrix:
  *  - crash during the `_last_batch` write: no row partition exists for
  *    the new batch; nothing to recover; a replay re-dedups and ingests
  *    (at-least-once from the source, no loss);
  *  - crash during the row append: a partial `__batch_id=` partition
  *    without `_SUCCESS` — recover() rewrites the whole partition from
  *    `_last_batch` (complete by write order) and then its digests, so
  *    no row of the batch is lost and a replay anti-joins to empty;
  *  - crash during the digest append: rows committed, digests partial
  *    or missing — recover() rewrites the digest partition, so a replay
  *    anti-joins to empty instead of re-ingesting duplicates;
  *  - crash after both: fully committed, replay is a no-op.
  * Invariant making `_last_batch` safe to overwrite: recover() runs
  * before the overwrite, so the previous batch is fully committed by
  * the time its recovery source is destroyed. CrashPointSpec crashes
  * [[ingest]] after each of its storage calls and replays it.
  */
object IncrementalIngest {

  /** The surviving batch of the newest ingest: recovery source and audit
    * trail (see [[ingest]]).
    */
  private def lastBatch(cat: Catalog, table: String) =
    s"${cat.warehouse}/${table}_last_batch"

  /** Close the crash windows: if the newest row batch (committed or
    * partial) is missing its `_SUCCESS` or its digest partition's,
    * rewrite the incomplete partition(s) from the `<table>_last_batch`
    * artifact. Idempotent; one listing of each table plus at most one
    * batch-sized rewrite. Returns the committed listings of the row and
    * digest tables.
    */
  private def recover(cat: Catalog, table: String): (Catalog.Batches, Catalog.Batches) = {
    val rows = cat.batches(table)
    val digs = cat.batches(s"${table}_digests")
    (rows.ids ++ rows.partial).maxOption
      .filterNot(last => rows.ids.contains(last) && digs.ids.contains(last))
      .fold((rows, digs)) { last =>
        val lb = Parquet.read(cat.spark, lastBatch(cat, table))
        (if (rows.ids.contains(last)) rows
         else cat.writeBatch(rows, last, lb.drop("__fp").write),
         if (digs.ids.contains(last)) digs
         else cat.writeBatch(digs, last, lb.select(col("__fp").as("fp")).write))
      }
  }

  /** Ingest `batch`: returns the rows whose `textCol` content was never
    * seen before (first occurrence within the batch wins), after
    * appending the rows to `table` and their digests to
    * `<table>_digests` — each under a fresh `__batch_id=` partition.
    */
  def ingest(cat: Catalog, batch: DataFrame, textCol: String,
             table: String): DataFrame = {
    val (rows, digs) = recover(cat, table)
    val batchId = math.max(rows.newest, 0L) + 1
    val withFp = batch.withColumn("__fp", md5(col(textCol)))
      .dropDuplicates("__fp") // within-batch dedup
    // read the digest history from storage, not the temp view: a fresh
    // session over an existing warehouse has no view registered yet
    val fresh =
      if (digs.ids.nonEmpty)
        withFp.join(cat.readBatches(digs).select("fp"),
          withFp("__fp") === col("fp"), "left_anti")
      else withFp
    // Materialize the surviving batch ONCE, durably, BEFORE either
    // append: the returned frame's lineage would otherwise re-run the
    // anti-join against the now-updated digest table and evaluate to
    // empty (self-invalidation). The `<table>_last_batch` artifact
    // doubles as the recovery source and the ingest audit trail.
    cat.store.writeParquet(fresh.write.mode("overwrite"), lastBatch(cat, table))
    val freshBack = Parquet.read(cat.spark, lastBatch(cat, table))
    val rowsNow = cat.writeBatch(rows, batchId, freshBack.drop("__fp").write)
    val digsNow = cat.writeBatch(digs, batchId,
      freshBack.select(col("__fp").as("fp")).write)
    // Re-register both views over the committed batches, shedding the
    // partition-discovery `__batch_id` column: batch placement is a
    // storage detail, not part of the table's column contract.
    Seq(table -> rowsNow, s"${table}_digests" -> digsNow).foreach { case (n, b) =>
      cat.readBatches(b).drop(Catalog.BatchKey).createOrReplaceTempView(n)
    }
    freshBack.drop("__fp")
  }
}
