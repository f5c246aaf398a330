package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Catalog

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
  * row table and the digest table, and a partition counts as committed
  * only when its `_SUCCESS` marker exists (directory existence is NOT
  * commit: Spark creates the directory at job start, so a crash
  * mid-write leaves a partial partition). Append order is `_last_batch`
  * artifact, then rows, then digests; [[recover]] (run at the start of
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

  private def rowsDir(cat: Catalog, table: String, batchId: Long) =
    s"${cat.warehouse}/$table/__batch_id=$batchId"

  private def digestsDir(cat: Catalog, table: String, batchId: Long) =
    s"${cat.warehouse}/${table}_digests/__batch_id=$batchId"

  /** Commit test: Hadoop's FileOutputCommitter drops `_SUCCESS` only
    * after every task file is in place (at scale: the same marker on
    * the object store) — one definition of "committed" for every
    * `__batch_id=` layout.
    */
  private def committed(cat: Catalog, dir: String): Boolean =
    cat.store.exists(s"$dir/_SUCCESS")

  /** All `__batch_id=` partition ids present under the row table,
    * committed or partial (one LIST of top-level prefixes). Shared
    * with [[IncrementalRollup]].
    */
  private[pipeline] def batchIds(cat: Catalog, table: String): Seq[Long] =
    cat.store.listDirs(s"${cat.warehouse}/$table")
      .filter(_.startsWith("__batch_id="))
      .map(_.stripPrefix("__batch_id=").toLong)

  /** Batch ids whose row partition is fully committed. */
  private def committedBatches(cat: Catalog, table: String): Seq[Long] =
    batchIds(cat, table).filter(id => committed(cat, rowsDir(cat, table, id)))

  /** Shared recovery step for every per-batch writer (rollup facts,
    * near-dup corpus + signature index): purge uncommitted
    * (`_SUCCESS`-less) `__batch_id=` directories — a crash mid-write
    * leaves a partial partition no recompute may read, and the batch
    * never completed its ingest call so an at-least-once upstream
    * redelivers it — and refuse foreign layouts loudly instead of
    * letting Spark's partition discovery throw a cryptic
    * conflicting-structures error.
    *
    * REQUIRES single-writer-per-warehouse: a `_SUCCESS`-less directory
    * is only distinguishable from a *concurrent* writer's in-flight
    * batch by ownership, so purging is safe only because exactly one
    * session writes the warehouse — the invariant the Catalog
    * constructor's lock (in-process claim + `_LOCK` pid file) enforces
    * rather than assumes.
    */
  private[pipeline] def purgePartialBatches(cat: Catalog, table: String): Unit = {
    val root = s"${cat.warehouse}/$table"
    // a flat table's own job marker: the per-batch layout commits each
    // batch directory, never the root
    val foreign = "this table uses the per-batch __batch_id= layout (a " +
      "flat pre-existing table must be re-ingested as one batch)"
    require(!cat.store.exists(s"$root/_SUCCESS"),
      s"$table: a _SUCCESS at the table root — $foreign")
    cat.store.listDirs(root)
      // `_`-prefixed directories OTHER than the batch dirs are table
      // metadata (Spark's own hidden-file convention) — never purged
      .filterNot(n => n.startsWith("_") && !n.startsWith("__batch_id="))
      .foreach { n =>
        require(n.startsWith("__batch_id="),
          s"$table: entry '$n' is not a batch directory — $foreign")
        if (!committed(cat, s"$root/$n")) cat.store.delete(s"$root/$n")
      }
  }

  /** Close the crash windows: if the newest row batch (committed or
    * partial) is missing its `_SUCCESS` or its digest partition's,
    * rewrite the incomplete partition(s) from the `<table>_last_batch`
    * artifact. Idempotent; O(1) directory checks plus at most one
    * batch-sized rewrite.
    */
  def recover(cat: Catalog, table: String): Unit =
    batchIds(cat, table).sorted.lastOption.foreach { last =>
      val rows = rowsDir(cat, table, last)
      val digs = digestsDir(cat, table, last)
      val (rowsDone, digsDone) = (committed(cat, rows), committed(cat, digs))
      if (!rowsDone || !digsDone) {
        val lb = cat.spark.read
          .parquet(s"${cat.warehouse}/${table}_last_batch")
        if (!rowsDone)
          cat.store.writeParquet(lb.drop("__fp").write.mode("overwrite"), rows)
        if (!digsDone)
          cat.store.writeParquet(
            lb.select(col("__fp").as("fp")).write.mode("overwrite"), digs)
      }
    }

  /** Ingest `batch`: returns the rows whose `textCol` content was never
    * seen before (first occurrence within the batch wins), after
    * appending the rows to `table` and their digests to
    * `<table>_digests` — each under a fresh `__batch_id=` partition.
    */
  def ingest(cat: Catalog, batch: DataFrame, textCol: String,
             table: String): DataFrame = {
    recover(cat, table)
    val digests = s"${table}_digests"
    val batchId = committedBatches(cat, table).foldLeft(0L)(math.max) + 1
    val withFp = batch.withColumn("__fp", md5(col(textCol)))
      .dropDuplicates("__fp") // within-batch dedup
    // read the digest history from storage, not the temp view: a fresh
    // session over an existing warehouse has no view registered yet
    val fresh =
      if (cat.exists(digests))
        withFp.join(
          cat.spark.read.parquet(s"${cat.warehouse}/$digests").select("fp"),
          withFp("__fp") === col("fp"), "left_anti")
      else withFp
    // Materialize the surviving batch ONCE, durably, BEFORE either
    // append: the returned frame's lineage would otherwise re-run the
    // anti-join against the now-updated digest table and evaluate to
    // empty (self-invalidation). The `<table>_last_batch` artifact
    // doubles as the recovery source and the ingest audit trail.
    val freshDir = s"${cat.warehouse}/${table}_last_batch"
    cat.store.writeParquet(fresh.write.mode("overwrite"), freshDir)
    val freshBack = cat.spark.read.parquet(freshDir)
    cat.store.writeParquet(freshBack.drop("__fp").write.mode("overwrite"),
      rowsDir(cat, table, batchId))
    cat.store.writeParquet(freshBack.select(col("__fp").as("fp"))
      .write.mode("overwrite"), digestsDir(cat, table, batchId))
    // Re-register both views over the partitioned roots, shedding the
    // partition-discovery `__batch_id` column: batch placement is a
    // storage detail, not part of the table's column contract.
    Seq(table, digests).foreach { n =>
      cat.spark.read.parquet(s"${cat.warehouse}/$n").drop("__batch_id")
        .createOrReplaceTempView(n)
    }
    freshBack.drop("__fp")
  }
}
