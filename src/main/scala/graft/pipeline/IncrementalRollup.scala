package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Catalog

/** Partition-level incremental maintenance of a materialized rollup —
  * the 100 TB counterpart of the reference's rebuild-everything
  * `agg_country_day` (`/root/reference/src/models/facts.py:347-412`,
  * rebuilt from scratch on every pipeline run). A day of new facts
  * must not cost a full-history re-aggregation: the fact table is
  * partitioned on the rollup's leading key (`partCol`, typically the
  * date), an arriving batch touches a handful of those partitions, and
  * only the touched rollup partitions are recomputed and swapped in
  * via dynamic partition overwrite. Work per batch is
  * O(facts in touched partitions), independent of history size.
  *
  * Consistency: the rollup is derived state — every partition value is
  * a pure function of the fact partitions with the same key. Each
  * batch's fact rows land under their own `__batch_id=<id>/` directory
  * with mode(overwrite) (the [[IncrementalIngest]] /
  * [[graft.streaming.RollupStream]] layout), and a directory counts as
  * committed only when its `_SUCCESS` marker exists — [[ingest]] and
  * [[refresh]] both start by deleting partial (marker-less) batch
  * directories ([[Catalog.purgeBatches]]) and read only the committed
  * ones, so a crash DURING a fact write never leaks fragment
  * rows into a recompute, and an auto-allocated id never double-counts
  * a fragment next to its redelivery. A crash BETWEEN the fact write
  * and the rollup refresh then has two safe repairs: re-running
  * [[refresh]] for the same partition values (recomputes from fact
  * state), or replaying [[ingest]] with the SAME `batchId` (overwrites
  * its own directory with identical content, then re-refreshes). A
  * replay WITHOUT an explicit batchId allocates a fresh directory and
  * duplicates the batch — callers with at-least-once upstreams must
  * thread a stable id. Partition swap itself is per-directory
  * overwrite — readers never see a half-written partition mixed with
  * old files.
  */
object IncrementalRollup {

  /** Recompute `rollup` for exactly `touched` partition values from the
    * current `fact` table and swap those partitions in (dynamic
    * partition overwrite — untouched partition directories are not
    * rewritten). `compute` maps a fact slice to rollup rows and must
    * emit `partCol`; it sees only the touched slice, so every
    * aggregate it computes has to be local to one partition value
    * (true for any groupBy that includes `partCol`).
    */
  def refresh(cat: Catalog, fact: String, rollup: String, partCol: String,
              touched: Seq[Any],
              compute: DataFrame => DataFrame): DataFrame =
    refreshFrom(cat, fact, cat.purgeBatches(fact), rollup, partCol, touched, compute)

  /** [[refresh]] over `facts`, the fact table's committed listing —
    * split out so [[ingest]], which has just purged and written its own
    * committed batch, doesn't list the table a second time.
    */
  private def refreshFrom(cat: Catalog, fact: String, facts: Catalog.Batches,
                          rollup: String, partCol: String, touched: Seq[Any],
                          compute: DataFrame => DataFrame): DataFrame = {
    if (touched.nonEmpty) {
      // a purged lone partial leaves the root existing but empty —
      // surface the repair contract instead of Spark's cryptic
      // 'unable to infer schema'
      require(facts.ids.nonEmpty,
        s"refresh($rollup): $fact has no committed batches — nothing " +
          "to recompute from; replay the ingest (the crashed batch " +
          "never committed)")
      // isin over literal partition values -> static partition pruning:
      // the recompute scan reads only the touched fact directories.
      // `__batch_id` is batch *placement*, not part of the fact's
      // column contract — shed it before compute sees the slice.
      val slice = cat.readBatches(facts)
        .filter(col(partCol).isInCollection(touched))
        .drop(Catalog.BatchKey)
      val out = compute(slice)
      require(out.columns.contains(partCol),
        s"refresh($rollup): compute() must emit '$partCol' — a rollup " +
          "without its partition column cannot be partition-swapped")
      // cluster rollup rows by partition value before the write: one
      // file per touched partition instead of one per task per
      // partition (rollup rows are partition-value cardinality, so one
      // task per value is never a bottleneck)
      cat.store.writeParquet(out.repartition(col(partCol)).write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol), s"${cat.warehouse}/$rollup")
    } else require(cat.exists(rollup),
      s"refresh($rollup): a rollup that does not exist yet needs a " +
        "non-empty batch (no schema to create an empty table from)")
    cat.reread(rollup)
  }

  /** Land `batch` under `fact/__batch_id=<id>/` (partitioned by
    * `partCol` inside the batch directory), then [[refresh]] the
    * rollup for the batch's partition values. The touched set is
    * collected to the driver — it is bounded by partitions-per-batch
    * (days, for a date-partitioned fact), not by rows. Late-arriving
    * rows are first-class: a batch carrying an old `partCol` value
    * just puts that value in the touched set and the old rollup
    * partition is recomputed from all facts now present.
    *
    * `batchId`: pass the upstream's stable batch id (a streaming
    * micro-batch id, an ingest-log sequence number) to make the call
    * replay-idempotent — the replay overwrites its own directory.
    * `None` allocates max-existing+1, which is correct for a
    * single-writer exactly-once upstream but duplicates on replay.
    * An empty batch writes nothing and consumes no id.
    */
  def ingest(cat: Catalog, fact: String, rollup: String, partCol: String,
             batch: DataFrame, compute: DataFrame => DataFrame,
             batchId: Option[Long] = None): DataFrame = {
    // One evaluation of the batch lineage: the write and the
    // touched-set scan both read the persisted blocks — recomputing a
    // lazy batch twice would be wasted work and, for a
    // non-deterministic source, could desync the touched set from the
    // rows actually written.
    val facts = cat.purgeBatches(fact)
    val b = batch.persist()
    try {
      val touched = b.select(partCol).distinct()
        .collect().map(_.get(0)).toSeq
      // all partial dirs were just removed, so the newest id is a
      // committed batch and a fresh id cannot collide with (or hide
      // behind) a crashed fragment. Fact rows are clustered by
      // partition value so a batch writes ONE file per touched
      // partition, not one per task per partition — the small-file
      // debt Catalog.compact otherwise has to pay down. If one
      // partition's batch volume ever exceeds a task, salt the
      // repartition (files per partition > 1) rather than dropping it.
      val written =
        if (touched.isEmpty) facts
        else cat.writeBatch(facts, batchId.getOrElse(facts.newest + 1),
          b.repartition(col(partCol)).write.partitionBy(partCol))
      refreshFrom(cat, fact, written, rollup, partCol, touched, compute)
    } finally { b.unpersist(false); () }
  }
}
