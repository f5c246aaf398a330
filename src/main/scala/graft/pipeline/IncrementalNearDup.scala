package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Catalog

/** Incremental NEAR-duplicate ingest — the scale story exact
  * [[IncrementalIngest]] tells, extended to fuzzy matches: dedup an
  * arriving batch against the existing corpus without recomputing
  * anything corpus-sized. The warehouse keeps a simhash signature
  * index (`<table>_sigs`) beside the corpus; a batch computes its own
  * signatures once, band-joins them against the INDEX (4×16-bit
  * pigeonhole bands — ≤3 flipped bits corrupt at most 3 of 4 bands,
  * the d4b rule), and only novel docs append.
  *
  * Index layout: signatures are stored pre-banded (one row per
  * (doc_id, k, band)) and PARTITIONED by `(k, sb)` where
  * `sb = band % [[SigBuckets]]` — so a batch probe filters the index
  * scan to its own band buckets with a literal predicate on partition
  * columns (static directory pruning, visible in PartitionFilters and
  * proven by scan metrics in NearDupIngestSpec). The probe's cost is
  * O(batch × matching buckets), independent of history size. Bucketing
  * the 16-bit band space (rather than one directory per band value)
  * bounds the directory fan-out: [[SigBuckets]] leaf dirs ×4 bands per
  * batch; see the constant's scaladoc for the local-vs-cluster sizing
  * rationale.
  *
  * Suppression semantics (deterministic, order-free):
  *  - within the batch: a doc is dropped when ANY lower-doc_id batch
  *    member is within hamming ≤ 3 (pairwise; a dropped doc still
  *    suppresses — conservative for dedup, and it makes the rule a
  *    pure function of the batch, not of iteration order);
  *  - against the index: a doc is dropped when any INDEXED doc is
  *    within hamming ≤ 3. The index holds kept docs only, so a
  *    near-dup's surviving twin is always in the corpus.
  *
  * Crash safety mirrors the other per-batch writers: rows and
  * signatures each land under `__batch_id=<id>/` with mode(overwrite),
  * partial (`_SUCCESS`-less) directories are purged at every entry
  * ([[Catalog.purgeBatches]]), readers see only committed ones, and a
  * replay with the same `batchId` overwrites its own directories. The
  * index probe does not list the batch's own `__batch_id=` partition,
  * so a replay of a fully committed batch
  * returns the same survivor set as the first run (the docs would
  * otherwise each match their own indexed signature at hamming 0 and
  * the replay would return empty — warehouse-convergent but
  * caller-visible divergence). Write order is rows THEN signatures: a
  * crash between the two leaves committed rows whose signatures are
  * missing — future near-dups of those docs could slip in (duplicates,
  * repaired by the replay) — never the reverse, where a signature with
  * no surviving row would silently drop future docs whose twin is
  * absent from the corpus (data loss).
  */
object IncrementalNearDup {

  /** Band-bucket fan-out of the signature index partitioning (see the
    * layout paragraph above). Local-mode 4 (≤16 leaf dirs per batch):
    * measured locally, partitioned-write cost grows near-linearly with
    * leaf-dir count (64 dirs ≈ 1.3 s vs 16 dirs ≈ 0.5 s per batch at
    * sf0.1) while toy-scale probes prune well at any bucketing, so the
    * small constant is strictly better until the index outgrows it. At
    * cluster scale raise it toward 65536 (full band partitioning) as
    * the index grows — pruning factor and file count trade off through
    * this one constant. Retuning affects NEW indexes only: an existing
    * index keeps the layout recorded in its [[SigBucketsMeta]] file
    * (probing a 16-bucket layout with 4 would silently miss every
    * `sb >= 4` directory and readmit indexed near-duplicates).
    */
  private[graft] val SigBuckets = 4

  /** Meta-file name recording the bucket count a sigs table was BUILT
    * with. The constant above is only the default for NEW indexes:
    * `sb = band % nb` is baked into every partition directory at write
    * time, so probing an existing index with any other `nb` silently
    * misses rows (old `sb >= nb` dirs never match) and readmits
    * previously-indexed near-duplicates. Every probe and every append
    * therefore uses the STORED count; retuning the constant affects
    * fresh warehouses only.
    */
  private[graft] val SigBucketsMeta = "_SIG_BUCKETS"

  private def sigBucketsFile(cat: Catalog, sigsTable: String): String =
    s"${cat.warehouse}/$sigsTable/$SigBucketsMeta"

  /** The bucket count governing `sigsTable`'s on-disk layout: the
    * `_SIG_BUCKETS` meta file if present; else inferred from the
    * existing `sb=` partition dirs (legacy index written before the
    * meta file existed — max(sb)+1, correct whenever the top bucket is
    * populated, which 4 bands × any real batch guarantees) and written
    * back; else None for a brand-new index, which gets [[SigBuckets]].
    */
  private[graft] def storedSigBuckets(cat: Catalog, sigsTable: String): Option[Int] = {
    val meta = sigBucketsFile(cat, sigsTable)
    if (cat.store.exists(meta)) Some(cat.store.read(meta).toInt)
    else {
      val sigs = cat.batches(sigsTable)
      val sbDirs = for {
        id <- sigs.ids
        k <- cat.store.listDirs(sigs.dir(id)) if k.startsWith("k=")
        sb <- cat.store.listDirs(s"${sigs.dir(id)}/$k") if sb.startsWith("sb=")
      } yield sb.stripPrefix("sb=").toInt + 1
      sbDirs.maxOption.map { nb => cat.store.putAtomic(meta, nb.toString); nb }
    }
  }

  /** 4×16-bit band explosion of a `(doc_id, simhash)` frame. */
  private def banded(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), 16 * k).bitwiseAND(lit(65535L))): _*))
        .as(Seq("k", "band")))

  /** The combined (k, band-bucket) key — ≤ 4×nb distinct values total,
    * so a batch's key set always collects to the driver as a bounded
    * literal list no matter how large the batch is.
    */
  private def kbCol(nb: Int): org.apache.spark.sql.Column =
    col("k").cast("long") * nb + pmod(col("band"), lit(nb.toLong))

  /** The signature index `index` pruned to the probing batch's band
    * buckets (literal predicate over the (k, sb) partition columns →
    * directory pruning). `nb` MUST be the stored layout's bucket count
    * (see [[storedSigBuckets]]). Package-visible so the spec can assert
    * the pruned scan's metrics directly.
    */
  private[graft] def probeIndex(cat: Catalog, index: Catalog.Batches,
                                kbs: Seq[Long], nb: Int = SigBuckets): DataFrame =
    cat.readBatches(index)
      .filter((col("k").cast("long") * nb + col("sb").cast("long"))
        .isin(kbs: _*))
      .select(col("doc_id"), col("simhash"), col("k"), col("band"))

  /** The corpus as one frame (all committed batches). */
  def corpus(cat: Catalog, table: String): DataFrame =
    corpusWithBatchId(cat, table).drop(Catalog.BatchKey)

  /** [[corpus]] with the `__batch_id` partition column exposed — the
    * accessor per-batch consumers (o6's census) read through, so the
    * on-disk layout (sibling `_sigs` dir, `__batch_id=` partitioning)
    * stays encapsulated here rather than hand-built at call sites.
    */
  def corpusWithBatchId(cat: Catalog, table: String): DataFrame =
    cat.readBatches(cat.batches(table))

  /** Ingest `batch` (must carry `doc_id` and `text`): returns the
    * surviving (novel) rows after appending them and their signatures.
    * Pass the upstream's stable `batchId` for replay idempotency; an
    * empty survivor set writes nothing and consumes no id.
    *
    * `precomputedSigs`: optionally supply the batch's `(doc_id,
    * simhash)` frame — MUST equal `simhashDocs(batch)` and be
    * storage-backed (no recompute on re-read). The production shape at
    * scale: signatures are computed once where the document is created
    * (or once per corpus in a shared index) and carried to every
    * consumer; forcing this operator to re-explode the token stream
    * per batch would pay the pipeline's heaviest stage once per
    * consumer instead of once per document.
    */
  def ingest(cat: Catalog, batch: DataFrame, table: String,
             batchId: Option[Long] = None,
             precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val sigsTable = s"${table}_sigs"
    val docs = cat.purgeBatches(table)
    val sigs = cat.purgeBatches(sigsTable)
    // the index's on-disk bucket count, NOT the compile-time constant:
    // a pre-existing index keeps the layout it was written with
    val recorded = storedSigBuckets(cat, sigsTable)
    val nb = recorded.getOrElse(SigBuckets)
    // the id is fixed BEFORE the probe so the probe can leave out the
    // batch's own signatures on replay; computing it consumes nothing —
    // an all-duplicate batch still writes no directory under this id
    val id = batchId.getOrElse(docs.newest + 1)
    // signatures computed ONCE per batch, durably: the within-batch
    // self-join, the index probe, and the signature append all read
    // this frame — recomputing the token explode three times would
    // triple the batch's heaviest stage
    val bs = precomputedSigs.getOrElse(
      graft.queries.Scratch.materialize(cat.spark, "neardup_bsigs",
        graft.queries.DedupQueries.simhashDocs(batch)))
    val bb = banded(bs)
    val withinDup = bb.as("x").join(bb.as("y"),
        col("x.k") === col("y.k") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 3)
      .select(col("y.doc_id").as("doc_id"))
    // every committed index batch but this one's own (a replay)
    val index = sigs.copy(ids = sigs.ids.filterNot(_ == id))
    val idxDup =
      // committed batch dirs, not bare dir existence: a sigs dir
      // holding only the _SIG_BUCKETS meta (pre-seeded layout, or a
      // crash after meta before sigs) has nothing to probe
      if (index.ids.nonEmpty) {
        val kbs = bb.select(kbCol(nb).as("kb")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val idx = probeIndex(cat, index, kbs, nb)
          .select(col("doc_id").as("idx_id"), col("simhash").as("si"),
            col("k").as("ki"), col("band").as("bi"))
        bb.join(idx, col("k") === col("ki") && col("band") === col("bi"))
          .filter(bit_count(col("simhash").bitwiseXOR(col("si"))) <= 3)
          .select(col("doc_id"))
      } else bs.select(col("doc_id")).limit(0)
    // dropIds is read THREE times (kept's anti-join, the isEmpty probe,
    // and the signature anti-join) and is tiny (suppressed ids only) —
    // without the persist, the signature write recomputes the whole
    // band self-join + index probe a second time.
    val dropIds = withinDup.union(idxDup).distinct().persist()
    val kept = batch.join(dropIds, Seq("doc_id"), "left_anti").persist()
    try {
      if (kept.isEmpty) kept
      else {
        val written = cat.writeBatch(docs, id, kept.write)
        // meta BEFORE sigs: a crash in between leaves a recorded
        // layout with no rows (harmless); the reverse would leave an
        // un-annotated index a retuned constant could mis-probe. The
        // layout never changes once recorded, so it is written once.
        if (recorded.isEmpty)
          cat.store.putAtomic(sigBucketsFile(cat, sigsTable), nb.toString)
        cat.writeBatch(sigs, id,
          banded(bs.join(dropIds, Seq("doc_id"), "left_anti"))
            .withColumn("sb", pmod(col("band"), lit(nb.toLong)))
            .repartition(col("k"), col("sb"))
            .write.partitionBy("k", "sb"))
        cat.readBatches(written.copy(ids = Seq(id))).drop(Catalog.BatchKey)
      }
    } finally { kept.unpersist(false); dropIds.unpersist(false); () }
  }
}
