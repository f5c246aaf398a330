package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Catalog

/** First-writer-wins registry maintenance — the third merge algebra in
  * the incremental family, next to [[AdditiveStats]] (exact sums) and
  * the o4/o6 partition-scoped refreshes. Per `keys` group the table
  * keeps the lexicographically-MINIMAL `ord` tuple (the "owner": e.g.
  * the first corpus-wide occurrence of a segment, keyed by
  * (doc_id, start)). min over a total order is commutative,
  * associative AND idempotent, so — unlike addition — the fold is
  * exact under ANY batch arrival order and under REDELIVERY: folding
  * the same batch twice is a no-op, and no upstream dedup contract is
  * needed. What min-merge canNOT do that addition can: retire. A
  * min is not invertible (removing the current owner needs the
  * runner-up, which the table no longer has), so takedown flows
  * rebuild the affected keys from the surviving corpus instead —
  * the documented tradeoff between the two algebras.
  *
  * STORAGE (since round 16): the table is a log-structured set of
  * delta directories, not a read-modify-overwrite snapshot. The r15
  * census measured the snapshot design above-linear at the sixth
  * decade (11.9x per 10x): every fold rewrote the ENTIRE
  * literal-carrying dictionary, so per-batch write mass grew with
  * corpus history instead of batch size. The remedy the algebra
  * itself licenses is stronger than overwrite-only-touched-buckets
  * (uniformly-hashed batch keys touch every bucket, so a bucketed
  * overwrite still rewrites the dictionary): because min is
  * IDEMPOTENT, appending a candidate owner that does not improve the
  * registry is harmless — the merge can move entirely out of the
  * write path. Each fold therefore:
  *
  *  - reduces its batch to per-key candidate owners (map-side +
  *    one batch-cardinality shuffle — the only shuffle a fold pays),
  *  - APPENDS them as a new `__delta=<seq>/` directory, bucketed by
  *    `__bucket = xxhash64(keys) mod nBuckets` inside the delta —
  *    write mass is O(batch dictionary), NEVER O(table), at every
  *    decade;
  *  - never reads the existing table at all.
  *
  * Reads merge on the fly: [[view]] (registered as the table's temp
  * view after every write) is `groupBy(keys).min(struct(ord))` over
  * the effective delta set — exactly the old merge, paid by readers
  * instead of per fold, and skipped entirely when a single delta
  * remains (every delta is key-unique by construction, so one delta
  * IS the merged registry and the view is a plain pruned scan).
  *
  * [[compact]] bounds read amplification: it merges the chosen
  * buckets into one new delta and drops their older per-bucket
  * directories — the o4 dynamic-partition-overwrite pattern applied
  * to the dictionary, bucket-scoped so a hot bucket can compact
  * without rewriting the rest. Idempotence makes compaction
  * CRASH-SAFE with no swap protocol: a crash after the merged delta
  * commits but before (or during) the old-directory sweep leaves
  * duplicate candidate rows, which the read-time min absorbs — the
  * next compaction finishes the sweep. [[fold]] auto-compacts any
  * bucket whose delta count exceeds [[AutoCompactDeltas]], so a
  * long-running ingest stream amortizes one dictionary rewrite per
  * [[AutoCompactDeltas]] folds instead of paying one per fold; a
  * table-level backstop (round 18) additionally merges everything
  * once the effective DELTA count crosses the same dial, bounding
  * the reader's listing/footer cost for sparse-batch streams whose
  * per-bucket counts never heat up.
  * (LSM-tree structure: O'Neil et al. 1996; the single-level +
  * idempotent-merge specialization is what min-merge affords.)
  *
  * Crash contract (reader/writer split): every call takes ONE
  * snapshot of the deltas at entry and passes it down. READERS
  * ([[view]]/[[exists]]) apply the contract LOGICALLY through
  * [[effectiveDeltas]] — only committed deltas are listed
  * ([[graft.engine.Catalog.batches]]), an unresolved `_REBUILD` marker
  * is applied as a roll-forward or roll-back READING, bucket-less
  * shells are skipped — and delete nothing, so a reader racing an
  * in-process writer's in-flight fold can never sweep its output. The
  * marker reading is decided by whether the TARGET delta is COMMITTED,
  * bucket-less or not: a rebuild whose replacement is EMPTY (a takedown
  * retiring every remaining row) commits a bucket-less target, and
  * readers roll FORWARD to the empty `_SCHEMA` frame exactly as the
  * writer's [[repair]] will. WRITERS ([[fold]]/[[compact]]/
  * [[rebuild]]/[[replaceAll]]) run [[repair]] at entry — purging
  * uncommitted deltas ([[graft.engine.Catalog.purgeBatches]]) and
  * physically resolving the marker and the shells — under the
  * Catalog's single-writer contract. [[rebuild]] (takedown) is the one
  * operation that must REMOVE rows, which append-only storage cannot
  * express — it writes the rebuilt table as one fresh delta, then
  * sweeps all older deltas under the `_REBUILD` marker that the next
  * entry rolls forward (new delta committed: finish the sweep) or back
  * (not committed: drop the partial delta, old state intact).
  *
  * 100 TB port seam: every filesystem touch goes through the
  * Catalog's [[graft.engine.Store]] (Hadoop-`FileSystem`-shaped; this
  * protocol never uses its local-only `rename` — see its scaladoc);
  * the object-store deployment slots a Hadoop implementation behind
  * the same trait. Every crash point of [[fold]] and [[rebuild]] is
  * enumerated by CrashPointSpec.
  */
object MinMergeStats {

  /** Buckets a table is created with (recorded in `_NBUCKETS`; later
    * folds reuse the recorded value so a key's rows co-locate across
    * deltas). Correctness does not depend on it — a key straddling
    * buckets after a count change still merges in the view — it only
    * scopes compaction.
    */
  val DefaultBuckets = 64

  /** Per-bucket delta count above which [[fold]] auto-compacts that
    * bucket. The read-amplification / write-amortization dial: a
    * stream folding forever rewrites each bucket once per this many
    * folds (amortized O(bucket/threshold) per fold) and readers merge
    * at most this many candidate rows per key in between.
    * 12 is the measured sweet spot of the r18 50-fold soak (4/12/32 →
    * 116/98/160 s). It must stay >= 1: 0 would make the hot rule and
    * backstop fire on EVERY fold — the exact per-fold full-rewrite
    * pathology the delta log exists to avoid.
    */
  val AutoCompactDeltas: Int = 12

  private def root(cat: Catalog, table: String): String =
    s"${cat.warehouse}/$table"

  private def bucketCol(keys: Seq[String], n: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(n.toLong)).cast("int")

  /** The bucket numbers present in delta directory `dir`. */
  private def bucketsOf(cat: Catalog, dir: String): Seq[Int] =
    cat.store.listDirs(dir).filter(_.startsWith("__bucket="))
      .map(_.stripPrefix("__bucket=").toInt)

  /** One snapshot of a table's effective deltas: the committed listing
    * narrowed to the deltas that carry rows, and each one's buckets.
    */
  private final case class Deltas(listing: Catalog.Batches,
                                  buckets: Map[Long, Seq[Int]]) {
    def ids: Seq[Long] = listing.ids
    def add(id: Long, bs: Seq[Int]): Deltas =
      Deltas(listing + id, buckets + (id -> bs))
  }

  /** `listing`'s deltas that carry at least one bucket. */
  private def withBuckets(cat: Catalog, listing: Catalog.Batches): Deltas = {
    val bs = listing.ids.map(id => id -> bucketsOf(cat, listing.dir(id)))
      .filter(_._2.nonEmpty)
    Deltas(listing.copy(ids = bs.map(_._1), partial = Nil), bs.toMap)
  }

  private def rebuildMarker(cat: Catalog, table: String): String =
    s"${root(cat, table)}/_REBUILD"

  private def schemaFile(cat: Catalog, table: String): String =
    s"${root(cat, table)}/_SCHEMA"

  /** The `_REBUILD` marker's target delta id, if a marker is present.
    * Markers are written atomically ([[graft.engine.Store.putAtomic]]), so an
    * unparseable one is external corruption, not a crash window —
    * guessing an id could roll forward against the WRONG delta and
    * delete live data, so both readers and writers REFUSE loudly.
    */
  private def markerId(cat: Catalog, table: String): Option[Long] = {
    val marker = rebuildMarker(cat, table)
    if (!cat.store.exists(marker)) None
    else {
      val raw = cat.store.read(marker)
      Some(raw.toLongOption.getOrElse(throw new IllegalStateException(
        s"$table: _REBUILD marker holds '$raw', not a delta id — " +
          s"markers are written atomically so this is external " +
          s"corruption; inspect $marker against the newest " +
          s"delta directory before removing the marker by hand")))
    }
  }

  /** The delta set a READER should see — the crash contract applied
    * logically, deleting nothing: uncommitted (`_SUCCESS`-less) deltas
    * are not listed, bucket-less shells are skipped, and an unresolved
    * `_REBUILD` marker is applied as a reading. The
    * roll-forward/roll-back choice is decided by whether the TARGET
    * delta is COMMITTED — bucket-less or not, because a rebuild to an
    * EMPTY table (takedown of every remaining row) commits a
    * bucket-less target: committed target → the roll-forward view
    * (pre-rebuild deltas excluded — reading them would resurrect
    * retired keys through the min; an all-swept empty target serves
    * the `_SCHEMA` frame); target not committed → the roll-back view,
    * the old state, with the partial target already excluded as
    * uncommitted. This matches [[repair]]'s physical resolution bit for
    * bit.
    */
  private def effectiveDeltas(cat: Catalog, table: String): Deltas = {
    val all = cat.batches(table, Catalog.DeltaKey)
    withBuckets(cat, all.copy(ids = resolved(all.ids, markerId(cat, table))))
  }

  /** The deltas live under `marker`: from its target on when the
    * target committed (roll forward), all of them otherwise (roll back).
    */
  private def resolved(ids: Seq[Long], marker: Option[Long]): Seq[Long] =
    marker.filter(ids.contains).fold(ids)(j => ids.filter(_ >= j))

  /** WRITER-ONLY crash repair (driver-side LISTs + deletes): purge
    * `_SUCCESS`-less delta directories ([[Catalog.purgeBatches]] —
    * crashed fold/compact writes, safe to drop because the writing
    * call never returned, so an at-least-once upstream redelivers, and
    * a dropped compact output only defers the merge), finish or roll
    * back an interrupted [[rebuild]] sweep, then drop committed
    * bucket-less shells (a crashed empty-fold cleanup, a fully-swept
    * compaction source, or a rolled-forward EMPTY rebuild target — they
    * carry no rows). Runs only from
    * [[fold]]/[[compact]]/[[rebuild]]/[[replaceAll]], which hold the
    * Catalog's single-writer contract; readers never repair (a reader
    * racing an in-flight writer must not sweep its output). Returns the
    * snapshot the writer then works from.
    */
  private def repair(cat: Catalog, table: String): Deltas = {
    // read before anything is deleted: a corrupt marker refuses first
    val marker = markerId(cat, table)
    val all = cat.purgeBatches(table, Catalog.DeltaKey)
    // a rolled-back rebuild's partial target was purged above
    val live = resolved(all.ids, marker)
    all.ids.diff(live).foreach(id => cat.store.delete(all.dir(id)))
    if (marker.nonEmpty) cat.store.delete(rebuildMarker(cat, table))
    val d = withBuckets(cat, all.copy(ids = live))
    live.diff(d.ids).foreach(id => cat.store.delete(all.dir(id)))
    d
  }

  /** Whether `table` holds at least one effective delta. Pure read —
    * no repair, no deletion (see [[effectiveDeltas]]).
    */
  def exists(cat: Catalog, table: String): Boolean =
    effectiveDeltas(cat, table).ids.nonEmpty

  /** Whether `table` is SERVABLE by [[view]]: it holds effective
    * deltas, or a persisted `_SCHEMA` lets the zero-delta empty frame
    * serve (a duplicate-free corpus, or a takedown that retired every
    * row). Writer entry points gate on this rather than [[exists]] so
    * a retire arriving at an all-empty table no-ops instead of
    * throwing (r17 advisor).
    */
  private def servable(cat: Catalog, table: String, d: Deltas): Boolean =
    d.ids.nonEmpty || cat.store.exists(schemaFile(cat, table))

  private def nBucketsOf(cat: Catalog, table: String, requested: Int): Int = {
    val f = s"${root(cat, table)}/_NBUCKETS"
    if (cat.store.exists(f)) cat.store.read(f).toInt
    else {
      cat.store.putAtomic(f, requested.toString)
      requested
    }
  }

  /** Per-key minimal-owner reduction — the one merge computation,
    * shared by fold (batch reduce), compact, rebuild, and the
    * multi-delta read view. `extra` columns (e.g. `__bucket`, a pure
    * function of `keys`) ride the groupBy for free.
    */
  private def reduced(df: DataFrame, keys: Seq[String], ord: Seq[String],
                      extra: Seq[String] = Nil): DataFrame =
    df.groupBy((keys ++ extra).map(col): _*)
      .agg(min(struct(ord.map(col): _*)).as("__owner"))
      .select((keys ++ extra).map(col) ++
        ord.map(c => col(s"__owner.$c").as(c)): _*)

  /** The merged registry over the effective delta set. A single delta
    * is key-unique by construction — every writer reduces before
    * writing — so the single-delta (i.e. freshly compacted) view is a
    * plain scan with no merge shuffle: consumers of a compacted
    * registry pay exactly what the old snapshot readers paid. A table
    * whose every fold appended nothing (a duplicate-free corpus) is
    * SERVABLE: the first fold persisted its batch schema (`_SCHEMA`),
    * and the zero-delta view is that schema's empty frame.
    *
    * Pure read — the crash contract is applied logically
    * ([[effectiveDeltas]]), nothing is deleted. Returns the
    * locally-built frame (bound to this catalog's own files); the
    * session temp view of the same name is registered as a courtesy
    * for `cat.table`/SQL access only, because several catalogs in one
    * session share table names (o12/o12s drives, test catalogs) and a
    * register-then-resolve would race a concurrent re-registration
    * into another warehouse's files.
    */
  def view(cat: Catalog, table: String, keys: Seq[String],
           ord: Seq[String]): DataFrame =
    viewOf(cat, table, effectiveDeltas(cat, table), keys, ord)

  /** [[view]] over the snapshot `d`. */
  private def viewOf(cat: Catalog, table: String, d: Deltas,
                     keys: Seq[String], ord: Seq[String]): DataFrame = {
    val v =
      if (d.ids.isEmpty) {
        // every fold of this table carried an empty batch (legitimate
        // on a duplicate-free corpus) — serve the empty registry in
        // the schema the first fold persisted, instead of throwing
        val sf = schemaFile(cat, table)
        require(cat.store.exists(sf), s"$table: no committed deltas to read")
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(cat.store.read(sf))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        cat.spark.createDataFrame(
          cat.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema).select((keys ++ ord).map(col): _*)
      } else {
        val back = cat.readBatches(d.listing)
        if (d.ids.size == 1) back.select((keys ++ ord).map(col): _*)
        else reduced(back, keys, ord).select((keys ++ ord).map(col): _*)
      }
    v.createOrReplaceTempView(table)
    v
  }

  /** The UNMERGED candidate rows over the effective delta set — every
    * delta's rows unioned with NO per-key min. Strictly cheaper than
    * [[view]] (no aggregate, no shuffle: a plain multi-root scan), and
    * strictly weaker: a key may appear once per delta that ever
    * offered a candidate for it, with non-minimal `ord` tuples
    * included. Correct ONLY for consumers where (a) any candidate row
    * is as good as the owner — e.g. `ord` is a pure function of the
    * key, as in o12s's (doc_id → simhash) seen set — and (b)
    * duplicate keys collapse downstream (the edge probe's contraction
    * `distinct()`). The r18 o12s stage diff motivated it: the stream
    * drive paid a corpus-mass merge aggregate per micro-batch to
    * build a probe input that never needed the merge.
    *
    * CALL-SITE INVENTORY (keep current — every new consumer must
    * satisfy (a)+(b) above, and DedupSpec's rawCandidates-misuse test
    * demonstrates what goes wrong when (a) fails):
    *  - CcLabelStream.maintain (streaming/CcLabelStream.scala): seen-
    *    side probe; (a) holds because simhash = f(doc_id) — pinned by
    *    StreamingSpec's refold-divergence guard — and (b) by the
    *    contraction's distinct().
    */
  def rawCandidates(cat: Catalog, table: String, keys: Seq[String],
                    ord: Seq[String]): DataFrame = {
    val d = effectiveDeltas(cat, table)
    if (d.ids.isEmpty) viewOf(cat, table, d, keys, ord)
    else cat.readBatches(d.listing).select((keys ++ ord).map(col): _*)
  }

  /** Fold `batch` into `table`: per `keys` group the table's merged
    * reading keeps the minimal `ord` tuple across all folds so far.
    * The batch may carry duplicate keys (the reduce collapses them)
    * and may be a redelivery (idempotent — and since round 16 a
    * redelivery whose candidates are all already-known is absorbed by
    * the read-time min without this call ever comparing them: the
    * fold is append-only, O(batch) write, no table read).
    *
    * `batchReduced = true` skips the per-key reduce: for a caller
    * whose batch is already one row per key (segmentOwners' groupBy,
    * IncrementalCc's disjoint new∪changed rows) the reduce is a
    * redundant second shuffle of the batch dictionary — with literals,
    * the dominant fold cost. The caller then OWNS the key-uniqueness
    * invariant the single-delta plain-scan view relies on (pinned by
    * the o11/o12 oracles and PropertySpec's random-batching property).
    */
  def fold(cat: Catalog, table: String, batch: DataFrame,
           keys: Seq[String], ord: Seq[String],
           nBuckets: Int = DefaultBuckets,
           batchReduced: Boolean = false): DataFrame = {
    val before = repair(cat, table)
    val n = nBucketsOf(cat, table, nBuckets)
    val base =
      if (batchReduced) batch.select((keys ++ ord).map(col): _*)
      else reduced(batch, keys, ord)
    // first fold persists the batch schema so a table whose every fold
    // appends nothing (duplicate-free corpus) stays servable by view
    val sf = schemaFile(cat, table)
    if (!cat.store.exists(sf)) cat.store.putAtomic(sf, base.schema.json)
    val delta = base.withColumn("__bucket", bucketCol(keys, n))
    val id = before.listing.newest + 1
    cat.writeBatch(before.listing, id, delta.write.partitionBy("__bucket"))
    val bs = bucketsOf(cat, before.listing.dir(id))
    // an empty batch writes no bucket directories — drop the empty
    // delta so a no-op fold is a physical no-op (view then serves the
    // merged survivors, or the _SCHEMA empty frame if nothing exists)
    val after =
      if (bs.isEmpty) { cat.store.delete(before.listing.dir(id)); before }
      else {
        val d = before.add(id, bs)
        val hot = bucketsOver(d, AutoCompactDeltas)
        if (hot.nonEmpty) compactBuckets(cat, d, hot, keys, ord)
        // Backstop (caught by the 50-fold soak spec): the heat rule
        // never fires for a sparse-batch stream (few keys per batch, so
        // no bucket's delta count crosses the dial), yet the table's
        // delta count — the reader's listing and footer cost — grows one
        // per fold. Past the same dial, merge every present bucket; the
        // merged mass is small for the same reason the rule never fired.
        // Skipped when the hot rule fired this fold, which would
        // otherwise rewrite its just-compacted delta again; that fold
        // reset the heat, so the next fold's backstop check runs.
        else if (d.ids.size > AutoCompactDeltas)
          compactBuckets(cat, d, bucketsOver(d, 0), keys, ord)
        else d
      }
    viewOf(cat, table, after, keys, ord)
  }

  /** Buckets present in more than `limit` of `d`'s deltas. */
  private def bucketsOver(d: Deltas, limit: Int): Seq[Int] =
    d.buckets.values.flatten.groupBy(identity)
      .collect { case (k, hits) if hits.size > limit => k }.toSeq.sorted

  /** Merge every delta into one — call after an ingest drive so
    * query-time consumers read the single-delta plain-scan view.
    * Tolerates a zero-delta table (every fold was empty): the view's
    * `_SCHEMA` empty frame is returned, nothing is written.
    */
  def compact(cat: Catalog, table: String, keys: Seq[String],
              ord: Seq[String]): DataFrame = {
    val d = repair(cat, table)
    viewOf(cat, table,
      if (d.ids.size > 1) compactBuckets(cat, d, bucketsOver(d, 0), keys, ord) else d,
      keys, ord)
  }

  /** Merge `buckets` across all of `d`'s deltas into one new delta and
    * drop their older per-bucket directories — the bucket-scoped
    * rewrite. Crash-safe WITHOUT a swap: the merged delta commits
    * first, and any old rows a crashed sweep leaves behind are
    * duplicates the read-time min absorbs until the next compaction
    * sweeps them. Writer-only (`d` comes from [[repair]], so every
    * on-disk delta is committed and the marker is resolved). Returns
    * the snapshot after the merge.
    */
  private def compactBuckets(cat: Catalog, d: Deltas, buckets: Seq[Int],
                             keys: Seq[String], ord: Seq[String]): Deltas =
    if (buckets.isEmpty || d.ids.size <= 1) d
    else {
      val id = d.listing.newest + 1
      // partition-pruned read of exactly the chosen buckets
      val src = cat.readBatches(d.listing)
        .filter(col("__bucket").isInCollection(buckets))
      cat.writeBatch(d.listing, id, reduced(src, keys, ord, Seq("__bucket"))
        .write.partitionBy("__bucket"))
      // every chosen bucket holds rows in some delta, so the merged
      // delta holds exactly `buckets`
      val left = d.ids.map { old =>
        val (swept, rest) = d.buckets(old).partition(buckets.contains)
        // a delta whose buckets are all swept carries no rows — drop it
        if (rest.isEmpty) cat.store.delete(d.listing.dir(old))
        else swept.foreach(k => cat.store.delete(s"${d.listing.dir(old)}/__bucket=$k"))
        old -> rest
      }.filter(_._2.nonEmpty)
      Deltas(d.listing.copy(ids = left.map(_._1)), left.toMap).add(id, buckets)
    }

  /** Takedown — the min-merge complement of AdditiveStats.retire. A
    * min is not invertible (the table no longer holds the runner-up),
    * so removing a batch's contribution REBUILDS the affected keys
    * from the surviving corpus instead of folding a negation:
    *
    *  - affected keys = registry rows whose OWNER satisfies
    *    `retiredOwner`. Keys owned by a surviving row are untouched —
    *    removing a non-owner occurrence never changes a min, so the
    *    rebuild work is O(occurrences of affected keys among
    *    `survivors`), not a corpus recompute;
    *  - `survivors` is the surviving corpus's candidate-owner frame
    *    (keys ++ ord columns, reduced or not — the reduce collapses);
    *    affected keys with no surviving occurrence drop out entirely,
    *    restoring recompute equivalence.
    *
    * Removal cannot ride the append-only log (a min never rises), so
    * this is the one full-table rewrite left in the algebra — rare by
    * contract (takedowns), staged through [[replaceAll]].
    */
  def rebuild(cat: Catalog, table: String, survivors: DataFrame,
              retiredOwner: org.apache.spark.sql.Column,
              keys: Seq[String], ord: Seq[String]): DataFrame = {
    val d = repair(cat, table)
    require(servable(cat, table, d),
      s"rebuild: registry table '$table' does not exist")
    // materialize the merged reading ONCE: reg feeds three subtrees of
    // the rewrite plan (affected, keep, and the semi-join's right
    // side) — left lazy, a multi-delta merge aggregate would recompute
    // per subtree inside one job
    val reg = graft.queries.Scratch.materialize(cat.spark,
      s"minmerge_rebuild_$table", viewOf(cat, table, d, keys, ord))
    // NULL-evaluating predicates would otherwise drop a row from BOTH
    // sides (filter(p) and filter(!p) each exclude NULL) — a live key
    // silently deleted on takedown. Treat NULL as not-retired.
    val retired = coalesce(retiredOwner, lit(false))
    val affected = reg.filter(retired)
    val keep = reg.filter(!retired)
    val rebuilt = reduced(
      survivors.join(affected.select(keys.map(col): _*), keys, "left_semi"),
      keys, ord)
    replaceFrom(cat, table, d, keep.unionByName(rebuilt), keys, ord)
  }

  /** Stage-write `next` as the table's new single delta under the
    * `_REBUILD` marker protocol — the one full-table rewrite in the
    * algebra, shared by [[rebuild]] (key-owner takedown) and
    * [[IncrementalCc.retire]] (graph takedown, where a vertex removal
    * can SPLIT a component and the caller computes the rebuilt labels
    * itself). `next` must be key-unique (the single-delta plain-scan
    * view's invariant), and MAY be empty — a takedown retiring every
    * remaining row commits a bucket-less target delta that both
    * [[effectiveDeltas]] (reader) and [[repair]] (writer) resolve
    * forward to the `_SCHEMA` empty frame. Accepts a servable
    * zero-delta table (all-empty ingest followed by a takedown is a
    * consistent no-op-shaped rewrite, r17 advisor). Crash contract:
    * the marker is written atomically BEFORE the delta — a crash
    * anywhere in the window leaves it, and readers apply it logically
    * while the next writer rolls forward (new delta committed: finish
    * the sweep) or back (drop the partial delta, old state intact).
    */
  private[pipeline] def replaceAll(cat: Catalog, table: String,
                                   next: DataFrame, keys: Seq[String],
                                   ord: Seq[String]): DataFrame = {
    val d = repair(cat, table)
    require(servable(cat, table, d),
      s"replaceAll: registry table '$table' does not exist")
    replaceFrom(cat, table, d, next, keys, ord)
  }

  /** [[replaceAll]] from the writer's snapshot `d`. */
  private def replaceFrom(cat: Catalog, table: String, d: Deltas,
                          next: DataFrame, keys: Seq[String],
                          ord: Seq[String]): DataFrame = {
    val n = nBucketsOf(cat, table, DefaultBuckets)
    val withB = next.select((keys ++ ord).map(col): _*)
      .withColumn("__bucket", bucketCol(keys, n))
    // an empty rewrite target leaves the table serving through the
    // persisted schema — guarantee one exists even for a table whose
    // life began before _SCHEMA persistence
    val sf = schemaFile(cat, table)
    if (!cat.store.exists(sf))
      cat.store.putAtomic(sf,
        next.select((keys ++ ord).map(col): _*).schema.json)
    val id = d.listing.newest + 1
    cat.store.putAtomic(rebuildMarker(cat, table), id.toString)
    val target = cat.writeBatch(d.listing, id,
      withB.write.partitionBy("__bucket"))
    d.ids.foreach(old => cat.store.delete(d.listing.dir(old)))
    cat.store.delete(rebuildMarker(cat, table))
    viewOf(cat, table, withBuckets(cat, target.copy(ids = Seq(id))), keys, ord)
  }
}
