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
  * Crash contract (reader/writer split, round 17 — r16 advisor):
  * READERS ([[view]]/[[exists]]) apply the contract LOGICALLY through
  * [[effectiveDeltas]] — uncommitted deltas excluded, an unresolved
  * `_REBUILD` marker applied as a roll-forward or roll-back READING,
  * bucket-less shells skipped — and delete nothing, so a reader
  * racing an in-process writer's in-flight fold can never sweep the
  * writer's partial output. The marker reading is decided by whether
  * the TARGET delta directory is COMMITTED, over the raw listing
  * rather than the bucket-filtered one (round 18 — r17 advisor): a
  * rebuild whose replacement is EMPTY (a takedown retiring every
  * remaining row) commits a bucket-less target, and readers must
  * roll FORWARD to the empty `_SCHEMA` frame exactly as the writer's
  * [[repair]] will, not roll back and resurrect retired rows.
  * WRITERS ([[fold]]/[[compact]]/[[rebuild]]/[[replaceAll]]) run
  * [[repair]] at entry — physically resolving the marker and purging
  * `_SUCCESS`-less or bucket-less delta directories (the
  * [[IncrementalIngest.purgePartialBatches]] pattern) — under the
  * Catalog's single-writer contract, same as every incremental
  * writer. [[rebuild]] (takedown) is the one operation that must
  * REMOVE rows, which append-only storage cannot express — it writes
  * the rebuilt table as one fresh delta, then sweeps all older
  * deltas under the `_REBUILD` marker that the next entry rolls
  * forward (new delta committed: finish the sweep) or back (not
  * committed: drop the partial delta, old state intact).
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

  private def committed(cat: Catalog, dir: String): Boolean =
    cat.store.exists(s"$dir/_SUCCESS")

  private def hasBuckets(cat: Catalog, dir: String): Boolean =
    cat.store.listDirs(dir).exists(_.startsWith("__bucket="))

  /** Paths of the table's `__delta=N` directories (any state). */
  private def deltaDirs(cat: Catalog, table: String): Seq[String] = {
    val r = root(cat, table)
    cat.store.listDirs(r).filter(_.startsWith("__delta=")).map(n => s"$r/$n")
  }

  private def deltaId(path: String): Long =
    path.substring(path.lastIndexOf('/') + 1).stripPrefix("__delta=").toLong

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
          s"__delta= directory before removing the marker by hand")))
    }
  }

  /** The delta set a READER should see — the crash contract applied
    * logically, deleting nothing: uncommitted (`_SUCCESS`-less) deltas
    * and bucket-less shells are skipped, and an unresolved `_REBUILD`
    * marker is applied as a reading. The roll-forward/roll-back choice
    * is decided by whether the TARGET delta is COMMITTED — checked
    * over the raw directory listing, NOT the bucket-filtered list,
    * because a rebuild to an EMPTY table (takedown of every remaining
    * row) commits a bucket-less target: committed target → the
    * roll-forward view (pre-rebuild deltas excluded — reading them
    * would resurrect retired keys through the min; an all-swept empty
    * target serves the `_SCHEMA` frame); target not committed → the
    * roll-back view, the old state, with the partial target already
    * excluded as uncommitted. This matches [[repair]]'s physical
    * resolution bit for bit — the reader/writer agreement the r17
    * advisor found broken for empty rebuild targets.
    */
  private def effectiveDeltas(cat: Catalog, table: String): Seq[String] = {
    val raw = deltaDirs(cat, table)
    val dirs = raw.filter(d => committed(cat, d) && hasBuckets(cat, d))
    markerId(cat, table) match {
      case Some(j) if raw.exists(d => deltaId(d) == j && committed(cat, d)) =>
        dirs.filter(deltaId(_) >= j)
      case _ => dirs
    }
  }

  /** WRITER-ONLY crash repair (driver-side LISTs + deletes): finish or
    * roll back an interrupted [[rebuild]] sweep, then purge
    * `_SUCCESS`-less delta directories (crashed fold/compact writes —
    * safe to drop because the writing call never returned, so an
    * at-least-once upstream redelivers, and a dropped compact output
    * only defers the merge) and committed bucket-less shells (a
    * crashed empty-fold cleanup, a fully-swept compaction source, or
    * a rolled-forward EMPTY rebuild target — they carry no rows).
    * Runs only from [[fold]]/[[compact]]/[[rebuild]]/[[replaceAll]],
    * which hold the Catalog's single-writer contract; readers never
    * repair (r16 advisor — a reader racing an in-flight writer must
    * not sweep its output).
    */
  private def repair(cat: Catalog, table: String): Unit = {
    markerId(cat, table).foreach { j =>
      val dirs = deltaDirs(cat, table)
      val target = dirs.find(deltaId(_) == j)
      if (target.exists(committed(cat, _)))
        // roll forward: the rebuilt table committed; finish the sweep
        dirs.filter(deltaId(_) < j).foreach(cat.store.delete)
      else
        // roll back: rebuild crashed mid-write; old state is intact
        target.foreach(cat.store.delete)
      cat.store.delete(rebuildMarker(cat, table))
    }
    deltaDirs(cat, table)
      .filter(d => !committed(cat, d) || !hasBuckets(cat, d))
      .foreach(cat.store.delete)
  }

  /** Whether `table` holds at least one effective delta. Pure read —
    * no repair, no deletion (see [[effectiveDeltas]]).
    */
  def exists(cat: Catalog, table: String): Boolean =
    effectiveDeltas(cat, table).nonEmpty

  /** Whether `table` is SERVABLE by [[view]]: it holds effective
    * deltas, or a persisted `_SCHEMA` lets the zero-delta empty frame
    * serve (a duplicate-free corpus, or a takedown that retired every
    * row). Writer entry points gate on this rather than [[exists]] so
    * a retire arriving at an all-empty table no-ops instead of
    * throwing (r17 advisor).
    */
  private def servable(cat: Catalog, table: String): Boolean =
    exists(cat, table) || cat.store.exists(schemaFile(cat, table))

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
           ord: Seq[String]): DataFrame = {
    val dirs = effectiveDeltas(cat, table)
    val v =
      if (dirs.isEmpty) {
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
        // basePath: the delta paths themselves look like partition
        // directories (__delta=N), so a multi-root read must anchor
        // partition inference at the table root
        val back = cat.spark.read
          .option("basePath", root(cat, table))
          .parquet(dirs: _*)
        if (dirs.size == 1) back.select((keys ++ ord).map(col): _*)
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
    val dirs = effectiveDeltas(cat, table)
    if (dirs.isEmpty) view(cat, table, keys, ord)
    else cat.spark.read
      .option("basePath", root(cat, table))
      .parquet(dirs: _*)
      .select((keys ++ ord).map(col): _*)
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
    repair(cat, table)
    val n = nBucketsOf(cat, table, nBuckets)
    val base =
      if (batchReduced) batch.select((keys ++ ord).map(col): _*)
      else reduced(batch, keys, ord)
    // first fold persists the batch schema so a table whose every fold
    // appends nothing (duplicate-free corpus) stays servable by view
    val sf = schemaFile(cat, table)
    if (!cat.store.exists(sf)) cat.store.putAtomic(sf, base.schema.json)
    val delta = base.withColumn("__bucket", bucketCol(keys, n))
    val existing = deltaDirs(cat, table)
    val id = existing.map(deltaId).foldLeft(-1L)(math.max) + 1
    val dir = s"${root(cat, table)}/__delta=$id"
    cat.store.writeParquet(delta.write.mode("overwrite").partitionBy("__bucket"), dir)
    // an empty batch writes no bucket directories — drop the empty
    // delta so a no-op fold is a physical no-op (view then serves the
    // merged survivors, or the _SCHEMA empty frame if nothing exists)
    if (!hasBuckets(cat, dir)) cat.store.delete(dir)
    else {
      val hot = bucketsOver(cat, table, AutoCompactDeltas)
      if (hot.nonEmpty) compactBuckets(cat, table, hot, keys, ord)
      // Backstop (round 18 — caught by the 50-fold soak spec): the
      // per-bucket heat rule can NEVER fire for a sparse-batch stream
      // (a batch with few keys touches few of the nBuckets buckets, so
      // no bucket's delta count crosses the dial) — yet the TABLE's
      // delta count still grows one per fold, and that count is the
      // reader's listing + parquet-footer cost even when every key's
      // merge width stays 1. Bound it with the same dial: once the
      // effective delta count exceeds AutoCompactDeltas, merge every
      // present bucket into one delta. In the dense regime this never
      // fires (per-bucket count ≈ delta count, so the hot rule fires
      // first and subsumes it); in the sparse regime the merged mass
      // is small for the same reason the rule never fired — few keys.
      // Checked only when the hot rule did NOT fire this fold (r18
      // advisor): a mixed-regime fold tripping both rules would
      // otherwise re-read and re-write the just-compacted hot delta
      // in the same fold — double write amplification for nothing.
      // The bound survives the skip: a fold that compacts hot buckets
      // resets their heat, so the very next fold's hot rule is quiet
      // and the backstop gets its check then.
      else if (effectiveDeltas(cat, table).size > AutoCompactDeltas)
        compactBuckets(cat, table, bucketsOver(cat, table, 0), keys, ord)
    }
    view(cat, table, keys, ord)
  }

  /** Buckets present in more than `limit` effective deltas. */
  private def bucketsOver(cat: Catalog, table: String,
                          limit: Int): Seq[Int] = {
    val counts = scala.collection.mutable.Map.empty[Int, Int]
    effectiveDeltas(cat, table).foreach { d =>
      cat.store.listDirs(d).filter(_.startsWith("__bucket=")).foreach { b =>
        val k = b.stripPrefix("__bucket=").toInt
        counts(k) = counts.getOrElse(k, 0) + 1
      }
    }
    counts.filter(_._2 > limit).keys.toSeq.sorted
  }

  /** Merge every delta into one — call after an ingest drive so
    * query-time consumers read the single-delta plain-scan view.
    * Tolerates a zero-delta table (every fold was empty): the view's
    * `_SCHEMA` empty frame is returned, nothing is written.
    */
  def compact(cat: Catalog, table: String, keys: Seq[String],
              ord: Seq[String]): DataFrame = {
    repair(cat, table)
    if (deltaDirs(cat, table).size > 1)
      compactBuckets(cat, table, bucketsOver(cat, table, 0), keys, ord)
    view(cat, table, keys, ord)
  }

  /** Merge `buckets` across all deltas into one new delta and drop
    * their older per-bucket directories — the bucket-scoped rewrite.
    * Crash-safe WITHOUT a swap: the merged delta commits first, and
    * any old rows a crashed sweep leaves behind are duplicates the
    * read-time min absorbs until the next compaction sweeps them.
    * Writer-only (callers ran [[repair]], so every on-disk delta is
    * committed and the marker is resolved).
    */
  private def compactBuckets(cat: Catalog, table: String,
                             buckets: Seq[Int], keys: Seq[String],
                             ord: Seq[String]): Unit = {
    if (buckets.isEmpty) return
    val before = deltaDirs(cat, table).filter(committed(cat, _))
    if (before.size <= 1) return
    val id = before.map(deltaId).max + 1
    val dir = s"${root(cat, table)}/__delta=$id"
    // partition-pruned read of exactly the chosen buckets
    val src = cat.spark.read
      .option("basePath", root(cat, table))
      .parquet(before: _*)
      .filter(col("__bucket").isInCollection(buckets))
    cat.store.writeParquet(reduced(src, keys, ord, Seq("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket"), dir)
    before.foreach { d =>
      buckets.foreach { k =>
        cat.store.delete(s"$d/__bucket=$k")
      }
      // a delta whose buckets are all swept carries no rows — drop it
      if (!hasBuckets(cat, d)) cat.store.delete(d)
    }
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
    repair(cat, table)
    require(servable(cat, table),
      s"rebuild: registry table '$table' does not exist")
    // materialize the merged reading ONCE: reg feeds three subtrees of
    // the rewrite plan (affected, keep, and the semi-join's right
    // side) — left lazy, a multi-delta merge aggregate would recompute
    // per subtree inside one job
    val reg = graft.queries.Scratch.materialize(cat.spark,
      s"minmerge_rebuild_$table", view(cat, table, keys, ord))
    // NULL-evaluating predicates would otherwise drop a row from BOTH
    // sides (filter(p) and filter(!p) each exclude NULL) — a live key
    // silently deleted on takedown. Treat NULL as not-retired.
    val retired = coalesce(retiredOwner, lit(false))
    val affected = reg.filter(retired)
    val keep = reg.filter(!retired)
    val rebuilt = reduced(
      survivors.join(affected.select(keys.map(col): _*), keys, "left_semi"),
      keys, ord)
    replaceAll(cat, table, keep.unionByName(rebuilt), keys, ord)
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
    repair(cat, table)
    require(servable(cat, table),
      s"replaceAll: registry table '$table' does not exist")
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
    val id = deltaDirs(cat, table).map(deltaId).foldLeft(-1L)(math.max) + 1
    cat.store.putAtomic(rebuildMarker(cat, table), id.toString)
    cat.store.writeParquet(withB.write.mode("overwrite").partitionBy("__bucket"),
      s"${root(cat, table)}/__delta=$id")
    deltaDirs(cat, table).filter(deltaId(_) < id).foreach(cat.store.delete)
    cat.store.delete(rebuildMarker(cat, table))
    view(cat, table, keys, ord)
  }
}
