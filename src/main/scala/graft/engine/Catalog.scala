package graft.engine

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Order-independent table checksum — the migration-validation
  * primitive for verifying a 100 TB copy without sorting or moving
  * either side: both clusters scan locally and compare two numbers
  * (row count + commutative DECIMAL-exact sum of a per-row content
  * hash). One column list drives BOTH the Spark expression and the
  * DuckDB twin SQL, so the two renderings cannot drift.
  *
  * Column rendering is pinned to types both engines print identically:
  * integers, booleans, strings, dates; timestamps render at date
  * granularity (time-of-day printf differs across engines). Floats /
  * doubles / decimals are REJECTED loudly — their shortest-repr string
  * forms differ across engines, and a checksum that depends on printf
  * details is not a contract.
  */
object Checksum {
  sealed trait Kind
  /** integers / booleans — `CAST(c AS VARCHAR)` prints identically. */
  case object IntLike extends Kind
  case object Str extends Kind
  /** DATE column, rendered ISO. */
  case object DateLike extends Kind
  /** TIMESTAMP column, rendered at DATE granularity. */
  case object TsDay extends Kind

  // String columns are length-prefixed ('S<len>:<value>', NULL -> 'N'):
  // a bare delimiter join would hash ('a|b','c') and ('a','b|c')
  // identically, and a literal '<null>' string would collide with NULL
  // — both silent holes in a primitive whose job is detecting exactly
  // such shifts. Non-string kinds render to character sets that cannot
  // contain the delimiter, so the coalesce sentinel stays unambiguous.
  private def sparkRender(c: String, k: Kind): String = k match {
    case Str =>
      s"case when $c is null then 'N' " +
        s"else concat('S', length($c), ':', $c) end"
    case TsDay   => s"coalesce(cast(to_date($c) as string), '<null>')"
    case _       => s"coalesce(cast($c as string), '<null>')"
  }
  private def duckRender(c: String, k: Kind): String = k match {
    case Str =>
      s"CASE WHEN $c IS NULL THEN 'N' " +
        s"ELSE 'S' || CAST(length($c) AS VARCHAR) || ':' || $c END"
    case TsDay   => s"COALESCE(CAST(CAST($c AS DATE) AS VARCHAR), '<null>')"
    case _       => s"COALESCE(CAST($c AS VARCHAR), '<null>')"
  }

  /** The hash-sum is reduced modulo the largest prime below 2^53 so the
    * final value is EXACT in a double at any row count: the raw
    * DECIMAL sum of ~1e9-bounded row hashes passes 2^53 around a
    * billion rows, after which a double cast would round away
    * low-order bits — i.e. lose detection power at precisely the scale
    * the primitive exists for. Modular reduction keeps every bit of
    * every row hash significant (a corruption escapes only if its net
    * delta is ≡ 0 mod P, ~1/9e15).
    */
  val SumPrime = 9007199254740881L

  private def requireHashable(df: DataFrame, cols: Seq[(String, Kind)]): Unit =
    cols.foreach { case (c, _) =>
      val dt = df.schema(c).dataType.typeName
      require(dt != "double" && dt != "float" && !dt.startsWith("decimal"),
        s"checksum over $c: $dt excluded by design (cross-engine printf)")
    }

  /** One-row `(n_rows, checksum)` frame over `df`. Every column is
    * coalesced to a sentinel BEFORE concat: concat_ws would silently
    * skip a NULL (and its delimiter), making ('a', NULL, 'b') hash like
    * ('a', 'b', NULL) and diverging from the oracle's NULL-propagating
    * `||`.
    */
  private def sumExpr: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(sum(col("row_hash").cast(
        org.apache.spark.sql.types.DecimalType(38, 0))),
      lit(SumPrime).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .cast("double").as("checksum")
  }

  def of(df: DataFrame, cols: Seq[(String, Kind)]): DataFrame = {
    requireHashable(df, cols)
    val row = cols.map { case (c, k) => sparkRender(c, k) }.mkString(", ")
    df.selectExpr(s"graft_strhash(concat_ws('|', $row)) AS row_hash")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        sumExpr)
  }

  /** The DuckDB twin for the same column list (the t5-proven
    * list_reduce fold = graft_strhash bit-for-bit).
    */
  def duckSql(table: String, cols: Seq[(String, Kind)]): String = {
    val row = cols.map { case (c, k) => duckRender(c, k) }
      .mkString(" || '|' || ")
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(regexp_extract_all($row, '(?s).'),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |    (acc, c) -> (acc * 31 + c) % 1000000007)) AS DECIMAL(38,0))
       |    % $SumPrime AS DOUBLE) AS checksum
       |FROM $table""".stripMargin
  }

  /** Per-group checksums — the second step of copy validation: when
    * [[of]]'s whole-table numbers disagree, compare one checksum row
    * per partition key to locate WHICH partition diverged, instead of
    * re-reading 100 TB. Same contract as [[of]] (one column list, same
    * hash fold, floats rejected); `groupSpark` is the grouping
    * expression in Spark SQL and must be mirrored by `groupDuck` in
    * [[duckSqlBy]] — the pair is the caller's partition-key rendering
    * (e.g. `year(l_shipdate)` both sides, cast to BIGINT).
    */
  def by(df: DataFrame, groupSpark: String, cols: Seq[(String, Kind)]): DataFrame = {
    requireHashable(df, cols)
    val row = cols.map { case (c, k) => sparkRender(c, k) }.mkString(", ")
    df.selectExpr(s"$groupSpark AS group_key",
        s"graft_strhash(concat_ws('|', $row)) AS row_hash")
      .groupBy(org.apache.spark.sql.functions.col("group_key"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        sumExpr)
      // Spark's default orderBy is NULLS FIRST; duckSqlBy pins DuckDB
      // (default NULLS LAST) to the same rule so a NULL grouping key
      // cannot reorder the two engines' outputs against each other.
      .orderBy("group_key")
  }

  /** The DuckDB twin of [[by]]. */
  def duckSqlBy(table: String, groupDuck: String,
                cols: Seq[(String, Kind)]): String = {
    val row = cols.map { case (c, k) => duckRender(c, k) }
      .mkString(" || '|' || ")
    s"""SELECT $groupDuck AS group_key, COUNT(*) AS n_rows,
       |  CAST(CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(regexp_extract_all($row, '(?s).'),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |    (acc, c) -> (acc * 31 + c) % 1000000007)) AS DECIMAL(38,0))
       |    % $SumPrime AS DOUBLE) AS checksum
       |FROM $table GROUP BY 1 ORDER BY group_key NULLS FIRST""".stripMargin
  }
}

/** Session-wide registry of mutable storage roots (every constructed
  * warehouse). Lives in the engine layer — `Scratch.memoized`'s
  * immutability guard consults it, keeping the dependency direction
  * queries→engine only. Paths are canonicalized so relative and
  * absolute spellings of the same dir agree.
  */
object Catalog {
  private val roots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // single-writer registry: canonical warehouse roots currently open in
  // this process (see the guard in the Catalog constructor)
  private val openRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[engine] def registerMutableRoot(path: String): Unit = {
    // both spellings: a key may embed the path as the caller wrote it
    // (e.g. relative) or fully resolved
    roots.add(path): Unit
    roots.add(new java.io.File(path).getCanonicalPath): Unit
  }

  private[engine] def claimRoot(canonical: String): Boolean =
    openRoots.add(canonical)
  private[engine] def releaseRoot(canonical: String): Unit =
    openRoots.remove(canonical): Unit

  /** Characters that continue a path segment: an occurrence of a root
    * followed by one of these is a LONGER name ('/data/w' inside
    * '/data/warehouse-ro'), not a reference to the root.
    */
  private def segmentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '.' || c == '_' || c == '-'

  /** Whether `key` (any string that may embed a path) references a
    * registered mutable root — matched on a boundary: the occurrence
    * must be followed by end-of-string, a path separator, or a
    * non-segment delimiter (memo keys use the `name:dir:extra`
    * convention, so ':' and friends count as boundaries). '/data/w'
    * matches neither '/data/warehouse-ro' nor 'x:/data/w-ro:y', but
    * does match 'grams:/data/w:suffix'.
    */
  def referencesMutableRoot(key: String): Boolean = {
    val it = roots.iterator()
    var hit = false
    while (!hit && it.hasNext) {
      val r = it.next()
      var i = key.indexOf(r)
      while (!hit && i >= 0) {
        val j = i + r.length
        hit = j == key.length || !segmentChar(key.charAt(j))
        i = key.indexOf(r, i + 1)
      }
    }
    hit
  }

  /** Directory key of the ingest writers' batches (`__batch_id=N`). */
  val BatchKey = "__batch_id"
  /** Directory key of the `MinMergeStats` delta log (`__delta=N`). */
  val DeltaKey = "__delta"

  /** One listing of a per-batch table: the ids of its committed
    * (`ids`) and uncommitted (`partial`) `key=N` directories under
    * `root`, ascending.
    */
  final case class Batches(root: String, key: String, ids: Seq[Long],
                           partial: Seq[Long]) {
    def dir(id: Long): String = s"$root/$key=$id"
    /** The newest committed id, or -1 when none is committed. */
    def newest: Long = ids.foldLeft(-1L)(math.max)
    /** This listing with `id` committed. */
    def +(id: Long): Batches =
      copy(ids = (ids :+ id).distinct.sorted, partial = partial.filterNot(_ == id))
  }
}

/** Name → table registry over a parquet warehouse directory
  * (SURVEY.md §2.1 S6-S7, S10-S11; §2.10 M2).
  *
  * The reference keeps all tables in one embedded DuckDB file and
  * rebuilds with DROP-IF-EXISTS + CTAS (the src/models modules). The Spark
  * analog: one directory per table under a warehouse root,
  * `mode("overwrite")` subsuming the drop, and a temp view per table so
  * both the DataFrame API and `spark.sql` address the catalog. At scale
  * the warehouse root is an object-store prefix and saves pass
  * `partitionBy` so downstream scans prune partitions.
  *
  * The DuckDB file also means a reader never sees half of a write. Here
  * that guarantee is the Catalog's, per commit protocol: the compaction
  * swap, the versioned pointer, and the per-batch layout — a table that
  * is a set of numbered directories (`__batch_id=N`, `__delta=N`), each
  * live only once its `_SUCCESS` exists. [[batches]] lists the live
  * ones, [[readBatches]] reads exactly those, [[purgeBatches]] deletes
  * the rest at a writer's entry and [[writeBatch]] commits one more.
  */
final class Catalog private[graft] (val spark: SparkSession,
    val warehouse: String, private[graft] val store: Store) {

  def this(spark: SparkSession, warehouse: String) =
    this(spark, warehouse, LocalStore)

  // a warehouse is mutable by definition — make Scratch.memoized's
  // immutability guard aware of it (user-supplied paths included)
  Catalog.registerMutableRoot(warehouse)

  // ---- single-writer guard -------------------------------------------
  // Every mutating operator here (compact's two-rename swap,
  // saveVersioned's pointer flip, purgeBatches' delete of
  // _SUCCESS-less batch dirs) assumes exactly one session owns the
  // warehouse; a concurrent second writer could have its in-flight work
  // swapped aside or purged mid-write. The assumption is converted into
  // a loud failure at open: in-process via a registry of open canonical
  // roots, cross-process via a pid lock file (`_LOCK`) whose holder
  // must still be alive — a dead holder's lock is stale (crashed
  // session) and is stolen. Release with [[close]] when handing the
  // warehouse to another session.
  private val canonicalRoot = new java.io.File(warehouse).getCanonicalPath
  private val lockFile = s"$warehouse/_LOCK"
  if (!Catalog.claimRoot(canonicalRoot))
    throw new IllegalStateException(
      s"Catalog: warehouse '$warehouse' is already open in this process — " +
        "warehouses are single-writer (compact/saveVersioned/incremental " +
        "ingest assume exclusive ownership); close() the other Catalog first")
  try {
    val selfPid = ProcessHandle.current().pid()
    def startOf(h: ProcessHandle): Long =
      h.info().startInstant()
        .map[java.lang.Long](i => java.lang.Long.valueOf(i.toEpochMilli))
        .orElse(java.lang.Long.valueOf(0L)).longValue()
    if (store.exists(lockFile)) {
      // Lock format `pid:startEpochMillis` — the start time pins the
      // holder's IDENTITY, not just its number: pids recycle, and a
      // lock whose dead holder's pid was reassigned to an unrelated
      // live process would otherwise read as held forever (observed as
      // a transient s7 bench failure on a fixed /tmp warehouse path).
      // A recorded start that does not match the live process's start
      // is a recycled pid ⇒ the lock is stale and stolen. Legacy
      // pid-only locks (no start recorded) keep the conservative
      // pid-alive check.
      val txt = scala.util.Try(store.read(lockFile)).getOrElse("")
      // Mixed-version hazard (accepted, documented): a build that
      // predates the `pid:start` format parses this whole file with
      // trim.toLong, throws, reads holder=None, and steals a lock a
      // NEW-build process holds live. Single-writer across builds is
      // only guaranteed once every session on a warehouse runs a
      // format-aware build — do not share a live warehouse across the
      // format boundary.
      val parts = txt.split(":")
      val holder = scala.util.Try(parts(0).toLong).toOption
      // A recorded start of 0 means the writer could not read its own
      // startInstant — treat it exactly like a legacy pid-only lock
      // (conservative pid-alive check), NOT as a mismatch to steal:
      // the holder's real start is never 0, so comparing would call
      // every such live lock recycled.
      val heldStart = scala.util.Try(parts(1).toLong).toOption.filter(_ != 0L)
      val liveForeign = holder.exists(p => p != selfPid && {
        val h = ProcessHandle.of(p)
        h.map[java.lang.Boolean](_.isAlive)
          .orElse(java.lang.Boolean.FALSE).booleanValue() &&
          heldStart.forall(st =>
            h.map[java.lang.Boolean](ph => java.lang.Boolean.valueOf(
              startOf(ph) == st))
              .orElse(java.lang.Boolean.FALSE).booleanValue())
      })
      if (liveForeign)
        throw new IllegalStateException(
          s"Catalog: warehouse '$warehouse' is locked by live process " +
            s"${holder.get} ($lockFile) — warehouses are " +
            "single-writer; close() it there or wait for that session")
    }
    store.putAtomic(lockFile, s"$selfPid:${startOf(ProcessHandle.current())}")
  } catch {
    case t: Throwable => Catalog.releaseRoot(canonicalRoot); throw t
  }

  // the exact `pid:start` text this instance wrote — close() only
  // deletes a _LOCK that still carries it (a successor's lock on the
  // same path is that successor's property, not ours)
  private def selfLockText: String = {
    val self = ProcessHandle.current()
    val start = self.info().startInstant()
      .map[java.lang.Long](i => java.lang.Long.valueOf(i.toEpochMilli))
      .orElse(java.lang.Long.valueOf(0L)).longValue()
    s"${self.pid()}:$start"
  }

  // one release per instance: close() after dropWarehouse() (the
  // natural try/finally around a --rebuild) or a double-close must not
  // release the SUCCESSOR Catalog's claim/_LOCK on the same root
  @volatile private var released = false

  /** Release the single-writer lock (in-process claim + `_LOCK` file)
    * so another session may open this warehouse. Reads of already-
    * materialized tables remain valid; further mutation through this
    * instance is a caller error (unenforced — closing is a handoff).
    * Idempotent, and a no-op after [[dropWarehouse]].
    */
  def close(): Unit = synchronized {
    if (!released) {
      released = true
      try {
        if (scala.util.Try(store.read(lockFile)).toOption.contains(selfLockText))
          store.delete(lockFile)
      } finally Catalog.releaseRoot(canonicalRoot)
    }
  }

  /** Order-independent checksum of a warehouse table (see [[Checksum]]). */
  def checksum(name: String, cols: Seq[(String, Checksum.Kind)]): DataFrame =
    Checksum.of(table(name), cols)

  /** S6/M2: CTAS — materialize and (re-)register, snappy-compressed.
    * `sortBy` reproduces the reference's ORDER BY-in-CTAS clustering
    * (O1: layout, not semantics) and tightens parquet min/max row-group
    * stats for scan skipping; `partitionBy` is the 100 TB knob the
    * reference lacks.
    */
  def save(name: String, df: DataFrame, sortBy: Seq[String] = Nil,
           partitionBy: Seq[String] = Nil): DataFrame = {
    val clustered = if (sortBy.nonEmpty) df.sortWithinPartitions(
      sortBy.map(org.apache.spark.sql.functions.col): _*) else df
    val writer = clustered.write.mode("overwrite")
      .option("compression", "snappy")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(s"$warehouse/$name")
    // An unpartitioned table's schema is the frame's own, and the file
    // source makes every field nullable either way (GoldenSpec checks
    // the two schemas are equal). A partitioned layout takes its data
    // schema from a footer ([[Parquet]]); path discovery moves the
    // partition columns to the end and types them from the directory
    // names.
    val back = Parquet.read(spark, Seq(s"$warehouse/$name"),
      schema = Option.when(partitionBy.isEmpty)(df.schema))
    back.createOrReplaceTempView(name)
    back
  }

  /** Append rows to an existing table (creating it if absent) and
    * re-register — the incremental-ingest primitive `save`'s overwrite
    * semantics can't express. `partitionBy` lays batches out under
    * partition directories (e.g. the o10 inverted file partitioned by
    * cell), so probes partition-prune and later batches only add files
    * under their own partitions.
    */
  def append(name: String, df: DataFrame,
             partitionBy: Seq[String] = Nil): DataFrame = {
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$warehouse/$name")
    val back = Parquet.read(spark, s"$warehouse/$name")
    back.createOrReplaceTempView(name)
    back
  }

  // ---- compaction swap -----------------------------------------------
  // [[compact]], [[compactPartitions]] and [[saveStaged]] replace a live
  // directory X (the table root or a partition leaf) by a staged copy:
  //   1. write the in-progress marker `<table>.__compacting`
  //   2. write the replacement to `.X.__compact_tmp`
  //   3. rename X → `.X.__compact_old`, then `.X.__compact_tmp` → X
  //   4. delete `.X.__compact_old`, then the marker
  // Staged and moved-aside copies carry a leading '.', which Spark's
  // file index skips, so partition discovery never reads them as
  // partition values. The marker is written before anything else and
  // removed last, so every crash state carries it, and the first
  // operator to touch the table after a crash ([[table]], [[exists]],
  // or a compaction entry point) gates the heal on that one stat.

  private val Staged = ".__compact_tmp"
  private val MovedAside = ".__compact_old"

  private def compactMarker(name: String): String =
    s"$warehouse/${name.split('/').head}.__compacting"

  /** `dir`'s hidden sibling `.<base><suffix>`. */
  private def aside(dir: String, suffix: String): String = {
    val i = dir.lastIndexOf('/')
    s"${dir.substring(0, i)}/.${dir.substring(i + 1)}$suffix"
  }

  /** Heal a crashed swap of `name`'s table if its marker is present:
    * at every level of the table's tree (the warehouse entry and each
    * partition directory), a staged copy is deleted, and a moved-aside
    * copy is deleted when its live directory exists (the swap
    * completed) or renamed back when it does not (roll back to the
    * pre-swap table). Then the marker goes.
    */
  private def healIfMarked(name: String): Unit = {
    val marker = compactMarker(name)
    if (store.exists(marker)) {
      val root = name.split('/').head
      // the live names left in `parent` after resolving its debris
      def heal(parent: String, names: Seq[String]): Seq[String] = {
        def debris(suffix: String) =
          names.filter(n => n.startsWith(".") && n.endsWith(suffix))
        debris(Staged).foreach(n => store.delete(s"$parent/$n"))
        val restored = debris(MovedAside).flatMap { n =>
          val live = n.substring(1, n.length - MovedAside.length)
          if (names.contains(live)) { store.delete(s"$parent/$n"); None }
          else { store.rename(s"$parent/$n", s"$parent/$live"); Some(live) }
        }
        names.filterNot(_.startsWith(".")) ++ restored
      }
      def walk(dir: String): Unit =
        heal(dir, store.listDirs(dir)).filter(_.contains("="))
          .foreach(n => walk(s"$dir/$n"))
      heal(warehouse, store.listDirs(warehouse).filter(n =>
          n == root || n == s".$root$Staged" || n == s".$root$MovedAside"))
        .foreach(n => walk(s"$warehouse/$n"))
      store.delete(marker)
    }
  }

  /** Run `body` (swaps of directories inside `name`'s table) under the
    * table's in-progress marker. No `finally`: a failed body leaves the
    * marker, exactly as a crash would, and the next toucher heals.
    */
  private def marked(name: String)(body: => Unit): Unit = {
    store.putAtomic(compactMarker(name), "")
    body
    store.delete(compactMarker(name))
  }

  /** Steps 2-4 of the swap for `name` (caller holds the marker):
    * `write` receives the staging path.
    */
  private def swap(name: String)(write: String => Unit): Unit = {
    val dir = s"$warehouse/$name"
    write(aside(dir, Staged))
    store.rename(dir, aside(dir, MovedAside))
    store.rename(aside(dir, Staged), dir)
    store.delete(aside(dir, MovedAside))
  }

  /** Read `name` back and (re-)register it — partition directories
    * ('table/part=value') are not table names and stay unregistered.
    */
  private[graft] def reread(name: String): DataFrame = {
    val back = Parquet.read(spark, s"$warehouse/$name")
    if (!name.exists(c => c == '/' || c == '=')) back.createOrReplaceTempView(name)
    back
  }

  /** Whether `name` has ever been materialized in this warehouse. */
  def exists(name: String): Boolean = {
    healIfMarked(name)
    store.exists(s"$warehouse/$name")
  }

  /** Small-file compaction — the warehouse-hygiene operator every
    * incremental writer eventually needs: appends and per-batch
    * partition overwrites (IncrementalIngest/IncrementalRollup,
    * streaming sinks) accumulate files far smaller than a scan-efficient
    * unit, and at 100 TB the file count itself becomes the bottleneck
    * (listing, footer reads, task scheduling). Rewrites the table into
    * `ceil(bytes / targetBytes)` files (preserving `sortBy` clustering
    * when given). The swap is two renames, so it is not atomic — but it
    * IS self-healing: every crash state carries the in-progress marker,
    * and the next reader or writer of the table restores the pre- or
    * the post-compaction directory (see the swap notes above; every
    * crash point is enumerated by CrashPointSpec). Content-invariance
    * is the caller-visible contract — [[Checksum]] before == after.
    * Returns whether any directory was rewritten; only then is the
    * table read back and its view re-registered.
    */
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024,
              sortBy: Seq[String] = Nil): Boolean = {
    healIfMarked(name)
    // A partition-keyed table must be compacted per partition directory
    // (pass 'table/part=value' as the name): rewriting the root would
    // silently flatten the partition layout and downstream scans would
    // lose partition pruning.
    require(!store.listDirs(s"$warehouse/$name").exists(_.contains("=")),
      s"compact($name): partitioned table — compact one partition dir at a time")
    rewriteAll(name, Seq(name), targetBytes, sortBy)
  }

  /** Rewrite each of `dirs` (directories of `name`'s table) into
    * `ceil(data bytes / targetBytes)` files, all under one marker. A
    * directory that cannot shrink — no `sortBy`, and already no more
    * files than that — is left alone, counted by one store listing with
    * no Spark reader, and when none can, no marker is written either
    * and the table is not read back. Returns whether anything was
    * rewritten.
    */
  private def rewriteAll(name: String, dirs: Seq[String], targetBytes: Long,
                         sortBy: Seq[String]): Boolean = {
    val keys = sortBy.map(org.apache.spark.sql.functions.col)
    val todo = dirs.flatMap { rel =>
      val dir = s"$warehouse/$rel"
      val files = store.dataFiles(dir)
      val nFiles = math.max(1, math.ceil(files.sum.toDouble / targetBytes).toInt)
      if (keys.isEmpty && files.size <= nFiles) None
      else {
        val df = Parquet.read(spark, dir)
        Some(rel -> (if (keys.isEmpty) df.repartition(nFiles)
          else df.repartition(nFiles, keys: _*).sortWithinPartitions(keys: _*)))
      }
    }
    if (todo.nonEmpty) {
      marked(name)(todo.foreach { case (rel, shaped) =>
        swap(rel)(tmp => store.writeParquet(shaped.write.mode("overwrite"), tmp))
      })
      reread(name): Unit
    }
    todo.nonEmpty
  }

  /** Overwrite an EXISTING table with a frame that reads it — the
    * read-modify-overwrite primitive behind AdditiveStats' merge
    * folds. `save` alone is unsafe here (the lazy plan would read the
    * files the overwrite deletes), so callers used to stage the merge
    * to session scratch and then `save` the scratch copy into the
    * warehouse — a full EXTRA read + write of the table per fold (the
    * dominant o9/o8 fold cost at bench scale; guide §6). This writes
    * the merge ONCE, to the table's staging dir, and promotes it with
    * [[compact]]'s two-rename swap — same marker, same crash healing,
    * the staged write IS the durable copy.
    */
  def saveStaged(name: String, df: DataFrame): DataFrame = {
    require(exists(name),
      s"saveStaged($name): table does not exist — use save()")
    marked(name)(swap(name)(tmp =>
      store.writeParquet(df.write.mode("overwrite"), tmp)))
    reread(name)
  }

  /** Per-partition compaction of a partitioned table — the one-call
    * path [[compact]]'s partitioned-root guard refuses. Walks the
    * partition tree to its leaf directories (multi-level layouts
    * included) and compacts each leaf independently, so the partition
    * layout — and downstream partition pruning — is preserved
    * byte-for-byte in structure. Each leaf uses [[compact]]'s
    * two-rename swap, all under one marker. At cluster scale the leaf
    * compactions are independent jobs; here they run sequentially,
    * which is the same I/O either way on one machine. Returns whether
    * any leaf was rewritten, as [[compact]] does.
    */
  def compactPartitions(name: String, targetBytes: Long = 128L * 1024 * 1024,
                        sortBy: Seq[String] = Nil): Boolean = {
    healIfMarked(name)
    require(store.exists(s"$warehouse/$name"), s"compactPartitions($name): no such table")
    def leaves(rel: String): Seq[String] = {
      val parts = store.listDirs(s"$warehouse/$rel").filter(_.contains("="))
      if (parts.isEmpty) Seq(rel)
      else parts.flatMap(p => leaves(s"$rel/$p"))
    }
    val leafDirs = leaves(name)
    require(leafDirs != Seq(name),
      s"compactPartitions($name): not partitioned — use compact()")
    rewriteAll(name, leafDirs, targetBytes, sortBy)
  }

  /** Bucketed CTAS: co-locates rows by `bucketCols` so joins and
    * aggregations on those keys skip the shuffle entirely (both sides
    * read pre-partitioned, pre-sorted buckets). The 100 TB pattern for
    * fact⋈fact joins repeated across a workload — pay the partitioning
    * once at write time. Registered through the session catalog
    * (bucketing metadata lives there, not in the parquet footer).
    */
  def saveBucketed(name: String, df: DataFrame, bucketCols: Seq[String],
                   nBuckets: Int): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", s"$warehouse/$name")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
    spark.table(name)
  }

  // ---- per-batch tables ----------------------------------------------
  // A per-batch table is a set of numbered directories `<key>=N` under
  // its root ([[Catalog.BatchKey]] for the ingest writers,
  // [[Catalog.DeltaKey]] for the MinMergeStats log). Spark creates each
  // at job start and its committer drops `_SUCCESS` only after every
  // task file is in place, so a directory is LIVE only once its
  // `_SUCCESS` exists. Readers read exactly the live ones; writers purge
  // the rest at entry (safe only because the warehouse is single-writer,
  // see the guard above) and extend that listing as they commit.

  private def foreign(key: String) = s"this table uses the per-batch $key= " +
    "layout (a flat pre-existing table must be re-ingested as one batch)"

  /** The reader's listing of per-batch table `name`: one LIST of its
    * root and one `_SUCCESS` check per `key=` directory. Deletes
    * nothing — a reader racing this session's own in-flight write must
    * not sweep it.
    */
  def batches(name: String, key: String = Catalog.BatchKey): Catalog.Batches = {
    healIfMarked(name)
    val root = s"$warehouse/$name"
    val names = store.listDirs(root)
    // besides the batches, only `_`-prefixed table metadata (Spark's own
    // hidden-file convention) may sit at the root
    names.find(!_.startsWith("_")).foreach(n => throw new IllegalArgumentException(
      s"$name: entry '$n' is not a batch directory — ${foreign(key)}"))
    val (ids, partial) = names.filter(_.startsWith(s"$key="))
      .map(_.stripPrefix(s"$key=").toLong).sorted
      .partition(id => store.exists(s"$root/$key=$id/_SUCCESS"))
    Catalog.Batches(root, key, ids, partial)
  }

  /** The writer's listing of `name`, with every uncommitted directory
    * deleted: its writing call never returned, so an at-least-once
    * upstream redelivers the batch.
    */
  def purgeBatches(name: String, key: String = Catalog.BatchKey): Catalog.Batches = {
    // a flat table's own job marker: the per-batch layout commits each
    // batch directory, never the root
    require(!store.exists(s"$warehouse/$name/_SUCCESS"),
      s"$name: a _SUCCESS at the table root — ${foreign(key)}")
    val b = batches(name, key)
    b.partial.foreach(id => store.delete(b.dir(id)))
    b.copy(partial = Nil)
  }

  /** Write batch `id` of `b`'s table with `writer` — mode overwrite, so
    * a replay rewrites its own directory — and return `b` with it
    * committed.
    */
  def writeBatch(b: Catalog.Batches, id: Long,
                 writer: DataFrameWriter[Row]): Catalog.Batches = {
    store.writeParquet(writer.mode("overwrite"), b.dir(id))
    b + id
  }

  /** The committed directories of `b` as one frame, with `b.key` as a
    * column: the directories are passed by name, so an uncommitted one
    * is never scanned, and `basePath` anchors partition discovery at
    * the table root.
    */
  def readBatches(b: Catalog.Batches): DataFrame = {
    require(b.ids.nonEmpty, s"${b.root}: no committed batches")
    Parquet.read(spark, b.ids.map(b.dir), basePath = Some(b.root))
  }

  // ---- versioned tables ----------------------------------------------
  // The reproducibility primitive a training pipeline needs and plain
  // parquet dirs lack: "which exact corpus did this model train on?".
  // Each save writes a COMPLETE new version directory and then flips a
  // one-line pointer file atomically — readers either see the old
  // version or the new one, never a mix; a crash mid-write leaves an
  // orphan directory and the pointer (and every reader) untouched.
  // Old versions stay readable (and checksum-stable) until vacuumed.

  private def versionDir(name: String, v: Int) = s"$warehouse/$name/_v=$v"
  private def pointerFile(name: String) = s"$warehouse/$name/_LATEST"

  /** Latest committed version of a versioned table, if any. */
  def latestVersion(name: String): Option[Int] =
    if (store.exists(pointerFile(name))) store.read(pointerFile(name)).toIntOption
    else None

  /** Version numbers of every `_v=` directory, committed or orphan. */
  private def versionDirs(name: String): Seq[Int] =
    store.listDirs(s"$warehouse/$name").filter(_.startsWith("_v="))
      .flatMap(_.stripPrefix("_v=").toIntOption)

  /** All committed versions of a versioned table, ascending — the
    * discoverability half of the retention contract: a training run
    * pins one of these numbers, [[vacuumVersions]]`(name, keep)` is the
    * retention policy (keep ≥ the age of the oldest still-pinned run),
    * and orphan directories above the pointer (crashed saves) are
    * never listed because they were never committed.
    */
  def versions(name: String): Seq[Int] = {
    val latest = latestVersion(name).getOrElse(return Nil)
    versionDirs(name).filter(_ <= latest).sorted
  }

  /** Write `df` as the next version and commit it via an atomic
    * pointer flip. Returns the committed version number. A caller that
    * crashed inside this call re-runs it when [[latestVersion]] still
    * names the version it started from (the orphan, if any, is
    * overwritten: versions are assigned from the pointer).
    */
  def saveVersioned(name: String, df: DataFrame): Int = {
    val next = latestVersion(name).getOrElse(0) + 1
    store.writeParquet(df.write.mode("overwrite"), versionDir(name, next))
    store.putAtomic(pointerFile(name), next.toString)
    next
  }

  /** Read one pinned version — the frame a training run records. */
  def tableAt(name: String, version: Int): DataFrame =
    Parquet.read(spark, versionDir(name, version))

  /** Read the latest committed version. */
  def tableLatest(name: String): DataFrame =
    tableAt(name, latestVersion(name).getOrElse(
      throw new IllegalStateException(s"$name: no committed version")))

  /** Drop committed versions older than the newest `keep` (and any
    * orphan dirs above the pointer left by a crashed save). Callers own
    * the retention policy — a version a run still pins must stay within
    * `keep`.
    */
  def vacuumVersions(name: String, keep: Int): Unit = {
    require(keep >= 1, "must keep at least the latest version")
    val latest = latestVersion(name).getOrElse(return)
    versionDirs(name).filter(v => v <= latest - keep || v > latest)
      .foreach(v => store.delete(versionDir(name, v)))
  }

  // Views registered through THIS catalog — tables() reports them
  // alongside the warehouse's table directories, while temp views other
  // catalogs sharing the SparkSession registered stay out (they are not
  // this database's objects).
  private val viewNames = scala.collection.mutable.LinkedHashSet[String]()

  /** S7: non-materialized view over the catalog. */
  def createView(name: String, df: DataFrame): DataFrame = {
    df.createOrReplaceTempView(name)
    viewNames += name
    spark.table(name)
  }

  /** S7 (SQL-text path): create a view by executing a `.sql` file read
    * from disk — the reference's exact mechanism
    * (`/root/reference/analysis/analyze_monthly_sales.py:30-39` reads
    * `sql/views/monthly_sales_summary.sql` and executes the text).
    * The file must hold one CREATE [OR REPLACE] [TEMPORARY] VIEW
    * statement (`--` comments fine; trailing semicolon stripped).
    * `rewrites` re-points table identifiers (whole-word) before
    * execution, so a caller can bind the view to a query-scoped
    * registration instead of clobbering a session-global name.
    * Returns the created view.
    */
  def createViewFromSql(path: String,
                        rewrites: Map[String, String] = Map.empty): DataFrame = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val stmt = rewrites.foldLeft(text.trim.stripSuffix(";")) {
      case (t, (from, to)) => t.replaceAll(
        "\\b" + java.util.regex.Pattern.quote(from) + "\\b",
        java.util.regex.Matcher.quoteReplacement(to))
    }
    spark.sql(stmt)
    val name = "(?is)CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:GLOBAL\\s+|LOCAL\\s+)?(?:TEMPORARY\\s+|TEMP\\s+)?VIEW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w.]+)".r
      .findFirstMatchIn(stmt)
      .map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        s"$path does not contain a CREATE VIEW statement"))
    viewNames += name
    spark.table(name)
  }

  def table(name: String): DataFrame = {
    // plain identifiers only: partition-dir paths and dotted names are
    // not warehouse table dirs, and the heal is a no-op for views that
    // never lived in this warehouse
    if (!name.exists(c => c == '/' || c == '=')) healIfMarked(name)
    spark.table(name)
  }

  /** S10: introspection — THIS warehouse's table names (directory
    * listing) plus views this catalog registered: the SHOW TABLES /
    * inspect_db analog, scoped to the database like DuckDB's. A
    * session-global temp-view listing would also report other
    * catalogs' registrations in multi-warehouse sessions (tests,
    * per-query scratch warehouses) — objects that are not this
    * database's and whose backing files may be gone.
    */
  def tables(): Seq[String] = {
    // '.'-prefixed entries are a crashed compaction's staged or
    // moved-aside copies, not tables
    val dirs = store.listDirs(warehouse).filterNot(_.startsWith("."))
    (dirs ++ viewNames).distinct.sorted
  }

  /** S10: DESCRIBE analog. */
  def describe(name: String): Seq[(String, String)] =
    spark.table(name).schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq

  /** S11: database-file lifecycle — drop the warehouse directory. */
  def dropWarehouse(): Unit = synchronized {
    store.delete(warehouse)
    // Dropping the warehouse ends this instance's ownership: release
    // the single-writer claim (the _LOCK file went with the dir) so a
    // successor Catalog can rebuild on the same path — the `Run
    // --rebuild` flow, which the in-process guard otherwise refuses
    // (drop-then-build opens two Catalogs on one root). The release is
    // once-per-instance: a later close() on this dropped Catalog must
    // not delete the successor's _LOCK or openRoots entry.
    if (!released) {
      released = true
      Catalog.releaseRoot(canonicalRoot)
    }
  }
}
