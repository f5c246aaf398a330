package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  */
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
}

final class Catalog(val spark: SparkSession, val warehouse: String) {

  // a warehouse is mutable by definition — make Scratch.memoized's
  // immutability guard aware of it (user-supplied paths included)
  Catalog.registerMutableRoot(warehouse)

  // ---- single-writer guard -------------------------------------------
  // Every mutating operator here (compact's two-rename swap,
  // saveVersioned's pointer flip, the incremental writers' purge of
  // _SUCCESS-less batch dirs) assumes exactly one session owns the
  // warehouse; a concurrent second writer could have its in-flight work
  // swapped aside or purged mid-write. The assumption is converted into
  // a loud failure at open: in-process via a registry of open canonical
  // roots, cross-process via a pid lock file (`_LOCK`) whose holder
  // must still be alive — a dead holder's lock is stale (crashed
  // session) and is stolen. Release with [[close]] when handing the
  // warehouse to another session.
  private val canonicalRoot = new java.io.File(warehouse).getCanonicalPath
  if (!Catalog.claimRoot(canonicalRoot))
    throw new IllegalStateException(
      s"Catalog: warehouse '$warehouse' is already open in this process — " +
        "warehouses are single-writer (compact/saveVersioned/incremental " +
        "ingest assume exclusive ownership); close() the other Catalog first")
  try {
    val root = new java.io.File(warehouse)
    root.mkdirs(): Unit
    val lock = new java.io.File(root, "_LOCK")
    val selfPid = ProcessHandle.current().pid()
    def startOf(h: ProcessHandle): Long =
      h.info().startInstant()
        .map[java.lang.Long](i => java.lang.Long.valueOf(i.toEpochMilli))
        .orElse(java.lang.Long.valueOf(0L)).longValue()
    if (lock.exists()) {
      // Lock format `pid:startEpochMillis` — the start time pins the
      // holder's IDENTITY, not just its number: pids recycle, and a
      // lock whose dead holder's pid was reassigned to an unrelated
      // live process would otherwise read as held forever (observed as
      // a transient s7 bench failure on a fixed /tmp warehouse path).
      // A recorded start that does not match the live process's start
      // is a recycled pid ⇒ the lock is stale and stolen. Legacy
      // pid-only locks (no start recorded) keep the conservative
      // pid-alive check.
      val txt = scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(lock.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim).getOrElse("")
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
            s"${holder.get} (${lock.getPath}) — warehouses are " +
            "single-writer; close() it there or wait for that session")
    }
    java.nio.file.Files.write(lock.toPath,
      s"$selfPid:${startOf(ProcessHandle.current())}".getBytes(
        java.nio.charset.StandardCharsets.UTF_8)): Unit
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
      val lock = new java.io.File(warehouse, "_LOCK")
      val txt = scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(lock.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim).getOrElse("")
      if (txt == selfLockText) lock.delete(): Unit
      Catalog.releaseRoot(canonicalRoot)
    }
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }
  private def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()

  /** Order-independent checksum of a warehouse table (see [[Checksum]]). */
  def checksum(name: String, cols: Seq[(String, Checksum.Kind)]): DataFrame =
    Checksum.of(table(name), cols)

  /** S6/M2: CTAS — materialize and (re-)register. `sortBy` reproduces
    * the reference's ORDER BY-in-CTAS clustering (O1: layout, not
    * semantics); `partitionBy` and `codec` are the 100 TB knobs the
    * reference lacks — zstd trades ~2x smaller cold storage (and scan
    * I/O) for slightly more write CPU than the snappy default; sorted
    * clustering additionally tightens parquet min/max row-group stats
    * for scan skipping.
    */
  def save(name: String, df: DataFrame, sortBy: Seq[String] = Nil,
           partitionBy: Seq[String] = Nil,
           codec: String = "snappy"): DataFrame = {
    val clustered = if (sortBy.nonEmpty) df.sortWithinPartitions(
      sortBy.map(org.apache.spark.sql.functions.col): _*) else df
    val writer = clustered.write.mode("overwrite")
      .option("compression", codec)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(s"$warehouse/$name")
    // An unpartitioned table's schema is the frame's own: passing it
    // skips the one-task footer-inference job a bare read launches per
    // save, and the file source makes every field nullable either way
    // (GoldenSpec checks the two schemas are equal). Partitioned
    // layouts keep inference: it moves the partition columns to the
    // end and types them from the directory names.
    val read = spark.read
    val back = (if (partitionBy.isEmpty) read.schema(df.schema) else read)
      .parquet(s"$warehouse/$name")
    back.createOrReplaceTempView(name)
    back
  }

  /** Columnar-format interchange. The warehouse itself is
    * parquet-native by design — ONE storage format keeps every read
    * path (table, compact, checksum, incremental writers) on the same
    * code — so foreign-format data crosses the boundary through
    * explicit import/export rather than a mixed-format warehouse.
    * [[importTable]] stages any `spark.read`-able columnar format
    * (orc, avro where available, parquet from elsewhere) as a
    * first-class warehouse table; [[exportTable]] writes one for
    * external consumers. Round-trip fidelity is checksum-proven
    * (PipelineSpec): ORC⇄parquet carries the full type lattice this
    * engine uses, so import(export(t)) == t bit-for-bit.
    */
  def importTable(name: String, path: String, format: String): DataFrame =
    save(name, spark.read.format(format).load(path))

  /** See [[importTable]]. */
  def exportTable(name: String, path: String, format: String,
                  codec: String = "snappy"): Unit =
    table(name).write.mode("overwrite")
      .option("compression", codec).format(format).save(path)

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
    val back = spark.read.parquet(s"$warehouse/$name")
    back.createOrReplaceTempView(name)
    back
  }

  /** In-progress marker for [[compact]]'s non-atomic swap: created
    * before the live dir moves aside, removed only after the swap fully
    * completes — so any crash that can leave `.__compact_old` debris
    * (root or leaf, at any partition depth) also leaves the marker.
    * Read paths gate the O(partition dirs) heal walk on this single
    * stat instead of walking every partition on every [[table]] call.
    */
  private def compactMarker(tableRoot: String): java.io.File =
    new java.io.File(s"$warehouse/$tableRoot.__compacting")

  /** Cheap read-path heal gate: two stats (the [[compactMarker]] and a
    * root-level moved-aside dir) decide whether the full
    * [[healInterruptedCompact]] walk runs. Keeps hot readers (e.g.
    * IncrementalRollup's per-batch `table()` calls) O(1) while the
    * crashed-compact repair stays reachable through the FIRST operator
    * to touch the table after the crash.
    */
  private def healIfMarked(name: String): Unit = {
    val root = name.split('/').head
    if (compactMarker(root).exists() ||
        new java.io.File(s"$warehouse/$root.__compact_old").exists()) {
      healInterruptedCompact(name)
      compactMarker(root).delete(): Unit
    }
  }

  /** Heal a [[compact]] that crashed between its two renames: the live
    * dir is missing but the moved-aside copy is intact. Run in full by
    * the compaction entry points (compact / compactPartitions) and by
    * any read that sees the [[compactMarker]] or root debris
    * ([[healIfMarked]]), so the repair is reachable through the FIRST
    * operator to touch the table after the crash, not only through a
    * retry of the operator that crashed. Covers both the root swap and
    * LEAF swaps inside a partitioned tree — without the leaf walk,
    * partition discovery would misread a leftover `X.__compact_old` as
    * the partition value 'X.__compact_old' and report the real X
    * missing.
    */
  private def healInterruptedCompact(name: String): Unit = {
    val dir = new java.io.File(s"$warehouse/$name")
    val old = new java.io.File(s"$warehouse/$name.__compact_old")
    if (!dir.exists() && old.exists())
      require(old.renameTo(dir),
        s"compact($name): could not restore $old after an interrupted swap")
    healLeafCompacts(dir)
  }

  private def healLeafCompacts(dir: java.io.File): Unit = {
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.endsWith(".__compact_old"))
      .foreach { o =>
        val live = new java.io.File(dir,
          o.getName.stripSuffix(".__compact_old"))
        if (!live.exists())
          require(o.renameTo(live),
            s"compact: could not restore $o after an interrupted leaf swap")
      }
    // re-list so a just-healed dir is walked for nested partitions too
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.contains("=") &&
        !f.getName.contains(".__compact"))
      .foreach(healLeafCompacts)
  }

  /** Whether `name` has ever been materialized in this warehouse. */
  def exists(name: String): Boolean = {
    healIfMarked(name)
    new java.io.File(s"$warehouse/$name").exists()
  }

  /** Small-file compaction — the warehouse-hygiene operator every
    * incremental writer eventually needs: appends and per-batch
    * partition overwrites (IncrementalIngest/IncrementalRollup,
    * streaming sinks) accumulate files far smaller than a scan-efficient
    * unit, and at 100 TB the file count itself becomes the bottleneck
    * (listing, footer reads, task scheduling). Rewrites the table into
    * `ceil(bytes / targetBytes)` files (preserving `sortBy` clustering
    * when given). The swap is two renames, so it is not atomic — but it
    * IS self-healing: the crash window (live dir moved aside, new dir
    * not yet in place) is repaired on the next compact() call by
    * restoring the `.__compact_old` copy, and a failed second rename
    * rolls back in-process. Content-invariance is the caller-visible
    * contract — [[Checksum]] before == after (proven in PipelineSpec).
    */
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024,
              sortBy: Seq[String] = Nil): DataFrame = {
    val dir = s"$warehouse/$name"
    val old = new java.io.File(s"$dir.__compact_old")
    healInterruptedCompact(name)
    // A partition-keyed table must be compacted per partition directory
    // (pass 'table/part=value' as the name): rewriting the root would
    // silently flatten the partition layout and downstream scans would
    // lose partition pruning.
    require(!Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .exists(f => f.isDirectory && f.getName.contains("=")),
      s"compact($name): partitioned table — compact one partition dir at a time")
    val bytes = du(new java.io.File(dir))
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    val shaped =
      if (sortBy.nonEmpty)
        df.repartition(nFiles, sortBy.map(
            org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(sortBy.map(
            org.apache.spark.sql.functions.col): _*)
      else df.repartition(nFiles)
    val tmp = s"$dir.__compact_tmp"
    shaped.write.mode("overwrite").parquet(tmp)
    swapIn(name, "compact")
  }

  /** The two-rename swap shared by [[compact]] and [[saveStaged]]:
    * promotes `<name>.__compact_tmp` (already fully written) to the
    * live directory. Marker BEFORE the first rename, removed only
    * after the swap is fully done — a crash anywhere inside the window
    * leaves the marker, which is what lets plain readers gate the heal
    * walk on one stat.
    */
  private def swapIn(name: String, op: String): DataFrame = {
    val dir = s"$warehouse/$name"
    val old = new java.io.File(s"$dir.__compact_old")
    val marker = compactMarker(name.split('/').head)
    marker.createNewFile(): Unit
    rm(old) // stale leftovers from an interrupted previous swap
    require(new java.io.File(dir).renameTo(old),
      s"$op($name): could not move the live table aside")
    if (!new java.io.File(s"$dir.__compact_tmp")
        .renameTo(new java.io.File(dir))) {
      // roll back so readers keep the previous live table
      old.renameTo(new java.io.File(dir)): Unit
      marker.delete(): Unit
      throw new IllegalStateException(
        s"$op($name): swap failed, original restored")
    }
    rm(old)
    marker.delete(): Unit
    val back = spark.read.parquet(dir)
    // a partition directory ('table/part=value') is not a table name —
    // only plain identifiers get (re-)registered as views
    if (!name.exists(c => c == '/' || c == '='))
      back.createOrReplaceTempView(name)
    back
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
    df.write.mode("overwrite").parquet(s"$warehouse/$name.__compact_tmp")
    swapIn(name, "saveStaged")
  }

  /** Per-partition compaction of a partitioned table — the one-call
    * path [[compact]]'s partitioned-root guard refuses. Walks the
    * partition tree to its leaf directories (multi-level layouts
    * included) and compacts each leaf independently, so the partition
    * layout — and downstream partition pruning — is preserved
    * byte-for-byte in structure. Each leaf reuses [[compact]]'s
    * two-rename swap and its crash healing. At cluster scale the leaf
    * compactions are independent jobs; here they run sequentially,
    * which is the same I/O either way on one machine.
    */
  def compactPartitions(name: String, targetBytes: Long = 128L * 1024 * 1024,
                        sortBy: Seq[String] = Nil): DataFrame = {
    healInterruptedCompact(name)
    val root = new java.io.File(s"$warehouse/$name")
    require(root.isDirectory, s"compactPartitions($name): no such table")
    // leaf-crash healing already ran in healInterruptedCompact above
    def leaves(rel: String): Seq[String] = {
      val parts = Option(new java.io.File(s"$warehouse/$rel").listFiles())
        .toSeq.flatten
        .filter(f => f.isDirectory && f.getName.contains("=") &&
          !f.getName.contains(".__compact"))
      if (parts.isEmpty) Seq(rel)
      else parts.flatMap(p => leaves(s"$rel/${p.getName}"))
    }
    val leafDirs = leaves(name)
    require(leafDirs != Seq(name),
      s"compactPartitions($name): not partitioned — use compact()")
    leafDirs.foreach(compact(_, targetBytes, sortBy): Unit)
    val back = spark.read.parquet(s"$warehouse/$name")
    back.createOrReplaceTempView(name)
    back
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

  // ---- versioned tables ----------------------------------------------
  // The reproducibility primitive a training pipeline needs and plain
  // parquet dirs lack: "which exact corpus did this model train on?".
  // Each save writes a COMPLETE new version directory and then flips a
  // one-line pointer file atomically — readers either see the old
  // version or the new one, never a mix; a crash mid-write leaves an
  // orphan directory and the pointer (and every reader) untouched.
  // Old versions stay readable (and checksum-stable) until vacuumed.

  private def versionDir(name: String, v: Int) = s"$warehouse/$name/_v=$v"
  private def pointerFile(name: String) =
    java.nio.file.Paths.get(s"$warehouse/$name/_LATEST")

  /** Latest committed version of a versioned table, if any. */
  def latestVersion(name: String): Option[Int] =
    if (java.nio.file.Files.exists(pointerFile(name)))
      new String(java.nio.file.Files.readAllBytes(pointerFile(name)),
        java.nio.charset.StandardCharsets.UTF_8).trim.toIntOption
    else None

  /** All committed versions of a versioned table, ascending — the
    * discoverability half of the retention contract: a training run
    * pins one of these numbers, [[vacuumVersions]]`(name, keep)` is the
    * retention policy (keep ≥ the age of the oldest still-pinned run),
    * and orphan directories above the pointer (crashed saves) are
    * never listed because they were never committed.
    */
  def versions(name: String): Seq[Int] = {
    val latest = latestVersion(name).getOrElse(return Nil)
    Option(new java.io.File(s"$warehouse/$name").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("_v="))
      .flatMap(_.getName.stripPrefix("_v=").toIntOption)
      .filter(_ <= latest)
      .sorted
  }

  /** Write `df` as the next version and commit it via an atomic
    * pointer flip. Returns the committed version number.
    */
  def saveVersioned(name: String, df: DataFrame): Int = {
    val next = latestVersion(name).getOrElse(0) + 1
    df.write.mode("overwrite").parquet(versionDir(name, next))
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(s"$warehouse/$name"), "_LATEST.", ".tmp")
    java.nio.file.Files.write(tmp, next.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, pointerFile(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Read one pinned version — the frame a training run records. */
  def tableAt(name: String, version: Int): DataFrame =
    spark.read.parquet(versionDir(name, version))

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
    Option(new java.io.File(s"$warehouse/$name").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("_v="))
      .map(f => f -> f.getName.stripPrefix("_v=").toInt)
      .filter { case (_, v) => v <= latest - keep || v > latest }
      .foreach { case (f, _) => rm(f) }
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
    val dirs = Option(new java.io.File(warehouse).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.contains(".__compact"))
      .map(_.getName)
    (dirs ++ viewNames).distinct.sorted
  }

  /** S10: DESCRIBE analog. */
  def describe(name: String): Seq[(String, String)] =
    spark.table(name).schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq

  /** S11: database-file lifecycle — drop the warehouse directory. */
  def dropWarehouse(): Unit = synchronized {
    val root = new java.io.File(warehouse)
    if (root.exists()) rm(root)
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
