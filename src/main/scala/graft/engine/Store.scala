package graft.engine

import org.apache.spark.sql.{DataFrameWriter, Row}

/** The warehouse's one storage seam. Every commit protocol — the
  * [[Catalog]] compaction swap, its `_LOCK` and versioned pointer, and
  * the per-batch layout (`__batch_id=`/`__delta=` directories committed
  * by `_SUCCESS`, listed, read and purged only by the Catalog for the
  * ingest writers and the `MinMergeStats` delta log) — touches
  * warehouse files only through these primitives, each chosen to map
  * ONE-FOR-ONE onto the Hadoop `FileSystem` API for the object-store
  * deployment:
  *
  *  - [[listDirs]]     → `listStatus(path).filter(_.isDirectory)`
  *  - [[exists]]       → `exists(path)`
  *  - [[delete]]       → `delete(path, recursive = true)`
  *  - [[putAtomic]]    → `create(path, overwrite = true)` single-shot PUT
  *                       (atomic at object granularity on S3-class
  *                       stores; creates missing parents, as `create`
  *                       does)
  *  - [[read]]         → `open(path)` + full read
  *  - [[size]]         → `getContentSummary(path).getLength`
  *  - [[writeParquet]] → Spark's committer writing under `path`
  *  - [[rename]]       → `rename(from, to)` — LOCAL ONLY, see below
  *
  * Rename is the one primitive that is neither atomic nor cheap on
  * S3-class stores (a copy of every object, then a delete). Only the
  * Catalog's compaction swap and its heal use it; the delta log and
  * the per-batch writers are rename-free — data files land through
  * Spark's committer, already object-store-proven, and never move
  * afterwards. The local [[LocalStore.putAtomic]]'s temp sibling +
  * ATOMIC_MOVE is an implementation detail of the local PUT, not a
  * protocol dependency: on an object store the single-shot PUT is
  * itself atomic.
  *
  * Tests substitute a store that crashes at a chosen call (the
  * Catalog's `private[graft]` constructor parameter), which is how
  * every crash point of every protocol is enumerated and its calls —
  * each a round trip on an object store — are counted.
  */
private[graft] trait Store {

  /** Names (not paths) of `dir`'s immediate child DIRECTORIES; empty
    * when `dir` is absent or has none.
    */
  def listDirs(dir: String): Seq[String]

  def exists(path: String): Boolean

  /** Recursive delete; a no-op when `path` is absent. */
  def delete(path: String): Unit

  /** All-or-nothing small-file write: a concurrent reader observes the
    * complete content or no file, never a torn prefix.
    */
  def putAtomic(path: String, content: String): Unit

  /** Full UTF-8 content of a small file, trimmed. */
  def read(path: String): String

  /** Total bytes of the files under `path`. */
  def size(path: String): Long

  /** Run a configured Spark parquet write into `path`. */
  def writeParquet(writer: DataFrameWriter[Row], path: String): Unit

  /** Move `from` to the absent path `to`; throws when it cannot. Local
    * filesystems only (see the trait doc).
    */
  def rename(from: String, to: String): Unit
}

/** java.nio implementation for the local-filesystem warehouse; the
  * cluster deployment slots a Hadoop `FileSystem` implementation behind
  * the same trait.
  */
private[graft] object LocalStore extends Store {
  import java.io.File
  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.{Files, Paths, StandardCopyOption}

  private def children(f: File): Seq[File] =
    Option(f.listFiles()).toSeq.flatten

  override def listDirs(dir: String): Seq[String] =
    children(new File(dir)).filter(_.isDirectory).map(_.getName)

  override def exists(path: String): Boolean = new File(path).exists()

  override def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) children(f).foreach(rm)
      f.delete(): Unit
    }
    rm(new File(path))
  }

  override def putAtomic(path: String, content: String): Unit = {
    val f = new File(path)
    val dir = Files.createDirectories(f.getParentFile.toPath)
    val tmp = Files.createTempFile(dir, f.getName, ".tmp")
    // the temp sibling must not outlive a failed write/move: listDirs
    // ignores files so a leaked .tmp is invisible to the protocols, but
    // crashing writers would accumulate them in the table root forever
    try {
      Files.write(tmp, content.getBytes(UTF_8)): Unit
      Files.move(tmp, f.toPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING): Unit
    } finally Files.deleteIfExists(tmp): Unit
  }

  override def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).trim

  override def size(path: String): Long = {
    def du(f: File): Long =
      if (f.isDirectory) children(f).map(du).sum else f.length()
    du(new File(path))
  }

  override def writeParquet(writer: DataFrameWriter[Row], path: String): Unit =
    writer.parquet(path)

  override def rename(from: String, to: String): Unit =
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE): Unit
}
