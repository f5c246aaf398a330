package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrameWriter, Row}
import graft.engine.{Catalog, LocalStore, Store}

/** A [[Store]] that crashes like a killed process: once [[arm]]ed, the
  * first `k` primitive calls run on [[LocalStore]] and every later call
  * throws [[FaultStore.Crash]] — so `finally` blocks cannot tidy up, as
  * they could not after a real crash. With `torn`, a k-th call that is
  * a data write crashes during job commit: it loses `_SUCCESS` (the
  * marker the committer writes last) and, for a write into a
  * `_SUCCESS`-committed per-batch directory (`__batch_id=N`,
  * `__delta=N`), one of its part files as well — the committer moves
  * whole files into place, so a crash mid-commit leaves a subset of
  * them. Such a write must land at least two part files, or the tear
  * would remove the whole batch and show nothing.
  *
  * `trace` names every call made while armed; a run with
  * `k = Int.MaxValue` is a clean run whose trace enumerates the crash
  * points.
  */
final class FaultStore(k: Int, torn: Boolean = false) extends Store {
  private var armed = false
  private var calls = 0
  val trace = scala.collection.mutable.ArrayBuffer.empty[String]

  def arm(): Unit = synchronized { armed = true }

  private def call[A](op: String)(body: => A): A = synchronized {
    if (armed) {
      if (calls >= k) throw new FaultStore.Crash(s"crash before call ${calls + 1} ($op)")
      calls += 1
      trace += op
    }
    body
  }

  override def listDirs(dir: String): Seq[String] = call("listDirs")(LocalStore.listDirs(dir))
  override def exists(path: String): Boolean = call("exists")(LocalStore.exists(path))
  override def delete(path: String): Unit = call("delete")(LocalStore.delete(path))
  override def putAtomic(path: String, content: String): Unit =
    call("putAtomic")(LocalStore.putAtomic(path, content))
  override def read(path: String): String = call("read")(LocalStore.read(path))
  override def size(path: String): Long = call("size")(LocalStore.size(path))
  override def rename(from: String, to: String): Unit =
    call("rename")(LocalStore.rename(from, to))

  override def writeParquet(writer: DataFrameWriter[Row], path: String): Unit =
    call("writeParquet") {
      LocalStore.writeParquet(writer, path)
      if (armed && torn && calls == k) {
        LocalStore.delete(s"$path/_SUCCESS")
        val leaf = path.substring(path.lastIndexOf('/') + 1)
        if (Seq(Catalog.BatchKey, Catalog.DeltaKey).exists(key => leaf.startsWith(s"$key="))) {
          val parts = Using.resource(Files.walk(Paths.get(path)))(_.iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toVector).sorted
          if (parts.size < 2)
            throw new IllegalStateException(
              s"a torn write of $path needs at least two part files, got ${parts.size}")
          Files.delete(parts.last)
        }
        throw new FaultStore.Crash(s"torn write of $path (call $k)")
      }
    }
}

object FaultStore {
  final class Crash(msg: String) extends RuntimeException(msg)
}
