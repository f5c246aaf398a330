package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Lint: the Catalog and the pipeline writers touch warehouse files
  * only through `engine/Store`. A raw mutation or listing next to the
  * seam is a commit-protocol step the crash enumeration (CrashPointSpec)
  * cannot see and the object-store port would silently miss. Reading
  * a `.sql` file for `createViewFromSql` is not warehouse I/O and is
  * not flagged.
  */
class StoreSeamSpec extends AnyFunSuite {

  private val RawFileOp = Seq(
    """\.renameTo\(""".r,
    """\.delete\(\s*\)""".r,
    """\bmkdirs\b""".r,
    """\bcreateNewFile\b""".r,
    """\blistFiles\b""".r,
    """\bFiles\s*\.\s*(?:write\w*|move|copy|delete|deleteIfExists|createTempFile|createDirector\w*)\b""".r)

  private def raw(line: String): Boolean =
    RawFileOp.exists(_.findFirstIn(line).isDefined)

  test("the lint flags raw file mutation and listing, not reads") {
    Seq("new java.io.File(p).delete()",
      "require(old.renameTo(dir), msg)",
      "root.mkdirs(): Unit",
      "marker.createNewFile(): Unit",
      "Option(dir.listFiles()).toSeq.flatten",
      "java.nio.file.Files.write(meta.toPath, bytes)",
      "Files.move(tmp, f, ATOMIC_MOVE)",
      "java.nio.file.Files.createTempFile(dir, \"_LATEST.\", \".tmp\")",
      "Files.createDirectories(p)",
      "Files.deleteIfExists(tmp)").foreach(l => assert(raw(l), l))
    Seq("java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))",
      "cat.store.delete(s\"$root/$n\")",
      "new java.io.File(warehouse).getCanonicalPath",
      "store.listDirs(dir)").foreach(l => assert(!raw(l), l))
  }

  test("Catalog and the pipeline writers make no raw file mutation or " +
      "listing outside engine/Store.scala") {
    val engine = Paths.get("src/main/scala/graft/engine")
    val pipeline = Paths.get("src/main/scala/graft/pipeline")
    assert(Files.isDirectory(pipeline), s"run from the repository root: $pipeline")
    val files = engine.resolve("Catalog.scala") +: Using.resource(Files.walk(pipeline))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector)
    assert(files.size > 1)
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if raw(line) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty,
      s"raw file operations outside the Store seam:\n  ${hits.mkString("\n  ")}")
  }
}
