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
  *
  * A sibling lint keeps the raw-file readers free of spills: a temp
  * file or directory beside a reader is a text round trip between
  * formats, and a `deleteOnExit` hook grows with every load in a
  * long-lived JVM.
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

  private val SpillOp = Seq(
    """\bcreateTemp(?:File|Directory)\b""".r,
    """\bdeleteOnExit\b""".r)

  private def spills(line: String): Boolean =
    SpillOp.exists(_.findFirstIn(line).isDefined)

  private def hits(files: Seq[Path], flagged: String => Boolean): Seq[String] =
    files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if flagged(line) => s"$f:${i + 1}: ${line.trim}"
      }
    }

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
    val found = hits(files, raw)
    assert(found.isEmpty,
      s"raw file operations outside the Store seam:\n  ${found.mkString("\n  ")}")
  }

  test("the spill lint flags temp files, temp directories and exit hooks") {
    Seq("val spillRoot = java.nio.file.Files.createTempDirectory(",
      "Files.createTempFile(dir, \"sheet_\", \".jsonl\")",
      "java.io.File.createTempFile(s\"$name.\", \".tmp\", dir)",
      "spill.toFile.deleteOnExit()").foreach(l => assert(spills(l), l))
    Seq("val zip = new java.util.zip.ZipFile(path)",
      "java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))")
      .foreach(l => assert(!spills(l), l))
  }

  test("the raw-file readers create no temp file and register no exit hook") {
    val engine = Paths.get("src/main/scala/graft/engine")
    val readers = Seq("Sources.scala", "XlsSource.scala").map(engine.resolve)
    readers.foreach(f => assert(Files.isRegularFile(f), s"run from the repository root: $f"))
    val found = hits(readers, spills)
    assert(found.isEmpty, s"spills in the raw-file readers:\n  ${found.mkString("\n  ")}")
  }
}
