package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Lint: the Catalog, the pipeline writers and the streaming sinks
  * touch warehouse files only through `engine/Store`. A raw mutation or
  * listing next to the seam is a commit-protocol step the crash
  * enumeration (CrashPointSpec) cannot see and the object-store port
  * would silently miss. Reading a `.sql` file for `createViewFromSql`
  * is not warehouse I/O and is not flagged.
  *
  * A second lint keeps the per-batch layout in one owner: outside
  * `Catalog`, no pipeline or streaming code names a `_SUCCESS` marker or
  * a `__batch_id=`/`__delta=` directory, or reads a table by a path
  * built from `cat.warehouse` — such a read scans the table root, where
  * an uncommitted batch is served like a committed one.
  *
  * A sibling lint keeps the raw-file readers free of spills: a temp
  * file or directory beside a reader is a text round trip between
  * formats, and a `deleteOnExit` hook grows with every load in a
  * long-lived JVM.
  *
  * A session lint keeps one session config: under `src/main` only
  * `Graft.session` calls `SparkSession.builder()`, and under `src/test`
  * only `SparkTestSession`. A session built anywhere else misses
  * `Graft.conf`, and with it the in-process `file:` filesystem, so its
  * writes fall back to one `chmod` launch per file.
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

  private val BatchLayoutOp = Seq(
    """_SUCCESS""".r,
    """__(?:batch_id|delta)=""".r,
    """\bread\b.*\bcat\.warehouse\b""".r)

  /** `line` without its comment: scaladoc and `//` lines are prose. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else t.replaceAll("""\s//.*$""", "")
  }

  private def batchLayout(line: String): Boolean =
    BatchLayoutOp.exists(_.findFirstIn(code(line)).isDefined)

  private def scalaFiles(dirs: Path*): Seq[Path] = dirs.flatMap { d =>
    assert(Files.isDirectory(d), s"run from the repository root: $d")
    Using.resource(Files.walk(d))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector)
  }

  private val Pipeline = Paths.get("src/main/scala/graft/pipeline")
  private val Streaming = Paths.get("src/main/scala/graft/streaming")

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
    // the streaming sinks are pipeline writers too
    val files = Paths.get("src/main/scala/graft/engine/Catalog.scala") +:
      scalaFiles(Pipeline, Streaming)
    assert(files.exists(_.startsWith(Streaming)))
    val found = hits(files, raw)
    assert(found.isEmpty,
      s"raw file operations outside the Store seam:\n  ${found.mkString("\n  ")}")
  }

  test("the layout lint flags commit markers, batch directories and " +
      "warehouse-path reads, not comments or Catalog calls") {
    Seq("cat.store.exists(s\"$dir/_SUCCESS\")",
      ".filter(_.startsWith(\"__batch_id=\"))",
      "cat.store.listDirs(r).filter(_.startsWith(\"__delta=\")).map(n => s\"$r/$n\")",
      ".parquet(s\"${cat.warehouse}/ev_fact/__batch_id=$batchId\")",
      "cat.spark.read.parquet(s\"${cat.warehouse}/$table\").drop(\"__batch_id\")",
      "val back = cat.spark.read.parquet(s\"${cat.warehouse}/$rollup\") // the rollup")
      .foreach(l => assert(batchLayout(l), l))
    Seq("  * lands under `__batch_id=<id>/` once its `_SUCCESS` exists",
      "// a _SUCCESS at the root: read s\"${cat.warehouse}/x\"",
      "cat.readBatches(cat.batches(table)).drop(Catalog.BatchKey)",
      "val slice = cat.readBatches(facts).drop(\"__batch_id\")",
      "s\"${cat.warehouse}/$sigsTable/$SigBucketsMeta\"")
      .foreach(l => assert(!batchLayout(l), l))
  }

  test("only Catalog knows the per-batch layout: pipeline and streaming " +
      "code neither builds nor reads a batch directory itself") {
    val found = hits(scalaFiles(Pipeline, Streaming), batchLayout)
    assert(found.isEmpty,
      s"per-batch layout outside Catalog:\n  ${found.mkString("\n  ")}")
  }

  private val Builder = """\bSparkSession\s*\.\s*builder\b""".r
  private val Scope = """\b(object|class|trait|def)\s+(\w+)""".r

  /** The scope of each `SparkSession.builder` call in `lines`: the
    * enclosing object or class, then `.method` inside a def.
    */
  private def builderScopes(lines: Seq[String]): Seq[String] = {
    var owner = ""
    var method = ""
    lines.map(code).flatMap { c =>
      Scope.findAllMatchIn(c).foreach { m =>
        if (m.group(1) == "def") method = m.group(2)
        else { owner = m.group(2); method = "" }
      }
      Builder.findFirstIn(c).map(_ => if (method.isEmpty) owner else s"$owner.$method")
    }
  }

  test("the session lint names the scope of each builder call, not comments") {
    // split, so that this file's own planted lines are no call
    val b = "SparkSession." + "builder()"
    assert(builderScopes(Seq(
      "object Graft {",
      "  private[graft] def conf(cpus: String): Map[String, String] = Map(",
      "  def session(appName: String): SparkSession = {",
      "    val cpus = sys.env.getOrElse(\"SPARK_GRAFT_CPUS\", \"32\")",
      s"    val spark = $b.appName(appName)",
      "object Bench {",
      s"  // $b here would skip Graft.conf",
      s"  /** or $b in a doc */",
      "  def main(args: Array[String]): Unit = {",
      s"    val spark = $b.master(\"local[4]\").getOrCreate()",
      "object SparkTestSession {",
      s"  lazy val spark: SparkSession = $b",
      "final case class Launch(command: String)",
      s"  val s = SparkSession . ${"builder"} ()")) ===
      Seq("Graft.session", "Bench.main", "SparkTestSession", "Launch"))
  }

  test("only Graft.session builds a session under src/main, and only " +
      "SparkTestSession under src/test") {
    def scopes(root: String): Set[String] = scalaFiles(Paths.get(root)).flatMap(f =>
      builderScopes(Files.readAllLines(f).asScala.toSeq).map(s => s"${f.getFileName}: $s")).toSet
    assert(scopes("src/main/scala") === Set("Graft.scala: Graft.session"))
    assert(scopes("src/test/scala") === Set("SparkTestBase.scala: SparkTestSession"))
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
