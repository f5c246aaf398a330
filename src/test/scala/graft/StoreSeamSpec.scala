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
  * A read lint keeps one way to open parquet: under `src/main`, only
  * `engine/Parquet` calls `read.parquet(` or ends a `read` chain in
  * `.parquet(`. A bare reader infers the data schema with a Spark job
  * of its own; the helper reads one footer on the driver.
  *
  * A build lint keeps one runner for the declared chains: under
  * `pipeline/`, only `Chain` creates a thread pool, and the two retail
  * builders neither save a table nor run a `count()` themselves, so
  * every table they write is a declared `Table` of their chain.
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

  /** A `DataFrameReader` chain ending in `.parquet(`: `read`, then any
    * `.method` or `.method(args)` links (args nested up to two levels),
    * none of them a `write`, then closing parentheses.
    */
  private val ParquetRead = ("""\bread(?:\s*\.\s*(?!parquet\b|write)\w+\s*""" +
    """(?:\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))?)*[\s)]*\.\s*parquet\s*\(""").r

  /** Each parquet read chain in `lines`, comments dropped, by the line
    * it starts on. A chain may span lines.
    */
  private def parquetReads(lines: Seq[String]): Seq[(Int, String)] = {
    val text = lines.map(code).mkString("\n")
    ParquetRead.findAllMatchIn(text).map { m =>
      (text.substring(0, m.start).count(_ == '\n') + 1, m.matched.replaceAll("\\s+", " "))
    }.toSeq
  }

  test("the read lint flags reader chains ending in .parquet(, not writes, " +
      "streams, comments or the helper") {
    Seq(Seq("spark.read.parquet(path)"),
      Seq("val lb = cat.spark.read.parquet(lastBatch(cat, table))"),
      Seq("spark.read.schema(sinkSchema).parquet(sinkDir)"),
      Seq("val back = (if (flat) read.schema(df.schema) else read)",
        "  .parquet(s\"$warehouse/$name\")"),
      Seq("spark.read", "  .option(\"basePath\", b.root)", "  .parquet(b.ids.map(b.dir): _*)"),
      Seq("s.read.option(\"mergeSchema\", f(g(1))).parquet(p)"))
      .foreach(ls => assert(parquetReads(ls).nonEmpty, ls))
    Seq(Seq("df.write.mode(\"overwrite\").parquet(path)"),
      Seq("spark.readStream.schema(probed)", "  .parquet(s\"$dir/events.parque[t]\")"),
      Seq("Parquet.read(spark, path)"),
      Seq("Parquet.read(spark, Seq(sinkDir), schema = Some(sinkSchema))"),
      Seq("// spark.read.parquet(p) in a comment"),
      Seq("  * then `spark.read.parquet(dir)` in a doc"),
      Seq("if (scala.util.Try(store.read(lockFile)).toOption.contains(t))"),
      Seq("val a = spark.read.format(\"orc\").load(p)", "b.write.parquet(q)"),
      Seq("spark.read.format(\"orc\").load(p)", "  .write.parquet(q)"))
      .foreach(ls => assert(parquetReads(ls).isEmpty, ls))
    assert(parquetReads(Seq("x", "  spark.read", "    .parquet(p)")).map(_._1) === Seq(2))
  }

  test("only engine/Parquet opens parquet with a DataFrameReader under src/main") {
    val helper = Paths.get("src/main/scala/graft/engine/Parquet.scala")
    assert(Files.isRegularFile(helper), s"run from the repository root: $helper")
    val found = scalaFiles(Paths.get("src/main/scala")).filterNot(_ == helper).flatMap { f =>
      parquetReads(Files.readAllLines(f).asScala.toSeq).map { case (n, m) => s"$f:$n: $m" }
    }
    assert(found.isEmpty,
      s"parquet reads outside engine/Parquet:\n  ${found.mkString("\n  ")}")
  }

  private val Pool = Seq(
    """\bExecutors\s*\.\s*new\w+""".r,
    """\bnew\s+(?:ThreadPoolExecutor|ScheduledThreadPoolExecutor|ForkJoinPool)\b""".r)

  private val BuilderStep = Seq(
    """\.\s*save\w*\s*\(""".r,
    """\.\s*count\s*\(\s*\)""".r)

  private def flags(ops: Seq[scala.util.matching.Regex])(line: String): Boolean =
    ops.exists(_.findFirstIn(code(line)).isDefined)

  test("the build lint flags pools, saves and count() jobs, not comments " +
      "or aggregate functions") {
    Seq("val pool = Executors.newFixedThreadPool(LevelWidth)",
      "java.util.concurrent.Executors . newCachedThreadPool()",
      "val ex = new ThreadPoolExecutor(2, 2, 0L, TimeUnit.SECONDS, q)",
      "new ForkJoinPool(4)").foreach(l => assert(flags(Pool)(l), l))
    Seq("// Executors.newFixedThreadPool in a comment",
      "import java.util.concurrent.{CompletableFuture, Executors}",
      "  * one Executors.newFixedThreadPool thread per table")
      .foreach(l => assert(!flags(Pool)(l), l))
    Seq("() => cat.save(\"raw_fx_rates\",",
      "stage(\"dim_calendar\") { cat.save(\"dim_calendar\", calendar, sortBy = Seq(\"date\")) }",
      "cat.saveStaged(name, df)",
      "val rows = written.count()",
      "cat.table(\"x\").count ( )").foreach(l => assert(flags(BuilderStep)(l), l))
    Seq(".agg(count(lit(1)).as(\"n\"), min(to_date($\"invoice_ts\")).as(\"lo\"),",
      "countDistinct(when(!$\"invoice_no\".like(\"C%\"), $\"invoice_no\"))",
      "// each table is written by cat.save( in the runner, not here",
      "Table(\"fct_sales\", \"raw_retail_data\" +: Dims)(fct),")
      .foreach(l => assert(!flags(BuilderStep)(l), l))
  }

  test("only the Chain runner creates a thread pool under pipeline/, and the " +
      "retail builders neither save tables nor count rows themselves") {
    val runner = Pipeline.resolve("Chain.scala")
    assert(Files.isRegularFile(runner), s"run from the repository root: $runner")
    val pools = hits(scalaFiles(Pipeline).filterNot(_ == runner), flags(Pool))
    assert(pools.isEmpty, s"thread pools outside the runner:\n  ${pools.mkString("\n  ")}")
    val builders = Seq("RawRetailPipeline.scala", "RetailPipeline.scala").map(Pipeline.resolve)
    val steps = hits(builders, flags(BuilderStep))
    assert(steps.isEmpty,
      s"tables written or counted outside the chain:\n  ${steps.mkString("\n  ")}")
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
