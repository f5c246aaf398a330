package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}
import graft.engine.{Catalog, Checksum}
import graft.pipeline.{IncrementalIngest, IncrementalNearDup, IncrementalRollup, MinMergeStats}

/** Every crash point of every warehouse commit protocol. A clean run
  * through a [[FaultStore]] counts the protocol's storage calls, which
  * must equal the protocol's pinned budget (on an object store each
  * call is a round trip); then, for every k from 0 to that count (plus
  * a torn variant of each data write), the call is run again from the
  * same pre-state with a crash after the k-th storage call. The crashed
  * Catalog is closed and a fresh one opened on the same warehouse, and:
  *  1. the first reader — the production reader of each of the
  *     protocol's tables — sees exactly each table's pre-state or
  *     post-state (row count + [[Checksum]]);
  *  2. replaying the call the way the protocol documents reaches
  *     exactly the clean run's post-state;
  *  3. no staging or moved-aside copy, marker, temp file or
  *     `_SUCCESS`-less batch / delta / version directory remains (for
  *     the compaction swap, already after the first reader).
  */
class CrashPointSpec extends SparkTestBase {
  import spark.implicits._

  /** `setup` builds the pre-state, `run` is the call under test and
    * `budget` its clean-run storage calls, `read` the first readers
    * after a crash, `replay` the documented recovery, and `state` what
    * the replay must reproduce.
    */
  private case class Protocol(
      name: String,
      budget: Int,
      setup: Catalog => Unit,
      run: Catalog => Unit,
      read: Catalog => Seq[DataFrame],
      state: Catalog => Seq[Any],
      replay: Option[Catalog => Unit] = None,
      readerHeals: Boolean = false)

  private lazy val base = Files.createTempDirectory("graft-crashpoints")

  private def digest(df: DataFrame): (Long, Any) = {
    val cols = df.schema.fields.toSeq.map(f => f.name -> (f.dataType match {
      case StringType => Checksum.Str
      case DateType => Checksum.DateLike
      case _ => Checksum.IntLike
    }))
    val r = Checksum.of(df, cols).head()
    (r.getLong(0), r.get(1))
  }

  private def withCatalog[A](wh: String)(f: Catalog => A): A = {
    val cat = new Catalog(spark, wh)
    try f(cat) finally cat.close()
  }

  private def tree(root: Path): Vector[Path] =
    Using.resource(Files.walk(root))(_.iterator.asScala.toVector)

  private def copyOf(from: Path, name: String): Path = {
    val to = base.resolve(name)
    tree(from).foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    to
  }

  private def remove(root: Path): Unit =
    tree(root).reverse.foreach(Files.delete)

  private val DebrisNames = Seq(".__compact_tmp", ".__compact_old", ".__compacting",
    "_REBUILD", ".tmp", "_temporary")
  private val CommittedDirs = Seq("__batch_id=", "__delta=", "_v=")

  private def debris(wh: Path): Seq[String] = tree(wh).collect {
    case p if DebrisNames.exists(p.getFileName.toString.endsWith) ||
        p.getFileName.toString.startsWith(".spark-staging") => wh.relativize(p).toString
    case p if Files.isDirectory(p) &&
        CommittedDirs.exists(p.getFileName.toString.startsWith) &&
        !Files.exists(p.resolve("_SUCCESS")) => s"${wh.relativize(p)} (no _SUCCESS)"
  }

  /** Run `p.run` on `wh` through `fs`, then close the Catalog: the
    * number of storage calls the run made, or None when it crashed.
    */
  private def crashRun(p: Protocol, wh: Path, fs: FaultStore): Option[Int] = {
    val cat = new Catalog(spark, wh.toString, fs)
    fs.arm()
    try { p.run(cat); Some(fs.trace.size) }
    catch { case _: FaultStore.Crash => None }
    finally cat.close()
  }

  private def enumerate(p: Protocol): Int = {
    val template = base.resolve(p.name)
    withCatalog(template.toString)(p.setup)
    val pre = withCatalog(template.toString)(c => p.read(c).map(digest))
    val clean = new FaultStore(Int.MaxValue)
    val cleanWh = copyOf(template, s"${p.name}_clean")
    val n = crashRun(p, cleanWh, clean).get
    assert(n == p.budget, s"${p.name}: $n storage calls, budget ${p.budget}: " +
      clean.trace.mkString(","))
    val (post, postState) = withCatalog(cleanWh.toString)(c =>
      (p.read(c).map(digest), p.state(c)))
    remove(cleanWh)
    val cases = (0 to n).flatMap(k =>
      (k, false) +: (if (k > 0 && clean.trace(k - 1) == "writeParquet") Seq((k, true))
        else Nil))
    cases.foreach { case (k, torn) =>
      val at = s"${p.name} crash after call $k of $n" +
        (if (torn) " (torn write)" else "") +
        s", calls: ${clean.trace.take(k + 1).mkString(",")}"
      val wh = copyOf(template, s"${p.name}_${k}_$torn")
      assert(crashRun(p, wh, new FaultStore(k, torn)).isEmpty == (torn || k < n), at)
      withCatalog(wh.toString) { cat =>
        p.read(cat).map(digest).zipWithIndex.foreach { case (seen, i) =>
          assert(seen == pre(i) || seen == post(i),
            s"$at: first reader of table $i saw $seen; pre ${pre(i)}, post ${post(i)}")
        }
        if (p.readerHeals) assert(debris(wh).isEmpty, s"$at: after the first reader")
        p.replay.getOrElse(p.run)(cat)
        assert(p.state(cat) == postState, s"$at: replay")
        assert(debris(wh).isEmpty, s"$at: after the replay")
      }
      remove(wh)
    }
    remove(template)
    cases.size
  }

  // ---- inline fixtures ---------------------------------------------------

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, if (i % 3 == 0) "F" else "O"))
      .toDF("k", "s")

  private def tableReader(name: String)(c: Catalog): DataFrame = {
    assert(c.exists(name), s"$name missing")
    c.reread(name)
  }

  private def committed(name: String)(c: Catalog): DataFrame =
    c.readBatches(c.batches(name))

  private def swapProtocol(name: String, budget: Int, setup: Catalog => Unit,
                           run: Catalog => Unit, table: String) =
    Protocol(name, budget, setup, run, c => Seq(tableReader(table)(c)),
      c => Seq(digest(tableReader(table)(c))), readerHeals = true)

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  // simhash needs token mass: long distinct texts
  private def txt(seed: String): String =
    (1 to 40).map(i => s"$seed$i token$i word${i * 7}").mkString(" ")

  private def facts(rows: (String, String, Long)*) =
    rows.toSeq.toDF("day", "ev", "v").withColumn("day", to_date(col("day")))

  private def rollup(slice: DataFrame): DataFrame =
    slice.groupBy("day", "ev").agg(count(lit(1)).as("n"), sum("v").as("total"))

  private val Keys = Seq("k")
  private val Ord = Seq("o")
  private def owners(pairs: (Long, Long)*) = pairs.toSeq.toDF("k", "o")
  private def fold(t: String, batch: DataFrame)(c: Catalog): Unit =
    MinMergeStats.fold(c, t, batch, Keys, Ord, nBuckets = 4): Unit

  /** Runs with AQE's partition coalescing off, so the fixtures' small
    * shuffled writes land as several part files and a torn write has
    * one to lose.
    */
  private def check(p: Protocol): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val t0 = System.nanoTime()
      val cases = enumerate(p)
      info(f"$cases crash cases in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Catalog.compact: every crash point reads old or new and heals") {
    check(swapProtocol("compact", 9,
      c => c.save("cp_t", rows(40).repartition(4)), c => c.compact("cp_t"), "cp_t"))
  }

  test("Catalog.compactPartitions: every crash point reads old or new and heals") {
    check(swapProtocol("compact_partitions", 17,
      c => c.save("cpp_t", rows(40).repartition(4), partitionBy = Seq("s")),
      c => c.compactPartitions("cpp_t"), "cpp_t"))
  }

  test("Catalog.saveStaged: every crash point reads old or new and heals") {
    check(swapProtocol("save_staged", 8,
      c => c.save("ss_t", rows(20)),
      c => c.saveStaged("ss_t", rows(30, from = 100)), "ss_t"))
  }

  test("Catalog.saveVersioned: every crash point reads the old or new version") {
    val save = (c: Catalog) => c.saveVersioned("sv_t", rows(15, from = 50)): Unit
    check(Protocol("save_versioned", 4,
      c => c.saveVersioned("sv_t", rows(10)): Unit, save,
      c => Seq(c.tableLatest("sv_t")),
      c => Seq(digest(c.tableLatest("sv_t")), c.versions("sv_t")),
      // re-run the save if the pointer still names the pre-state version
      replay = Some(c => if (c.latestVersion("sv_t").contains(1)) save(c))))
  }

  test("IncrementalIngest.ingest: every crash point reads old or new and replays") {
    val tables = (c: Catalog) => Seq(committed("ii_c")(c), committed("ii_c_digests")(c))
    check(Protocol("incremental_ingest", 9,
      c => IncrementalIngest.ingest(c,
        docs((1L to 12L).map(i => i -> s"doc $i"): _*), "text", "ii_c"): Unit,
      c => IncrementalIngest.ingest(c,
        docs((9L to 24L).map(i => i -> s"doc ${i % 20}"): _*), "text", "ii_c"): Unit,
      tables, c => tables(c).map(digest)))
  }

  test("IncrementalNearDup.ingest: every crash point reads old or new and replays") {
    val tables = (c: Catalog) =>
      Seq(IncrementalNearDup.corpusWithBatchId(c, "nd_c"), committed("nd_c_sigs")(c))
    check(Protocol("incremental_neardup", 12,
      c => IncrementalNearDup.ingest(c,
        docs(1L -> txt("alpha"), 2L -> txt("beta"), 3L -> txt("gamma")),
        "nd_c", Some(1L)): Unit,
      c => IncrementalNearDup.ingest(c,
        docs(10L -> txt("alpha"), 11L -> txt("delta"), 12L -> txt("delta"),
          13L -> txt("eps")), "nd_c", Some(2L)): Unit,
      tables,
      c => tables(c).map(digest) :+ IncrementalNearDup.storedSigBuckets(c, "nd_c_sigs")))
  }

  test("IncrementalRollup.ingest: every crash point reads old or new and replays") {
    val tables = (c: Catalog) => Seq(committed("cr_f")(c), tableReader("cr_r")(c))
    check(Protocol("incremental_rollup", 6,
      c => IncrementalRollup.ingest(c, "cr_f", "cr_r", "day",
        facts(("2024-03-01", "x", 1L), ("2024-03-02", "y", 2L),
          ("2024-03-02", "x", 3L)), rollup, Some(1L)): Unit,
      c => IncrementalRollup.ingest(c, "cr_f", "cr_r", "day",
        facts(("2024-03-02", "x", 10L), ("2024-03-03", "z", 20L)),
        rollup, Some(2L)): Unit,
      tables, c => tables(c).map(digest)))
  }

  test("MinMergeStats.fold: every crash point reads old or new and replays") {
    val view = (c: Catalog) => MinMergeStats.view(c, "mm_t", Keys, Ord)
    check(Protocol("minmerge_fold", 11,
      fold("mm_t", owners((1L to 20L).map(k => k -> (k + 10)): _*)),
      fold("mm_t", owners((11L to 30L).map(k => k -> k): _*)),
      c => Seq(view(c)), c => Seq(digest(view(c)))))
  }

  test("MinMergeStats.rebuild: every crash point reads old or new and replays") {
    val view = (c: Catalog) => MinMergeStats.view(c, "mr_t", Keys, Ord)
    check(Protocol("minmerge_rebuild", 17,
      c => {
        fold("mr_t", owners((1L to 20L).map(k => k -> (k % 7)): _*))(c)
        fold("mr_t", owners((15L to 25L).map(k => k -> (k % 5 + 3)): _*))(c)
      },
      c => MinMergeStats.rebuild(c, "mr_t",
        owners((1L to 25L).map(k => k -> (k % 4 + 5)): _*),
        col("o") < 5, Keys, Ord): Unit,
      c => Seq(view(c)), c => Seq(digest(view(c)))))
  }
}
