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
  * through a [[FaultStore]] counts the protocol's storage calls; then,
  * for every k from 0 to that count (plus a torn variant of each data
  * write), the call is run again from the same pre-state with a crash
  * after the k-th storage call. The crashed Catalog is closed and a
  * fresh one opened on the same warehouse, and:
  *  1. the first reader sees exactly the pre-state or the post-state
  *     (row count + [[Checksum]]);
  *  2. replaying the call the way the protocol documents reaches
  *     exactly the clean run's post-state;
  *  3. no staging or moved-aside copy, marker, temp file or
  *     `_SUCCESS`-less batch / delta / version directory remains (for
  *     the compaction swap, already after the first reader).
  */
class CrashPointSpec extends SparkTestBase {
  import spark.implicits._

  /** `setup` builds the pre-state, `run` is the call under test,
    * `read` the first reader after a crash, `replay` the documented
    * recovery, and `state` what the replay must reproduce.
    */
  private case class Protocol(
      name: String,
      setup: Catalog => Unit,
      run: Catalog => Unit,
      read: Catalog => DataFrame,
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
    val pre = withCatalog(template.toString)(c => digest(p.read(c)))
    val clean = new FaultStore(Int.MaxValue)
    val cleanWh = copyOf(template, s"${p.name}_clean")
    val n = crashRun(p, cleanWh, clean).get
    val (post, postState) = withCatalog(cleanWh.toString)(c =>
      (digest(p.read(c)), p.state(c)))
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
        val seen = digest(p.read(cat))
        assert(seen == pre || seen == post,
          s"$at: first reader saw $seen; pre $pre, post $post")
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
    spark.read.parquet(s"${c.warehouse}/$name")
  }

  private def swapProtocol(name: String, setup: Catalog => Unit,
                           run: Catalog => Unit, table: String) =
    Protocol(name, setup, run, tableReader(table),
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

  private def check(p: Protocol): Unit = {
    val t0 = System.nanoTime()
    val cases = enumerate(p)
    info(f"$cases crash cases in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("Catalog.compact: every crash point reads old or new and heals") {
    check(swapProtocol("compact",
      c => c.save("cp_t", rows(40).repartition(4)), c => c.compact("cp_t"), "cp_t"))
  }

  test("Catalog.compactPartitions: every crash point reads old or new and heals") {
    check(swapProtocol("compact_partitions",
      c => c.save("cpp_t", rows(40).repartition(4), partitionBy = Seq("s")),
      c => c.compactPartitions("cpp_t"), "cpp_t"))
  }

  test("Catalog.saveStaged: every crash point reads old or new and heals") {
    check(swapProtocol("save_staged",
      c => c.save("ss_t", rows(20)),
      c => c.saveStaged("ss_t", rows(30, from = 100)), "ss_t"))
  }

  test("Catalog.saveVersioned: every crash point reads the old or new version") {
    val save = (c: Catalog) => c.saveVersioned("sv_t", rows(15, from = 50)): Unit
    check(Protocol("save_versioned",
      c => c.saveVersioned("sv_t", rows(10)): Unit, save,
      c => c.tableLatest("sv_t"),
      c => Seq(digest(c.tableLatest("sv_t")), c.versions("sv_t")),
      // re-run the save if the pointer still names the pre-state version
      replay = Some(c => if (c.latestVersion("sv_t").contains(1)) save(c))))
  }

  test("IncrementalIngest.ingest: every crash point reads old or new and replays") {
    val corpus = (c: Catalog) => spark.read.parquet(s"${c.warehouse}/ii_c")
    check(Protocol("incremental_ingest",
      c => IncrementalIngest.ingest(c,
        docs((1L to 12L).map(i => i -> s"doc $i"): _*), "text", "ii_c"): Unit,
      c => IncrementalIngest.ingest(c,
        docs((9L to 24L).map(i => i -> s"doc ${i % 20}"): _*), "text", "ii_c"): Unit,
      corpus,
      c => Seq(digest(corpus(c)),
        digest(spark.read.parquet(s"${c.warehouse}/ii_c_digests")))))
  }

  test("IncrementalNearDup.ingest: every crash point reads old or new and replays") {
    check(Protocol("incremental_neardup",
      c => IncrementalNearDup.ingest(c,
        docs(1L -> txt("alpha"), 2L -> txt("beta"), 3L -> txt("gamma")),
        "nd_c", Some(1L)): Unit,
      c => IncrementalNearDup.ingest(c,
        docs(10L -> txt("alpha"), 11L -> txt("delta"), 12L -> txt("delta"),
          13L -> txt("eps")), "nd_c", Some(2L)): Unit,
      c => IncrementalNearDup.corpus(c, "nd_c"),
      c => Seq(digest(IncrementalNearDup.corpusWithBatchId(c, "nd_c")),
        digest(spark.read.parquet(s"${c.warehouse}/nd_c_sigs")),
        IncrementalNearDup.storedSigBuckets(c, "nd_c_sigs"))))
  }

  test("IncrementalRollup.ingest: every crash point reads old or new and replays") {
    val rolled = (c: Catalog) => spark.read.parquet(s"${c.warehouse}/cr_r")
    check(Protocol("incremental_rollup",
      c => IncrementalRollup.ingest(c, "cr_f", "cr_r", "day",
        facts(("2024-03-01", "x", 1L), ("2024-03-02", "y", 2L),
          ("2024-03-02", "x", 3L)), rollup, Some(1L)): Unit,
      c => IncrementalRollup.ingest(c, "cr_f", "cr_r", "day",
        facts(("2024-03-02", "x", 10L), ("2024-03-03", "z", 20L)),
        rollup, Some(2L)): Unit,
      rolled,
      c => Seq(digest(spark.read.parquet(s"${c.warehouse}/cr_f")),
        digest(rolled(c)))))
  }

  test("MinMergeStats.fold: every crash point reads old or new and replays") {
    val view = (c: Catalog) => MinMergeStats.view(c, "mm_t", Keys, Ord)
    check(Protocol("minmerge_fold",
      fold("mm_t", owners((1L to 20L).map(k => k -> (k + 10)): _*)),
      fold("mm_t", owners((11L to 30L).map(k => k -> k): _*)),
      view, c => Seq(digest(view(c)))))
  }

  test("MinMergeStats.rebuild: every crash point reads old or new and replays") {
    val view = (c: Catalog) => MinMergeStats.view(c, "mr_t", Keys, Ord)
    check(Protocol("minmerge_rebuild",
      c => {
        fold("mr_t", owners((1L to 20L).map(k => k -> (k % 7)): _*))(c)
        fold("mr_t", owners((15L to 25L).map(k => k -> (k % 5 + 3)): _*))(c)
      },
      c => MinMergeStats.rebuild(c, "mr_t",
        owners((1L to 25L).map(k => k -> (k % 4 + 5)): _*),
        col("o") < 5, Keys, Ord): Unit,
      view, c => Seq(digest(view(c)))))
  }
}
