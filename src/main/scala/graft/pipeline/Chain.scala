package graft.pipeline

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap,
  ConcurrentLinkedQueue, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Catalog, Parquet}

/** One table of a declared build: a CTAS (`Catalog.save`) of `plan`,
  * clustered by `sortBy` and laid out by `partitionBy`. `plan` reads
  * other tables only through its [[Deps]], which serve exactly `deps`.
  */
final case class Table(name: String, deps: Seq[String] = Nil,
    sortBy: Seq[String] = Nil, partitionBy: Seq[String] = Nil)(
    val plan: Deps => DataFrame)

/** What a table's plan may read: its declared dependencies, each
  * committed before the plan runs. Reading any other table throws, so
  * a declaration cannot leave out a table its plan reads.
  */
final class Deps private[pipeline] (cat: Catalog, of: Table, spans: String => Chain.Span) {
  val spark: SparkSession = cat.spark

  private def declared(n: String): String = {
    require(of.deps.contains(n),
      s"table ${of.name} reads $n, which it does not declare as a dependency")
    n
  }

  def table(n: String): DataFrame = cat.table(declared(n))

  /** The committed row count of `n`, from its parquet footers. */
  def rows(n: String): Long = Parquet.rowCount(spark, s"${cat.warehouse}/${declared(n)}")

  def span(n: String): Chain.Span = spans(declared(n))
}

/** A build declared as data: tables in declaration order, each
  * depending only on tables declared before it, so a chain has no
  * cycle. The reference runs the same chain as one ordered list of
  * CTAS steps (its `src/run.py:50-87`).
  */
final class Chain(val tables: Seq[Table]) {
  require(tables.nonEmpty, "a chain declares at least one table")
  tables.foldLeft(Set.empty[String]) { (earlier, t) =>
    require(!earlier(t.name), s"table ${t.name} is declared twice")
    t.deps.foreach(d => require(earlier(d),
      s"table ${t.name} depends on $d, which is not declared before it"))
    earlier + t.name
  }: Unit

  /** Save every table into `cat`, each as soon as all its dependencies
    * have committed; independent tables run concurrently, one pool
    * thread per table. If a table fails, its dependents never start;
    * the tables already running finish, then `cat` is closed and the
    * first failure is rethrown as it was thrown, with any later ones
    * attached as suppressed.
    */
  def run(cat: Catalog): Chain.Report = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1000000
    val pool = Executors.newFixedThreadPool(tables.size)
    val spans = new ConcurrentHashMap[String, Chain.Span]
    val failures = new ConcurrentLinkedQueue[Throwable]
    try {
      val committed = tables.foldLeft(Map.empty[String, CompletableFuture[Void]]) { (done, t) =>
        done + (t.name -> CompletableFuture.allOf(t.deps.map(done): _*).thenRunAsync(() => {
          val start = ms
          try cat.save(t.name, t.plan(new Deps(cat, t, spans.get)), t.sortBy, t.partitionBy)
          catch { case e: Throwable => failures.add(e); throw e }
          val after = t.deps.map(spans.get).maxByOption(_.endMs).map(_.table)
          spans.put(t.name, Chain.Span(t.name, start, ms, after)): Unit
        }, pool))
      }
      // waits for every table: committed, failed or never started
      CompletableFuture.allOf(committed.values.toSeq: _*).handle[Unit]((_, _) => ()).join()
    } finally pool.shutdown()
    failures.asScala.headOption.foreach { first =>
      failures.asScala.tail.foreach(first.addSuppressed)
      try cat.close() catch { case c: Throwable => first.addSuppressed(c) }
      throw first
    }
    val report = Chain.Report(tables.map(t => spans.get(t.name)))
    Chain.log.info(report.lines.mkString("build spans:\n", "\n", ""))
    report
  }
}

object Chain {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def apply(tables: Table*): Chain = new Chain(tables)

  /** One table's build, in ms from the start of the run: its plan
    * started at `waitMs`, once `after`, the last of its dependencies to
    * commit, had committed, and it committed at `endMs`.
    */
  final case class Span(table: String, waitMs: Long, endMs: Long, after: Option[String]) {
    def runMs: Long = endMs - waitMs
  }

  final case class Report(spans: Seq[Span]) {
    /** The last table to commit, the dependency it waited for last, and
      * so on back to a table with none: the tables that set the
      * build's length.
      */
    def criticalPath: Seq[Span] = {
      val byName = spans.map(s => s.table -> s).toMap
      Iterator.iterate(spans.maxByOption(_.endMs))(_.flatMap(_.after).map(byName))
        .takeWhile(_.nonEmpty).flatten.toSeq.reverse
    }

    def lines: Seq[String] =
      f"${"table"}%-24s ${"wait_ms"}%8s ${"run_ms"}%8s" +:
        spans.map(s => f"${s.table}%-24s ${s.waitMs}%8d ${s.runMs}%8d") :+
        s"critical path, ${spans.map(_.endMs).max} ms: " +
          criticalPath.map(s => s"${s.table} (${s.runMs} ms)").mkString(" -> ")
  }
}
