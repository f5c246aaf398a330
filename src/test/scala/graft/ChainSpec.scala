package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.engine.Catalog
import graft.pipeline.{Chain, Deps, Table}

/** The declared-build runner on toy chains over a temp warehouse:
  * dependency order, no level barriers, failure semantics and the
  * declaration checks.
  */
class ChainSpec extends SparkTestBase {

  private def warehouse(): String = Files.createTempDirectory("graft-chain").toString

  private def rows(n: Long): DataFrame = spark.range(n).toDF("id")

  private def committed(wh: String, t: String): Boolean =
    Files.exists(Paths.get(wh, t, "_SUCCESS"))

  /** Wait up to 30 s for `latch`; a barrier that holds the counting
    * table back makes this fail instead of hang.
    */
  private def await(latch: CountDownLatch, what: String): Unit =
    assert(latch.await(30, TimeUnit.SECONDS), s"timed out waiting for $what")

  test("no plan starts before every dependency has committed") {
    val wh = warehouse()
    val cat = new Catalog(spark, wh)
    // each plan records which of its dependencies had committed when it started
    val seen = new ConcurrentHashMap[String, Seq[String]]
    def plan(n: Long)(d: Deps, t: String, deps: Seq[String]): DataFrame = {
      seen.put(t, deps.filter(committed(wh, _)))
      Thread.sleep(100)
      rows(n)
    }
    def table(t: String, deps: String*)(n: Long) =
      Table(t, deps)(d => plan(n)(d, t, deps))
    val chain = Chain(table("a")(3), table("b")(4), table("c", "a")(5),
      table("d", "a", "b")(6), table("e", "c", "d")(7))
    try {
      val report = chain.run(cat)
      chain.tables.foreach(t => assert(seen.get(t.name) === t.deps, t.name))
      val span = report.spans.map(s => s.table -> s).toMap
      chain.tables.foreach(t => t.deps.foreach(dep =>
        assert(span(t.name).waitMs >= span(dep).endMs, s"${t.name} after $dep")))
      assert(report.criticalPath.last.table === "e")
      assert(report.criticalPath.head.after.isEmpty)
      assert(cat.table("e").count() === 7L)
    } finally cat.close()
  }

  test("a slow table does not hold back an unrelated table's dependents") {
    val cat = new Catalog(spark, warehouse())
    val childStarted = new CountDownLatch(1)
    // "slow" commits only once "child" has started: under a level
    // barrier, "child" would wait for "slow" and the wait would time out
    val chain = Chain(
      Table("slow") { _ => await(childStarted, "child"); rows(1) },
      Table("fast")(_ => rows(2)),
      Table("child", Seq("fast")) { d => childStarted.countDown(); d.table("fast") })
    try {
      val report = chain.run(cat)
      val span = report.spans.map(s => s.table -> s).toMap
      assert(span("child").waitMs <= span("slow").endMs)
      assert(span("child").after === Some("fast"))
      assert(cat.table("child").count() === 2L)
    } finally cat.close()
  }

  test("a failure stops its dependents, lets running tables finish and " +
      "rethrows the first failure with later ones suppressed") {
    val wh = warehouse()
    val cat = new Catalog(spark, wh)
    val first = new IllegalStateException("first")
    val second = new UnsupportedOperationException("second")
    val failed = new CountDownLatch(1)
    val ran = new ConcurrentLinkedQueue[String]
    val chain = Chain(
      Table("broken") { _ => ran.add("broken"); failed.countDown(); throw first },
      Table("later") { _ =>
        ran.add("later"); await(failed, "broken"); Thread.sleep(300); throw second
      },
      Table("running") { _ =>
        ran.add("running"); await(failed, "broken"); Thread.sleep(300); rows(3)
      },
      Table("dependent", Seq("broken"))(_ => { ran.add("dependent"); rows(1) }),
      Table("grandchild", Seq("running", "dependent"))(_ => {
        ran.add("grandchild"); rows(1)
      }))
    val e = intercept[IllegalStateException](chain.run(cat))
    assert(e eq first)
    assert(e.getSuppressed.toSeq === Seq(second))
    assert(ran.asScala.toSet === Set("broken", "later", "running"))
    assert(committed(wh, "running"), "an in-flight table finishes before the rethrow")
    Seq("broken", "later", "dependent", "grandchild")
      .foreach(t => assert(!committed(wh, t), t))
    // the failed run closed its catalog: the warehouse can be opened again
    new Catalog(spark, wh).close()
  }

  test("a plan that reads an undeclared table fails the run") {
    val cat = new Catalog(spark, warehouse())
    cat.save("outside", rows(1))
    val e = intercept[IllegalArgumentException](Chain(
      Table("a")(_ => rows(1)),
      Table("b", Seq("a"))(d => d.table("a").crossJoin(d.table("outside"))))
      .run(cat))
    assert(e.getMessage.contains("table b reads outside"), e.getMessage)
    // rows and span are checked the same way
    val declared = Chain(
      Table("a")(_ => rows(2)),
      Table("b")(d => rows(d.rows("a"))))
    val cat2 = new Catalog(spark, warehouse())
    intercept[IllegalArgumentException](declared.run(cat2))
  }

  test("a dependency on a later, unknown or repeated table is rejected " +
      "when the chain is declared") {
    val ok = Table("a")(_ => rows(1))
    def rejected(tables: Table*) =
      intercept[IllegalArgumentException](Chain(tables: _*)).getMessage
    assert(rejected(Table("b", Seq("a"))(_ => rows(1)), ok)
      .contains("b depends on a, which is not declared before it"))
    assert(rejected(ok, Table("b", Seq("zz"))(_ => rows(1))).contains("zz"))
    assert(rejected(ok, Table("b", Seq("b"))(_ => rows(1))).contains("b depends on b"))
    assert(rejected(ok, ok).contains("a is declared twice"))
    assert(rejected().contains("at least one table"))
  }

  test("a dependency's committed rows come from its footers") {
    val cat = new Catalog(spark, warehouse())
    try {
      val report = Chain(
        Table("flat")(_ => rows(5).repartition(3)),
        Table("parts", partitionBy = Seq("k"))(_ => rows(7).selectExpr("id", "id % 3 AS k")),
        Table("counts", Seq("flat", "parts")) { d =>
          import d.spark.implicits._
          Seq((d.rows("flat"), d.rows("parts"))).toDF("flat", "parts")
        }).run(cat)
      val counts = cat.table("counts").head()
      assert((counts.getLong(0), counts.getLong(1)) === ((5L, 7L)))
      assert(report.spans.map(_.table) === Seq("flat", "parts", "counts"))
      assert(report.lines.last.startsWith("critical path"), report.lines.last)
    } finally cat.close()
  }
}
