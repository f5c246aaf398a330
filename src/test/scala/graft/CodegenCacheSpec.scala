package graft

import java.nio.file.Files
import graft.engine.{Graft, GoldenFixture}
import graft.pipeline.RawRetailPipeline

/** Spark keeps the classes it generates in one JVM-wide cache, sized by
  * `Graft.conf`. At Spark's default of 100 entries a warm build of the
  * paper's chain (about 170 distinct classes) evicted each class before
  * it came round again, so every build recompiled every class. Tests
  * run one suite after another in one forked JVM, so the compile
  * count across a build is deterministic.
  */
class CodegenCacheSpec extends SparkTestBase {

  private val cfg = GoldenFixture.Config(rowsSheet1 = 1000, rowsSheet2 = 1000,
    nProducts = 60, nCustomers = 50)

  /** A child of the test session: same context, conf and class cache,
    * but its own temp views, so the tables the builds register do not
    * replace `GoldenSpec.built`'s. Both builds share it, because the
    * cache key holds the session's class loader as well as the source.
    */
  private lazy val session = spark.newSession()

  /** Generate the raw files, build the star schema and save the view. */
  private def buildOnce(): Unit = {
    val dir = Files.createTempDirectory("graft_codegen_cache").toString
    val (xlsx, fx, hol) = GoldenSpec.writeRaw(cfg, dir)
    val cat = RawRetailPipeline.build(session, xlsx, fx, hol, s"$dir/warehouse")
    try cat.save("v_monthly_sales_summary_materialized",
      RawRetailPipeline.monthlyView(session, cat)): Unit
    finally cat.close()
  }

  test("the session sizes the codegen class cache from Graft.conf") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
  }

  test("a second build of the golden chain compiles no generated class") {
    buildOnce()
    val before = Bench.codegenCompiles
    buildOnce()
    val compiled = Bench.codegenCompiles - before
    assert(compiled == 0,
      s"the second build recompiled $compiled generated classes")
  }
}
