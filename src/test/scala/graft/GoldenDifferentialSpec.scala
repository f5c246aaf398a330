package graft

import scala.collection.mutable.ListBuffer
import scala.sys.process._

/** The DuckDB golden differential on every test run: `graft.Golden`'s
  * path at smoke scale, then `tools/check_golden.py` replays the
  * reference SQL over the staged raw tables and diffs all 8 downstream
  * tables cell by cell against the Spark build. Cancelled (not passed)
  * when the Python side cannot import duckdb.
  */
class GoldenDifferentialSpec extends SparkTestBase {

  private val checker = new java.io.File("tools/check_golden.py")

  test("graft.Golden at smoke scale: check_golden.py passes all 8 tables") {
    assert(checker.isFile, s"${checker.getAbsolutePath} not found")
    val probe = ListBuffer.empty[String]
    val importable = Seq("python3", "-c", "import duckdb, pandas")
      .!(ProcessLogger(_ => (), probe += _)) == 0
    if (!importable)
      cancel(s"python3 cannot import duckdb/pandas: ${probe.mkString("\n")}")

    val dir = java.nio.file.Files.createTempDirectory("graft_golden_diff")
      .toString
    assert(Golden.run(spark, dir, Golden.scaled(20000)) == 0,
      "manifest goldens failed")
    val out = ListBuffer.empty[String]
    val code = Seq("python3", checker.getPath, dir, s"$dir/GOLDEN_REPORT.md")
      .!(ProcessLogger(out += _, out += _))
    val passed = out.count(_.startsWith("PASS "))
    assert(code == 0 && passed == 8, s"exit $code:\n${out.mkString("\n")}")
  }
}
