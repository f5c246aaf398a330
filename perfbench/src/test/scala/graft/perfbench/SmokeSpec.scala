package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every workload end to end at the smoke scale (Golden at 5k rows,
  * the sf0.001 tables, a few batches): the same code path as a full run,
  * small enough for a test.
  */
class SmokeSpec extends AnyFunSuite {
  private val EndToEnd =
    Seq("run_s", "op_p50_s", "op_p90_s", "setup_s", "written_mb")

  private def run(workload: String, trace: Int) = Main.run(Map(
    "workload" -> workload, "seed" -> "7", "seconds" -> "0",
    "trace" -> trace.toString, "scale" -> "smoke", "bench-dir" -> ".",
    "work" -> "target/smoke-work"))

  for (w <- Seq("golden_rebuild", "incremental_ingest")) {
    test(s"$w: timed run is correct and reports every end-to-end metric") {
      val r = run(w, 0)
      assert(r.failed == 0 && r.attempted > 0)
      assert(r.metrics.map(_._1) == EndToEnd)
      r.metrics.foreach { case (k, v, _) => assert(v > 0, s"$k = $v") }
    }

    test(s"$w: traced run reports every per-layer metric") {
      val r = run(w, 1)
      assert(r.failed == 0)
      assert(r.metrics.map(_._1) == PerLayer.Units.map(_._1))
      if (w == "incremental_ingest")
        QuerySuite.Modules.foreach { case (m, _) =>
          val v = r.metrics.find(_._1 == s"queries.${m}_s").get._2
          assert(v > 0, s"no row of module $m was timed")
        }
    }
  }
}
