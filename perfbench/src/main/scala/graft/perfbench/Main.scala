package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.engine.Graft

/** Input sizes of one scale. `dataDir` holds the suite's parquet tables
  * and `expectFile` the recorded outputs of the query rows run there.
  */
final case class Scale(name: String, goldenRows: Int, dataDir: String,
                       expectFile: String, docRows: Int, exprRows: Long,
                       growthBatches: Int, setups: Int)

object Scale {
  def apply(name: String, benchDir: String): Scale = name match {
    case "full" => Scale("full", goldenRows = 20000,
      dataDir = s"$benchDir/data/sf0.01", expectFile = s"$benchDir/expect/sf0.01.tsv",
      docRows = 100, exprRows = 200000, growthBatches = 8, setups = 3)
    case "smoke" => Scale("smoke", goldenRows = 5000,
      dataDir = s"$benchDir/data/sf0.001", expectFile = s"$benchDir/expect/sf0.001.tsv",
      docRows = 50, exprRows = 20000, growthBatches = 4, setups = 2)
    case other => throw new IllegalArgumentException(s"unknown scale '$other'")
  }
}

/** One benchmark run: set up several times, run closed-loop passes for
  * `--seconds`, optionally one traced pass, and print the result line.
  *
  * Usage: Main --workload <golden_rebuild|incremental_ingest>
  *   --seed <n> --seconds <s> --trace <0|1> --bench-dir <dir>
  *   --work <dir> [--scale full|smoke] [--record <trace.json>]
  * `--record` writes the traced pass's spans and metrics.
  */
object Main {
  val Cores = 4
  /** Timed passes per run at least, however long a pass takes. */
  val MinPasses = 1
  /** Untraced passes a traced run times at least before its traced
    * pass: the tracing overhead is the traced pass minus their median,
    * not minus a single pass.
    */
  val MinPassesTraced = 3

  def workload(name: String): Workload = name match {
    case "golden_rebuild" => new GoldenRebuild
    case "incremental_ingest" => new IncrementalIngestBench
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(work: String): SparkSession =
    Graft.session("perfbench", defaultCpus = Cores.toString, extraConf = Map(
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/spark-warehouse"))

  /** Warm-up: session and codegen first-use costs (first shuffle,
    * broadcast, window, sort), kept out of every timed pass.
    */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
    val df = spark.range(20000).withColumn("k", col("id") % 7)
    Workload.toNoop(df.join(broadcast(spark.range(7).withColumnRenamed("id", "k")), "k")
      .withColumn("rn", row_number().over(w)).groupBy("k").agg(sum("rn"))
      .orderBy("k"))
  }

  final case class Pass(secs: Double, ops: Seq[Op], rssMb: Double, writtenMb: Double)

  /** The result line: the contract's correctness fields and metrics. */
  final case class Result(attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)]) {
    def json: String = Json.obj(Seq(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    println(run(opts).json)
  }

  def run(opts: Map[String, String]): Result = {
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val scale = Scale(opts.getOrElse("scale", "full"), opt("bench-dir"))
    val work = new java.io.File(opt("work")).getAbsoluteFile
    Workload.rm(work)
    work.mkdirs()
    val w = workload(name)

    // ---- set-up, several times, each on a fresh session --------------
    var spark: SparkSession = null
    var ctx: Ctx = null
    val setupSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val startSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      for (i <- 1 to scale.setups) {
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        val (s, start) = Workload.secs(session(work.getPath))
        spark = s
        warmUp(spark)
        ctx = Ctx(spark, new java.io.File(work, s"setup$i"), seed, scale)
        w.setup(ctx, Spans.Off)
        setupSecs += (System.nanoTime() - t0) / 1e9
        startSecs += start
      }

      // ---- timed passes, closed loop -------------------------------
      def onePass(i: Int, spans: Spans): (Pass, String) = {
        val dir = ctx.dir(s"pass$i")
        Proc.resetPeakRss()
        val w0 = Proc.writtenBytes
        val (ops, secs) = Workload.secs(w.pass(ctx, spans, dir))
        Pass(secs, ops, Proc.peakRssMb, (Proc.writtenBytes - w0) / 1e6) -> dir
      }
      def report(ops: Seq[Op], tag: String): Seq[Op] = {
        val bad = ops.filterNot(_.ok)
        bad.foreach(o => System.err.println(s"[perfbench] FAILED$tag ${o.name}: ${o.error.get}"))
        bad
      }
      // an untimed warm-up pass first: a session's first pass pays JIT
      // and one-time lazy builds that no later pass repeats; its outputs
      // are still checked
      val (warm, warmDir) = onePass(0, Spans.Off)
      Workload.rm(new java.io.File(warmDir))
      val warmFailed = report(warm.ops, " (warm-up)")
      val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
      val loopStart = System.nanoTime()
      val minPasses = if (traced) MinPassesTraced else MinPasses
      while (passes.size < minPasses || (System.nanoTime() - loopStart) / 1e9 < seconds) {
        val (p, dir) = onePass(passes.size + 1, Spans.Off)
        passes += p
        Workload.rm(new java.io.File(dir))
      }
      val ops = passes.flatMap(_.ops).toSeq
      val failed = report(ops, "")
      val opSecs = ops.map(_.secs)
      val p90 = Stats.percentile(opSecs, 90)
      val tailNote = Stats.supportedPercentile(opSecs.size) match {
        case Some(p) if p >= 90 => "p90 rests on >= 10 samples"
        case Some(p) => s"p90 rests on ${Stats.beyond(opSecs.size, 90)} samples (p$p is the highest with 10)"
        case None => s"p90 rests on ${Stats.beyond(opSecs.size, 90)} samples"
      }
      val runS = Stats.median(passes.map(_.secs).toSeq)
      System.err.println(f"[perfbench] $name seed=$seed passes=${passes.size} " +
        f"ops=${ops.size} failed=${failed.size} ($tailNote) " +
        passes.map(p => f"${p.secs}%.3f").mkString("pass_s=[", ",", "]") +
        setupSecs.map(s => f"$s%.3f").mkString(" setup_s=[", ",", "]"))

      val attempted = warm.ops.size + ops.size
      val nFailed = warmFailed.size + failed.size
      if (!traced) Result(attempted, nFailed, Seq(
        ("run_s", runS, "s"),
        ("op_p50_s", Stats.median(opSecs), "s"),
        ("op_p90_s", p90, "s"),
        ("setup_s", Stats.median(setupSecs.toSeq), "s"),
        ("written_mb", Stats.median(passes.map(_.writtenMb).toSeq), "MB")))
      else {
        // ---- one traced pass, separate from the timed ones ----------
        val spans = new Spans.On(s"$name-seed$seed")
        val trace = new Trace(spark, spans)
        trace.start()
        val (tp, dir) =
          try spans("pass")(onePass(-1, spans))
          finally trace.stop()
        val passSpan = spans.spans.find(_.name == "pass").get
        val kids = spans.spans.filter(_.parent == passSpan.id).map(_.iv)
        val tfailed = report(tp.ops, " (traced)")
        val layer = w.layers(ctx, trace, dir) ++ w.probes(ctx, spans) ++
          trace.sparkMetrics(tp.secs, Cores) ++ trace.streamMetrics ++ Seq(
            "session.start_s" -> Stats.median(startSecs.toSeq),
            "proc.peak_rss_mb" -> tp.rssMb,
            "trace.uncovered_s" -> (passSpan.iv.length - Stats.covered(kids, passSpan.iv)),
            "trace.overhead_s" -> (tp.secs - runS),
            "harness.fail_ratio" ->
              Stats.failRatio(nFailed + tfailed.size, attempted + tp.ops.size))
        val all = PerLayer.complete(layer)
        opts.get("record").foreach { path =>
          java.nio.file.Files.write(java.nio.file.Paths.get(path),
            (trace.record(passSpan, all) + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Workload.rm(new java.io.File(dir))
        Result(attempted + tp.ops.size, nFailed + tfailed.size, all)
      }
    } finally if (spark != null) spark.stop()
  }
}
