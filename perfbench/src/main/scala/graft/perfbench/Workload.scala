package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** One timed operation of a pass; `error` carries the exception class
  * and message, or the output check that failed.
  */
final case class Op(name: String, secs: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

object Op {
  /** Time `body`; a non-fatal exception becomes a failed op (fatal
    * errors propagate and end the run).
    */
  def timed(name: String)(body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    val err =
      try body
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    Op(name, (System.nanoTime() - t0) / 1e9, err)
  }
}

/** What a workload needs from the run: where to write, its seed, its
  * scale, and the session of the current set-up.
  */
final case class Ctx(spark: SparkSession, root: java.io.File, seed: Long,
                     scale: Scale) {
  def dir(name: String): String = {
    val d = new java.io.File(root, name)
    d.mkdirs()
    d.getPath
  }
}

trait Workload {
  /** Inputs and artifacts for the passes; runs on a fresh session and
    * is timed as part of `setup_s`. Throws if anything fails.
    */
  def setup(ctx: Ctx, spans: Spans): Unit

  /** One full pass over the workload; every operation is returned,
    * failed ones included.
    */
  def pass(ctx: Ctx, spans: Spans, passDir: String): Seq[Op]

  /** Per-layer metrics of a traced pass. */
  def layers(ctx: Ctx, trace: Trace, passDir: String): Seq[(String, Double)]

  /** Per-layer metrics measured by separate calls after the traced
    * pass (readers, expressions).
    */
  def probes(ctx: Ctx, spans: Spans): Seq[(String, Double)] = Nil
}

object Workload {
  /** Materialize the full result: every column and every row, written to
    * a sink that discards it, so no projection or sort can be pruned.
    */
  def toNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    r -> (System.nanoTime() - t0) / 1e9
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  def dataFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.startsWith("part-")) 1 else 0

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  /** Files and bytes written by the file writes among `actions`, from
    * each write command's own metrics.
    */
  def written(actions: Seq[Action]): (Double, Double) = {
    val ms = actions.filter(_.outputPath.isDefined).flatMap { a =>
      PlanShape.nodes(a.qe.executedPlan).map(_._1).collectFirst {
        case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
          w.cmd.metrics
      }
    }
    def sum(key: String) = ms.map(m => m.get(key).map(_.value).getOrElse(0L)).sum
    (sum("numFiles").toDouble, sum("numOutputBytes") / 1e6)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
