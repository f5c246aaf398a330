package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: seconds since the recorder started. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, end: Double) {
  def iv: Stats.Iv = Stats.Iv(start, end)
}

/** Records spans around calls into the program. Spans stay in memory;
  * [[Trace.record]] writes them out after the pass. The untraced
  * recorder [[Spans.Off]] runs the body and records nothing.
  */
sealed trait Spans {
  def apply[T](name: String)(body: => T): T
}

object Spans {
  object Off extends Spans {
    def apply[T](name: String)(body: => T): T = body
  }

  final class On(val runId: String) extends Spans {
    private val t0 = System.nanoTime()
    private val buf = ArrayBuffer.empty[Span]
    private val stack = new ThreadLocal[List[Int]] {
      override def initialValue(): List[Int] = Nil
    }
    private var nextId = 0
    def now: Double = (System.nanoTime() - t0) / 1e9
    def spans: Seq[Span] = synchronized(buf.toList)

    def apply[T](name: String)(body: => T): T = {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val start = now
      try body
      finally {
        val end = now
        stack.set(stack.get.tail)
        synchronized { buf += Span(id, name, parent, runId, start, end) }
      }
    }
  }
}

/** Spark task counters, summed over every task that ends while the
  * listener is registered.
  */
final class TaskCounters extends SparkListener {
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      val info = e.taskInfo
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime
         else 0L))
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }
}

/** One completed query execution: what it wrote (if anything), how
  * long it ran, and the executed plan for shape counters.
  */
final case class Action(funcName: String, outputPath: Option[String],
                        endSec: Double, secs: Double, qe: QueryExecution)

/** Attributes every action to its output path (file writes) and keeps
  * the executed plans for [[PlanShape]].
  */
final class Actions(clock: () => Double) extends QueryExecutionListener {
  private val buf = ArrayBuffer.empty[Action]
  def all: Seq[Action] = synchronized(buf.toList)

  private def outputPath(qe: QueryExecution): Option[String] =
    qe.analyzed.collectFirst {
      case c: org.apache.spark.sql.execution.datasources
          .InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val a = Action(funcName, outputPath(qe), clock(), durationNs / 1e9, qe)
    synchronized { buf += a }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Micro-batch phase times from every streaming query's progress. */
final class StreamPhases extends StreamingQueryListener {
  var microbatches = 0
  val phaseMs = scala.collection.mutable.Map.empty[String, Long]
    .withDefaultValue(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    microbatches += 1
    e.progress.durationMs.forEach((k, v) => phaseMs(k) += v.longValue)
  }
}

/** Everything one traced pass registers, and how it is read back. */
final class Trace(val spark: SparkSession, val spans: Spans.On) {
  val tasks = new TaskCounters
  val actions = new Actions(() => spans.now)
  val stream = new StreamPhases

  def start(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(actions)
    spark.streams.addListener(stream)
  }

  /** Wait for the listener bus, then unregister everything. */
  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(actions)
    spark.streams.removeListener(stream)
  }

  /** Actions that ended inside the named spans. */
  def actionsIn(spanName: String): Seq[Action] = {
    val ivs = spans.spans.filter(_.name == spanName).map(_.iv)
    actions.all.filter(a =>
      ivs.exists(iv => a.endSec >= iv.start && a.endSec <= iv.end))
  }

  /** Spark execution counters; `runSecs` is the pass wall time. */
  def sparkMetrics(runSecs: Double, cores: Int): Seq[(String, Double)] =
    tasks.synchronized {
      Seq(
        "spark.task_cpu_s" -> tasks.cpuNs / 1e9,
        "spark.cpu_busy_ratio" -> tasks.cpuNs / 1e9 / (runSecs * cores),
        "spark.gc_s" -> tasks.gcMs / 1e3,
        "spark.scheduler_delay_s" -> tasks.schedDelayMs / 1e3,
        "spark.shuffle_read_mb" -> tasks.shuffleReadBytes / 1e6,
        "spark.shuffle_write_mb" -> tasks.shuffleWriteBytes / 1e6,
        "spark.spill_mb" -> tasks.spillBytes / 1e6,
        "spark.jobs" -> tasks.jobs.toDouble,
        "spark.stages" -> tasks.stages.toDouble,
        "spark.tasks" -> tasks.tasks.toDouble)
    }

  def streamMetrics: Seq[(String, Double)] = stream.synchronized {
    Seq(
      "stream.microbatches" -> stream.microbatches.toDouble,
      "stream.add_batch_s" -> stream.phaseMs("addBatch") / 1e3,
      "stream.wal_commit_s" -> stream.phaseMs("walCommit") / 1e3,
      "stream.query_planning_s" -> stream.phaseMs("queryPlanning") / 1e3,
      "stream.trigger_s" -> stream.phaseMs("triggerExecution") / 1e3)
  }

  /** Self time per span name, the part of the pass that no span covers,
    * and the spans themselves, as one JSON record.
    */
  def record(pass: Span, metrics: Seq[(String, Double, String)]): String = {
    val all = spans.spans
    val kids = all.groupBy(_.parent)
    val self = all.filter(_.id != pass.id).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => Stats.selfTime(s.iv, kids.getOrElse(s.id, Nil).map(_.iv))).sum
    }
    Json.obj(Seq(
      "run_id" -> Json.str(spans.runId),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "self_s" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }),
      "spans" -> Json.arr(all.sortBy(_.id).map(s => Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "run_id" -> Json.str(s.runId),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end)))))))
  }
}
