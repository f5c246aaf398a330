package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Catalog, Graft}
import graft.pipeline.{IncrementalIngest, IncrementalNearDup, IncrementalRollup}
import graft.queries.Scratch
import graft.streaming.EventsStream

/** Reading back what the engine wrote runs no schema-inference job. A
  * bare `spark.read.parquet` infers the data schema with a one-task
  * Spark job outside any SQL execution (its stage is `parquet at …`);
  * every other job of these paths runs inside one. So a job whose
  * properties lack `spark.sql.execution.id` is such an inference job.
  */
class NoInferenceJobSpec extends SparkTestBase {
  import spark.implicits._

  private val Marker = "graft.spec.lastJob"

  /** Stage names of the jobs `body` starts outside a SQL execution. */
  private def jobsOutsideSql(body: => Unit): Seq[String] = {
    val found = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(Marker) != null)) drained.countDown()
        else if (props.forall(_.getProperty("spark.sql.execution.id") == null))
          found.add(e.stageInfos.map(_.name).mkString(", "))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // one marked job after the work: once the listener has seen it,
      // it has seen every job before it
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
      assert(drained.await(60, TimeUnit.SECONDS), "the listener never saw the marked job")
    } finally sc.removeSparkListener(listener)
    found.asScala.toSeq
  }

  private def rollup(slice: DataFrame): DataFrame =
    slice.groupBy(col("day")).agg(count(lit(1)).as("n"))

  test("ingest, corpus reads, scratch read-backs and a streaming replay run " +
      "no schema-inference job") {
    // the input frames are built first: only the engine's own reads count
    val docs = Graft.table(spark, sfDir, "documents").select("doc_id", "text")
      .orderBy("doc_id").limit(40)
    val batch1 = Seq(("2024-03-01", 1L), ("2024-03-02", 2L)).toDF("d", "v")
      .select(to_date(col("d")).as("day"), col("v"))
    val batch2 = Seq(("2024-03-02", 3L), ("2024-03-03", 4L)).toDF("d", "v")
      .select(to_date(col("d")).as("day"), col("v"))
    val cat = new Catalog(spark, Scratch.fresh(spark, "noinfer_wh"))
    try {
      val jobs = jobsOutsideSql {
        IncrementalRollup.ingest(cat, "f", "r", "day", batch1, rollup, Some(1L))
          .collect(): Unit
        IncrementalRollup.ingest(cat, "f", "r", "day", batch2, rollup, Some(2L))
          .collect(): Unit
        IncrementalNearDup.ingest(cat, docs, "nd_corpus", Some(1L)).count(): Unit
        IncrementalIngest.ingest(cat, docs, "text", "ex_corpus").count(): Unit
        IncrementalNearDup.corpus(cat, "nd_corpus").count(): Unit
        IncrementalNearDup.corpus(cat, "ex_corpus").count(): Unit
        Scratch.materialize(spark, "noinfer_m", docs).count(): Unit
        Scratch.memoized(spark, s"noinfer_spec:$sfDir", "noinfer_memo", docs).count(): Unit
        Scratch.memoized(spark, s"noinfer_spec:$sfDir", "noinfer_memo", docs).count(): Unit
        EventsStream.hourlyCountsOneShot(spark, sfDir).collect(): Unit
      }
      assert(jobs.isEmpty, s"${jobs.size} jobs outside a SQL execution:\n  " +
        jobs.mkString("\n  "))
    } finally cat.close()
  }
}
