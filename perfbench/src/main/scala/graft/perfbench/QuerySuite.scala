package graft.perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{ExcelFixtures, Graft}
import graft.queries.{CoreQueries, DedupQueries, Q, Registry}

/** The read half of the ingest workload: registered query rows, each
  * timed until its full result has been written to a `noop` sink, in a
  * seed-shuffled order, and checked against a recorded row count and
  * schema.
  */
final class QuerySuite {
  import QuerySuite._

  private var rows: Seq[Q] = Nil
  private var expect: Map[String, Expect] = Map.empty
  private var data: String = _
  private val artifactSecs =
    scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)

  def setup(ctx: Ctx, spans: Spans): Unit = {
    data = ctx.scale.dataDir
    expect = Expect.load(ctx.scale.expectFile)
    val byName = Registry.all.map(q => q.name -> q).toMap
    val missing = expect.keySet -- byName.keySet
    require(missing.isEmpty, s"expected rows not registered: ${missing.mkString(", ")}")
    val unrecorded = Rows.toSet -- expect.keySet
    require(unrecorded.isEmpty, s"rows without a recorded output: ${unrecorded.mkString(", ")}")
    rows = new scala.util.Random(ctx.seed).shuffle(Rows).map(byName)
    // a failing build fails the set-up, so its cost is never billed to
    // the first row that reads the artifact
    artifacts.foreach { case (name, build) =>
      val (_, s) = Workload.secs(spans(s"artifact.$name")(build(ctx.spark, data)))
      artifactSecs(name) = artifactSecs(name) :+ s
    }
  }

  /** One timed operation per row, in the seed's order. */
  def rowOps(ctx: Ctx, spans: Spans): Seq[() => Op] =
    rows.map(q => () => Op.timed(q.name)(spans(s"row.${q.name}")(runRow(ctx.spark, q))))

  /** Run one row to its full result and check it. */
  private def runRow(spark: SparkSession, q: Q): Option[String] = {
    val (n, st) = fullResult(spark, q, data)
    val e = expect(q.name)
    val schema = Expect.schemaOf(st)
    if (n != e.rows) Some(s"row count $n, expected ${e.rows}")
    else if (schema != e.schema) Some(s"schema $schema, expected ${e.schema}")
    else None
  }

  def layers(ctx: Ctx, trace: Trace, passDir: String): Seq[(String, Double)] = {
    val rowSpans = trace.spans.spans.filter(_.name.startsWith("row."))
      .map(s => s.name.stripPrefix("row.") -> s).toMap
    val moduleSecs = Modules.map { case (mod, qs) =>
      s"queries.${mod}_s" -> qs.flatMap(q => rowSpans.get(q.name)).map(_.iv.length).sum
    }
    val shape = rowSpans.keys.toSeq.flatMap(n => trace.actionsIn(s"row.$n"))
      .distinct.map(a => PlanShape.of(a.qe.executedPlan))
      .foldLeft(PlanShape.Zero)(_ + _)
    moduleSecs ++ Seq(
      "plan.exchanges" -> shape.exchanges.toDouble,
      "plan.broadcast_joins" -> shape.broadcastJoins.toDouble,
      "plan.sort_merge_joins" -> shape.sortMergeJoins.toDouble,
      "plan.non_codegen_ops" -> shape.nonCodegenOps.toDouble,
      "plan.codegen_fallback_exprs" -> shape.codegenFallbackExprs.toDouble) ++
      artifacts.map { case (name, _) =>
        s"artifact.${name}_s" -> Workload.median(artifactSecs(name)) }
  }

  /** The compiled expressions, each projected over a replicated column of
    * the suite's documents or embeddings and written to a `noop` sink.
    */
  def probes(ctx: Ctx, spans: Spans): Seq[(String, Double)] = {
    val spark = ctx.spark
    val reps = ctx.scale.exprRows
    def rep(table: String, col: String) = {
      val t = Graft.table(spark, data, table).select(col)
      val n = t.count()
      spark.range((reps + n - 1) / n).crossJoin(t).drop("id")
        .repartition(4).cache()
    }
    val docs = rep("documents", "text")
    val embs = rep("embeddings", "embedding")
      .withColumn("dv", col("embedding").cast("array<double>"))
    val toks = docs.select(split(col("text"), " ").as("tk")).cache()
    Seq(docs, embs, toks).foreach(Workload.toNoop)
    val probes = Seq(
      ("graft_dot", embs, "graft_dot(embedding, embedding)"),
      ("graft_strhash", docs, "graft_strhash(text)"),
      ("graft_wsum", toks, "graft_wsum(tk)"),
      ("graft_dsq", embs, "graft_dsq(dv, dv)"),
      ("graft_nfc", docs, "graft_nfc(text)"),
      ("graft_kgram_hashes", docs, "graft_kgram_hashes(text, 5)"))
    val out = probes.map { case (fn, in, e) =>
      val n = in.count()
      val times = (1 to 3).map(_ => Workload.secs(
        spans(s"expr.$fn")(Workload.toNoop(in.selectExpr(e))))._2)
      s"expr.${fn}_ns_per_row" -> Stats.median(times) * 1e9 / n
    }
    Seq(docs, embs, toks).foreach(_.unpersist(true))
    out
  }
}

object QuerySuite {
  /** The timed unit of the suite: the row's full result, written to a
    * `noop` sink, counted on the way through. Returns the row count
    * and the result schema.
    */
  def fullResult(spark: SparkSession, q: Q, data: String)
      : (Long, org.apache.spark.sql.types.StructType) = {
    val df = q.run(spark, data)
    val obs = Observation()
    Workload.toNoop(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long] -> df.schema
  }

  /** The per-corpus artifacts the timed rows read, built in set-up so
    * their cost is never billed to the first reader.
    */
  val artifacts: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "daily_rollup_build" -> ((s, d) => CoreQueries.dailyCountryRollupShared(s, d)),
    "shingle_index_build" -> ((s, d) => DedupQueries.corpusShingles(s, d)),
    "excel_fixture_build" -> ((s, _) => ExcelFixtures.xlsxPath(s)))

  /** The timed rows: one from each [[Registry]] module, including a
    * streaming one-shot (e1s), the readers of the set-up artifacts (g6,
    * d3, s1), and the two plan-guarded rows (g6, t13). A row costs
    * 0.3-1.5 s whatever the scale (Spark's per-job overhead dominates),
    * so this is a sample of the registry sized to fit a run.
    */
  val Rows: Vector[String] = Vector(
    "g6_monthly_summary", "e1s_hourly_window_stream", "t13_model_quality",
    "d3_minhash_lsh", "a1_ann_bruteforce", "m1_binary_meta",
    "s1_xlsx_ingest", "c2_mixture_sample")

  /** Rows whose set-up drives cost minutes; measured by the write
    * workload instead.
    */
  val Excluded: Set[String] = Set("o6_incremental_neardup",
    "o11_incremental_segments", "o11s_segment_stream", "o11b_segment_retire",
    "o12_incremental_cc", "o12s_cc_label_stream", "o12b_cc_retire")

  val Modules: Seq[(String, Seq[Q])] = Seq("Core", "Pipeline", "Text",
    "Dedup", "Similarity", "Multimodal", "Ingest", "Curation")
    .zip(Registry.modules)
}

/** A row's recorded output: row count and column names with types. */
final case class Expect(rows: Long, schema: String)

object Expect {
  def schemaOf(st: org.apache.spark.sql.types.StructType): String =
    st.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")

  /** One row per line: `name<TAB>rows<TAB>schema`. */
  def load(path: String): Map[String, Expect] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, schema) = l.split("\t", 3)
      name -> Expect(rows.toLong, schema)
    }.toMap
    finally src.close()
  }
}
