package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Parquet

/** Structured Streaming over the `documents` corpus — the streaming
  * twin of the batch curation pass (c1/c2): documents arrive as files
  * (at scale: an object-store listing or log), each micro-batch is
  * quality-scored, language-filtered, and mixture-sampled by the same
  * deterministic content-hash predicate as the batch path, and
  * retention is accounted incrementally.
  *
  * Everything here is stateless per row except the final aggregation,
  * so state is bounded by the (lang, source) key space — no per-doc
  * state, no watermark needed (the corpus has no event time). The
  * sampling predicate is a pure function of (doc_id, source), so a doc
  * admitted by the stream is exactly the doc the batch pass admits —
  * replaying files, reordering micro-batches, or restarting from a
  * checkpoint cannot change the sample.
  */
object CorpusStream {

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  // Matches exactly `documents.parquet`, nothing else: the batch twin
  // reads exactly that path, and a `documents*` prefix glob would ingest
  // siblings (documents_v2.parquet) only on the stream side, breaking
  // the stream==batch parity StreamingSpec asserts. The one-char
  // character class keeps the string a glob — the file-stream source
  // rejects a bare file path (basePath must be a directory or glob) —
  // while matching only the literal name.
  /** No `maxFilesPerTrigger`: Trigger.AvailableNow packs every
    * available file into one maximal batch — the MEASURED right
    * micro-batch size for the stateless decontam/curation filters
    * (r16 verdict #5). The r17 paired legs on the 8-file 10x census
    * staging (SCALE.md r17, "d16s micro-batch sizing dial") priced the
    * two ends: 1 maximal batch = 12.3 s vs 8 per-file batches = 40.4 s,
    * i.e. ~4.0 s FIXED cost per extra micro-batch (stream-static join
    * static-side re-read, file-sink commit, per-batch planning — all
    * amortized over batch mass, none over batch count), with no
    * state-size or latency term pulling the other way for a stateless
    * filter.
    */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(DocumentsSchema)
      .parquet(s"$dir/documents.parque[t]")

  /** The c1-style per-row curation: t2 quality score, language
    * allowlist, c2 deterministic mixture predicate. Pure projection +
    * filter — runs identically on a stream or a batch frame.
    */
  def curate(docs: DataFrame): DataFrame =
    graft.engine.Functions.qualityScored(docs)
      .filter(col("score") >= 0.5 &&
        col("lang").isin("en", "de", "es", "fr") &&
        graft.engine.Functions.mixtureKeep)
      .select(col("doc_id"), col("lang"), col("source"), col("ws_tokens"),
        col("n_chars"))

  /** One-shot streaming execution of [[curate]] through a REAL parquet
    * file sink: process every file currently in the corpus dir
    * (`Trigger.AvailableNow`), append the curated rows to the sink
    * (stateless transform — append mode emits every row, no watermark
    * withholding), terminate, and return the per-(lang, source)
    * retention aggregate over the sink's files. Unlike e1s's
    * complete-mode memory sink (needed there because windowed state
    * must be force-emitted), this is the exactly-once production sink
    * shape end-to-end: the file sink's commit log guarantees each
    * micro-batch's files land exactly once.
    */
  def curateOneShot(spark: SparkSession, dir: String): DataFrame = {
    val sinkDir = graft.queries.Scratch.fresh(spark, "c1s_sink")
    val q = curate(source(spark, dir))
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation",
        graft.queries.Scratch.fresh(spark, "c1s_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // explicit schema: a curation pass that keeps ZERO rows commits an
    // empty batch (sinkDir holds only _spark_metadata, no part files),
    // and a schema-inferring read would throw instead of returning the
    // empty aggregate the batch/oracle side produces
    val sinkSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("ws_tokens", LongType),
      StructField("n_chars", LongType)))
    Parquet.read(spark, Seq(sinkDir), schema = Some(sinkSchema))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("ws_tokens")).as("tokens_kept"),
        sum(col("n_chars")).as("chars_kept"))
      .orderBy("lang", "source")
  }

  /** Incremental retention accounting over the curated stream: docs and
    * token budget per (lang, source). State = one row per key pair.
    */
  def retention(docs: DataFrame): DataFrame =
    curate(docs)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("ws_tokens")).as("tokens_kept"),
        sum(col("n_chars")).as("chars_kept"))
}
