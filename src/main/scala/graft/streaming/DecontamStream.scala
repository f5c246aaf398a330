package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Parquet

/** Structured Streaming decontamination — d16's Bloom prefilter run at
  * INGEST time over arriving train documents, the measured form of the
  * decontam family's 100 TB claim ("contamination is dropped when the
  * batch arrives, map-side, not by a release-time corpus join").
  *
  * Shape: the c1s stateless-filter shape, foreachBatch-free. The eval
  * side is STATIC (an eval benchmark is a small fixed artifact): its
  * exact-twin Bloom bit set and literal (h, gram) table are built once
  * per corpus (from the shared d14/c11 gram index) and materialized;
  * every arriving micro-batch of train docs then
  *
  *  1. explodes its own 13-grams (row-local — a doc is one row, so no
  *     cross-row state, no watermark);
  *  2. drops grams map-side through THREE stream-static LEFT SEMI
  *     joins against the bit table — "all 3 bits set" tested without
  *     any per-gram aggregation, which is what keeps the whole stream
  *     stateless (a groupBy-count membership test would demand
  *     watermarked state);
  *  3. literal-confirms survivors against the eval grams (one
  *     stream-static left join — collisions can only add candidates,
  *     never false drops, the d12 discipline);
  *  4. appends per-doc verdict rows to a parquet FILE SINK (the
  *     exactly-once production sink: the commit log lands each batch's
  *     files once).
  *
  * The differential over the union of batches must equal d16's batch
  * computation bit for bit — both rows share one oracle
  * (DedupQueries.BloomDecontamOracleSql), and StreamingSpec asserts
  * stream == batch row equality directly.
  */
object DecontamStream {

  private val N = 13

  def decontamOneShot(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.{DedupQueries, Scratch, Splits}
    import DedupQueries.Bloom
    // STATIC side — built once per corpus; materialized because a
    // stream-static join re-reads the static plan every micro-batch
    // r19: sized count, bit set and literal confirm table come from
    // the per-corpus MEMOIZED static artifacts (DedupQueries
    // .bloomStatics — the eval side is a fixed registered benchmark,
    // built once per corpus, pre-paid by the bench warmup as
    // ingest_artifacts.bloom_bits_build); before, every run re-paid
    // the census count + two materializes here.
    val (m, bits, evG) = DedupQueries.bloomStatics(spark, dir)
    // STREAM side: train docs with >= N tokens (the docs d16's gram
    // index gives rows to — the split and the token floor are pure
    // per-row functions). Micro-batch sizing: one maximal AvailableNow
    // batch (see CorpusStream.source).
    val docs = CorpusStream.source(spark, dir)
      .filter(Splits.splitCol === "train")
      .withColumn("w", split(trim(col("text")), "\\s+"))
      .filter(size(col("w")) >= N)
    // one marker row per gram-bearing train doc: the census denominator
    val markers = docs.select(col("doc_id"),
      lit(0L).as("kind"), lit(0L).as("dirty"))
    val gramRows = docs.select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(w) - $N), " +
          s"i -> array_join(slice(w, i + 1, $N), ' '))")).as("gram"))
      .withColumn("h", expr("graft_strhash(gram)"))
    val withBits = (0 until 3).foldLeft(gramRows)((df, j) =>
      df.withColumn(s"b$j", Bloom.hj(j, col("h"), m)))
    // all-3-bits membership as three stateless semi-joins
    val passed = (0 until 3).foldLeft(withBits)((df, j) =>
      df.join(bits.withColumnRenamed("bit", s"b$j"), Seq(s"b$j"),
        "left_semi"))
    val verdicts = passed
      .join(evG.withColumn("dx", lit(1L)), Seq("h", "gram"), "left")
      .select(col("doc_id"), lit(1L).as("kind"),
        coalesce(col("dx"), lit(0L)).as("dirty"))
    val sinkDir = Scratch.fresh(spark, "d16s_sink")
    val q = markers.unionByName(verdicts)
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", Scratch.fresh(spark, "d16s_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // explicit schema: a corpus with zero gram-bearing train docs
    // commits only _spark_metadata (the c1s note)
    val sinkSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("kind", LongType),
      StructField("dirty", LongType)))
    val sunk = Parquet.read(spark, Seq(sinkDir), schema = Some(sinkSchema))
    // the d16 differential over the union of batches
    val td = sunk.filter(col("kind") === 0L).select("doc_id").distinct()
    val bloomDocs = sunk.filter(col("kind") === 1L)
      .select("doc_id").distinct()
    val dirtyDocs = sunk.filter(col("dirty") === 1L)
      .select("doc_id").distinct()
    td.join(bloomDocs.withColumn("bp", lit(1L)), Seq("doc_id"), "left")
      .join(dirtyDocs.withColumn("dx", lit(1L)), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_train_docs"),
        coalesce(sum(col("bp")), lit(0L)).as("n_bloom_pass"),
        coalesce(sum(col("dx")), lit(0L)).as("n_dirty_exact"),
        coalesce(sum(when(col("dx").isNotNull, col("doc_id"))),
          lit(0L)).as("dirty_docid_sum"))
      .select(col("n_train_docs"), lit(m).as("m_bits"),
        col("n_bloom_pass"), col("n_dirty_exact"),
        (col("n_bloom_pass") - col("n_dirty_exact")).as("n_false_pos"),
        col("dirty_docid_sum"),
        when(col("n_train_docs") === col("n_dirty_exact"), lit(0.0))
          .otherwise((col("n_bloom_pass") - col("n_dirty_exact"))
            .cast("double") /
            (col("n_train_docs") - col("n_dirty_exact")).cast("double"))
          .as("fp_rate"))
  }
}
