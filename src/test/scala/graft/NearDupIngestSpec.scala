package graft

import org.apache.spark.sql.functions._
import graft.engine.Catalog
import graft.pipeline.IncrementalNearDup

/** IncrementalNearDup: batch-vs-index and within-batch suppression on
  * planted fixtures, replay idempotency and index pruning — the
  * invariants that make incremental fuzzy dedup safe at 100 TB (crash
  * recovery is enumerated by CrashPointSpec).
  */
class NearDupIngestSpec extends SparkTestBase {
  import spark.implicits._

  private def freshCat(name: String): Catalog =
    new Catalog(spark, graft.queries.Scratch.fresh(spark, name))

  // long distinct texts (simhash needs token mass; short strings
  // collide trivially)
  private def txt(seed: String): String =
    (1 to 40).map(i => s"$seed$i token$i word${i * 7}").mkString(" ")

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("a later batch's near-dup of an indexed doc is dropped; novel docs kept") {
    val cat = freshCat("nd_a")
    val k1 = IncrementalNearDup.ingest(cat,
      docs(1L -> txt("alpha"), 2L -> txt("beta")), "c", Some(1L))
    assert(k1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // batch 2: doc 10 duplicates doc 1's text exactly (hamming 0 —
    // through the same <=3 band machinery), doc 11 is novel
    val k2 = IncrementalNearDup.ingest(cat,
      docs(10L -> txt("alpha"), 11L -> txt("gamma")), "c", Some(2L))
    assert(k2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L))
    assert(IncrementalNearDup.corpus(cat, "c")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 11L))
  }

  test("within-batch near-dups collapse to the lowest doc_id") {
    val cat = freshCat("nd_b")
    val kept = IncrementalNearDup.ingest(cat,
      docs(5L -> txt("delta"), 6L -> txt("delta"), 7L -> txt("epsilon")),
      "c", Some(1L))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(5L, 7L), "6 duplicates 5 and must be suppressed; 5 and 7 survive")
  }

  test("replay with the same batchId is idempotent") {
    val cat = freshCat("nd_c")
    IncrementalNearDup.ingest(cat, docs(1L -> txt("a1")), "c", Some(1L))
    IncrementalNearDup.ingest(cat,
      docs(2L -> txt("b2"), 3L -> txt("c3")), "c", Some(2L))
    val rows = IncrementalNearDup.corpus(cat, "c").count()
    val sigs = spark.read.parquet(s"${cat.warehouse}/c_sigs").count()
    // crash-replay: batch 2 redelivered with the same id
    IncrementalNearDup.ingest(cat,
      docs(2L -> txt("b2"), 3L -> txt("c3")), "c", Some(2L))
    assert(IncrementalNearDup.corpus(cat, "c").count() == rows)
    assert(spark.read.parquet(s"${cat.warehouse}/c_sigs").count() == sigs)
  }

  test("replaying a committed batch returns the SAME survivor set, not empty") {
    val cat = freshCat("nd_replay")
    IncrementalNearDup.ingest(cat, docs(1L -> txt("p")), "c", Some(1L))
    // batch 2: doc 2 novel, doc 3 near-dups indexed doc 1
    val first = IncrementalNearDup.ingest(cat,
      docs(2L -> txt("q"), 3L -> txt("p")), "c", Some(2L))
    assert(first.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
    // replay of the fully committed batch: the probe excludes the
    // batch's own __batch_id=2 signatures, so doc 2 must not be
    // suppressed by its own indexed signature — the caller-visible
    // survivor set is replay-stable, while doc 3 is still suppressed
    // by batch 1's index
    val replay = IncrementalNearDup.ingest(cat,
      docs(2L -> txt("q"), 3L -> txt("p")), "c", Some(2L))
    assert(replay.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(2L), "replay must return the first run's survivors")
  }

  test("precomputed signatures reproduce the recompute path exactly") {
    // the precomputedSigs contract: a frame equal to simhashDocs(batch)
    // must yield the SAME survivor set as letting ingest compute it —
    // if the shared signature memo ever drifts from simhashDocs (hash
    // base, tokenization), o6 would silently diverge; this pins them
    val batch = docs(
      5L -> txt("delta"), 6L -> txt("delta"), 7L -> txt("epsilon"))
    val k1 = IncrementalNearDup.ingest(freshCat("nd_pre_a"), batch, "c", Some(1L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sigs = graft.queries.Scratch.materialize(spark, "nd_pre_sigs",
      graft.queries.DedupQueries.simhashDocs(batch))
    val k2 = IncrementalNearDup.ingest(freshCat("nd_pre_b"), batch, "c",
        Some(1L), Some(sigs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2 && k1 == Set(5L, 7L))
  }

  test("the index probe scan prunes to the batch's band buckets") {
    val cat = freshCat("nd_prune")
    IncrementalNearDup.ingest(cat,
      docs((1L to 8L).map(i => i -> txt(s"v$i")): _*), "c", Some(1L))
    val all = spark.read.parquet(s"${cat.warehouse}/c_sigs")
    val totalFiles = all.inputFiles.length
    assert(totalFiles > 1, "index must span multiple (k, sb) partitions")
    // a probe for ONE (k, band-bucket) key — the shape of a small
    // batch's band set — must scan strictly fewer partition files
    val r = all.select(col("k").cast("long"), col("sb").cast("long")).head()
    val kb = r.getLong(0) * IncrementalNearDup.SigBuckets + r.getLong(1)
    val probe = IncrementalNearDup.probeIndex(cat, cat.batches("c_sigs"), Seq(kb))
    // the bucket predicate must reach the partition columns (directory
    // pruning), not ride as a post-scan filter
    val planTxt = probe.queryExecution.executedPlan.toString
    val scanLine = planTxt.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("k") && scanLine.contains("sb"),
      planTxt.take(900))
    probe.collect()
    val scan = probe.queryExecution.executedPlan.collectLeaves().head
    val probed = scan.metrics("numFiles").value
    assert(probed > 0 && probed < totalFiles,
      s"probe read $probed of $totalFiles index files")
  }

  test("a pre-existing index keeps its recorded bucket layout, not the constant") {
    // the layout-drift regression: `sb = band % nb` is baked into the
    // partition dirs at write time, so probing with any OTHER nb misses
    // `sb >= nb` dirs and readmits indexed near-dups. Pre-seed a meta
    // file with nb=2 (≠ SigBuckets=4): every write and probe must honor
    // the stored layout.
    val cat = freshCat("nd_meta")
    val root = new java.io.File(s"${cat.warehouse}/c_sigs")
    assert(root.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(root, IncrementalNearDup.SigBucketsMeta).toPath,
      "2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    IncrementalNearDup.ingest(cat, docs(1L -> txt("alpha")), "c", Some(1L))
    // the on-disk layout is the STORED 2-bucket one
    val sbDirs = Option(new java.io.File(root, "__batch_id=1").listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("k="))
      .flatMap(k => Option(k.listFiles()).toSeq.flatten)
      .map(_.getName).filter(_.startsWith("sb="))
      .map(_.stripPrefix("sb=").toInt).toSet
    assert(sbDirs.nonEmpty && sbDirs.forall(_ < 2),
      s"sigs must land in sb∈{0,1} under the stored 2-bucket layout: $sbDirs")
    // and the probe against that layout still finds the indexed twin
    val k2 = IncrementalNearDup.ingest(cat, docs(9L -> txt("alpha")), "c", Some(2L))
    assert(k2.isEmpty, "near-dup of an indexed doc must be suppressed " +
      "through the stored-bucket probe")
  }

  test("a legacy index with no meta file infers its layout from the sb= dirs") {
    val cat = freshCat("nd_legacy")
    IncrementalNearDup.ingest(cat,
      docs((1L to 8L).map(i => i -> txt(s"v$i")): _*), "c", Some(1L))
    val meta = new java.io.File(s"${cat.warehouse}/c_sigs",
      IncrementalNearDup.SigBucketsMeta)
    assert(meta.exists(), "ingest must record the layout")
    // simulate a pre-meta index: delete the record, force inference
    assert(meta.delete())
    assert(IncrementalNearDup.storedSigBuckets(cat, "c_sigs").contains(
      IncrementalNearDup.SigBuckets))
    assert(meta.exists(), "inference must write the record back")
    // and the inferred layout still suppresses an indexed twin
    val k2 = IncrementalNearDup.ingest(cat, docs(99L -> txt("v3")), "c", Some(2L))
    assert(k2.isEmpty)
  }

  test("an all-duplicate batch writes nothing and consumes no id") {
    val cat = freshCat("nd_e")
    IncrementalNearDup.ingest(cat, docs(1L -> txt("solo")), "c", Some(1L))
    val kept = IncrementalNearDup.ingest(cat, docs(8L -> txt("solo")), "c")
    assert(kept.isEmpty)
    assert(!new java.io.File(s"${cat.warehouse}/c/__batch_id=2").exists())
    // the next novel batch takes id 2 (auto-allocated, nothing skipped)
    IncrementalNearDup.ingest(cat, docs(9L -> txt("fresh")), "c")
    assert(new java.io.File(s"${cat.warehouse}/c/__batch_id=2").isDirectory)
  }

  test("streaming twin suppresses the same docs as the batch path and a " +
      "checkpointed restart is a no-op") {
    // a corpus dir with planted dups: 6 duplicates 5 in-batch, and
    // the full file set arrives through ONE AvailableNow pass
    val srcDir = graft.queries.Scratch.fresh(spark, "nd_stream_src")
    val corpus = docs(
      5L -> txt("delta"), 6L -> txt("delta"),
      7L -> txt("epsilon"), 8L -> txt("zeta"))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    corpus.coalesce(1).write.mode("overwrite")
      .parquet(s"$srcDir/documents.parquet")
    val cat = freshCat("nd_stream")
    val ckpt = graft.queries.Scratch.fresh(spark, "nd_stream_ckpt")
    graft.streaming.NearDupStream.maintain(cat, srcDir, ckpt, "c")
      .awaitTermination()
    def corpusIds =
      IncrementalNearDup.corpus(cat, "c")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch-path ground truth on the same data: 6 suppressed
    val batchCat = freshCat("nd_stream_batch")
    IncrementalNearDup.ingest(batchCat, corpus, "c", Some(0L))
    val batchIds = IncrementalNearDup.corpus(batchCat, "c")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds == batchIds && corpusIds == Set(5L, 7L, 8L))
    // restart with the same checkpoint: files already processed, the
    // corpus must not change (no duplicate __batch_id, no re-ingest)
    graft.streaming.NearDupStream.maintain(cat, srcDir, ckpt, "c")
      .awaitTermination()
    assert(corpusIds == Set(5L, 7L, 8L))
    // and the stream-built index keeps suppressing later batch arrivals
    val k2 = IncrementalNearDup.ingest(cat, docs(99L -> txt("zeta")), "c")
    assert(k2.isEmpty)
  }
}
