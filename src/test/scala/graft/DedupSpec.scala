package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, Registry}

/** Dedup-suite behavior on the real testdata: the LSH candidate set must
  * contain every genuinely-near-duplicate pair the exact verification
  * confirms, and exact dedup must agree with a direct distinct count.
  */
class DedupSpec extends SparkTestBase {

  private def run(name: String) =
    Registry.all.find(_.name == name).get.run(spark, sfDir)

  test("d2 verified near-dups are a subset of d3 LSH candidates") {
    val cand = run("d3_minhash_lsh")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = run("d2_ngram_jaccard")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cand))
  }

  test("d2 catches a planted near-duplicate pair (in-code fixture)") {
    import spark.implicits._
    // two docs sharing ~90% of their word sequence, one unrelated —
    // proven on a fixture so the property never depends on whether the
    // generated corpus happens to contain near-dups at this scale.
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val near = (1 to 27).map(i => s"token$i").mkString(" ") +
      " tail28 tail29 tail30"
    val fixture = Seq(
      (101L, base), (102L, near),
      (103L, "a completely different short document about engines"))
      .toDF("doc_id", "text")
    val pairs = DedupQueries.ngramJaccardPairs(spark, fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(pairs.contains((101L, 102L)),
      s"planted near-dup not found; got ${pairs.keys}")
    assert(pairs((101L, 102L)) >= 0.5 && pairs((101L, 102L)) < 1.0)
    assert(!pairs.keys.exists(p => p._1 == 103L || p._2 == 103L),
      "unrelated doc must not pair")
  }

  test("d15 segment rewrite: one survivor per distinct segment, and " +
      "it is the (doc_id, start)-first occurrence") {
    import org.apache.spark.sql.functions._
    val out = run("d15_segment_dedup_rewrite")
    // reference segment frame, pure literal semantics
    val segs = graft.engine.Graft.table(spark, sfDir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          greatest(size(col("tk")).cast("long") - 1L, lit(0L)),
          lit(20L))).as("start"),
        col("tk"))
      .withColumn("seg",
        array_join(slice(col("tk"), col("start") + 1, lit(20)), " "))
      .select("doc_id", "start", "seg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val nDistinct = segs.map(_._3).distinct.length
    assert(out.agg(sum(col("n_kept"))).first().getLong(0) === nDistinct.toLong,
      "total kept must equal the number of distinct segment literals")
    // the survivor of each literal is its minimal (doc_id, start)
    val first = segs.groupBy(_._3).map { case (seg, occ) =>
      seg -> occ.map(t => (t._1, t._2)).min
    }
    val rewritten = out.select("doc_id", "rewritten").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    first.foreach { case (seg, (docId, _)) =>
      if (seg.nonEmpty)
        assert(rewritten(docId).contains(seg),
          s"first occurrence of segment (doc $docId) must survive")
    }
    // deleted mass is real on this corpus (planted + generated dups)
    val deleted = out.agg(sum(col("n_segs") - col("n_kept"))).first().getLong(0)
    assert(deleted > 0, "corpus has duplicate segments; some must delete")
  }

  test("o11 min-merge registry: order-independent and idempotent " +
      "(the algebra AdditiveStats does not have)") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.MinMergeStats
    import graft.queries.{DedupQueries, Scratch}
    val toks = DedupQueries.segTokens(spark, sfDir)
    val segs = DedupQueries.docSegments(toks)
    val owners = DedupQueries.segmentOwners _
    val even = owners(segs.filter(col("doc_id") % 2 === 0))
    val odd = owners(segs.filter(col("doc_id") % 2 =!= 0))
    val keys = DedupQueries.SegRegistryKeys
    val ord = DedupQueries.SegRegistryOrd
    def registry(name: String,
                 folds: Seq[org.apache.spark.sql.DataFrame]) = {
      val cat = new graft.engine.Catalog(spark, Scratch.fresh(spark, name))
      folds.foreach(MinMergeStats.fold(cat, "reg", _, keys, ord))
      cat.table("reg").orderBy("h", "seg").collect().toSeq
    }
    val ab = registry("mm_ab", Seq(even, odd))
    val ba = registry("mm_ba", Seq(odd, even))
    assert(ab === ba, "fold order must not change the registry")
    val redelivered = registry("mm_re", Seq(even, odd, even, odd))
    assert(redelivered === ab, "redelivery must be a no-op")
  }

  test("min-merge delta log: compaction is content-invariant and " +
      "collapses to one delta; a crashed (SUCCESS-less) delta is purged") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.MinMergeStats
    import graft.queries.{DedupQueries, Scratch}
    val segs = DedupQueries.docSegments(DedupQueries.segTokens(spark, sfDir))
    val owners = DedupQueries.segmentOwners _
    val keys = DedupQueries.SegRegistryKeys
    val ord = DedupQueries.SegRegistryOrd
    val wh = Scratch.fresh(spark, "mm_lsm")
    val cat = new graft.engine.Catalog(spark, wh)
    def deltas = Option(new java.io.File(s"$wh/reg").listFiles())
      .toSeq.flatten.filter(f =>
        f.isDirectory && f.getName.startsWith("__delta=")).sortBy(_.getName)
    MinMergeStats.fold(cat, "reg",
      owners(segs.filter(col("doc_id") % 2 === 0)), keys, ord)
    MinMergeStats.fold(cat, "reg",
      owners(segs.filter(col("doc_id") % 2 =!= 0)), keys, ord)
    assert(deltas.size === 2, "each fold appends one delta")
    val before = cat.table("reg").orderBy("h", "seg").collect().toSeq
    // a crashed fold's partial delta (no _SUCCESS) must be purged, not
    // read: plant one with garbage inside
    val partial = new java.io.File(s"$wh/reg/__delta=99/__bucket=0")
    partial.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(partial, "part-junk.parquet").toPath,
      "not parquet".getBytes)
    MinMergeStats.compact(cat, "reg", keys, ord)
    assert(deltas.size === 1, s"compaction must leave one delta: $deltas")
    val after = cat.table("reg").orderBy("h", "seg").collect().toSeq
    assert(after === before, "compaction changed the registry contents")
    // single-delta reads are the plain scan — no merge aggregate
    assert(!cat.table("reg").queryExecution.optimizedPlan.toString
      .toLowerCase.contains("aggregate"),
      "compacted single-delta view must read without a merge aggregate")
  }

  test("min-merge readers never repair: a planted partial delta is " +
      "read-around and left on disk; the next WRITER purges it; a " +
      "corrupt _REBUILD marker refuses without deleting anything") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.MinMergeStats
    import graft.queries.{DedupQueries, Scratch}
    val segs = DedupQueries.docSegments(DedupQueries.segTokens(spark, sfDir))
    val owners = DedupQueries.segmentOwners _
    val keys = DedupQueries.SegRegistryKeys
    val ord = DedupQueries.SegRegistryOrd
    val wh = Scratch.fresh(spark, "mm_rdr")
    val cat = new graft.engine.Catalog(spark, wh)
    def deltaNames = Option(new java.io.File(s"$wh/reg").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("__delta=")).sorted
    MinMergeStats.fold(cat, "reg",
      owners(segs.filter(col("doc_id") % 2 === 0)), keys, ord)
    val before = cat.table("reg").orderBy("h", "seg").collect().toSeq
    // plant a concurrent writer's in-flight (SUCCESS-less) delta
    val partial = new java.io.File(s"$wh/reg/__delta=7/__bucket=0")
    partial.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(partial, "part-junk.parquet").toPath,
      "not parquet".getBytes)
    // READERS: exists + view must read around it AND leave it on disk
    assert(MinMergeStats.exists(cat, "reg"))
    val viewed = MinMergeStats.view(cat, "reg", keys, ord)
      .orderBy("h", "seg").collect().toSeq
    assert(viewed === before, "reader must skip the uncommitted delta")
    assert(deltaNames.contains("__delta=7"),
      "a READER deleted the in-flight delta — writer output swept")
    // a corrupt marker (external damage) must refuse, deleting nothing
    val marker = new java.io.File(s"$wh/reg/_REBUILD")
    java.nio.file.Files.write(marker.toPath, "garbage".getBytes)
    val dirsBefore = deltaNames
    intercept[IllegalStateException] {
      MinMergeStats.view(cat, "reg", keys, ord)
    }
    assert(deltaNames === dirsBefore,
      "corrupt-marker refusal must not delete any delta directory")
    marker.delete()
    // the next WRITER purges the planted partial
    MinMergeStats.fold(cat, "reg",
      owners(segs.filter(col("doc_id") % 2 =!= 0)), keys, ord)
    assert(!deltaNames.contains("__delta=7"),
      "writer entry must purge the crashed partial delta")
  }

  test("rawCandidates contract: with competing ords per key the raw " +
      "scan DIVERGES from view (the documented misuse); with ord a " +
      "pure function of the key — the o12s invariant — dedup restores " +
      "exact view equivalence") {
    import graft.pipeline.MinMergeStats
    import graft.queries.Scratch
    import spark.implicits._
    val keys = Seq("k")
    val ord = Seq("v")
    // MISUSE: two folds offer genuinely competing ords for each key.
    // view keeps the min; rawCandidates serves BOTH candidate rows,
    // non-minimal ords included — a consumer that treats any candidate
    // as the owner reads values the registry never held.
    val cat = new graft.engine.Catalog(spark, Scratch.fresh(spark, "raw_mis"))
    MinMergeStats.fold(cat, "reg", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      keys, ord)
    MinMergeStats.fold(cat, "reg", Seq((1L, 5L), (2L, 30L)).toDF("k", "v"),
      keys, ord)
    val merged = MinMergeStats.view(cat, "reg", keys, ord)
      .as[(Long, Long)].collect().toMap
    assert(merged === Map(1L -> 5L, 2L -> 20L), "view must keep the min")
    val raw = MinMergeStats.rawCandidates(cat, "reg", keys, ord)
      .as[(Long, Long)].collect().toSeq
    assert(raw.size === 4, "raw scan serves one row per delta per key")
    assert(raw.contains((1L, 10L)) && raw.contains((2L, 30L)),
      "raw scan exposes non-minimal ords — the documented divergence; " +
        "a consumer without the ord-is-f(key) invariant MUST use view")
    // INVARIANT REGIME (the CcLabelStream call site): ord is a pure
    // function of the key, so every candidate row IS the owner row and
    // a downstream key-dedup (the contraction's distinct) restores
    // exact equivalence — redeliveries included.
    val cat2 = new graft.engine.Catalog(spark, Scratch.fresh(spark, "raw_ok"))
    val f = (k: Long) => k * 7 + 3
    val b1 = Seq(1L, 2L, 3L).map(k => (k, f(k))).toDF("k", "v")
    val b2 = Seq(2L, 3L, 4L).map(k => (k, f(k))).toDF("k", "v")
    Seq(b1, b2, b1).foreach(MinMergeStats.fold(cat2, "reg", _, keys, ord))
    val viewRows = MinMergeStats.view(cat2, "reg", keys, ord)
      .as[(Long, Long)].collect().toSet
    val rawDedup = MinMergeStats.rawCandidates(cat2, "reg", keys, ord)
      .distinct().as[(Long, Long)].collect().toSet
    assert(rawDedup === viewRows,
      "under ord = f(key), deduped rawCandidates must equal view")
    // and the raw read is the documented cheap path: no aggregate
    assert(!MinMergeStats.rawCandidates(cat2, "reg", keys, ord)
      .queryExecution.optimizedPlan.toString.toLowerCase
      .contains("aggregate"),
      "rawCandidates must stay a plain scan — no merge aggregate")
  }

  test("min-merge zero-delta table is servable: a drive whose every " +
      "fold is empty serves an empty frame of the persisted schema " +
      "through view and compact, and IncrementalCc tolerates a " +
      "duplicate-free corpus") {
    import graft.pipeline.{IncrementalCc, MinMergeStats}
    import graft.queries.Scratch
    import spark.implicits._
    val keys = Seq("k")
    val ord = Seq("o1", "o2")
    val cat = new graft.engine.Catalog(spark, Scratch.fresh(spark, "mm_mt"))
    val empty = Seq.empty[(Long, Long, String)].toDF("k", "o1", "o2")
    MinMergeStats.fold(cat, "mt", empty, keys, ord)
    MinMergeStats.fold(cat, "mt", empty, keys, ord)
    assert(!MinMergeStats.exists(cat, "mt"),
      "empty folds must not commit a delta")
    val v = MinMergeStats.view(cat, "mt", keys, ord)
    assert(v.columns.toSeq === Seq("k", "o1", "o2"))
    assert(v.count() === 0L)
    val c = MinMergeStats.compact(cat, "mt", keys, ord)
    assert(c.count() === 0L, "compact must tolerate the zero-delta table")
    // the o12 shape: a corpus with ZERO near-dup edges still flows
    // through fold + compact + labels, keeping every doc
    val cat2 = new graft.engine.Catalog(spark, Scratch.fresh(spark, "cc_mt"))
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    IncrementalCc.fold(cat2, "cc_labels", noEdges)
    IncrementalCc.compact(cat2, "cc_labels")
    assert(IncrementalCc.labels(cat2).count() === 0L,
      "a duplicate-free corpus yields an empty, servable label table")
  }

  test("o12 redelivered edge batch appends no delta — the idempotent " +
      "no-op is physical, not just logical") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.IncrementalCc
    import graft.queries.{DedupQueries, Scratch}
    val sigs = DedupQueries.simhashSigs(spark, sfDir)
    val b1 = sigs.filter(col("doc_id") % 2 === 0)
    val b2 = sigs.filter(col("doc_id") % 2 =!= 0)
    val wh = Scratch.fresh(spark, "cc_noop")
    val cat = new graft.engine.Catalog(spark, wh)
    IncrementalCc.fold(cat, "cc", DedupQueries.simhashEdgesVs(b1, b1.limit(0)))
    IncrementalCc.fold(cat, "cc", DedupQueries.simhashEdgesVs(b2, b1))
    def files = Option(new java.io.File(s"$wh/cc").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("__delta=")).sorted
    val beforeDirs = files
    val before = cat.table("cc").orderBy("v").collect().toSeq
    IncrementalCc.fold(cat, "cc", DedupQueries.simhashEdgesVs(b2, b1))
    assert(files === beforeDirs,
      "redelivery must not write a delta (empty append is dropped)")
    assert(cat.table("cc").orderBy("v").collect().toSeq === before)
  }

  test("o11b takedown: rebuild(retire odd) restores the even-only " +
      "registry exactly — recompute equivalence at the registry level") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.MinMergeStats
    import graft.queries.{DedupQueries, Scratch}
    val toks = DedupQueries.segTokens(spark, sfDir)
    val segs = DedupQueries.docSegments(toks)
    val owners = DedupQueries.segmentOwners _
    val keys = DedupQueries.SegRegistryKeys
    val ord = DedupQueries.SegRegistryOrd
    val even = segs.filter(col("doc_id") % 2 === 0)
    val odd = segs.filter(col("doc_id") % 2 =!= 0)
    // full ingest then takedown of the odd batch
    val cat = new graft.engine.Catalog(spark, Scratch.fresh(spark, "mm_rt"))
    MinMergeStats.fold(cat, "reg", owners(even), keys, ord)
    MinMergeStats.fold(cat, "reg", owners(odd), keys, ord)
    MinMergeStats.rebuild(cat, "reg",
      even.select(col("h"), col("seg"), col("doc_id").as("first_doc"),
        col("start").as("first_start")),
      col("first_doc") % 2 =!= 0, keys, ord)
    val after = cat.table("reg").orderBy("h", "seg").collect().toSeq
    // fresh registry over the surviving batch alone
    val cat2 = new graft.engine.Catalog(spark, Scratch.fresh(spark, "mm_rf"))
    MinMergeStats.fold(cat2, "reg", owners(even), keys, ord)
    val fresh = cat2.table("reg").orderBy("h", "seg").collect().toSeq
    assert(after === fresh,
      "post-takedown registry must equal the survivors-only recompute")
  }

  test("o12b takedown: retiring a bridge doc SPLITS its component — " +
      "survivors re-cluster, edge-less survivors drop out, untouched " +
      "components keep labels, and the result equals the survivors-only " +
      "recompute") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.IncrementalCc
    import graft.queries.{DedupQueries, Scratch}
    import spark.implicits._
    // hamming<=3 chain 1-2-3-4-5 (adjacent only), doc 6 attached to the
    // chain ONLY through bridge 3, and a far component {10, 11}
    val sigs = Seq(
      (1L, 0L), (2L, 1L), (3L, 15L), (4L, 127L), (5L, 255L),
      (6L, 15L ^ (7L << 8)),
      (10L, 0xFFL << 56), (11L, (0xFFL << 56) | 1L))
      .toDF("doc_id", "simhash")
    val cat = new graft.engine.Catalog(spark, Scratch.fresh(spark, "cc_rtr"))
    IncrementalCc.fold(cat, "cc",
      DedupQueries.simhashEdgesVs(sigs, sigs.limit(0)))
    def rows(c: graft.engine.Catalog) = c.table("cc").orderBy("v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(cat) === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 1L), (6L, 1L), (10L, 10L), (11L, 10L)),
      "fixture: one 6-doc chain component + one far pair")
    IncrementalCc.retire(cat, "cc", Seq(3L).toDF("v"),
      vs => DedupQueries.simhashEdgesVs(
        sigs.join(vs.select(col("v").as("doc_id")), Seq("doc_id"),
          "left_semi"),
        sigs.limit(0)))
    // bridge removal splits {1..6}: {1,2} and {4,5} re-form, 6 lost its
    // only edge and leaves the table, {10,11} is untouched
    assert(rows(cat) === Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L),
      (10L, 10L), (11L, 10L)),
      "retire must split the component and drop the edge-less survivor")
    // recompute equivalence: a fresh fold over the survivors alone
    val survivors = sigs.filter(col("doc_id") =!= 3L)
    val cat2 = new graft.engine.Catalog(spark, Scratch.fresh(spark, "cc_rtf"))
    IncrementalCc.fold(cat2, "cc",
      DedupQueries.simhashEdgesVs(survivors, survivors.limit(0)))
    assert(rows(cat) === rows(cat2),
      "post-takedown labels must equal the survivors-only recompute")
  }

  test("o12 maintained CC label table equals the shared ccLabelsSimhash " +
      "memo bit for bit, and is order-independent") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.IncrementalCc
    import graft.queries.{DedupQueries, Scratch}
    val sigs = DedupQueries.simhashSigs(spark, sfDir)
    def labels(name: String, n: Int): Seq[(Long, Long)] = {
      val cat = new graft.engine.Catalog(spark, Scratch.fresh(spark, name))
      var seen = sigs.limit(0)
      // fold batch i's new edges (vs everything seen so far)
      (0 until n).foreach { i =>
        val b = sigs.filter(col("doc_id") % n === i)
        IncrementalCc.fold(cat, "cc",
          DedupQueries.simhashEdgesVs(b, seen))
        seen = seen.unionByName(b)
      }
      cat.table("cc").orderBy("v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val three = labels("cc3", 3)
    val two = labels("cc2", 2)
    assert(three === two, "batching must not change the labels")
    // interchangeability with every existing consumer: the maintained
    // table must equal the shared per-corpus memo exactly
    val memo = DedupQueries.ccLabelsSimhash(spark, sfDir)
      .orderBy("v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(three === memo,
      "maintained labels must equal the from-scratch shared memo")
  }

  test("retire-everything: an EMPTY rebuild target rolls FORWARD for " +
      "readers in the crash window (not back to resurrected rows), " +
      "the completed takedown serves the empty _SCHEMA frame, and a " +
      "second takedown on the emptied table no-ops instead of throwing") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.IncrementalCc
    import graft.queries.{DedupQueries, Scratch}
    import spark.implicits._
    val sigs = Seq((1L, 0L), (2L, 1L), (10L, 0xFFL << 56),
      (11L, (0xFFL << 56) | 1L)).toDF("doc_id", "simhash")
    def edgesAmong(vs: org.apache.spark.sql.DataFrame) =
      DedupQueries.simhashEdgesVs(
        sigs.join(vs.select(col("v").as("doc_id")), Seq("doc_id"),
          "left_semi"),
        sigs.limit(0))
    val wh = Scratch.fresh(spark, "cc_all")
    val cat = new graft.engine.Catalog(spark, wh)
    IncrementalCc.fold(cat, "cc",
      DedupQueries.simhashEdgesVs(sigs, sigs.limit(0)))
    assert(cat.table("cc").count() === 4L, "fixture: two pair components")
    // CRASH WINDOW simulation (r17 advisor): marker written + empty
    // rebuild target COMMITTED (bucket-less — an empty write has no
    // __bucket= children), sweep not yet run. Readers must take the
    // roll-FORWARD reading (empty table), exactly what writer repair
    // will produce — the old deltas carry retired rows.
    val target = new java.io.File(s"$wh/cc/__delta=9000")
    target.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(target, "_SUCCESS").toPath, Array.empty[Byte])
    java.nio.file.Files.write(
      new java.io.File(s"$wh/cc/_REBUILD").toPath, "9000".getBytes)
    def deltaNames = Option(new java.io.File(s"$wh/cc").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("__delta=")).sorted
    val preRead = deltaNames
    assert(graft.pipeline.MinMergeStats
      .view(cat, "cc", Seq("v"), Seq("l")).count() === 0L,
      "reader must roll FORWARD to the empty target, not resurrect rows")
    assert(!graft.pipeline.MinMergeStats.exists(cat, "cc"),
      "exists must agree with the roll-forward reading")
    assert(deltaNames === preRead, "readers must not delete anything")
    // undo the simulated crash; run the REAL retire-everything path
    new java.io.File(s"$wh/cc/_REBUILD").delete()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(target)
    IncrementalCc.retire(cat, "cc", Seq(1L, 2L, 10L, 11L).toDF("v"),
      edgesAmong)
    assert(IncrementalCc.labels(cat, "cc").count() === 0L,
      "retiring every vertex must leave the empty servable table")
    // and AGAIN — a takedown on the already-empty table must no-op
    IncrementalCc.retire(cat, "cc", Seq(1L).toDF("v"), edgesAmong)
    assert(IncrementalCc.labels(cat, "cc").count() === 0L)
    // the table is still foldable after the empty rewrite
    IncrementalCc.fold(cat, "cc",
      DedupQueries.simhashEdgesVs(sigs, sigs.limit(0)))
    assert(cat.table("cc").count() === 4L,
      "an emptied table must accept new folds")
  }

  test("takedown after an all-empty ingest: retire on a zero-delta " +
      "servable table is a consistent no-op, not a crash") {
    import graft.pipeline.IncrementalCc
    import graft.queries.{DedupQueries, Scratch}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cat = new graft.engine.Catalog(spark, Scratch.fresh(spark, "cc_z"))
    // duplicate-free corpus: every fold is empty, zero deltas on disk
    IncrementalCc.fold(cat, "cc", Seq.empty[(Long, Long)].toDF("a", "b"))
    val sigs = Seq((1L, 0L)).toDF("doc_id", "simhash")
    IncrementalCc.retire(cat, "cc", Seq(1L).toDF("v"),
      vs => DedupQueries.simhashEdgesVs(
        sigs.join(vs.select(col("v").as("doc_id")), Seq("doc_id"),
          "left_semi"),
        sigs.limit(0)))
    assert(IncrementalCc.labels(cat, "cc").count() === 0L,
      "retire on the zero-delta table must serve the empty frame")
  }

  test("one-pass bothSidesH + semi-join decontam equals the former " +
    "two-distinct inner-join form on the real gram index") {
    import graft.queries.DedupQueries
    val grams = DedupQueries.evalGramIndex(spark, sfDir)
    // the shipped one-pass candidate set vs the former per-side
    // distincts joined together
    val oldCandH = grams.filter(col("split") === "train")
      .select("h").distinct()
      .join(grams.filter(col("split") =!= "train")
        .select("h").distinct(), Seq("h"))
    val newCandH = DedupQueries.bothSidesH(grams)
    assert(newCandH.exceptAll(oldCandH).isEmpty)
    assert(oldCandH.exceptAll(newCandH).isEmpty)
    // and the full hits set: shipped semi-join chain vs the former
    // inner-join chain (inner multiplies by exactly 1 against the
    // distinct candidate sets, so the sets must be identical)
    val trG = grams.filter(col("split") === "train")
      .join(oldCandH, Seq("h")).select(col("h"), col("gram")).distinct()
    val oldHits = grams.filter(col("split") =!= "train")
      .join(oldCandH, Seq("h"))
      .join(trG, Seq("h", "gram"))
      .select(col("doc_id"), col("split"), col("gram")).distinct()
    val newHits = DedupQueries.evalNgramHits(spark, sfDir)
    assert(newHits.exceptAll(oldHits).isEmpty)
    assert(oldHits.exceptAll(newHits).isEmpty)
  }

  test("d2 jaccard values are in (0.5, 1]") {
    val js = run("d2_ngram_jaccard").select("jaccard").collect().map(_.getDouble(0))
    assert(js.forall(j => j >= 0.5 && j <= 1.0))
  }

  test("null and empty texts survive the dedup operators without crashing") {
    import spark.implicits._
    // degenerate corpus: null text, empty text, whitespace-only, normal
    val weird = Seq(
      (1L, Option.empty[String]),
      (2L, Some("")),
      (3L, Some("   ")),
      (4L, Some("a normal document with several words here")))
      .toDF("doc_id", "text")
    // simhash: null/empty docs produce no tokens and drop out; the
    // normal doc survives with a signature.
    val sigs = DedupQueries.simhashDocs(weird).collect()
      .map(r => r.getLong(0)).toSet
    assert(sigs.contains(4L))
    assert(!sigs.contains(1L), "null text must not produce a signature")
  }

  test("incremental ingest dedups within and across batches") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val cat = new graft.engine.Catalog(spark, wh)
    val b1 = Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
      .toDF("doc_id", "text")
    val got1 = graft.pipeline.IncrementalIngest
      .ingest(cat, b1, "text", "corpus")
    assert(got1.count() === 2) // within-batch dup collapsed
    val b2 = Seq((4L, "beta doc"), (5L, "gamma doc")).toDF("doc_id", "text")
    val got2 = graft.pipeline.IncrementalIngest
      .ingest(cat, b2, "text", "corpus")
    assert(got2.collect().map(_.getLong(0)).toSeq === Seq(5L)) // cross-batch dedup
    assert(cat.table("corpus").count() === 3)
    assert(cat.table("corpus_digests").count() === 3)
    // idempotent-ish: replaying batch 2 ingests nothing new
    val got3 = graft.pipeline.IncrementalIngest
      .ingest(cat, b2, "text", "corpus")
    assert(got3.count() === 0)
    assert(cat.table("corpus").count() === 3)
    cat.dropWarehouse()
  }

  test("incrementally ingested views keep the data-column contract") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-inc-schema").toString
    val cat = new graft.engine.Catalog(spark, wh)
    val b1 = Seq((1L, "alpha doc")).toDF("doc_id", "text")
    graft.pipeline.IncrementalIngest.ingest(cat, b1, "text", "corpus")
    // Partition discovery over __batch_id= dirs must not leak the
    // batch-placement column into the registered views' schemas.
    assert(spark.table("corpus").columns.toSeq === Seq("doc_id", "text"))
    assert(spark.table("corpus_digests").columns.toSeq === Seq("fp"))
    cat.dropWarehouse()
  }

  test("d8 catches planted eval contamination across the hash split") {
    import spark.implicits._
    // doc 1 hashes to train, doc 20 to test (pmod(strhash("1"),100)=49,
    // pmod(strhash("20"),100)=98); the 62-char passage is planted in
    // both, so winnowing must yield >= 3 shared fingerprints and the
    // report must show exactly one contaminated test doc.
    val passage = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq(
      (1L, s"training document alpha $passage with trailing words here"),
      (2L, "an unrelated training document about something else entirely"),
      (20L, s"eval document beta $passage and its own distinct ending"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d8").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Registry.all.find(_.name == "d8_split_decontam").get
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(("test", 1L, 1L, 1L)))
  }

  test("d12 reports merged dup intervals: cross-doc passage, in-doc repeat, " +
      "clean and short docs absent") {
    import spark.implicits._
    // P is a 30-char passage shared by docs 1 and 2 at offset 5; both
    // docs flank it with spaces, so the true shared substring is
    // " P " = 32 chars: exactly 32-24+1 = 9 windows (pos 4..12) recur,
    // and their interval union is 8x1 + 24 = 32 chars.
    // Doc 3 repeats a 24-char string X at pos 0 and 29 (gap > 24, so
    // the union is 24 + 24 = 48). Doc 4 is unique (absent from the
    // report); doc 5 is shorter than L (filtered before windowing).
    val P = "THE-QUICK-BROWN-FOX-JUMPS-OVER"
    val X = "0123456789ABCDEFGHIJKLMN"
    val docs = Seq(
      (1L, s"aaaa $P bbbb cccc dddd"),
      (2L, s"zzzz $P yyyy xxxx wwww"),
      (3L, s"$X-----$X"),
      (4L, "completely unique text with no repeats at all ok!!"),
      (5L, "short text"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d12").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.all.find(_.name == "d12_exact_substring").get
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 27L, 9L, 32L),
      (2L, 27L, 9L, 32L),
      (3L, 30L, 2L, 48L)))
  }

  test("d13 reports the cross-source pair, ignores same-source overlap") {
    import spark.implicits._
    val passage = "the shared contaminating passage that appears in " +
      "both feeds word for word"
    val docs = Seq(
      (1L, s"feed one preamble $passage and feed one trailer", "crawlA"),
      (2L, s"feed one other document $passage same feed copy", "crawlA"),
      (3L, s"feed two intro $passage with a different ending", "crawlB"),
      (4L, "a document about something else entirely unrelated", "crawlB"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d13").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.all.find(_.name == "d13_source_overlap").get
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // docs 1 and 2 both pair with doc 3 across (crawlA, crawlB); the
    // 1-2 overlap is same-source and must NOT appear as a pair row.
    assert(out.length === 1)
    val (sa, sb, nPairs, nDocsA, nDocsB, mass) = out.head
    assert((sa, sb, nPairs, nDocsA, nDocsB) ===
      ("crawlA", "crawlB", 2L, 2L, 1L))
    assert(mass >= 6L) // >= 3 shared fps per qualifying pair
  }

  test("d10 keeps exactly one canonical doc per cluster, all loners, nothing else") {
    val corpus = run("d10_dedup_corpus").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2)))
    val docs = graft.engine.Graft.table(spark, sfDir, "documents")
    // the verdict covers the whole corpus, exactly once
    assert(corpus.length.toLong == docs.count())
    assert(corpus.map(_._1).distinct.length == corpus.length)
    // every cluster keeps exactly its minimum member
    corpus.filter(_._2.isDefined).groupBy(_._2.get).foreach {
      case (cluster, members) =>
        val kept = members.filter(_._3).map(_._1)
        assert(kept.toSeq == Seq(cluster),
          s"cluster $cluster kept ${kept.toSeq}, expected Seq($cluster)")
        assert(members.map(_._1).min == cluster,
          s"cluster label $cluster is not the min member")
    }
    // docs outside any cluster are all kept
    assert(corpus.filter(_._2.isEmpty).forall(_._3))
    // and the clustered universe agrees with d7's stats
    val d7 = run("d7_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = corpus.filter(_._2.isDefined)
      .groupBy(_._2.get).view.mapValues(_.length.toLong).toMap
    assert(byCluster == d7)
  }

  test("x10b funnel stage 2 census equals d10's kept verdicts exactly") {
    // The funnel's near-dup cut must consume the SAME decisions d10
    // emits — not a re-derivation that could drift. Docs, tokens: the
    // stage-2 row aggregates exactly the kept=true subset.
    val kept = run("d10_dedup_corpus").collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val stages = run("x10b_corpus_funnel_neardup").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(stages(2L)._1 == "neardup_dedup")
    assert(stages(2L)._2 == kept.size.toLong,
      s"stage-2 docs ${stages(2L)._2} != d10 kept ${kept.size}")
    // cumulative monotone attrition
    assert(stages(1L)._2 >= stages(2L)._2 &&
      stages(2L)._2 >= stages(3L)._2 && stages(3L)._2 >= stages(4L)._2)
  }

  test("connected components of an empty edge frame is empty, not a crash") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.queries.DedupQueries
      .connectedComponents(spark, edges).count() === 0)
  }

  test("connected components merges transitive chains, splits islands") {
    import spark.implicits._
    // path 1-2-3 (1~3 only transitively), island 10-11, island 20-21-22
    // via a hub — three components keyed by their min vertex.
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("a", "b")
    val comps = graft.queries.DedupQueries
      .connectedComponents(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(comps === Map(
      1L -> Seq(1L, 2L, 3L),
      10L -> Seq(10L, 11L),
      20L -> Seq(20L, 21L, 22L)))
  }

  test("d1 exact dedup matches a direct distinct count") {
    val docs = graft.engine.Graft.table(spark, sfDir, "documents")
    val direct = docs.agg(
      count(lit(1)).as("n"),
      countDistinct(md5(col("text"))).as("u")).head()
    val d1 = run("d1_exact_dedup")
      .agg(sum("n_docs"), sum("n_unique")).head()
    assert(d1.getLong(0) === direct.getLong(0))
    assert(d1.getLong(1) === direct.getLong(1))
  }

  test("d4 simhash: exact-dup docs land at hamming 0, d4 is a subset of d4b") {
    import spark.implicits._
    // Planted fixture: the testdata corpus is not guaranteed to contain
    // exact-duplicate texts at every scale factor (sf0.001 has none), so
    // the identical-text => identical-signature property is asserted on
    // an in-code fixture instead of a corpus assumption.
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "an entirely different document about spark engines"))
      .toDF("doc_id", "text")
    val sigs = DedupQueries.simhashDocs(fixture)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L),
      "identical text must produce identical simhash signatures")
    assert(sigs(1L) !== sigs(3L),
      "unrelated text should not collide on all 64 bits")
    // On the real corpus: any exact-dup pairs that DO exist must land at
    // hamming 0, and hamming-0 pairs collide on every band, so the
    // d4b banding join must find every d4 pair.
    val docs = graft.engine.Graft.table(spark, sfDir, "documents")
      .select(md5(col("text")).as("fp"), col("doc_id"))
    val exactPairs = docs.as("a")
      .join(docs.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val h0 = run("d4_simhash")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val near = run("d4b_simhash_near")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(h0))
    assert(h0.subsetOf(near))
  }

  test("d14 flags only eval docs sharing a verbatim 13-gram with training") {
    import spark.implicits._
    // Split assignments are pure functions of the id (t5's hash split):
    // 1, 2 -> train; 20, 21 -> test; 80, 81 -> val.
    // The 13-token passage is planted in train doc 1, test doc 20, and
    // val doc 81 with DIFFERENT flanking tokens, so exactly ONE 13-gram
    // (the passage itself) matches verbatim per dirty doc. Test doc 21
    // is long but unique; val doc 80 contains passage words but is
    // shorter than 13 tokens, so it has no 13-gram at all.
    val passage = (1 to 13).map(i => s"p$i").mkString(" ")
    val filler = (1 to 6).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha one $passage two three four"),
      (2L, s"unrelated training text $filler $filler $filler"),
      (20L, s"beta five $passage six seven eight"),
      (21L, "clean eval doc " + (1 to 14).map(i => s"g$i").mkString(" ")),
      (80L, s"p1 p2 p3 p4 p5 short"),
      (81L, s"gamma ten $passage eleven twelve thirteen"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d14").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.all.find(_.name == "d14_eval_ngram_overlap").get
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("test", 2L, 1L, 1L),
      ("val", 2L, 1L, 1L)))
    // c11 acts on the same hits: dirty docs 20 (test) and 81 (val) are
    // dropped, and the kept-id witnesses name the exact survivors
    val repaired = Registry.all.find(_.name == "c11_split_repair").get
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(repaired.toSeq === Seq(
      ("test", 2L, 1L, 1L, 21L),
      ("val", 2L, 1L, 1L, 80L)))
  }

  test("hot-bucket guard: a planted mega-cluster's pair work stays bounded " +
      "and the cluster stays connected") {
    import spark.implicits._
    // ONE dominant near-dup cluster ≫ cap — the 100 TB boilerplate
    // case: M near-identical vectors all hash to the SAME LSH bucket
    // (tiny perturbations cannot flip a projection sign), where an
    // unguarded all-pairs join does M(M-1)/2 work. Plus a 2-vector
    // near-dup pair on the NEGATED base (every projection sign flips →
    // a different bucket, population 2 → the exact small-bucket path).
    val dim = graft.queries.SimilarityQueries.Dim
    val rnd = new scala.util.Random(7)
    val base = Array.fill(dim)((rnd.nextDouble() + 0.5).toFloat)
    def perturb(v: Array[Float], i: Int): Array[Float] = {
      val c = v.clone(); c(i % dim) = c(i % dim) + 1e-3f * (1 + i % 7); c
    }
    val m = 60
    val mega = (0 until m).map(i => (i.toLong, perturb(base, i)))
    val neg = base.map(x => -x)
    val small = Seq((100L, perturb(neg, 0)), (101L, perturb(neg, 1)))
    val fixture = (mega ++ small).toDF("vec_id", "embedding")
    val cap = 10
    val w = 3
    val pairs = DedupQueries.guardedEmbeddingPairs(fixture, cap, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // sanity: the fixture really is one hot bucket + one small bucket
    val buckets = graft.queries.SimilarityQueries
      .withBucket(fixture, "embedding")
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(1)).sorted
    assert(buckets.toSeq == Seq(2L, 60L),
      s"fixture must form exactly {60, 2} bucket populations: ${buckets.toSeq}")
    val megaPairs = pairs.filter(_._1 < 100L)
    // bounded: ≤ m·w window pairs, nowhere near the m(m-1)/2 = 1770 of
    // an unguarded scan — THE guard property
    assert(megaPairs.nonEmpty && megaPairs.size <= m * w,
      s"mega-cluster pair work must be ≤ ${m * w}, got ${megaPairs.size}")
    assert(megaPairs.size < m * (m - 1) / 4,
      "window pairing must stay far from quadratic all-pairs")
    // connected: the bounded pair set must still merge the cluster —
    // adjacency in refine-projection order chains the members, so d9's
    // components collapse it exactly as the unguarded scan would
    val edges = pairs.toDF("a", "b")
    val comps = DedupQueries.connectedComponents(spark, edges)
      .groupBy("l").count().collect().map(_.getLong(1)).sorted
    assert(comps.toSeq == Seq(2L, 60L),
      s"guarded pairs must yield components {60, 2}: ${comps.toSeq}")
    // the small-bucket path is untouched exact all-pairs
    assert(pairs.contains((100L, 101L)),
      "the under-cap bucket must keep its exact pair")
  }
}
