package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Catalog, Graft}
import graft.queries.{DedupQueries, Scratch, Splits}

/** The end-to-end LLM corpus-release pipeline — the `documents`-side
  * analog of RetailPipeline.monthlySummaryShared: every stage a real
  * training-data release runs, chained in one dataflow and gated by
  * ONE oracle row (`pipe_corpus_release`), so inter-stage contract
  * bugs (kept/drop conventions, column drift, which text a digest is
  * computed over) are caught where piecewise per-operator oracles
  * cannot see them.
  *
  * Stage order (each stage consumes the previous stage's survivors):
  *   1. raw            — the corpus, NFC-normalized FIRST (t15's
  *                       contract: every digest downstream is over
  *                       canonical text, so composed/decomposed
  *                       spellings dedup together)
  *   2. quality        — t13's hashed linear scorer over normalized
  *                       tokens, kept iff the exact integer weight
  *                       sum >= 0
  *   3. exact_dedup    — d1's md5 digest over the normalized text;
  *                       canonical = min doc_id per digest AMONG
  *                       QUALITY SURVIVORS (a dropped low-quality doc
  *                       cannot claim ownership of its duplicates)
  *   4. neardup        — d10's verdict semantics (simhash hamming<=3
  *                       connected components, kept = not clustered or
  *                       the cluster minimum); labels are corpus-wide
  *                       and read from the dedup job's SHARED memoized
  *                       artifact (the maintained-artifact shape: a
  *                       release consumes published verdicts, it does
  *                       not re-cluster its own subset — see
  *                       [[relCcLabels]] for why the reuse is
  *                       oracle-gated)
  *   5. train_split    — the release trains on t5's deterministic
  *                       'train' fold (Splits.splitCol, the SAME
  *                       definition d8/d14/c11 consume)
  *   6. decontam       — the train-side mirror of c11: a train doc
  *                       sharing any verbatim token-13-gram with a
  *                       val/test doc is DROPPED FROM TRAIN (an
  *                       external benchmark cannot be edited, so the
  *                       leak is removed from the training corpus);
  *                       digest-first candidate generation + literal
  *                       confirm, the d12/d14 discipline
  *   7. mixture        — c7's temperature-flattened domain sampling
  *                       (alpha = 0.5) with rates computed from the
  *                       DECONTAMINATED train counts — the rates a
  *                       release would actually publish
  * then the surviving docs are packed (c3: per-lang running token
  * count -> [[SeqLen]]-token sequence ids), epoch-shuffled (c8:
  * content-hash shard + in-shard position), and materialized through
  * [[Catalog.saveVersioned]] (o5) — the report's shard/pack census is
  * computed FROM THE COMMITTED VERSION read back, so the row also
  * proves the sink round-trips the release bit-for-bit.
  *
  * Scale shape (100 TB): NFC/tokenize/score are map-only over the
  * corpus scan; exact dedup is one digest shuffle; near-dup reuses the
  * banded-signature machinery (never all-pairs) with labels memoized
  * per corpus; decontam shuffles 8-byte gram digests and confirms
  * literals only for digests present on both sides of the split;
  * mixture rates are a domain-cardinality broadcast; packing windows
  * are per-lang shard-local; the epoch shuffle IS the one
  * hash-partition exchange the training order needs. Document text
  * never moves after the feature scan — every join downstream carries
  * (doc_id, flags, small keys) only.
  */
object CorpusRelease {

  /** Training sequence length (tokens) for the packing stage. */
  val SeqLen = 2048L

  /** Verbatim-overlap n-gram width for decontamination (Lee et al.
    * 2022's 13-token convention, matching d14/c11).
    */
  val NGram = 13

  /** Shard count for the epoch shuffle. */
  val Shards = 8

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  /** The NFC-normalized corpus: (doc_id, lang, source, norm). */
  private def normDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        expr("graft_nfc(text)").as("norm"))

  /** Per-doc feature frame over the normalized text: token array,
    * whitespace token count, t13's integer quality sum, t5's split
    * tag, d1's md5 digest.
    */
  private def featured(s: SparkSession, d: String): DataFrame =
    normDocs(s, d)
      .withColumn("w", split(trim(col("norm")), "\\s+"))
      .withColumn("ws_tokens", size(col("w")).cast("long"))
      .withColumn("wsum", expr("graft_wsum(w)"))
      .withColumn("split", Splits.splitCol)
      .withColumn("fp", md5(col("norm")))

  /** Connected-component labels (v, l) — read from the MAINTAINED
    * o12 label table (pipeline/IncrementalCc's per-batch fold, the
    * production shape: a release consumes the ingest job's published,
    * incrementally-maintained verdicts — it does not re-cluster per
    * run). DedupSpec proves the maintained table equals the
    * from-scratch ccLabelsSimhash memo bit for bit, and this row's
    * oracle (the full recursive-CTE closure) gates the
    * interchangeability end-to-end on every run. The maintained
    * artifact hashes RAW text while this chain's contract is post-NFC
    * — the reuse is ORACLE-GATED, not assumed: t15's green row proves
    * the corpus is NFC-canonical (n_raw_unnormalized = 0, so raw and
    * normalized digests coincide), and this row's own oracle computes
    * the closure over nfc_normalize(text), so any corpus where the
    * two artifacts diverged would fail the funnel hash, loudly.
    */
  private def relCcLabels(s: SparkSession, d: String): DataFrame = {
    val cat = graft.queries.PipelineQueries.o12Warehouse(s, d)
    MinMergeStats.view(cat, "cc_labels",
      IncrementalCc.Keys, IncrementalCc.Ord)
  }

  /** Train doc_ids sharing a verbatim 13-gram with any val/test doc —
    * digest-first (the only corpus-mass shuffles move 8-byte longs),
    * literal grams compared only for digests present on BOTH sides, so
    * hash collisions can only add candidates, never false drops.
    * Reads the SHARED d14/c11 gram index (one build per corpus per
    * session) — raw-text keyed, gated by the same t15 + oracle
    * argument as [[relCcLabels]].
    */
  private def dirtyTrainIds(s: SparkSession, d: String): DataFrame = {
    val grams = DedupQueries.evalGramIndex(s, d)
    val candH = DedupQueries.bothSidesH(grams)
    val evG = grams.filter(col("split") =!= "train")
      .join(candH, Seq("h"), "left_semi")
      .select(col("h"), col("gram")).distinct()
    grams.filter(col("split") === "train")
      .join(candH, Seq("h"), "left_semi")
      .join(evG, Seq("h", "gram"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Sqrt-flattened per-source mixture rates over a `(source, n_total)`
    * census: `rate_1e5 = floor(sqrt(n_total / n_max) * 1e5)`.
    *
    * MAX-SOURCE BOUNDARY CONTRACT: the largest source gets
    * floor(sqrt(1) * 1e5) = 100000 exactly, and the keep test is
    * `mh < rate_1e5` over mh in [0, 99999] — so the largest source is
    * kept at exactly 100%, never sampled. Flattening only downsamples
    * sources SMALLER than the head; pinned by MixtureSpec so a future
    * rate tweak (a <=, a different scale constant, a rounding change)
    * cannot silently shift the boundary semantics.
    */
  private[graft] def mixtureRates(counts: DataFrame): DataFrame =
    counts
      .withColumn("n_max", max(col("n_total")).over(Window.partitionBy()))
      .withColumn("rate_1e5",
        floor(sqrt(col("n_total").cast("double") /
          col("n_max").cast("double")) * 100000.0).cast("long"))
      .select(col("source"), col("rate_1e5"))

  /** Per-doc cumulative keep flags k1..k6 (quality, exact, neardup,
    * train, decontam, mixture) over (doc_id, lang, source, ws_tokens)
    * — the one frame both the funnel census and the release read.
    */
  private def flaggedFrame(s: SparkSession, d: String): DataFrame = {
    val base = featured(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        col("ws_tokens"), col("wsum"), col("split"), col("fp"))
      .withColumn("k1", col("wsum") >= 0L)
    val canon = base.filter(col("k1"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    val labels = relCcLabels(s, d)
      .select(col("v").as("doc_id"), col("l").as("cl"))
    val dirty = dirtyTrainIds(s, d).withColumn("is_dirty", lit(true))
    // Materialize the pre-mixture flags once: the mixture rates need a
    // census over k5 survivors, and recomputing the gram/CC joins for
    // that second consumer would double the chain's heavy passes.
    val pre = Scratch.materialize(s, "rel_flags_pre", base
      .join(canon, Seq("fp"), "left")
      .withColumn("k2", col("k1") && col("doc_id") === col("keeper"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("k3",
        col("k2") && (col("cl").isNull || col("doc_id") === col("cl")))
      .withColumn("k4", col("k3") && col("split") === lit("train"))
      .join(dirty, Seq("doc_id"), "left")
      .withColumn("k5", col("k4") && col("is_dirty").isNull)
      .select(col("doc_id"), col("lang"), col("source"), col("ws_tokens"),
        col("k1"), col("k2"), col("k3"), col("k4"), col("k5")))
    // c7's temperature mixture over the decontaminated train counts:
    // exact integer census -> correctly-rounded sqrt rate, broadcast
    // back (domain cardinality, never doc mass).
    val counts = pre.filter(col("k5"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    val rates = mixtureRates(counts)
    pre.join(broadcast(rates), Seq("source"), "left")
      .withColumn("mh",
        expr("pmod(graft_strhash(concat(cast(doc_id as string), ':', " +
          "source, ':relmix')), 100000)"))
      .withColumn("k6", col("k5") && col("mh") < col("rate_1e5"))
      .select(col("doc_id"), col("lang"), col("source"), col("ws_tokens"),
        col("k1"), col("k2"), col("k3"), col("k4"), col("k5"), col("k6"))
  }

  /** The released corpus rows derived from the flagged frame: packing
    * sequence id (per-lang running token count) and epoch-shuffle
    * (shard, pos) — the frame [[report]] commits via saveVersioned.
    */
  private def releaseRows(flagged: DataFrame): DataFrame = {
    val wPack = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wShard = Window.partitionBy(col("shard"))
      .orderBy(col("h8"), col("doc_id"))
    flagged.filter(col("k6"))
      .select(col("doc_id"), col("lang"), col("source"), col("ws_tokens"))
      .withColumn("cum", sum(col("ws_tokens")).over(wPack))
      .withColumn("seq_id", expr(s"(cum - ws_tokens) div $SeqLen"))
      .withColumn("h8", expr(
        "graft_strhash(concat(cast(doc_id as string), ':relshuf1'))"))
      .withColumn("shard", pmod(col("h8"), lit(Shards)).cast("long"))
      .withColumn("pos", row_number().over(wShard).cast("long"))
      .select(col("doc_id"), col("lang"), col("source"), col("ws_tokens"),
        col("seq_id"), col("shard"), col("pos"))
  }

  /** The oracle-gated report: funnel census (stages 1-7, doc/token
    * counts + kept-doc_id-sum witness), per-shard census of the
    * COMMITTED release version (order witness = sum(doc_id * pos),
    * proving the exact permutation round-tripped the sink), and
    * per-lang packing census (n_seqs + >=90%-full count). One schema:
    * (stage_id, stage, n_docs, n_tokens, n_seqs, witness) — all exact
    * integers.
    */
  def report(s: SparkSession, d: String): DataFrame = {
    val fl = flaggedFrame(s, d)
    val cat = new Catalog(s, Scratch.fresh(s, "rel_wh"))
    val v = cat.saveVersioned("corpus_release", releaseRows(fl))
    val stored = cat.tableAt("corpus_release", v)

    val stageFlags = Seq(
      (1L, "raw", lit(true)), (2L, "quality", col("k1")),
      (3L, "exact_dedup", col("k2")), (4L, "neardup", col("k3")),
      (5L, "train_split", col("k4")), (6L, "decontam", col("k5")),
      (7L, "mixture", col("k6")))
    val aggs = stageFlags.flatMap { case (i, _, f) => Seq(
      count(when(f, 1)).as(s"d$i"),
      coalesce(sum(when(f, col("ws_tokens"))), lit(0L)).as(s"t$i"),
      coalesce(sum(when(f, col("doc_id"))), lit(0L)).as(s"w$i"))
    }
    val stackArgs = stageFlags.map { case (i, n, _) =>
      s"${i}L, '$n', d$i, t$i, 0L, w$i" }.mkString(", ")
    val funnel = fl.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${stageFlags.size}, $stackArgs) " +
        "AS (stage_id, stage, n_docs, n_tokens, n_seqs, witness)")

    val shardRows = stored.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("n_tokens"),
        sum(col("doc_id") * col("pos")).as("witness"))
      .select(lit(10L).as("stage_id"),
        concat(lit("shard_"), col("shard")).as("stage"),
        col("n_docs"), col("n_tokens"), lit(0L).as("n_seqs"),
        col("witness"))

    val packRows = stored.groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n"), sum(col("ws_tokens")).as("tks"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"), sum(col("tks")).as("n_tokens"),
        count(lit(1)).as("n_seqs"),
        count(when(col("tks") >= SeqLen * 9 / 10, 1)).as("witness"))
      .select(lit(20L).as("stage_id"),
        concat(lit("pack_"), col("lang")).as("stage"),
        col("n_docs"), col("n_tokens"), col("n_seqs"), col("witness"))

    funnel.unionByName(shardRows).unionByName(packRows)
      .orderBy(col("stage_id"), col("stage"))
  }

  /** DuckDB twin of [[report]] — one CTE chain over `documents`
    * reproducing every stage (NFC, quality fold, exact canonical,
    * simhash closure, split, gram decontam, mixture rates, packing
    * windows, epoch shuffle) and the same three census sections.
    */
  val ReportOracleSql: String = {
    def strFold(e: String) =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(regexp_extract_all($e, '(?s).'), " +
        "c -> CAST(ascii(c) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007)"
    val wsumFold =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split_regex(trim(norm), '\\s+'), " +
        "tok -> list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(regexp_extract_all(tok, '(?s).'), " +
        "ch -> CAST(ascii(ch) AS BIGINT))), " +
        "(a2, c2) -> (a2 * 31 + c2) % 1000000007) % 2001 - 1000)), " +
        "(acc, x) -> acc + x)"
    val mixFold = strFold(
      "CAST(s6.doc_id AS VARCHAR) || ':' || s6.source || ':relmix'")
    val shufFold = strFold("CAST(doc_id AS VARCHAR) || ':relshuf1'")
    val full = SeqLen * 9 / 10
    def census(rel: String, i: Long, n: String) =
      s"SELECT CAST($i AS BIGINT) AS stage_id, '$n' AS stage, " +
        "COUNT(*) AS n_docs, " +
        "CAST(COALESCE(SUM(ws_tokens), 0) AS BIGINT) AS n_tokens, " +
        "CAST(0 AS BIGINT) AS n_seqs, " +
        s"CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS witness FROM $rel"
    s"""WITH RECURSIVE
       |nd0 AS (SELECT doc_id, lang, source, nfc_normalize(text) AS norm
       |        FROM documents),
       |${DedupQueries.simhashDocsSqlOver("nd0", "d.norm")},
       |${DedupQueries.SimhashClosureSql},
       |feat AS (
       |  SELECT doc_id, lang, source,
       |    string_split_regex(trim(norm), '\\s+') AS w,
       |    CAST(len(string_split_regex(trim(norm), '\\s+')) AS BIGINT)
       |      AS ws_tokens,
       |    $wsumFold AS wsum,
       |    ${Splits.SplitCaseSql} AS split,
       |    md5(norm) AS fp
       |  FROM nd0),
       |q AS (SELECT * FROM feat WHERE wsum >= 0),
       |canon AS (SELECT fp, MIN(doc_id) AS keeper FROM q GROUP BY 1),
       |s3 AS (SELECT q.* FROM q JOIN canon c
       |       ON q.fp = c.fp AND q.doc_id = c.keeper),
       |s4 AS (SELECT s3.* FROM s3 LEFT JOIN comp ON s3.doc_id = comp.v
       |       WHERE comp.cluster IS NULL OR s3.doc_id = comp.cluster),
       |s5 AS (SELECT * FROM s4 WHERE split = 'train'),
       |grams AS (
       |  SELECT f.doc_id, f.split,
       |    array_to_string(f.w[g.i:g.i+${NGram - 1}], ' ') AS gram
       |  FROM feat f,
       |    LATERAL UNNEST(range(1, greatest(len(f.w) - ${NGram - 1}, 0) + 1)) g(i)),
       |evg AS (SELECT DISTINCT gram FROM grams WHERE split != 'train'),
       |dirty AS (SELECT DISTINCT g.doc_id FROM grams g
       |          JOIN evg USING (gram) WHERE g.split = 'train'),
       |s6 AS (SELECT * FROM s5
       |       WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
       |counts AS (SELECT source, COUNT(*) AS n_total FROM s6 GROUP BY 1),
       |rates AS (
       |  SELECT source,
       |    CAST(FLOOR(SQRT(CAST(n_total AS DOUBLE) /
       |      (SELECT CAST(MAX(n_total) AS DOUBLE) FROM counts)) * 100000)
       |      AS BIGINT) AS rate_1e5
       |  FROM counts),
       |s7 AS (SELECT s6.* FROM s6 JOIN rates r ON s6.source = r.source
       |       WHERE ($mixFold) % 100000 < r.rate_1e5),
       |rel AS (
       |  SELECT doc_id, lang, source, ws_tokens,
       |    (SUM(ws_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |     - ws_tokens) // $SeqLen AS seq_id,
       |    $shufFold AS h8
       |  FROM s7),
       |rel2 AS (
       |  SELECT *, h8 % $Shards AS shard,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY h8 % $Shards
       |      ORDER BY h8, doc_id) AS BIGINT) AS pos
       |  FROM rel),
       |per_seq AS (
       |  SELECT lang, seq_id, COUNT(*) AS n,
       |    CAST(SUM(ws_tokens) AS BIGINT) AS tks
       |  FROM rel2 GROUP BY 1, 2)
       |${census("feat", 1, "raw")}
       |UNION ALL ${census("q", 2, "quality")}
       |UNION ALL ${census("s3", 3, "exact_dedup")}
       |UNION ALL ${census("s4", 4, "neardup")}
       |UNION ALL ${census("s5", 5, "train_split")}
       |UNION ALL ${census("s6", 6, "decontam")}
       |UNION ALL ${census("s7", 7, "mixture")}
       |UNION ALL
       |SELECT CAST(10 AS BIGINT), 'shard_' || CAST(shard AS VARCHAR),
       |  COUNT(*), CAST(SUM(ws_tokens) AS BIGINT), CAST(0 AS BIGINT),
       |  CAST(SUM(doc_id * pos) AS BIGINT)
       |FROM rel2 GROUP BY shard
       |UNION ALL
       |SELECT CAST(20 AS BIGINT), 'pack_' || lang,
       |  CAST(SUM(n) AS BIGINT), CAST(SUM(tks) AS BIGINT),
       |  COUNT(*), CAST(COUNT(*) FILTER (tks >= $full) AS BIGINT)
       |FROM per_seq GROUP BY lang
       |ORDER BY stage_id, stage""".stripMargin
  }
}
