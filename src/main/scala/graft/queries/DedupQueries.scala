package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Functions, Graft, Parquet}

/** Deduplication operators for a training-data pipeline over the
  * `documents` / `embeddings` tables: exact (hash-groupBy), n-gram
  * Jaccard, MinHash+LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * Portability contract with the DuckDB oracle: exact dedup hashes
  * through md5 hex strings (identical in both engines); the MinHash
  * shingle and SimHash token hot paths use `graft_strhash`, the
  * compiled polynomial whose DuckDB twin is the `list_reduce(ascii)`
  * fold proven portable by t4_fingerprint; all floating-point
  * reductions are left-folds in index order (`aggregate`/`zip_with`
  * here, `list_reduce`/`list_zip` there) so doubles come out
  * bit-identical.
  *
  * Scale design (100 TB):
  *  - exact + fingerprint dedup are single hash-shuffles on the digest;
  *  - shingles are word 3-grams, not char k-grams: natural text has ~6x
  *    fewer words than chars, so the per-shingle digest (the dedup hot
  *    path — one compiled `graft_strhash` per shingle) costs ~6x less
  *    at equal dedup power, and shingles collapse to their 8-byte
  *    digest at the source so no downstream shuffle moves strings;
  *  - MinHash runs as ONE map-side-combinable groupBy(doc) with 16 min()
  *    aggregates, then candidate generation shuffles on (band, signature)
  *    — never all-pairs;
  *  - the exact-Jaccard pair join is a verification pass over LSH
  *    candidates only (semi-join-pruned corpus), SimHash pairs come from
  *    an equi-join on 16-bit bands of a 64-bit signature, and embedding
  *    near-dups are blocked by LSH bucket — the quadratic step never sees
  *    the full corpus;
  *  - nothing routes result rows through the driver: large intermediates
  *    are materialized to durable (warehouse) parquet, never collect()'d
  *    and never pinned in executor block storage.
  *
  * Corpus assumption: shingling tokenizes on whitespace, so near-dup
  * detection degrades to exact-match for whitespace-free text (CJK,
  * URLs, minified blobs) — such docs yield a single whole-text shingle.
  * Acceptable for the whitespace-tokenizable corpora this targets; a
  * char-k-gram fallback (when `size(w) = 1` and the text is long) is the
  * documented extension point for mixed corpora.
  */
object DedupQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  /** Non-distinct word-3-gram shingles — enough for MIN-based
    * minhashing, skips the dedup shuffle. Documents shorter than 3 words
    * yield one shingle (the whole text), so every doc survives.
    */
  private def shinglesRaw(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(trim(col("text")), "\\s+"))
      .withColumn("i",
        explode(expr("sequence(1, greatest(size(w) - 2, 1))")))
      .select(col("doc_id"),
        expr("concat_ws(' ', slice(w, i, 3))").as("s"))

  /** Shingles reduced to their compiled poly-hash digest at the source:
    * (doc_id, h). Every downstream shuffle, distinct, persist, and
    * equality join in d2/d3 then moves 8-byte longs instead of shingle
    * strings — at corpus scale the digest IS the shingle identity (both
    * engines hash identically, so Jaccard over digests matches the
    * oracle bit-for-bit; cross-shingle collisions are ~n²/2p per doc,
    * identical on both sides by construction).
    */
  private def hashedShingles(docs: DataFrame): DataFrame =
    shinglesRaw(docs).select(col("doc_id"), expr("graft_strhash(s)").as("h"))

  private val ShinglesRawSql: String =
    """SELECT t.doc_id, array_to_string(t.w[g.i:g.i+2], ' ') AS s
      |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |      FROM documents) t,
      |  LATERAL UNNEST(range(1, greatest(len(t.w) - 2, 1) + 1)) g(i)""".stripMargin

  /** DuckDB twin of [[hashedShingles]] (the t4-proven base-31 fold). */
  private val HashedShinglesSql: String =
    "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(regexp_extract_all(s, '(?s).'), " +
      "c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) AS h " +
      s"FROM ($ShinglesRawSql) raw"

  private val P = 1000000007L

  /** Tokens per segment for d15/o11's sub-document dedup. */
  private[graft] val SegW = 20

  /** (doc_id, tk): each doc's whitespace token array, built once. */
  private[graft] def segTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))

  /** (doc_id, start, h, seg): every stride-[[SegW]] segment (the c4
    * construction: >=1 segment per doc, partial tail kept) with its
    * literal and 8-byte xxhash64 digest. Decision-only consumers (d15)
    * project the literal away before any shuffle; the o11 registry
    * fold reduces to dictionary cardinality before strings move.
    */
  private[graft] def docSegments(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("tk"),
      explode(sequence(lit(0L),
        greatest(size(col("tk")).cast("long") - 1L, lit(0L)),
        lit(SegW.toLong))).as("start"))
      .withColumn("seg",
        array_join(slice(col("tk"), col("start") + 1, lit(SegW)), " "))
      .withColumn("h", xxhash64(col("seg")))
      .select(col("doc_id"), col("start"), col("h"), col("seg"))

  /** Registry key/owner column contracts for the o11/o11b min-merge
    * segment registry — single source of truth for every fold, probe,
    * and spec.
    */
  private[graft] val SegRegistryKeys = Seq("h", "seg")
  private[graft] val SegRegistryOrd = Seq("first_doc", "first_start")

  /** A batch's candidate-owner frame: one row per distinct (digest,
    * literal) with its minimal (doc_id, start) occurrence — the shape
    * MinMergeStats folds and rebuilds from.
    */
  private[graft] def segmentOwners(batch: DataFrame): DataFrame =
    batch.groupBy(col("h"), col("seg"))
      .agg(min(struct(col("doc_id"), col("start"))).as("o"))
      .select(col("h"), col("seg"),
        col("o.doc_id").as("first_doc"),
        col("o.start").as("first_start"))

  /** d15-shape output from a kept (doc_id, start) set: n_segs by
    * arithmetic on the doc scan (not a pass over the position table),
    * rewritten text by re-slicing each doc's own token array at its
    * kept offsets — document text moves on exactly one doc_id shuffle,
    * segment strings on none.
    */
  private[graft] def rewriteFromKept(toks: DataFrame,
                                       kept: DataFrame): DataFrame = {
    val starts = kept.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("start"))).as("starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (floor(greatest(size(col("tk")).cast("long") - 1L, lit(0L))
          / SegW) + 1L).cast("long").as("n_segs"),
        coalesce(size(col("starts")), lit(0)).cast("long").as("n_kept"),
        coalesce(
          array_join(transform(col("starts"),
            i => array_join(slice(col("tk"), i + 1, lit(SegW)), " ")), " "),
          lit("")).as("rewritten"))
      .orderBy("doc_id")
  }

  /** The literal-semantics oracle for the segment rewrite over any doc
    * source — shared by d15 (recompute), o11 (maintained registry) and
    * o11b (post-takedown registry over the surviving corpus): every
    * path must hash-match the recompute bit for bit.
    */
  private[graft] def segRewriteOracleSqlOver(docsRef: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |  FROM $docsRef),
       |segs AS (
       |  SELECT doc_id, start,
       |    array_to_string(tk[start + 1 : start + $SegW], ' ') AS seg
       |  FROM (
       |    SELECT doc_id, tk,
       |      UNNEST(generate_series(0, GREATEST(len(tk) - 1, 0), $SegW))
       |        AS start
       |    FROM toks) p),
       |marked AS (
       |  SELECT doc_id, start, seg,
       |    ROW_NUMBER() OVER (PARTITION BY seg
       |      ORDER BY doc_id, start) AS rn
       |  FROM segs),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_segs,
       |    SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
       |    COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
       |      ORDER BY start), '') AS rewritten
       |  FROM marked GROUP BY doc_id)
       |SELECT doc_id, CAST(n_segs AS BIGINT) AS n_segs,
       |  CAST(n_kept AS BIGINT) AS n_kept, rewritten
       |FROM agg ORDER BY doc_id""".stripMargin

  private[graft] val SegRewriteOracleSql: String =
    segRewriteOracleSqlOver("documents")

  /** t5's deterministic hash split tag + tokenized words — the shared
    * base of the token-n-gram decontamination family (d14 report,
    * c11 repair in CurationQueries).
    */
  private[queries] def taggedSplits(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      Splits.splitCol.as("split"),
      split(trim(col("text")), "\\s+").as("w"))

  /** Verbatim token-13-gram contamination hits: one (doc_id, split,
    * gram) row per distinct leaked gram per eval doc. Digest-first:
    * the gram table (memoized per corpus dir — built once per session,
    * shared by d14 and c11) shuffles 8-byte graft_strhash digests for
    * the corpus-wide distincts, and literal grams are compared only
    * for digests present on BOTH sides of the split, so collisions
    * can only add candidates, never false hits (the d12 discipline).
    */
  private[graft] def evalGramIndex(s: SparkSession, d: String): DataFrame = {
    val N = 13
    Scratch.memoized(s, s"d14_grams:$d", "d14_grams",
      taggedSplits(s, d)
        .filter(size(col("w")) >= N)
        .select(col("doc_id"), col("split"),
          explode(expr(s"transform(sequence(0, size(w) - $N), " +
            s"i -> array_join(slice(w, i + 1, $N), ' '))")).as("gram"))
        .withColumn("h", expr("graft_strhash(gram)")))
  }

  /** The 13-gram index, read by d14, c11, d16, d16s and the corpus
    * release.
    */
  val EvalGrams: Artifact = Artifact("eval_gram_index_build",
    (s, d) => evalGramIndex(s, d): Unit)

  /** The d16/d16s exact-twin Bloom filter, shared by the batch row and
    * its streaming twin so the two engines compute the IDENTICAL bit
    * set: k=3 integer hash functions over the gram's poly digest (pure
    * BIGINT arithmetic — DuckDB reproduces the bits exactly), sized
    * from the eval digest census by an integer power-of-two ladder.
    */
  private[graft] object Bloom {
    val P = 1000000007L
    val As = Seq(1000003L, 2000003L, 3000019L)
    val Bs = Seq(12345L, 67890L, 424242L)

    /** Smallest power of two >= 32x the eval digest census, clamped to
      * [2^16, 2^26] — the a5c/a8c follow-the-volume discipline.
      */
    def sizeM(nEval: Long): Long =
      1L << (16 to 26).find(q => (1L << q) >= 32L * nEval).getOrElse(26)

    /** Bit index j in [0, m) of digest column `c`. */
    def hj(j: Int, c: org.apache.spark.sql.Column,
           m: Long): org.apache.spark.sql.Column =
      ((c * As(j) + Bs(j)) % P) % m

    /** The set-bit table of a distinct digest frame `(h)`. */
    def bitsOf(evH: DataFrame, m: Long): DataFrame =
      evH.select(explode(array(
          (0 until 3).map(j => hj(j, col("h"), m)): _*)).as("bit"))
        .distinct()
  }

  /** The d16/d16s static EVAL-side artifacts, memoized per corpus
    * (r19): the data-sized bit count m, the exact-twin set-bit table,
    * and the eval literal (h, gram) confirm table. The eval benchmark
    * is a small FIXED artifact — production sizes and builds its
    * Bloom bits once when the eval set is registered, not per query
    * run and not per arriving train micro-batch — so the build is
    * ingest-shaped work on exactly the j6b/t17b precedent: memoized
    * per (session, corpus), pre-built by the bench warmup, reported
    * as `ingest_artifacts.bloom_bits_build` (boundary move documented
    * in OPTIMIZATION_r19.md with both totals). Un-memoized, every
    * timed d16/d16s run re-paid the eval digest census count plus the
    * bit-set build (~0.7-1.0 s of a 4 s row at sf0.1).
    */
  private[graft] def bloomStatics(s: SparkSession,
                                  d: String): (Long, DataFrame, DataFrame) = {
    val m = bloomMemoM.computeIfAbsent(
      s"${s.sparkContext.applicationId}:$d", _ => {
        val n = evalGramIndex(s, d).filter(col("split") =!= "train")
          .select(col("h")).distinct().count()
        java.lang.Long.valueOf(Bloom.sizeM(n))
      }).longValue()
    val bits = Scratch.memoized(s, s"d16_bits:$d", "d16_bits",
      Bloom.bitsOf(evalGramIndex(s, d).filter(col("split") =!= "train")
        .select(col("h")).distinct(), m))
    val evG = Scratch.memoized(s, s"d16_evg:$d", "d16_evg",
      evalGramIndex(s, d).filter(col("split") =!= "train")
        .select(col("h"), col("gram")).distinct())
    (m, bits, evG)
  }

  /** d16/d16s's eval-side Bloom artifacts (bit count, set bits, literal
    * confirm table), built from [[EvalGrams]].
    */
  val BloomBits: Artifact = Artifact("bloom_bits_build",
    (s, d) => bloomStatics(s, d): Unit)

  private val bloomMemoM =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Shared oracle of d16 (batch) and d16s (stream): the full
    * Bloom-prefiltered decontamination differential as one DuckDB CTE
    * chain — both engines' outputs must hash-match it, which is what
    * pins the stream twin to the batch semantics.
    */
  private[graft] val BloomDecontamOracleSql: String = {
    val fold =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(regexp_extract_all(g.gram, '(?s).'), " +
        "c -> CAST(ascii(c) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007)"
    val ladder = (16 to 26)
      .map(q => s"WHEN 32 * n <= ${1L << q} THEN CAST(${1L << q} AS BIGINT)")
      .mkString(" ")
    def bitj(a: Long, b: Long) =
      s"((h * $a + $b) % 1000000007) % (SELECT m FROM mp)"
    s"""WITH ${Splits.SpCteSql},
       |toks AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |grams AS (
       |  SELECT t.doc_id, array_to_string(t.w[g.i:g.i+12], ' ') AS gram
       |  FROM toks t,
       |    LATERAL UNNEST(range(1, greatest(len(t.w) - 12, 0) + 1)) g(i)),
       |g2 AS (SELECT g.doc_id, s.split, g.gram, $fold AS h
       |       FROM grams g JOIN sp s USING (doc_id)),
       |nev AS (SELECT COUNT(DISTINCT h) AS n FROM g2
       |        WHERE split != 'train'),
       |mp AS (SELECT CASE $ladder
       |         ELSE CAST(${1L << 26} AS BIGINT) END AS m FROM nev),
       |evh AS (SELECT DISTINCT h FROM g2 WHERE split != 'train'),
       |bits AS (
       |  SELECT DISTINCT ${bitj(1000003L, 12345L)} AS bit FROM evh
       |  UNION SELECT ${bitj(2000003L, 67890L)} FROM evh
       |  UNION SELECT ${bitj(3000019L, 424242L)} FROM evh),
       |thg AS (SELECT DISTINCT doc_id, h FROM g2 WHERE split = 'train'),
       |need AS (SELECT doc_id, h, list_distinct([
       |    ${bitj(1000003L, 12345L)},
       |    ${bitj(2000003L, 67890L)},
       |    ${bitj(3000019L, 424242L)}]) AS bs FROM thg),
       |expl AS (SELECT doc_id, h, len(bs) AS nb, UNNEST(bs) AS bit
       |         FROM need),
       |gp AS (SELECT e.doc_id, e.h, e.nb, COUNT(*) AS nhit
       |       FROM expl e JOIN bits USING (bit) GROUP BY 1, 2, 3),
       |bloomdocs AS (SELECT DISTINCT doc_id FROM gp WHERE nhit = nb),
       |evg AS (SELECT DISTINCT gram FROM g2 WHERE split != 'train'),
       |dirty AS (SELECT DISTINCT doc_id FROM g2
       |          WHERE split = 'train'
       |            AND gram IN (SELECT gram FROM evg)),
       |td AS (SELECT DISTINCT doc_id FROM g2 WHERE split = 'train'),
       |c AS (SELECT
       |    (SELECT COUNT(*) FROM td) AS n_train_docs,
       |    (SELECT m FROM mp) AS m_bits,
       |    (SELECT COUNT(*) FROM bloomdocs) AS n_bloom_pass,
       |    (SELECT COUNT(*) FROM dirty) AS n_dirty_exact,
       |    (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM dirty)
       |      AS dirty_docid_sum)
       |SELECT n_train_docs, m_bits, n_bloom_pass, n_dirty_exact,
       |  n_bloom_pass - n_dirty_exact AS n_false_pos, dirty_docid_sum,
       |  CASE WHEN n_train_docs = n_dirty_exact
       |    THEN CAST(0.0 AS DOUBLE)
       |    ELSE CAST(n_bloom_pass - n_dirty_exact AS DOUBLE)
       |      / (n_train_docs - n_dirty_exact) END AS fp_rate
       |FROM c""".stripMargin
  }

  /** Shared oracle of d10 (labels from the per-corpus from-scratch CC
    * memo) and o12 (labels from the incrementally-MAINTAINED table):
    * the full recursive-CTE closure projected onto the corpus as
    * per-doc keep/drop verdicts. One oracle for both rows is the
    * interchangeability proof at the driver gate — the maintained
    * table must serve every consumer exactly as the memo does.
    */
  // lazy: interpolates CTE blocks declared LATER in this object — a
  // strict val here would capture null at object init. Defined through
  // the parameterized form so the d10/o12/o12s oracle and o12b's
  // survivors-only takedown oracle can never drift.
  private[graft] lazy val CcVerdictOracleSql: String =
    ccVerdictOracleSqlOver("documents")

  /** [[CcVerdictOracleSql]] parameterized over the document relation —
    * the o12b takedown oracle: after retiring a batch, the maintained
    * labels projected onto the survivors must be bit-identical to this
    * from-scratch closure over the surviving docs alone (the o11b
    * oracle pattern lifted to graphs, where a retired bridge doc can
    * SPLIT a component).
    */
  private[graft] def ccVerdictOracleSqlOver(rel: String): String =
    s"""WITH RECURSIVE ${simhashDocsSqlOver(rel, "d.text")},
       |$SimhashClosureSql
       |SELECT d.doc_id, CAST(c.cluster AS BIGINT) AS cluster,
       |  (c.cluster IS NULL OR d.doc_id = c.cluster) AS kept
       |FROM $rel d LEFT JOIN comp c ON d.doc_id = c.v
       |ORDER BY d.doc_id""".stripMargin

  /** Digests present on BOTH sides of the train/eval split — the
    * candidate set the d12/d14 decontam discipline prunes literal-gram
    * movement with. ONE pass over the index's (h, split) columns (a
    * map-combinable groupBy with per-side presence flags) instead of
    * the former two per-side distincts joined together: the identical
    * set, one Exchange and one index scan rather than two of each
    * (guide §2.4). Shared by d14/c11's [[evalNgramHits]] and the
    * release chain's decontam stage.
    */
  private[graft] def bothSidesH(grams: DataFrame): DataFrame =
    grams.groupBy(col("h"))
      .agg(max(col("split") === "train").as("tr"),
        max(col("split") =!= "train").as("ev"))
      .filter(col("tr") && col("ev"))
      .select(col("h"))

  private[graft] def evalNgramHits(s: SparkSession, d: String): DataFrame = {
    val grams = evalGramIndex(s, d)
    val candH = bothSidesH(grams)
    val trG = grams.filter(col("split") === "train")
      .join(candH, Seq("h"), "left_semi")
      .select(col("h"), col("gram")).distinct()
    grams.filter(col("split") =!= "train")
      .join(candH, Seq("h"), "left_semi")
      .join(trG, Seq("h", "gram"), "left_semi")
      .select(col("doc_id"), col("split"), col("gram")).distinct()
  }

  /** DuckDB twin of [[taggedSplits]]+[[evalNgramHits]] as a CTE chain
    * (`sp`, `grams`, `tr`, `hits`) — shared verbatim by d14's and
    * c11's oracles so the two can never drift.
    */
  private[queries] val EvalNgramHitsSql: String = {
    s"""${Splits.SpCteSql},
       |toks AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |grams AS (
       |  SELECT t.doc_id, array_to_string(t.w[g.i:g.i+12], ' ') AS gram
       |  FROM toks t,
       |    LATERAL UNNEST(range(1, greatest(len(t.w) - 12, 0) + 1)) g(i)),
       |tr AS (SELECT DISTINCT gram
       |  FROM grams JOIN sp USING (doc_id) WHERE split = 'train'),
       |hits AS (
       |  SELECT DISTINCT g.doc_id, s.split, g.gram
       |  FROM grams g JOIN sp s USING (doc_id) JOIN tr USING (gram)
       |  WHERE s.split != 'train')""".stripMargin
  }

  /** MinHash+LSH candidate pairs from a hashed (doc_id, h) shingle
    * frame: 16 minhashes derived from the digest by cheap arithmetic
    * `(a_i*h + b_i) mod p` (codegen'd long math — one digest, 16
    * derived functions), aggregated in one map-combinable groupBy;
    * 4 bands x 4 rows; candidates from band-signature collisions.
    * Duplicate shingles don't change MIN, so callers may pass
    * non-distinct shingles and skip that shuffle.
    */
  private[queries] def lshCandidates(sh: DataFrame): DataFrame = {
    val minhashes = (0 until 16).map(i =>
      min((col("h") * (2 * i + 1) + (31 * i + 7)) % P).as(s"h$i"))
    val mh = sh.groupBy(col("doc_id"))
      .agg(minhashes.head, minhashes.tail: _*)
    // One row per (doc, band); the band signature stays FOUR LONGS (a
    // struct), never a concatenated string — the band self-join is the
    // big shuffle of this pipeline and 4 longs beat a ~40-char string
    // on the wire, with exact (collision-free) band equality.
    val bandCols = (0 until 4).map(b =>
      struct((0 until 4).map(j => col(s"h${4 * b + j}").as(s"k$j")): _*))
    val expl = mh.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("bi", "sig")))
    val a = expl.select(col("doc_id").as("doc_a"), col("bi"), col("sig"))
    val b2 = expl.select(col("doc_id").as("doc_b"),
      col("bi").as("bi_b"), col("sig").as("sig_b"))
    a.join(b2, col("bi") === col("bi_b") && col("sig") === col("sig_b") &&
        col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** DuckDB twin of [[lshCandidates]], reading hashed shingles
    * (doc_id, h) from `shRef` (band key = four minhash columns, matching
    * the struct-keyed Spark join).
    */
  private[queries] def LshCandidatesSql(shRef: String): String = {
    val mins = (0 until 16)
      .map(i => s"MIN((h * ${2 * i + 1} + ${31 * i + 7}) % $P) AS h$i")
      .mkString(", ")
    val mh = s"""SELECT doc_id, $mins
       |FROM $shRef
       |GROUP BY doc_id""".stripMargin
    val sel = (0 until 4).map(j =>
      "CASE bi " + (0 until 4).map(b => s"WHEN $b THEN h${4 * b + j}")
        .mkString(" ") + s" END AS k$j").mkString(", ")
    val expl = s"""SELECT doc_id, bi, $sel
       |  FROM ($mh) mh,
       |       (SELECT UNNEST([0, 1, 2, 3]) AS bi) n""".stripMargin
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
       |FROM ($expl) a
       |JOIN ($expl) b
       |  ON a.bi = b.bi AND a.k0 = b.k0 AND a.k1 = b.k1
       |  AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** 64-bit SimHash per doc: three compiled `graft_strhash` poly-hashes
    * per whitespace token (bases 31/131/257 — independent-enough hash
    * families, each supplying 30/30/4 of the 64 vote bits since the mod
    * is ~2^30), bit b of the signature set by the majority vote of that
    * hash bit across token hashes. Pure long bit math per vote (the md5
    * predecessor paid a digest + 64 hex substring/conv extractions per
    * token). 64 aggregate expressions in ONE map-side-combinable
    * groupBy — a single shuffle on doc_id. Bits are disjoint so the
    * long addition assembling the signature cannot overflow (bit 63's
    * term is Long.MinValue, by design).
    */
  private[graft] def simhashDocs(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tk"))
      .withColumn("h1", expr("graft_strhash(tk, 31)"))
      .withColumn("h2", expr("graft_strhash(tk, 131)"))
      .withColumn("h3", expr("graft_strhash(tk, 257)"))
    val sigExpr = (0 until 64).map { b =>
      val (h, off) =
        if (b < 30) ("h1", b) else if (b < 60) ("h2", b - 30) else ("h3", b - 60)
      val bit = shiftright(col(h), off).bitwiseAND(lit(1L)).cast("int")
      when(sum(bit * 2 - 1) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(sigExpr.cast("long").as("simhash"))
  }

  /** DuckDB twin of [[simhashDocs]] as a `tok AS (...), sh AS (...)`
    * CTE pair (bit 63's addend prints as Long.MinValue; DuckDB widens
    * the sum through HUGEINT and the final CAST lands back in BIGINT).
    * Parameterized over the doc relation and text expression so the
    * corpus-release chain can run the identical signature over its
    * NFC-normalized frame (`simhashDocsSqlOver("nd0", "d.norm")`).
    */
  private[graft] def simhashDocsSqlOver(rel: String,
                                        textExpr: String): String = {
    def fold(base: Int) =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(regexp_extract_all(t.tk, '(?s).'), " +
        s"c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    val bits = (0 until 64).map { b =>
      val (h, off) =
        if (b < 30) ("h1", b) else if (b < 60) ("h2", b - 30) else ("h3", b - 60)
      s"CASE WHEN SUM((($h // ${1L << off}) % 2) * 2 - 1) > 0 " +
        s"THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""tok AS (
       |  SELECT d.doc_id, ${fold(31)} AS h1, ${fold(131)} AS h2, ${fold(257)} AS h3
       |  FROM $rel d,
       |    LATERAL UNNEST(string_split_regex(trim($textExpr), '\\s+')) t(tk)),
       |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |       FROM tok GROUP BY doc_id)""".stripMargin
  }

  private[graft] val SimhashDocsSql: String =
    simhashDocsSqlOver("documents", "d.text")

  /** The simhash hamming<=3 connected-component closure as a CTE block
    * (`banded`, `pairs`, `bidir`, `reach`, `comp`) over a preceding
    * `sh(doc_id, simhash)` CTE — the d7/d10 oracle machinery, shared
    * so the corpus-release oracle can never drift from the dedup rows'
    * definition of a cluster. Callers must open WITH RECURSIVE.
    */
  private[graft] val SimhashClosureSql: String =
    """banded AS (
      |  SELECT doc_id, simhash, g.k,
      |    (simhash >> (16 * g.k)) & 65535 AS band
      |  FROM sh, (SELECT UNNEST([0, 1, 2, 3]) AS k) g),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      |  FROM banded a JOIN banded b
      |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      |bidir AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
      |reach(v, u) AS (
      |  SELECT a AS v, a AS u FROM bidir
      |  UNION
      |  SELECT r.v, e.b AS u FROM reach r JOIN bidir e ON r.u = e.a),
      |comp AS (SELECT v, MIN(u) AS cluster FROM reach GROUP BY v)""".stripMargin

  /** The full d2 pipeline over any (doc_id, text) frame — LSH candidate
    * generation then exact digest-set Jaccard verification, pairs
    * >= 0.5. Extracted so the catches-planted-near-dups property is
    * provable on an in-code fixture (DedupSpec) instead of assuming the
    * testdata corpus contains near-dups.
    *
    * Plan notes: ONE hashed-shingle scan feeds both passes
    * (MEMORY_AND_DISK persist of 16-byte rows; each cache is populated
    * by a single job before the plan fans out, else concurrent
    * consumers race to compute the same partitions). The candidate-doc
    * semi-join carries NO broadcast hint — at web-corpus near-dup rates
    * (30-50%) that set is O(corpus) and a forced broadcast OOMs; AQE
    * still broadcasts when it is genuinely small. Verified pairs are
    * materialized to DURABLE parquet (cuts lineage like a checkpoint,
    * but releasable, executor-loss-safe, dynamic-allocation-compatible)
    * so both caches unpersist before the frame is returned; at 100 TB
    * the pair set belongs in the warehouse, never in executor block
    * storage and never on the driver.
    */
  private[graft] def ngramJaccardPairs(s: SparkSession,
                                       docs: DataFrame): DataFrame = {
    val shRaw = hashedShingles(docs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    shRaw.count(): Unit
    val cand = lshCandidates(shRaw)
      .select("doc_a", "doc_b").cache()
    cand.count(): Unit
    val out = jaccardVerify(s, shRaw, cand)
    shRaw.unpersist(blocking = true)
    cand.unpersist(blocking = true)
    out
  }

  /** Per-corpus memoized hashed shingles (shared by d2 and d3). */
  private[graft] def corpusShingles(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"shingles:$d", "shingles",
      hashedShingles(Graft.table(s, d, "documents")))

  /** The hashed-shingle index, read by d2, d2b and d3. */
  val Shingles: Artifact = Artifact("shingle_index_build",
    (s, d) => corpusShingles(s, d): Unit)

  /** Per-corpus memoized LSH candidate pairs (shared by d2 and d3). */
  private def corpusCandidates(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"lsh_cand:$d", "lsh_cand",
      lshCandidates(corpusShingles(s, d)))

  /** The exact-verification tail of the d2 pipeline over already
    * durable/cached shingle and candidate frames.
    */
  private def jaccardVerify(s: SparkSession, shRaw: DataFrame,
                            cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // Candidate docs' distinct digests, with the per-doc set size
    // computed IN the same doc_id-partitioned pass as a window (one
    // exchange) and materialized once — carrying `n` on the shingle
    // rows removes the separate sizes aggregate and the two sizes
    // joins the verification used to pay after the intersection count.
    val sh = Scratch.materialize(s, "d2_cand_shingles",
      shRaw.join(candDocs, Seq("doc_id"), "left_semi")
        .distinct()
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id"))))
    val aSh = sh.select(col("doc_id").as("doc_a"), col("h").as("h_a"),
      col("n").as("na"))
    val bSh = sh.select(col("doc_id").as("doc_b2"), col("h").as("h_b"),
      col("n").as("nb"))
    val result = cand.join(aSh, Seq("doc_a"))
      .join(bSh, col("doc_b") === col("doc_b2") && col("h_a") === col("h_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
    // unique per invocation: two calls in one session (e.g. the real
    // corpus and a spec fixture) must not clobber each other's output
    // while a returned frame is still being consumed
    val pairsDir = Scratch.fresh(s, "d2_verified_pairs")
    result.write.mode("overwrite").parquet(pairsDir)
    Parquet.read(s, pairsDir)
  }

  /** Exact left-fold dot product of two float-array columns (index
    * order, 0.0 init — mirrors DuckDB list_reduce over list_zip).
    */
  private def dot(a: String, b: String) = expr(s"graft_dot($a, $b)")

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"

  def all: Seq[Q] = Seq(

    Q("d1_exact_dedup",
      "Exact dedup — md5 hash-groupBy, duplicate counts per source " +
        "(the 100 TB baseline: one shuffle on the digest)",
      (s, d) => t(s, d, "documents")
        .withColumn("fp", md5(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .withColumn("n_dup_docs", col("n_docs") - col("n_unique"))
        .orderBy("source"),
      Some(
        """SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT md5(text)) AS n_unique,
          |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
          |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)),

    Q("d2_ngram_jaccard",
      "n-gram Jaccard dedup, full pipeline — MinHash+LSH candidate " +
        "generation (sub-quadratic) then EXACT word-3-gram Jaccard " +
        "verification on candidates only, keeping pairs >= 0.5. This is " +
        "the 100 TB shape: never all-pairs; the quadratic step touches " +
        "only band-collision candidates, and every shuffle moves 8-byte " +
        "shingle digests, not shingle strings. Catches the corpus's " +
        "planted cross-lang/cross-source near-duplicates.",
      (s, d) => jaccardVerify(s, corpusShingles(s, d),
        corpusCandidates(s, d).select("doc_a", "doc_b")),
      Some(
        s"""WITH hs AS ($HashedShinglesSql),
           |cand AS (${LshCandidatesSql("hs")}),
           |cand_docs AS (SELECT doc_a AS doc_id FROM cand
           |              UNION SELECT doc_b FROM cand),
           |sh AS (SELECT DISTINCT doc_id, h FROM hs
           |       WHERE doc_id IN (SELECT doc_id FROM cand_docs)),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
           |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
           |              JOIN sh b ON b.doc_id = c.doc_b AND a.h = b.h
           |  GROUP BY 1, 2)
           |SELECT i.doc_a, i.doc_b,
           |  CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard
           |FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
           |             JOIN sizes sb ON i.doc_b = sb.doc_id
           |WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin),
      artifacts = Seq(Shingles)),

    Q("d2b_minhash_jaccard_diff",
      "MinHash-estimated vs exact Jaccard DIFFERENTIAL over the LSH " +
        "candidate pairs — the ApproxDiff convention at its " +
        "strongest: because the MinHash estimate (matching signature " +
        "components / 16) is pure integer arithmetic both engines " +
        "replicate, the estimate, the exact Jaccard, AND the " +
        "3-sigma-envelope boolean are all hash-checked, not just a " +
        "TRUE flag (contrast g12b/x2b, whose sketches are engine-" +
        "specific). No >= 0.5 cut: sub-threshold candidates are kept " +
        "because the estimator's behavior there is exactly what the " +
        "banding parameters are tuned on. The envelope is the " +
        "idealized binomial bound 3*sqrt(0.25/16) = 0.375 at 16 " +
        "INDEPENDENT hashes — and the flag is allowed to be false: " +
        "the 16 minhashes are derived from one base digest by affine " +
        "maps (the cheap family the pipeline actually ships), so " +
        "band-collision false positives overestimate beyond the " +
        "envelope (4 of 32 candidates at sf0.01), which is precisely " +
        "the quality/cost trade this differential makes visible. At " +
        "100 TB: signatures come from the same one map-combinable " +
        "groupBy the candidate generation already pays, candidate " +
        "pairs are the LSH output (never all-pairs), and the exact " +
        "arm touches candidate docs only.",
      (s, d) => {
        val sh = corpusShingles(s, d)
        val shD = sh.distinct()
        val sizes = shD.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val cand = corpusCandidates(s, d).select("doc_a", "doc_b")
        val inter = cand
          .join(shD.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
          .join(shD.select(col("doc_id").as("doc_b"), col("h")),
            Seq("doc_b", "h"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
        val minhashes = (0 until 16).map(i =>
          min((col("h") * (2 * i + 1) + (31 * i + 7)) % P).as(s"h$i"))
        val mh = sh.groupBy(col("doc_id")).agg(minhashes.head, minhashes.tail: _*)
        val mhA = mh.select(col("doc_id").as("doc_a") +:
          (0 until 16).map(i => col(s"h$i").as(s"a$i")): _*)
        val mhB = mh.select(col("doc_id").as("doc_b") +:
          (0 until 16).map(i => col(s"h$i").as(s"b$i")): _*)
        val nMatch = (0 until 16).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
        cand.join(inter, Seq("doc_a", "doc_b"), "left")
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
            Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            Seq("doc_b"))
          .join(mhA, Seq("doc_a")).join(mhB, Seq("doc_b"))
          .withColumn("i", coalesce(col("i"), lit(0L)))
          .withColumn("jaccard",
            col("i").cast("double") / (col("na") + col("nb") - col("i")))
          .withColumn("n_match", nMatch)
          .withColumn("est_jaccard", col("n_match").cast("double") / 16.0)
          .select(col("doc_a"), col("doc_b"), col("n_match"),
            col("jaccard"), col("est_jaccard"),
            ApproxDiff.okAbsCol(col("jaccard"), col("est_jaccard"), 0.375)
              .as("within_3sigma"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val matches = (0 until 16)
          .map(i => s"(CASE WHEN ma.h$i = mb.h$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val mins = (0 until 16)
          .map(i => s"MIN((h * ${2 * i + 1} + ${31 * i + 7}) % $P) AS h$i")
          .mkString(", ")
        s"""WITH hs AS ($HashedShinglesSql),
           |cand AS (SELECT doc_a, doc_b FROM (${LshCandidatesSql("hs")}) c),
           |shd AS (SELECT DISTINCT doc_id, h FROM hs),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
           |  FROM cand c JOIN shd a ON a.doc_id = c.doc_a
           |              JOIN shd b ON b.doc_id = c.doc_b AND a.h = b.h
           |  GROUP BY 1, 2),
           |mh AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)
           |SELECT c.doc_a, c.doc_b,
           |  CAST($matches AS BIGINT) AS n_match,
           |  CAST(COALESCE(i.i, 0) AS DOUBLE)
           |    / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard,
           |  CAST($matches AS DOUBLE) / 16.0 AS est_jaccard,
           |  abs(CAST($matches AS DOUBLE) / 16.0
           |    - CAST(COALESCE(i.i, 0) AS DOUBLE)
           |      / (sa.n + sb.n - COALESCE(i.i, 0))) <= 0.375
           |    AS within_3sigma
           |FROM cand c
           |LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
           |JOIN sizes sa ON c.doc_a = sa.doc_id
           |JOIN sizes sb ON c.doc_b = sb.doc_id
           |JOIN mh ma ON c.doc_a = ma.doc_id
           |JOIN mh mb ON c.doc_b = mb.doc_id
           |ORDER BY c.doc_a, c.doc_b""".stripMargin
      },
      artifacts = Seq(Shingles)),

    Q("d3_minhash_lsh",
      "MinHash+LSH near-dup candidates — one compiled digest per " +
        "shingle, 16 derived minhashes per doc (one map-combinable " +
        "groupBy), 4 bands x 4 rows, candidate pairs from " +
        "band-signature collisions (the scale path: shuffles on " +
        "(band, signature), never all-pairs)",
      (s, d) => corpusCandidates(s, d).orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH hs AS ($HashedShinglesSql)
           |SELECT * FROM (${LshCandidatesSql("hs")}) c
           |ORDER BY doc_a, doc_b""".stripMargin),
      artifacts = Seq(Shingles)),

    Q("d4_simhash",
      "SimHash near-dup — 64-bit simhash from compiled poly-hash token " +
        "digests (majority vote per bit), all pairs at hamming 0 via an " +
        "equi-join on the signature. 64 bits keep buckets sparse at " +
        "corpus scale (a 16-bit signature has only 65k values and " +
        "degenerates quadratic); hamming<=k is d4b via banding.",
      (s, d) => {
        // The per-doc signature table (2 longs per doc) is built ONCE
        // per corpus and shared by d4/d4b/d7 via the keyed memo — the
        // warehouse pattern for a signature index at scale (never
        // overwritten, so frames returned earlier keep reading valid
        // parquet; the key embeds the input dir).
        val sh = simhashSigs(s, d)
        val a = sh.select(col("doc_id").as("doc_a"), col("simhash"))
        val b2 = sh.select(col("doc_id").as("doc_b"),
          col("simhash").as("sim_b"))
        a.join(b2, col("simhash") === col("sim_b") &&
            col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("simhash"))
          .orderBy("doc_a", "doc_b")
      },
      Some(
        s"""WITH $SimhashDocsSql
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
           |FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("d4b_simhash_near",
      "SimHash hamming<=3 near-dup — the 64-bit signature split into " +
        "4 x 16-bit bands; <=3 differing bits corrupt at most 3 bands, " +
        "so every hamming<=3 pair collides on at least one band " +
        "(pigeonhole). Candidates come from the band equi-join (one " +
        "shuffle on (band_index, band), never all-pairs), then the exact " +
        "hamming distance bit_count(a XOR b) filters to <=3.",
      (s, d) => simhashNearPairs(s, d).orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH $SimhashDocsSql,
           |banded AS (
           |  SELECT doc_id, simhash, g.k,
           |    (simhash >> (16 * g.k)) & 65535 AS band
           |  FROM sh, (SELECT UNNEST([0, 1, 2, 3]) AS k) g)
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM banded a JOIN banded b
           |  ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("d6_winnowing_decontam",
      "Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the " +
        "MOSS scheme) — per doc: char-8-gram rolling hashes, then the " +
        "minimum of each 4-hash window, distinct minima as the doc's " +
        "fingerprint set. Guarantees any shared substring of length " +
        ">= 11 chars produces a shared fingerprint — the " +
        "decontamination primitive (find training docs overlapping an " +
        "eval set). Fingerprints present in > 10 docs are dropped first " +
        "(the standard winnowing practice for boilerplate, and the " +
        "thing that bounds the pair join: a corpus-wide hot fingerprint " +
        "would otherwise fan out quadratically). Candidate pairs = " +
        "docs sharing >= 3 surviving fingerprints, via one shuffle on " +
        "the fingerprint value — never all-pairs.",
      (s, d) => {
        val pruned = corpusWinnowPruned(s, d)
        val a = pruned.select(col("doc_id").as("doc_a"), col("fp"))
        val b = pruned.select(col("doc_id").as("doc_b"), col("fp"))
        a.join(b, Seq("fp"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy("doc_a", "doc_b")
      },
      Some(
        s"""WITH $WinnowPrunedSql
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  COUNT(*) AS n_shared
           |FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING COUNT(*) >= 3
           |ORDER BY doc_a, doc_b""".stripMargin),
      artifacts = Seq(WinnowFps)),

    Q("d8_split_decontam",
      "Train-vs-eval split decontamination — the composition the two " +
        "primitives exist for: t5's deterministic hash split assigns " +
        "every doc to train/val/test, d6's winnowing fingerprints find " +
        "shared >= 11-char substrings, and the report lists, per eval " +
        "split, how many of its docs share >= 3 surviving fingerprints " +
        "with some training doc (i.e. eval content leaked into " +
        "training). One fingerprint shuffle, train×eval join only — " +
        "never all-pairs, and at 100 TB the eval side is tiny so the " +
        "join broadcasts.",
      (s, d) => {
        val tagged = corpusWinnowPruned(s, d).join(
          t(s, d, "documents")
            .select(col("doc_id"), Splits.splitCol.as("split")),
          Seq("doc_id"))
        val a = tagged.filter(col("split") === "train")
          .select(col("doc_id").as("doc_a"), col("fp"))
        val b = tagged.filter(col("split") =!= "train")
          .select(col("doc_id").as("doc_b"), col("split"), col("fp"))
        val pairs = a.join(b, Seq("fp"))
          .groupBy(col("doc_a"), col("doc_b"), col("split"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
        pairs.groupBy(col("split"))
          .agg(countDistinct(col("doc_b")).as("n_contaminated_eval_docs"),
            countDistinct(col("doc_a")).as("n_contaminating_train_docs"),
            count(lit(1)).as("n_pairs"))
          .orderBy("split")
      },
      Some {
        s"""WITH $WinnowPrunedSql, ${Splits.SpCteSql},
           |tagged AS (
           |  SELECT p.doc_id, p.fp, s.split
           |  FROM pruned p JOIN sp s USING (doc_id)),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.split AS split,
           |    COUNT(*) AS n_shared
           |  FROM tagged a JOIN tagged b ON a.fp = b.fp
           |  WHERE a.split = 'train' AND b.split != 'train'
           |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3)
           |SELECT split,
           |  COUNT(DISTINCT doc_b) AS n_contaminated_eval_docs,
           |  COUNT(DISTINCT doc_a) AS n_contaminating_train_docs,
           |  COUNT(*) AS n_pairs
           |FROM pairs GROUP BY 1 ORDER BY split""".stripMargin
      },
      artifacts = Seq(WinnowFps)),

    Q("d5_embedding_neardup",
      "Embedding-cosine near-dup — pairs blocked by the deterministic " +
        "random-hyperplane LSH bucket with the HOT-BUCKET GUARD (the " +
        "honest scale design: the quadratic scan runs within buckets " +
        "only, and a bucket over the cap switches to the projection-" +
        "ordered neighbor-window scan so a dominant near-dup cluster " +
        "cannot go quadratic), exact left-fold dot products " +
        "bit-identical to the oracle, cosine >= 0.35",
      (s, d) => embeddingNearPairs(s, d)
        .select(col("vec_a"), col("vec_b"), col("bucket"), col("cosine"))
        .orderBy("vec_a", "vec_b"),
      Some(
        s"""WITH ${guardedPairsSql(HotBucketCap, NeighborWindow)}
           |SELECT vec_a, vec_b, bucket, cosine FROM pairs
           |ORDER BY vec_a, vec_b""".stripMargin)),

    Q("d9_embedding_clusters",
      "Embedding near-dup cluster formation — the d5 cosine pair graph " +
        "collapsed to connected components (same distributed min-label " +
        "loop as d7, proving the helper is edge-source-agnostic): " +
        "a~b and b~c merge even when cos(a,c) misses the threshold, " +
        "each cluster keyed by its surviving minimum vec_id. The batch " +
        "keep-list for semantic dedup at 100 TB: bucketed candidate " +
        "generation, warehouse-iterated components, one row per " +
        "cluster out.",
      (s, d) => {
        val edges = embeddingNearPairs(s, d)
          .select(col("vec_a").as("a"), col("vec_b").as("b"))
        connectedComponents(s, edges)
          .groupBy(col("l"))
          .agg(count(lit(1)).as("n_vecs"), max(col("v")).as("vec_max"))
          .select(col("l").as("cluster"), col("n_vecs"), col("vec_max"))
          .orderBy("cluster")
      },
      Some(
        s"""WITH RECURSIVE ${guardedPairsSql(HotBucketCap, NeighborWindow)},
           |bidir AS (SELECT vec_a AS a, vec_b AS b FROM pairs
           |  UNION ALL SELECT vec_b, vec_a FROM pairs),
           |reach(v, u) AS (
           |  SELECT a AS v, a AS u FROM bidir
           |  UNION
           |  SELECT r.v, e2.b AS u FROM reach r JOIN bidir e2 ON r.u = e2.a),
           |comp AS (SELECT v, MIN(u) AS cluster FROM reach GROUP BY v)
           |SELECT cluster, COUNT(*) AS n_vecs, CAST(MAX(v) AS BIGINT) AS vec_max
           |FROM comp GROUP BY 1 ORDER BY cluster""".stripMargin)),

    Q("d11_semantic_dedup",
      "SemDeDup (Abbas et al. 2023) — semantic dedup with CLUSTER-" +
        "scoped pairwise search: every vector is assigned to its " +
        "nearest codebook centroid (exact index-order fold distance, " +
        "argmin ties to the lower cid — the a4 assignment), and the " +
        "quadratic cosine scan runs WITHIN each cluster only; a vector " +
        "is dropped when a lower-id cluster-mate scores >= 0.35. " +
        "Complements d5: the same keep-rule under learned-centroid " +
        "blocking instead of random hyperplanes — the paper's argument " +
        "is that k-means cells track semantic structure, so near-dups " +
        "co-locate. Emits per-cluster population, drop count, and the " +
        "dropped-id sum witness. At 100 TB: k grows with the corpus so " +
        "cluster size stays bounded (the SemDeDup cost model), " +
        "centroids broadcast, ONE cid shuffle carries the corpus, and " +
        "the pair scan is cluster-local — never global all-pairs.",
      (s, d) => semDedupStats(firstKAssign(s, d, 8)),
      Some {
        s"""WITH $FirstKAsgSql,
           |drops AS (
           |  SELECT DISTINCT y.cid, y.vec_id
           |  FROM asg x JOIN asg y
           |    ON x.cid = y.cid AND x.vec_id < y.vec_id
           |  WHERE list_reduce(list_prepend(0.0::DOUBLE,
           |      list_transform(list_zip(x.v, y.v), p -> p[1] * p[2])),
           |      (acc, p) -> acc + p) / (x.norm * y.norm) >= 0.35),
           |ds AS (SELECT cid, COUNT(*) AS nd, SUM(vec_id) AS dsum
           |  FROM drops GROUP BY 1)
           |SELECT s.cid, s.n_vecs,
           |  CAST(COALESCE(ds.nd, 0) AS BIGINT) AS n_dropped,
           |  CAST(COALESCE(ds.dsum, 0) AS BIGINT) AS dropped_id_sum
           |FROM (SELECT cid, COUNT(*) AS n_vecs FROM asg GROUP BY 1) s
           |LEFT JOIN ds USING (cid) ORDER BY cid""".stripMargin
      }),

    Q("d11b_semantic_dedup_trained",
      "SemDeDup with a TRAINED codebook — d11's cluster-scoped drop " +
        "scan, but the cells come from the a4b Lloyd loop (two exact " +
        "sorted-fold mean updates from the first-k init) instead of " +
        "raw first-k vectors: the paper's actual design, where k-means " +
        "cells track semantic structure so near-dups co-locate. Every " +
        "determinism anchor is the shared Lloyd helper's (index-order " +
        "fold distances, argmin ties to the lower cid, sorted-fold " +
        "means), composed with the shared SemDeDup tail — so the " +
        "trained pipeline stays bit-identical to the DuckDB oracle " +
        "end-to-end. k is a parameter of the underlying implementation " +
        "(k ∝ corpus size at a target cell population — MixtureSpec " +
        "doubles the corpus at doubled k and checks the quadratic " +
        "scan cost stays bounded); the registered row pins k=8, " +
        "iters=2 to match a4b's trajectory. At 100 TB: centroids " +
        "broadcast each round, ONE cid shuffle carries the corpus, " +
        "the pair scan is cell-local.",
      (s, d) => semanticDedupTrained(s, d, 8, 2),
      Some {
        import SimilarityQueries.Lloyd
        val normSql = "sqrt(list_reduce(list_prepend(0.0::DOUBLE, " +
          "list_transform(a3.v, x -> x * x)), (acc, x) -> acc + x))"
        s"""WITH ${Lloyd.baseSql(8)},
           |a1 AS (${Lloyd.asgSql("c1")}),
           |c2 AS (${Lloyd.meansSql("a1")}),
           |a2 AS (${Lloyd.asgSql("c2")}),
           |c3 AS (${Lloyd.meansSql("a2")}),
           |a3 AS (${Lloyd.asgSql("c3")}),
           |asg AS (
           |  SELECT a3.vec_id, a3.cid, a3.v, $normSql AS norm FROM a3),
           |drops AS (
           |  SELECT DISTINCT y.cid, y.vec_id
           |  FROM asg x JOIN asg y
           |    ON x.cid = y.cid AND x.vec_id < y.vec_id
           |  WHERE list_reduce(list_prepend(0.0::DOUBLE,
           |      list_transform(list_zip(x.v, y.v), p -> p[1] * p[2])),
           |      (acc, p) -> acc + p) / (x.norm * y.norm) >= 0.35),
           |ds AS (SELECT cid, COUNT(*) AS nd, SUM(vec_id) AS dsum
           |  FROM drops GROUP BY 1)
           |SELECT s.cid, s.n_vecs,
           |  CAST(COALESCE(ds.nd, 0) AS BIGINT) AS n_dropped,
           |  CAST(COALESCE(ds.dsum, 0) AS BIGINT) AS dropped_id_sum
           |FROM (SELECT cid, COUNT(*) AS n_vecs FROM asg GROUP BY 1) s
           |LEFT JOIN ds USING (cid) ORDER BY cid""".stripMargin
      }),

    Q("d13_source_overlap",
      "Inter-source contamination matrix — the provider-level view of " +
        "d6: for every ordered pair of sources, how many cross-source " +
        "doc pairs share >= 3 surviving winnowing fingerprints, how " +
        "many distinct docs on each side are implicated, and the total " +
        "shared-fingerprint mass. This is the report a data-acquisition " +
        "team reads before paying twice for the same crawl: which " +
        "feeds overlap, and how hard. Reuses the per-corpus memoized " +
        "pruned fingerprint index (built once, shared with d6/d8), so " +
        "the marginal cost is one fingerprint-keyed shuffle; the " +
        "source tag rides the fingerprint rows (a broadcast-sized " +
        "doc->source join at any scale where sources are catalogued). " +
        "Never all-pairs: pairs exist only where a fingerprint " +
        "collides, and corpus-wide hot fingerprints are already " +
        "pruned by the shared index.",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        val tagged = corpusWinnowPruned(s, d).join(docs, Seq("doc_id"))
        val a = tagged.select(col("source").as("source_a"),
          col("doc_id").as("doc_a"), col("fp"))
        val b = tagged.select(col("source").as("source_b"),
          col("doc_id").as("doc_b"), col("fp"))
        val docPairs = a.join(b, Seq("fp"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"),
            col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
        docPairs.groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_doc_pairs"),
            countDistinct(col("doc_a")).as("n_docs_a"),
            countDistinct(col("doc_b")).as("n_docs_b"),
            sum(col("n_shared")).as("shared_fp_mass"))
          .orderBy("source_a", "source_b")
      },
      Some(
        s"""WITH $WinnowPrunedSql,
           |tagged AS (
           |  SELECT p.doc_id, p.fp, s.source
           |  FROM pruned p JOIN (SELECT doc_id, source FROM documents) s
           |    USING (doc_id)),
           |dp AS (
           |  SELECT a.source AS source_a, b.source AS source_b,
           |    a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
           |  FROM tagged a JOIN tagged b
           |    ON a.fp = b.fp AND a.source < b.source
           |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 3)
           |SELECT source_a, source_b, COUNT(*) AS n_doc_pairs,
           |  COUNT(DISTINCT doc_a) AS n_docs_a,
           |  COUNT(DISTINCT doc_b) AS n_docs_b,
           |  CAST(SUM(n_shared) AS BIGINT) AS shared_fp_mass
           |FROM dp GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),
      artifacts = Seq(WinnowFps)),

    Q("d11c_semantic_cluster_stats",
      "SemDeDup cell-population report — the OBSERVABLE form of the " +
        "'skewed cluster ⇒ re-train with larger k' signal the d11 " +
        "scale argument rides on: one row of population stats over " +
        "the same first-k assignment (shared helper — membership can " +
        "never disagree with d11). max_pop is the direct mega-cluster " +
        "alarm; p99_pop is index-based (the ceil(0.99·n)-th smallest " +
        "population — no engine-specific percentile interpolation); " +
        "n_over_2x_avg counts cells holding more than twice the mean " +
        "population, in exact integer arithmetic (pop·n_clusters > " +
        "2·n_vecs). At 100 TB: pops is one map-side-combinable count " +
        "per cell (k rows total), the ranking window runs over k rows " +
        "— centroid-bounded, never corpus-bounded.",
      (s, d) => {
        val pops = firstKAssign(s, d, 8).groupBy(col("cid"))
          .agg(count(lit(1)).as("pop"))
        val tot = pops.agg(count(lit(1)).as("n_clusters"),
          sum(col("pop")).as("n_vecs"), max(col("pop")).as("max_pop"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("pop"), col("cid"))
        val ranked = pops.withColumn("rn", row_number().over(w))
          .crossJoin(broadcast(tot))
        val p99 = ranked
          .filter(col("rn") ===
            ceil(lit(0.99) * col("n_clusters")).cast("long"))
          .select(col("pop").as("p99_pop"))
        val over = ranked
          .filter(col("pop") * col("n_clusters") > lit(2L) * col("n_vecs"))
          .agg(count(lit(1)).as("n_over_2x_avg"))
        tot.crossJoin(broadcast(p99)).crossJoin(broadcast(over))
          .select(lit(8L).as("k"), col("n_clusters"), col("n_vecs"),
            col("max_pop"), col("p99_pop"), col("n_over_2x_avg"))
      },
      Some(
        s"""WITH $FirstKAsgSql,
           |pops AS (SELECT cid, COUNT(*) AS pop FROM asg GROUP BY 1),
           |tot AS (SELECT COUNT(*) AS n_clusters,
           |    CAST(SUM(pop) AS BIGINT) AS n_vecs,
           |    MAX(pop) AS max_pop FROM pops),
           |ranked AS (SELECT pop, cid,
           |    ROW_NUMBER() OVER (ORDER BY pop, cid) AS rn FROM pops),
           |p99 AS (SELECT pop AS p99_pop FROM ranked, tot
           |  WHERE rn = CAST(CEIL(0.99 * n_clusters) AS BIGINT)),
           |ov AS (SELECT COUNT(*) AS n_over_2x_avg FROM pops, tot
           |  WHERE pop * n_clusters > 2 * n_vecs)
           |SELECT CAST(8 AS BIGINT) AS k, n_clusters, n_vecs, max_pop,
           |  p99_pop, n_over_2x_avg
           |FROM tot, p99, ov""".stripMargin)),

    Q("d12_exact_substring",
      "Exact substring dedup (Lee et al. 2022, ExactSubstr) — finds " +
        "every position whose 24-char window recurs ANYWHERE in the " +
        "corpus (within or across docs) and reports, per affected doc, " +
        "the merged-interval char mass an ExactSubstr pass would " +
        "delete. The paper's suffix array is a single-machine " +
        "structure; the shuffle-native equivalent is digest grouping: " +
        "every window's rolling hash (compiled graft_kgram_hashes, one " +
        "O(len) pass per doc) is counted corpus-wide, positions whose " +
        "digest recurs re-derive their literal gram (a join back to " +
        "the docs of candidate positions ONLY), and the final dup set " +
        "is grouped by the literal gram — so hash collisions can only " +
        "add candidates, never false dups. Overlapping dup windows " +
        "merge via a per-doc LEAD interval union (contribution = " +
        "min(next_pos - pos, L)), all in exact integer arithmetic. " +
        "At 100 TB: the position table is O(corpus chars) rows but " +
        "carries only (doc_id, pos, 8-byte digest) — strings never " +
        "ride the first shuffle; each recurrence filter moves the " +
        "table ONCE (count-over-window — measured in r19 against the " +
        "groupBy+semi-join form, which pays ~2x the persisted shuffle " +
        "on near-unique digests and either re-sorts or OOMs on the " +
        "join); doc text joins the candidate set ONCE PER DOC (grams " +
        "derived in-doc from a collected position list — the r19 fix " +
        "for the measured 30.6x-per-10x stage: the per-position join " +
        "form copied the full text into every candidate output row, " +
        "O(candidates x doc_len) write mass); the per-doc window " +
        "partitions on doc_id. No suffix array, no all-pairs, no " +
        "driver state.",
      (s, d) => {
        val L = 24
        val docs = t(s, d, "documents")
          .filter(length(col("text")) >= L)
          .select(col("doc_id"), col("text"))
        // n_windows = len - L + 1 by construction: pure arithmetic on
        // the doc scan, not a third full pass over the O(corpus chars)
        // exploded position table
        val nWin = docs.select(col("doc_id"),
          (length(col("text")) - L + 1).cast("long").as("n_windows"))
        // Recurrence filters as COUNT-over-window, one single-pass
        // shuffle each — an r19 decision MEASURED against the
        // groupBy.count + semi-join alternative at the sixth decade:
        // the count aggregate's partial output is ~input-sized on
        // near-unique digests (+17 GB persisted shuffle), the probe
        // re-shuffles the O(corpus chars) table a second time
        // (+21 GB), and a forced shuffle-hash semi-join OOMs the
        // shared local[32] heap (32 concurrent ~200 MB key-distinct
        // builds) while sort-merge re-pays the window's sort. The
        // window moves the table ONCE per key, its per-GROUP buffer
        // is the digest run (tiny at real dup rates, spill-backed at
        // census replication rates), and the r19 stage census read
        // the gram window at 5.6x per 10x — the windows were never
        // the super-linear term (the candidate re-join was, 30.6x —
        // fixed below).
        val pos = docs.select(col("doc_id"),
          posexplode(expr(s"graft_kgram_hashes(text, $L)"))
            .as(Seq("pos", "h")))
        val wH = org.apache.spark.sql.expressions.Window
          .partitionBy(col("h"))
        // The explicit doc_id repartition UNFUSES the window stage
        // from the collect_list aggregate below (r19, measured): left
        // fused, the list aggregate's PARTIAL side runs over
        // h-partitioned rows, so every task accumulates partial
        // position lists for ~every doc at once — 32 concurrent
        // box-heavy maps that GC-thrashed the shared 8 g local[32]
        // heap to death at the sixth decade. Partitioned by doc_id,
        // the groupBy plans as ONE post-shuffle aggregate whose
        // sort-based fallback holds a single doc's list at a time.
        val candPos = pos.withColumn("nh", count(lit(1)).over(wH))
          .filter(col("nh") >= 2)
          .select(col("doc_id"), col("pos"))
          .repartition(col("doc_id"))
        // Literal-gram re-derive with text shipped ONCE PER DOC (r19
        // — the fix for the measured 30.6x-per-10x stage): candidate
        // positions collapse to one row per doc (a position list
        // bounded by the doc's own length), join the text at doc
        // granularity, and slice every gram in a single transform()
        // pass. The per-candidate-POSITION join it replaces copied
        // the full doc text into every output row — O(candidates x
        // doc_len) write mass that grows super-linearly as the
        // corpus's duplicate fraction rises.
        val cand = candPos.groupBy(col("doc_id"))
          .agg(collect_list(col("pos")).as("ps"))
          .join(docs, Seq("doc_id"))
          .select(col("doc_id"), explode(expr(
            s"transform(ps, p -> named_struct(" +
              s"'pos', p, 'gram', substring(text, p + 1, $L)))"))
            .as("pg"))
          .select(col("doc_id"), col("pg.pos").as("pos"),
            col("pg.gram").as("gram"))
        // Gram confirm (equal grams imply equal digests, so
        // candidate-local counts equal corpus-wide counts).
        val wG = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gram"))
        val dpos = cand.withColumn("ng", count(lit(1)).over(wG))
          .filter(col("ng") >= 2)
          .select(col("doc_id"), col("pos"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        dpos.withColumn("nxt", lead(col("pos"), 1).over(w))
          .withColumn("cov",
            least(coalesce(col("nxt") - col("pos"), lit(L)), lit(L)))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_dup_windows"),
            sum(col("cov")).cast("long").as("dup_chars"))
          .join(nWin, Seq("doc_id"))
          .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
            col("dup_chars"))
          .orderBy("doc_id")
      },
      Some(
        """WITH docs AS (
          |  SELECT doc_id, text FROM documents WHERE length(text) >= 24),
          |pos AS (
          |  SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos,
          |    substr(text, CAST(u.i AS INTEGER), 24) AS gram
          |  FROM docs,
          |    LATERAL UNNEST(range(1, length(text) - 24 + 2)) u(i)),
          |nwin AS (SELECT doc_id, COUNT(*) AS n_windows FROM pos GROUP BY 1),
          |dupg AS (SELECT gram FROM pos GROUP BY gram HAVING COUNT(*) >= 2),
          |dpos AS (SELECT doc_id, pos FROM pos JOIN dupg USING (gram)),
          |iv AS (
          |  SELECT doc_id, pos,
          |    LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          |  FROM dpos)
          |SELECT iv.doc_id, nwin.n_windows,
          |  COUNT(*) AS n_dup_windows,
          |  CAST(SUM(LEAST(COALESCE(nxt - pos, 24), 24)) AS BIGINT)
          |    AS dup_chars
          |FROM iv JOIN nwin ON iv.doc_id = nwin.doc_id
          |GROUP BY 1, 2 ORDER BY iv.doc_id""".stripMargin)),

    Q("d14_eval_ngram_overlap",
      "GPT-3-style eval-set decontamination (Brown et al. 2020, " +
        "Appendix C) — the token-level EXACT-match complement to d8's " +
        "winnowing (character-fingerprint) decontamination: an eval " +
        "doc is dirty iff it shares at least one whitespace-token " +
        "13-gram verbatim with any training doc. Splits are t5's " +
        "deterministic hash split. The engine never joins on gram " +
        "strings corpus-wide: each doc's 13-grams are materialized " +
        "ONCE (one explode pass feeds all four consumers), the first " +
        "shuffles carry only 8-byte graft_strhash digests (distinct " +
        "train-side x distinct eval-side digest join -> the tiny " +
        "colliding-digest set), and literal grams are re-read and " +
        "compared only for positions whose digest collides — so hash " +
        "collisions can only add candidates, never false dups (the " +
        "d12 confirmation discipline). Per eval split: doc census, " +
        "dirty docs, distinct leaked grams. At 100 TB the eval side " +
        "is tiny, so its digest set broadcasts into the train scan " +
        "and the confirm join touches O(leaked content) rows only.",
      (s, d) => {
        val census = taggedSplits(s, d).filter(col("split") =!= "train")
          .groupBy(col("split")).agg(count(lit(1)).as("n_eval_docs"))
        val dirty = evalNgramHits(s, d).groupBy(col("split"))
          .agg(countDistinct(col("doc_id")).as("dd"),
            countDistinct(col("gram")).as("dg"))
        census.join(dirty, Seq("split"), "left")
          .select(col("split"), col("n_eval_docs"),
            coalesce(col("dd"), lit(0L)).as("n_dirty_docs"),
            coalesce(col("dg"), lit(0L)).as("n_dirty_grams"))
          .orderBy("split")
      },
      Some(
        s"""WITH $EvalNgramHitsSql
           |SELECT s.split, COUNT(DISTINCT s.doc_id) AS n_eval_docs,
           |  COUNT(DISTINCT h.doc_id) AS n_dirty_docs,
           |  COUNT(DISTINCT h.gram) AS n_dirty_grams
           |FROM sp s LEFT JOIN hits h
           |  ON s.doc_id = h.doc_id AND s.split = h.split
           |WHERE s.split != 'train' GROUP BY 1 ORDER BY s.split""".stripMargin),
      artifacts = Seq(EvalGrams)),

    Q("d15_segment_dedup_rewrite",
      "C4-style sub-document dedup that EMITS THE REWRITTEN CORPUS — " +
        "the op the d-family's reports feed: every doc is cut into " +
        "consecutive 20-token segments, each segment's first " +
        "occurrence corpus-wide (total order: doc_id, then offset) " +
        "survives, every later verbatim recurrence is deleted, and " +
        "each doc is reassembled from its kept segments in order " +
        "(boilerplate paragraphs, repeated headers/footers vanish " +
        "corpus-wide while their first occurrence stays readable — " +
        "what C4/RefinedWeb line-dedup does, re-cut on token windows " +
        "because this corpus is single-line). Membership decisions " +
        "never shuffle segment text: the first-occurrence window runs " +
        "over (doc_id, start, 8-byte xxhash64) triples; digest-unique " +
        "segments are kept outright (same literal => same digest, so " +
        "a unique digest proves a unique segment), and only " +
        "digest-recurring positions re-derive their literal (a join " +
        "back to affected docs ONLY) for the exact tie-break window — " +
        "collisions can only ADD candidates, never delete wrongly " +
        "(the d12 confirmation discipline). Reassembly re-slices each " +
        "doc's own token array by kept offsets, so document text " +
        "moves on exactly ONE shuffle (the doc_id group) and segments " +
        "move on none. At 100 TB: one digest-keyed decision shuffle " +
        "of 20-byte rows + O(duplicated content) literal confirms + " +
        "one doc-keyed rebuild — no all-pairs, no driver state.",
      (s, d) => {
        val toks = segTokens(s, d)
        // only the 8-byte digest leaves the scan for the decision path
        val seg = docSegments(toks).select(col("doc_id"), col("start"),
          col("h"))
        // digest recurrence census as a groupBy + hash join, NOT a
        // count-over-window: d15's expected input HAS a hot segment
        // (corpus boilerplate), and a window on h would sort that
        // digest's entire position set in one partition — the groupBy
        // combines map-side (hot digest collapses to one count row)
        // and AQE skew-splits the join's hot key
        val counts = seg.groupBy(col("h")).agg(count(lit(1)).as("nh"))
        val marked = seg.join(counts, Seq("h"))
        val uniqueKept = marked.filter(col("nh") === 1)
          .select(col("doc_id"), col("start"))
        // literal confirm only where a digest recurs: rebuild the
        // segment text from the doc's own token array, exact
        // first-occurrence tie-break on the literal. The tie-break is
        // a min(struct) AGGREGATE, not a row_number window: min
        // combines map-side, so a corpus-dominating boilerplate
        // segment (the C4 hot line) collapses in partial aggregation
        // instead of sorting one giant window partition on a straggler
        val cand = marked.filter(col("nh") >= 2)
          .select(col("doc_id"), col("start"))
          .join(toks, Seq("doc_id"))
          .withColumn("seg",
            array_join(slice(col("tk"), col("start") + 1, lit(SegW)), " "))
          .select(col("doc_id"), col("start"), col("seg"))
        val confirmKept = cand.groupBy(col("seg"))
          .agg(min(struct(col("doc_id"), col("start"))).as("o"))
          .select(col("o.doc_id").as("doc_id"), col("o.start").as("start"))
        rewriteFromKept(toks, uniqueKept.union(confirmKept))
      },
      Some(SegRewriteOracleSql)),

    Q("d16_bloom_decontam",
      "Bloom-prefiltered decontamination — the MEASURED form of the " +
        "100 TB claim d14's prose makes ('the eval digest set " +
        "broadcasts into the train scan'): the eval side's 13-gram " +
        "digests are compressed into an x14-style exact-twin Bloom " +
        "filter (k=3 integer hash functions over the gram's poly " +
        "digest — pure BIGINT arithmetic, so the DuckDB oracle " +
        "reproduces the EXACT bit set), the train scan drops " +
        "non-passing grams MAP-SIDE against the broadcast bits, and " +
        "only bloom survivors reach the exact literal-confirm join. " +
        "The filter is SIZED FROM THE DATA by an integer ladder " +
        "(smallest power of two >= 32x the eval digest census, " +
        "clamped to [2^16, 2^26]) — the a5c/a8c follow-the-volume " +
        "discipline, and the oracle reproduces the choice from its " +
        "own census, so a sizing drift is a hash mismatch. Output is " +
        "the differential contract (x12c/x14 convention): train-doc " +
        "census, chosen m, bloom-passing docs, exact-dirty docs " +
        "(digest-join + literal confirm — the d12 discipline), false " +
        "positives, the dirty-doc witness sum, observed doc-level fp " +
        "rate. Structural guarantee: every exact-dirty doc passes the " +
        "bloom (shared digest => all 3 bits set), so the prefilter " +
        "can never lose a contamination hit. At 100 TB the bit set " +
        "is 3x|eval grams| bits regardless of train mass, and the " +
        "train side is touched map-side only.",
      (s, d) => {
        val grams = evalGramIndex(s, d)
        val ev = grams.filter(col("split") =!= "train")
        val trn = grams.filter(col("split") === "train")
        // adaptive sizing + bit set from the per-corpus memoized
        // static artifacts (r19 — the eval side is fixed per corpus,
        // see bloomStatics); m still reaches the output so a sizing
        // drift stays a hash mismatch
        val (m, bits, _) = bloomStatics(s, d)
        def hj(j: Int, c: org.apache.spark.sql.Column) = Bloom.hj(j, c, m)
        val thg = trn.select(col("doc_id"), col("h")).distinct()
        val need = thg.select(col("doc_id"), col("h"),
          array_distinct(array(
            (0 until 3).map(j => hj(j, col("h"))): _*)).as("bs"))
        val gramPass = need
          .select(col("doc_id"), col("h"), size(col("bs")).as("nb"),
            explode(col("bs")).as("bit"))
          .join(broadcast(bits), Seq("bit"))
          .groupBy(col("doc_id"), col("h"), col("nb"))
          .agg(count(lit(1)).as("nhit"))
          .filter(col("nhit") === col("nb"))
        val bloomDocs = gramPass.select(col("doc_id")).distinct()
        // exact dirty train docs: digest intersection first, literal
        // grams compared only for digests on BOTH sides
        val candH = trn.select("h").distinct()
          .join(ev.select("h").distinct(), Seq("h"))
        val evG = ev.join(candH, Seq("h"))
          .select(col("h"), col("gram")).distinct()
        val dirty = trn.join(candH, Seq("h")).join(evG, Seq("h", "gram"))
          .select(col("doc_id")).distinct()
        val flagged = trn.select(col("doc_id")).distinct()
          .join(bloomDocs.withColumn("bp", lit(1L)), Seq("doc_id"), "left")
          .join(dirty.withColumn("dx", lit(1L)), Seq("doc_id"), "left")
        flagged.agg(
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
      },
      Some(BloomDecontamOracleSql),
      artifacts = Seq(EvalGrams, BloomBits)),

    Q("d16s_decontam_stream",
      "§2.12 driver-visible streaming row #9 — d16's Bloom-prefiltered " +
        "decontamination executed BY THE STREAMING ENGINE as a " +
        "foreachBatch-FREE stateless stream filter (the c1s shape): " +
        "the eval side's bit set and literal-gram table are " +
        "broadcast-sized STATIC artifacts built once per corpus, and " +
        "each arriving train micro-batch explodes its own 13-grams, " +
        "drops non-passing grams through THREE stream-static semi-" +
        "joins against the bits (all-3-bits membership without any " +
        "per-gram aggregation — no state, no watermark), literal-" +
        "confirms survivors against the eval grams, and appends " +
        "per-doc verdicts to a parquet file sink. The differential " +
        "report over the union of batches must hash-match d16's " +
        "batch computation exactly (same oracle verbatim) — the " +
        "measured form of the decontam family's 100 TB story: " +
        "contamination is dropped at INGEST time, map-side, not at " +
        "release time. Micro-batch sizing (r16 verdict #5): the " +
        "source sets no maxFilesPerTrigger, so AvailableNow packs all " +
        "staged files into ONE maximal batch — the right end of the " +
        "dial for a stateless filter, whose per-batch fixed costs " +
        "(static-side re-reads, sink commits) amortize over batch " +
        "mass; SCALE.md r17 measures both ends on the 10x census " +
        "corpus.",
      (s, d) => graft.streaming.DecontamStream.decontamOneShot(s, d),
      Some(BloomDecontamOracleSql),
      artifacts = Seq(EvalGrams, BloomBits)),

    Q("d7_dedup_clusters",
      "Near-dup cluster formation — pair lists are not enough to dedup: " +
        "a~b and b~c must collapse to ONE surviving doc even when a!~c. " +
        "Takes the d4b simhash hamming<=3 pair graph and computes " +
        "connected components by iterative min-label propagation " +
        "(labels re-materialized to scratch parquet each round — the " +
        "warehouse-iteration shape; rounds = graph diameter, and " +
        "near-dup graphs are shallow. At 1000-executor scale the same " +
        "loop takes the large-star/small-star rewrite for O(log n) " +
        "rounds; no driver-side graph state either way). Emits each " +
        "cluster keyed by its surviving (minimum) doc_id. Oracle: " +
        "recursive-CTE transitive closure + MIN per vertex.",
      (s, d) => {
        // Shared CC label table (see d10): memoized per corpus.
        ccLabelsSimhash(s, d)
          .groupBy(col("l"))
          .agg(count(lit(1)).as("n_docs"), max(col("v")).as("doc_max"))
          .select(col("l").as("cluster"), col("n_docs"), col("doc_max"))
          .orderBy("cluster")
      },
      Some(
        s"""WITH RECURSIVE $SimhashDocsSql,
           |banded AS (
           |  SELECT doc_id, simhash, g.k,
           |    (simhash >> (16 * g.k)) & 65535 AS band
           |  FROM sh, (SELECT UNNEST([0, 1, 2, 3]) AS k) g),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           |  FROM banded a JOIN banded b
           |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |bidir AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
           |reach(v, u) AS (
           |  SELECT a AS v, a AS u FROM bidir
           |  UNION
           |  SELECT r.v, e.b AS u FROM reach r JOIN bidir e ON r.u = e.a),
           |comp AS (SELECT v, MIN(u) AS cluster FROM reach GROUP BY v)
           |SELECT cluster, COUNT(*) AS n_docs, CAST(MAX(v) AS BIGINT) AS doc_max
           |FROM comp GROUP BY 1 ORDER BY cluster""".stripMargin)),

    Q("d10_dedup_corpus",
      "Dedup corpus emission — the step cluster formation exists FOR: " +
        "project the d7 component labels back onto the full corpus and " +
        "emit a per-document keep/drop verdict (kept = not near-dup at " +
        "all, or the cluster's canonical minimum doc_id). Downstream " +
        "training reads WHERE kept. One broadcast-sized label join " +
        "against the corpus scan at 100 TB (labels are near-dup " +
        "participants only); the label table itself is the memoized " +
        "per-corpus CC output shared with d7, built once per session. " +
        "Oracle: the same recursive-CTE closure LEFT JOINed to " +
        "documents.",
      (s, d) => {
        val docs = Graft.table(s, d, "documents").select(col("doc_id"))
        val labels = ccLabelsSimhash(s, d)
        docs.join(labels, docs("doc_id") === labels("v"), "left")
          .select(col("doc_id"),
            col("l").as("cluster"),
            (col("l").isNull || col("doc_id") === col("l")).as("kept"))
          .orderBy("doc_id")
      },
      Some(CcVerdictOracleSql)),

    Q("x10b_corpus_funnel_neardup",
      "Curation funnel on the ACTUAL dedup verdicts — x10's attrition " +
        "datasheet with stage 2 consuming d10's near-dup keep/drop " +
        "decisions (simhash hamming<=3 connected components, canonical " +
        "= cluster minimum) instead of the md5-exact cut, so the table " +
        "reflects the pipeline a run would really execute: near-dup " +
        "clustering subsumes exact duplicates and cuts strictly " +
        "deeper. Stage 2's census equals d10's kept count by " +
        "construction — the two operators read the SAME memoized CC " +
        "label table, built once per corpus (asserted in DedupSpec " +
        "too). Stages stay cumulative: raw, near-dup dedup, quality " +
        ">= 0.5, 40-token floor. At 100 TB the label join is " +
        "broadcast-sized (near-dup participants only), the funnel " +
        "itself is one corpus scan into a 4-row stack — the heavy " +
        "exchange (banded signature self-join) is d10's, paid once " +
        "and shared.",
      (s, d) => {
        val labels = ccLabelsSimhash(s, d)
        Functions.qualityScored(t(s, d, "documents"))
          .join(broadcast(labels), col("doc_id") === col("v"), "left")
          .withColumn("k1", col("l").isNull || col("doc_id") === col("l"))
          .withColumn("k2", col("k1") && col("score") >= 0.5)
          .withColumn("k3", col("k2") && col("ws_tokens") >= 40)
          .agg(
            count(lit(1)).as("r_docs"),
            sum(col("ws_tokens")).as("r_tok"),
            sum(col("n_chars")).as("r_ch"),
            count(when(col("k1"), 1)).as("d_docs"),
            coalesce(sum(when(col("k1"), col("ws_tokens"))), lit(0L))
              .as("d_tok"),
            coalesce(sum(when(col("k1"), col("n_chars"))), lit(0L))
              .as("d_ch"),
            count(when(col("k2"), 1)).as("q_docs"),
            coalesce(sum(when(col("k2"), col("ws_tokens"))), lit(0L))
              .as("q_tok"),
            coalesce(sum(when(col("k2"), col("n_chars"))), lit(0L))
              .as("q_ch"),
            count(when(col("k3"), 1)).as("l_docs"),
            coalesce(sum(when(col("k3"), col("ws_tokens"))), lit(0L))
              .as("l_tok"),
            coalesce(sum(when(col("k3"), col("n_chars"))), lit(0L))
              .as("l_ch"))
          .selectExpr(
            "stack(4, " +
              "1L, 'raw', r_docs, r_tok, r_ch, " +
              "2L, 'neardup_dedup', d_docs, d_tok, d_ch, " +
              "3L, 'quality_0.5', q_docs, q_tok, q_ch, " +
              "4L, 'min_40_tokens', l_docs, l_tok, l_ch) " +
              "AS (stage_id, stage, n_docs, n_tokens, n_chars)")
          .orderBy("stage_id")
      },
      Some(
        raw"""WITH RECURSIVE $SimhashDocsSql,
           |banded AS (
           |  SELECT doc_id, simhash, g.k,
           |    (simhash >> (16 * g.k)) & 65535 AS band
           |  FROM sh, (SELECT UNNEST([0, 1, 2, 3]) AS k) g),
           |prs AS (
           |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           |  FROM banded a JOIN banded b
           |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |bidir AS (SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs),
           |reach(v, u) AS (
           |  SELECT a AS v, a AS u FROM bidir
           |  UNION
           |  SELECT r.v, e.b AS u FROM reach r JOIN bidir e ON r.u = e.a),
           |comp AS (SELECT v, MIN(u) AS cluster FROM reach GROUP BY v),
           |fl AS (
           |  SELECT sc.*,
           |    sc.k1 AND sc.score >= 0.5 AS k2,
           |    sc.k1 AND sc.score >= 0.5 AND sc.ws_tokens >= 40 AS k3
           |  FROM (
           |    SELECT d.doc_id, d.n_chars,
           |      len(string_split_regex(trim(d.text), '\s+')) AS ws_tokens,
           |      ${TextQueries.QualityScoreSql} AS score,
           |      (c.cluster IS NULL OR d.doc_id = c.cluster) AS k1
           |    FROM documents d LEFT JOIN comp c ON d.doc_id = c.v) sc),
           |a AS (SELECT
           |  COUNT(*) AS r_docs,
           |  CAST(SUM(ws_tokens) AS BIGINT) AS r_tok,
           |  CAST(SUM(n_chars) AS BIGINT) AS r_ch,
           |  COUNT(*) FILTER (k1) AS d_docs,
           |  CAST(COALESCE(SUM(ws_tokens) FILTER (k1), 0) AS BIGINT) AS d_tok,
           |  CAST(COALESCE(SUM(n_chars) FILTER (k1), 0) AS BIGINT) AS d_ch,
           |  COUNT(*) FILTER (k2) AS q_docs,
           |  CAST(COALESCE(SUM(ws_tokens) FILTER (k2), 0) AS BIGINT) AS q_tok,
           |  CAST(COALESCE(SUM(n_chars) FILTER (k2), 0) AS BIGINT) AS q_ch,
           |  COUNT(*) FILTER (k3) AS l_docs,
           |  CAST(COALESCE(SUM(ws_tokens) FILTER (k3), 0) AS BIGINT) AS l_tok,
           |  CAST(COALESCE(SUM(n_chars) FILTER (k3), 0) AS BIGINT) AS l_ch
           |  FROM fl)
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
           |    r_docs AS n_docs, r_tok AS n_tokens, r_ch AS n_chars FROM a
           |  UNION ALL SELECT 2, 'neardup_dedup', d_docs, d_tok, d_ch FROM a
           |  UNION ALL SELECT 3, 'quality_0.5', q_docs, q_tok, q_ch FROM a
           |  UNION ALL SELECT 4, 'min_40_tokens', l_docs, l_tok, l_ch FROM a)
           |ORDER BY stage_id""".stripMargin))
  )

  /** SemDeDup's within-cluster drop scan + per-cluster report, shared
    * by d11 (first-k codebook) and d11b (trained codebook): pairs meet
    * inside their cid only (xid < yid), a vector is dropped when a
    * lower-id cluster-mate's exact fold cosine clears 0.35, and the
    * output is per-cluster population / drop count / dropped-id-sum.
    * `asg` must carry (vec_id, cid, v, norm).
    */
  /** The d11 first-k assignment `(vec_id, cid, v, norm)` — every
    * vector to its nearest first-k centroid, exact index-order fold
    * distance, argmin ties to the lower cid. Shared by d11 and the
    * d11c cluster-stats row so the two can never disagree about cell
    * membership.
    */
  private[graft] def firstKAssign(s: SparkSession, d: String,
                                  k: Int): DataFrame = {
    val toD = "transform(embedding, x -> cast(x as double))"
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), expr(toD).as("v"))
      .withColumn("norm", sqrt(expr("graft_ddot(v, v)")))
    val c0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    val d2 = expr("graft_dsq(v, c)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    e.crossJoin(broadcast(c0)).withColumn("d2", d2)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("v"), col("norm"))
  }

  /** DuckDB twin of [[firstKAssign]](k=8): CTE chain ending in
    * `asg(vec_id, cid, v, norm)` — shared by the d11 and d11c oracles.
    */
  private val FirstKAsgSql: String = {
    val distSql =
      "list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
        "list_zip(e.v, c0.c), p -> (p[1] - p[2]) * (p[1] - p[2]))), " +
        "(acc, x) -> acc + x)"
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS norm
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
       |asg AS (
       |  SELECT vec_id, cid, v, norm FROM (
       |    SELECT e.vec_id, e.v, e.norm, c0.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $distSql, c0.cid) AS rn
       |    FROM e, c0) t WHERE rn = 1)""".stripMargin
  }

  private[graft] def semDedupStats(asg: DataFrame): DataFrame = {
    val cosine = expr("graft_ddot(xv, yv)") / (col("xn") * col("yn"))
    val drops = asg.select(col("cid"), col("vec_id").as("xid"),
        col("v").as("xv"), col("norm").as("xn"))
      .join(asg.select(col("cid"), col("vec_id").as("yid"),
        col("v").as("yv"), col("norm").as("yn")), Seq("cid"))
      .filter(col("xid") < col("yid"))
      .filter(cosine >= 0.35)
      .select(col("cid"), col("yid")).distinct()
    asg.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .join(drops.groupBy(col("cid"))
        .agg(count(lit(1)).as("nd"), sum(col("yid")).as("ds")),
        Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"),
        coalesce(col("ds"), lit(0L)).as("dropped_id_sum"))
      .orderBy("cid")
  }

  /** d11b's parameterized implementation: codebook TRAINED with
    * `iters` exact Lloyd mean updates from the first-k init (the a4b
    * loop, shared helper — every determinism anchor identical), then
    * the SemDeDup drop scan within the trained cells. k is the scale
    * dial: it grows proportionally with the corpus at a target cell
    * population, which bounds the within-cell drop scan at
    * O(corpus × cell) — but the r19 census measured that the FLAT
    * assignment carries its own N×k term at that dial (16.8× per 10×,
    * overtaking the scan it exists to bound), so every assignment here
    * routes through Lloyd.assignFor: flat for the registered row's
    * k=8, exact in-row argmin (Lloyd.assignInRow / graft_argmin_sq)
    * once k crosses Lloyd.InRowK — N rows through the plan instead of
    * N×k candidate rows, identical output. The full cost model is
    * therefore two terms, not one: O(N × k × dim) distance arithmetic
    * per Lloyd round (flat in BOTH paths — the in-row path removes the
    * N×k candidate rows, not the arithmetic — so it is quadratic in
    * the corpus when k ∝ N), plus the O(corpus × cell) drop scan.
    * MixtureSpec exercises the dial by doubling the corpus at doubled
    * k.
    */
  private[graft] def semanticDedupTrained(s: SparkSession, d: String,
      k: Int, iters: Int): DataFrame = {
    import SimilarityQueries.Lloyd
    val e = Lloyd.corpus(s, d)
    var cents = Lloyd.init(e, k)
    for (_ <- 1 to iters)
      cents = Lloyd.means(Lloyd.assignFor(e, cents, k))
    val asg = Lloyd.assignFor(e, cents, k)
      .withColumn("norm", sqrt(expr("graft_ddot(v, v)")))
      .select(col("vec_id"), col("cid"), col("v"), col("norm"))
    semDedupStats(asg)
  }

  /** The memoized per-corpus simhash signature index shared by
    * d4/d4b/d7 — and by o6's incremental ingest, which slices batch
    * signatures from it instead of recomputing the token explode per
    * batch (computed and written once per session per input dir).
    */
  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"simhash_sigs:$d", "simhash_sigs",
      simhashDocs(Graft.table(s, d, "documents")))

  /** Per-corpus memoized connected-component label table `(v, l)` over
    * the simhash hamming<=3 pair graph — cluster formation runs once
    * per session; d7 (cluster stats) and d10 (corpus emission) both
    * read it from scratch parquet.
    */
  private[graft] def ccLabelsSimhash(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"cc_labels:$d", "cc_labels_shared",
      connectedComponents(s, simhashNearPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))))

  /** d6/d8's pruned winnowing fingerprint frame `(doc_id, fp)`: all
    * char-8-gram hashes in one compiled O(len) rolling pass
    * (graft_kgram_hashes), per-4-window minima, distinct per doc, then
    * the hot-fingerprint prune (> 10 docs) as a count-over-window — ONE
    * shuffle on fp (vs groupBy + semi-join = two extra passes over the
    * exploded frame), and the pair join that follows needs the same fp
    * partitioning.
    */
  private def winnowPruned(docs: DataFrame): DataFrame = {
    val withHs = docs.withColumn("hs", expr("graft_kgram_hashes(text, 8)"))
    val fps = withHs.select(col("doc_id"),
      explode(array_distinct(expr(
        "transform(sequence(1, greatest(size(hs) - 3, 1)), " +
          "j -> array_min(slice(hs, j, 4)))"))).as("fp"))
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    fps.withColumn("nd", count(lit(1)).over(wFp))
      .filter(col("nd") <= 10)
      .drop("nd")
  }

  /** Per-corpus memoized simhash hamming<=3 pair table (shared by d4b
    * and d7): signatures from the shared index, 4x16-bit band
    * equi-join (pigeonhole: <=3 flipped bits corrupt at most 3 bands),
    * exact bit_count filter, distinct `(doc_a, doc_b, hamming)`.
    */
  private def simhashNearPairs(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"simhash_pairs:$d", "simhash_pairs",
      simhashNearPairsOver(simhashSigs(s, d)))

  /** The banded hamming<=3 pair join over any `(doc_id, simhash)`
    * frame — extracted from the per-corpus memo so the corpus-release
    * chain can run the identical pair semantics over its normalized
    * signatures.
    */
  private[graft] def simhashNearPairsOver(sh: DataFrame): DataFrame = {
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), 16 * k).bitwiseAND(lit(65535L))): _*))
        .as(Seq("k", "band")))
    val a = banded.select(col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"), col("k"), col("band"))
    val b2 = banded.select(col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"), col("k").as("k_b"),
      col("band").as("band_b"))
    a.join(b2, col("k") === col("k_b") && col("band") === col("band_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** The INCREMENTAL twin of [[simhashNearPairsOver]]: banded
    * hamming<=3 edges with at least one endpoint in `batch` — batch
    * signatures probe the union of batch + `seen` signatures, so the
    * union over an arrival sequence of batches reproduces the full
    * pair set exactly (a pair is emitted when its LATER endpoint
    * arrives). Canonical `(a, b)` with a < b, distinct. At 100 TB the
    * `seen` side is the partitioned signature index
    * (pipeline/IncrementalNearDup's (k, sb) layout — the probe prunes
    * to the batch's band buckets); the drive slices the memoized
    * corpus signature index, the same access pattern.
    */
  private[graft] def simhashEdgesVs(batch: DataFrame,
                                    seen: DataFrame): DataFrame = {
    def bandedOf(sh: DataFrame): DataFrame =
      sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(k =>
          shiftright(col("simhash"), 16 * k).bitwiseAND(lit(65535L))): _*))
          .as(Seq("k", "band")))
    val pb = bandedOf(batch).select(col("doc_id").as("doc_p"),
      col("simhash").as("sim_p"), col("k"), col("band"))
    val pa = bandedOf(batch.unionByName(seen)).select(
      col("doc_id").as("doc_q"), col("simhash").as("sim_q"),
      col("k").as("k_q"), col("band").as("band_q"))
    pb.join(pa, col("k") === col("k_q") && col("band") === col("band_q") &&
        col("doc_p") =!= col("doc_q"))
      .filter(bit_count(col("sim_p").bitwiseXOR(col("sim_q"))) <= 3)
      .select(least(col("doc_p"), col("doc_q")).as("a"),
        greatest(col("doc_p"), col("doc_q")).as("b"))
      .distinct()
  }

  /** Hot-bucket guard parameters for the embedding pair scan.
    * Random-hyperplane LSH sends similar vectors to the SAME bucket by
    * design, so a near-dup-heavy corpus (boilerplate web pages at
    * 100 TB) concentrates its largest cluster in one bucket — an
    * unguarded within-bucket all-pairs join goes quadratic in exactly
    * the case dedup exists for. Buckets over [[HotBucketCap]] switch
    * from all-pairs to a neighbor-window scan: vectors sort by the
    * [[SimilarityQueries.refinePlane]] projection (near-identical
    * vectors project near-identically, so cluster members stay
    * ADJACENT) and each pairs with its next [[NeighborWindow]]
    * successors only — an equi-join on (bucket, rn) with fan-out ≤ W,
    * O(n·W) pairs instead of O(n²). Recall inside a hot bucket drops
    * from "every pair" to "a W-wide band around the sort order", which
    * keeps the property dedup needs: a tight cluster stays CONNECTED
    * (adjacent members pair), so d9's components still merge it, while
    * pair-join work stays linear in the bucket. The textual paths'
    * analogous guards: winnowing's >10-doc fingerprint prune, d11's
    * k-bounded cells.
    */
  private[graft] val HotBucketCap = 1000
  private[graft] val NeighborWindow = 8

  /** The guarded cosine>=0.35 pair scan over an `(vec_id, embedding)`
    * frame — package-visible so DedupSpec can drive it with a planted
    * mega-cluster at a tiny cap. Returns `(vec_a, vec_b, bucket,
    * cosine)` with vec_a < vec_b, each unordered pair at most once
    * (a vector has exactly one bucket; the small/big paths are
    * disjoint by bucket population).
    */
  private[graft] def guardedEmbeddingPairs(emb: DataFrame, cap: Int,
                                           w: Int): DataFrame = {
    val e = SimilarityQueries.withRefineOrd(
      SimilarityQueries.withBucket(emb, "embedding"), "embedding")
      .withColumn("norm", sqrt(dot("embedding", "embedding")))
    val counts = e.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
    val e2 = e.join(broadcast(counts), Seq("bucket"))
    def cosineOf(p: DataFrame): DataFrame = p
      .withColumn("cosine", dot("ea", "eb") / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("bucket"), col("cosine"))
    // small buckets: the exact all-pairs scan (the common case — at a
    // sane cap virtually every bucket takes this path)
    val sm = e2.filter(col("bn") <= cap)
    val sa = sm.select(col("vec_id").as("vec_a"), col("bucket"),
      col("embedding").as("ea"), col("norm").as("norm_a"))
    val sb = sm.select(col("vec_id").as("vec_b"),
      col("bucket").as("bucket_b"), col("embedding").as("eb"),
      col("norm").as("norm_b"))
    val smallPairs = cosineOf(sa.join(sb,
      col("bucket") === col("bucket_b") && col("vec_a") < col("vec_b")))
    // hot buckets: slim (id, bucket, rn) window — the sort never
    // carries the embedding payload — then a bounded-fan-out equi-join
    // on (bucket, rn); embeddings re-attach per side by vec_id
    val big = e2.filter(col("bn") > cap)
    val rnw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("ord"), col("vec_id"))
    val slim = big.select(col("vec_id"), col("bucket"), col("ord"))
      .withColumn("rn", row_number().over(rnw))
    val l = slim.select(col("vec_id").as("id_l"), col("bucket"), col("rn"))
    val r = slim.select(col("vec_id").as("id_r"),
        col("bucket").as("bucket_r"), col("rn").as("rn_r"))
      .withColumn("wof", explode(lit((1 to w).toArray)))
      .withColumn("rn_t", col("rn_r") - col("wof"))
    val adj = l.join(r,
        col("bucket") === col("bucket_r") && col("rn") === col("rn_t"))
      .select(least(col("id_l"), col("id_r")).as("vec_a"),
        greatest(col("id_l"), col("id_r")).as("vec_b"), col("bucket"))
    val ve = e.select(col("vec_id"), col("embedding"), col("norm"))
    val bigPairs = cosineOf(adj
      .join(ve.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("norm").as("norm_a")), Seq("vec_a"))
      .join(ve.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("norm").as("norm_b")), Seq("vec_b")))
    smallPairs.unionByName(bigPairs)
  }

  /** DuckDB twin of [[guardedEmbeddingPairs]] — a CTE chain ending in
    * `pairs(vec_a, vec_b, bucket, cosine)`, shared by the d5 and d9
    * oracles so the two can never disagree about the pair set.
    */
  private def guardedPairsSql(cap: Int, w: Int): String = {
    val bucket = SimilarityQueries.bucketSql("embedding")
    val ord = SimilarityQueries.refineOrdSql("embedding")
    s"""e AS (SELECT vec_id, embedding,
       |  $bucket AS bucket,
       |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
       |  $ord AS ord FROM embeddings),
       |cnt AS (SELECT bucket, COUNT(*) AS bn FROM e GROUP BY 1),
       |e2 AS (SELECT e.*, cnt.bn FROM e JOIN cnt USING (bucket)),
       |small_pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cosine
       |  FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE a.bn <= $cap),
       |big AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
       |    ORDER BY ord, vec_id) AS rn
       |  FROM e2 WHERE bn > $cap),
       |big_pairs AS (
       |  SELECT least(a.vec_id, b.vec_id) AS vec_a,
       |    greatest(a.vec_id, b.vec_id) AS vec_b, a.bucket,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cosine
       |  FROM big a JOIN big b
       |    ON a.bucket = b.bucket AND b.rn - a.rn BETWEEN 1 AND $w),
       |pairs AS (
       |  SELECT * FROM small_pairs WHERE cosine >= 0.35
       |  UNION ALL
       |  SELECT * FROM big_pairs WHERE cosine >= 0.35)""".stripMargin
  }

  /** Per-corpus memoized embedding cosine>=0.35 pair table (shared by
    * d5 and d9): hyperplane-LSH bucket blocking with the hot-bucket
    * neighbor-window guard, exact left-fold dot products,
    * `(vec_a, vec_b, bucket, cosine)`.
    */
  private def embeddingNearPairs(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"emb_pairs:$d", "emb_pairs",
      guardedEmbeddingPairs(Graft.table(s, d, "embeddings"),
        HotBucketCap, NeighborWindow))

  /** Per-corpus memoized pruned fingerprint table (shared by d6/d8) —
    * the fingerprint index is built once per corpus, not per consumer.
    */
  private[graft] def corpusWinnowPruned(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"winnow_fps:$d", "winnow_fps",
      winnowPruned(Graft.table(s, d, "documents")))

  /** The pruned winnowing-fingerprint index, read by d6, d8 and d13. */
  val WinnowFps: Artifact = Artifact("winnow_fp_index_build",
    (s, d) => corpusWinnowPruned(s, d): Unit)

  /** DuckDB twin of [[winnowPruned]] — CTE chain ending in `pruned`. */
  private val WinnowPrunedSql: String = {
    val fold = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(regexp_extract_all(substr(text, CAST(i AS INTEGER), 8), '(?s).'), " +
      "c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007)"
    s"""hs AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(length(text) - 7, 1) + 1),
       |      i -> $fold) AS h
       |  FROM documents),
       |wins AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(len(h) - 3, 1) + 1),
       |      j -> list_min(h[j:j+3])) AS w
       |  FROM hs),
       |fps AS (
       |  SELECT DISTINCT doc_id, f.fp
       |  FROM wins, LATERAL UNNEST(w) f(fp)),
       |pruned AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS nd
       |    FROM fps) c
       |  WHERE nd <= 10)""".stripMargin
  }

  /** Connected components of an undirected `(a, b)` edge frame by
    * min-label propagation WITH pointer jumping: every vertex starts
    * labeled with itself; each round takes the min over (own label,
    * labels across edges, label-of-label). The pointer-jump term halves
    * remaining path lengths, so rounds are O(log diameter) rather than
    * diameter — the same doubling idea as large-star/small-star.
    * Labels are re-materialized to scratch parquet every round —
    * iteration state lives in the warehouse, not executor memory or
    * driver heap, so a lost executor (or a 100 TB label table) never
    * restarts the loop. Convergence check is one cheap scan: labels
    * only ever decrease, so an unchanged SUM(l) is the fixpoint — no
    * per-round diff join. Returns `(v, l)` = vertex → component label
    * (the component's min vertex).
    */
  /** One min-label propagation round: min over (own label, labels
    * across edges, label-of-label), expressed as ONE join — the three
    * terms are encoded as message edges `(src, dst)` meaning "dst
    * receives src's label": real edges (bd), self edges (v keeps its
    * own label), and pointer edges (l(v) → v, delivering l(l(v)) — the
    * doubling term). A single shuffle of the label table per round
    * instead of the two the 2-join formulation paid. Package-visible so
    * PlanSpec can assert the round plan carries no single-partition
    * stage — the label table is O(corpus) at web dup rates, so a
    * hardcoded `coalesce(1)` here would serialize the flagship dedup
    * operator.
    */
  private[graft] def ccStep(bd: DataFrame, lb: DataFrame): DataFrame = {
    val messages = bd.select(col("a").as("src"), col("b").as("dst"))
      .union(lb.select(col("v").as("src"), col("v").as("dst")))
      .union(lb.select(col("l").as("src"), col("v").as("dst")))
    messages.join(lb, messages("src") === lb("v"))
      .groupBy(col("dst").as("v")).agg(min(col("l")).as("l"))
  }

  private[graft] def connectedComponents(s: SparkSession,
                                         edges: DataFrame): DataFrame = {
    val bd = Scratch.materialize(s, "cc_edges",
      edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b"))))
    // Empty-graph fast path (r19): an idempotent refold contracts every
    // edge to a self-loop, so the o12/o12s redelivery path reaches here
    // with ZERO edges — yet still paid the seed shuffle plus two
    // convergence rounds (sum=0 twice) before r19. One take(1) on the
    // just-written edge parquet decides; the empty (v, l) frame keeps
    // the label schema (both columns from `a`, so vertex/label types
    // stay identical to the loop's output).
    if (bd.take(1).isEmpty)
      return bd.select(col("a").as("v"), col("a").as("l"))
    // Seed labels one hop ahead: l0(v) = min(v, min neighbor) is
    // exactly the state after a propagation round from l=v, at the
    // same cost as the naive init (one groupBy of the edge table
    // instead of a distinct) — measured: one full round saved on both
    // cluster queries (sf0.1: d10 10→9, d9 11→10 rounds).
    var labels = Scratch.materialize(s, "cc_labels",
      bd.groupBy(col("a"))
        .agg(least(col("a"), min(col("b"))).as("l"))
        .select(col("a").as("v"), col("l")))
    def step(lb: DataFrame): DataFrame = ccStep(bd, lb)
    var prevSum = -1L
    var rounds = 0
    var done = false
    // O(log diameter) rounds (the pointer-jump term doubles reach);
    // the cap only guards corrupt input. The step ends in a groupBy
    // shuffle, so AQE right-sizes the per-round partition count for
    // whatever the label table actually is — a handful of tasks at test
    // scale, full parallelism when the table is O(corpus) (at web dup
    // rates "near-dup participants" IS O(corpus), so no hardcoded
    // single-partition stage may sit in this loop).
    //
    // Iteration state: eager localCheckpoint per round (cuts lineage,
    // keeps label blocks on executors — one cheap job) with a DURABLE
    // parquet snapshot every 4th round (the GraphX-style checkpoint
    // interval). localCheckpoint alone is not loss-safe — a lost
    // executor kills its blocks and the cut lineage can't recompute
    // them — so the periodic snapshot bounds recovery to re-entering
    // the loop from the last parquet labels, ≤3 rounds back, instead
    // of paying a full parquet round-trip every round.
    var prevCkpt: DataFrame = null
    while (!done && rounds < 50) {
      rounds += 1
      // One propagation hop per materialized round. Measured on sf0.1:
      // chaining two ccSteps into one job halves the round count (10-11
      // -> 5-6) but the deeper 4-shuffle AQE plan costs MORE per round
      // than two shallow jobs — total time regressed, so the single-hop
      // round stays.
      val stepped = step(labels)
      // LAZY localCheckpoint (r19): the convergence agg below is the
      // round's first action, so ONE job both materializes the
      // checkpoint blocks and computes the sum — the eager form paid a
      // separate materialization job, doubling the loop's job count
      // (measured 0.3-0.9 s/round at sf0.1 across the o12 folds).
      // Lineage is still cut and blocks still live on executors; the
      // every-4th-round durable parquet snapshot is unchanged.
      val next =
        if (rounds % 4 == 0) Scratch.materialize(s, "cc_labels", stepped)
        else stepped.localCheckpoint(false)
      // null-safe: an empty edge frame (no near-dup pairs at all) sums
      // to NULL — treat as 0 so the loop terminates instead of NPEing
      val sumRow = next.agg(sum(col("l"))).first()
      val sumL = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
      done = sumL == prevSum
      prevSum = sumL
      // release the previous round's checkpoint blocks (next is already
      // materialized, nothing depends on them)
      if (prevCkpt ne null) { prevCkpt.unpersist(); prevCkpt = null }
      if (rounds % 4 != 0) prevCkpt = next
      labels = next
    }
    labels
  }
}
