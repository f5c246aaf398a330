package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Graft

/** Corpus-curation operators beyond filtering/dedup (c1): the two
  * passes a training run needs between "curated corpus" and "batches
  * on the accelerator" — deterministic mixture sampling and
  * fixed-length sequence packing.
  *
  * Both are pure scans plus bounded shuffles, and both are exact
  * cross-engine: the sampling decision is a polynomial content hash
  * (bit-parity with DuckDB's list_reduce replica, proven by t5/
  * StringPolyHashSpec), not an RNG.
  */
object CurationQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  /** Packing length (tokens per training sequence). */
  private val SeqLen = 2048L

  /** c6: max docs kept per source — small enough that the fixture's
    * sources actually get capped (they carry ~15-30 docs each at the
    * oracle scale), so the cap path is exercised, not vacuous.
    */
  private val DomainCap = 15L

  def all: Seq[Q] = Seq(

    Q("c2_mixture_sample",
      "Deterministic domain-mixture sampling — each source gets a " +
        "target retention weight (tiered by source id here; in practice " +
        "a curated mixture table), and a doc survives iff a polynomial " +
        "hash of (doc_id, source) falls under the weight. Reproducible " +
        "across runs/machines (no RNG seed to ship), embarrassingly " +
        "parallel, and any worker can answer 'is this doc in the " +
        "mixture?' locally — how a 100 TB corpus is downsampled to a " +
        "target mixture without a shuffle.",
      (s, d) => {
        t(s, d, "documents")
          .withColumn("ws_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long"))
          .withColumn("weight", graft.engine.Functions.mixtureWeight)
          .withColumn("kept", graft.engine.Functions.mixtureKeep)
          .groupBy(col("source"))
          .agg(first(col("weight")).as("weight"),
            count(lit(1)).as("n_total"),
            count(when(col("kept"), 1)).as("n_kept"),
            sum(when(col("kept"), col("ws_tokens"))).as("tokens_kept"))
          .orderBy("source")
      },
      Some(
        """SELECT source,
          |  CASE WHEN srcnum < 5 THEN 1.0 WHEN srcnum < 10 THEN 0.5
          |       WHEN srcnum < 15 THEN 0.25 ELSE 0.1 END AS weight,
          |  COUNT(*) AS n_total,
          |  CAST(COUNT(*) FILTER (kept) AS BIGINT) AS n_kept,
          |  CAST(SUM(ws_tokens) FILTER (kept) AS BIGINT) AS tokens_kept
          |FROM (
          |  SELECT source, TRY_CAST(substr(source, 4) AS INT) AS srcnum,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
          |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
          |       list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR) || ':' || source, '(?s).'),
          |         c -> CAST(ascii(c) AS BIGINT))),
          |       (acc, c) -> (acc * 31 + c) % 1000000007) % 1000)
          |      < (CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 5 THEN 1.0
          |              WHEN TRY_CAST(substr(source, 4) AS INT) < 10 THEN 0.5
          |              WHEN TRY_CAST(substr(source, 4) AS INT) < 15 THEN 0.25
          |              ELSE 0.1 END) * 1000 AS kept
          |  FROM documents) t
          |GROUP BY source, srcnum ORDER BY source""".stripMargin)),

    Q("c1s_curate_stream_sink",
      "§2.12 driver-visible streaming row #2 — the row-level curation " +
        "pass (t2 quality score + language allowlist + c2 mixture " +
        "predicate) executed BY THE STREAMING ENGINE through a real " +
        "parquet FILE SINK in append mode (the exactly-once production " +
        "shape: the sink's commit log lands each micro-batch's files " +
        "once), then aggregated into per-(lang, source) retention and " +
        "hash-checked against DuckDB. Complements e1s, which covers the " +
        "stateful-window/complete-mode shape.",
      (s, d) => graft.streaming.CorpusStream.curateOneShot(s, d),
      Some(
        """WITH scored AS (
          |  SELECT doc_id, lang, source, n_chars,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
          |    (CASE WHEN length(text) >= 200 THEN 0.5 ELSE 0.0 END)
          |    + (CASE WHEN length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) = 0 THEN 0.25 ELSE 0.0 END)
          |    + (CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 30 THEN 0.25 ELSE 0.0 END) AS score
          |  FROM documents),
          |kept AS (
          |  SELECT * FROM scored
          |  WHERE score >= 0.5 AND lang IN ('en', 'de', 'es', 'fr')
          |    AND (list_reduce(list_prepend(CAST(0 AS BIGINT),
          |           list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR) || ':' || source, '(?s).'),
          |             c -> CAST(ascii(c) AS BIGINT))),
          |           (acc, c) -> (acc * 31 + c) % 1000000007) % 1000)
          |        < (CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 5 THEN 1.0
          |                WHEN TRY_CAST(substr(source, 4) AS INT) < 10 THEN 0.5
          |                WHEN TRY_CAST(substr(source, 4) AS INT) < 15 THEN 0.25
          |                ELSE 0.1 END) * 1000)
          |SELECT lang, source, COUNT(*) AS n_docs_kept,
          |  CAST(SUM(ws_tokens) AS BIGINT) AS tokens_kept,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
          |FROM kept GROUP BY 1, 2 ORDER BY lang, source""".stripMargin)),

    Q("c3_sequence_pack",
      "Fixed-length sequence packing — docs are packed greedily into " +
        s"$SeqLen-token training sequences in doc_id order WITHIN each " +
        "lang shard (running token count → sequence id = cumsum-before " +
        "div length), then per-shard packing efficiency is reported. " +
        "The window is partitioned by the shard key, never global: at " +
        "100 TB packing is shard-local by construction (each shard " +
        "becomes one worker's contiguous output file), so the plan has " +
        "one partitioned window and two small aggregations — no global " +
        "sort, no driver state.",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val perSeq = t(s, d, "documents")
          .withColumn("ws_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long"))
          .withColumn("cum", sum(col("ws_tokens")).over(w))
          .withColumn("seq_id", expr(s"(cum - ws_tokens) div $SeqLen"))
          .groupBy(col("lang"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("seq_tokens"))
        perSeq.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_seqs"),
            sum(col("n_docs")).as("n_docs"),
            sum(col("seq_tokens")).as("total_tokens"),
            count(when(col("seq_tokens") >= SeqLen * 9 / 10, 1)).as("n_full"))
          .orderBy("lang")
      },
      Some(
        s"""SELECT lang, COUNT(*) AS n_seqs,
           |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           |  CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
           |  CAST(COUNT(*) FILTER (seq_tokens >= ${SeqLen * 9 / 10}) AS BIGINT) AS n_full
           |FROM (
           |  SELECT lang, seq_id, COUNT(*) AS n_docs,
           |    CAST(SUM(ws_tokens) AS BIGINT) AS seq_tokens
           |  FROM (
           |    SELECT lang,
           |      ws_tokens,
           |      (cum - ws_tokens) // $SeqLen AS seq_id
           |    FROM (
           |      SELECT lang, ws_tokens,
           |        SUM(ws_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |      FROM (
           |        SELECT lang, doc_id,
           |          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens
           |        FROM documents) raw) cums) binned
           |  GROUP BY 1, 2) per_seq
           |GROUP BY 1 ORDER BY lang""".stripMargin)),

    Q("c4_chunk_documents",
      "Overlapping-window document chunking — every doc is split into " +
        s"$ChunkLen-token chunks at stride $ChunkStride (the " +
        "context-window prep step between curation and tokenization: " +
        "long docs become several overlapping training rows, short " +
        "docs one). Pure per-row explode — token array built once per " +
        "doc, chunk starts from an integer sequence, no shuffle at " +
        "all until the output sort; at 100 TB this is a map-only " +
        "stage whose output is partitioned however the sink wants.",
      (s, d) => {
        t(s, d, "documents")
          .withColumn("tk", split(trim(col("text")), "\\s+"))
          .withColumn("start",
            explode(sequence(lit(0L),
              greatest(size(col("tk")).cast("long") - 1L, lit(0L)),
              lit(ChunkStride))))
          .withColumn("chunk",
            slice(col("tk"), col("start") + 1, lit(ChunkLen.toInt)))
          .select(col("doc_id"), col("start").as("chunk_start"),
            size(col("chunk")).cast("long").as("n_tokens"),
            array_join(col("chunk"), " ").as("chunk_text"))
          .orderBy("doc_id", "chunk_start")
      },
      Some(
        s"""SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
           |  CAST(len(tk[start + 1 : start + $ChunkLen]) AS BIGINT) AS n_tokens,
           |  array_to_string(tk[start + 1 : start + $ChunkLen], ' ') AS chunk_text
           |FROM (
           |  SELECT doc_id, tk,
           |    UNNEST(generate_series(0, GREATEST(len(tk) - 1, 0), $ChunkStride)) AS start
           |  FROM (
           |    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
           |    FROM documents) toks) starts
           |ORDER BY doc_id, chunk_start""".stripMargin)),

    Q("c5_length_buckets",
      "Length-bucketed batching — fixed-shape accelerator batches pad " +
        "every sequence to the batch max, so batching docs of wildly " +
        "different lengths together burns compute on pad tokens. Band " +
        "docs by whitespace-token count (width-32 bands), form batches " +
        "of 8 within each band in (tokens, doc_id) order, pad each " +
        "batch to its own max, and emit per-band batch/padding " +
        "accounting with the pad fraction — the number a batching " +
        "config is tuned on. At 100 TB: one shuffle on the band key " +
        "for the in-band window, then band-local aggregation; no " +
        "global sort anywhere.",
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
          .withColumn("band", (col("tokens") / 32).cast("long"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band")).orderBy(col("tokens"), col("doc_id"))
        val batched = toks.withColumn("rn", row_number().over(w))
          .withColumn("batch", ((col("rn") - 1) / 8).cast("long"))
        batched.groupBy(col("band"), col("batch"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tokens")).as("batch_tokens"),
            max(col("tokens")).as("batch_max"))
          .groupBy(col("band"))
          .agg(sum(col("n_docs")).as("n_docs"),
            count(lit(1)).as("n_batches"),
            sum(col("batch_tokens")).as("real_tokens"),
            sum(col("batch_max") * col("n_docs")).as("padded_tokens"))
          .withColumn("pad_frac",
            (col("padded_tokens") - col("real_tokens")).cast("double") /
              col("padded_tokens").cast("double"))
          .orderBy("band")
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
          |  FROM documents),
          |banded AS (SELECT doc_id, tokens, tokens // 32 AS band FROM toks),
          |batched AS (
          |  SELECT band, tokens,
          |    (ROW_NUMBER() OVER (PARTITION BY band
          |       ORDER BY tokens, doc_id) - 1) // 8 AS batch
          |  FROM banded),
          |per_batch AS (
          |  SELECT band, batch, COUNT(*) AS n_docs,
          |    SUM(tokens) AS batch_tokens, MAX(tokens) AS batch_max
          |  FROM batched GROUP BY 1, 2)
          |SELECT band, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
          |  COUNT(*) AS n_batches,
          |  CAST(SUM(batch_tokens) AS BIGINT) AS real_tokens,
          |  CAST(SUM(batch_max * n_docs) AS BIGINT) AS padded_tokens,
          |  CAST(SUM(batch_max * n_docs) - SUM(batch_tokens) AS DOUBLE)
          |    / CAST(SUM(batch_max * n_docs) AS DOUBLE) AS pad_frac
          |FROM per_batch GROUP BY 1 ORDER BY band""".stripMargin)),

    Q("c6_domain_cap",
      "Per-domain capping — over-represented sources drown a training " +
        "mixture, so curation caps each source at K docs. The kept set " +
        "must be reproducible with no stored state: docs rank within " +
        "their source by (content hash, doc_id) — graft_strhash, the " +
        "t5-proven cross-engine fold — and rank <= K survives. Emits " +
        "per-source before/after counts plus the kept-id sum (an " +
        "order-independent exact witness of WHICH docs survived). One " +
        "window shuffle on the source key at 100 TB; source " +
        "cardinality is domains, not docs, so skew salts the same way " +
        "e7 does if one domain dominates.",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(expr("graft_strhash(text)"), col("doc_id"))
        t(s, d, "documents")
          .withColumn("rn", row_number().over(w))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rn") <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rn") <= DomainCap, col("doc_id")).otherwise(0L))
              .as("kept_docid_sum"))
          .orderBy("source")
      },
      Some(
        s"""SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN rn <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  CAST(SUM(CASE WHEN rn <= $DomainCap THEN doc_id ELSE 0 END) AS BIGINT)
           |    AS kept_docid_sum
           |FROM (
           |  SELECT source, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
           |      list_reduce(list_prepend(CAST(0 AS BIGINT),
           |        list_transform(regexp_extract_all(text, '(?s).'),
           |          c -> CAST(ascii(c) AS BIGINT))),
           |        (acc, c) -> (acc * 31 + c) % 1000000007), doc_id) AS rn
           |  FROM documents) r
           |GROUP BY 1 ORDER BY source""".stripMargin)),

    Q("c7_temperature_mixture",
      "Temperature-flattened domain mixture (alpha = 0.5, the " +
        "published multilingual-sampling smoothing): each source's " +
        "retention rate is sqrt(n_source / n_max) — large domains " +
        "sample at 1.0, small domains are boosted relatively — and a " +
        "doc survives iff its content hash lands under the rate. Rates " +
        "are derived from an exact integer count via single correctly- " +
        "rounded IEEE ops (divide, sqrt, multiply, floor), so both " +
        "engines compute bit-identical thresholds; the keep decision " +
        "is the t5-proven polynomial hash, no RNG. At 100 TB: one " +
        "map-side-combined count over the domain key (domains, not " +
        "docs), rates broadcast back, then a map-only filter — the " +
        "doc-level data never shuffles.",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("ws_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long"))
          .withColumn("h",
            expr("pmod(graft_strhash(concat(cast(doc_id as string), " +
              "':', source, ':temp')), 100000)"))
        // n_max via a window over the DOMAIN-cardinality counts frame
        // (single partition of ~tens of rows by construction) — a
        // crossJoin with counts.agg(max) would re-aggregate the corpus
        // scan a second time instead.
        val counts = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_total"))
        val rates = counts
          .withColumn("n_max", max(col("n_total"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy()))
          .withColumn("rate_1e5",
            floor(sqrt(col("n_total").cast("double") /
              col("n_max").cast("double")) * 100000.0).cast("long"))
          .select(col("source"), col("n_total"), col("rate_1e5"))
        docs.join(broadcast(rates), "source")
          .withColumn("kept", col("h") < col("rate_1e5"))
          .groupBy(col("source"))
          .agg(first(col("n_total")).as("n_total"),
            first(col("rate_1e5")).as("rate_1e5"),
            count(when(col("kept"), 1)).as("n_kept"),
            coalesce(sum(when(col("kept"), col("ws_tokens"))), lit(0L))
              .as("tokens_kept"))
          .orderBy("source")
      },
      Some(
        """WITH toks AS (
          |  SELECT source,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |      AS ws_tokens,
          |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
          |       list_transform(regexp_extract_all(
          |         CAST(doc_id AS VARCHAR) || ':' || source || ':temp',
          |         '(?s).'),
          |         c -> CAST(ascii(c) AS BIGINT))),
          |       (acc, c) -> (acc * 31 + c) % 1000000007) % 100000) AS h
          |  FROM documents),
          |counts AS (SELECT source, COUNT(*) AS n_total FROM toks GROUP BY 1),
          |rates AS (
          |  SELECT source, n_total,
          |    CAST(FLOOR(SQRT(CAST(n_total AS DOUBLE) /
          |      (SELECT CAST(MAX(n_total) AS DOUBLE) FROM counts)) * 100000)
          |      AS BIGINT) AS rate_1e5
          |  FROM counts)
          |SELECT t.source, r.n_total, r.rate_1e5,
          |  CAST(COUNT(*) FILTER (t.h < r.rate_1e5) AS BIGINT) AS n_kept,
          |  CAST(COALESCE(SUM(ws_tokens) FILTER (t.h < r.rate_1e5), 0)
          |    AS BIGINT) AS tokens_kept
          |FROM toks t JOIN rates r USING (source)
          |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin)),

    Q("c9_token_budget",
      "Data-recipe planner (the Gopher/Chinchilla-style mixture " +
        "budget sheet): given a target training budget of 10M tokens, " +
        "allocate per-source token targets proportional to " +
        "sqrt(n_tokens) — the temperature-flattened weights c7 " +
        "samples by — and report each source's weight, target, and " +
        "implied epoch count (target / available; > 1 means the " +
        "source repeats). The normalizer Z = sum of sqrt(n_s) is a " +
        "cross-source DOUBLE sum, which a plain agg would make " +
        "order-nondeterministic: instead both engines fold the " +
        "source-sorted value list in index order (the a4 sorted-fold " +
        "pattern), so Z — and every weight derived from it — is " +
        "bit-identical. All other arithmetic is exact-integer or " +
        "single correctly-rounded IEEE ops. At 100 TB: one map-side- " +
        "combined token count over the domain key; the sorted fold " +
        "runs over the DOMAIN-cardinality frame (tens of rows by " +
        "construction); doc rows never shuffle.",
      (s, d) => {
        val budget = 10000000L
        val counts = t(s, d, "documents")
          .withColumn("ws_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("n_tokens"))
        val z = counts.agg(expr(
          "aggregate(array_sort(collect_list(struct(source as s, " +
            "sqrt(cast(n_tokens as double)) as v))), " +
            "cast(0 as double), (acc, x) -> acc + x.v)").as("z"))
        counts.crossJoin(broadcast(z))
          .withColumn("weight",
            sqrt(col("n_tokens").cast("double")) / col("z"))
          .withColumn("target_tokens",
            floor(lit(budget.toDouble) * col("weight")).cast("long"))
          .withColumn("epochs",
            col("target_tokens").cast("double") /
              col("n_tokens").cast("double"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("weight"), col("target_tokens"), col("epochs"))
          .orderBy("source")
      },
      Some(
        """WITH counts AS (
          |  SELECT source, COUNT(*) AS n_docs,
          |    CAST(SUM(len(string_split_regex(trim(text), '\s+')))
          |      AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY 1),
          |z AS (
          |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
          |    list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
          |    (acc, x) -> acc + x) AS z
          |  FROM counts)
          |SELECT source, n_docs, n_tokens,
          |  sqrt(CAST(n_tokens AS DOUBLE)) / z.z AS weight,
          |  CAST(floor(10000000.0 * (sqrt(CAST(n_tokens AS DOUBLE)) / z.z))
          |    AS BIGINT) AS target_tokens,
          |  CAST(CAST(floor(10000000.0 * (sqrt(CAST(n_tokens AS DOUBLE))
          |      / z.z)) AS BIGINT) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
          |    AS epochs
          |FROM counts, z ORDER BY source""".stripMargin)),

    Q("c9b_token_budget_bpe",
      "c9's data-recipe planner re-based on REAL encoded tokens — " +
        "t16's BPE token counts replace whitespace word counts as the " +
        "budget denomination, so the per-source targets and epoch " +
        "counts are the ones a training run would actually bill " +
        "(every whitespace-token budget overstates multi-symbol words " +
        "and understates merge savings). Same sqrt-weight allocation, " +
        "same sorted-fold normalizer Z, same exact-arithmetic " +
        "discipline as c9; the only change is the token census " +
        "feeding it — the memoized t16 frame joined to the doc's " +
        "source, so encode runs once per corpus no matter how many " +
        "budget sheets read it. (Docs whose text is all whitespace " +
        "have no words and drop from the census on both engines.) " +
        "At 100 TB: the doc-level token frame is corpus-sized but the " +
        "budget agg keys on source — tens of rows; nothing new " +
        "shuffles beyond t16's own one (doc_id, word) exchange.",
      (s, d) => {
        val budget = 10000000L
        val counts = TextQueries.bpeDocTokens(s, d)
          .join(t(s, d, "documents").select(col("doc_id"), col("source")),
            Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bpe_tokens")).as("n_tokens"))
        val z = counts.agg(expr(
          "aggregate(array_sort(collect_list(struct(source as s, " +
            "sqrt(cast(n_tokens as double)) as v))), " +
            "cast(0 as double), (acc, x) -> acc + x.v)").as("z"))
        counts.crossJoin(broadcast(z))
          .withColumn("weight",
            sqrt(col("n_tokens").cast("double")) / col("z"))
          .withColumn("target_tokens",
            floor(lit(budget.toDouble) * col("weight")).cast("long"))
          .withColumn("epochs",
            col("target_tokens").cast("double") /
              col("n_tokens").cast("double"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("weight"), col("target_tokens"), col("epochs"))
          .orderBy("source")
      },
      Some(
        s"""WITH ${TextQueries.BpeDocTokCteSql},
           |counts AS (
           |  SELECT source, COUNT(*) AS n_docs,
           |    CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_tokens
           |  FROM doctok JOIN documents USING (doc_id) GROUP BY 1),
           |z AS (
           |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
           |    list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
           |    (acc, x) -> acc + x) AS z
           |  FROM counts)
           |SELECT source, n_docs, n_tokens,
           |  sqrt(CAST(n_tokens AS DOUBLE)) / z.z AS weight,
           |  CAST(floor(10000000.0 * (sqrt(CAST(n_tokens AS DOUBLE)) / z.z))
           |    AS BIGINT) AS target_tokens,
           |  CAST(CAST(floor(10000000.0 * (sqrt(CAST(n_tokens AS DOUBLE))
           |      / z.z)) AS BIGINT) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           |    AS epochs
           |FROM counts, z ORDER BY source""".stripMargin),
      artifacts = Seq(TextQueries.BpeTokens)),

    Q("c8_corpus_shuffle",
      "Deterministic epoch shuffle + sharding — the training-order " +
        "permutation every epoch needs: shard = content_hash(doc_id, " +
        "epoch_seed) mod 8, position within shard by (hash, doc_id) " +
        "order. Seed-reproducible with no RNG state to ship, and any " +
        "worker can compute any doc's (shard, neighborhood) locally. " +
        "Emits per-shard doc/token counts, the hash range, and an " +
        "order-sensitive witness (sum of doc_id * position) proving " +
        "both engines assign the SAME permutation, not just the same " +
        "membership. At 100 TB this is exactly one hash-partition " +
        "shuffle — the op IS the shuffle — plus a shard-local sort; " +
        "shards are uniform by construction (hash balance), so no " +
        "skew handling is needed.",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        t(s, d, "documents")
          .withColumn("ws_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long"))
          .withColumn("h",
            expr("graft_strhash(concat(cast(doc_id as string), ':epoch1'))"))
          .withColumn("shard", pmod(col("h"), lit(8)).cast("long"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("n_tokens"),
            min(col("h")).as("min_hash"),
            max(col("h")).as("max_hash"),
            sum(col("doc_id") * col("pos")).as("order_witness"))
          .orderBy("shard")
      },
      Some(
        """WITH hashed AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |      AS ws_tokens,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(regexp_extract_all(
          |        CAST(doc_id AS VARCHAR) || ':epoch1', '(?s).'),
          |        c -> CAST(ascii(c) AS BIGINT))),
          |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
          |  FROM documents),
          |positioned AS (
          |  SELECT doc_id, ws_tokens, h, h % 8 AS shard,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY h % 8
          |      ORDER BY h, doc_id) AS BIGINT) AS pos
          |  FROM hashed)
          |SELECT shard, COUNT(*) AS n_docs,
          |  CAST(SUM(ws_tokens) AS BIGINT) AS n_tokens,
          |  CAST(MIN(h) AS BIGINT) AS min_hash,
          |  CAST(MAX(h) AS BIGINT) AS max_hash,
          |  CAST(SUM(doc_id * pos) AS BIGINT) AS order_witness
          |FROM positioned GROUP BY 1 ORDER BY shard""".stripMargin)),

    Q("c10_weighted_sample",
      "Quality-weighted corpus sampling WITHOUT replacement — pick k " +
        "docs with probability proportional to an integer quality " +
        "weight, deterministically. The Efraimidis-Spirakis (2006) " +
        "exponential-key sampler reduced to EXACT integer arithmetic: " +
        "for integer weight w, expand the doc into w replicas, hash " +
        "each replica (polynomial content hash — no RNG state, no " +
        "transcendental math whose last-ulp differences would split " +
        "engines), and rank docs by their MINIMUM replica hash; the " +
        "k smallest win. A doc with twice the weight has twice the " +
        "draws at the bottom of the order, so inclusion odds scale " +
        "with weight, and every engine that can fold a polynomial " +
        "hash reproduces the exact sample. At 100 TB: the expansion " +
        "is bounded by max weight (5x rows, cheap column set), the " +
        "per-doc min is a map-side-combinable aggregate, and the " +
        "global k-smallest is TakeOrderedAndProject (per-partition " +
        "top-k, then a k-row merge on one reducer — never a global " +
        "sort). Weight here is a length-tier stand-in (1 + min(4, " +
        "chars/200)) for any curated integer quality score.",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("weight",
            (lit(1L) + least(lit(4L), expr("n_chars div 200"))))
        docs
          .withColumn("i", explode(expr("sequence(1L, weight)")))
          .withColumn("rkey", expr(
            "graft_strhash(concat(cast(doc_id as string), ':', cast(i as string)))"))
          .groupBy(col("doc_id"), col("weight"))
          .agg(min(col("rkey")).as("sample_key"))
          .orderBy(col("sample_key"), col("doc_id"))
          .limit(25)
      },
      Some {
        val fold = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(regexp_extract_all(" +
          "CAST(doc_id AS VARCHAR) || ':' || CAST(u.i AS VARCHAR), '(?s).'), " +
          "c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007)"
        s"""WITH ex AS (
           |  SELECT doc_id, 1 + least(4, n_chars // 200) AS weight,
           |    $fold AS rkey
           |  FROM documents,
           |    LATERAL UNNEST(range(1, CAST(1 + least(4, n_chars // 200) AS BIGINT) + 1)) u(i))
           |SELECT doc_id, CAST(weight AS BIGINT) AS weight,
           |  CAST(MIN(rkey) AS BIGINT) AS sample_key
           |FROM ex GROUP BY 1, 2
           |ORDER BY sample_key, doc_id LIMIT 25""".stripMargin
      }),

    Q("c11_split_repair",
      "Contamination-aware split repair — the ACTION d14's report " +
        "calls for: every eval doc sharing a verbatim token-13-gram " +
        "with training is dropped from its eval split (dropping from " +
        "eval keeps the benchmark honest without shrinking training " +
        "— the standard remedy), and the repaired split census ships " +
        "with a kept-doc_id-sum witness (the c6 convention) proving " +
        "WHICH docs survived, not just how many. Reuses d14's " +
        "memoized gram index and digest-first hit pipeline (built " +
        "once per corpus per session) plus the same oracle CTE chain " +
        "— the Spark code and the SQL twin share one hits definition, " +
        "so report and repair can never disagree about who is dirty. " +
        "At 100 TB: one extra benchmark-sized anti-join over the " +
        "d14 machinery, then a split-cardinality aggregate.",
      (s, d) => {
        val dirty = DedupQueries.evalNgramHits(s, d)
          .select(col("doc_id"), col("split")).distinct()
          .withColumn("is_dirty", lit(true))
        DedupQueries.taggedSplits(s, d)
          .filter(col("split") =!= "train")
          .select(col("doc_id"), col("split"))
          .join(dirty, Seq("doc_id", "split"), "left")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs_before"),
            count(when(col("is_dirty"), 1)).as("n_dropped"),
            count(when(col("is_dirty").isNull, 1)).as("n_docs_after"),
            coalesce(sum(when(col("is_dirty").isNull, col("doc_id"))),
              lit(0L)).as("kept_docid_sum"))
          .orderBy("split")
      },
      Some(
        s"""WITH ${DedupQueries.EvalNgramHitsSql},
           |dirty AS (SELECT DISTINCT doc_id, split FROM hits)
           |SELECT s.split, COUNT(*) AS n_docs_before,
           |  COUNT(*) FILTER (d.doc_id IS NOT NULL) AS n_dropped,
           |  COUNT(*) FILTER (d.doc_id IS NULL) AS n_docs_after,
           |  CAST(COALESCE(SUM(s.doc_id) FILTER (d.doc_id IS NULL), 0)
           |    AS BIGINT) AS kept_docid_sum
           |FROM sp s LEFT JOIN dirty d
           |  ON s.doc_id = d.doc_id AND s.split = d.split
           |WHERE s.split != 'train' GROUP BY 1 ORDER BY s.split""".stripMargin),
      artifacts = Seq(DedupQueries.EvalGrams)),

    Q("c13_stratified_eval",
      "Stratified eval-set sampling — up to 5 docs per (lang, " +
        "length-bucket) stratum, selected by content-hash order " +
        "(md5(text), doc_id tiebreak): the balanced-eval-set builder " +
        "that guarantees every language x length cell is represented " +
        "without an RNG (reproducible on any cluster, any partitioning " +
        "— the c2 hash-predicate philosophy applied to PER-STRATUM " +
        "exact-k selection, which a Bernoulli hash filter cannot " +
        "give). Scale shape: ONE shuffle on the stratum key; the " +
        "rank-and-keep window is per-stratum (bounded cardinality), " +
        "docs never sort globally; md5 is computed at the scan.",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("len_bucket"))
          .orderBy(col("h"), col("doc_id"))
        t(s, d, "documents")
          .withColumn("len_bucket", expr("n_chars div 200"))
          .withColumn("h", md5(col("text")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("lang"), col("len_bucket"), col("rk"), col("doc_id"))
          .orderBy("lang", "len_bucket", "rk")
      },
      Some(
        """SELECT lang, len_bucket, rk, doc_id FROM (
          |  SELECT lang, n_chars // 200 AS len_bucket, doc_id,
          |    CAST(ROW_NUMBER() OVER (
          |      PARTITION BY lang, n_chars // 200
          |      ORDER BY md5(text), doc_id) AS BIGINT) AS rk
          |  FROM documents)
          |WHERE rk <= 5 ORDER BY lang, len_bucket, rk""".stripMargin)),

    Q("c14_cluster_representative",
      "Quality-ranked cluster representative selection — the " +
        "RefinedWeb/FineWeb-style 'keep the BEST copy' policy: for " +
        "every near-dup cluster (d7's simhash hamming<=3 connected " +
        "components, read from the shared per-corpus label memo), the " +
        "kept representative is the member with the HIGHEST t13 " +
        "quality score (ties -> lower doc_id) instead of d10's " +
        "min-doc_id convention — the policy choice a production " +
        "pipeline actually tunes, since near-dup clusters often mix a " +
        "clean original with boilerplate-wrapped copies. Emits one " +
        "row per cluster: member census, doc_id-sum witness, the " +
        "chosen representative and its score. All-integer arithmetic " +
        "(t13's x1000 weight sum), so the oracle reproduces the " +
        "choice exactly. At 100 TB: quality is a map-only scan " +
        "(hashed weights live in the expression); the join to labels " +
        "is id-keyed (labels are pair-participant cardinality, far " +
        "below corpus mass); the representative is a min(struct) " +
        "aggregate at cluster cardinality — map-side combinable, " +
        "skew-proof (the d15 tie-break discipline), never a " +
        "count-over-window; doc text never moves.",
      (s, d) => {
        val wsum = expr("graft_wsum(tk)")
        val q = t(s, d, "documents")
          .withColumn("tk", split(trim(col("text")), "\\s+"))
          .select(col("doc_id"), wsum.as("wsum"))
        val labels = DedupQueries.ccLabelsSimhash(s, d)
        labels.join(q, labels("v") === q("doc_id"))
          .groupBy(col("l").as("cluster"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("doc_id")).as("member_docid_sum"),
            min(struct((-col("wsum")).as("nw"), col("doc_id").as("id")))
              .as("best"))
          .select(col("cluster"), col("n_members"),
            col("member_docid_sum"), col("best.id").as("rep_doc_id"),
            (-col("best.nw")).as("rep_wsum"))
          .orderBy("cluster")
      },
      Some(
        s"""WITH RECURSIVE
           |${DedupQueries.SimhashDocsSql},
           |${DedupQueries.SimhashClosureSql},
           |scored AS (
           |  SELECT doc_id,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(string_split_regex(trim(text), '\\s+'),
           |        tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           |          list_transform(regexp_extract_all(tok, '(?s).'),
           |            ch -> CAST(ascii(ch) AS BIGINT))),
           |          (a2, c2) -> (a2 * 31 + c2) % 1000000007) % 2001
           |          - 1000)),
           |      (acc, x) -> acc + x) AS wsum
           |  FROM documents),
           |m AS (
           |  SELECT comp.cluster, comp.v AS doc_id, s.wsum
           |  FROM comp JOIN scored s ON comp.v = s.doc_id),
           |agg AS (
           |  SELECT cluster, COUNT(*) AS n_members,
           |    CAST(SUM(doc_id) AS BIGINT) AS member_docid_sum
           |  FROM m GROUP BY 1),
           |rep AS (
           |  SELECT cluster, doc_id AS rep_doc_id, wsum AS rep_wsum,
           |    ROW_NUMBER() OVER (PARTITION BY cluster
           |      ORDER BY wsum DESC, doc_id) AS rn
           |  FROM m)
           |SELECT a.cluster, a.n_members, a.member_docid_sum,
           |  r.rep_doc_id, r.rep_wsum
           |FROM agg a JOIN rep r ON a.cluster = r.cluster AND r.rn = 1
           |ORDER BY a.cluster""".stripMargin))
  )

  /** Chunk window length / stride in whitespace tokens — stride <
    * length gives overlapping context windows (the fixture docs run
    * ~50-90 tokens, so many docs produce several chunks at these
    * values).
    */
  private val ChunkLen = 64L
  private val ChunkStride = 48L
}
