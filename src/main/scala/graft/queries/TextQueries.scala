package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Functions, Graft}

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting (whitespace + BPE-ish regex),
  * quality scoring, language-ID heuristic, and document fingerprinting
  * (md5 + polynomial rolling hash).
  *
  * All logic is deterministic and whole-stage-codegen-friendly (pure
  * `org.apache.spark.sql.functions` expressions — no UDFs), so each query
  * carries an exact DuckDB oracle. At 100 TB these are embarrassingly
  * parallel scans: no shuffle except the final small-key aggregation.
  */
object TextQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  /** Language marker words; counted via the non-overlapping replace
    * trick, identical semantics in Spark and DuckDB.
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and "),
    "de" -> Seq(" der ", " und "),
    "es" -> Seq(" el ", " los "),
    "fr" -> Seq(" le ", " et "))

  private def occurrences(textCol: String, kw: String) =
    ((length(col(textCol)) - length(replace(col(textCol), lit(kw)))) /
      kw.length).cast("long")

  private def occurrencesSql(kw: String): String =
    s"CAST((length(text) - length(replace(text, '$kw', ''))) / ${kw.length} AS BIGINT)"

  /** PII regexes (pattern → redaction tag) for t7. Every pattern is
    * written in the common subset of Java regex (Spark executors) and
    * RE2 (the DuckDB oracle): ASCII character classes, bounded
    * repetition, and `\b` word boundaries only — no backreferences or
    * lookaround, which RE2 rejects. Patterns are embedded verbatim in
    * a single-quoted DuckDB string literal, so they must also contain
    * no single quotes (DuckDB standard strings pass backslashes
    * through untouched). Scrub order is the Seq order on both engines.
    */
  private[graft] val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "EMAIL",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "SSN",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "PHONE",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "IP")

  /** Whole-word denylist terms for t7, chosen from tokens that occur in
    * the synthetic corpus (e.g. "spark" appears ~900× at sf0.01) so the
    * denylist arm and the scrub checksum demonstrably fire under the
    * driver's oracle gate, not only on the planted TextSpec fixture.
    */
  private[graft] val DenyTerms: Seq[String] = Seq("spark", "vector", "stream")

  /** DuckDB twin of [[Functions.qualityScored]]'s score column — ONE
    * SQL rendering of the length/punctuation/token-count thresholds,
    * shared by every oracle that re-states the quality score (t2, x9,
    * x10), mirroring how the Spark side shares the one helper: a
    * threshold change lands in both engines everywhere or nowhere.
    */
  private[queries] val QualityScoreSql: String =
    """(CASE WHEN length(text) >= 200 THEN 0.5 ELSE 0.0 END)
      |    + (CASE WHEN length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) = 0 THEN 0.25 ELSE 0.0 END)
      |    + (CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 30 THEN 0.25 ELSE 0.0 END)""".stripMargin

  /** Number of BPE merges applied by t16/c9b — t12's top-20 list. */
  private[graft] val BpeMerges = 20

  /** Per-document BPE-encoded token counts: t12's learned merge list
    * APPLIED — the step that closes the tokenizer loop, so token-
    * denominated operators can bill real encoded tokens instead of
    * whitespace words.
    *
    * Encoding semantics (deterministic, engine-portable): each vocab
    * word is rendered with every character WRAPPED ("abc" →
    * "<a><b><c>"), then t12's merges are folded in rank order, each
    * one a LITERAL leftmost non-overlapping replace-all of "<a><b>"
    * with "<ab>" — precisely the greedy left-to-right pair merge,
    * with no regex in the hot loop. Both-side wrapping is load-
    * bearing twice: adjacent tokens share no delimiter (so an
    * adjacent eligible pair right after a replaced one still
    * matches — a run of four 'a's merges into two "aa"s), and a
    * pattern can only match COMPLETE tokens (with prefix-only
    * delimiters, "<b><a>" would false-match a following token that
    * merely STARTS with 'a', e.g. the "an" of banana — caught by the
    * TextSpec list-fold replica). Token count = '<' count. Words
    * outside the t12 vocabulary (digits, punctuation, single
    * letters) bill 1 token each — the single-symbol fallback.
    *
    * Scale shape (the t12 trick, extended): ONE (doc_id, word) shuffle
    * with map-side combine carries the corpus; vocabulary, merge list,
    * and the encode fold all run over DISTINCT words (millions at
    * 100 TB, not trillions of corpus tokens); the encoded vocab joins
    * back broadcast (or as a word-keyed shuffle join when the vocab
    * outgrows broadcast). Memoized per corpus: t16 reports it, c9b
    * budgets on it, one computation.
    */
  private[graft] def bpeDocTokens(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"bpe_doc_tokens:$d", "bpe_doc_tokens",
      bpeDocTokensPlan(s, d))

  /** The BPE-encoded corpus, read by t16 and c9b. */
  val BpeTokens: Artifact = Artifact("bpe_token_corpus_build",
    (s, d) => bpeDocTokens(s, d): Unit)

  /** The un-memoized computation (separate so PlanSpec can assert the
    * plan shape BEFORE materialization hides it behind a parquet scan).
    */
  private[graft] def bpeDocTokensPlan(s: SparkSession, d: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("pair_count").desc, col("pair"))
      val docWords = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("cnt"))
      val vocab = docWords
        .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
        .groupBy(col("word")).agg(sum(col("cnt")).as("wcount"))
      // t12's merge list verbatim: adjacent-pair counts weighted by
      // word frequency, top-BpeMerges in (count desc, pair) rank order,
      // collapsed to ONE array row for the broadcast into the encoder.
      val merges = vocab
        .withColumn("i", explode(sequence(lit(1), length(col("word")) - 1)))
        .select(expr("substring(word, i, 2)").as("pair"), col("wcount"))
        .groupBy(col("pair")).agg(sum(col("wcount")).as("pair_count"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= BpeMerges)
        .agg(expr("transform(array_sort(collect_list(struct(rank, pair))), " +
          "x -> x.pair)").as("ms"))
      val enc = vocab.select(col("word")).crossJoin(broadcast(merges))
        .withColumn("e", expr(
          "aggregate(ms, regexp_replace(word, '(.)', '<$1>'), (acc, m) -> " +
            "replace(acc, concat('<', substring(m, 1, 1), '><', " +
            "substring(m, 2, 1), '>'), concat('<', m, '>')))"))
        .select(col("word"),
          (length(col("e")) - length(translate(col("e"), "<", "")))
            .cast("long").as("n_tok"),
          length(col("word")).cast("long").as("n_base"))
      docWords.join(broadcast(enc), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * coalesce(col("n_base"), lit(1L)))
            .as("n_base_tokens"),
          sum(col("cnt") * coalesce(col("n_tok"), lit(1L)))
            .as("n_bpe_tokens"))
  }

  /** DuckDB twin of [[bpeDocTokens]] as a CTE prefix ending in
    * `doctok(doc_id, n_words, n_base_tokens, n_bpe_tokens)` — shared by
    * the t16 and c9b oracles so the encode definition cannot drift
    * between the report and the budget built on it.
    */
  private[queries] val BpeDocTokCteSql: String =
    s"""docw AS (
       |  SELECT doc_id, word, COUNT(*) AS cnt FROM (
       |    SELECT doc_id,
       |      UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS word
       |    FROM documents) w
       |  WHERE len(word) > 0 GROUP BY 1, 2),
       |vocab AS (
       |  SELECT word, SUM(cnt) AS wcount FROM docw
       |  WHERE regexp_matches(word, '^[a-z]+$$') AND len(word) >= 2
       |  GROUP BY 1),
       |positions AS (
       |  SELECT word, wcount, UNNEST(generate_series(1, len(word) - 1)) AS i
       |  FROM vocab),
       |prs AS (
       |  SELECT substr(word, CAST(i AS INT), 2) AS pair,
       |    SUM(wcount) AS pair_count
       |  FROM positions GROUP BY 1),
       |ranked AS (
       |  SELECT pair, ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
       |    AS rank FROM prs),
       |merges AS (SELECT list(pair ORDER BY rank) AS ms FROM ranked
       |  WHERE rank <= $BpeMerges),
       |enc AS (
       |  SELECT word,
       |    CAST(length(e) - length(replace(e, '<', '')) AS BIGINT) AS n_tok,
       |    CAST(len(word) AS BIGINT) AS n_base
       |  FROM (
       |    SELECT word,
       |      list_reduce(
       |        list_prepend(regexp_replace(word, '(.)', '<\\1>', 'g'), ms),
       |        (acc, m) -> replace(acc,
       |          '<' || m[1] || '><' || m[2] || '>', '<' || m || '>')) AS e
       |    FROM vocab, merges) t),
       |doctok AS (
       |  SELECT doc_id,
       |    CAST(SUM(cnt) AS BIGINT) AS n_words,
       |    CAST(SUM(cnt * COALESCE(n_base, 1)) AS BIGINT) AS n_base_tokens,
       |    CAST(SUM(cnt * COALESCE(n_tok, 1)) AS BIGINT) AS n_bpe_tokens
       |  FROM docw LEFT JOIN enc USING (word) GROUP BY 1)""".stripMargin

  def all: Seq[Q] = Seq(

    Q("t1_token_stats",
      "Token counting — whitespace tokens + BPE-ish regex tokens per " +
        "doc, rolled up per language (training-pipeline token budget)",
      (s, d) => t(s, d, "documents")
        .withColumn("ws_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("bpe_tokens",
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("total_ws_tokens"),
          sum(col("bpe_tokens")).as("total_bpe_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang"),
      Some(
        """SELECT lang, COUNT(*) AS n_docs,
          |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_ws_tokens,
          |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin)),

    Q("t2_quality_score",
      "Quality scoring — length / punctuation / token-count heuristics " +
        "combined into a per-doc score, averaged per source",
      (s, d) => {
        val scored = Functions.qualityScored(t(s, d, "documents"))
        scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            Functions.dsum(col("score")).as("total_score"))
          .withColumn("avg_score", col("total_score") / col("n_docs"))
          .orderBy("source")
      },
      Some(
        s"""SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE) AS total_score,
           |  CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_score
           |FROM (
           |  SELECT source,
           |    $QualityScoreSql AS score
           |  FROM documents) t
           |GROUP BY 1 ORDER BY source""".stripMargin)),

    Q("t3_lang_id",
      "Language-ID heuristic — per-language marker-word counts, argmax " +
        "with a fixed tie-break, confusion matrix vs the labeled lang",
      (s, d) => {
        val scored = Markers.foldLeft(t(s, d, "documents")) {
          case (df, (lg, kws)) =>
            df.withColumn(s"s_$lg",
              kws.map(occurrences("text", _)).reduce(_ + _))
        }
        val guess =
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
            col("s_en") >= col("s_fr"), "en")
            .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
            .when(col("s_es") >= col("s_fr"), "es")
            .otherwise("fr")
        scored.withColumn("guess", guess)
          .groupBy(col("lang"), col("guess"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "guess")
      },
      Some {
        val score = Markers.map { case (lg, kws) =>
          s"(${kws.map(occurrencesSql).mkString(" + ")}) AS s_$lg"
        }.mkString(", ")
        s"""SELECT lang, guess, COUNT(*) AS n_docs FROM (
           |  SELECT lang,
           |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
           |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
           |         WHEN s_es >= s_fr THEN 'es'
           |         ELSE 'fr' END AS guess
           |  FROM (SELECT lang, text, $score FROM documents) raw) t
           |GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin
      }),

    Q("t5_hash_split",
      "Deterministic train/val/test split — every doc lands in a split " +
        "by a pure function of its id (graft_strhash mod 100: 80/10/10), " +
        "so the assignment is reproducible across runs, machines, and " +
        "engine versions, needs no shuffle or stored split table, and " +
        "any worker can answer 'which split?' locally — the way a " +
        "100 TB corpus is split for training",
      (s, d) => t(s, d, "documents")
        .withColumn("split", Splits.splitCol)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split"),
      Some(
        s"""SELECT split, COUNT(*) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           |  COUNT(DISTINCT lang) AS n_langs
           |FROM (
           |  SELECT lang, n_chars, ${Splits.SplitCaseSql} AS split
           |  FROM documents) t
           |GROUP BY 1 ORDER BY split""".stripMargin)),

    Q("t6_tfidf_topterms",
      "TF-IDF keyword extraction — term frequency per (doc, token) " +
        "joined to corpus document frequency, top-3 scoring terms per " +
        "doc for the first 20 docs. Uses the log-free idf ratio " +
        "(tf * N/df) so the score is exact integer-ratio arithmetic on " +
        "both engines (ln() is a libm call whose last ulp can differ " +
        "across runtimes — unacceptable in a hash-matched contract). " +
        "Scale shape: tf reads the per-corpus maintained term-frequency " +
        "table (the same (doc, token, tf) artifact BM25 scores from — " +
        "one tokenize pass per corpus, shared with t17/t19), df derives " +
        "from it by a vocab-cardinality groupBy (a doc contributes one " +
        "tf row per distinct token, so COUNT(*) per token IS document " +
        "frequency), and the report-side tf filter prunes to the " +
        "requested docs at the scan.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val tfAll = bm25TfIndex(s, d)
        val tf = tfAll.filter(col("doc_id") < 20)
        val df_ = tfAll.groupBy(col("tk")).agg(count(lit(1)).as("df"))
        // corpus size as a broadcast scalar subquery (1-row cross
        // join), not a driver .first() — keeps the whole plan lazy
        val n = docs.select(countDistinct(col("doc_id"))
          .cast("double").as("n_total"))
        val scored = tf.join(df_, Seq("tk")).crossJoin(broadcast(n))
          .withColumn("score",
            col("tf").cast("double") * col("n_total") / col("df"))
          .drop("n_total")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("tk"))
        scored.filter(col("doc_id") < 20)
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("tk"), col("score"))
          .orderBy("doc_id", "rnk")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, t.tk
          |  FROM documents, LATERAL UNNEST(string_split_regex(trim(text), '\s+')) t(tk)),
          |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
          |df AS (SELECT tk, COUNT(*) AS df
          |       FROM (SELECT DISTINCT doc_id, tk FROM tok) GROUP BY 1),
          |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
          |scored AS (
          |  SELECT tf.doc_id, tf.tk,
          |    CAST(tf.tf AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM n) / df.df AS score
          |  FROM tf JOIN df ON tf.tk = df.tk),
          |ranked AS (
          |  SELECT doc_id, tk, score,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
          |      ORDER BY score DESC, tk) AS BIGINT) AS rnk
          |  FROM scored WHERE doc_id < 20)
          |SELECT doc_id, rnk, tk, score FROM ranked
          |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    Q("t4_fingerprint",
      "Document fingerprinting — md5 digest + base-31 polynomial rolling " +
        "hash (mod 1e9+7), uniqueness per source",
      (s, d) => t(s, d, "documents")
        .withColumn("fp_md5", md5(col("text")))
        .withColumn("fp_roll", expr(
          "aggregate(filter(split(text, ''), c -> c != ''), 0L, " +
            "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp_md5")).as("n_md5"),
          countDistinct(col("fp_roll")).as("n_roll"),
          min(col("fp_roll")).as("min_roll"))
        .orderBy("source"),
      Some(
        """SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT md5(text)) AS n_md5,
          |  COUNT(DISTINCT fp_roll) AS n_roll,
          |  MIN(fp_roll) AS min_roll
          |FROM (
          |  SELECT source, text,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(regexp_extract_all(text, '(?s).'), c -> CAST(ascii(c) AS BIGINT))),
          |      (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
          |  FROM documents) t
          |GROUP BY 1 ORDER BY source""".stripMargin)),

    Q("t7_pii_scrub",
      "PII / sensitive-term scrubbing — regex redaction of emails, " +
        "phone numbers, SSNs, and IPv4 addresses plus whole-word " +
        "denylist terms, reported per source with a content checksum " +
        "of the scrubbed text (the standard pre-training scrub pass). " +
        "The synthetic corpus carries no regex-matching PII, so the " +
        "regex arm is additionally proven on a planted fixture in " +
        "TextSpec; the denylist arm and the checksum fire on the real " +
        "corpus.",
      (s, d) => {
        val pii = PiiPatterns.map { case (pat, tag) => (pat, s"[$tag]") }
        val deny = DenyTerms.map(t => (s"\\b$t\\b", "[TERM]"))
        val scrubbed = (pii ++ deny).foldLeft(col("text")) {
          case (c, (pat, rep)) => regexp_replace(c, pat, rep)
        }
        val counted = (pii ++ deny).map { case (pat, _) =>
          regexp_count(col("text"), lit(pat)).cast("long")
        }.reduce(_ + _)
        t(s, d, "documents")
          .withColumn("scrubbed", scrubbed)
          .withColumn("n_redactions", counted)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_redactions")).as("total_redactions"),
            count(when(col("n_redactions") > 0, 1)).as("n_docs_touched"),
            sum(expr("graft_strhash(scrubbed)")).as("scrub_checksum"))
          .orderBy("source")
      },
      Some {
        val repls = (PiiPatterns.map { case (p, t) => (p, s"[$t]") } ++
          DenyTerms.map(t => (s"\\b$t\\b", "[TERM]")))
        val scrubbed = repls.foldLeft("text") { case (c, (pat, rep)) =>
          s"regexp_replace($c, '$pat', '$rep', 'g')"
        }
        val counted = repls
          .map { case (pat, _) => s"len(regexp_extract_all(text, '$pat'))" }
          .mkString(" + ")
        s"""SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM($counted) AS BIGINT) AS total_redactions,
           |  CAST(COUNT(*) FILTER ($counted > 0) AS BIGINT) AS n_docs_touched,
           |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(regexp_extract_all($scrubbed, '(?s).'),
           |      c -> CAST(ascii(c) AS BIGINT))),
           |    (acc, c) -> (acc * 31 + c) % 1000000007)) AS BIGINT) AS scrub_checksum
           |FROM documents GROUP BY 1 ORDER BY source""".stripMargin
      }),

    Q("t8_repetition_quality",
      "Repetition-based quality filtering (Gopher-style) — per-doc " +
        "distinct-word ratio, most-frequent-word share, and duplicate " +
        "word-2-gram fraction, computed shuffle-free with array " +
        "higher-order functions; docs breaching the thresholds are " +
        "flagged, rolled up per lang. At 100 TB this is an " +
        "embarrassingly parallel scan — the only shuffle is the final " +
        "per-lang aggregation.",
      (s, d) => {
        val w = split(trim(col("text")), "\\s+")
        val base = t(s, d, "documents")
          .withColumn("w", w)
          .withColumn("n_words", size(col("w")).cast("long"))
          .withColumn("n_distinct", size(array_distinct(col("w"))).cast("long"))
          .withColumn("top_word_n",
            array_max(expr(
              "transform(array_distinct(w), x -> size(filter(w, y -> y = x)))"))
              .cast("long"))
          .withColumn("grams2", expr(
            "transform(sequence(1, size(w) - 1), " +
              "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .withColumn("n_2grams", size(col("grams2")).cast("long"))
          .withColumn("n_distinct_2grams",
            size(array_distinct(col("grams2"))).cast("long"))
          .withColumn("flagged",
            (col("top_word_n").cast("double") / col("n_words") > 0.2) ||
              ((lit(1.0) - col("n_distinct_2grams").cast("double") /
                col("n_2grams")) > 0.4))
        base.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("flagged"), 1)).as("n_flagged"),
            sum(col("n_distinct")).as("sum_distinct_words"),
            sum(col("n_words")).as("sum_words"),
            sum(col("n_distinct_2grams")).as("sum_distinct_2grams"),
            sum(col("n_2grams")).as("sum_2grams"))
          .orderBy("lang")
      },
      Some(
        """SELECT lang, COUNT(*) AS n_docs,
          |  CAST(COUNT(*) FILTER (
          |    CAST(top_word_n AS DOUBLE) / n_words > 0.2
          |    OR (1.0 - CAST(n_distinct_2grams AS DOUBLE) / n_2grams) > 0.4
          |  ) AS BIGINT) AS n_flagged,
          |  CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct_words,
          |  CAST(SUM(n_words) AS BIGINT) AS sum_words,
          |  CAST(SUM(n_distinct_2grams) AS BIGINT) AS sum_distinct_2grams,
          |  CAST(SUM(n_2grams) AS BIGINT) AS sum_2grams
          |FROM (
          |  SELECT lang,
          |    len(w) AS n_words,
          |    len(list_distinct(w)) AS n_distinct,
          |    list_max(list_transform(list_distinct(w),
          |      x -> len(list_filter(w, y -> y = x)))) AS top_word_n,
          |    len(w) - 1 AS n_2grams,
          |    len(list_distinct(list_transform(range(1, len(w)),
          |      i -> w[i] || ' ' || w[i + 1]))) AS n_distinct_2grams
          |  FROM (SELECT lang, string_split_regex(trim(text), '\s+') AS w
          |        FROM documents) t) g
          |GROUP BY 1 ORDER BY lang""".stripMargin)),

    Q("t9_vocab_topk",
      "Vocabulary induction — the tokenizer-training precursor: corpus " +
        "token counts, deterministic rank (count DESC, token ASC), " +
        "top-50 with cumulative coverage share of the total token " +
        "mass. Shape at 100 TB: one map-combinable groupBy to " +
        "vocab-cardinality, then top-k (TakeOrderedAndProject) and a " +
        "50-row window — the global ordering never touches corpus-" +
        "sized data.",
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("tk"))
        val counts = tok.groupBy(col("tk")).agg(count(lit(1)).as("n"))
        val total = counts.agg(sum(col("n")).as("total_n"))
        val top = counts.orderBy(col("n").desc, col("tk")).limit(50)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("tk"))
        top
          .withColumn("rank", row_number().over(w).cast("long"))
          .withColumn("cum_n", sum(col("n")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
          .crossJoin(broadcast(total))
          .withColumn("cum_share",
            col("cum_n").cast("double") / col("total_n"))
          .select(col("rank"), col("tk"), col("n"), col("cum_share"))
          .orderBy("rank")
      },
      Some(
        """WITH tok AS (
          |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tk
          |  FROM documents),
          |counts AS (SELECT tk, COUNT(*) AS n FROM tok GROUP BY 1),
          |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n FROM counts),
          |top AS (SELECT tk, n FROM counts ORDER BY n DESC, tk LIMIT 50),
          |ranked AS (
          |  SELECT tk, n,
          |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tk) AS BIGINT) AS rank,
          |    CAST(SUM(n) OVER (ORDER BY n DESC, tk
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
          |  FROM top)
          |SELECT rank, tk, n,
          |  CAST(cum_n AS DOUBLE) / (SELECT total_n FROM tot) AS cum_share
          |FROM ranked ORDER BY rank""".stripMargin)),

    Q("c1_corpus_curate",
      "End-to-end corpus curation flagship — the pass an LLM training " +
        "pipeline runs before tokenization: quality-score filter (t2 " +
        "heuristics), language allowlist, exact content dedup keeping " +
        "the lowest doc_id per fingerprint, then per (lang, source) " +
        "retention accounting incl. surviving token budget. Shape at " +
        "100 TB: one scan, one dedup shuffle on the 16-byte digest, one " +
        "small final aggregation.",
      (s, d) => {
        val scored = Functions.qualityScored(t(s, d, "documents"))
        val kept = scored
          .filter(col("score") >= 0.5 && col("lang").isin("en", "de", "es", "fr"))
        val deduped = kept
          .withColumn("fp", md5(col("text")))
          .withColumn("keep_id", min(col("doc_id"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
          .filter(col("doc_id") === col("keep_id"))
        deduped.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("ws_tokens")).as("tokens_kept"),
            sum(col("n_chars")).as("chars_kept"))
          .orderBy("lang", "source")
      },
      Some(
        """WITH scored AS (
          |  SELECT doc_id, lang, source, text, n_chars,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
          |    (CASE WHEN length(text) >= 200 THEN 0.5 ELSE 0.0 END)
          |    + (CASE WHEN length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) = 0 THEN 0.25 ELSE 0.0 END)
          |    + (CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 30 THEN 0.25 ELSE 0.0 END) AS score
          |  FROM documents),
          |kept AS (
          |  SELECT * FROM scored
          |  WHERE score >= 0.5 AND lang IN ('en', 'de', 'es', 'fr')),
          |deduped AS (
          |  SELECT * FROM (
          |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
          |    FROM kept) t
          |  WHERE doc_id = keep_id)
          |SELECT lang, source, COUNT(*) AS n_docs_kept,
          |  CAST(SUM(ws_tokens) AS BIGINT) AS tokens_kept,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
          |FROM deduped GROUP BY 1, 2 ORDER BY lang, source""".stripMargin)),

    Q("t10_length_histogram",
      "Document-length histogram — fixed-width binning of n_chars " +
        "(floor-div buckets, portable across engines where " +
        "width_bucket is not) with per-bucket count and range. The " +
        "corpus-profiling primitive behind length-based quality cuts: " +
        "one scan, one bucket-cardinality shuffle, any corpus size.",
      (s, d) => {
        import s.implicits._
        Graft.table(s, d, "documents")
          .select((floor($"n_chars" / 50) * 50).cast("long").as("bucket_lo"))
          .groupBy($"bucket_lo")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("bucket_hi", $"bucket_lo" + 50)
          .select($"bucket_lo", $"bucket_hi", $"n_docs")
          .orderBy($"bucket_lo")
      },
      Some(
        """SELECT CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
          |  CAST(FLOOR(n_chars / 50) * 50 + 50 AS BIGINT) AS bucket_hi,
          |  COUNT(*) AS n_docs
          |FROM documents GROUP BY 1, 2 ORDER BY bucket_lo""".stripMargin)),

    Q("t11_equidepth_histogram",
      "Equi-depth (quantile) histogram of document length — the other " +
        "half of corpus profiling: where t10's fixed-width bins show " +
        "shape, equi-depth deciles show the quantile bounds a length " +
        "cut actually lands on. Computed the scale-correct way: exact " +
        "decile bounds via one sort-based percentile aggregate (the " +
        "g12-proven cross-engine formulation), broadcast back, and " +
        "each doc banded by counting bounds below it — NO global-sort " +
        "ntile window (which would single-task a 100 TB corpus). Ties " +
        "land in the lower band on both engines, so decile populations " +
        "are content-determined, not forced equal.",
      (s, d) => {
        val docs = Graft.table(s, d, "documents")
          .select(col("doc_id"), col("n_chars"))
        val bounds = docs.agg(expr(
          "percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
          .as("bs"))
        docs.crossJoin(broadcast(bounds))
          .withColumn("decile",
            expr("1 + aggregate(bs, 0, (acc, b) -> acc + " +
              "(CASE WHEN CAST(n_chars AS DOUBLE) > b THEN 1 ELSE 0 END))")
              .cast("long"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("decile")
      },
      Some(
        """WITH bs AS (
          |  SELECT quantile_cont(n_chars,
          |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS b
          |  FROM documents)
          |SELECT decile, COUNT(*) AS n_docs,
          |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
          |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
          |FROM (
          |  SELECT doc_id, n_chars,
          |    CAST(1 + len(list_filter(bs.b,
          |      x -> CAST(n_chars AS DOUBLE) > x)) AS BIGINT) AS decile
          |  FROM documents, bs) banded
          |GROUP BY 1 ORDER BY decile""".stripMargin)),

    Q("t12_bpe_pairs",
      "One BPE merge iteration (the tokenizer-training inner loop, " +
        "Sennrich et al. 2016): lowercase whitespace words are " +
        "pre-tokenized to the letters-only vocabulary, then adjacent " +
        "character pairs are counted WEIGHTED BY WORD FREQUENCY and the " +
        "top-20 merge candidates emitted in (count, pair) order. The " +
        "scale trick is the published one: the corpus-sized scan " +
        "collapses to a vocab-sized word-count first (map-side combine " +
        "on the word key), and pair extraction runs over DISTINCT words " +
        "only — at 100 TB the pair stage touches millions of vocab " +
        "rows, not trillions of corpus tokens. The final ranking window " +
        "is over the pair table, bounded by the pair alphabet " +
        "(<= 26^2 rows), not the data.",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("pair_count").desc, col("pair"))
        val vocab = t(s, d, "documents")
          .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
          .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
          .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
        vocab
          .withColumn("i", explode(sequence(lit(1), length(col("word")) - 1)))
          .select(expr("substring(word, i, 2)").as("pair"), col("wcount"))
          .groupBy(col("pair")).agg(sum(col("wcount")).as("pair_count"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 20)
          .select(col("rank"), col("pair"), col("pair_count"))
          .orderBy("rank")
      },
      Some(
        """WITH words AS (
          |  SELECT word, COUNT(*) AS wcount FROM (
          |    SELECT UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS word
          |    FROM documents) w
          |  WHERE regexp_matches(word, '^[a-z]+$') AND len(word) >= 2
          |  GROUP BY 1),
          |positions AS (
          |  SELECT word, wcount,
          |    UNNEST(generate_series(1, len(word) - 1)) AS i
          |  FROM words),
          |pairs AS (
          |  SELECT substr(word, CAST(i AS INT), 2) AS pair,
          |    SUM(wcount) AS pair_count
          |  FROM positions GROUP BY 1)
          |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
          |    AS BIGINT) AS rank,
          |  pair, CAST(pair_count AS BIGINT) AS pair_count
          |FROM pairs ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin)),

    Q("t16_bpe_encode",
      "BPE ENCODING — t12's learned merge list applied back to the " +
        "corpus (the other half of the tokenizer loop: t12 trains, t16 " +
        "encodes), reporting per-document real encoded token counts " +
        "next to the word and pre-merge symbol counts. Encoding is a " +
        "rank-order fold of literal leftmost replace-alls over a " +
        "delimiter rendering of each word (see bpeDocTokens) — greedy " +
        "left-to-right pair merging with zero regex in the loop, " +
        "bit-identical across engines. Out-of-vocabulary words bill 1 " +
        "token (single-symbol fallback). The n_base_tokens - " +
        "n_bpe_tokens gap is the merge saving the tokenizer exists " +
        "for. At 100 TB: one (doc_id, word) shuffle with map-side " +
        "combine; training AND encoding run over distinct words only, " +
        "never corpus tokens — the encoded-vocab join back is " +
        "broadcast (word-keyed shuffle when the vocab outgrows it).",
      (s, d) => bpeDocTokens(s, d).orderBy("doc_id"),
      Some(
        s"""WITH $BpeDocTokCteSql
           |SELECT doc_id, n_words, n_base_tokens, n_bpe_tokens
           |FROM doctok ORDER BY doc_id""".stripMargin),
      artifacts = Seq(BpeTokens)),

    Q("t14_perplexity_buckets",
      "CCNet-style perplexity bucketing — the corpus-partitioning step " +
        "between quality scoring and mixture sampling: each doc's " +
        "stand-in LM score is the mean over BIGRAMS of a hashed " +
        "bigram weight (where a trained KenLM's log-probs would load " +
        "— the t13/m1-m4 stub convention), and docs land in " +
        "head/middle/tail by fixed thresholds at ±0.3, CCNet's " +
        "per-language cutoff shape. The bucket test is exact integer " +
        "cross-multiplication (S < ±300·n_bigrams — never a double " +
        "mean), so both engines agree at every threshold-grazing doc; " +
        "the per-bucket weight witness divides once by 1000 AFTER the " +
        "exact integer agg (the t13 rule). At 100 TB: scoring is a " +
        "map-only scan, the agg keys on (lang, bucket) — tiny — and " +
        "doc rows never shuffle.",
      (s, d) => {
        val S = expr("graft_wsum_bigram(tk)")
        t(s, d, "documents")
          .withColumn("tk", split(trim(col("text")), "\\s+"))
          .filter(size(col("tk")) >= 2)
          .withColumn("nb", (size(col("tk")) - 1).cast("long"))
          .withColumn("s_num", S)
          .withColumn("bucket",
            when(col("s_num") < lit(-300L) * col("nb"), "head")
              .when(col("s_num") < lit(300L) * col("nb"), "middle")
              .otherwise("tail"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nb") + 1L).as("n_tokens"),
            sum(col("doc_id")).as("docid_sum"),
            (sum(col("s_num")).cast("double") / 1000.0).as("weight_sum"))
          .orderBy("lang", "bucket")
      },
      Some(
        """WITH scored AS (
          |  SELECT doc_id, lang,
          |    len(string_split_regex(trim(text), '\s+')) - 1 AS nb,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(range(1,
          |          len(string_split_regex(trim(text), '\s+'))),
          |        i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
          |          list_transform(regexp_extract_all(
          |            string_split_regex(trim(text), '\s+')[i] || ':' ||
          |            string_split_regex(trim(text), '\s+')[i + 1],
          |            '(?s).'),
          |            ch -> CAST(ascii(ch) AS BIGINT))),
          |          (a2, c2) -> (a2 * 31 + c2) % 1000000007) % 2001
          |          - 1000)),
          |      (acc, x) -> acc + x) AS s_num
          |  FROM documents
          |  WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
          |bucketed AS (
          |  SELECT doc_id, lang, nb, s_num,
          |    CASE WHEN s_num < -300 * nb THEN 'head'
          |         WHEN s_num < 300 * nb THEN 'middle'
          |         ELSE 'tail' END AS bucket
          |  FROM scored)
          |SELECT lang, bucket, COUNT(*) AS n_docs,
          |  CAST(SUM(nb + 1) AS BIGINT) AS n_tokens,
          |  CAST(SUM(doc_id) AS BIGINT) AS docid_sum,
          |  CAST(SUM(s_num) AS DOUBLE) / 1000.0 AS weight_sum
          |FROM bucketed GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)),

    Q("t20_calibration_curve",
      "Classifier calibration — the reliability diagram the eval loop " +
        "runs before trusting a quality model's scores as sampling " +
        "weights (the FineWeb-Edu/DCLM step after t13's filter): docs " +
        "bucket by t13's integer model score (FIXED score ranges, a " +
        "map-only assignment — no global ntile sort, so the bucketing " +
        "is one scan at any corpus size), and each bucket row carries " +
        "its census, positive count, exact integer score sum, the " +
        "empirical positive rate, the score-implied predicted rate, " +
        "and the calibration gap. Ground truth is a deterministic " +
        "planted label (label=1 iff wsum + noise >= 0, noise = " +
        "strhash-derived uniform over [-2000, 2000]), so the TRUE " +
        "P(label|score) is (score+2001)/4001 clamped — the predicted " +
        "column applies exactly that link to the bucket's mean score, " +
        "and the gap column measures real binning/Jensen error, " +
        "largest where clamping bites. Float discipline: every " +
        "aggregate is an exact integer sum; doubles appear only in " +
        "per-row post-aggregation division chains (IEEE-identical on " +
        "both engines), never in a cross-row float sum, and no ECE " +
        "total is emitted precisely because summing bucket gaps would " +
        "be an order-dependent float fold — the 10 bucket rows ARE " +
        "the diagram. At 100 TB: one scan, one 10-row aggregate.",
      (s, d) => {
        val wsum = expr("graft_wsum(tk)")
        val noise = expr(
          "pmod(graft_strhash(concat('lbl', cast(doc_id as string))), " +
            "4001) - 2000L")
        t(s, d, "documents")
          .withColumn("tk", split(trim(col("text")), "\\s+"))
          .withColumn("wsum", wsum)
          .withColumn("label", (col("wsum") + noise) >= 0L)
          .withColumn("bucket",
            greatest(lit(-5L), least(lit(4L),
              floor(col("wsum").cast("double") / 2000.0))).cast("long"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("label"), 1)).as("n_pos"),
            sum(col("wsum")).as("score_sum"))
          .withColumn("pos_rate",
            col("n_pos").cast("double") / col("n_docs").cast("double"))
          .withColumn("predicted",
            least(lit(1.0), greatest(lit(0.0),
              (col("score_sum").cast("double")
                / col("n_docs").cast("double") + 2001.0) / 4001.0)))
          .withColumn("gap", abs(col("predicted") - col("pos_rate")))
          .select(col("bucket"), col("n_docs"), col("n_pos"),
            col("score_sum"), col("pos_rate"), col("predicted"),
            col("gap"))
          .orderBy("bucket")
      },
      Some(
        """WITH scored AS (
          |  SELECT doc_id,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(string_split_regex(trim(text), '\s+'),
          |        tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
          |          list_transform(regexp_extract_all(tok, '(?s).'),
          |            ch -> CAST(ascii(ch) AS BIGINT))),
          |          (a2, c2) -> (a2 * 31 + c2) % 1000000007) % 2001
          |          - 1000)),
          |      (acc, x) -> acc + x) AS wsum,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(regexp_extract_all(
          |          'lbl' || CAST(doc_id AS VARCHAR), '(?s).'),
          |        ch -> CAST(ascii(ch) AS BIGINT))),
          |      (a2, c2) -> (a2 * 31 + c2) % 1000000007) % 4001 - 2000
          |      AS noise
          |  FROM documents),
          |b AS (
          |  SELECT GREATEST(-5, LEAST(4,
          |      CAST(FLOOR(CAST(wsum AS DOUBLE) / 2000.0) AS BIGINT)))
          |      AS bucket,
          |    COUNT(*) AS n_docs,
          |    CAST(COUNT(*) FILTER (wsum + noise >= 0) AS BIGINT)
          |      AS n_pos,
          |    CAST(SUM(wsum) AS BIGINT) AS score_sum
          |  FROM scored GROUP BY 1)
          |SELECT bucket, n_docs, n_pos, score_sum,
          |  CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pos_rate,
          |  LEAST(1.0, GREATEST(0.0,
          |    (CAST(score_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)
          |      + 2001.0) / 4001.0)) AS predicted,
          |  ABS(LEAST(1.0, GREATEST(0.0,
          |    (CAST(score_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)
          |      + 2001.0) / 4001.0))
          |    - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS gap
          |FROM b ORDER BY bucket""".stripMargin)),

    Q("t13_model_quality",
      "Model-based quality filter — the fastText/CCNet-shaped linear " +
        "scorer production pipelines run after the t2 heuristics: each " +
        "doc's score is the mean over tokens of a per-token weight " +
        "looked up from a hashed weight table, kept iff that mean " +
        ">= 0. The WEIGHTS here are a deterministic stand-in (token " +
        "hash mapped to [-1000, 1000]/1000) standing where a trained " +
        "model's shipped coefficients would load — the m1-m4 stub " +
        "convention; the engine-side shape is the real one: per-token " +
        "hash lookup, index-order left-fold accumulation, threshold. " +
        "All arithmetic stays in the x1000 INTEGER numerator (mean>=0 " +
        "iff the integer weight sum >= 0), because a per-doc double " +
        "mean re-quantized to DECIMAL(38,6) for the cross-doc sum " +
        "hits 6dp midpoints where Java's Double.toString (HALF_UP on " +
        "its repr) and DuckDB's shortest-repr cast disagree by 1 ulp " +
        "— observed at sf0.1. The single /1000.0 after the exact " +
        "integer agg is IEEE-deterministic on both engines. At 100 TB " +
        "this is a pure map-only scan (weights live IN the expression " +
        "/ a broadcast table, no join, no shuffle) plus one lang-key " +
        "aggregation; exactly how a hashed linear classifier scores a " +
        "corpus without moving it.",
      (s, d) => {
        val wsum = expr("graft_wsum(tk)")
        t(s, d, "documents")
          .withColumn("tk", split(trim(col("text")), "\\s+"))
          .withColumn("wsum", wsum)
          .withColumn("kept", col("wsum") >= 0L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("kept"), 1)).as("n_kept"),
            coalesce(sum(when(col("kept"), col("doc_id"))), lit(0L))
              .as("kept_docid_sum"),
            (coalesce(sum(when(col("kept"), col("wsum"))), lit(0L))
              .cast("double") / 1000.0).as("kept_weight_sum"))
          .orderBy("lang")
      },
      Some(
        """WITH scored AS (
          |  SELECT doc_id, lang,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(string_split_regex(trim(text), '\s+'),
          |        tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
          |          list_transform(regexp_extract_all(tok, '(?s).'),
          |            ch -> CAST(ascii(ch) AS BIGINT))),
          |          (a2, c2) -> (a2 * 31 + c2) % 1000000007) % 2001
          |          - 1000)),
          |      (acc, x) -> acc + x) AS wsum
          |  FROM documents)
          |SELECT lang, COUNT(*) AS n_docs,
          |  CAST(COUNT(*) FILTER (wsum >= 0) AS BIGINT) AS n_kept,
          |  CAST(COALESCE(SUM(doc_id) FILTER (wsum >= 0), 0) AS BIGINT)
          |    AS kept_docid_sum,
          |  CAST(COALESCE(SUM(wsum) FILTER (wsum >= 0), 0) AS DOUBLE)
          |    / 1000.0 AS kept_weight_sum
          |FROM scored GROUP BY 1 ORDER BY lang""".stripMargin)),

    Q("t15_unicode_normalize",
      "Unicode NFC canonicalization report — the cleanup step a crawl " +
        "pipeline runs BEFORE any content digest: composed (U+00E9) " +
        "and decomposed (e + U+0301) spellings of the same text hash " +
        "to different shingles/grams unless normalized first, so " +
        "every dedup operator upstream assumes this ran. " +
        "`graft_nfc` is a native codegen'd Expression (Spark ships no " +
        "normalization builtin) with a zero-allocation ASCII fast " +
        "path; its oracle twin is DuckDB's utf8proc-backed " +
        "nfc_normalize — two independent NFC implementations, and the " +
        "Unicode stability policy guarantees they agree. Because the " +
        "synthetic corpus is pure ASCII (where NFC is the identity), " +
        "the query ALSO normalizes each doc with a decomposed " +
        "e+combining-acute appended, so the oracle gate proves actual " +
        "composition byte-for-byte on every row: one code point must " +
        "vanish per doc and the summed post-NFC content hash must " +
        "match across engines. At 100 TB: pure map-side scan, one " +
        "tiny lang-key agg, doc rows never shuffle.",
      (s, d) => t(s, d, "documents")
        .withColumn("aug", concat(col("text"), lit("e\u0301")))
        .withColumn("norm", expr("graft_nfc(aug)"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(expr("graft_nfc(text)") =!= col("text"), 1))
            .as("n_raw_unnormalized"),
          sum((length(col("aug")) - length(col("norm"))).cast("long"))
            .as("chars_composed"),
          sum(expr("graft_strhash(norm)")).as("norm_hash_sum"))
        .orderBy("lang"),
      Some(
        """WITH n AS (
          |  SELECT lang, text,
          |    nfc_normalize(text || 'e' || chr(769)) AS norm,
          |    length(text || 'e' || chr(769)) AS aug_len
          |  FROM documents)
          |SELECT lang, COUNT(*) AS n_docs,
          |  CAST(COUNT(*) FILTER (nfc_normalize(text) != text) AS BIGINT)
          |    AS n_raw_unnormalized,
          |  CAST(SUM(aug_len - length(norm)) AS BIGINT) AS chars_composed,
          |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(regexp_extract_all(norm, '(?s).'),
          |      c -> CAST(ascii(c) AS BIGINT))),
          |    (acc, c) -> (acc * 31 + c) % 1000000007)) AS BIGINT)
          |    AS norm_hash_sum
          |FROM n GROUP BY 1 ORDER BY lang""".stripMargin)),

    Q("t18_vocab_growth",
      "Vocabulary-growth curve (Heaps'-law statistic) — tokens' FIRST-" +
        "SEEN doc positions bucketed into corpus deciles, with the " +
        "cumulative vocabulary size per decile: the tokenizer-budget " +
        "planning stat (is the vocabulary saturating, or does 10x more " +
        "corpus keep minting types?). One tokenize pass, min(doc_id) " +
        "per token with map-side combine (the only data-sized " +
        "shuffle), decile arithmetic against a broadcast 1-row count " +
        "(t6's lazy-scalar trick — no ntile, which would globally " +
        "sort the corpus), then a 10-row running sum. Deciles are " +
        "exact integer arithmetic on BOTH engines.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val tok = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tk"))
        val n = docs.agg((max(col("doc_id")) + lit(1L)).as("n"))
        val fs = tok.groupBy(col("tk"))
          .agg(min(col("doc_id")).as("first_seen"))
        val dec = fs.crossJoin(broadcast(n))
          .withColumn("decile",
            expr("(first_seen * 10) div n").cast("long"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("new_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("decile"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        dec.withColumn("cum_vocab", sum(col("new_tokens")).over(w))
          .select(col("decile"), col("new_tokens"), col("cum_vocab"))
          .orderBy("decile")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, t.tk
          |  FROM documents, LATERAL UNNEST(string_split_regex(trim(text), '\s+')) t(tk)),
          |n AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
          |fs AS (SELECT tk, MIN(doc_id) AS first_seen FROM tok GROUP BY 1),
          |dec AS (
          |  SELECT CAST((first_seen * 10) // (SELECT n FROM n) AS BIGINT)
          |    AS decile, COUNT(*) AS new_tokens
          |  FROM fs GROUP BY 1)
          |SELECT decile, new_tokens,
          |  CAST(SUM(new_tokens) OVER (ORDER BY decile
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS BIGINT) AS cum_vocab
          |FROM dec ORDER BY decile""".stripMargin)),

    Q("t17_bm25_topk",
      "BM25 retrieval — top-5 documents per query for a fixed 5-query " +
        "keyword workload (k1=1.2, b=0.75), the ranking function a " +
        "corpus-search / RAG-retrieval layer runs over the training " +
        "corpus. Uses the log-free idf ratio (N - df + 0.5)/(df + 0.5) " +
        "— a strictly monotone transform of BM25's idf argument — for " +
        "the same reason t6 does: ln() is a libm call whose last ulp " +
        "differs across runtimes, unacceptable in a hash-matched " +
        "contract, while +,-,*,/ are IEEE-exact on both engines. The " +
        "per-document score sums its per-term partials in the FIXED " +
        "written term order (conditional-max pivot, then a left-assoc " +
        "chain), never via a float SUM whose accumulation order the " +
        "engine chooses — bit-identical doubles across Spark and " +
        "DuckDB. Scale shape: tf/df/dl are one tokenize pass with " +
        "map-side combine (at 100 TB these live as a maintained " +
        "corpus-statistics table, not a per-query scan); the term " +
        "filter is an inverted-index probe — only postings of the " +
        "query terms survive into the join; top-k is one window per " +
        "query id over that tiny candidate set.",
      (s, d) => bm25SessionTopK(s, d),
      Some(Bm25OracleSql),
      artifacts = Seq(Bm25Tf)),

    Q("t17b_bm25_maintained",
      "t17's BM25 scoring run from MAINTAINED corpus statistics — the " +
        "actual 100 TB query path SCALE.md's o9 row advertises: the " +
        "corpus is ingested in two disjoint doc batches through " +
        "pipeline/AdditiveStats into three persisted tables (o9's " +
        "corpus-stats postings, the per-(doc, term) postings lists for " +
        "the workload vocabulary, and per-doc lengths — all exact " +
        "counts, so disjoint batches fold by keyed addition), and " +
        "query-time scoring READS those tables instead of " +
        "re-tokenizing the corpus: no corpus scan, no tokenize pass, " +
        "just index-cardinality joins. The score arithmetic is the " +
        "SAME Column expressions as t17 (one shared builder), so the " +
        "oracle is t17's SQL VERBATIM — maintained-statistics scoring " +
        "must hash-match per-session recomputation bit for bit.",
      (s, d) => {
        val cat = t17bIndex(s, d)
        val post = cat.table("postings")
        val st = post.filter(col("tk") === "__total__")
          .select(col("df").cast("double").as("nd"),
            col("tf_total").cast("double").as("tt"))
        val df_ = post.filter(col("tk") =!= "__total__")
          .select(col("tk"), col("df"))
        bm25TopK(bm25Scored(
          cat.table("postings_list"), df_, cat.table("doc_len"), st))
      },
      Some(Bm25OracleSql),
      artifacts = Seq(T17bIndex)),

    Q("t19_hybrid_rrf",
      "Hybrid retrieval — BM25 and dense-vector candidate lists fused " +
        "by reciprocal-rank fusion (RRF, k=60): the standard two-arm " +
        "retrieval layer of a RAG / training-data search stack, where " +
        "lexical and embedding recall failures are uncorrelated and " +
        "the fusion needs no score calibration because it consumes " +
        "only RANKS. Arm 1 is t17's BM25 top-5 (identical shared " +
        "builder); arm 2 is exact cosine top-5 per query over the " +
        "document embeddings (embeddings.vec_id is documents.doc_id; " +
        "the query's own document is excluded). RRF sums " +
        "1/(60+rank) over the arms in fixed written order — rank " +
        "arithmetic only, so the whole fusion is IEEE-exact and " +
        "hash-matched cross-engine. Scale shape: each arm already has " +
        "its 100 TB path (t17b's maintained postings probe; the " +
        "a2/a3/a9 ANN ladder swaps in for brute-force cosine), and " +
        "the fusion itself joins two top-k lists — k rows per query " +
        "per arm, broadcast-size regardless of corpus.",
      (s, d) => {
        val bm25 = bm25SessionTopK(s, d)
          .select(col("qid"), col("doc_id"), col("rnk").as("brnk"))
        val e = t(s, d, "embeddings")
          .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
        val q = e.filter(col("vec_id").between(1, 5))
          .select(col("vec_id").as("qid"), col("embedding").as("eq"),
            col("norm").as("norm_q"))
        val scored = e.select(col("vec_id").as("doc_id"),
            col("embedding").as("ec"), col("norm").as("norm_c"))
          .crossJoin(broadcast(q))
          .filter(col("doc_id") =!= col("qid"))
          .withColumn("cosine",
            expr("graft_dot(eq, ec)") / (col("norm_q") * col("norm_c")))
        val wv = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("doc_id"))
        val vtop = scored.withColumn("vrnk", row_number().over(wv))
          .filter(col("vrnk") <= 5)
          .select(col("qid"), col("doc_id"), col("vrnk").cast("long").as("vrnk"))
        rrfFuse(bm25, vtop)
      },
      Some(HybridRrfOracleSql),
      artifacts = Seq(Bm25Tf)),

    Q("t19b_hybrid_rrf_indexed",
      "t19's hybrid fusion with the dense arm swapped ONTO THE ANN " +
        "LADDER — the 100 TB shape t19's prose promises, made a green " +
        "row (the t17b precedent): arm 2 is a2's random-hyperplane " +
        "LSH-bucket top-5 (4 planes, seed 42 — same plane literals, " +
        "same fold dot products) instead of the brute-force corpus " +
        "scan, so the dense candidate set is the query's own bucket " +
        "(~corpus/2^planes rows reached by a bucket EQUI-join — " +
        "hash-joinable, no nested loop) while the BM25 arm and the " +
        "rank-only RRF fusion are the IDENTICAL shared builders " +
        "(bm25SessionTopK, rrfFuse). Fully deterministic, so the " +
        "bucketed ranking carries an exact DuckDB oracle exactly as " +
        "a2's does; AnnSpec additionally asserts the indexed-fused " +
        "list's recall against the brute-fused t19 list. At 100 TB " +
        "the dense arm reads one bucket partition per query and the " +
        "fusion still joins two k-row lists per query.",
      (s, d) => {
        val bm25 = bm25SessionTopK(s, d)
          .select(col("qid"), col("doc_id"), col("rnk").as("brnk"))
        val e = SimilarityQueries
          .withBucket(t(s, d, "embeddings"), "embedding")
          .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
        val q = e.filter(col("vec_id").between(1, 5))
          .select(col("vec_id").as("qid"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("bucket").as("bucket_q"))
        val scored = e.join(broadcast(q),
            col("bucket") === col("bucket_q") &&
              col("vec_id") =!= col("qid"))
          .withColumn("cosine",
            expr("graft_dot(eq, embedding)") / (col("norm_q") * col("norm")))
        val wv = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("vec_id"))
        val vtop = scored.withColumn("vrnk", row_number().over(wv))
          .filter(col("vrnk") <= 5)
          .select(col("qid"), col("vec_id").as("doc_id"),
            col("vrnk").cast("long").as("vrnk"))
        rrfFuse(bm25, vtop)
      },
      Some(HybridRrfIndexedOracleSql),
      artifacts = Seq(Bm25Tf))
  )

  /** Rank-only RRF fusion of two per-query candidate lists: full-outer
    * join on (qid, doc_id), score = 1/(60+brnk) + 1/(60+vrnk) with a
    * missing arm contributing 0, top-5 per query. A doc surfaced by
    * BOTH arms always outranks any single-arm doc at equal best rank
    * (1/61 + 1/(60+r) > 1/61) — HybridSpec exercises that branch with
    * planted overlap, since the synthetic corpus's embeddings are
    * uncorrelated with its text and the two arms never naturally agree.
    */
  private[graft] def rrfFuse(bm25: DataFrame, vtop: DataFrame): DataFrame = {
    val fused = bm25.join(vtop, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("brnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vrnk")), lit(0.0)))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rrf_rank", row_number().over(wf).cast("long"))
      .filter(col("rrf_rank") <= 5)
      .select(col("qid"), col("rrf_rank"), col("doc_id"), col("rrf"))
      .orderBy("qid", "rrf_rank")
  }

  private val t17bMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Catalog]()

  /** t17b's maintained-index warehouse — the two-batch AdditiveStats
    * ingest of postings / postings_list / doc_len — built ONCE per
    * (session, corpus) and memoized by warehouse path, the j6b
    * pattern: production writes the index at ingest and every
    * query-time consumer reads it, so billing the build to each t17b
    * run conflated ingest with the scoring read-path the row exists to
    * measure. Bench pre-builds it in warmup and reports the build as
    * `ingest_artifacts.t17b_index_build`; the ingest fold's
    * merge==full-recompute correctness is independently oracle-proven
    * by o9. The CATALOG INSTANCE is what's memoized (warehouses are
    * single-writer per process, so re-opening the same path would
    * throw); racing duplicate builds are benign — each writes its own
    * fresh warehouse, putIfAbsent keeps the first, and the loser
    * closes its orphan.
    */
  private[graft] def t17bIndex(s: SparkSession, d: String)
      : graft.engine.Catalog = {
    val key = s"${s.sparkContext.applicationId}:$d"
    Option(t17bMemo.get(key)).getOrElse {
      val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "t17b_wh"))
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      for (batch <- Seq(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0))) {
        // ONE tokenize pass per batch: all three maintained tables
        // derive from the same materialized per-(doc, term) counts
        // (without this, each fold re-explodes the batch — 3 corpus
        // tokenize passes per batch at 100 TB)
        val tf = Scratch.materialize(s, "t17b_tf", tokenTf(batch))
        graft.pipeline.AdditiveStats.fold(cat, "postings",
          postingsStatsFromTf(tf), Seq("tk"))
        graft.pipeline.AdditiveStats.fold(cat, "postings_list",
          postingsListsFromTf(tf), Seq("doc_id", "tk"))
        graft.pipeline.AdditiveStats.fold(cat, "doc_len",
          docLengthsFromTf(tf), Seq("doc_id"))
      }
      Option(t17bMemo.putIfAbsent(key, cat)) match {
        case Some(winner) => cat.close(); winner
        case None => cat
      }
    }
  }

  /** t17b's maintained BM25 postings. */
  val T17bIndex: Artifact = Artifact("t17b_index_build",
    (s, d) => t17bIndex(s, d): Unit)

  /** t17's full session-computed BM25 pipeline (tokenize → tf/df/dl →
    * score → per-query top-5), shared with t19's BM25 arm so both rows
    * run the identical Column expressions.
    */
  /** The per-corpus memoized (doc_id, tk, tf) term-frequency table.
    * ONE tokenize pass PER CORPUS: tf is memoized keyed by the
    * (immutable) corpus dir — vocab-cardinality per doc, tiny vs the
    * corpus — and dl / df / corpus stats all derive from it. Without
    * the materialization Catalyst recomputes the corpus explode once
    * per consumer (4 corpus scans at 100 TB); with the keyed memo the
    * pass is also shared across consumers (t17 and t19's BM25 arm),
    * the warehouse shape where term frequencies are a corpus artifact.
    */
  private[graft] def bm25TfIndex(s: SparkSession, d: String): DataFrame =
    Scratch.memoized(s, s"bm25_tf:$d", "bm25_tf",
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tk"))
        .groupBy(col("doc_id"), col("tk"))
        .agg(count(lit(1)).as("tf")))

  /** The BM25 term-frequency index, read by t17, t19 and t19b. */
  val Bm25Tf: Artifact = Artifact("bm25_tf_index_build",
    (s, d) => bm25TfIndex(s, d): Unit)

  private[graft] def bm25SessionTopK(s: SparkSession, d: String): DataFrame = {
    val tf = bm25TfIndex(s, d)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df_ = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    // corpus stats as a broadcast 1-row frame (t6's lazy-scalar trick)
    val st = tf.agg(
      countDistinct(col("doc_id")).cast("double").as("nd"),
      sum(col("tf")).cast("double").as("tt"))
    val allTerms = Bm25Queries.flatMap(_._2).distinct
    bm25TopK(bm25Scored(
      tf.filter(col("tk").isin(allTerms: _*)), df_, dl, st))
  }

  /** BM25 per-(doc, term) scores from the four statistics frames —
    * shared by t17 (session-computed frames) and t17b (maintained
    * tables), so the two paths run the IDENTICAL Column expressions
    * and stay bit-equal. `tf` must already be restricted to the
    * workload vocabulary; `st` is a 1-row (nd, tt) DOUBLE frame.
    */
  private def bm25Scored(tf: DataFrame, df_ : DataFrame, dl: DataFrame,
                         st: DataFrame): DataFrame =
    tf.join(df_, Seq("tk")).join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .withColumn("score",
        ((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) *
                (col("dl") / (col("tt") / col("nd")))))))
      .select(col("doc_id"), col("tk"), col("score"))

  /** The workload pivot + per-query top-5 over scored (doc_id, tk,
    * score) rows — t17's doc explains the fixed-order partial sums.
    */
  private def bm25TopK(ts: DataFrame): DataFrame = {
    val perQuery = Bm25Queries.map { case (qid, terms) =>
      val aggs = terms.map(t0 =>
        max(when(col("tk") === t0, col("score"))).as(s"s_$t0"))
      val total = terms.map(t0 => coalesce(col(s"s_$t0"), lit(0.0)))
        .reduceLeft(_ + _)
      ts.filter(col("tk").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg(aggs.head, aggs.tail: _*)
        .select(lit(qid.toLong).as("qid"), col("doc_id"),
          total.as("score"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    perQuery.filter(col("score") > 0)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("qid", "rnk")
  }

  /** The per-(doc, workload-term) postings lists — the inverted-index
    * payload behind t17b's maintained scoring. Disjoint doc batches
    * make (doc_id, tk) keys disjoint, so AdditiveStats.fold degenerates
    * to an append — the same primitive, zero cross-batch collisions.
    */
  private[graft] def postingsListsFromTf(tf: DataFrame): DataFrame = {
    val terms = Bm25Queries.flatMap(_._2).distinct
    tf.filter(col("tk").isin(terms: _*))
      .select(col("doc_id"), col("tk"), col("tf"))
  }

  /** Per-doc token counts (dl) — t17b's third maintained table. */
  private[graft] def docLengthsFromTf(tf: DataFrame): DataFrame =
    tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"))

  /** The additive corpus statistics behind t17's BM25 scoring, per
    * batch of documents: one row per workload term (tk, df, tf_total)
    * plus a `__total__` row (n_docs, total tokens) — every column an
    * exact count, so disjoint doc batches fold into a persisted table
    * by pure addition (pipeline/AdditiveStats; driven by o9). df is a
    * per-term DISTINCT doc count, additive ONLY because batches are
    * disjoint on doc_id — the caller's contract.
    */
  private[graft] def postingsStats(docs: DataFrame): DataFrame =
    postingsStatsFromTf(tokenTf(docs))

  /** One tokenize pass: per-(doc, term) counts — the shared base all
    * three maintained BM25 tables derive from (t17b materializes it
    * once per batch).
    */
  private[graft] def tokenTf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tk"))
      .groupBy(col("doc_id"), col("tk"))
      .agg(count(lit(1)).as("tf"))

  private[graft] def postingsStatsFromTf(tf: DataFrame): DataFrame = {
    val terms = Bm25Queries.flatMap(_._2).distinct
    val perTerm = tf.filter(col("tk").isin(terms: _*))
      .groupBy(col("tk"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    val total = tf.agg(countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("tf_total"))
      .select(lit("__total__").as("tk"), col("df"), col("tf_total"))
    perTerm.unionByName(total)
  }

  /** The fixed BM25 query workload: (query id, terms), terms drawn from
    * the corpus vocabulary. Term order is load-bearing — the per-doc
    * score adds per-term partials in exactly this order on BOTH
    * engines (see t17's doc).
    */
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("window", "agg", "stream"),
    3 -> Seq("hash", "table", "scan"),
    4 -> Seq("customer", "data"),
    5 -> Seq("merge", "sort", "filter"))

  /** o9's DuckDB twin — the full-corpus declarative computation of
    * [[postingsStats]], generated from the same workload term list.
    * The two ingested batches partition `documents`, so the
    * incrementally merged table must hash-match this exactly.
    */
  private[graft] def PostingsOracleSql: String = {
    val allTerms =
      Bm25Queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, t.tk
       |  FROM documents, LATERAL UNNEST(string_split_regex(trim(text), '\\s+')) t(tk)),
       |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |terms AS (
       |  SELECT tk, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
       |  FROM tf WHERE tk IN ($allTerms) GROUP BY 1),
       |tot AS (
       |  SELECT '__total__' AS tk, COUNT(DISTINCT doc_id) AS df,
       |    CAST(SUM(tf) AS BIGINT) AS tf_total FROM tf)
       |SELECT * FROM (SELECT * FROM terms UNION ALL SELECT * FROM tot)
       |ORDER BY tk""".stripMargin
  }

  /** t17's DuckDB twin, generated from [[Bm25Queries]] so the literal
    * term lists and the left-assoc partial-sum order can never drift
    * from the Spark plan.
    */
  private def Bm25OracleSql: String =
    s"""WITH $bm25CoreCtes
       |SELECT qid, rnk, doc_id, score FROM (
       |  SELECT qid, doc_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM scored WHERE score > 0)
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** The tokenize → tf/df/dl/st → per-(doc, term) score → per-query
    * pivoted score CTE chain shared by [[Bm25OracleSql]] and
    * [[HybridRrfOracleSql]] (ends with the `scored` CTE).
    */
  private def bm25CoreCtes: String = {
    val allTerms =
      Bm25Queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    val perQuery = Bm25Queries.map { case (qid, terms) =>
      val partials = terms.map(t =>
        s"COALESCE(MAX(CASE WHEN tk = '$t' THEN score END), 0.0::DOUBLE)")
        .mkString("\n    + ")
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""  SELECT CAST($qid AS BIGINT) AS qid, doc_id,
         |    $partials AS score
         |  FROM ts WHERE tk IN ($inList) GROUP BY doc_id""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""tok AS (
       |  SELECT doc_id, t.tk
       |  FROM documents, LATERAL UNNEST(string_split_regex(trim(text), '\\s+')) t(tk)),
       |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |df AS (SELECT tk, COUNT(*) AS df
       |       FROM (SELECT DISTINCT doc_id, tk FROM tok) GROUP BY 1),
       |st AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd,
       |              CAST(COUNT(*) AS DOUBLE) AS tt FROM tok),
       |ts AS (
       |  SELECT tf.doc_id, tf.tk,
       |    ((st.nd - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
       |    ((tf.tf * 2.2::DOUBLE) /
       |      (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE
       |        * (dl.dl / (st.tt / st.nd))))) AS score
       |  FROM tf
       |  JOIN df USING (tk) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.tk IN ($allTerms)),
       |scored AS (
       |$perQuery)""".stripMargin
  }

  /** t19/t19b's DuckDB twin: the shared BM25 CTE chain, a dense arm
    * (exact a1-style cosine for t19; a2's LSH-bucketed candidates for
    * t19b — `bucketed = true` adds the bucket column and swaps the
    * CROSS JOIN for the bucket equi-join), and the rank-only RRF
    * fusion — every arithmetic step mirrors the Spark Column
    * expressions operation for operation.
    */
  private def hybridRrfSql(bucketed: Boolean): String = {
    val dot = SimilarityQueries.dotSql _
    val eCols =
      if (bucketed)
        s",\n  ${SimilarityQueries.bucketSql("embedding")} AS bucket"
      else ""
    val vqCols = if (bucketed) ", bucket AS bucket_q" else ""
    val vFrom =
      if (bucketed)
        "FROM e JOIN vq ON e.bucket = vq.bucket_q AND e.vec_id != vq.qid"
      else "FROM e CROSS JOIN vq WHERE e.vec_id != vq.qid"
    s"""WITH $bm25CoreCtes,
       |bm5 AS (
       |  SELECT qid, doc_id, rnk FROM (
       |    SELECT qid, doc_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |    FROM scored WHERE score > 0)
       |  WHERE rnk <= 5),
       |e AS (SELECT vec_id, embedding,
       |  sqrt(${dot("embedding", "embedding")}) AS norm$eCols
       |  FROM embeddings),
       |vq AS (SELECT vec_id AS qid, embedding AS eq, norm AS norm_q$vqCols
       |       FROM e WHERE vec_id BETWEEN 1 AND 5),
       |vscored AS (
       |  SELECT vq.qid, e.vec_id AS doc_id,
       |    ${dot("vq.eq", "e.embedding")} / (vq.norm_q * e.norm) AS cosine
       |  $vFrom),
       |vtop AS (
       |  SELECT qid, doc_id, vrnk FROM (
       |    SELECT qid, doc_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY cosine DESC, doc_id) AS BIGINT) AS vrnk
       |    FROM vscored)
       |  WHERE vrnk <= 5),
       |fused AS (
       |  SELECT COALESCE(b.qid, v.qid) AS qid,
       |    COALESCE(b.doc_id, v.doc_id) AS doc_id,
       |    COALESCE(1.0::DOUBLE / (60.0::DOUBLE + b.rnk), 0.0::DOUBLE)
       |      + COALESCE(1.0::DOUBLE / (60.0::DOUBLE + v.vrnk), 0.0::DOUBLE)
       |      AS rrf
       |  FROM bm5 b FULL OUTER JOIN vtop v
       |    ON b.qid = v.qid AND b.doc_id = v.doc_id)
       |SELECT qid, rrf_rank, doc_id, rrf FROM (
       |  SELECT qid, doc_id, rrf,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rrf_rank
       |  FROM fused)
       |WHERE rrf_rank <= 5 ORDER BY qid, rrf_rank""".stripMargin
  }

  private def HybridRrfOracleSql: String = hybridRrfSql(bucketed = false)

  private def HybridRrfIndexedOracleSql: String =
    hybridRrfSql(bucketed = true)
}
