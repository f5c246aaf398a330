package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Parquet

/** One oracle-checked query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB SQL string the
  * driver runs over the same parquet tables (builder contract in
  * SparkEntry.scala). Column aliases MUST match between the two — the
  * driver sorts columns by name before hashing.
  * `artifacts` lists the ingest artifacts the row reads.
  */
final case class Q(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    artifacts: Seq[Artifact] = Nil)

/** A per-corpus derived table or maintenance drive that production
  * builds once at ingest, and every row that reads it then consumes: a
  * bucketed fact, an index, a maintained table. `build` is memoized per
  * (session, corpus), so the first call pays and later calls (the rows'
  * own) read the result. Declared once, next to its builder; a [[Q]]
  * that reads it lists it, and `graft.Bench` builds exactly the listed
  * artifacts, outside the rows' timers: one no row reads is never built.
  * Candidate-pair tables and cluster labels are NOT artifacts: they are
  * the dedup rows' own work product.
  */
final case class Artifact(name: String, build: (SparkSession, String) => Unit)

/** Session-scoped scratch root for materialized intermediates (the
  * warehouse stand-in at 100 TB: an object-store prefix). Keyed by
  * application id so concurrent sessions on one machine never clobber
  * each other's tables, and a fresh session never reads a stale one.
  */
object Scratch {
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  def dir(s: SparkSession, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_" +
      s"${s.sparkContext.applicationId}/$name"

  /** A fresh (per-call) scratch path — for intermediates that must not
    * be shared across invocations of the same query.
    */
  def fresh(s: SparkSession, name: String): String =
    dir(s, s"${name}_${seq.incrementAndGet()}")

  /** Materialize `df` to a fresh scratch path and read it back: cuts
    * lineage so multi-consumer frames are computed once, from storage,
    * instead of once per consumer.
    */
  def materialize(s: SparkSession, name: String, df: DataFrame): DataFrame = {
    val path = fresh(s, name)
    df.write.mode("overwrite").parquet(path)
    Parquet.read(s, path)
  }

  /** [[materialize]] for a CPU-DENSE consumer, with task count sized
    * from the batch's actual on-disk bytes. Byte-based split sizing
    * (`files.maxPartitionBytes`, default 128 MB) assumes IO-bound
    * scans; a consumer burning ~100 s of CPU per scanned MB (the o12s
    * banded probe — r18 stage diff: a ~300 s SINGLE-task scan+expand
    * over a low-MB scratch file) needs tasks sized to its density, not
    * to IO. The r18 fix pinned the repartition at session parallelism,
    * which un-collapsed the census-scale stages but pays one 32-way
    * exchange + up-to-32-way output fragmentation on EVERY micro-batch
    * — including suite-scale batches of a few KB (r18 verdict #4).
    * This sizes instead: n = ceil(onDiskBytes / targetBytes) capped at
    * session parallelism, and SKIPS the exchange entirely when one
    * task is right — a KB-scale micro-batch keeps the r17 single-file
    * shape, a census-scale one fans out to full parallelism.
    * `targetBytes` is the caller's measured density dial: bytes a
    * single task should own, chosen so a task runs seconds, not
    * minutes.
    */
  def materializeForCpu(s: SparkSession, name: String, df: DataFrame,
                        targetBytes: Long): DataFrame = {
    val path = fresh(s, name)
    df.write.mode("overwrite").parquet(path)
    val bytes = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).map(_.length).sum
    val cap = s.sessionState.conf.numShufflePartitions.toLong
    val n = math.min(cap, (bytes + targetBytes - 1) / targetBytes).toInt
    val back = Parquet.read(s, path)
    if (n <= 1) back else back.repartition(n)
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // Mutable warehouse roots are tracked by the engine layer (every
  // Catalog registers its warehouse at construction); memoized()
  // consults that registry so the immutability guard holds for
  // user-supplied warehouse paths too, not only scratch-rooted ones.

  /** Like [[materialize]], but keyed: the first call for `key` computes
    * and writes; later calls in the same session read the existing
    * parquet. For derived tables shared by several queries over the
    * same input (e.g. the simhash signature index used by d4, d4b, and
    * d7) — the warehouse shape at 100 TB, where a signature index is
    * built once per corpus, not once per consumer. Keys must encode
    * every input the frame depends on (callers embed the sf dir);
    * scratch roots are per-applicationId, so keys never outlive or
    * cross sessions.
    *
    * CONTRACT: the input directory named in the key must be immutable
    * for the session — the key encodes the PATH, not the contents, so
    * rewriting a file under a keyed dir (e.g. an ingest appending to a
    * corpus dir) would silently replay a stale derived index. The
    * testdata sf dirs are read-only, satisfying this; anything mutable
    * (ingest batches, fixtures in reused temp dirs) must go through
    * [[materialize]]/[[fresh]] instead, never a memoized key.
    */
  def memoized(s: SparkSession, key: String, name: String,
               df: => DataFrame): DataFrame = {
    // Enforce the immutability contract instead of trusting the comment:
    // a key naming a dir this engine can rewrite mid-session (the
    // scratch tree, any constructed Catalog warehouse) is memoizing
    // over mutable storage — a silent stale-index replay. External
    // read-only inputs (the testdata sf dirs) pass.
    require(!key.contains(s"graft_${s.sparkContext.applicationId}") &&
        !graft.engine.Catalog.referencesMutableRoot(key),
      s"Scratch.memoized: key '$key' references a scratch or warehouse " +
        "path, which is mutable by definition — memo keys must name " +
        "immutable inputs; use materialize/fresh instead")
    val fullKey = s"${s.sparkContext.applicationId}:$key"
    // Build OUTSIDE any map lock: memoized frames nest (the LSH
    // candidate table forces the shingle table), and a nested
    // computeIfAbsent on one ConcurrentHashMap is a forbidden
    // "recursive update" — it happens to work or throw depending on
    // which hash bins the keys land in (it threw for the sf0.1 key
    // strings and worked for sf0.01's). Racing duplicate builds are
    // benign: each writes its own fresh dir; putIfAbsent keeps the
    // first and the loser's dir is just unused scratch.
    val path = Option(memo.get(fullKey)).getOrElse {
      val p = fresh(s, name)
      df.write.mode("overwrite").parquet(p)
      Option(memo.putIfAbsent(fullKey, p)).getOrElse(p)
    }
    Parquet.read(s, path)
  }
}

/** THE deterministic 80/10/10 train/val/test hash split — one
  * definition, Spark column and DuckDB twin side by side, consumed by
  * every query that splits the corpus (t5 census, d8 winnowing
  * decontamination, d14 n-gram decontamination, c11 repair). The
  * boundaries and the base-31 fold live HERE and nowhere else, so a
  * ratio or hash change cannot silently diverge the split one query
  * reports from the split another decontaminates.
  */
object Splits {
  import org.apache.spark.sql.functions.{expr, when}

  /** Split tag as a pure function of doc_id. */
  def splitCol: org.apache.spark.sql.Column = {
    val h = expr("pmod(graft_strhash(cast(doc_id as string)), 100)")
    when(h < 80, "train").when(h < 90, "val").otherwise("test")
  }

  /** DuckDB twin: the same fold over the decimal doc_id rendering. */
  val SplitCaseSql: String = {
    val fold = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '(?s).'), " +
      "c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007)"
    s"CASE WHEN $fold % 100 < 80 THEN 'train' " +
      s"WHEN $fold % 100 < 90 THEN 'val' ELSE 'test' END"
  }

  /** `sp AS (...)` CTE over a `documents` relation. */
  val SpCteSql: String =
    s"sp AS (SELECT doc_id, $SplitCaseSql AS split FROM documents)"
}

object Registry {
  /** All registered query modules, in build order. */
  def modules: Seq[Seq[Q]] = Seq(
    CoreQueries.all,
    PipelineQueries.all,
    TextQueries.all,
    DedupQueries.all,
    SimilarityQueries.all,
    MultimodalQueries.all,
    IngestQueries.all,
    CurationQueries.all
  )
  lazy val all: Seq[Q] = modules.flatten
}
