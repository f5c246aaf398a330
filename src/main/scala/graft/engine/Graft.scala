package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table-loading core.
  *
  * The reference (hedmana/duckdb-retail-pipeline) opens one embedded DuckDB
  * connection per run (`/root/reference/src/run.py:46`) and addresses tables
  * by name. Our analog: one SparkSession, tables as parquet directories under
  * a scale-factor dir, loaded lazily and registered as temp views so both the
  * DataFrame API and `spark.sql` can address them.
  */
object Graft {

  /** Canonical table names shipped by the test harness (TESTDATA.md). */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session config on `local[cpus]`, declared once: [[session]]
    * and the test session both build from it. Shuffle partitions equal
    * the thread count, and `file:` goes through [[LocalFs]], so no
    * warehouse write, commit or streaming checkpoint starts a process.
    *
    * Spark caches each whole-stage and expression class it compiles in
    * an LRU of `spark.sql.codegen.cache.maxEntries` classes, 100 by
    * default. One warm pass of the raw-file build (golden chain, view,
    * goldens check) needs 166–167 distinct classes and one incremental
    * ingest pass about 196, so at 100 every lookup missed and every
    * pass recompiled every class with Janino (15–35 ms each on the
    * driver). The first Registry run at sf0.001 compiles about 2,400,
    * so [[CodegenCacheEntries]] holds that working set too: repeated
    * work in one JVM (benchmark passes, Bench runs, the test JVM)
    * compiles each class once. The cache is static: Spark sizes it
    * once per JVM from the active session's conf the first time code
    * is generated, so a session built outside this map leaves it at
    * 100.
    */
  private[graft] def conf(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.extensions" -> "graft.engine.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    // rejects by default; read as long and convert in events().
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ LocalFs.conf

  /** Size of the JVM's generated-class cache (see [[conf]]). */
  private[graft] val CodegenCacheEntries = 5000

  /** THE session builder — every main (Run/Verify/Bench/Golden) and the
    * `perfbench` harness go through here, so the config contract
    * ([[conf]]) can't drift between entry points (a missing
    * `nanosAsLong` in one main once broke only the paths that read
    * `events`). `extraConf` is for per-caller additions (the
    * `perfbench` harness points the local and warehouse dirs into its
    * work dir).
    */
  def session(appName: String = "graft", defaultCpus: String = "32",
              extraConf: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder().appName(appName)
      .config(conf(cpus) ++ extraConf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Load one named table from a scale-factor directory. The analyzed
    * frame is memoized per (session, dir, name) — r19: every read
    * re-lists the path and reads a parquet footer for its schema
    * ([[Parquet]]), and a 179-query bench run re-created these frames
    * hundreds of times per run. The inputs
    * are the read-only testdata dirs (immutable by contract), and a
    * DataFrame is an immutable plan, so reuse is free; the events
    * normalization rides inside the memoized frame.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tableMemo.computeIfAbsent(
      s"${spark.sparkContext.applicationId}:$dir:$name",
      _ =>
        if (name == "events") normalizeTs(
          Parquet.read(spark, s"$dir/events.parquet"))
        else Parquet.read(spark, s"$dir/$name.parquet"))

  private val tableMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Normalize `ts` to session TimestampType regardless of the physical
    * form it arrived in. Event-log producers drift: the same logical
    * column shows up as parquet TIMESTAMP(NANOS) (read as LongType under
    * spark.sql.legacy.parquet.nanosAsLong=true, set in [[session]]),
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ),
    * or an instant-adjusted TIMESTAMP (read as TimestampType). This is
    * the ONE place that owns the conversion — batch ([[events]]) and
    * streaming ([[graft.streaming.EventsStream.source]]) both route
    * through it, so the two sides can never disagree about what an
    * events timestamp means.
    *
    *  - LongType (nanos-as-long): floor-divide ns→µs in pure integer
    *    arithmetic — `(ts - pmod(ts, 1000)) div 1000` stays in LongType,
    *    so epoch-nano magnitudes (~1.7e18, beyond double's 2^53 exact
    *    range) convert bit-exactly, matching DuckDB's
    *    TIMESTAMP_NS→TIMESTAMP cast for any sign of epoch.
    *  - TIMESTAMP_NTZ: cast to TimestampType. The session time zone is
    *    pinned UTC in [[session]], so the wall-clock reinterprets as the
    *    identical instant — matching DuckDB, which reads the same
    *    column as its (zoneless) TIMESTAMP.
    *  - TimestampType: already the session type; pass through.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other; " +
          "expected INT64 nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** The events table with `ts` normalized via [[normalizeTs]]. */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")

  /** Register every testdata table as a temp view (idempotent). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    TableNames.foreach { n =>
      table(spark, dir, n).createOrReplaceTempView(n)
    }
}
