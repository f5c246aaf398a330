package graft

import graft.queries.Registry
import org.apache.spark.sql.types._

/** Registry-wide output-contract lints — invariants every registered
  * query must satisfy for the driver's cross-engine gate to be able to
  * pass, checked BEFORE the driver does.
  *
  * The DecimalType ban exists because round 12 proved the driver's
  * hasher renders a DECIMAL output column differently on the
  * Spark-parquet and DuckDB sides (`Decimal('123')` vs `123.0`): the
  * only two registered queries emitting DECIMAL (a10/o8) were the only
  * two hash failures, while being cell-value-identical under str()
  * comparison. DECIMAL stays fine INTERNALLY (exact, order-independent
  * accumulation); at the output boundary every query must cast to a
  * hash-stable type (BIGINT, or DOUBLE where the values are exact
  * integers below 2^53). No allow-list — a query that genuinely needs
  * DECIMAL-typed output has no way to hash-match and must not be
  * registered as an oracle row.
  */
class RegistrySpec extends SparkTestBase {

  private def decimalFields(dt: DataType, path: String): Seq[String] =
    dt match {
      case _: DecimalType => Seq(path)
      case s: StructType =>
        s.fields.toSeq.flatMap(f =>
          decimalFields(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => decimalFields(a.elementType, s"$path[]")
      case m: MapType =>
        decimalFields(m.keyType, s"$path.key") ++
          decimalFields(m.valueType, s"$path.value")
      case _ => Nil
    }

  test("no registered query's output schema contains DecimalType " +
      "(driver hash gate renders DECIMAL asymmetrically across engines)") {
    val offenders = Registry.all.flatMap { q =>
      // Building the frame is enough — schema inspection needs no job
      // for the declarative queries, and the drive-style builders
      // (o4/o6/o8/...) run their sf0.001 ingest exactly as Verify does.
      val schema = q.run(spark, sfDir).schema
      val hits = schema.fields.toSeq.flatMap(f =>
        decimalFields(f.dataType, f.name))
      if (hits.isEmpty) Nil else Seq(s"${q.name}: ${hits.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"DecimalType at a registered output boundary (cast to " +
        s"BIGINT/DOUBLE before emitting):\n  ${offenders.mkString("\n  ")}")
  }

  test("each artifact name is declared by exactly one Artifact value, " +
      "and the five daily-rollup readers declare it") {
    val declared = Registry.all.flatMap(_.artifacts)
    assert(!declared.contains(null), "an artifact read before its declaration")
    val clashes = declared.groupBy(_.name).collect {
      case (n, as) if as.distinct.size > 1 => n
    }
    assert(clashes.isEmpty,
      s"artifact names declared with different builders: ${clashes.mkString(", ")}")
    val rollupReaders = Registry.all
      .filter(_.artifacts.contains(graft.queries.CoreQueries.DailyRollup))
      .map(_.name).toSet
    val missing = Set("g5_daily_country_rollup", "g6_monthly_summary",
      "g9_topk_revenue", "g11_mom_growth", "s7_view_from_sql") -- rollupReaders
    assert(missing.isEmpty, s"rows reading the daily rollup without " +
      s"declaring it: ${missing.mkString(", ")}")
  }

  test("registered query names are unique") {
    val dupes = Registry.all.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate registry names: ${dupes.mkString(", ")}")
  }

  // Queries whose plans CONTAIN a nested-loop operator on purpose: a
  // bounded probe/centroid/param frame (constant or query-k-sized, never
  // corpus-sized) crossed into the corpus scan — the standard "broadcast
  // the query" ANN/top-k shape. Every entry must name its bounded side.
  private val DeliberateNestedLoop: Map[String, String] = Map(
    // ANN family: the PROBE VECTOR(S) (k rows, k <= 10) broadcast-cross
    // into the scored corpus scan; the corpus side never nest-loops.
    "a1_ann_bruteforce" -> "probe vector (1 row) x corpus scan",
    "a3_ann_ivf" -> "probe vector (1 row) x cell-pruned corpus",
    "a12_ivf_probe_sweep" ->
      "centroid frame (k rows) x corpus assignment + a7-harness exact arm",
    "a6_ann_quantized" -> "probe + codebook frames x corpus codes",
    "a7_ann_recall" -> "probe vector x corpus (brute + indexed arms)",
    "a7b_ivf_recall" -> "probe vector x corpus (brute + IVF arms)",
    "a7c_quantized_recall" -> "probe vector x corpus (brute + PQ arms)",
    "a9c_ivfadc" -> "distance table + cell list (1 row) x cell codes",
    "a9d_ivfadc_trained" -> "distance table + cell list x cell codes",
    "a11_mrl_recall" -> "probe prefixes (1 row) x corpus (two arms)",
    "d11_semantic_dedup" -> "centroid frame (k rows) x corpus vectors",
    "d11b_semantic_dedup_trained" -> "trained centroids (k) x corpus",
    "d11c_semantic_cluster_stats" -> "centroid frame (k rows) x corpus",
    "o10_incremental_ivf" -> "probe vector (1 row) x maintained cells",
    "t17_bm25_topk" -> "query-term frame (bounded) x postings",
    "t17b_bm25_maintained" -> "query-term frame x maintained postings",
    "t19_hybrid_rrf" -> "query frame (1 row) x both retrieval arms",
    "t19b_hybrid_rrf_indexed" ->
      "query-term frame x postings (BM25 arm; dense arm is bucket-equi)",
    // 1-row parameter/statistic frames crossed into a corpus-sized
    // scan — the "broadcast the scalar" shape (c7's Window-over-counts
    // alternative only applies when the scalar derives from the same
    // small frame being joined).
    "c9_token_budget" -> "1-row budget params x cumulative scan",
    "c9b_token_budget_bpe" -> "1-row budget params x cumulative scan",
    "a4_ivf_train" -> "centroid frame (k rows, broadcast) x corpus",
    "a4b_ivf_train_iters" -> "centroid frame (k rows, broadcast) x corpus",
    "x11_drift_profile" -> "1-row totals x per-key counts",
    "t6_tfidf_topterms" -> "1-row doc count x term stats",
    "t9_vocab_topk" -> "1-row token total x vocab counts",
    "t18_vocab_growth" -> "1-row corpus count x first-seen frame",
    "t11_equidepth_histogram" -> "1-row quantile bounds x corpus scan",
    "w1p_forward_fill_partitioned" ->
      "date series x event-type cardinality (calendar grid, both bounded)")

  test("no registered plan degrades to a corpus-sided nested-loop join " +
      "when auto-broadcast is disabled (registry-wide join-shape lint: " +
      "every equi-join must stay hash/merge-joinable at 100 TB; " +
      "nested-loop operators are allowed only on the named bounded-side " +
      "allow-list)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val nested = Registry.all.map { q =>
        val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
        q.name -> Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
      }.toMap
      val offenders = nested.collect {
        case (n, bad)
            if bad.nonEmpty && !DeliberateNestedLoop.contains(n) =>
          s"$n: ${bad.mkString(", ")}"
      }
      assert(offenders.isEmpty,
        "nested-loop join in a registered plan with broadcast disabled " +
          "(either fix the join or add a justified allow-list entry):\n  " +
          offenders.mkString("\n  "))
      // Keep the allow-list honest in BOTH directions: an entry whose
      // plan no longer contains a nested-loop operator is dead weight
      // (and would silently mask a future regression in that query).
      val dead = DeliberateNestedLoop.keySet
        .filter(n => nested.get(n).forall(_.isEmpty))
      assert(dead.isEmpty,
        s"allow-list entries with no nested-loop in plan (remove them): " +
          dead.mkString(", "))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
