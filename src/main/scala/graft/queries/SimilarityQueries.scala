package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Functions, Graft}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]` column).
  *
  * a1 is the exact baseline: brute-force cosine top-k for a query set,
  * computed with index-order left-fold dot products so the score is
  * bit-identical to the DuckDB oracle and ranks are fully deterministic.
  *
  * a2 is the scale path: random-hyperplane LSH — a deterministic
  * seeded bucket signature per vector, candidates restricted to the
  * query's bucket. At 100 TB the bucketed table is written
  * partitioned-by-bucket so a query touches one partition (partition
  * pruning). a2b is the multi-probe variant: each query additionally
  * probes the NPlanes buckets one flipped signature bit away, trading
  * candidate fan-out for recall. Recall vs a1 is asserted in AnnSpec
  * for both.
  */
object SimilarityQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  private def dot(a: String, b: String) = expr(s"graft_dot($a, $b)")

  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"

  val Dim = 64
  val NPlanes = 4

  /** Deterministic random hyperplanes (seed 42): n x Dim in ±1. The
    * seed stream is shared across n, and `Array.fill(n, Dim)` draws row
    * by row — so `planesFor(6)`'s first 4 rows ARE `planesFor(4)`:
    * adding planes REFINES the bucketing (each coarse bucket splits)
    * instead of reshuffling it, which is what lets a corpus grow into
    * more planes without re-bucketing from scratch conceptually
    * (existing signatures are prefixes of the new ones).
    */
  def planesFor(n: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(n, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  lazy val planes: Array[Array[Double]] = planesFor(NPlanes)

  /** n-bit LSH bucket signature of an embedding column (expects the
    * `__planes0..n-1` literal columns to be attached, see
    * [[withBucketN]]).
    */
  def bucketColN(emb: String, n: Int): org.apache.spark.sql.Column =
    (0 until n).map { j =>
      val proj = expr(s"graft_dot($emb, __planes$j)")
      when(proj >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** NPlanes-bit LSH bucket signature of an embedding column. */
  def bucketCol(emb: String): org.apache.spark.sql.Column =
    bucketColN(emb, NPlanes)

  /** DuckDB twin of [[bucketColN]]: the same plane literals and the
    * same left-fold projection, so bucket assignments match
    * bit-for-bit.
    */
  def bucketSqlN(emb: String, n: Int): String = {
    val ps = planesFor(n)
    (0 until n).map { j =>
      val planeLit = ps(j)
        .map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]::DOUBLE[]")
      val fold = s"list_reduce(list_prepend(0.0::DOUBLE, " +
        s"list_transform(list_zip($emb, $planeLit), " +
        "p -> CAST(p[1] AS DOUBLE) * p[2])), (acc, v) -> acc + v)"
      s"(CASE WHEN $fold >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  def bucketSql(emb: String): String = bucketSqlN(emb, NPlanes)

  /** Plane-count ladder for the adaptive KNN-join (a5c): the smallest
    * p in [[AdaptiveMinPlanes]]..[[AdaptiveMaxPlanes]] with
    * corpusRows <= [[AdaptiveBucketTarget]] * 2^p — i.e. the plane
    * count that holds EXPECTED per-bucket population at the target as
    * the corpus grows, the same follow-the-volume sizing rule as the
    * streaming state-partition count (EventsStream.statePartitionsFor).
    * Integer thresholds only, so the DuckDB oracle reproduces the
    * choice with a CASE ladder over COUNT(*) — no float log2 whose
    * boundary rounding could diverge between engines.
    */
  val AdaptiveBucketTarget = 60L
  val AdaptiveMinPlanes = 4
  val AdaptiveMaxPlanes = 12

  def adaptivePlanes(corpusRows: Long): Int = {
    var p = AdaptiveMinPlanes
    while (p < AdaptiveMaxPlanes &&
      corpusRows > AdaptiveBucketTarget * (1L << p)) p += 1
    p
  }

  /** DuckDB twin of [[adaptivePlanes]] as a one-row CTE body:
    * `SELECT ... AS p` over COUNT(*) of `embeddings`, thresholds
    * textually identical to the Scala ladder.
    */
  def adaptivePlanesSql: String = {
    val cases = (AdaptiveMinPlanes until AdaptiveMaxPlanes)
      .map(p => s"WHEN cnt <= ${AdaptiveBucketTarget * (1L << p)} THEN $p")
      .mkString(" ")
    s"SELECT CASE $cases ELSE $AdaptiveMaxPlanes END AS p " +
      "FROM (SELECT COUNT(*) AS cnt FROM embeddings)"
  }

  /** [[bucketSqlN]] at a RUNTIME plane count: all AdaptiveMaxPlanes
    * terms expand textually, each gated on `j < pRef` (a scalar
    * subquery over the [[adaptivePlanesSql]] CTE). Because planesFor
    * shares one seed stream, the gated sum over j < p IS
    * bucketSqlN(emb, p) for every p — signatures stay prefix-extensions
    * and the p chosen at runtime matches the Spark side bit-for-bit.
    */
  def bucketSqlGated(emb: String, pRef: String): String = {
    val ps = planesFor(AdaptiveMaxPlanes)
    (0 until AdaptiveMaxPlanes).map { j =>
      val planeLit = ps(j)
        .map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]::DOUBLE[]")
      val fold = s"list_reduce(list_prepend(0.0::DOUBLE, " +
        s"list_transform(list_zip($emb, $planeLit), " +
        "p -> CAST(p[1] AS DOUBLE) * p[2])), (acc, v) -> acc + v)"
      s"(CASE WHEN $j < $pRef AND $fold >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** One extra deterministic hyperplane (seed 43 — disjoint from the
    * bucket planes) whose CONTINUOUS projection orders vectors inside a
    * hot bucket: near-identical vectors project near-identically, so
    * sorting by this value puts a near-dup cluster's members adjacent —
    * the property the hot-bucket neighbor-window guard rides on.
    */
  lazy val refinePlane: Array[Double] = {
    val rnd = new scala.util.Random(43)
    Array.fill(Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** The refine projection as a column over `df` (adds/drops the plane
    * literal around the codegen'd dot).
    */
  def withRefineOrd(df: DataFrame, emb: String): DataFrame =
    df.withColumn("__refine",
      array(refinePlane.toIndexedSeq.map(v => lit(v.toFloat)): _*))
      .withColumn("ord", expr(s"graft_dot($emb, __refine)"))
      .drop("__refine")

  /** DuckDB twin of [[withRefineOrd]]'s projection: same plane literal,
    * same left-fold, bit-identical double.
    */
  def refineOrdSql(emb: String): String = {
    val planeLit = refinePlane
      .map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]::DOUBLE[]")
    s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform(list_zip($emb, $planeLit), " +
      "p -> CAST(p[1] AS DOUBLE) * p[2])), (acc, v) -> acc + v)"
  }

  /** Attach plane-literal columns then the n-bit bucket signature. */
  def withBucketN(df: DataFrame, emb: String, n: Int): DataFrame = {
    val ps = planesFor(n)
    val withPlanes = (0 until n).foldLeft(df) { (d, j) =>
      d.withColumn(s"__planes$j",
        array(ps(j).toIndexedSeq.map(v => lit(v.toFloat)): _*))
    }
    withPlanes.withColumn("bucket", bucketColN(emb, n).cast("int"))
      .drop((0 until n).map(j => s"__planes$j"): _*)
  }

  def withBucket(df: DataFrame, emb: String): DataFrame =
    withBucketN(df, emb, NPlanes)

  /** The bit-exact Lloyd-step machinery shared by a4 (one step) and
    * a4b (the iterated loop) — ONE definition of every determinism
    * anchor, Spark and SQL, so the two queries can never drift:
    * (1) assignment distance is the index-order left-fold (x-y)² sum;
    * (2) argmin ties break to the lower cid; (3) cluster means sort
    * each dimension's values then left-fold before dividing — same
    * order, same fold, same mean on both engines.
    */
  private[graft] object Lloyd {
    val K = 8

    /** embeddings as (vec_id, v: array<double>). */
    def corpus(s: SparkSession, d: String): DataFrame =
      t(s, d, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))

    /** First-k init centroids (cid, c). k is the SemDeDup scale dial:
      * it grows with the corpus (k ∝ corpus size at a target cell
      * population) so the within-cell quadratic scan stays bounded —
      * NOTE that every assignment round then carries its own
      * O(N × k × dim) distance term, quadratic in the corpus at
      * k ∝ corpus (r19 census: 16.8× per 10× on the flat [[assign]]).
      * Large-k callers route through [[assignFor]]'s in-row path,
      * which drops the N×k candidate rows but not that arithmetic.
      */
    def init(e: DataFrame, k: Int = K): DataFrame =
      e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v").as("c"))

    /** Assign every vector to its nearest centroid:
      * (vec_id, cid, v, d2).
      *
      * argmin as min(struct(d2, cid, v)) — lexicographic struct
      * ordering IS the (distance ASC, cid ASC) tie-break, and the
      * hash aggregate combines map-side so the exchange moves one row
      * per vector instead of one per (vector, centroid) — k× less
      * shuffle than the former row_number window, bit-identical
      * result (ties on d2 fall to cid; v never decides — it is
      * constant within the group).
      */
    def assign(e: DataFrame, cents: DataFrame): DataFrame = {
      val d2 = expr("graft_dsq(v, c)")
      e.crossJoin(broadcast(cents)).withColumn("d2", d2)
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"), col("v"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"),
          col("m.v").as("v"), col("m.d2").as("d2"))
    }

    /** k threshold above which [[assignFor]] switches from the flat
      * N×k scan to [[assignInRow]]. Below it the flat crossJoin's
      * per-candidate-row cost is negligible; every registered row
      * (k=8 everywhere) stays on the flat path with a byte-identical
      * plan.
      */
    val InRowK = 32

    /** Scale-adaptive assignment: flat for small k, in-row argmin for
      * large k — callers that own the k dial (the SemDeDup census
      * path, where k grows with the corpus) route through here. Both
      * paths produce IDENTICAL rows (MixtureSpec asserts the
      * equality), so the choice is pure execution policy.
      *
      * Why not triangle-inequality pruning: an exact two-level
      * (pivot + radius) variant was BUILT and MEASURED in r20 — at
      * the sf10/k800 census decade it read 286 s against the flat
      * scan's 227 s (fully evaluated): at dim=64 the census corpus's
      * distances concentrate, so dp − r ≤ ub prunes almost nothing
      * and the pivot/radius machinery is pure overhead. Rejected on
      * evidence; [[assignInRow]] attacks the real cost instead — the
      * measured spend was ~0.8 µs of join+aggregate machinery per
      * CANDIDATE ROW, 25× the distance arithmetic itself.
      */
    def assignFor(e: DataFrame, cents: DataFrame, k: Int): DataFrame =
      if (k <= InRowK) assign(e, cents)
      else assignInRow(e, cents)

    /** EXACT in-row Lloyd argmin — the fix for the flat scan's N×k
      * term when k grows with the corpus (the r19 census measured
      * 16.8× per 10× at k ∝ corpus, overtaking the within-cell scan
      * the k dial exists to bound). The centroid set is collapsed to
      * ONE broadcast row carrying array<struct(cid, c)>, and
      * `graft_argmin_sq` (engine/DoubleVectorFolds.scala) computes
      * each vector's nearest centroid in one compiled loop — same
      * index-order (x−y)² fold, same (d2, cid) tie-break, N output
      * rows from N input rows with no N×k candidate materialization
      * and no wide aggregate. The centroid input is materialized
      * first (≤ k rows): it arrives as a lazy plan nesting the whole
      * training chain, and an unmaterialized reference re-evaluates
      * that chain wherever the plan is reused (measured as the r20
      * census's second-decade blowup before the cut).
      */
    def assignInRow(e: DataFrame, cents0: DataFrame): DataFrame = {
      val cents = Scratch.materialize(e.sparkSession, "lloyd_cents", cents0)
      val centsRow = broadcast(
        cents.agg(collect_list(struct(col("cid"), col("c"))).as("cs")))
      // The argmin is CPU-dense map work (k×dim fold per row), and
      // byte-based split sizing leaves a census corpus (tens of MB on
      // disk for 200k×64 vectors) on ONE scan task — the r20 parts
      // census measured the whole argmin single-threaded. Fan the
      // input out to session parallelism when the scan is narrower
      // (the materializeForCpu rationale); at real scale the scan
      // already exceeds core count and this is a no-op.
      val par = e.sparkSession.sparkContext.defaultParallelism
      val eIn = if (e.rdd.getNumPartitions < par) e.repartition(par) else e
      eIn.crossJoin(centsRow)
        .withColumn("m", expr("graft_argmin_sq(v, cs)"))
        .filter(col("m").isNotNull)
        .select(col("vec_id"), col("m.cid").as("cid"),
          col("v"), col("m.d2").as("d2"))
    }

    /** Exact sorted-fold cluster means: (cid, c). */
    def means(asg: DataFrame): DataFrame =
      asg.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((expr("aggregate(array_sort(collect_list(x)), " +
          "cast(0 as double), (acc, y) -> acc + y)") /
          count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
          "p -> p.m)").as("c"))

    /** Per-centroid population + DECIMAL-exact inertia of an
      * assignment.
      */
    def stats(asg: DataFrame): DataFrame =
      asg.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          Functions.dsum(col("d2")).as("sum_dist2"))

    // ---- DuckDB twins of the same three steps ----

    def distSql(vc: String, cc: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($vc, $cc), " +
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"

    /** `e AS (...), c1 AS (...)` corpus + init CTE prefix. */
    def baseSql(k: Int): String =
      s"""e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c1 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < $k)""".stripMargin

    val BaseSql: String = baseSql(K)

    def asgSql(c: String): String =
      s"""SELECT vec_id, cid, v, d2 FROM (
         |    SELECT e.vec_id, e.v, $c.cid,
         |      ${distSql("e.v", s"$c.c")} AS d2,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${distSql("e.v", s"$c.c")}, $c.cid) AS rn
         |    FROM e, $c) t WHERE rn = 1""".stripMargin

    def meansSql(asg: String): String =
      s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
         |    SELECT cid, r.i AS pos,
         |      list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(v[r.i]))),
         |        (acc, y) -> acc + y) / COUNT(*) AS m
         |    FROM $asg, LATERAL UNNEST(range(1, len(v) + 1)) r(i)
         |    GROUP BY cid, r.i) dims GROUP BY cid""".stripMargin
  }

  /** The recall-report tail shared by a7/a7b/a7c: exact and retrieved
    * (query_id, vec_id) sets → per-query hits/recall, LEFT-joined from
    * the exact census so a query whose index retrieves nothing still
    * reports recall 0 (the worst-recall queries are the report's whole
    * point). O(queries × k) rows — trivially tiny at any scale.
    */
  private def recallReport(exact: DataFrame, retrieved: DataFrame): DataFrame = {
    val hits = retrieved.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(retrieved.groupBy(col("query_id"))
        .agg(count(lit(1)).as("nr")), Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("nr"), lit(0L)).as("n_retrieved"),
        coalesce(col("h"), lit(0L)).as("n_hit"),
        (coalesce(col("h"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  /** Exact brute-force top-k (query_id, vec_id) ground truth for the
    * recall reports: a1 semantics over queries vec_id < 5.
    */
  private def exactTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = t(s, d, "embeddings")
      .withColumn("norm", sqrt(dot("embedding", "embedding")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
        col("norm").as("norm_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dot("eq", "embedding") / (col("norm_q") * col("norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
  }

  /** DuckDB twins: `e`/`q`/`exact` CTE prefix and the report tail over
    * CTEs named `exact` and `retr`.
    */
  private def exactCteSql(k: Int): String =
    s"""e AS (SELECT vec_id, embedding,
       |  sqrt(${dotSql("embedding", "embedding")}) AS norm FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q
       |        FROM e WHERE vec_id < 5),
       |exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${dotSql("q.eq", "e.embedding")} /
       |          (q.norm_q * e.norm) DESC, e.vec_id) AS rank
       |    FROM e CROSS JOIN q WHERE e.vec_id != q.query_id) t
       |  WHERE rank <= $k)""".stripMargin

  private val RecallTailSql: String =
    """hits AS (
      |  SELECT x.query_id, COUNT(*) AS h
      |  FROM exact x JOIN retr l
      |    ON x.query_id = l.query_id AND x.vec_id = l.vec_id
      |  GROUP BY 1)
      |SELECT x.query_id,
      |  COUNT(*) AS n_exact,
      |  COALESCE(ANY_VALUE(r.n_retrieved), 0) AS n_retrieved,
      |  COALESCE(ANY_VALUE(hits.h), 0) AS n_hit,
      |  CAST(COALESCE(ANY_VALUE(hits.h), 0) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS recall
      |FROM exact x
      |LEFT JOIN (SELECT query_id, COUNT(*) AS n_retrieved
      |      FROM retr GROUP BY 1) r ON x.query_id = r.query_id
      |LEFT JOIN hits ON x.query_id = hits.query_id
      |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  def all: Seq[Q] = Seq(

    Q("a1_ann_bruteforce",
      "ANN baseline — brute-force cosine top-10 for query vectors " +
        "(vec_id < 5), exact fold dot products, deterministic ranks",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"))
        val cand = e.select(col("vec_id"), col("embedding").as("ec"),
          col("norm").as("norm_c"))
        val scored = cand.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cosine", dot("eq", "ec") / (col("norm_q") * col("norm_c")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q
           |      FROM e WHERE vec_id < 5),
           |scored AS (
           |  SELECT q.query_id, e.vec_id,
           |    ${dotSql("q.eq", "e.embedding")} / (q.norm_q * e.norm) AS cosine
           |  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id, cosine FROM ranked
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    Q("a2_ann_lsh_bucketed",
      "ANN scale path — random-hyperplane LSH bucket signature (4 " +
        "planes, seed 42), top-5 within the query's bucket. The " +
        "pipeline is approximate vs a1 but fully deterministic, so it " +
        "carries an exact DuckDB oracle (same plane literals, same " +
        "fold dot products); recall vs a1 is additionally asserted in " +
        "AnnSpec. This row is the INTENTIONAL floor arm of the " +
        "a2→a2b→a3 recall/cost dial (~0.28 recall@5 at ~6% of the " +
        "corpus scanned) — production picks a rung (a2b multiprobe, " +
        "a3 IVF) by recall target; the single-bucket arm stays " +
        "registered so the dial's bottom is measured, not assumed.",
      (s, d) => {
        val e = withBucket(t(s, d, "embeddings"), "embedding")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("bucket").as("bucket_q"))
        val scored = e.join(broadcast(q),
            col("bucket") === col("bucket_q") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        bucket AS bucket_q FROM e WHERE vec_id < 5),
           |scored AS (
           |  SELECT q.query_id, e.vec_id,
           |    ${dotSql("q.eq", "e.embedding")} / (q.norm_q * e.norm) AS cosine
           |  FROM e JOIN q ON e.bucket = q.bucket_q AND e.vec_id != q.query_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id, cosine FROM ranked
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("a2b_ann_multiprobe",
      "ANN scale path, multi-probe variant — each query probes its own " +
        "bucket PLUS the 4 buckets at Hamming distance 1 in signature " +
        "space (one flipped hyperplane bit), trading 5x candidate " +
        "fan-out for recall: near neighbors that fall just on the other " +
        "side of one hyperplane are recovered. Deterministic, so " +
        "oracle-checked (probe fan-out via xor over the mask list); " +
        "AnnSpec additionally asserts recall vs a1 is >= the " +
        "single-bucket a2 and candidate coverage strictly grows.",
      (s, d) => {
        val e = withBucket(t(s, d, "embeddings"), "embedding")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val probeMasks = lit(0) +: (0 until NPlanes).map(j => lit(1 << j))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("bucket").as("bucket_q"))
          .withColumn("probe",
            explode(array(probeMasks.map(m =>
              col("bucket_q").bitwiseXOR(m)): _*)))
        val scored = e.join(broadcast(q),
            col("bucket") === col("probe") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        bucket AS bucket_q FROM e WHERE vec_id < 5),
           |probes AS (
           |  SELECT q.*, xor(q.bucket_q, m.m) AS probe
           |  FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS m) m),
           |scored AS (
           |  SELECT p.query_id, e.vec_id,
           |    ${dotSql("p.eq", "e.embedding")} / (p.norm_q * e.norm) AS cosine
           |  FROM e JOIN probes p ON e.bucket = p.probe AND e.vec_id != p.query_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id, cosine FROM ranked
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("a3_ann_ivf",
      "ANN scale path #2 — IVF with deterministic centroids (the first " +
        "8 vectors act as coarse centroids; every vector is assigned to " +
        "its nearest centroid in one broadcast pass), queries probe the " +
        "2 nearest cells. Deterministic centroids + deterministic " +
        "tie-breaks make the whole pipeline oracle-checkable; " +
        "structural properties additionally asserted in AnnSpec. At " +
        "scale the inverted file is written partitioned-by-cell so a " +
        "probe reads 2 partitions.",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
            col("norm").as("cnorm"))
        // assignment: nearest centroid per vector (broadcast, 1 pass)
        val wAssign = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("cent_id"))
        val assigned = e.crossJoin(broadcast(cents))
          .withColumn("csim", dot("embedding", "ce") / (col("norm") * col("cnorm")))
          .withColumn("crank", row_number().over(wAssign))
          .filter(col("crank") === 1)
          .select(col("vec_id"), col("embedding"), col("norm"), col("cent_id"))
        // queries probe their 2 nearest cells
        val probes = assigned.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"))
          .crossJoin(broadcast(cents))
          .withColumn("csim", dot("eq", "ce") / (col("norm_q") * col("cnorm")))
          .withColumn("crank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col("csim").desc, col("cent_id"))))
          .filter(col("crank") <= 2)
          .select(col("query_id"), col("eq"), col("norm_q"),
            col("cent_id").as("probe_cell"))
        val scored = assigned.join(broadcast(probes),
            col("cent_id") === col("probe_cell") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("cosine", dot("eq", "embedding") / (col("norm_q") * col("norm")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(IvfOracleSql)),

    Q("a12_ivf_probe_sweep",
      "The IVF recall/cost DIAL as one oracle row — per nprobe in " +
        "{1, 2, 4, 8}: candidates scanned and recall@5 against the " +
        "exact cosine arm, i.e. the curve a production deployment " +
        "reads to pick its probe count (a3 is the nprobe=2 point; " +
        "this row measures the whole dial, and nprobe=k must land at " +
        "recall 1.0 — the built-in sanity anchor, since probing every " +
        "cell IS the exact scan over a partitioned layout). The " +
        "centroid ranking per query is computed ONCE (one window " +
        "over 8 broadcast centroids) and the sweep fans out by a " +
        "4-value explode — candidates for nprobe=n are reached by " +
        "the same cell hash join as a3, so at 100 TB each rung reads " +
        "exactly n of k cell partitions and the row's n_candidates " +
        "column IS the I/O model. Exact arm is the a7-harness " +
        "deliberate full scan (ground truth requires it). All " +
        "rankings deterministic, so every cell of the curve carries " +
        "an exact DuckDB oracle; recall = n_hit/25.0 is one IEEE " +
        "division of small integers, bit-identical cross-engine.",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
            col("norm").as("cnorm"))
        val wAssign = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("cent_id"))
        val assigned = e.crossJoin(broadcast(cents))
          .withColumn("csim",
            dot("embedding", "ce") / (col("norm") * col("cnorm")))
          .withColumn("crank", row_number().over(wAssign))
          .filter(col("crank") === 1)
          .select(col("vec_id"), col("embedding"), col("norm"),
            col("cent_id"))
        val rankedq = assigned.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"))
          .crossJoin(broadcast(cents))
          .withColumn("csim", dot("eq", "ce") / (col("norm_q") * col("cnorm")))
          .withColumn("crank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col("csim").desc, col("cent_id"))))
        val probes = rankedq
          .withColumn("nprobe", explode(array(
            Seq(1L, 2L, 4L, 8L).map(lit): _*)))
          .filter(col("crank") <= col("nprobe"))
          .select(col("nprobe"), col("query_id"), col("eq"),
            col("norm_q"), col("cent_id").as("probe_cell"))
        val scored = assigned.join(broadcast(probes),
            col("cent_id") === col("probe_cell") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
        val ivf5 = scored
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("nprobe"), col("query_id"))
              .orderBy(col("cosine").desc, col("vec_id"))))
          .filter(col("rank") <= 5)
          .select(col("nprobe"), col("query_id"), col("vec_id"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"))
        val exact5 = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col("cosine").desc, col("vec_id"))))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("vec_id"))
        val cand = scored.groupBy(col("nprobe"))
          .agg(count(lit(1)).as("n_candidates"))
        val hits = ivf5.join(exact5, Seq("query_id", "vec_id"))
          .groupBy(col("nprobe")).agg(count(lit(1)).as("nh"))
        // The output is driven from the STATIC 4-row nprobe frame, not
        // from whichever rungs happened to score candidates: a layout
        // where some probed cell holds no non-query vectors must emit
        // its rung as n_candidates=0/recall=0, keeping the row's
        // "per nprobe in {1,2,4,8}" contract structural, not
        // data-dependent.
        val npFrame = s.range(1).select(explode(array(
          Seq(1L, 2L, 4L, 8L).map(lit): _*)).as("nprobe"))
        npFrame.join(cand, Seq("nprobe"), "left")
          .join(hits, Seq("nprobe"), "left")
          .select(col("nprobe"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            coalesce(col("nh"), lit(0L)).as("n_hit"),
            (coalesce(col("nh"), lit(0L)).cast("double") / 25.0)
              .as("recall"))
          .orderBy("nprobe")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm
           |  FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, embedding AS ce,
           |          norm AS cnorm FROM e WHERE vec_id < 8),
           |assigned AS (
           |  SELECT vec_id, embedding, norm, cent_id FROM (
           |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm)
           |          DESC, c.cent_id) AS crank
           |    FROM e CROSS JOIN cents c) t WHERE crank = 1),
           |rankedq AS (
           |  SELECT a.vec_id AS query_id, a.embedding AS eq,
           |    a.norm AS norm_q, c.cent_id AS probe_cell,
           |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
           |      ORDER BY ${dotSql("a.embedding", "c.ce")} / (a.norm * c.cnorm)
           |        DESC, c.cent_id) AS crank
           |  FROM assigned a CROSS JOIN cents c WHERE a.vec_id < 5),
           |np AS (SELECT CAST(UNNEST([1, 2, 4, 8]) AS BIGINT) AS nprobe),
           |probes AS (
           |  SELECT n.nprobe, r.query_id, r.eq, r.norm_q, r.probe_cell
           |  FROM rankedq r CROSS JOIN np n WHERE r.crank <= n.nprobe),
           |scored AS (
           |  SELECT p.nprobe, p.query_id, a.vec_id,
           |    ${dotSql("p.eq", "a.embedding")} / (p.norm_q * a.norm)
           |      AS cosine
           |  FROM assigned a JOIN probes p ON a.cent_id = p.probe_cell
           |    AND a.vec_id != p.query_id),
           |ivf5 AS (
           |  SELECT nprobe, query_id, vec_id FROM (
           |    SELECT nprobe, query_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
           |        ORDER BY cosine DESC, vec_id) AS rank
           |    FROM scored) t WHERE rank <= 5),
           |qf AS (SELECT vec_id AS query_id, embedding AS eq,
           |       norm AS norm_q FROM e WHERE vec_id < 5),
           |ex AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT q.query_id, e.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id
           |        ORDER BY ${dotSql("q.eq", "e.embedding")} / (q.norm_q * e.norm)
           |          DESC, e.vec_id) AS rank
           |    FROM e CROSS JOIN qf q WHERE e.vec_id != q.query_id) t
           |  WHERE rank <= 5),
           |cand AS (SELECT nprobe, COUNT(*) AS n_candidates
           |         FROM scored GROUP BY 1),
           |hits AS (SELECT i.nprobe, COUNT(*) AS nh FROM ivf5 i
           |         JOIN ex USING (query_id, vec_id) GROUP BY 1)
           |SELECT n.nprobe,
           |  CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
           |  CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hit,
           |  CAST(COALESCE(h.nh, 0) AS DOUBLE) / 25.0 AS recall
           |FROM np n LEFT JOIN cand c ON n.nprobe = c.nprobe
           |  LEFT JOIN hits h ON n.nprobe = h.nprobe
           |ORDER BY n.nprobe""".stripMargin)),

    Q("a4_ivf_train",
      "IVF centroid TRAINING — one exact Lloyd step with a bit-exact " +
        "cross-engine oracle, which k-means normally can't have " +
        "(cluster means are order-dependent float sums). Determinism " +
        "anchors: (1) assignment distance is the index-order left-fold " +
        "(x-y)^2 sum; (2) each cluster-dimension's values are SORTED " +
        "then left-folded before dividing — same sorted order, same " +
        "fold, same mean on both engines; (3) argmin ties break on " +
        "centroid id. Init = first k vectors, assign, exact-mean " +
        "recompute, reassign; reports per-centroid population and " +
        "decimal-summed inertia. Scale shape: k centroids broadcast, " +
        "assignment is one scan, means are one (cid, dim) shuffle; the " +
        "sorted fold is the test-scale determinism anchor — at 100 TB " +
        "swap it for fixed-point (integer) accumulation per dimension.",
      (s, d) => {
        val e = Lloyd.corpus(s, d)
        val asg1 = Lloyd.assign(e, Lloyd.init(e))
        Lloyd.stats(Lloyd.assign(e, Lloyd.means(asg1))).orderBy("cid")
      },
      Some(
        s"""WITH ${Lloyd.BaseSql},
           |a1 AS (${Lloyd.asgSql("c1")}),
           |c2 AS (${Lloyd.meansSql("a1")}),
           |a2 AS (${Lloyd.asgSql("c2")})
           |SELECT cid, COUNT(*) AS n_vecs,
           |  CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) AS sum_dist2
           |FROM a2 GROUP BY 1 ORDER BY cid""".stripMargin)),

    Q("a4b_ivf_train_iters",
      "IVF centroid training ITERATED — three exact Lloyd rounds with " +
        "the full inertia trajectory reported per (iteration, " +
        "centroid), extending a4's single step to the actual training " +
        "loop: assign against the current centroids, record " +
        "population + decimal-summed inertia, recompute sorted-fold " +
        "exact means, repeat. Lloyd's monotone-descent guarantee " +
        "(total inertia never increases between iterations) becomes a " +
        "driver-visible, cross-engine-verified number series — the " +
        "determinism anchors are a4's exactly (index-order fold " +
        "distances, sorted-fold means, argmin ties to the lower cid), " +
        "composed three deep, so every double in all 24 output rows " +
        "is bit-identical across engines. Iteration 2's rows " +
        "reproduce a4's output by construction (asserted in AnnSpec). " +
        "Scale shape per round: k centroids broadcast, assignment is " +
        "one scan, means are one (cid, dim) shuffle — the loop is " +
        "warehouse-iterable exactly like the CC rounds.",
      (s, d) => {
        val iters = 3
        val e = Lloyd.corpus(s, d)
        var cents = Lloyd.init(e)
        var out: DataFrame = null
        for (it <- 1 to iters) {
          val asg = Lloyd.assign(e, cents)
          val stats = Lloyd.stats(asg)
            .withColumn("iter", lit(it.toLong))
            .select(col("iter"), col("cid"), col("n_vecs"), col("sum_dist2"))
          out = if (out == null) stats else out.unionByName(stats)
          if (it < iters) cents = Lloyd.means(asg)
        }
        out.orderBy("iter", "cid")
      },
      Some {
        def statsSql(it: Int, asg: String) =
          s"""SELECT CAST($it AS BIGINT) AS iter, cid,
             |  COUNT(*) AS n_vecs,
             |  CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) AS sum_dist2
             |FROM $asg GROUP BY 1, 2""".stripMargin
        s"""WITH ${Lloyd.BaseSql},
           |a1 AS (${Lloyd.asgSql("c1")}),
           |c2 AS (${Lloyd.meansSql("a1")}),
           |a2 AS (${Lloyd.asgSql("c2")}),
           |c3 AS (${Lloyd.meansSql("a2")}),
           |a3 AS (${Lloyd.asgSql("c3")})
           |SELECT * FROM (
           |  ${statsSql(1, "a1")}
           |  UNION ALL ${statsSql(2, "a2")}
           |  UNION ALL ${statsSql(3, "a3")})
           |ORDER BY iter, cid""".stripMargin
      }),

    Q("a5_knn_join",
      "Distributed KNN-JOIN — top-3 neighbors for EVERY row of a query " +
        "TABLE (vec_id % 10 == 0) against the rest of the corpus: the " +
        "many-to-many retrieval/augmentation shape where neither side " +
        "broadcasts (a2's broadcast-query path is the few-queries " +
        "special case). Both sides carry the LSH bucket signature, " +
        "candidates meet in ONE shuffle join on bucket, and per-query " +
        "top-k is a window over the join output. At corpus scale " +
        "NPlanes grows so bucket cardinality keeps pace with the " +
        "cluster, and a skewed bucket splits by the e7 salt pattern.",
      (s, d) => {
        val e = withBucket(t(s, d, "embeddings"), "embedding")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("bucket"))
        val c = e.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id"), col("embedding").as("ec"),
            col("norm").as("norm_c"), col("bucket"))
        val scored = c.join(q, Seq("bucket"))
          .withColumn("cosine",
            dot("eq", "ec") / (col("norm_q") * col("norm_c")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        bucket FROM e WHERE vec_id % 10 = 0),
           |c AS (SELECT vec_id, embedding AS ec, norm AS norm_c, bucket
           |      FROM e WHERE vec_id % 10 != 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    ${dotSql("q.eq", "c.ec")} / (q.norm_q * c.norm_c) AS cosine
           |  FROM c JOIN q USING (bucket)),
           |ranked AS (
           |  SELECT query_id, vec_id, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id, cosine FROM ranked
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("a5b_knn_join_moreplanes",
      "The a5 KNN-join at 6 LSH planes (64 buckets) — the corpus-scale " +
        "dial a5's doc prescribes ('at corpus scale NPlanes grows'), " +
        "made observable as its own oracle-checked row. Planes share " +
        "the seed stream, so 6-plane bucketing REFINES 4-plane (each " +
        "a5 bucket splits in 4, signatures are prefix-extensions): " +
        "candidate pairs in the bucket join drop ~4x — the knob that " +
        "keeps per-bucket population constant as the corpus grows 4x " +
        "— at the cost of recall for near-boundary neighbors (AnnSpec " +
        "asserts every pair reported by both variants carries the " +
        "identical cosine, so the dial changes CANDIDACY, never " +
        "scoring).",
      (s, d) => {
        val e = withBucketN(t(s, d, "embeddings"), "embedding", 6)
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("bucket"))
        val c = e.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id"), col("embedding").as("ec"),
            col("norm").as("norm_c"), col("bucket"))
        val scored = c.join(q, Seq("bucket"))
          .withColumn("cosine",
            dot("eq", "ec") / (col("norm_q") * col("norm_c")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSqlN("embedding", 6)} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        bucket FROM e WHERE vec_id % 10 = 0),
           |c AS (SELECT vec_id, embedding AS ec, norm AS norm_c, bucket
           |      FROM e WHERE vec_id % 10 != 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    ${dotSql("q.eq", "c.ec")} / (q.norm_q * c.norm_c) AS cosine
           |  FROM c JOIN q USING (bucket)),
           |ranked AS (
           |  SELECT query_id, vec_id, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id, cosine FROM ranked
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("a5c_knn_join_adaptive",
      "The a5 KNN-join with the plane count SIZED BY THE CORPUS instead " +
        "of fixed by hand: p = smallest in [4,12] with rows <= 60*2^p " +
        "(integer ladder, DuckDB twin is a CASE over COUNT(*)), so " +
        "expected per-bucket population holds at ~60 as the corpus " +
        "grows — a5b proved the 6-plane dial works; this row makes the " +
        "dial AUTOMATIC, the same follow-the-volume rule as the " +
        "streaming state-partition sizing. At the test SFs the ladder " +
        "lands on both manual rungs (500 rows -> 4 planes == a5; 2000 " +
        "rows -> 6 planes == a5b), and the 10x census corpus lands on " +
        "9 planes (512 buckets) untouched by any code change. The " +
        "corpus count is a metadata-only parquet footer read; planes " +
        "share a5's seed stream so every signature is a prefix " +
        "extension of a5's. Recall tradeoff is a5b's, documented there.",
      (s, d) => {
        val n = s.read.parquet(s"$d/embeddings.parquet").count()
        val p = adaptivePlanes(n)
        val e = withBucketN(t(s, d, "embeddings"), "embedding", p)
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("bucket"))
        val c = e.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id"), col("embedding").as("ec"),
            col("norm").as("norm_c"), col("bucket"))
        val scored = c.join(q, Seq("bucket"))
          .withColumn("cosine",
            dot("eq", "ec") / (col("norm_q") * col("norm_c")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH np AS ($adaptivePlanesSql),
           |e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSqlGated("embedding", "(SELECT p FROM np)")} AS bucket
           |  FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        bucket FROM e WHERE vec_id % 10 = 0),
           |c AS (SELECT vec_id, embedding AS ec, norm AS norm_c, bucket
           |      FROM e WHERE vec_id % 10 != 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    ${dotSql("q.eq", "c.ec")} / (q.norm_q * c.norm_c) AS cosine
           |  FROM c JOIN q USING (bucket)),
           |ranked AS (
           |  SELECT query_id, vec_id, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id, cosine FROM ranked
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("a8_hard_negatives",
      "Hard-negative mining — for every query vector, the top-3 MOST " +
        "similar candidates whose LABEL DIFFERS: the contrastive-" +
        "training data op (the hardest negatives are the near-misses, " +
        "not random draws). Same LSH-bucket join shape as a5 — " +
        "candidates meet in one shuffle join on bucket — with the " +
        "label-mismatch predicate IN the join condition, so same-label " +
        "pairs are dropped at the join, before the cosine evaluates " +
        "or the window ranks. At 100 TB this is a5's scale story " +
        "unchanged: bucketed candidate generation, per-query top-k " +
        "window, no all-pairs, no broadcast of either fact side.",
      (s, d) => {
        val e = withBucket(t(s, d, "embeddings"), "embedding")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("label").as("label_q"),
            col("bucket"))
        val c = e.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id"), col("embedding").as("ec"),
            col("norm").as("norm_c"), col("label").as("label_c"),
            col("bucket"))
        val scored = c.join(q,
            c("bucket") === q("bucket") && col("label_c") =!= col("label_q"))
          .withColumn("cosine",
            dot("eq", "ec") / (col("norm_q") * col("norm_c")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("label_c").cast("long").as("neg_label"),
            col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding, label,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        label AS label_q, bucket FROM e WHERE vec_id % 10 = 0),
           |c AS (SELECT vec_id, embedding AS ec, norm AS norm_c,
           |        label AS label_c, bucket FROM e WHERE vec_id % 10 != 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id, c.label_c,
           |    ${dotSql("q.eq", "c.ec")} / (q.norm_q * c.norm_c) AS cosine
           |  FROM c JOIN q ON c.bucket = q.bucket AND c.label_c != q.label_q),
           |ranked AS (
           |  SELECT query_id, vec_id, label_c, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id,
           |  CAST(label_c AS BIGINT) AS neg_label, cosine FROM ranked
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("a8b_hard_negatives_moreplanes",
      "The a8 hard-negative mine at 6 LSH planes (64 buckets) — the " +
        "same corpus-scale dial a5b demonstrates for the plain " +
        "KNN-join, applied to the label-mismatch variant whose census " +
        "slope is the suite's steepest (the fixed-16-bucket join's " +
        "per-bucket population grows linearly with the corpus). " +
        "Signatures are prefix-extensions of a8's (shared seed " +
        "stream), so candidate pairs drop ~4x while every pair " +
        "reported by both variants carries the identical cosine " +
        "(AnnSpec) — the dial changes CANDIDACY, never scoring or the " +
        "label-mismatch predicate, which still drops same-label pairs " +
        "at the join.",
      (s, d) => {
        val e = withBucketN(t(s, d, "embeddings"), "embedding", 6)
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("label").as("label_q"),
            col("bucket"))
        val c = e.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id"), col("embedding").as("ec"),
            col("norm").as("norm_c"), col("label").as("label_c"),
            col("bucket"))
        val scored = c.join(q,
            c("bucket") === q("bucket") && col("label_c") =!= col("label_q"))
          .withColumn("cosine",
            dot("eq", "ec") / (col("norm_q") * col("norm_c")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("label_c").cast("long").as("neg_label"),
            col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding, label,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSqlN("embedding", 6)} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        label AS label_q, bucket FROM e WHERE vec_id % 10 = 0),
           |c AS (SELECT vec_id, embedding AS ec, norm AS norm_c,
           |        label AS label_c, bucket FROM e WHERE vec_id % 10 != 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id, c.label_c,
           |    ${dotSql("q.eq", "c.ec")} / (q.norm_q * c.norm_c) AS cosine
           |  FROM c JOIN q ON c.bucket = q.bucket AND c.label_c != q.label_q),
           |ranked AS (
           |  SELECT query_id, vec_id, label_c, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id,
           |  CAST(label_c AS BIGINT) AS neg_label, cosine FROM ranked
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("a8c_hard_negatives_adaptive",
      "The a8 hard-negative mine with the plane count SIZED BY THE " +
        "CORPUS — a5c's integer ladder (smallest p in [4,12] with " +
        "rows <= 60*2^p, a metadata-only footer count, DuckDB twin a " +
        "CASE over COUNT(*)) applied to the suite's steepest census " +
        "row. a8b proved the 6-plane dial halves a8's slope by hand; " +
        "this row turns the knob automatically, so per-bucket " +
        "population — and with it the candidate-pair count the " +
        "label-mismatch join scores — holds at ~60 however large the " +
        "corpus grows. Signatures share a8's seed stream (prefix " +
        "extensions); the ladder lands on a8's 4 planes at 500 rows " +
        "and a8b's 6 at 2000, so both manual rungs are reproduced " +
        "before the automatic ones take over. Recall tradeoff is " +
        "a8b's, documented there.",
      (s, d) => {
        val n = s.read.parquet(s"$d/embeddings.parquet").count()
        val p = adaptivePlanes(n)
        val e = withBucketN(t(s, d, "embeddings"), "embedding", p)
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("label").as("label_q"),
            col("bucket"))
        val c = e.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id"), col("embedding").as("ec"),
            col("norm").as("norm_c"), col("label").as("label_c"),
            col("bucket"))
        val scored = c.join(q,
            c("bucket") === q("bucket") && col("label_c") =!= col("label_q"))
          .withColumn("cosine",
            dot("eq", "ec") / (col("norm_q") * col("norm_c")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("label_c").cast("long").as("neg_label"),
            col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH np AS ($adaptivePlanesSql),
           |e AS (SELECT vec_id, embedding, label,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSqlGated("embedding", "(SELECT p FROM np)")} AS bucket
           |  FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        label AS label_q, bucket FROM e WHERE vec_id % 10 = 0),
           |c AS (SELECT vec_id, embedding AS ec, norm AS norm_c,
           |        label AS label_c, bucket FROM e WHERE vec_id % 10 != 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id, c.label_c,
           |    ${dotSql("q.eq", "c.ec")} / (q.norm_q * c.norm_c) AS cosine
           |  FROM c JOIN q ON c.bucket = q.bucket AND c.label_c != q.label_q),
           |ranked AS (
           |  SELECT query_id, vec_id, label_c, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, vec_id,
           |  CAST(label_c AS BIGINT) AS neg_label, cosine FROM ranked
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("a6_ann_quantized",
      "Int8-quantized ANN — per-vector scalar quantization " +
        "(scale = greatest(max|x|/127, 1e-30) — the epsilon floor " +
        "keeps an all-zero embedding from dividing by zero, where " +
        "Spark's non-ANSI CAST(NaN AS BIGINT)=0 and DuckDB's NaN " +
        "floor/cast diverge; floor(x/scale + 0.5) — floor, not " +
        "round: round-half rules differ across engines) shrinks the " +
        "vector store 4x and turns the scoring hot path into exact " +
        "int64 dot products; top-5 per query on the quantized cosine. " +
        "The storage/bandwidth story for a 100 TB vector corpus: " +
        "floats leave the wire entirely after the one quantization " +
        "pass, and integer scoring is exact, so the whole pipeline " +
        "still carries a bit-identical DuckDB oracle.",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .withColumn("scale",
            expr("greatest(aggregate(embedding, CAST(0.0 AS DOUBLE), " +
              "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))) / 127.0, " +
              "1e-30)"))
          .withColumn("q",
            expr("transform(embedding, x -> CAST(floor(" +
              "CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))"))
          .withColumn("qnorm",
            expr("graft_ldot(q, q)"))
          .select(col("vec_id"), col("q"), col("qnorm"))
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("q").as("qq"),
            col("qnorm").as("qnorm_q"))
        val scored = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
          .withColumn("qdot",
            expr("graft_ldot(q, qq)"))
          .withColumn("cosine_q",
            col("qdot").cast("double") /
              (sqrt(col("qnorm").cast("double")) *
                sqrt(col("qnorm_q").cast("double"))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine_q").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine_q"))
          .orderBy("query_id", "rank")
      },
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding,
          |      x -> CAST(floor(CAST(x AS DOUBLE) / greatest(list_reduce(
          |        list_transform(embedding, v -> abs(CAST(v AS DOUBLE))),
          |        (a, b) -> greatest(a, b)) / 127.0, 1e-30) + 0.5) AS BIGINT)) AS q
          |  FROM embeddings),
          |n AS (
          |  SELECT vec_id, q,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(list_zip(q, q),
          |        p -> p[1] * p[2])), (acc, v) -> acc + v) AS qnorm
          |  FROM e),
          |qs AS (SELECT vec_id AS query_id, q AS qq, qnorm AS qnorm_q
          |       FROM n WHERE vec_id < 5),
          |scored AS (
          |  SELECT qs.query_id, n.vec_id,
          |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(list_zip(n.q, qs.qq),
          |        p -> p[1] * p[2])), (acc, v) -> acc + v) AS DOUBLE)
          |      / (sqrt(CAST(n.qnorm AS DOUBLE)) * sqrt(CAST(qs.qnorm_q AS DOUBLE)))
          |      AS cosine_q
          |  FROM n CROSS JOIN qs WHERE n.vec_id != qs.query_id),
          |ranked AS (
          |  SELECT query_id, vec_id, cosine_q,
          |    ROW_NUMBER() OVER (PARTITION BY query_id
          |      ORDER BY cosine_q DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT query_id, rank, vec_id, cosine_q FROM ranked
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("a7_ann_recall",
      "ANN recall evaluation as a first-class, driver-visible " +
        "operator — the eval harness every approximate index needs " +
        "before it replaces the exact path in production: per query, " +
        "exact brute-force cosine top-10 (a1 semantics) and " +
        "LSH-bucket top-10 (a2's blocking at k=10) computed in one " +
        "frame, intersected, and reported as hits/recall. Both " +
        "rankings are fully deterministic (fold dot products, " +
        "cosine-desc/vec_id tie-break), so unlike typical recall " +
        "harnesses this one carries an exact DuckDB oracle — the " +
        "recall NUMBER itself is cross-engine-verified, not just " +
        "spot-checked (AnnSpec's fixture bound and SCALE.md's " +
        "bench-scale table remain the trend views). Scale shape: " +
        "the query set broadcasts into both scans (a1/a2's shape), " +
        "the intersection joins two k-row-per-query frames on " +
        "(query_id, vec_id) — O(queries x k), trivially tiny.",
      (s, d) => {
        val e = withBucket(t(s, d, "embeddings"), "embedding")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"), col("bucket").as("bucket_q"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        val exact = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id"))
        val lsh = e.join(broadcast(q),
            col("bucket") === col("bucket_q") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id"))
        val hits = exact.join(lsh, Seq("query_id", "vec_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
        // LEFT joins from the exact census: a query whose bucket
        // retrieves nothing must still appear, reporting recall 0 —
        // the worst-recall queries are the report's whole point
        exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
          .join(lsh.groupBy(col("query_id"))
            .agg(count(lit(1)).as("nr")), Seq("query_id"), "left")
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"), col("n_exact"),
            coalesce(col("nr"), lit(0L)).as("n_retrieved"),
            coalesce(col("h"), lit(0L)).as("n_hit"),
            (coalesce(col("h"), lit(0L)).cast("double") /
              col("n_exact").cast("double")).as("recall"))
          .orderBy("query_id")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${dotSql("embedding", "embedding")}) AS norm,
           |  ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS eq, norm AS norm_q,
           |        bucket AS bucket_q FROM e WHERE vec_id < 5),
           |exact AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT q.query_id, e.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id
           |        ORDER BY ${dotSql("q.eq", "e.embedding")} /
           |          (q.norm_q * e.norm) DESC, e.vec_id) AS rank
           |    FROM e CROSS JOIN q WHERE e.vec_id != q.query_id) t
           |  WHERE rank <= 10),
           |lsh AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT q.query_id, e.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id
           |        ORDER BY ${dotSql("q.eq", "e.embedding")} /
           |          (q.norm_q * e.norm) DESC, e.vec_id) AS rank
           |    FROM e JOIN q ON e.bucket = q.bucket_q
           |      AND e.vec_id != q.query_id) t
           |  WHERE rank <= 10),
           |hits AS (
           |  SELECT x.query_id, COUNT(*) AS h
           |  FROM exact x JOIN lsh l
           |    ON x.query_id = l.query_id AND x.vec_id = l.vec_id
           |  GROUP BY 1)
           |SELECT x.query_id,
           |  COUNT(*) AS n_exact,
           |  COALESCE(ANY_VALUE(r.n_retrieved), 0) AS n_retrieved,
           |  COALESCE(ANY_VALUE(hits.h), 0) AS n_hit,
           |  CAST(COALESCE(ANY_VALUE(hits.h), 0) AS DOUBLE) /
           |    CAST(COUNT(*) AS DOUBLE) AS recall
           |FROM exact x
           |LEFT JOIN (SELECT query_id, COUNT(*) AS n_retrieved
           |      FROM lsh GROUP BY 1) r ON x.query_id = r.query_id
           |LEFT JOIN hits ON x.query_id = hits.query_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin)),

    Q("a7b_ivf_recall",
      "IVF recall report — a7's driver-visible eval harness pointed at " +
        "the a3 index: per query, exact brute-force cosine top-10 " +
        "ground truth vs the IVF probe-2-cells retrieval at k=10, " +
        "intersected to hits/recall with recall-0 queries kept by the " +
        "LEFT join from the exact census. Both rankings are fully " +
        "deterministic (fold dot products, cosine-desc/vec_id " +
        "tie-breaks, argmin-to-lower-cell assignment), so the recall " +
        "NUMBER is cross-engine-verified — the spec-scale floor in " +
        "AnnSpec is now the trend view, not the only evidence. Scale " +
        "shape: ground truth is one broadcast-query scan (the eval " +
        "runs over a SAMPLE of queries at 100 TB — here the fixed " +
        "5-query panel), retrieval reads 2 cells per query, and the " +
        "report joins two k-row-per-query frames.",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
            col("norm").as("cnorm"))
        val wAssign = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("cent_id"))
        val assigned = e.crossJoin(broadcast(cents))
          .withColumn("csim",
            dot("embedding", "ce") / (col("norm") * col("cnorm")))
          .withColumn("crank", row_number().over(wAssign))
          .filter(col("crank") === 1)
          .select(col("vec_id"), col("embedding"), col("norm"), col("cent_id"))
        val probes = assigned.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
            col("norm").as("norm_q"))
          .crossJoin(broadcast(cents))
          .withColumn("csim", dot("eq", "ce") / (col("norm_q") * col("cnorm")))
          .withColumn("crank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col("csim").desc, col("cent_id"))))
          .filter(col("crank") <= 2)
          .select(col("query_id"), col("eq"), col("norm_q"),
            col("cent_id").as("probe_cell"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        val retrieved = assigned.join(broadcast(probes),
            col("cent_id") === col("probe_cell") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id"))
        recallReport(exactTopK(s, d, 10), retrieved)
      },
      Some(
        s"""WITH ${exactCteSql(10)},
           |cents AS (SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
           |          FROM e WHERE vec_id < 8),
           |assigned AS (
           |  SELECT vec_id, embedding, norm, cent_id FROM (
           |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm)
           |          DESC, c.cent_id) AS crank
           |    FROM e CROSS JOIN cents c) t WHERE crank = 1),
           |probes AS (
           |  SELECT query_id, eq, norm_q, probe_cell FROM (
           |    SELECT a.vec_id AS query_id, a.embedding AS eq,
           |      a.norm AS norm_q, c.cent_id AS probe_cell,
           |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
           |        ORDER BY ${dotSql("a.embedding", "c.ce")} / (a.norm * c.cnorm)
           |          DESC, c.cent_id) AS crank
           |    FROM assigned a CROSS JOIN cents c WHERE a.vec_id < 5) t
           |  WHERE crank <= 2),
           |retr AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT p.query_id, a.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY p.query_id
           |        ORDER BY ${dotSql("p.eq", "a.embedding")} /
           |          (p.norm_q * a.norm) DESC, a.vec_id) AS rank
           |    FROM assigned a JOIN probes p ON a.cent_id = p.probe_cell
           |      AND a.vec_id != p.query_id) t
           |  WHERE rank <= 10),
           |$RecallTailSql""".stripMargin)),

    Q("a7c_quantized_recall",
      "Quantization-distortion recall report — a7's harness pointed at " +
        "the a6 int8 index: exact float cosine top-10 ground truth vs " +
        "the quantized-dot ranking top-10 (a6 scores every vector, so " +
        "any rank displacement IS quantization error, isolated from " +
        "blocking effects — complementing a7b, which isolates the " +
        "blocking error at exact scoring). Same deterministic " +
        "intersect shape, same LEFT-join recall-0 guarantee, exact " +
        "DuckDB oracle on the recall number itself. At 100 TB this is " +
        "the eval a store runs before swapping its float scan for the " +
        "4x-smaller int8 one.",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .withColumn("scale",
            expr("greatest(aggregate(embedding, CAST(0.0 AS DOUBLE), " +
              "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))) / 127.0, " +
              "1e-30)"))
          .withColumn("q",
            expr("transform(embedding, x -> CAST(floor(" +
              "CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))"))
          .withColumn("qnorm",
            expr("graft_ldot(q, q)"))
          .select(col("vec_id"), col("q"), col("qnorm"))
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("q").as("qq"),
            col("qnorm").as("qnorm_q"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine_q").desc, col("vec_id"))
        val retrieved = e.join(broadcast(qs),
            col("vec_id") =!= col("query_id"))
          .withColumn("qdot",
            expr("graft_ldot(q, qq)"))
          .withColumn("cosine_q",
            col("qdot").cast("double") /
              (sqrt(col("qnorm").cast("double")) *
                sqrt(col("qnorm_q").cast("double"))))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id"))
        recallReport(exactTopK(s, d, 10), retrieved)
      },
      Some(
        s"""WITH ${exactCteSql(10)},
           |qz AS (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE) / greatest(list_reduce(
           |        list_transform(embedding, v -> abs(CAST(v AS DOUBLE))),
           |        (a, b) -> greatest(a, b)) / 127.0, 1e-30) + 0.5) AS BIGINT)) AS q
           |  FROM embeddings),
           |n AS (
           |  SELECT vec_id, q,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(list_zip(q, q),
           |        p -> p[1] * p[2])), (acc, v) -> acc + v) AS qnorm
           |  FROM qz),
           |qs AS (SELECT vec_id AS query_id, q AS qq, qnorm AS qnorm_q
           |       FROM n WHERE vec_id < 5),
           |retr AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT qs.query_id, n.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY qs.query_id
           |        ORDER BY CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           |          list_transform(list_zip(n.q, qs.qq),
           |            p -> p[1] * p[2])), (acc, v) -> acc + v) AS DOUBLE)
           |          / (sqrt(CAST(n.qnorm AS DOUBLE)) *
           |             sqrt(CAST(qs.qnorm_q AS DOUBLE))) DESC,
           |          n.vec_id) AS rank
           |    FROM n CROSS JOIN qs WHERE n.vec_id != qs.query_id) t
           |  WHERE rank <= 10),
           |$RecallTailSql""".stripMargin)),

    Q("a9_pq_adc",
      "Product quantization + asymmetric-distance scan (Jégou et al. " +
        "2011) — the missing compression rung between a6's scalar int8 " +
        "(4x) and raw floats: each 64-dim vector splits into 8 " +
        "subvectors, each encoded as its nearest of 16 per-subspace " +
        "codebook entries (argmin over the index-order (x-y)^2 fold, " +
        "ties to the lower code — the a4 determinism anchors applied " +
        "per subspace), so a vector stores as EIGHT code ids (~8 " +
        "bytes, 32x vs float32). Queries never decode: ADC computes " +
        "one 8x16 distance table per query (query subvector vs every " +
        "codebook entry) and scores a candidate as the sum of 8 table " +
        "lookups along its codes — summed in DECIMAL(38,6) so the " +
        "total is order-independent and bit-identical cross-engine. " +
        "Codebooks here are deterministic first-16 donors (the a3 " +
        "init convention); production trains them with the a4 Lloyd " +
        "loop per subspace. At 100 TB: codebooks (8x16x8 doubles) " +
        "broadcast everywhere, the corpus-side scan reads ONLY the " +
        "8-byte code column (the float column never leaves storage " +
        "after encode), distance tables are O(queries) and broadcast, " +
        "and the scan composes with a3's IVF cells (IVFADC) so each " +
        "query touches one cell partition of codes.",
      (s, d) => {
        val (m, sub, kc) = (8, 8, 16)
        val e = Lloyd.corpus(s, d)
        val subs = e.select(col("vec_id"),
          posexplode(expr(
            s"transform(sequence(0, ${m - 1}), i -> slice(v, i*$sub+1, $sub))"))
            .as(Seq("s", "sub")))
        val cb = subs.filter(col("vec_id") < kc)
          .select(col("vec_id").as("cb_id"), col("s").as("cs"),
            col("sub").as("csub"))
        def d2(a: String, b: String) =
          expr(s"graft_dsq($a, $b)")
        val codes = pqArgmin(subs.join(broadcast(cb), col("s") === col("cs"))
            .withColumn("d2", d2("sub", "csub")))
          .select(col("vec_id"), col("s"), col("m.cb_id").as("code"))
        val dtq = subs.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("s").as("qs"),
            col("sub").as("qsub"))
          .join(broadcast(cb), col("qs") === col("cs"))
          .withColumn("qd2", d2("qsub", "csub"))
          .select(col("query_id"), col("qs"), col("cb_id").as("qc"),
            col("qd2"))
        val adc = codes.join(broadcast(dtq),
            col("s") === col("qs") && col("code") === col("qc") &&
              col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(Functions.dsum(col("qd2")).as("adc_d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
        adc.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("vec_id"), col("adc_d2"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |subs AS (
           |  SELECT vec_id, CAST(r.i AS BIGINT) AS s,
           |    v[CAST(r.i*8+1 AS INTEGER):CAST(r.i*8+8 AS INTEGER)] AS sub
           |  FROM e, LATERAL UNNEST(range(0, 8)) r(i)),
           |cb AS (SELECT vec_id AS cb_id, s, sub AS csub
           |       FROM subs WHERE vec_id < 16),
           |codes AS (
           |  SELECT vec_id, s, code FROM (
           |    SELECT subs.vec_id, subs.s, cb.cb_id AS code,
           |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
           |        ORDER BY ${Lloyd.distSql("subs.sub", "cb.csub")}, cb.cb_id)
           |        AS rn
           |    FROM subs JOIN cb ON subs.s = cb.s) t WHERE rn = 1),
           |dtq AS (
           |  SELECT q.vec_id AS query_id, q.s, cb.cb_id AS qc,
           |    ${Lloyd.distSql("q.sub", "cb.csub")} AS qd2
           |  FROM subs q JOIN cb ON q.s = cb.s WHERE q.vec_id < 5),
           |adc AS (
           |  SELECT d.query_id, c.vec_id,
           |    CAST(SUM(CAST(d.qd2 AS DECIMAL(38,6))) AS DOUBLE) AS adc_d2
           |  FROM codes c JOIN dtq d ON c.s = d.s AND c.code = d.qc
           |  WHERE c.vec_id != d.query_id GROUP BY 1, 2),
           |ranked AS (
           |  SELECT query_id, vec_id, adc_d2,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY adc_d2, vec_id) AS rank
           |  FROM adc)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_d2
           |FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin)),

    Q("a9b_pq_trained",
      "a9 with TRAINED codebooks — one exact per-subspace Lloyd round " +
        "(assign every subvector to its nearest first-16 donor, " +
        "recompute each (subspace, code) centroid as the sorted-fold " +
        "exact mean — a4's determinism anchors grouped by subspace), " +
        "then the identical encode + ADC scan. The PQ paper's actual " +
        "recipe: codebooks are k-means codebooks per subspace, and " +
        "training is what buys recall back from the 32x compression " +
        "(measured against a9's untrained arm in AnnSpec). Scale " +
        "shape: training shuffles (s, cid, dim) triples — k×m×subdim " +
        "cells regardless of corpus size — and the encode/scan path " +
        "is byte-for-byte a9's.",
      (s, d) => {
        val (m, sub, kc) = (8, 8, 16)
        val e = Lloyd.corpus(s, d)
        val subs = e.select(col("vec_id"),
          posexplode(expr(
            s"transform(sequence(0, ${m - 1}), i -> slice(v, i*$sub+1, $sub))"))
            .as(Seq("s", "sub")))
        val cb0 = subs.filter(col("vec_id") < kc)
          .select(col("vec_id").as("cb_id"), col("s").as("cs"),
            col("sub").as("csub"))
        def d2(a: String, b: String) =
          expr(s"graft_dsq($a, $b)")
        val asg = pqArgmin(subs.join(broadcast(cb0), col("s") === col("cs"))
            .withColumn("d2", d2("sub", "csub")), "sub")
          .select(col("s"), col("m.sub").as("sub"),
            col("m.cb_id").as("cid"))
        val cb = asg
          .select(col("s"), col("cid"), posexplode(col("sub")).as(Seq("pos", "x")))
          .groupBy(col("s"), col("cid"), col("pos"))
          .agg((expr("aggregate(array_sort(collect_list(x)), " +
            "cast(0 as double), (acc, y) -> acc + y)") /
            count(lit(1))).as("m"))
          .groupBy(col("s"), col("cid"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
            "p -> p.m)").as("csub"))
          .select(col("cid").as("cb_id"), col("s").as("cs"), col("csub"))
        val codes = pqArgmin(subs.join(broadcast(cb), col("s") === col("cs"))
            .withColumn("d2", d2("sub", "csub")))
          .select(col("vec_id"), col("s"), col("m.cb_id").as("code"))
        val dtq = subs.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("s").as("qs"),
            col("sub").as("qsub"))
          .join(broadcast(cb), col("qs") === col("cs"))
          .withColumn("qd2", d2("qsub", "csub"))
          .select(col("query_id"), col("qs"), col("cb_id").as("qc"),
            col("qd2"))
        val adc = codes.join(broadcast(dtq),
            col("s") === col("qs") && col("code") === col("qc") &&
              col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(Functions.dsum(col("qd2")).as("adc_d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
        adc.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("vec_id"), col("adc_d2"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |subs AS (
           |  SELECT vec_id, CAST(r.i AS BIGINT) AS s,
           |    v[CAST(r.i*8+1 AS INTEGER):CAST(r.i*8+8 AS INTEGER)] AS sub
           |  FROM e, LATERAL UNNEST(range(0, 8)) r(i)),
           |cb0 AS (SELECT vec_id AS cb_id, s, sub AS csub
           |        FROM subs WHERE vec_id < 16),
           |asg AS (
           |  SELECT vec_id, s, sub, cid FROM (
           |    SELECT subs.vec_id, subs.s, subs.sub, cb0.cb_id AS cid,
           |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
           |        ORDER BY ${Lloyd.distSql("subs.sub", "cb0.csub")}, cb0.cb_id)
           |        AS rn
           |    FROM subs JOIN cb0 ON subs.s = cb0.s) t WHERE rn = 1),
           |cb AS (
           |  SELECT s, cid AS cb_id, list(m ORDER BY pos) AS csub FROM (
           |    SELECT a.s, a.cid, r.i AS pos,
           |      list_reduce(list_prepend(0.0::DOUBLE,
           |        list_sort(list(a.sub[CAST(r.i AS INTEGER)]))),
           |        (acc, y) -> acc + y) / COUNT(*) AS m
           |    FROM asg a, LATERAL UNNEST(range(1, 9)) r(i)
           |    GROUP BY a.s, a.cid, r.i) dims GROUP BY s, cid),
           |codes AS (
           |  SELECT vec_id, s, code FROM (
           |    SELECT subs.vec_id, subs.s, cb.cb_id AS code,
           |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
           |        ORDER BY ${Lloyd.distSql("subs.sub", "cb.csub")}, cb.cb_id)
           |        AS rn
           |    FROM subs JOIN cb ON subs.s = cb.s) t WHERE rn = 1),
           |dtq AS (
           |  SELECT q.vec_id AS query_id, q.s, cb.cb_id AS qc,
           |    ${Lloyd.distSql("q.sub", "cb.csub")} AS qd2
           |  FROM subs q JOIN cb ON q.s = cb.s WHERE q.vec_id < 5),
           |adc AS (
           |  SELECT d.query_id, c.vec_id,
           |    CAST(SUM(CAST(d.qd2 AS DECIMAL(38,6))) AS DOUBLE) AS adc_d2
           |  FROM codes c JOIN dtq d ON c.s = d.s AND c.code = d.qc
           |  WHERE c.vec_id != d.query_id GROUP BY 1, 2),
           |ranked AS (
           |  SELECT query_id, vec_id, adc_d2,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY adc_d2, vec_id) AS rank
           |  FROM adc)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_d2
           |FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin)),

    Q("a9c_ivfadc",
      "IVFADC — the full Jégou et al. 2011 pipeline, composing a3's " +
        "coarse cells with a9's PQ: every vector is assigned to its " +
        "nearest of 8 coarse centroids (the a4 assignment, exact " +
        "fold distances, ties to lower cid), its RESIDUAL (v - " +
        "centroid) is PQ-encoded against residual-trained donor " +
        "codebooks, and queries probe their 2 nearest cells — per " +
        "probed cell the query's own residual builds the ADC " +
        "distance table, and only that cell's codes are scored. " +
        "This is the proof of the a9 scale claim ('composes with " +
        "a3's cells'): the scan per query touches candidates in 2 of " +
        "8 cells (at 100 TB: codes written partitioned-by-cell, a " +
        "probe reads 2 partitions of 8-byte codes), centroids and " +
        "codebooks broadcast, residual encoding is the standard " +
        "variance-reduction trick that makes per-cell codebooks " +
        "unnecessary. Exact decimal ADC sums keep the whole 3-stage " +
        "pipeline bit-identical cross-engine.",
      (s, d) => {
        val (m, sub, kc, kCells, probe) = (8, 8, 16, 8, 2)
        val e = Lloyd.corpus(s, d)
        val cents = Lloyd.init(e, kCells)
        val asg = Lloyd.assign(e, cents)
        val res = asg.join(broadcast(cents), Seq("cid"))
          .withColumn("r", expr("zip_with(v, c, (x, y) -> x - y)"))
          .select(col("vec_id"), col("cid"), col("r"))
        val rsubs = res.select(col("vec_id"), col("cid"),
          posexplode(expr(
            s"transform(sequence(0, ${m - 1}), i -> slice(r, i*$sub+1, $sub))"))
            .as(Seq("s", "sub")))
        val cb = rsubs.filter(col("vec_id") < kc)
          .select(col("vec_id").as("cb_id"), col("s").as("cs"),
            col("sub").as("csub"))
        def d2(a: String, b: String) =
          expr(s"graft_dsq($a, $b)")
        val codes = pqArgmin(rsubs.join(broadcast(cb), col("s") === col("cs"))
            .withColumn("d2", d2("sub", "csub")), "cid")
          .select(col("vec_id"), col("m.cid").as("cid"), col("s"),
            col("m.cb_id").as("code"))
        val wProbe = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("d2"), col("cid"))
        val probes = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("q"))
          .crossJoin(broadcast(cents))
          .withColumn("d2", d2("q", "c"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= probe)
          .withColumn("rq", expr("zip_with(q, c, (x, y) -> x - y)"))
          .select(col("query_id"), col("cid").as("pcell"), col("rq"))
        val dtq = probes.select(col("query_id"), col("pcell"),
            posexplode(expr(
              s"transform(sequence(0, ${m - 1}), i -> slice(rq, i*$sub+1, $sub))"))
              .as(Seq("qs", "qsub")))
          .join(broadcast(cb), col("qs") === col("cs"))
          .withColumn("qd2", d2("qsub", "csub"))
          .select(col("query_id"), col("pcell"), col("qs"),
            col("cb_id").as("qc"), col("qd2"))
        val adc = codes.join(broadcast(dtq),
            col("cid") === col("pcell") && col("s") === col("qs") &&
              col("code") === col("qc") &&
              col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(Functions.dsum(col("qd2")).as("adc_d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
        adc.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("vec_id"), col("adc_d2"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |c1 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
           |asg AS (
           |  SELECT vec_id, cid, v FROM (
           |    SELECT e.vec_id, e.v, c1.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${Lloyd.distSql("e.v", "c1.c")}, c1.cid) AS rn
           |    FROM e, c1) t WHERE rn = 1),
           |res AS (
           |  SELECT a.vec_id, a.cid,
           |    list_transform(list_zip(a.v, c1.c), p -> p[1] - p[2]) AS r
           |  FROM asg a JOIN c1 USING (cid)),
           |rsubs AS (
           |  SELECT vec_id, cid, CAST(g.i AS BIGINT) AS s,
           |    r[CAST(g.i*8+1 AS INTEGER):CAST(g.i*8+8 AS INTEGER)] AS sub
           |  FROM res, LATERAL UNNEST(range(0, 8)) g(i)),
           |cb AS (SELECT vec_id AS cb_id, s, sub AS csub
           |       FROM rsubs WHERE vec_id < 16),
           |codes AS (
           |  SELECT vec_id, cid, s, code FROM (
           |    SELECT rsubs.vec_id, rsubs.cid, rsubs.s, cb.cb_id AS code,
           |      ROW_NUMBER() OVER (PARTITION BY rsubs.vec_id, rsubs.s
           |        ORDER BY ${Lloyd.distSql("rsubs.sub", "cb.csub")}, cb.cb_id)
           |        AS rn
           |    FROM rsubs JOIN cb ON rsubs.s = cb.s) t WHERE rn = 1),
           |probes AS (
           |  SELECT query_id, cid AS pcell, q FROM (
           |    SELECT e.vec_id AS query_id, e.v AS q, c1.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${Lloyd.distSql("e.v", "c1.c")}, c1.cid) AS rn
           |    FROM e, c1 WHERE e.vec_id < 5) t WHERE rn <= 2),
           |qres AS (
           |  SELECT p.query_id, p.pcell,
           |    list_transform(list_zip(p.q, c1.c), x -> x[1] - x[2]) AS rq
           |  FROM probes p JOIN c1 ON p.pcell = c1.cid),
           |dtq AS (
           |  SELECT q.query_id, q.pcell, CAST(g.i AS BIGINT) AS s,
           |    cb.cb_id AS qc,
           |    ${Lloyd.distSql(
                  "q.rq[CAST(g.i*8+1 AS INTEGER):CAST(g.i*8+8 AS INTEGER)]",
                  "cb.csub")} AS qd2
           |  FROM qres q, LATERAL UNNEST(range(0, 8)) g(i)
           |  JOIN cb ON cb.s = CAST(g.i AS BIGINT)),
           |adc AS (
           |  SELECT d.query_id, c.vec_id,
           |    CAST(SUM(CAST(d.qd2 AS DECIMAL(38,6))) AS DOUBLE) AS adc_d2
           |  FROM codes c JOIN dtq d ON c.cid = d.pcell AND c.s = d.s
           |    AND c.code = d.qc
           |  WHERE c.vec_id != d.query_id GROUP BY 1, 2),
           |ranked AS (
           |  SELECT query_id, vec_id, adc_d2,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY adc_d2, vec_id) AS rank
           |  FROM adc)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_d2
           |FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin)),

    Q("a9d_ivfadc_trained",
      "a9c's IVFADC with TRAINED residual codebooks — the production " +
        "composition: coarse cells + residual encoding exactly as " +
        "a9c, but the per-subspace codebooks get one exact Lloyd " +
        "round over the RESIDUAL subvectors (assign to nearest " +
        "first-16 donor, recompute each (subspace, code) centroid as " +
        "the sorted-fold exact mean — a9b's recipe applied where the " +
        "PQ paper applies it, to residuals) before encode. Training " +
        "is what buys recall back from the stacked compression: " +
        "AnnSpec asserts a9d recall >= a9c's at bench scale, " +
        "mirroring the a9b >= a9 trained-vs-untrained guarantee. " +
        "Scale shape unchanged from a9c — training shuffles (s, " +
        "code, dim) cells (k x m x subdim regardless of corpus " +
        "size), codebooks broadcast, probes read 2 of 8 cell " +
        "partitions of 8-byte codes.",
      (s, d) => {
        val (m, sub, kCells, probe) = (8, 8, 8, 2)
        val e = Lloyd.corpus(s, d)
        val cents = Lloyd.init(e, kCells)
        val rsubs = ivfadcRsubs(e, cents)
        val cb = pqTrainRound(rsubs, pqDonors(rsubs, 16))
        def d2(a: String, b: String) =
          expr(s"graft_dsq($a, $b)")
        val codes = pqArgmin(rsubs.join(broadcast(cb), col("s") === col("cs"))
            .withColumn("d2", d2("sub", "csub")), "cid")
          .select(col("vec_id"), col("m.cid").as("cid"), col("s"),
            col("m.cb_id").as("code"))
        val wProbe = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("d2"), col("cid"))
        val probes = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("q"))
          .crossJoin(broadcast(cents))
          .withColumn("d2", d2("q", "c"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= probe)
          .withColumn("rq", expr("zip_with(q, c, (x, y) -> x - y)"))
          .select(col("query_id"), col("cid").as("pcell"), col("rq"))
        val dtq = probes.select(col("query_id"), col("pcell"),
            posexplode(expr(
              s"transform(sequence(0, ${m - 1}), i -> slice(rq, i*$sub+1, $sub))"))
              .as(Seq("qs", "qsub")))
          .join(broadcast(cb), col("qs") === col("cs"))
          .withColumn("qd2", d2("qsub", "csub"))
          .select(col("query_id"), col("pcell"), col("qs"),
            col("cb_id").as("qc"), col("qd2"))
        val adc = codes.join(broadcast(dtq),
            col("cid") === col("pcell") && col("s") === col("qs") &&
              col("code") === col("qc") &&
              col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(Functions.dsum(col("qd2")).as("adc_d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
        adc.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("vec_id"), col("adc_d2"))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH e AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |c1 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
           |asg AS (
           |  SELECT vec_id, cid, v FROM (
           |    SELECT e.vec_id, e.v, c1.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${Lloyd.distSql("e.v", "c1.c")}, c1.cid) AS rn
           |    FROM e, c1) t WHERE rn = 1),
           |res AS (
           |  SELECT a.vec_id, a.cid,
           |    list_transform(list_zip(a.v, c1.c), p -> p[1] - p[2]) AS r
           |  FROM asg a JOIN c1 USING (cid)),
           |rsubs AS (
           |  SELECT vec_id, cid, CAST(g.i AS BIGINT) AS s,
           |    r[CAST(g.i*8+1 AS INTEGER):CAST(g.i*8+8 AS INTEGER)] AS sub
           |  FROM res, LATERAL UNNEST(range(0, 8)) g(i)),
           |cb0 AS (SELECT vec_id AS cb_id, s, sub AS csub
           |        FROM rsubs WHERE vec_id < 16),
           |asgT AS (
           |  SELECT s, sub, tcid FROM (
           |    SELECT rsubs.vec_id, rsubs.s, rsubs.sub, cb0.cb_id AS tcid,
           |      ROW_NUMBER() OVER (PARTITION BY rsubs.vec_id, rsubs.s
           |        ORDER BY ${Lloyd.distSql("rsubs.sub", "cb0.csub")}, cb0.cb_id)
           |        AS rn
           |    FROM rsubs JOIN cb0 ON rsubs.s = cb0.s) t WHERE rn = 1),
           |cb AS (
           |  SELECT s, tcid AS cb_id, list(m ORDER BY pos) AS csub FROM (
           |    SELECT a.s, a.tcid, r.i AS pos,
           |      list_reduce(list_prepend(0.0::DOUBLE,
           |        list_sort(list(a.sub[CAST(r.i AS INTEGER)]))),
           |        (acc, y) -> acc + y) / COUNT(*) AS m
           |    FROM asgT a, LATERAL UNNEST(range(1, 9)) r(i)
           |    GROUP BY a.s, a.tcid, r.i) dims GROUP BY s, tcid),
           |codes AS (
           |  SELECT vec_id, cid, s, code FROM (
           |    SELECT rsubs.vec_id, rsubs.cid, rsubs.s, cb.cb_id AS code,
           |      ROW_NUMBER() OVER (PARTITION BY rsubs.vec_id, rsubs.s
           |        ORDER BY ${Lloyd.distSql("rsubs.sub", "cb.csub")}, cb.cb_id)
           |        AS rn
           |    FROM rsubs JOIN cb ON rsubs.s = cb.s) t WHERE rn = 1),
           |probes AS (
           |  SELECT query_id, cid AS pcell, q FROM (
           |    SELECT e.vec_id AS query_id, e.v AS q, c1.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${Lloyd.distSql("e.v", "c1.c")}, c1.cid) AS rn
           |    FROM e, c1 WHERE e.vec_id < 5) t WHERE rn <= 2),
           |qres AS (
           |  SELECT p.query_id, p.pcell,
           |    list_transform(list_zip(p.q, c1.c), x -> x[1] - x[2]) AS rq
           |  FROM probes p JOIN c1 ON p.pcell = c1.cid),
           |dtq AS (
           |  SELECT q.query_id, q.pcell, CAST(g.i AS BIGINT) AS s,
           |    cb.cb_id AS qc,
           |    ${Lloyd.distSql(
                  "q.rq[CAST(g.i*8+1 AS INTEGER):CAST(g.i*8+8 AS INTEGER)]",
                  "cb.csub")} AS qd2
           |  FROM qres q, LATERAL UNNEST(range(0, 8)) g(i)
           |  JOIN cb ON cb.s = CAST(g.i AS BIGINT)),
           |adc AS (
           |  SELECT d.query_id, c.vec_id,
           |    CAST(SUM(CAST(d.qd2 AS DECIMAL(38,6))) AS DOUBLE) AS adc_d2
           |  FROM codes c JOIN dtq d ON c.cid = d.pcell AND c.s = d.s
           |    AND c.code = d.qc
           |  WHERE c.vec_id != d.query_id GROUP BY 1, 2),
           |ranked AS (
           |  SELECT query_id, vec_id, adc_d2,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY adc_d2, vec_id) AS rank
           |  FROM adc)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_d2
           |FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin)),

    Q("o10_incremental_ivf",
      "Incremental IVF index maintenance — the maintained-index twin " +
        "of a3 (what t17b is to t17): coarse centroids are PINNED at " +
        "index creation (the production shape — the codebook is " +
        "trained once, then the inverted file is maintained under " +
        "arriving batches), each embedding batch is assigned to its " +
        "nearest centroid independently (one broadcast pass per " +
        "batch — assignment is per-row, so batch ingestion commutes " +
        "with a full rebuild bit for bit) and APPENDED to a " +
        "cell-PARTITIONED codes table. Query-time probing reads ONLY " +
        "the probed cell partitions: the driver collects the bounded " +
        "(queries x probe) cell-id set and the isin filter " +
        "partition-prunes the scan — a3's 'a probe reads 2 " +
        "partitions' claim, actually executed against the on-disk " +
        "layout (PlanSpec asserts the partition filter). Oracle: a3's " +
        "full-corpus declarative SQL VERBATIM — maintained-index " +
        "search must hash-match the one-shot computation.",
      (s, d) => {
        val cat = new graft.engine.Catalog(s, Scratch.fresh(s, "o10_wh"))
        val e = t(s, d, "embeddings")
          .withColumn("norm", sqrt(dot("embedding", "embedding")))
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
            col("norm").as("cnorm"))
        // argmax as max(struct(csim, -cent_id, ...)) — lexicographic
        // struct order IS the (csim DESC, cent_id ASC) tie-break the
        // former row_number window encoded, and the hash aggregate
        // combines map-side, so the exchange moves one row per vector
        // instead of one per (vector, centroid) — identical rows (the
        // r19 Lloyd.assign move, applied to the o10 ingest path).
        def assign(batch: DataFrame): DataFrame =
          batch.crossJoin(broadcast(cents))
            .withColumn("csim",
              dot("embedding", "ce") / (col("norm") * col("cnorm")))
            .groupBy(col("vec_id"))
            .agg(max(struct(col("csim"), (-col("cent_id")).as("nc"),
              col("embedding"), col("norm"))).as("m"))
            .select(col("vec_id"), col("m.embedding").as("embedding"),
              col("m.norm").as("norm"), (-col("m.nc")).as("cent_id"))
        for (b <- Seq(e.filter(col("vec_id") % 2 === 0),
            e.filter(col("vec_id") % 2 =!= 0)))
          cat.append("ivf_codes", assign(b), partitionBy = Seq("cent_id"))
        val probes = ivfProbes(cat.table("ivf_codes"), cents)
        // bounded driver barrier: <= 5 queries x 2 probes cell ids —
        // the partition-pruning predicate, never data
        val cells = probes.select(col("probe_cell")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val scored = cat.table("ivf_codes")
          .filter(col("cent_id").isin(cells: _*))
          .join(broadcast(probes),
            col("cent_id") === col("probe_cell") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            dot("eq", "embedding") / (col("norm_q") * col("norm")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(IvfOracleSql)),

    Q("a11_mrl_recall",
      "Truncated-dimension retrieval recall (Matryoshka-style, " +
        "Kusupati et al. 2022) — exact cosine top-10 over the FIRST 16 " +
        "of 64 dims vs the full-dim exact ground truth, through the " +
        "shared a7 recall harness. The cheapest rung of the " +
        "dimension/recall ladder: a 4x-smaller vector store and 4x " +
        "fewer multiply-adds per candidate, with the recall cost " +
        "measured as a first-class oracle-checked number (the eval a " +
        "store runs before adopting truncated embeddings as its " +
        "coarse-ranking tier; composes with a2's bucketing and a6's " +
        "int8 as independent axes). Same deterministic intersect " +
        "shape, same LEFT-join recall-0 guarantee as a7/a7b/a7c. " +
        "Measured recall here (0.1-0.3) is the ISOTROPIC floor: the " +
        "synthetic corpus spreads information evenly across dims, so " +
        "dropping 48 of 64 costs proportionally — MRL-trained " +
        "embeddings front-load information precisely so this number " +
        "rises, and this eval is how a store measures that its " +
        "embeddings actually have the property before relying on it.",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .withColumn("tr", expr("slice(embedding, 1, 16)"))
          .withColumn("tnorm", sqrt(dot("tr", "tr")))
          .select(col("vec_id"), col("tr"), col("tnorm"))
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("tr").as("tq"),
            col("tnorm").as("tnorm_q"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine_t").desc, col("vec_id"))
        val retrieved = e.join(broadcast(qs),
            col("vec_id") =!= col("query_id"))
          .withColumn("cosine_t",
            dot("tq", "tr") / (col("tnorm_q") * col("tnorm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id"))
        recallReport(exactTopK(s, d, 10), retrieved)
      },
      Some(
        s"""WITH ${exactCteSql(10)},
           |tn AS (SELECT vec_id, embedding[1:16] AS tr,
           |         sqrt(${dotSql("embedding[1:16]", "embedding[1:16]")})
           |           AS tnorm
           |       FROM embeddings),
           |tq AS (SELECT vec_id AS query_id, tr AS trq, tnorm AS tnorm_q
           |       FROM tn WHERE vec_id < 5),
           |retr AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT tq.query_id, tn.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY tq.query_id
           |        ORDER BY ${dotSql("tq.trq", "tn.tr")} /
           |          (tq.tnorm_q * tn.tnorm) DESC, tn.vec_id) AS rank
           |    FROM tn CROSS JOIN tq WHERE tn.vec_id != tq.query_id) t
           |  WHERE rank <= 10),
           |$RecallTailSql""".stripMargin)),

    Q("a10_embedding_gram",
      "Gram-matrix sufficient statistics for covariance / PCA over the " +
        "embedding corpus — the distributed-PCA pattern: the cluster " +
        "ships O(d^2) sufficient statistics (upper-triangle Gram " +
        "entries + per-coordinate sums + n), and the tiny d x d " +
        "eigenproblem is solved OUTSIDE the data path (PcaSpec does " +
        "exactly that: power iteration on this query's output recovers " +
        "a planted principal direction). Embeddings are quantized to " +
        "exact int64 at a fixed 1e-6 grid first (a6's floor(x*s + 0.5) " +
        "trick — floor, not round: half-rules differ across engines), " +
        "so every sum is exact integer/DECIMAL arithmetic and " +
        "order-independent — a float SUM's accumulation order would " +
        "break the cross-engine hash. The sums are cast to DOUBLE only " +
        "at the OUTPUT boundary (both engines identically): the " +
        "magnitudes stay integer-valued and <= ~5e14 even at the 10x " +
        "census decade, far below 2^53, so the doubles are exact — " +
        "while a raw DECIMAL output column renders differently across " +
        "the Spark-parquet and DuckDB sides of the driver's hasher " +
        "(the r12 a10/o8 failure mode). Scale shape: ONE corpus pass, " +
        "d(d+1)/2 multiply-adds per row accumulated into per-partition " +
        "primitive Long arrays (mapPartitions — the BLAS-style " +
        "accumulation the declarative expansion approximated), then a " +
        "numPartitions x d^2/2-row exact-DECIMAL merge; no join " +
        "anywhere. The declarative codegen form is kept as " +
        "gramStatsDeclarative and PcaSpec asserts the two paths are " +
        "row-identical (exact integer arithmetic on both).",
      (s, d) => gramStats(t(s, d, "embeddings")),
      Some(GramOracleSql))
  )

  /** a10's DuckDB twin — also `o8_incremental_gram`'s oracle verbatim:
    * the two ingested batches partition the embeddings table, so the
    * incrementally merged statistics must hash-match the full-corpus
    * declarative computation.
    */
  private[graft] val GramOracleSql: String = gramOracleSqlOver("")

  /** The same declarative gram-statistics SQL restricted by `where`
    * (e.g. "WHERE vec_id % 2 = 0") — o8b's retire drive hash-matches
    * the recompute over the SURVIVING batch alone.
    */
  private[graft] def gramOracleSqlOver(where: String): String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
      |           AS BIGINT)) AS q
      |  FROM embeddings $where),
      |px AS (
      |  SELECT vec_id, t.i, q.q[CAST(t.i + 1 AS INTEGER)] AS x
      |  FROM q, LATERAL UNNEST(range(0, len(q.q))) t(i)),
      |sx AS (
      |  SELECT i, SUM(CAST(x AS DECIMAL(28,0))) AS sum_x
      |  FROM px GROUP BY 1),
      |pr AS (
      |  SELECT a.i AS i, b.i AS j, COUNT(*) AS n_vecs,
      |    SUM(CAST(a.x * b.x AS DECIMAL(28,0))) AS sum_prod
      |  FROM px a JOIN px b ON a.vec_id = b.vec_id AND b.i >= a.i
      |  GROUP BY 1, 2)
      |SELECT pr.i, pr.j, pr.n_vecs,
      |  CAST(pr.sum_prod AS DOUBLE) AS sum_prod,
      |  CAST(sa.sum_x AS DOUBLE) AS sum_i,
      |  CAST(sb.sum_x AS DOUBLE) AS sum_j
      |FROM pr JOIN sx sa ON pr.i = sa.i JOIN sx sb ON pr.j = sb.i
      |ORDER BY pr.i, pr.j""".stripMargin

  /** a10's implementation, factored so PcaSpec can run the identical
    * sufficient-statistics path over a planted-anisotropy fixture.
    * Input: a frame with (vec_id, embedding Array[Float]). Output one
    * row per upper-triangle coordinate pair: (i, j, n_vecs, sum_prod,
    * sum_i, sum_j). Accumulation is exact DECIMAL over the 1e-6-grid
    * int64 quantization; the sums are cast to DOUBLE at the output
    * boundary (exact: integer-valued, <= ~5e14 observed at the 10x
    * census decade, well under 2^53) so no registered query emits a
    * DecimalType column — the driver's cross-engine hasher renders
    * DECIMAL differently on the two sides (RegistrySpec lints this).
    */
  private[graft] def gramStats(e: DataFrame): DataFrame = {
    // The scale path the a10 doc promises: per-partition accumulation
    // over primitive arrays (one pass, d(d+1)/2 multiply-adds per row
    // into a Long triangle — no per-product row machinery), then a
    // numPartitions x d^2/2-row exact-DECIMAL merge. Numerically
    // IDENTICAL to [[gramStatsDeclarative]] (PcaSpec asserts
    // equality): all arithmetic is exact-integer — per-partition Long
    // partials are bounded by rowsPerPartition x max|x_i*x_j| (~9e12
    // at the 1e-6 grid for |x|<=3, so ~500k-row partitions stay under
    // 5e18 << 2^63), and the cross-partition merge sums in
    // DECIMAL(28,0) so arbitrarily many partitions stay exact.
    // Per-coordinate sums ride along on every (i, j) row — each
    // partition contributes exactly one row per (i, j) group, so
    // summing them per group reproduces the global per-coordinate sum
    // without a second pass or a broadcast join.
    val spark = e.sparkSession
    import spark.implicits._
    val partials = e.select(expr(
        "transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
        .as("q"))
      .as[Seq[Long]]
      .mapPartitions { it =>
        var d = -1
        var prod: Array[Long] = null
        var sums: Array[Long] = null
        var n = 0L
        while (it.hasNext) {
          val v = it.next().toArray
          if (d < 0) {
            d = v.length
            prod = new Array[Long](d * (d + 1) / 2)
            sums = new Array[Long](d)
          }
          n += 1
          var i = 0
          var k = 0
          while (i < d) {
            val xi = v(i)
            sums(i) += xi
            var j = i
            while (j < d) { prod(k) += xi * v(j); k += 1; j += 1 }
            i += 1
          }
        }
        if (d < 0) Iterator.empty
        else {
          val out = new Array[(Long, Long, Long, Long, Long, Long)](
            d * (d + 1) / 2)
          var i = 0
          var k = 0
          while (i < d) {
            var j = i
            while (j < d) {
              out(k) = (i.toLong, j.toLong, n, prod(k), sums(i), sums(j))
              k += 1
              j += 1
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("i", "j", "n_vecs", "sum_prod", "sum_i", "sum_j")
    partials.groupBy(col("i"), col("j"))
      .agg(sum(col("n_vecs")).as("n_vecs"),
        sum(col("sum_prod").cast("decimal(28,0)")).as("sum_prod"),
        sum(col("sum_i").cast("decimal(28,0)")).as("sum_i"),
        sum(col("sum_j").cast("decimal(28,0)")).as("sum_j"))
      .select(col("i"), col("j"), col("n_vecs"),
        col("sum_prod").cast("double").as("sum_prod"),
        col("sum_i").cast("double").as("sum_i"),
        col("sum_j").cast("double").as("sum_j"))
      .orderBy("i", "j")
  }

  /** The declarative (whole-stage-codegen) form of [[gramStats]] —
    * upper-triangle expansion + map-side-combined DECIMAL aggregation,
    * broadcast per-coordinate sums. Kept as the cross-check:
    * PcaSpec asserts the two paths produce identical rows (both are
    * exact integer arithmetic, so equality is bitwise). The
    * mapPartitions path wins at width (d(d+1)/2 struct rows per
    * vector through the row pipeline vs d(d+1)/2 multiply-adds into a
    * primitive array).
    */
  private[graft] def gramStatsDeclarative(e: DataFrame): DataFrame = {
    val q = e.select(col("vec_id"), expr(
      "transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
      .as("q"))
    val pairs = q.select(explode(expr(
      "flatten(transform(sequence(0, size(q) - 1), i -> " +
        "transform(sequence(i, size(q) - 1), j -> " +
        "struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, " +
        "CAST(q[i] * q[j] AS DECIMAL(28,0)) AS p))))")).as("pr"))
      .select(col("pr.i"), col("pr.j"), col("pr.p"))
    val gram = pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("p")).as("sum_prod"))
    val sx = q.select(posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(col("x").cast("decimal(28,0)")).as("sum_x"))
      .select(col("i").cast("long").as("i"), col("sum_x"))
    gram
      .join(broadcast(sx.select(col("i"), col("sum_x").as("sum_i"))),
        Seq("i"))
      .join(broadcast(sx.select(col("i").as("j"), col("sum_x").as("sum_j"))),
        Seq("j"))
      .select(col("i"), col("j"), col("n_vecs"),
        col("sum_prod").cast("double").as("sum_prod"),
        col("sum_i").cast("double").as("sum_i"),
        col("sum_j").cast("double").as("sum_j"))
      .orderBy("i", "j")
  }

  /** a3's DuckDB twin — also `o10_incremental_ivf`'s oracle verbatim:
    * batch-wise assignment to pinned centroids commutes with the full
    * rebuild, so maintained-index search must hash-match this one-shot
    * computation.
    */
  private[graft] val IvfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  sqrt(${dotSql("embedding", "embedding")}) AS norm FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
       |          FROM e WHERE vec_id < 8),
       |assigned AS (
       |  SELECT vec_id, embedding, norm, cent_id FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm)
       |          DESC, c.cent_id) AS crank
       |    FROM e CROSS JOIN cents c) t WHERE crank = 1),
       |probes AS (
       |  SELECT query_id, eq, norm_q, probe_cell FROM (
       |    SELECT a.vec_id AS query_id, a.embedding AS eq,
       |      a.norm AS norm_q, c.cent_id AS probe_cell,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${dotSql("a.embedding", "c.ce")} / (a.norm * c.cnorm)
       |          DESC, c.cent_id) AS crank
       |    FROM assigned a CROSS JOIN cents c WHERE a.vec_id < 5) t
       |  WHERE crank <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${dotSql("p.eq", "a.embedding")} / (p.norm_q * a.norm) AS cosine
       |  FROM assigned a JOIN probes p ON a.cent_id = p.probe_cell
       |    AND a.vec_id != p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Each query's (2-nearest-cell) probe set over pinned centroids —
    * shared by a3's inline flow and o10's maintained-index read path.
    */
  private[graft] def ivfProbes(assigned: DataFrame,
                               cents: DataFrame): DataFrame =
    assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
        col("norm").as("norm_q"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", dot("eq", "ce") / (col("norm_q") * col("cnorm")))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("csim").desc, col("cent_id"))))
      .filter(col("crank") <= 2)
      .select(col("query_id"), col("eq"), col("norm_q"),
        col("cent_id").as("probe_cell"))

  // ---- IVFADC building blocks (a9d; AnnSpec measures training on them) ----

  private def pqD2(a: String, b: String) =
    expr(s"graft_dsq($a, $b)")

  /** Per-(vector, subspace) argmin over codebook entries —
    * min(struct(d2, cb_id, payload...)): lexicographic struct order is
    * the (distance ASC, code ASC) tie-break, map-side combined (k×
    * less shuffle than a row_number window, identical rows).
    */
  private def pqArgmin(scored: DataFrame, payload: String*): DataFrame = {
    val fields = (Seq("d2", "cb_id") ++ payload).map(col)
    scored.groupBy(col("vec_id"), col("s"))
      .agg(min(struct(fields: _*)).as("m"))
  }

  /** Coarse-residual subvectors: assign each vector to its nearest
    * centroid, subtract it, split the residual into 8 8-dim subvectors
    * → rows (vec_id, cid, s, sub).
    */
  private[graft] def ivfadcRsubs(e: DataFrame, cents: DataFrame): DataFrame =
    Lloyd.assign(e, cents).join(broadcast(cents), Seq("cid"))
      .withColumn("r", expr("zip_with(v, c, (x, y) -> x - y)"))
      .select(col("vec_id"), col("cid"),
        posexplode(expr(
          "transform(sequence(0, 7), i -> slice(r, i*8+1, 8))"))
          .as(Seq("s", "sub")))

  /** Untrained donor codebooks — the first `kc` vectors' subvectors
    * per subspace (a3's init convention) → rows (cb_id, cs, csub).
    */
  private[graft] def pqDonors(rsubs: DataFrame, kc: Int): DataFrame =
    rsubs.filter(col("vec_id") < kc)
      .select(col("vec_id").as("cb_id"), col("s").as("cs"),
        col("sub").as("csub"))

  /** One exact per-subspace Lloyd round over `rsubs` starting from
    * `cb0` (a9b's recipe): assign every subvector to its nearest code
    * (ties to lower id), recompute each (subspace, code) centroid as
    * the sorted-fold exact mean. Lloyd's theorem: this never increases
    * the total encode distortion — the guarantee AnnSpec asserts
    * (recall on a 25-hit eval is sampling noise; distortion descent is
    * what training actually promises).
    */
  private[graft] def pqTrainRound(rsubs: DataFrame, cb0: DataFrame): DataFrame =
    pqArgmin(rsubs.join(broadcast(cb0), col("s") === col("cs"))
        .withColumn("d2", pqD2("sub", "csub")), "sub")
      .select(col("s"), col("m.sub").as("sub"), col("m.cb_id").as("tcid"))
      .select(col("s"), col("tcid"),
        posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy(col("s"), col("tcid"), col("pos"))
      .agg((expr("aggregate(array_sort(collect_list(x)), " +
        "cast(0 as double), (acc, y) -> acc + y)") /
        count(lit(1))).as("m"))
      .groupBy(col("s"), col("tcid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
        "p -> p.m)").as("csub"))
      .select(col("tcid").as("cb_id"), col("s").as("cs"), col("csub"))

  /** Total encode distortion of `rsubs` under codebooks `cb`: the sum
    * over every subvector of its squared distance to the nearest code —
    * the k-means objective PQ training minimizes.
    */
  private[graft] def pqEncodeDistortion(rsubs: DataFrame,
                                        cb: DataFrame): Double =
    pqArgmin(rsubs.join(broadcast(cb), col("s") === col("cs"))
        .withColumn("d2", pqD2("sub", "csub")))
      .agg(sum(col("m.d2"))).collect()(0).getDouble(0)
}
