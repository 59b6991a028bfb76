package graft.operators

import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based approximate aggregates — the bounded-state scale path for
  * corpus statistics a 100 TB pipeline cannot afford to compute exactly.
  *
  * S1 estimates per-language distinct shingle counts with a KMV sketch
  * ([[graft.functions.KmvSketchAgg]]): each map task contributes at most
  * k = [[KmvK]] longs per group, so the distinct count shuffles
  * O(langs·k) state where exact `countDistinct` shuffles every distinct
  * shingle hash.
  *
  * S2 exercises the sketch ALGEBRA: per-language sketches are merged
  * pairwise (`array_union` + k-smallest = the exact KMV sketch of the
  * union) into a cross-language shingle-overlap matrix via
  * inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B). This is the
  * production shape for corpus-mixing decisions at 100 TB: the corpus is
  * scanned ONCE to build L per-language sketches (L·k longs), and all
  * L·(L−1)/2 pairwise overlaps come from merging those sketches — no
  * second scan, no pairwise shuffle of raw data.
  *
  * Both REGISTERED queries also compute the exact answers — feasible at
  * fixture scale — so the driver-checked outputs carry sketch, truth,
  * and error in one relation; the exact sides (a full distinct-shingle
  * shuffle; a distinct-hash self-join) are oracle harness, NOT the
  * production shape. Production callers use the sketch-only entry
  * points ([[kmvDistinctSketch]]/[[kmvOverlapMatrix]] and the fixture
  * wrappers [[kmvDistinctShinglesSketch]]/[[kmvJaccardLangsSketch]]),
  * whose plans carry O(groups·k) state and never touch raw data twice.
  * And because the k-minimum-values set is a
  * deterministic function of the input set (no randomness, no order
  * dependence), the oracle proves the SKETCHES themselves
  * (`row_number() OVER (ORDER BY hash) <= k`), not just the estimates —
  * something randomized HLL/theta implementations cannot offer.
  *
  * Reference scope: no sketches exist in the reference (its only
  * aggregate is the exact count, `BinaryVectorDB/BinaryVectorDB.py:259`);
  * extension operators per SURVEY.md §2.3's scale-path family.
  */
object Sketches {

  /** Sketch size: RSE ~ 1/√(k−2) ≈ 12.7%. */
  val KmvK = 64

  /** Per-call persisted distinct (lang, h) relations of
    * [[kmvJaccardLangs]], cap 1 per session: the s2
    * exact side consumes the relation from three join branches, and
    * filter pushdown differentiates the branches' subtrees enough that
    * Spark's exchange reuse cannot dedupe them — the persist is what
    * guarantees ONE corpus tokenize+shingle+md5 pass per invocation.
    */
  private val distinctPersists = new PersistRegistry[DataFrame](1, _.unpersist())

  /** Release this session's persisted s2 relations (same lifecycle hook
    * as the dedup caches — called from [[graft.Graft.clearAllCaches]]).
    */
  def clearCaches(spark: SparkSession): Unit = distinctPersists.clear(spark)

  /** Live persisted s2 relations of this session (spec visibility). */
  private[graft] def livePersistCount(spark: SparkSession): Int =
    distinctPersists.size(spark)

  /** Distinct-count estimate from a KMV kept-set array (sorted asc).
    * The numerator (k−1)·2^60 is exact in a double (6-bit mantissa ×
    * power-of-two exponent), so `floor(num / kth)` rounds identically in
    * Spark and DuckDB.
    */
  private def estimate(sketch: Column, k: Int = KmvK): Column =
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(floor(lit((k - 1) * math.pow(2, 60)) / element_at(sketch, k)).cast("long"))

  // ---- sketch-only production API ----------------------------------------
  // The callable 100 TB shapes: one scan, O(groups·k) state, NO exact
  // side anywhere. The registered s1/s2 queries below additionally
  // compute exact answers (feasible at fixture scale) so the driver
  // oracle can carry sketch, truth, and error in one relation — but a
  // production caller reaches for THESE entry points, whose plans never
  // shuffle a distinct-hash set or self-join raw data (round-9 review
  // item 2: the scale claims must be true of a callable path).

  /** Per-group KMV sketch + distinct-count estimate over any
    * (group, hash) relation — the sketch-only S1. One hash-aggregation:
    * each map task contributes at most k longs per group
    * ([[graft.functions.KmvSketchAgg]] folds map-side), so the shuffle
    * carries O(groups·k) state no matter how many rows were scanned.
    * Output: (`groupCol`, sk array<bigint>, n_est).
    */
  def kmvDistinctSketch(rows: DataFrame, groupCol: String, hashCol: String,
                        k: Int = KmvK): DataFrame =
    rows.groupBy(groupCol)
      .agg(Kernels.kmvSketch(col(hashCol), k).as("sk"))
      .withColumn("n_est", estimate(col("sk"), k))

  /** Pairwise overlap matrix from per-group sketches ALONE — the
    * sketch-only S2. Input: (`groupCol`, sk) as produced by
    * [[kmvDistinctSketch]]; the raw data is never touched again. Every
    * pair's union sketch is `k smallest of array_union(a, b)` (exactly
    * the KMV sketch of the union set), intersections come from
    * inclusion–exclusion clamped at 0, and `jaccard_est_bp` is the
    * half-up integer basis-point ratio. The self-join is over GROUPS
    * (languages, datasets — driver-scale cardinality), not data: with G
    * groups this is G² rows of k-long arrays however large the corpus.
    * Output: (ga, gb, est_a, est_b, est_u, est_i, jaccard_est_bp) for
    * ga < gb.
    */
  def kmvOverlapMatrix(sketches: DataFrame, groupCol: String = "lang",
                       k: Int = KmvK): DataFrame = {
    val a = sketches.select(col(groupCol).as("ga"), col("sk").as("ska"))
    val b = sketches.select(col(groupCol).as("gb"), col("sk").as("skb"))
    a.join(b, col("ga") < col("gb"))
      .withColumn("sku", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("est_a", estimate(col("ska"), k))
      .withColumn("est_b", estimate(col("skb"), k))
      .withColumn("est_u", estimate(col("sku"), k))
      .withColumn("est_i", greatest(lit(0L), col("est_a") + col("est_b") - col("est_u")))
      // est_u = 0 only when BOTH groups' sketches are empty (no non-null
      // hashes); define the overlap of two empty sets as 0 rather than
      // dividing by zero (NULL with ANSI off, an error with ANSI on).
      .withColumn("jaccard_est_bp",
        when(col("est_u") === 0L, lit(0L))
          .otherwise(expr("(20000 * est_i + est_u) div (2 * est_u)")))
      .drop("ska", "skb", "sku")
  }

  /** Fixture-shaped sketch-only S1: per-language distinct-shingle
    * estimates, (lang, n_est) — no exact side in the plan.
    */
  def kmvDistinctShinglesSketch(spark: SparkSession, dir: String): DataFrame =
    kmvDistinctSketch(langShingleHashes(spark, dir), "lang", "h")
      .select("lang", "n_est").orderBy("lang")

  /** Fixture-shaped sketch-only S2: cross-language Jaccard estimates,
    * (lang_a, lang_b, jaccard_est_bp) — one scan for the sketches, then
    * sketch algebra only.
    */
  def kmvJaccardLangsSketch(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapMatrix(kmvDistinctSketch(langShingleHashes(spark, dir), "lang", "h"))
      .select(col("ga").as("lang_a"), col("gb").as("lang_b"), col("jaccard_est_bp"))
      .orderBy("lang_a", "lang_b")

  /** Per-(lang, shingle-hash) projection shared by S1/S2. */
  private def langShingleHashes(spark: SparkSession, dir: String): DataFrame = {
    Kernels.install(spark)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), explode(Kernels.shingles3(col("text"))).as("sg"))
      .select(col("lang"), Kernels.h60(col("sg")).as("h"))
  }

  /** S1: per-language distinct 3-gram shingle count — exact vs KMV
    * estimate. Output: (lang, n_exact, n_est, err_bp) with err_bp the
    * absolute relative error in integer basis points.
    */
  def kmvDistinctShingles(spark: SparkSession, dir: String): DataFrame =
    langShingleHashes(spark, dir)
      .groupBy("lang")
      .agg(countDistinct(col("h")).as("n_exact"),
        Kernels.kmvSketch(col("h"), KmvK).as("sk"))
      .select(col("lang"), col("n_exact"), estimate(col("sk")).as("n_est"))
      .withColumn("err_bp", expr("(abs(n_est - n_exact) * 10000) div n_exact"))
      .orderBy("lang")

  /** S2: cross-language shingle-overlap (Jaccard) matrix from MERGED
    * per-language sketches. One scan builds the per-lang sketches; every
    * pair's union sketch is `k smallest of array_union(a, b)` and the
    * intersection estimate is inclusion–exclusion (clamped at 0). Exact
    * Jaccard is computed alongside from the distinct hash sets. Output:
    * (lang_a, lang_b, jaccard_bp, jaccard_est_bp) in exact-int64 basis
    * points.
    */
  def kmvJaccardLangs(spark: SparkSession, dir: String): DataFrame = {
    // TWO corpus passes instead of six (r17 optimization; the old form
    // re-ran the tokenize+shingle+md5 scan under every consumer): the
    // sketch + exact-count aggregate reads the corpus once, and the
    // exact self-join's distinct (lang, h) relation is computed once and
    // PERSISTED (see [[distinctPersists]]) so both join sides read the
    // cache instead of re-scanning. (Exchange reuse alone cannot dedupe
    // the branches once filter pushdown has specialized them — verified
    // on the executed plan.) An all-consumers-on-one-cache variant was
    // ABBA-measured ~25% slower at fixture scale: the sketch side then
    // pays the distinct's exchange it never needed.
    val h = langShingleHashes(spark, dir)
    val sk = h.groupBy("lang")
      .agg(countDistinct(col("h")).as("n_exact"),
        Kernels.kmvSketch(col("h"), KmvK).as("sk"))

    // Sketch-merge side: the PRODUCTION path ([[kmvOverlapMatrix]] — the
    // oracle-checked estimates exercise the same code a 100 TB caller
    // runs), joined back to the per-lang exact counts (5-row joins).
    val merged = kmvOverlapMatrix(sk.select("lang", "sk"))
      .select(col("ga").as("lang_a"), col("gb").as("lang_b"),
        col("est_u"), col("est_i"), col("jaccard_est_bp"))
    val ex = sk.select(col("lang"), col("n_exact"))
    val withExactCounts = merged
      .join(ex.select(col("lang").as("lang_a"), col("n_exact").as("na")), "lang_a")
      .join(ex.select(col("lang").as("lang_b"), col("n_exact").as("nb")), "lang_b")

    // Exact side: distinct (lang, h) self-join per pair — fixture-scale
    // oracle harness only; production callers use [[kmvJaccardLangsSketch]].
    val dh = distinctPersists.register(spark,
      h.distinct().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val inter = dh.as("x").join(dh.as("y"),
        col("x.h") === col("y.h") && col("x.lang") < col("y.lang"))
      .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
      .agg(count(lit(1)).as("n_inter"))

    withExactCounts.join(inter, Seq("lang_a", "lang_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .select(col("lang_a"), col("lang_b"),
        expr("(20000 * n_inter + n_union) div (2 * n_union)").as("jaccard_bp"),
        col("jaccard_est_bp"))
      .orderBy("lang_a", "lang_b")
  }

  /** Shared oracle CTE: distinct (lang, hash), per-lang kept sets and
    * exact counts.
    */
  private val kmvPrefix =
    s"""WITH tok AS (SELECT doc_id, lang, string_split(text,' ') w FROM documents),
       |sh AS (SELECT lang,
       |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) s
       |  FROM tok),
       |h AS (SELECT DISTINCT lang,
       |  cast(concat('0x', substr(md5(u.sg), 1, 15)) as bigint) hv
       |  FROM sh, unnest(sh.s) u(sg)),
       |r AS (SELECT lang, hv,
       |  row_number() OVER (PARTITION BY lang ORDER BY hv) rn FROM h),
       |kept AS (SELECT lang, hv FROM r WHERE rn <= $KmvK),
       |sk AS (SELECT lang, count(*)::INT n_kept, max(hv) kth FROM kept GROUP BY lang),
       |ex AS (SELECT lang, count(*)::BIGINT n_exact FROM h GROUP BY lang)""".stripMargin

  /** Estimator SQL over (n_kept, kth) columns. */
  private def estSql(nKept: String, kth: String): String =
    s"""CASE WHEN $nKept < $KmvK THEN $nKept::BIGINT
       |     ELSE floor(${KmvK - 1}.0 * 1152921504606846976.0 / $kth)::BIGINT END""".stripMargin

  val oracles: Map[String, String] = Map(
    "s1_kmv_distinct" ->
      s"""$kmvPrefix,
         |est AS (
         |  SELECT lang, n_exact, ${estSql("sk.n_kept", "sk.kth")} AS n_est
         |  FROM ex JOIN sk USING (lang))
         |SELECT lang, n_exact, n_est,
         |  ((abs(n_est - n_exact) * 10000) // n_exact)::BIGINT AS err_bp
         |FROM est ORDER BY lang""".stripMargin,

    "s2_kmv_jaccard" ->
      s"""$kmvPrefix,
         |pairs AS (
         |  SELECT a.lang lang_a, b.lang lang_b
         |  FROM ex a JOIN ex b ON a.lang < b.lang),
         |pu AS (
         |  SELECT DISTINCT p.lang_a, p.lang_b, kept.hv
         |  FROM pairs p JOIN kept ON kept.lang IN (p.lang_a, p.lang_b)),
         |ranked AS (
         |  SELECT lang_a, lang_b, hv,
         |    row_number() OVER (PARTITION BY lang_a, lang_b ORDER BY hv) rn
         |  FROM pu),
         |usk AS (SELECT lang_a, lang_b, count(*)::INT n_kept, max(hv) kth
         |        FROM ranked WHERE rn <= $KmvK GROUP BY lang_a, lang_b),
         |ests AS (
         |  SELECT p.lang_a, p.lang_b,
         |    ${estSql("ska.n_kept", "ska.kth")} AS est_a,
         |    ${estSql("skb.n_kept", "skb.kth")} AS est_b,
         |    ${estSql("usk.n_kept", "usk.kth")} AS est_u
         |  FROM pairs p
         |  JOIN sk ska ON ska.lang = p.lang_a
         |  JOIN sk skb ON skb.lang = p.lang_b
         |  JOIN usk ON usk.lang_a = p.lang_a AND usk.lang_b = p.lang_b),
         |inter AS (
         |  SELECT x.lang lang_a, y.lang lang_b, count(*)::BIGINT n_inter
         |  FROM h x JOIN h y ON x.hv = y.hv AND x.lang < y.lang
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT p.lang_a, p.lang_b, coalesce(i.n_inter, 0) n_inter,
         |    ea.n_exact + eb.n_exact - coalesce(i.n_inter, 0) n_union
         |  FROM pairs p
         |  JOIN ex ea ON ea.lang = p.lang_a
         |  JOIN ex eb ON eb.lang = p.lang_b
         |  LEFT JOIN inter i ON i.lang_a = p.lang_a AND i.lang_b = p.lang_b)
         |SELECT e.lang_a, e.lang_b,
         |  ((20000 * e.n_inter + e.n_union) // (2 * e.n_union))::BIGINT AS jaccard_bp,
         |  ((20000 * greatest(0, s.est_a + s.est_b - s.est_u) + s.est_u)
         |     // (2 * s.est_u))::BIGINT AS jaccard_est_bp
         |FROM exact e JOIN ests s ON s.lang_a = e.lang_a AND s.lang_b = e.lang_b
         |ORDER BY e.lang_a, e.lang_b""".stripMargin,
  )
}
