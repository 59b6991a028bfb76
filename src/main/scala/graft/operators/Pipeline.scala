package graft.operators

import graft.functions.Kernels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline composition operators — the steps a large-scale
  * corpus build runs AFTER per-document analysis and pair-level dedup:
  * duplicate clustering (connected components over near-dup pairs, so one
  * representative per group survives), leakage-proof train/val/test
  * splitting, context-window sequence packing, and benchmark
  * decontamination. All deterministic arithmetic over the shared hashing
  * scheme, so every operator is DuckDB-oracle-checkable.
  */
object Pipeline {

  /** Label-propagation rounds between lineage-truncating checkpoints. */
  val CheckpointEvery = 5

  /** Per-call persisted base relations of [[corpusBuildOver]] (r17: the
    * one-scan derived-values relation every build stage consumes), cap 1
    * per session.
    */
  private val basePersists = new PersistRegistry[DataFrame](1, _.unpersist())

  /** Release this session's persisted p9 base relations (called from
    * [[graft.Graft.clearAllCaches]]).
    */
  def clearCaches(spark: SparkSession): Unit = basePersists.clear(spark)

  private def docs(spark: SparkSession, dir: String): DataFrame = {
    Kernels.install(spark)
    spark.read.parquet(s"$dir/documents.parquet")
  }

  /** P1: duplicate clusters = connected components over the SimHash
    * near-dup pairs of [[Dedup.simhashDedup]] (a dedup pipeline keeps
    * min(doc_id) per cluster and drops the rest — the cluster_id IS the
    * kept representative). Min-label propagation to fixpoint: each
    * iteration is one join + min-aggregate — the same alternating-join
    * shape GraphX's connectedComponents runs; iterations are bounded by
    * the cluster diameter (near-dup clusters are shallow; at 100 TB
    * checkpoint the label relation every few iterations to cut lineage).
    * Output: (cluster_id, n_docs) for every cluster of size ≥ 2.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(Dedup.simhashDedup(spark, dir).select("doc_a", "doc_b"))

  /** Connected components over an arbitrary (doc_a, doc_b) pair relation
    * (see [[dedupClusters]] for the algorithm notes). `maxIter` bounds the
    * admissible component diameter (propagation advances one hop per
    * round); raise it for adversarial/templated corpora with long dup
    * chains rather than editing code. Every [[CheckpointEvery]] rounds the
    * label relation is `localCheckpoint`ed — persisted plans still carry
    * the full join chain for re-planning, so without truncation a deep
    * cluster accumulates `maxIter` joins of lineage.
    *
    * Pair graphs at or below `driverCollapseEdges` (directed) edges
    * collapse to a driver-side union-find instead: near-dup pairs are a
    * vanishing fraction of any real corpus, and the iterative path pays
    * one Spark job per propagation round where union-find finishes in
    * microseconds (it was the bench's most expensive query). The bound
    * caps driver memory exactly like the funnel's candidate collects;
    * above it, the distributed min-label loop runs unchanged, and the
    * deep-chain spec pins both paths to identical output.
    */
  def clustersFromPairs(pairs: DataFrame, maxIter: Int = 100,
                        driverCollapseEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val edgesWide = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = edgesWide.count()
    if (nEdges <= driverCollapseEdges) {
      try {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edgesWide.collect().foreach { e =>
          val (a, b) = (e.getLong(0), e.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root = cluster id
        }
        val comps = parent.keys.toSeq.groupBy(find).toSeq
          .map { case (root, members) => (root, members.size.toLong) }
          .sortBy(_._1)
        import spark.implicits._
        return comps.toDF("cluster_id", "n_docs")
      } finally edgesWide.unpersist()
    }
    // The pair graph is orders of magnitude smaller than the corpus (only
    // near-dup docs appear). Below ~1M edges the iteration cost is pure
    // task-scheduling overhead, so collapse to one partition; above, keep
    // the cluster-wide layout (the joins then shuffle on node id).
    val edges =
      if (nEdges < 1000000) edgesWide.coalesce(1)
      else edgesWide
    try {
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // Labels only ever decrease, so the label-sum is strictly monotone
      // until the fixpoint: convergence = unchanged sum — one cheap
      // aggregate per iteration instead of a join-and-compare.
      def labelSum(): Long =
        labels.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
      var prevSum = Long.MaxValue
      var curSum = labelSum()
      var iter = 0
      while (curSum != prevSum && iter < maxIter) {
        // label(n) ← min(label(n), min over neighbors m of label(m))
        val neighborMin = edges
          .join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(min("label").as("nl"))
        val step = labels.join(neighborMin, Seq("node"), "left")
          .select(col("node"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        // Periodic lineage truncation: a checkpoint materializes the label
        // relation and drops the accumulated join chain (otherwise round
        // k's plan nests k joins, and a deep cluster re-plans all of them
        // each round).
        val next =
          if ((iter + 1) % CheckpointEvery == 0) step.localCheckpoint(true)
          else step.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        labels.unpersist()
        labels = next
        prevSum = curSum
        curSum = labelSum()
        iter += 1
      }
      // A silent non-converged exit would return one logical cluster split
      // into several ids — fail loudly instead (propagation advances one
      // hop per round, so maxIter bounds the admissible component
      // diameter).
      if (curSum != prevSum) throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds " +
          "(component diameter exceeds the iteration cap)")
      // Materialize the (small) cluster relation, then release the
      // iteration state — the returned DataFrame must not depend on the
      // unpersisted loop lineage.
      val out = labels.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("cluster_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      labels.unpersist()
      out
    } finally edgesWide.unpersist()
  }

  /** P2: leakage-proof train/val/test split — the assignment hashes the
    * CONTENT (same 60-bit md5 scheme as the dedup family), so exact
    * duplicates land in the same split by construction and re-runs are
    * reproducible with no stored state. 80/10/10 buckets; pure per-row
    * map + hash-aggregate.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("b", Kernels.h60(col("text")) % 100)
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .withColumn("n_tokens", size(Kernels.tokens(col("text"))))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_sum"))
      .orderBy("lang", "split")

  /** P3: context-window sequence packing — concatenate documents in
    * deterministic (doc_id) order inside each language stream and cut the
    * stream every `ctxTokens` tokens; a document belongs to the bin where
    * it starts. Output: per (lang, bin) document and token counts.
    *
    * The per-document running token sum is a two-phase distributed prefix
    * sum, NEVER a window partitioned by `lang` alone (language cardinality
    * is a small constant, so a per-lang window makes each language's
    * entire token stream one single-task sort at scale):
    *   1. sub-shard on `(lang, doc_id div shardDocs)` — bounded partitions
    *      of ≤ `shardDocs` documents;
    *   2. aggregate per-shard token totals (a relation of |docs|/shardDocs
    *      rows — tiny, so its cumulative-offset window per lang scans
    *      shard counts, not documents) and join the exclusive cumulative
    *      offset back (small side — Spark broadcasts it);
    *   3. running sum WITHIN each (lang, shard) partition + the shard's
    *      offset = the global per-lang prefix sum.
    * Semantics are shard-size-independent (the oracle never mentions
    * shards); `shardDocs` only bounds partition size — raise it toward
    * ~2^20 at 100 TB so the shard-totals relation stays millions of rows.
    */
  def packSequences(spark: SparkSession, dir: String, ctxTokens: Int = 512,
                    shardDocs: Long = 256L): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("n_tokens", size(Kernels.tokens(col("text"))))
      .withColumn("shard", expr(s"doc_id div ${shardDocs}L"))
    val shardTotals = d.groupBy("lang", "shard")
      .agg(sum("n_tokens").as("shard_tokens"))
    // Exclusive prefix over SHARD totals — |docs|/shardDocs rows per lang,
    // not documents; the only lang-partitioned window left is this one.
    val wShard = Window.partitionBy("lang").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = shardTotals
      .withColumn("offset", coalesce(sum("shard_tokens").over(wShard), lit(0L)))
      .select("lang", "shard", "offset")
    // Bounded running sum: ≤ shardDocs rows per (lang, shard) partition.
    val wDoc = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(offsets, Seq("lang", "shard"))
      .withColumn("start",
        col("offset") + sum("n_tokens").over(wDoc) - col("n_tokens"))
      .withColumn("bin", expr(s"int(start div $ctxTokens)"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .orderBy("lang", "bin")
  }

  /** P4: benchmark decontamination — flag training documents sharing any
    * word 3-gram shingle with the held-out set (here: `source = 'src0'`
    * as the eval proxy). The eval shingle set is distinct-projected (tiny
    * vs the corpus — broadcast at real scale); the train side joins it by
    * shingle, the standard n-gram-overlap decontamination pass. Output:
    * per language, training docs and how many are contaminated.
    */
  def decontaminate(spark: SparkSession, dir: String,
                    evalSource: String = "src0"): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "lang", "source")
    // Join the doc metadata BEFORE the shingle explode (guide §3.3:
    // exploding first multiplies the join's probe side by the shingle
    // fan-out — the join runs per posting instead of per document).
    val ex = Dedup.shingled(spark, dir)
      .join(d, "doc_id")
      .select(col("doc_id"), col("source"), explode(col("s")).as("sg"))
    val evalSh = ex.filter(col("source") === evalSource).select("sg").distinct()
    val contaminated = ex.filter(col("source") =!= evalSource)
      .join(evalSh, "sg")
      .select("doc_id").distinct()
      .withColumn("hit", lit(1L))

    d.filter(col("source") =!= evalSource)
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train"), sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .orderBy("lang")
  }

  /** P6: [[decontaminate]] with a broadcast BLOOM pre-filter — the 100 TB
    * shape of the shingle-overlap join. p4's exact join shuffles every
    * train-side (shingle, doc_id) posting; here the tiny eval shingle set
    * is first folded into a driver-side bloom filter (~1.2 bytes/key at
    * 0.1% fpp) and the train side drops non-members BEFORE any exchange,
    * via Spark's own codegen'd `BloomFilterMightContain` predicate on the
    * scan. False positives are then removed by the SAME exact join as p4
    * — output is bit-identical (it shares p4's oracle); the bloom only
    * cuts the shuffled posting volume to (true hits + fpp·rest).
    *
    * Sizing ceiling: the filter ships as a plan LITERAL, which is
    * practical up to tens of MB — the capacity is therefore clamped at
    * [[MaxBloomKeys]] (5·10⁷ keys ≈ 60 MB at this fpp). Eval sets are
    * benchmark suites — orders of magnitude below that in practice. A
    * larger eval set still computes EXACTLY (the clamp only raises the
    * effective fpp, and the exact join removes every false positive);
    * were a truly huge eval set ever real, the right construction is
    * `BloomFilterAggregate` into a genuine broadcast variable instead of
    * a literal.
    */
  private[graft] val MaxBloomKeys = 50000000L

  def decontaminateBloom(spark: SparkSession, dir: String,
                         evalSource: String = "src0",
                         fpp: Double = 0.001): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "lang", "source")
    // Join-before-explode, as in [[decontaminate]] (guide §3.3).
    val ex = Dedup.shingled(spark, dir)
      .join(d, "doc_id")
      .select(col("doc_id"), col("source"), explode(col("s")).as("sg"))
    val evalSh = ex.filter(col("source") === evalSource).select("sg").distinct()
    val evalHashes = evalSh.select(Kernels.h60(col("sg")).as("h"))
    val nEval = evalHashes.count()
    val bloom = Kernels.serializeBloom(
      evalHashes.stat.bloomFilter("h",
        math.min(math.max(nEval, 64L), MaxBloomKeys), fpp))
    val contaminated = ex.filter(col("source") =!= evalSource)
      .filter(Kernels.bloomMightContain(lit(bloom), Kernels.h60(col("sg"))))
      .join(evalSh, "sg")
      .select("doc_id").distinct()
      .withColumn("hit", lit(1L))

    d.filter(col("source") =!= evalSource)
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train"), sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .orderBy("lang")
  }

  /** P5: deterministic stratified sampling — corpus mixing by language
    * with per-stratum keep rates (in basis points of 10^4). The keep
    * decision hashes the CONTENT with a salt, so it is reproducible with
    * no stored state, independent of row order/partitioning, and — because
    * the salt decouples it from [[hashSplit]]'s `h60(text) % 100` — keeps
    * are uncorrelated with split assignment (an unsalted `% 10^4` shares
    * its low bits with the split hash, silently concentrating sampled docs
    * in particular splits). Pure per-row map + hash-aggregate: zero
    * shuffles before the final (tiny) group-by — embarrassingly parallel
    * at any corpus size.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleOf(docs(spark, dir))

  /** [[stratifiedSample]] over an arbitrary documents relation — the keep
    * decision hashes content only, so the result is independent of the
    * input's physical layout (partitioning, row order, file split); the
    * spec proves it by re-running on a repartitioned copy.
    */
  def stratifiedSampleOf(documents: DataFrame): DataFrame = {
    // Public entry point — install the kernels (h60/tokens) for callers
    // that haven't gone through another installing operator first.
    Kernels.install(documents.sparkSession)
    val rate = when(col("lang") === "en", 2500)
      .when(col("lang") === "es", 5000)
      .when(col("lang") === "zh", 7500)
      .otherwise(10000)
    documents
      .withColumn("u", Kernels.h60(concat(col("text"), lit("#sample"))) % 10000)
      .withColumn("keep", (col("u") < rate).cast("long"))
      .withColumn("n_tokens", size(Kernels.tokens(col("text"))).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_kept"),
        sum(col("keep") * col("n_tokens")).as("kept_tokens"))
      .orderBy("lang")
  }

  /** P7: deterministic corpus-export ordering — the terminal step of
    * every real training-data build: a SEEDED global shuffle
    * (`pos = rank of h60(doc_id || '#' || seed)`) so the exported
    * sequence order is reproducible across re-runs, machines, and input
    * layouts (a `rand()`-sorted export re-draws under straggler retry;
    * a doc_id-ordered one leaks crawl/source locality into training
    * batch composition).
    *
    * Scale (100 TB): the global rank rides
    * [[Dedup.rankWithinBuckets]] with ONE constant bucket — a single
    * range-partitioned sort on the (hash, doc_id) total order,
    * per-partition local ranks + an O(partitions) driver carry fold.
    * No window over a single partition, no driver materialization of
    * rows; payload columns flow through the same shuffle untouched. No
    * final `orderBy(pos)`: `pos` IS the order (writers consume it as
    * the sort/bucket key), and re-sorting would double the exchange.
    */
  def exportShuffle(spark: SparkSession, dir: String, seed: Long = 42L): DataFrame = {
    Kernels.install(spark)
    val keyed = docs(spark, dir).select(
      col("doc_id").as("vec_id"), col("lang"),
      lit(0).as("cluster"), lit(0L).as("s16"),
      Kernels.h60(concat(col("doc_id").cast("string"), lit(s"#$seed"))).as("sk"))
    Dedup.rankWithinBuckets(keyed)
      .select(col("rnk").as("pos"), col("vec_id").as("doc_id"), col("lang"))
  }

  /** Per-source token-share ceiling for [[sourceMixture]], in basis
    * points: no single source may contribute more than 40% of the
    * training mix (the Pile/LLaMA-recipe style anti-dominance cap).
    */
  private[graft] val SourceCapBp = 4000L

  /** P8: source-mixture capping — the data-recipe step between dedup
    * and packing: compute each source's token share and the
    * deterministic downsampling rate that caps any one source at
    * [[SourceCapBp]] of the total (a crawl dump an order of magnitude
    * bigger than every curated source would otherwise dominate the
    * mix). Output per source: docs, tokens, raw share, the keep rate
    * (min(1, cap·T/tokens)), and the capped token budget — all ratios
    * in exact-int64 basis points (the [[TextAnalysis.qualityScore]]
    * discipline), so both engines agree bit-for-bit. A pipeline applies
    * the rate with the same content-hash trick as [[hashSplit]]
    * (keep iff h60(text) mod 10000 < keep_rate_bp — deterministic,
    * leakage-safe, no stored state).
    *
    * Scale: one explode-free per-row token count + one hash-agg to a
    * |sources|-row relation; the total is a second tiny agg over THAT
    * (never a second corpus pass). Everything after the first agg is
    * driver-negligible.
    */
  def sourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val perSource = docs(spark, dir)
      .withColumn("n_tokens", size(Kernels.tokens(col("text"))).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_sum"))
    // total tokens via a window over the |sources|-row aggregate: the
    // relation is a handful of rows, so the unpartitioned window is a
    // single trivial task over source counts, not documents
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSource
      .withColumn("t", sum("tok_sum").over(w))
      .withColumn("share_bp", expr("(20000 * tok_sum + t) div (2 * t)"))
      .withColumn("keep_rate_bp",
        least(lit(10000L), expr(s"(2 * $SourceCapBp * t + tok_sum) div (2 * tok_sum)")))
      .withColumn("capped_tokens",
        least(col("tok_sum"), expr(s"($SourceCapBp * t) div 10000")))
      .select("source", "n_docs", "tok_sum", "share_bp", "keep_rate_bp",
        "capped_tokens")
      .orderBy("source")
  }

  /** P9: the corpus build END-TO-END as one declarative plan — the
    * composition every real training-data run executes, here composed
    * from the same kernels the standalone operators use so Catalyst
    * optimizes across stage boundaries instead of a pipeline runner
    * materializing each step:
    *   1. EXACT DEDUP: keep min(doc_id) per md5(text) (group-agg +
    *      semi-join on (hash, id) — never a per-hash window task);
    *   2. DECONTAMINATE: drop surviving train docs sharing ANY 3-gram
    *      shingle with the eval source (anti-join; p4's semantics);
    *   3. MIXTURE CAP: per-source keep rates computed over WHAT
    *      SURVIVED 1-2 ([[sourceMixture]] arithmetic), applied with the
    *      content-hash trick (h60(text·'#mix') mod 10000 < rate) — the
    *      rate relation is |sources| rows, broadcast;
    *   4. SPLIT: [[hashSplit]]'s 80/10/10 content-hash buckets;
    *   5. the final recipe table: per (lang, split) docs + tokens.
    *
    * Scale: stages 1/2 shuffle on content hashes (dedup groups and the
    * shingle join — both bounded by the dedup/contamination structure),
    * stage 3+ is per-row maps against broadcast rates, stage 5 one
    * hash-agg. Nothing materializes between stages; AQE sees the whole
    * plan.
    */
  def corpusBuild(spark: SparkSession, dir: String,
                  evalSource: String = "src0",
                  capBp: Long = SourceCapBp): DataFrame =
    corpusBuildOver(docs(spark, dir), evalSource, capBp)

  /** [[corpusBuild]] over any (doc_id, text, lang, source) relation —
    * one code path for the fixture gate and the differential fuzz
    * (CorpusBuildProperties re-derives all five stages independently).
    */
  private[graft] def corpusBuildOver(d: DataFrame, evalSource: String,
                                     capBp: Long): DataFrame = {
    Kernels.install(d.sparkSession)
    // r17 optimization (guide §8's decide-on-small-rows principle): the
    // old single-expression plan re-derived `kept` SIX times and `train`
    // twice — 12 corpus scans, each re-running md5/h60/tokenize over the
    // text. The recipe output never needs the text itself, only values
    // DERIVED from it — so ONE scan computes every per-document derived
    // value (dedup hash, split bucket, mix hash, token count, shingles)
    // into a persisted base relation and the whole build composes over
    // that. Expressions are verbatim the old ones; only the factoring
    // changed (oracle-verified identical at all three SFs).
    val base = d.select(col("doc_id"), col("lang"), col("source"),
        md5(col("text").cast("binary")).as("h"),
        (Kernels.h60(col("text")) % 100).as("b"),
        (Kernels.h60(concat(col("text"), lit("#mix"))) % 10000).as("hmix"),
        size(Kernels.tokens(col("text"))).cast("long").as("n_tokens"),
        Kernels.shingles3(col("text")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    basePersists.register(d.sparkSession, base)
    // 1. exact dedup, keep-lowest-id
    val keepIds = base.groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val kept = base.join(keepIds, Seq("doc_id"), "left_semi")
    // 2. decontamination against the eval source, over SURVIVORS
    val sh = kept.select(col("doc_id"), col("source"), explode(col("s")).as("sg"))
    val evalSg = sh.filter(col("source") === evalSource).select("sg").distinct()
    val contaminated = sh.filter(col("source") =!= evalSource)
      .join(evalSg, "sg").select("doc_id").distinct()
    val train = kept.filter(col("source") =!= evalSource)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 3. per-source keep rates over what survived (p8 arithmetic), then
    // the deterministic content-hash downsample
    val srcTok = train.groupBy("source").agg(sum("n_tokens").as("s"))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = srcTok.withColumn("t", sum("s").over(w))
      .withColumn("keep_rate_bp",
        least(lit(10000L), expr(s"(2 * $capBp * t + s) div (2 * s)")))
      .select("source", "keep_rate_bp")
    val mixed = train.join(broadcast(rates), "source")
      .filter(col("hmix") < col("keep_rate_bp"))
    // 4-5. split buckets + the recipe table
    mixed
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_sum"))
      .orderBy("lang", "split")
  }

  // ---- DuckDB oracles -----------------------------------------------------

  /** Shingle CTE chain shared with [[Dedup]]'s oracles. */
  private val shingle =
    """tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) s
      |  FROM tok),
      |ex AS (SELECT sh.doc_id, u.sg,
      |  cast(concat('0x', substr(md5(u.sg), 1, 15)) as bigint) h
      |  FROM sh, unnest(sh.s) u(sg))""".stripMargin

  val oracles: Map[String, String] = Map(
    // The composed corpus build: each CTE mirrors the standalone
    // operator's oracle verbatim (dedup keep-set, p4 contamination,
    // p8 rates over survivors, p2 buckets).
    "p9_corpus_build" ->
      s"""WITH keepids AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kept AS (SELECT d.* FROM documents d JOIN keepids USING (doc_id)),
         |tok AS (SELECT doc_id, string_split(text,' ') w FROM kept),
         |sh AS (SELECT doc_id,
         |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) s
         |  FROM tok),
         |ex AS (SELECT sh.doc_id, u.sg FROM sh, unnest(sh.s) u(sg)),
         |eval_sh AS (SELECT DISTINCT ex.sg FROM ex JOIN kept USING (doc_id)
         |            WHERE kept.source = 'src0'),
         |contaminated AS (
         |  SELECT DISTINCT ex.doc_id FROM ex JOIN eval_sh USING (sg)
         |  JOIN kept ON kept.doc_id = ex.doc_id WHERE kept.source <> 'src0'),
         |train AS (
         |  SELECT kept.*, len(string_split(text,' '))::BIGINT AS n_tokens
         |  FROM kept WHERE source <> 'src0'
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |srctok AS (SELECT source, sum(n_tokens) AS s FROM train GROUP BY source),
         |rates AS (SELECT source,
         |    least(10000, (2 * $SourceCapBp * (SELECT sum(s) FROM srctok) + s) // (2 * s))
         |      AS keep_rate_bp
         |  FROM srctok),
         |mixed AS (SELECT train.* FROM train JOIN rates USING (source)
         |  WHERE cast(concat('0x', substr(md5(concat(text, '#mix')), 1, 15)) as bigint)
         |          % 10000 < keep_rate_bp),
         |bucketed AS (SELECT lang, n_tokens,
         |    cast(concat('0x', substr(md5(text), 1, 15)) as bigint) % 100 AS b
         |  FROM mixed)
         |SELECT lang,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS tok_sum
         |FROM bucketed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Source-mixture capping: the same int64 basis-point arithmetic.
    "p8_source_mixture" ->
      s"""WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(string_split(text, ' ')))::BIGINT AS tok_sum
        |  FROM documents GROUP BY source),
        |g AS (SELECT s.*, (SELECT sum(tok_sum) FROM s)::BIGINT AS t FROM s)
        |SELECT source, n_docs, tok_sum,
        |  ((20000 * tok_sum + t) // (2 * t))::BIGINT AS share_bp,
        |  least(10000, (2 * $SourceCapBp * t + tok_sum) // (2 * tok_sum))::BIGINT AS keep_rate_bp,
        |  least(tok_sum, ($SourceCapBp * t) // 10000)::BIGINT AS capped_tokens
        |FROM g ORDER BY source""".stripMargin,

    // Seeded export shuffle: same 60-bit md5 key, row_number over the
    // (key, doc_id) total order — bit-identical global positions.
    "p7_export_shuffle" ->
      """SELECT row_number() OVER (
        |    ORDER BY cast(concat('0x', substr(md5(concat(doc_id, '#42')), 1, 15)) as bigint),
        |             doc_id) AS pos,
        |  doc_id, lang
        |FROM documents""".stripMargin,
    // Connected components in SQL: reachability closure via a recursive
    // CTE (UNION dedups, guaranteeing termination), then min reachable
    // label per node. Mirrors the d3 pair derivation verbatim.
    "p1_dedup_clusters" ->
      s"""WITH RECURSIVE $shingle,
         |votes AS (
         |  SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) v
         |  FROM ex, range(0,60) r(j) GROUP BY doc_id, j),
         |sima AS (
         |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) sh60
         |  FROM votes GROUP BY doc_id),
         |ex2 AS (SELECT doc_id,
         |  cast(concat('0x', substr(md5(sg || '#2'), 1, 15)) as bigint) h FROM ex),
         |votes2 AS (
         |  SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) v
         |  FROM ex2, range(0,60) r(j) GROUP BY doc_id, j),
         |simb AS (
         |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) sh60
         |  FROM votes2 GROUP BY doc_id),
         |sim AS (
         |  SELECT sima.doc_id, sima.sh60 sa, simb.sh60 sb
         |  FROM sima JOIN simb USING (doc_id)),
         |pairs AS (
         |  SELECT a.doc_id doc_a, b.doc_id doc_b
         |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) <= 10),
         |nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
         |edges AS (SELECT doc_a src, doc_b dst FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |walk(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, walk.label FROM edges e JOIN walk ON e.src = walk.node),
         |comp AS (SELECT node, min(label) lbl FROM walk GROUP BY node)
         |SELECT lbl AS cluster_id, count(*) AS n_docs
         |FROM comp GROUP BY lbl ORDER BY cluster_id""".stripMargin,

    "p2_hash_split" ->
      """WITH f AS (
        |  SELECT lang, len(string_split(text,' ')) n_tokens,
        |    cast(concat('0x', substr(md5(text), 1, 15)) as bigint) % 100 b
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS tok_sum
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p3_pack_sequences" ->
      """WITH f AS (
        |  SELECT lang, doc_id, len(string_split(text,' ')) n_tokens FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start
        |  FROM f)
        |SELECT lang, (start // 512)::INT AS bin, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p5_stratified_sample" ->
      """WITH f AS (
        |  SELECT lang, len(string_split(text,' '))::BIGINT n_tokens,
        |    CASE WHEN cast(concat('0x', substr(md5(text || '#sample'), 1, 15)) as bigint) % 10000
        |      < (CASE lang WHEN 'en' THEN 2500 WHEN 'es' THEN 5000 WHEN 'zh' THEN 7500 ELSE 10000 END)
        |      THEN 1 ELSE 0 END AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, sum(keep)::BIGINT AS n_kept,
        |  sum(keep * n_tokens)::BIGINT AS kept_tokens
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    // p6 is p4 with a lossy pre-filter followed by exact verification —
    // the output contract (and therefore the oracle) is IDENTICAL.
    "p6_decontaminate_bloom" ->
      s"""WITH $shingle,
         |eval_sh AS (SELECT DISTINCT ex.sg FROM ex JOIN documents d USING (doc_id)
         |            WHERE d.source = 'src0'),
         |contaminated AS (
         |  SELECT DISTINCT ex.doc_id FROM ex JOIN eval_sh USING (sg)
         |  JOIN documents d ON d.doc_id = ex.doc_id WHERE d.source <> 'src0')
         |SELECT d.lang, count(*) AS n_train,
         |  (count(*) FILTER (WHERE c.doc_id IS NOT NULL))::BIGINT AS n_contaminated
         |FROM documents d LEFT JOIN contaminated c USING (doc_id)
         |WHERE d.source <> 'src0'
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "p4_decontaminate" ->
      s"""WITH $shingle,
         |eval_sh AS (SELECT DISTINCT ex.sg FROM ex JOIN documents d USING (doc_id)
         |            WHERE d.source = 'src0'),
         |contaminated AS (
         |  SELECT DISTINCT ex.doc_id FROM ex JOIN eval_sh USING (sg)
         |  JOIN documents d ON d.doc_id = ex.doc_id WHERE d.source <> 'src0')
         |SELECT d.lang, count(*) AS n_train,
         |  (count(*) FILTER (WHERE c.doc_id IS NOT NULL))::BIGINT AS n_contaminated
         |FROM documents d LEFT JOIN contaminated c USING (doc_id)
         |WHERE d.source <> 'src0'
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
  )
}
