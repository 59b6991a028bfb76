package graft.operators

import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's read path (O8–O11, `BinaryVectorDB.py:174-252`)
  * re-expressed as declarative DataFrame programs, plus the extension
  * similarity-search operators (E3/E4/E7).
  *
  * Scale notes (100 TB design):
  *  - Phase I is the only cluster-wide stage: a codegen'd hamming scan of
  *    the cached packed-code column followed by `orderBy().limit()`, which
  *    Catalyst plans as `TakeOrderedAndProject` — per-partition top-k +
  *    driver merge, the same partial/final shape faiss gets from its
  *    OpenMP reduction. No shuffle of the scan data, ever.
  *  - Phases II/III touch ≤ k·oversample rows (≤100 at defaults) — cost
  *    independent of table size, exactly the reference's funnel intent.
  *  - The query vector is a literal (constant-folded into codegen), never
  *    a join side.
  */
object Search {

  /** Default funnel parameters — the reference's own defaults
    * (`BinaryVectorDB.py:17,67,174`).
    */
  val K = 10
  val BinaryOversample = 10
  val Int8Oversample = 3

  /** The hot-tier relation for a fixture dir: embeddings with their packed
    * sign codes, computed ONCE per (session, dir) and kept resident —
    * the engine-side analogue of the reference keeping its binary index
    * in RAM (`README.md:68`). Before this cache every v-query re-read the
    * parquet and re-packed the full table per call (the main self-
    * inflicted bench cost at sf0.1, flagged in round-1 review).
    */
  private val packedCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val maxAbsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Double]
  private val qvCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Long), Seq[Double]]

  /** Drop this session's persisted code relations and memoized IVF index
    * locations (fixture dirs are immutable, so this is for test/bench
    * hygiene: session-lifetime caches otherwise grow monotonically across
    * dirs and scale factors in one JVM, and late bench queries end up
    * measuring GC pressure instead of plans). The on-disk IVF layouts
    * stay; dropping the entry means the next query rewrites the layout
    * (overwrite mode), a one-time cost the bench warm pass absorbs.
    */
  def clearCaches(spark: SparkSession): Unit = {
    packedCache.filterInPlace { case ((s, _), df) =>
      if (s == spark) { df.unpersist(); false } else true }
    maxAbsCache.filterInPlace { case ((s, _), _) => s != spark }
    qvCache.filterInPlace { case ((s, _, _), _) => s != spark }
    ivfCache.filterInPlace { case ((s, _), _) => s != spark }
  }

  def packedEmb(spark: SparkSession, dir: String): DataFrame =
    packedCache.getOrElseUpdate((spark, dir), {
      Kernels.install(spark)
      spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("code", Kernels.packBits(col("embedding")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Fetch one embedding as a driver-side double array (query-side input,
    * like the reference's per-query embed call — never a table).
    *
    * This is a POINT LOOKUP, not a scan of the cached hot tier: the
    * filter goes against the raw parquet source, where the `vec_id`
    * equality pushes into the scan (`PushedFilters: [EqualTo(vec_id,..)]`,
    * PlanSpec-pinned) and the fixture's id-ordered layout lets row-group
    * min/max stats skip everything but the one matching group — at 100×
    * the table size the read stays O(one row group), where the previous
    * form (`packedEmb.filter(...).head()`) walked the whole cached
    * relation per query (round-9 review finding). The result is memoized
    * per (session, dir, id), so repeated queries (bench reps, the batched
    * paths' per-qid fetches) never touch storage again.
    */
  def queryVector(spark: SparkSession, dir: String, vecId: Long): Seq[Double] =
    qvCache.getOrElseUpdate((spark, dir, vecId),
      queryVectorDf(spark, dir, vecId).head().getSeq[Double](0))

  /** The un-collected lookup relation behind [[queryVector]] — exposed so
    * PlanSpec can pin its pushed-down point-lookup shape.
    */
  private[graft] def queryVectorDf(spark: SparkSession, dir: String,
                                   vecId: Long): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === vecId)
      .select(col("embedding").cast("array<double>"))

  /** Driver-side Q1 pack of a query vector (MSB-first, 64 dims/word). */
  def packQuery(q: Seq[Double]): Seq[Long] = {
    val words = new Array[Long]((q.length + 63) / 64)
    q.zipWithIndex.foreach { case (x, j) =>
      if (x > 0.0) words(j >> 6) |= (1L << (63 - (j & 63)))
    }
    words.toSeq
  }

  /** Global int8 calibration constant: max |x| over all dimensions of all
    * vectors, as double. One cheap agg pass (map-side combined), memoized
    * per (session, dir) — a scan-wide scalar, not a per-query cost.
    */
  def maxAbs(spark: SparkSession, dir: String): Double =
    maxAbsCache.getOrElseUpdate((spark, dir),
      packedEmb(spark, dir)
        .select(max(Kernels.maxAbsElem(col("embedding"))).cast("double"))
        .head().getDouble(0))

  /** The three-phase coarse-to-fine funnel (O8→O9→O10) for one query
    * vector, with the reference's defaults and score names
    * (`score_hamming`, `score_binary`, `score_cossim` —
    * `BinaryVectorDB.py:214,226,245`). Scores are rounded to 4 decimals
    * and used as sort keys with `vec_id` tie-break so results are
    * deterministic and oracle-comparable.
    */
  def funnel(spark: SparkSession, dir: String, queryVecId: Long = 0,
             k: Int = K, binaryOversample: Int = BinaryOversample,
             int8Oversample: Int = Int8Oversample): DataFrame = {
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    funnelOver(emb, queryVector(spark, dir, queryVecId), maxAbs(spark, dir),
      k, binaryOversample, int8Oversample)
  }

  /** Metadata-filtered funnel: the three-phase search restricted to
    * vectors whose document row satisfies a payload predicate (here:
    * `documents.lang = lang`) — the filtered-ANN shape every production
    * vector store needs. Spark-first plan: the predicate filters the
    * documents scan WITH pushdown (`PushedFilters: [EqualTo(lang,..)]`,
    * PlanSpec-pinned), the surviving ids reach Phase I as a LEFT SEMI
    * join (broadcast at fixture scale by Catalyst's own size estimate,
    * shuffle join above threshold — no forced hint), and the funnel
    * stages are shared verbatim with [[funnel]]. Quantizer calibration
    * stays FULL-corpus `maxAbs` — filtering restricts the search set,
    * never the stored int8 codes. The API-level analogue with an
    * arbitrary `Column` predicate and heap-time selector pushdown lives
    * in [[graft.db.VectorDB.searchVectorWhere]].
    */
  def filteredFunnel(spark: SparkSession, dir: String, queryVecId: Long = 0,
                     k: Int = K, binaryOversample: Int = BinaryOversample,
                     int8Oversample: Int = Int8Oversample,
                     lang: String = "en"): DataFrame = {
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    val allowed = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    funnelOver(emb.join(allowed, Seq("vec_id"), "left_semi"),
      queryVector(spark, dir, queryVecId), maxAbs(spark, dir),
      k, binaryOversample, int8Oversample)
  }

  /** The shared three-phase funnel stages over an arbitrary base
    * relation of (vec_id, embedding, code) rows.
    */
  private def funnelOver(base: DataFrame, qv: Seq[Double], maxAbsVal: Double,
                         k: Int, binaryOversample: Int,
                         int8Oversample: Int): DataFrame = {
    val q = typedlit(qv)
    val qCode = typedlit(packQuery(qv))
    val ma = lit(maxAbsVal)

    // Phase I — exhaustive hamming over the cached packed codes, top
    // k*binaryOversample, reduced by the bounded heap aggregate
    // (map-side partial heaps; only ≤k·bo states per partition shuffle,
    // carrying the later phases' payloads). NOT an orderBy().limit():
    // the sort-limit formulation degenerates to a FULL range-sort
    // exchange of the relation whenever adjacent phases share a limit
    // (binaryOversample=1 or int8Oversample=1 — Catalyst eliminates the
    // redundant inner sort and the TakeOrderedAndProject pattern no
    // longer matches; measured 3.9 GB shuffled per query at 1M×1024).
    // The aggregate is rewrite-proof: the scan stage reduces to heap
    // states no matter what the optimizer does around it.
    // Score in a codegen'd Project BELOW the aggregate (same split as
    // multiQueryHamming): as a direct aggregate child the hamming kernel
    // would be eval'd interpretively per row inside update(); as a
    // projected column the whole-stage-codegen'd kernel runs in the scan
    // stage and the aggregate reads a ready field.
    val phase1 = base
      .select(col("vec_id"), col("code"), col("embedding"),
        Kernels.hamming(col("code"), qCode).as("h"))
      .select(Kernels.hammingTopKCand(
        col("h"), col("vec_id"), col("code"),
        col("embedding"), k * binaryOversample).as("topk"))
      .select(explode(col("topk")).as("c"))
      .select(col("c.vec_id").as("vec_id"),
        col("c.score").as("score_hamming"),
        col("c.code").as("code"),
        col("c.embedding").as("embedding"))

    // Phase II — ⟨float, ±1-binary⟩ rescore of ≤ k*binaryOversample rows.
    val phase2 = phase1
      .withColumn("score_binary", round(Kernels.signDot(q, col("code")), 4))
      .orderBy(col("score_binary").desc, col("vec_id").asc)
      .limit(k * int8Oversample)

    // Phase III — ⟨float, int8⟩ rescore of ≤ k*int8Oversample rows.
    // Reference divides by the DOC norm only (BinaryVectorDB.py:242) —
    // replicated exactly, not "fixed" to true cosine.
    val int8 = Kernels.int8(col("embedding"), ma)
    phase2
      .withColumn("score_cossim",
        round(Kernels.dotInt8(q, int8) / Kernels.normInt8(int8), 4))
      .orderBy(col("score_cossim").desc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "score_hamming", "score_binary", "score_cossim")
  }

  /** Phase I standalone (O8): exhaustive hamming top-k over packed codes. */
  def hammingTopK(spark: SparkSession, dir: String, queryVecId: Long = 0,
                  topK: Int = K * BinaryOversample): DataFrame = {
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    val qCode = typedlit(packQuery(queryVector(spark, dir, queryVecId)))
    emb
      .withColumn("score_hamming", Kernels.hamming(col("code"), qCode))
      .orderBy(col("score_hamming").asc, col("vec_id").asc)
      .limit(topK)
      .select("vec_id", "score_hamming")
  }

  /** v13: the per-block NSW serving graph under the DRIVER GATE — each
    * partition builds a [[graft.db.NswNavBuilder]] graph over its packed
    * codes and answers through best-first navigation plus the orphan
    * sweep at the EXHAUSTIVE width (`efSearch` ≥ rows), which is exact
    * by construction (NswNavProperties pins it across 400 random
    * geometries) — so the merged result must equal brute-force hamming
    * top-k and the oracle is v1's with the graph code in the loop.
    * The scan shape IS the serving path's: partition-local graph
    * build + search, ≤k rows shipped per partition, O(P·k) driver
    * merge. At production widths the same navigator is approximate;
    * its recall curve is GRAPHBENCH_r{N}'s job, not the gate's.
    */
  def nswGraphTopK(spark: SparkSession, dir: String, queryVecId: Long = 0,
                   topK: Int = K): DataFrame = {
    Kernels.install(spark)
    val qWords = packQuery(queryVector(spark, dir, queryVecId)).toArray
    val k = topK
    import spark.implicits._
    val hits = packedEmb(spark, dir).select(col("vec_id"), col("code"))
      .as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val idB = scala.collection.mutable.ArrayBuilder.make[Long]
        val wB = scala.collection.mutable.ArrayBuilder.make[Long]
        var n = 0
        it.foreach { case (id, code) => idB += id; wB ++= code; n += 1 }
        if (n == 0) Iterator.empty
        else {
          val ids = idB.result()
          val nav = new graft.db.NswNavBuilder(8, 32, Int.MaxValue)
            .build(ids, wB.result(), qWords.length)
          nav.topPacked(qWords, k, _ => true).iterator.map { p =>
            (ids((p & 0xffffffffL).toInt), (p >>> 32).toInt)
          }
        }
      }
    hits.toDF("vec_id", "score_hamming")
      .orderBy(col("score_hamming").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Hamming RANGE search — the faiss `range_search` analogue the
    * binary-index family supports alongside top-k: every vector whose
    * code is within `radius` bits of the query's, however many there
    * are. The at-scale near-duplicate-lookup shape ("has anything this
    * close already been indexed?") where top-k is wrong because the
    * right answer can be empty or thousands. Plan: a pure codegen'd
    * filter over the cached packed codes — embarrassingly parallel, no
    * shuffle, no driver merge beyond the (small) matching set; the
    * radius predicate rides the same `graft_hamming` kernel as Phase I.
    */
  def hammingWithinRadius(spark: SparkSession, dir: String,
                          queryVecId: Long = 0,
                          radius: Int = 24): DataFrame = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    val qCode = typedlit(packQuery(queryVector(spark, dir, queryVecId)))
    emb
      .withColumn("score_hamming", Kernels.hamming(col("code"), qCode))
      .filter(col("score_hamming") <= radius)
      .orderBy(col("score_hamming").asc, col("vec_id").asc)
      .select("vec_id", "score_hamming")
  }

  /** E3 baseline: exact brute-force cosine top-k. */
  def knnCosine(spark: SparkSession, dir: String, queryVecId: Long = 0, k: Int = K): DataFrame = {
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    val q = typedlit(queryVector(spark, dir, queryVecId))
    emb
      .withColumn("score", round(Kernels.cosine(col("embedding").cast("array<double>"), q), 4))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "label", "score")
  }

  /** E7: top-k nearest to the query per label, via the bounded-heap
    * [[graft.functions.ScoreTopKAgg]] — NOT a window rank: labels are
    * low-cardinality, so `row_number().over(partitionBy(label))` would
    * shuffle + sort the whole scored corpus onto ~10 keys to keep 3 rows
    * each. The heap aggregate folds the scan map-side; only labels×k
    * heap states shuffle, and posexplode recovers the rank from the
    * heap's (score desc, id asc) order.
    */
  def knnPerLabel(spark: SparkSession, dir: String, queryVecId: Long = 0, k: Int = 3): DataFrame = {
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    val q = typedlit(queryVector(spark, dir, queryVecId))
    emb
      .withColumn("score", round(Kernels.cosine(col("embedding").cast("array<double>"), q), 4))
      .groupBy("label")
      .agg(Kernels.scoreTopK(col("score"), col("vec_id"), k).as("topk"))
      .select(col("label"), posexplode(col("topk")))
      .select(col("label"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.vec_id").as("vec_id"), col("col.score").as("score"))
      .orderBy(col("label").asc, col("rnk").asc)
  }

  /** Per-(band, word) bit masks for banding a `words`-long packed code
    * into `numBands` contiguous, disjoint, covering bit ranges. Band `b`
    * owns global bit positions `[⌊b·T/numBands⌋, ⌊(b+1)·T/numBands⌋)`
    * where `T = words·64`, in [[packQuery]]'s MSB-first layout (dim `d` ↔
    * word `d>>6`, bit `63−(d&63)`). Every code bit belongs to exactly one
    * band (unit-tested coverage + disjointness), so the pigeonhole
    * argument holds at ANY code width: band width scales as `T/numBands`
    * instead of a hard-coded 8 bits — at the reference's native dim 1024
    * each of the 8 bands is 128 bits (collision rate 2⁻¹²⁸) rather than
    * the first word's 8 bits.
    */
  def bandMasks(words: Int, numBands: Int): IndexedSeq[IndexedSeq[Long]] = {
    require(words >= 1 && numBands >= 1)
    val total = words.toLong * 64
    (0 until numBands).map { b =>
      val lo = b * total / numBands
      val hi = (b + 1) * total / numBands
      (0 until words).map { w =>
        var m = 0L
        var d = math.max(lo, w.toLong * 64)
        val end = math.min(hi, (w + 1).toLong * 64)
        while (d < end) { m |= (1L << (63 - (d & 63))); d += 1 }
        m
      }
    }
  }

  /** E4: all-pairs embedding near-duplicates over any (vec_id, v) relation,
    * blocked EXACTLY by bands of the packed sign code — the pigeonhole
    * shape of [[Dedup.simhashDedup]], with band geometry derived from the
    * input's code width ([[bandMasks]]): `numBands` bands of `T/numBands`
    * bits over ALL `T = words·64` code bits, so any pair with sign-hamming
    * ≤ numBands−1 shares at least one exact band and the blocked join
    * provably loses nothing — at dim 64 AND at dim 1024 (NearDupSpec
    * proves blocked ≡ unblocked at both widths).
    *
    * Near-dup definition: sign-hamming ≤ `maxHamming` AND cosine ≥
    * `minCosine`. True near-duplicate embeddings sit at tiny angles, where
    * sign codes differ in a handful of bits — the regime banded LSH is
    * for. (Moderate thresholds like round-1's cosine 0.4 — sign
    * disagreement fraction ≈ 0.23 — admit NO exact sublinear blocking at
    * any code width: pigeonhole needs > fraction·W bands, capping band
    * width at ~4 bits. The round-1 label blocking was the symptom.)
    *
    * Scale shape: banding is a per-row map; only (band, bkey, id, code)
    * shuffles, and the band keys total one code-width per row across all
    * bands (each key is the band's masked word slice); the hamming filter
    * runs on the codegen'd join output BEFORE the candidate distinct;
    * cosine verification joins the tiny surviving pair set back to the
    * vectors (broadcast-ably small).
    */
  def nearDupPairs(vectors: DataFrame, maxHamming: Int = 7,
                   minCosine: Double = 0.99, numBands: Int = 8): DataFrame = {
    require(maxHamming < numBands,
      s"banded blocking is exact only for maxHamming ≤ ${numBands - 1}, got $maxHamming")
    // Code width from the data (one limit-1 probe): dims → 64-bit words.
    val dim = vectors.select(size(col("v"))).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => 64 // empty input — geometry is irrelevant, result is empty
    }
    val words = (dim + 63) / 64
    val masks = bandMasks(words, numBands)
    val coded = vectors.select(col("vec_id"), col("v"),
      Kernels.packBits(col("v")).as("code"))

    // Band key for band b = the band's masked word slice (array<bigint>,
    // only words the band touches) — all masks are driver-side literals,
    // so the whole banding stage is a codegen'd per-row projection.
    val bandKey: Int => Column = b => array(
      masks(b).zipWithIndex.collect { case (m, w) if m != 0L =>
        element_at(col("code"), w + 1).bitwiseAND(lit(m))
      }: _*)
    val banded = coded.select(col("vec_id"), col("code"),
        posexplode(array((0 until numBands).map(bandKey): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      .select("vec_id", "code", "band", "bkey")

    val a = banded.select(col("vec_id").as("id_a"), col("code").as("code_a"),
      col("band"), col("bkey"))
    val b = banded.select(col("vec_id").as("id_b"), col("code").as("code_b"),
      col("band"), col("bkey"))
    val candidates = a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", Kernels.hamming(col("code_a"), col("code_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()

    val va = vectors.select(col("vec_id").as("id_a"), col("v").as("va"))
    val vb = vectors.select(col("vec_id").as("id_b"), col("v").as("vb"))
    candidates
      .join(va, "id_a").join(vb, "id_b")
      .withColumn("sim", round(Kernels.cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= minCosine)
      .orderBy(col("id_a").asc, col("id_b").asc)
      .select("id_a", "id_b", "hamming", "sim")
  }

  /** The registered v5 query: [[nearDupPairs]] evaluated with injected
    * duplicates — the fixture corpus deliberately contains no natural
    * near-dup embeddings (minimum pairwise sign-hamming is 13/64 at every
    * scale factor), so the standard dedup-evaluation move is to plant
    * known duplicates and require the operator to find exactly them. Each
    * vector gets a clone (vec_id + 1_000_000) rescaled per-dim by
    * 1 + ((i mod 5)+1)/100 — sign-preserving (hamming 0 vs its source,
    * cosine ≈ 0.9996) and deterministic, so the DuckDB oracle derives the
    * identical augmented relation and the result stays exact.
    */
  def nearDupEmbeddings(spark: SparkSession, dir: String, maxHamming: Int = 7,
                        minCosine: Double = 0.99): DataFrame = {
    Kernels.install(spark)
    val base = packedEmb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val clones = base.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("v"),
        (x, i) => x * (lit(1.0) + ((i % 5) + 1).cast("double") * lit(0.01))).as("v"))
    nearDupPairs(base.unionByName(clones), maxHamming, minCosine)
  }

  /** Persisted IVF index: embeddings written partitioned by cell (label)
    * plus a tiny centroid table — built once per (session, fixture dir)
    * into a shared-filesystem location ([[graft.db.IndexStore]]: under the
    * session warehouse, resolved via the Hadoop FS API so executors on a
    * real cluster can read it — never the driver's /tmp); queries read
    * centroids (labels × dim rows) and scan only the probed cells'
    * partitions (source-level pruning, proven by the PartitionFilters
    * assertion in PlanSpec/LayoutSpec).
    */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def ivfIndexDir(spark: SparkSession, dir: String): String =
    ivfCache.getOrElseUpdate((spark, dir), {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val idx = graft.db.IndexStore.dirFor(spark, "ivf", dir)
      // One file per cell: co-locate each cell before the partitioned
      // write (10 files instead of partitions × cells tiny files).
      emb.repartition(col("label"))
        .write.partitionBy("label").mode("overwrite").parquet(s"$idx/cells")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val cols = (0 until dim).map(i =>
        avg(element_at(col("embedding"), i + 1).cast("double")).as(s"c$i"))
      emb.groupBy("label").agg(cols.head, cols.tail: _*)
        .select(col("label"), array((0 until dim).map(i => col(s"c$i")): _*).as("centroid"))
        .coalesce(1).write.mode("overwrite").parquet(s"$idx/centroids")
      idx
    })

  /** E3 scale path: IVF-style ANN over the persisted cell layout. Coarse
    * cells = per-label centroids (deterministic; [[MLSimilarity
    * .kmeansIvfKnn]] is the learned variant); the query probes the
    * `nprobe` nearest centroids driver-side and reads only those cells'
    * partitions.
    */
  def ivfKnn(spark: SparkSession, dir: String, queryVecId: Long = 0,
             k: Int = K, nprobe: Int = 2): DataFrame = {
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    val qv = queryVector(spark, dir, queryVecId)
    val q = typedlit(qv)
    val idx = ivfIndexDir(spark, dir)

    // Probe: tiny centroid table, resolved driver-side (like the query
    // embed step — per-query input, not a join).
    val probed = spark.read.parquet(s"$idx/centroids")
      .withColumn("cscore", Kernels.cosine(col("centroid"), q))
      .orderBy(col("cscore").desc, col("label").asc)
      .limit(nprobe)
      .select("label").collect().map(_.getInt(0)).toSeq

    // Scan ONLY the probed cells: the isin filter on the partition column
    // prunes all other partitions at the file source.
    spark.read.parquet(s"$idx/cells")
      .filter(col("label").isin(probed: _*))
      .withColumn("score", round(Kernels.cosine(col("embedding").cast("array<double>"), q), 4))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "label", "score")
  }

  /** Batched multi-query Phase-I: score every (vector, query) pair in one
    * scan and reduce with the [[graft.functions.HammingTopKAgg]] bounded
    * heap — N×Q scored rows are consumed by map-side partial aggregation
    * in the scan stage; only Q×k heap states shuffle. This is the serving
    * shape at scale: one pass over the cached codes amortizes the scan
    * across every in-flight query (the single-query path is
    * [[hammingTopK]]).
    */
  def multiQueryHamming(spark: SparkSession, dir: String,
                        queryVecIds: Seq[Long] = Seq(0L, 7L, 42L),
                        k: Int = K): DataFrame = {
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    import spark.implicits._
    val queries = queryVecIds.map { qid =>
      (qid, packQuery(queryVector(spark, dir, qid)))
    }.toDF("qid", "qcode")

    emb
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        Kernels.hamming(col("code"), col("qcode")).as("h"))
      .groupBy("qid")
      .agg(Kernels.hammingTopK(col("h"), col("vec_id"), k).as("topk"))
      .select(col("qid"), posexplode(col("topk")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id").as("vec_id"), col("col.score").as("score_hamming"))
      .orderBy("qid", "rank")
  }

  /** Fused batched funnel: the full three-phase search for a batch of
    * queries in ONE pass over the codes. Phase I is the heap-aggregate
    * scan of [[multiQueryHamming]] (k·binaryOversample per query); the
    * surviving Q×100 candidates re-join the embeddings through a
    * pushed-down id filter (point-lookup batch), and phases II/III run
    * per query under window ranks. Per-query cost beyond the shared scan
    * is O(k·oversample) — the serving shape that amortizes one scan
    * across every in-flight query.
    */
  def multiQueryFunnel(spark: SparkSession, dir: String,
                       queryVecIds: Seq[Long] = Seq(0L, 7L, 42L),
                       k: Int = K, binaryOversample: Int = BinaryOversample,
                       int8Oversample: Int = Int8Oversample): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Kernels.install(spark)
    val emb = packedEmb(spark, dir)
    import spark.implicits._
    val queries = queryVecIds.map { qid =>
      val qv = queryVector(spark, dir, qid)
      (qid, qv, packQuery(qv))
    }.toDF("qid", "qvec", "qcode")
    val ma = lit(maxAbs(spark, dir))

    // Phases I+II fused into ONE pass over the hot tier: the heap carries
    // each candidate's packed code as payload (HammingTopKCodeAgg), so
    // the ⟨float, ±1-binary⟩ rescore reads codes straight out of the
    // aggregate output — no join back to the embeddings and nothing
    // re-scanned. The ≤ Q×(k·int8Oversample) phase-II winners are
    // materialized driver-side in the SAME action (a second reference to
    // the lineage would re-run the whole scan), then only THEY join the
    // embeddings for the int8 rescore — a point-lookup batch of 30×Q ids
    // instead of the pre-fusion 100×Q.
    val wB = Window.partitionBy("qid").orderBy(col("score_binary").desc, col("vec_id").asc)
    val phase2Rows = emb
      .crossJoin(broadcast(queries.select("qid", "qcode")))
      .select(col("qid"), col("vec_id"), col("code"),
        Kernels.hamming(col("code"), col("qcode")).as("h"))
      .groupBy("qid")
      .agg(Kernels.hammingTopKWithCode(col("h"), col("vec_id"), col("code"),
        k * binaryOversample).as("topk"))
      .select(col("qid"), explode(col("topk")).as("c"))
      .select(col("qid"), col("c.vec_id").as("vec_id"),
        col("c.score").as("score_hamming"), col("c.code").as("qcodecand"))
      .join(broadcast(queries.select("qid", "qvec")), "qid")
      .withColumn("score_binary", round(Kernels.signDot(col("qvec"), col("qcodecand")), 4))
      .withColumn("r2", row_number().over(wB))
      .filter(col("r2") <= k * int8Oversample)
      .select("qid", "vec_id", "score_hamming", "score_binary")
      .collect()
    val scores = spark.createDataFrame(phase2Rows.map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq)
      .toDF("qid", "vec_id", "score_hamming", "score_binary")

    // Phase III — ⟨float, int8⟩ per query on the pushed-down point-lookup
    // batch of surviving candidate ids.
    val candIds = phase2Rows.map(_.getLong(1)).distinct.toSeq
    val candEmb = emb.filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id"), col("embedding"))

    val wC = Window.partitionBy("qid").orderBy(col("score_cossim").desc, col("vec_id").asc)
    val int8 = Kernels.int8(col("embedding"), ma)

    scores
      .join(candEmb, "vec_id")
      .join(broadcast(queries.select("qid", "qvec")), "qid")
      .withColumn("score_cossim",
        round(Kernels.dotInt8(col("qvec"), int8) / Kernels.normInt8(int8), 4))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        col("score_hamming"), col("score_binary"), col("score_cossim"))
      .orderBy("qid", "rank")
  }

  // ---- DuckDB oracles -----------------------------------------------------
  // Same semantics written against the raw parquet tables: hamming is
  // sign-disagreement count (≡ popcount(xor) of the packed codes by
  // construction — packing round-trip is unit-tested), dots are double
  // accumulations, all sort keys are rounded with id tie-breaks.

  private def q(i: Long) = s"(select embedding from embeddings where vec_id = $i)"

  val oracles: Map[String, String] = Map(
    "v1_hamming_topk" ->
      s"""WITH qv AS (SELECT embedding e FROM embeddings WHERE vec_id = 0)
         |SELECT v.vec_id,
         |  (SELECT count(*) FROM range(1,65) t(i)
         |     WHERE (v.embedding[i] > 0) <> (qv.e[i] > 0))::INT AS score_hamming
         |FROM embeddings v, qv
         |ORDER BY score_hamming ASC, vec_id ASC LIMIT 100""".stripMargin,

    // v13 runs the NSW graph at the exhaustive width — exact by
    // construction, so the oracle is plain brute-force hamming top-k.
    "v13_nsw_topk" ->
      s"""WITH qv AS (SELECT embedding e FROM embeddings WHERE vec_id = 0)
         |SELECT v.vec_id,
         |  (SELECT count(*) FROM range(1,65) t(i)
         |     WHERE (v.embedding[i] > 0) <> (qv.e[i] > 0))::INT AS score_hamming
         |FROM embeddings v, qv
         |ORDER BY score_hamming ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Range search: same per-row hamming as v1, WHERE instead of top-k.
    "v12_range_search" ->
      s"""WITH qv AS (SELECT embedding e FROM embeddings WHERE vec_id = 0),
         |h AS (
         |  SELECT v.vec_id,
         |    (SELECT count(*) FROM range(1,65) t(i)
         |       WHERE (v.embedding[i] > 0) <> (qv.e[i] > 0))::INT AS score_hamming
         |  FROM embeddings v, qv)
         |SELECT vec_id, score_hamming FROM h WHERE score_hamming <= 24
         |ORDER BY score_hamming ASC, vec_id ASC""".stripMargin,

    // Same funnel pipeline restricted to the 'en' documents: the filter
    // lives in the candidate base (CTE f); calibration (s) stays
    // full-corpus, matching the engine's stored-quantizer semantics.
    "v11_filtered_funnel" ->
      s"""WITH qv AS (SELECT embedding e FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT max(abs(x))::DOUBLE ma FROM (SELECT unnest(embedding) x FROM embeddings)),
         |f AS (SELECT v.* FROM embeddings v
         |      WHERE v.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
         |p1 AS (
         |  SELECT v.vec_id, v.embedding,
         |    (SELECT count(*) FROM range(1,65) t(i)
         |       WHERE (v.embedding[i] > 0) <> (qv.e[i] > 0))::INT AS score_hamming
         |  FROM f v, qv
         |  ORDER BY score_hamming ASC, vec_id ASC LIMIT 100),
         |p2 AS (
         |  SELECT p1.*, round((SELECT sum(qv.e[i]::DOUBLE *
         |      (CASE WHEN p1.embedding[i] > 0 THEN 1 ELSE -1 END))
         |     FROM range(1,65) t(i)), 4) AS score_binary
         |  FROM p1, qv
         |  ORDER BY score_binary DESC, vec_id ASC LIMIT 30),
         |p3 AS (
         |  SELECT p2.vec_id, p2.score_hamming, p2.score_binary,
         |    round((SELECT sum(qv.e[i]::DOUBLE *
         |        least(127.0, greatest(-127.0, floor(p2.embedding[i]::DOUBLE * 127.0 / s.ma + 0.5))))
         |       FROM range(1,65) t(i)) /
         |      sqrt((SELECT sum(power(least(127.0, greatest(-127.0,
         |          floor(p2.embedding[i]::DOUBLE * 127.0 / s.ma + 0.5))), 2))
         |       FROM range(1,65) t(i))), 4) AS score_cossim
         |  FROM p2, qv, s
         |  ORDER BY score_cossim DESC, vec_id ASC LIMIT 10)
         |SELECT vec_id, score_hamming, score_binary, score_cossim
         |FROM p3 ORDER BY score_cossim DESC, vec_id ASC""".stripMargin,

    "v2_funnel" ->
      s"""WITH qv AS (SELECT embedding e FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT max(abs(x))::DOUBLE ma FROM (SELECT unnest(embedding) x FROM embeddings)),
         |p1 AS (
         |  SELECT v.vec_id, v.embedding,
         |    (SELECT count(*) FROM range(1,65) t(i)
         |       WHERE (v.embedding[i] > 0) <> (qv.e[i] > 0))::INT AS score_hamming
         |  FROM embeddings v, qv
         |  ORDER BY score_hamming ASC, vec_id ASC LIMIT 100),
         |p2 AS (
         |  SELECT p1.*, round((SELECT sum(qv.e[i]::DOUBLE *
         |      (CASE WHEN p1.embedding[i] > 0 THEN 1 ELSE -1 END))
         |     FROM range(1,65) t(i)), 4) AS score_binary
         |  FROM p1, qv
         |  ORDER BY score_binary DESC, vec_id ASC LIMIT 30),
         |p3 AS (
         |  SELECT p2.vec_id, p2.score_hamming, p2.score_binary,
         |    round((SELECT sum(qv.e[i]::DOUBLE *
         |        least(127.0, greatest(-127.0, floor(p2.embedding[i]::DOUBLE * 127.0 / s.ma + 0.5))))
         |       FROM range(1,65) t(i)) /
         |      sqrt((SELECT sum(power(least(127.0, greatest(-127.0,
         |          floor(p2.embedding[i]::DOUBLE * 127.0 / s.ma + 0.5))), 2))
         |       FROM range(1,65) t(i))), 4) AS score_cossim
         |  FROM p2, qv, s
         |  ORDER BY score_cossim DESC, vec_id ASC LIMIT 10)
         |SELECT vec_id, score_hamming, score_binary, score_cossim
         |FROM p3 ORDER BY score_cossim DESC, vec_id ASC""".stripMargin,

    "v3_knn_cosine" ->
      s"""SELECT vec_id, label,
         |  round(list_dot_product(embedding::DOUBLE[], ${q(0)}::DOUBLE[]) /
         |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(${q(0)}::DOUBLE[], ${q(0)}::DOUBLE[]))), 4) AS score
         |FROM embeddings
         |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    "v4_knn_per_label" ->
      s"""WITH scored AS (
         |  SELECT label, vec_id,
         |    round(list_dot_product(embedding::DOUBLE[], ${q(0)}::DOUBLE[]) /
         |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(${q(0)}::DOUBLE[], ${q(0)}::DOUBLE[]))), 4) AS score
         |  FROM embeddings),
         |ranked AS (
         |  SELECT label, vec_id, score,
         |    row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id ASC) AS rnk
         |  FROM scored)
         |SELECT label, rnk::INT AS rnk, vec_id, score FROM ranked
         |WHERE rnk <= 3 ORDER BY label ASC, rnk ASC""".stripMargin,

    // Mirrors nearDupEmbeddings exactly: same injected clones (per-dim
    // sign-preserving rescale — identical double arithmetic), sign codes
    // packed into two 32-bit halves (DuckDB rejects 1<<63), hamming ≤ 7
    // filter, then cosine ≥ 0.99 verification. The blocked Spark join is
    // pigeonhole-EXACT for hamming ≤ 7, so the unblocked oracle join
    // produces the identical pair set.
    "v5_neardup_embedding" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |allv AS (
         |  SELECT vec_id, v FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(range(1, 65), i -> v[i] * (1 + ((i-1)%5 + 1) * 0.01))
         |  FROM base),
         |pc AS (
         |  SELECT vec_id, v,
         |    (SELECT bit_or(CASE WHEN v[i] > 0 THEN (1::BIGINT << (i-1)) ELSE 0 END)
         |     FROM range(1,33) t(i)) c1,
         |    (SELECT bit_or(CASE WHEN v[i+32] > 0 THEN (1::BIGINT << (i-1)) ELSE 0 END)
         |     FROM range(1,33) t(i)) c2
         |  FROM allv),
         |cand AS (
         |  SELECT a.vec_id id_a, b.vec_id id_b,
         |    (bit_count(xor(a.c1, b.c1)) + bit_count(xor(a.c2, b.c2)))::INT AS hamming,
         |    a.v va, b.v vb
         |  FROM pc a JOIN pc b ON a.vec_id < b.vec_id
         |  WHERE bit_count(xor(a.c1, b.c1)) + bit_count(xor(a.c2, b.c2)) <= 7)
         |SELECT id_a, id_b, hamming,
         |  round(list_dot_product(va, vb) /
         |    (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 4) AS sim
         |FROM cand
         |WHERE round(list_dot_product(va, vb) /
         |    (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 4) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin,

    "v9_multiquery_funnel" ->
      s"""WITH qs AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id IN (0, 7, 42)),
         |s AS (SELECT max(abs(x))::DOUBLE ma FROM (SELECT unnest(embedding) x FROM embeddings)),
         |d AS (
         |  SELECT qs.qid, v.vec_id, v.embedding, qs.qe,
         |    (SELECT count(*) FROM range(1,65) t(i)
         |       WHERE (v.embedding[i] > 0) <> (qs.qe[i] > 0))::INT score_hamming
         |  FROM embeddings v, qs),
         |p1 AS (
         |  SELECT * FROM (
         |    SELECT d.*, row_number() OVER
         |      (PARTITION BY qid ORDER BY score_hamming ASC, vec_id ASC) r1
         |    FROM d) WHERE r1 <= 100),
         |p2s AS (
         |  SELECT qid, vec_id, embedding, qe, score_hamming,
         |    round((SELECT sum(qe[i]::DOUBLE *
         |        (CASE WHEN embedding[i] > 0 THEN 1 ELSE -1 END))
         |       FROM range(1,65) t(i)), 4) score_binary
         |  FROM p1),
         |p2 AS (
         |  SELECT * FROM (
         |    SELECT p2s.*, row_number() OVER
         |      (PARTITION BY qid ORDER BY score_binary DESC, vec_id ASC) r2
         |    FROM p2s) WHERE r2 <= 30),
         |p3s AS (
         |  SELECT qid, vec_id, score_hamming, score_binary,
         |    round((SELECT sum(qe[i]::DOUBLE *
         |        least(127.0, greatest(-127.0, floor(embedding[i]::DOUBLE * 127.0 / s.ma + 0.5))))
         |       FROM range(1,65) t(i)) /
         |      sqrt((SELECT sum(power(least(127.0, greatest(-127.0,
         |          floor(embedding[i]::DOUBLE * 127.0 / s.ma + 0.5))), 2))
         |       FROM range(1,65) t(i))), 4) score_cossim
         |  FROM p2, s),
         |p3 AS (
         |  SELECT * FROM (
         |    SELECT p3s.*, row_number() OVER
         |      (PARTITION BY qid ORDER BY score_cossim DESC, vec_id ASC) rnk
         |    FROM p3s) WHERE rnk <= 10)
         |SELECT qid, rnk::INT AS rank, vec_id, score_hamming, score_binary, score_cossim
         |FROM p3 ORDER BY qid, rank""".stripMargin,

    "v8_multiquery_topk" ->
      s"""WITH qs AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id IN (0, 7, 42)),
         |d AS (
         |  SELECT qs.qid, v.vec_id,
         |    (SELECT count(*) FROM range(1,65) t(i)
         |       WHERE (v.embedding[i] > 0) <> (qs.qe[i] > 0))::INT h
         |  FROM embeddings v, qs),
         |r AS (
         |  SELECT qid, vec_id, h,
         |    row_number() OVER (PARTITION BY qid ORDER BY h ASC, vec_id ASC) rnk
         |  FROM d)
         |SELECT qid, rnk::INT AS rank, vec_id, h AS score_hamming
         |FROM r WHERE rnk <= 10 ORDER BY qid, rank""".stripMargin,

    "v6_ivf_knn" ->
      s"""WITH qv AS (SELECT embedding e FROM embeddings WHERE vec_id = 0),
         |cent AS (
         |  SELECT label, i, avg(embedding[i]::DOUBLE) c
         |  FROM embeddings, range(1,65) t(i) GROUP BY label, i),
         |cvec AS (
         |  SELECT label, array_agg(c ORDER BY i) centroid FROM cent GROUP BY label),
         |probe AS (
         |  SELECT cv.label
         |  FROM cvec cv, qv
         |  ORDER BY list_dot_product(cv.centroid, qv.e::DOUBLE[]) /
         |    (sqrt(list_dot_product(cv.centroid, cv.centroid)) *
         |     sqrt(list_dot_product(qv.e::DOUBLE[], qv.e::DOUBLE[]))) DESC, cv.label ASC
         |  LIMIT 2)
         |SELECT v.vec_id, v.label,
         |  round(list_dot_product(v.embedding::DOUBLE[], qv.e::DOUBLE[]) /
         |    (sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(qv.e::DOUBLE[], qv.e::DOUBLE[]))), 4) AS score
         |FROM embeddings v, qv
         |WHERE v.label IN (SELECT label FROM probe)
         |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
  )
}
