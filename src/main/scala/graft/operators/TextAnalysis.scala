package graft.operators

import graft.functions.Kernels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data-pipeline north star:
  * corpus profiling, per-document quality scoring, heuristic language ID
  * with corpus-derived marker tokens, and rolling-hash fingerprinting.
  * Everything is deterministic arithmetic over built-in (codegen'd)
  * string/array functions, so each operator has an exact DuckDB oracle.
  *
  * Scale notes: t1/t3 are hash-aggregations with map-side combine; t2/t4
  * are pure per-row maps (embarrassingly parallel, no shuffle at all);
  * the langid marker table is tiny (langs × 5) and broadcast.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame = {
    Kernels.install(spark)
    spark.read.parquet(s"$dir/documents.parquet")
  }

  /** Per-call persisted relations (t3's one-pass token relation), cap 1
    * per session: evicted by the next call or [[clearCaches]].
    */
  private val tokenPersists = new PersistRegistry[DataFrame](1, _.unpersist())

  def clearCaches(spark: SparkSession): Unit = tokenPersists.clear(spark)

  /** Live persisted t3 relations of this session (spec visibility). */
  private[graft] def livePersistCount(spark: SparkSession): Int =
    tokenPersists.size(spark)

  /** Stop tokens present in the fixture vocabulary. */
  private val StopWords = Seq("the", "a")

  /** T1: per-language corpus profile. */
  def langProfile(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_tokens", size(Kernels.tokens(col("text"))))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        // integer means as exact centi units (see qualityScore note)
        sum("n_chars").as("csum"),
        sum("n_tokens").as("tsum"),
        countDistinct("source").as("n_sources"))
      .select(col("lang"), col("n_docs"),
        expr("int((200 * csum + n_docs) div (2 * n_docs))").as("avg_chars_centi"),
        expr("int((200 * tsum + n_docs) div (2 * n_docs))").as("avg_tokens_centi"),
        col("n_sources"))
      .orderBy("lang")

  /** T2: per-document quality features + a composite score — length,
    * stopword ratio, type-token ratio, regex token count (the BPE-ish
    * word tokenizer), average token length. Pure per-row map.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val w = Kernels.tokens(col("text"))
    // All features are small rationals (k/n with n ≤ ~100), which land
    // EXACTLY on .00005 rounding boundaries where Spark (BigDecimal
    // HALF_UP on the exact binary value) and DuckDB (float-multiply
    // round) disagree by one final-digit ulp. So every ratio is emitted
    // as integer BASIS POINTS computed with pure int64 arithmetic —
    // round-half-up(10000·k/n) = (20000k + n) div (2n) — identical in
    // both engines by construction, no floating rounding anywhere.
    docs(spark, dir)
      .withColumn("n", size(w))
      .withColumn("k", size(filter(w, t => t.isin(StopWords: _*))))
      .withColumn("d", size(array_distinct(w)))
      .withColumn("c", length(regexp_replace(col("text"), " ", "")))
      .withColumn("n_regex_tokens", size(expr("regexp_extract_all(text, '[a-z]+', 0)")))
      // quality = 0.4·min(50,n)/50 + 0.3·(n−k)/n + 0.3·d/n
      //         = (2·min(50,n)·n + 75·(n−k) + 75·d) / (250·n)
      .withColumn("qnum",
        lit(2) * least(lit(50), col("n")) * col("n") +
          lit(75) * (col("n") - col("k")) + lit(75) * col("d"))
      .select(
        col("doc_id"),
        col("n").as("n_tokens"),
        col("n_regex_tokens"),
        expr("int((20000 * k + n) div (2 * n))").as("stop_ratio_bp"),
        expr("int((20000 * d + n) div (2 * n))").as("ttr_bp"),
        expr("int((20000 * c + n) div (2 * n))").as("avg_token_len_bp"),
        expr("int((20000 * qnum + 250 * n) div (500 * n))").as("quality_bp"))
      .orderBy("doc_id")
  }

  /** T3: heuristic language ID. Markers = the top-5 most frequent tokens
    * per language in the corpus itself (rank by count desc, token asc);
    * a document's predicted language is the marker-language with the most
    * token hits (multiplicity counted, ties broken by language asc,
    * no hits → 'unknown'). Output: per actual language, how many docs the
    * heuristic got right. The marker table is tiny and broadcast.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // ONE tokenize+explode pass (r18, guide §2.4 — the t9/t10 one-pass
    // factoring's last instance): the marker fit consumed (lang, t) and
    // the scoring leg (doc_id, t), each re-running the whole
    // tokenization. Exploding once with BOTH columns and persisting
    // per call (registry above, latest-wins) lets each leg
    // column-prune the cached relation instead; every aggregate below
    // is expression-identical, so the result is bit-equal.
    val tok3 = tokenPersists.register(spark,
      d.select(col("doc_id"), col("lang"), explode(Kernels.tokens(col("text"))).as("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tok = tok3.select(col("lang"), col("t"))
    val markers = tok.groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("t").asc)))
      .filter(col("rnk") <= 5)
      .select(col("lang").as("marker_lang"), col("t"))

    val dtok = tok3.select(col("doc_id"), col("t"))
    val hits = dtok.join(broadcast(markers), "t")
      .groupBy("doc_id", "marker_lang").agg(count(lit(1)).as("hits"))
    val pred = hits.withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("hits").desc, col("marker_lang").asc)))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("marker_lang").as("predicted"))

    d.join(pred, Seq("doc_id"), "left")
      .withColumn("predicted", coalesce(col("predicted"), lit("unknown")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      .orderBy("lang")
  }

  /** T4: 31-bit rolling polynomial fingerprint over the token hash
    * sequence (order-sensitive, unlike the shingle-set operators):
    * `acc = (acc*131 + h60(token) % 1000003) % (2^31−1)` folded left.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("fp", aggregate(
        transform(Kernels.h60Array(Kernels.tokens(col("text"))), h => h % 1000003L),
        lit(0L),
        (acc, x) => (acc * 131L + x) % 2147483647L))
      .orderBy("doc_id")
      .select("doc_id", "fp")

  /** T5: distribution statistics — exact interpolated percentiles of
    * document length per language (Spark `percentile` and DuckDB
    * `quantile_cont` share the (n−1)·p linear-interpolation definition).
    */
  def lengthPercentiles(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        round(expr("percentile(n_chars, 0.99)"), 4).as("p99"),
        round(stddev_samp(col("n_chars")), 4).as("sd"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang")

  /** Per-doc top-token share (basis points) above which a document is
    * flagged repetitive — the Gopher-family "most frequent word fraction"
    * rule (fixture p90 ≈ 1400 bp, so the flag separates real mass).
    */
  val RepetitiveTopTokenBp = 1200

  /** T7: repetition-based quality filtering (the Gopher/C4 rule family
    * adapted to the whitespace corpus): per document, the most-frequent-
    * token share and the share of tokens belonging to repeated types;
    * per language, how many documents breach [[RepetitiveTopTokenBp]]
    * plus corpus-level means. All ratios are exact-int64 basis points
    * (see [[qualityScore]]).
    *
    * Scale shape: explode → groupBy(doc_id, token) enjoys map-side
    * combine WITHOUT a shuffle of raw tokens (a document's tokens all
    * sit in one input partition, so partial aggregation collapses them
    * locally; only per-(doc,token) counts shuffle), then two more
    * hash-aggregations each a projection smaller than the last.
    */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val cnt = docs(spark, dir)
      .select(col("doc_id"), col("lang"), explode(Kernels.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "lang", "t").agg(count(lit(1)).as("c"))
    val perDoc = cnt.groupBy("doc_id", "lang")
      .agg(sum("c").as("n"), max("c").as("mx"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
      .withColumn("top_tok_bp", expr("(20000 * mx + n) div (2 * n)"))
      .withColumn("repetitive",
        (col("top_tok_bp") >= RepetitiveTopTokenBp).cast("long"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("repetitive").as("n_repetitive"),
        sum("top_tok_bp").as("sbp"), sum("dup").as("dups"), sum("n").as("toks"))
      .select(col("lang"), col("n_docs"), col("n_repetitive"),
        expr("(2 * sbp + n_docs) div (2 * n_docs)").as("avg_top_tok_bp"),
        expr("(20000 * dups + toks) div (2 * toks)").as("dup_token_share_bp"))
      .orderBy("lang")
  }

  // PII patterns shared by the operator and its oracle: no backslashes
  // (Spark SQL string literals eat them; `[.]` is the portable literal
  // dot) and no constructs where Java-regex and RE2 semantics differ.
  private val EmailPat = "[a-z0-9]+@[a-z]+[.][a-z]+"
  private val IpPat = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
  private val PhonePat = "[0-9]{3}-[0-9]{4}"

  /** T8: PII redaction — regex scrubbing of emails, IPv4s and phone
    * numbers into typed placeholder tokens, the standard pre-training
    * privacy pass. The synthetic fixture vocabulary contains no PII, so
    * spans are INJECTED deterministically from doc_id (the same
    * fixture-augmentation technique as v5's near-dup clones) and the
    * oracle mirrors the injection exactly; the redacted text itself is
    * pinned by md5, not just counted. Redaction order (email → ip →
    * phone) matters — placeholders must not re-match later patterns —
    * and is identical in both engines. Pure per-row map: no shuffle, no
    * UDF (regexp_* are codegen'd builtins), embarrassingly parallel at
    * any corpus size.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val m3 = pmod(col("doc_id"), lit(3))
    val injected = concat(col("text"),
      when(m3 === 0, concat(
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 192.168."),
        pmod(col("doc_id"), lit(100)).cast("string"), lit(".7")))
      .when(m3 === 1, concat(
        lit(" call 555-"),
        lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
        lit(" today")))
      .otherwise(concat(
        lit(" host 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(7)).cast("string"), lit(" up"))))
    docs(spark, dir)
      .withColumn("t0", injected)
      .withColumn("n_email", size(expr(s"regexp_extract_all(t0, '$EmailPat', 0)")))
      .withColumn("t1", regexp_replace(col("t0"), EmailPat, "<EMAIL>"))
      .withColumn("n_ip", size(expr(s"regexp_extract_all(t1, '$IpPat', 0)")))
      .withColumn("t2", regexp_replace(col("t1"), IpPat, "<IP>"))
      .withColumn("n_phone", size(expr(s"regexp_extract_all(t2, '$PhonePat', 0)")))
      .withColumn("t3", regexp_replace(col("t2"), PhonePat, "<PHONE>"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        length(col("t3")).as("redacted_len"),
        md5(col("t3").cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Vocabulary size for the t9 unigram LM — top-V tokens by corpus
    * frequency (count desc, token asc: a total order, so the cut is
    * deterministic in both engines). V bounds the broadcast side of the
    * scoring join BY CONSTRUCTION — unlike a df-threshold, the relation
    * can never exceed V rows no matter the corpus.
    */
  private[graft] val UnigramVocab = 4096

  /** T9: unigram-LM negative-log-likelihood scoring — the CCNet-class
    * "perplexity filter" (score each document under a language model;
    * drop the worst tail), with the KenLM stand-in being a corpus-fit
    * unigram model: p(w) = count(w)/T over the top-[[UnigramVocab]]
    * vocabulary, OOV floored at 1/T. Per-token cost is quantized to
    * integer MICRO-NATS (`round(1e6 · ln(T/c))`) before summing, so the
    * per-document sum is int64 and summation-order-independent — the
    * same exactness discipline as the basis-point ratios above (a float
    * Σln would disagree with the oracle in the last ulp depending on
    * add order). Output per document: token count, total and average
    * NLL in micro-nats (higher = more surprising = lower quality).
    *
    * Scale (100 TB): token counting is one explode + hash-agg with
    * map-side combine; the vocab cut is a TakeOrdered (top-V per
    * partition → V·P merge, never a global sort); scoring is a
    * BROADCAST left join (≤ V rows by construction) + one per-doc
    * hash-agg. The corpus-total T is one scalar aggregate. Nothing
    * shuffles on the token key except the bounded count relation.
    */
  def unigramNll(spark: SparkSession, dir: String): DataFrame =
    unigramNllOver(docs(spark, dir), UnigramVocab)

  /** Unigram model inputs: corpus token total T and the top-`vocab`
    * (w, c) rows. Exposed for the rounding-boundary sweep
    * (NllBoundarySpec): every per-token cost t9 quantizes is
    * `round(1e6·ln(T/c))` for c drawn from these counts (or the OOV
    * floor c=1), so this pair enumerates the quantizer's full input
    * domain.
    */
  private[graft] def unigramModel(relation: DataFrame,
                                  vocab: Int): (Long, Array[(String, Long)]) = {
    // ONE corpus pass materializes the count relation; the total and
    // the vocab cut both read the persisted copy (without the persist
    // each scalar/limit would re-tokenize the corpus), and both are
    // collected eagerly — the vocab is ≤ V rows BY CONSTRUCTION, the
    // total is one row — so the persist can be released immediately.
    val counts = relation
      .select(explode(Kernels.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = math.max(1L,
      counts.agg(sum("c")).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L))
    val vocRows = counts.orderBy(col("c").desc, col("w").asc).limit(vocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    counts.unpersist()
    (total, vocRows)
  }

  /** Quantized per-token cost column: `round(1e6·ln(T/c))` as int64 —
    * the single expression both NLL scorers evaluate, kept in one place
    * so the precomputed-vocab path (r17 optimization) provably runs THE
    * SAME Spark expression the per-token path did, just over the ≤V-row
    * vocab relation (plus once for the OOV constant) instead of per
    * corpus token.
    */
  private def uniCostExpr(total: Long, cCol: org.apache.spark.sql.Column) =
    round(lit(1000000.0) * log(lit(total.toDouble) / cCol), 0).cast("long")

  /** The OOV cost constant `round(1e6·ln(T/1))`, evaluated THROUGH the
    * same Spark expression (a 1-row local plan) rather than driver-side
    * math — bit-identical to what the per-token expression produced for
    * an OOV token by construction.
    */
  private def oovCost(spark: SparkSession, total: Long): Long =
    spark.range(1).select(uniCostExpr(total, lit(1L))).head().getLong(0)

  private[graft] def unigramNllOver(relation: DataFrame, vocab: Int): DataFrame = {
    val spark = relation.sparkSession
    import spark.implicits._
    val toks = relation.select(col("doc_id"),
      explode(Kernels.tokens(col("text"))).as("w"))
    val (total, vocRows) = unigramModel(relation, vocab)
    // single-partition RDD-backed, matching the t10 vocab relations.
    // The per-token cost is PRECOMPUTED over the ≤V vocab rows (same
    // expression, same (T, c) inputs → identical int64 values), so the
    // corpus-sized scoring pass does a broadcast lookup + coalesce with
    // no ln/round per token (guide §1.2 step 2: per-task work).
    val voc = spark.createDataset(
      spark.sparkContext.parallelize(vocRows.toSeq, 1)).toDF("w", "c")
      .select(col("w"), uniCostExpr(total, col("c")).as("u"))
    val uOov = oovCost(spark, total)
    toks.join(broadcast(voc), Seq("w"), "left")
      .withColumn("u", coalesce(col("u"), lit(uOov)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("u").as("nll_micro"))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"),
        expr("(2 * nll_micro + n_tokens) div (2 * n_tokens)").as("avg_nll_micro"))
      .orderBy("doc_id")
  }

  /** T10: bigram-LM NLL with unigram backoff — the CCNet filter's
    * actual shape one order up from [[unigramNll]]: position 1 costs
    * the unigram −ln(c(w₁)/T); positions i ≥ 2 cost the conditional
    * −ln(c(wᵢ₋₁wᵢ)/c(wᵢ₋₁)) when the bigram is in the top-V bigram
    * vocabulary, else BACK OFF to the unigram cost of wᵢ. Same integer
    * micro-nat quantization as t9 (order-independent exact sums); the
    * bigram rows carry their conditional cost PRECOMPUTED at vocab
    * construction (a join of the two count AGGREGATES, never of corpus
    * rows), so scoring is two bounded broadcast joins — ≤V bigram rows
    * and ≤V unigram rows BY CONSTRUCTION — against the per-position
    * relation. OOV unigrams floor at 1/T, exactly as t9.
    */
  def bigramNll(spark: SparkSession, dir: String): DataFrame =
    bigramNllOver(docs(spark, dir), UnigramVocab)

  /** Bigram-model vocab row: the conditional cost `bu =
    * round(1e6·ln(c1/c2))` is the value scoring uses; c1/c2 ride along
    * so the rounding-boundary sweep (NllBoundarySpec) can audit every
    * ratio the quantizer saw.
    */
  private[graft] case class BigramVocabRow(w1: String, w2: String,
                                           c2: Long, c1: Long, bu: Long)

  /** Bigram model inputs: (T, top-V unigram (w, c), top-V bigram vocab
    * rows with counts and precomputed conditional cost). The bigram
    * rows come from a join of the two count AGGREGATES, never of
    * corpus rows.
    */
  private[graft] def bigramModel(relation: DataFrame, vocab: Int)
      : (Long, Array[(String, Long)], Array[BigramVocabRow]) = {
    val pos = bigramPositions(relation)
    // ONE corpus pass (r17 optimization; the old form tokenized the
    // corpus once for the unigram counts and AGAIN for the bigram
    // counts): aggregate (w1, w2) pair counts INCLUDING the null-w2
    // last-position rows, then derive the unigram counts from that
    // bounded aggregate — every position row carries exactly one w1, so
    // c(w1) = Σ_w2 c(w1, w2) over the persisted pair relation.
    val pairCounts = pos.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uniCounts = pairCounts.groupBy(col("w1").as("w"))
      .agg(sum("c2").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = math.max(1L,
      uniCounts.agg(sum("c")).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L))
    val uniVoc = uniCounts.orderBy(col("c").desc, col("w").asc).limit(vocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val biVoc = pairCounts.filter(col("w2").isNotNull)
      .join(uniCounts.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
      .withColumn("bu",
        round(lit(1000000.0) * log(col("c1").cast("double") / col("c2")), 0).cast("long"))
      .orderBy(col("c2").desc, col("w1").asc, col("w2").asc).limit(vocab)
      .select("w1", "w2", "c2", "c1", "bu").collect()
      .map(r => BigramVocabRow(r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    pairCounts.unpersist()
    uniCounts.unpersist()
    (total, uniVoc, biVoc)
  }

  /** One position row per token: (doc_id, i, w1, w2?) with w2 the
    * successor (null at the last position).
    */
  private def bigramPositions(relation: DataFrame): DataFrame =
    // No row-level size filter (r17): `split` never returns an empty
    // array for a non-null string (size ≥ 1 always holds), and a null
    // text yields sequence(1, null) = null, which explode skips — the
    // same zero rows the filter produced. The filter's only effect was
    // predicate pushdown re-evaluating the split per row (guide §4.4's
    // duplicated-evaluation trap).
    relation.select(col("doc_id"), Kernels.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")))).as("i"),
        col("w"))
      .select(col("doc_id"), col("i"),
        element_at(col("w"), col("i")).as("w1"),
        when(col("i") < size(col("w")), element_at(col("w"), col("i") + 1))
          .as("w2"))

  private[graft] def bigramNllOver(relation: DataFrame, vocab: Int): DataFrame = {
    val spark = relation.sparkSession
    import spark.implicits._
    val pos = bigramPositions(relation)
    val (total, uniVoc, biVoc) = bigramModel(relation, vocab)
    // single-partition RDD-backed relations, NOT LocalRelations: an ABBA
    // probe measured the LocalRelation form ~1.26x slower end-to-end —
    // Catalyst re-evaluates an inlined 4096-row LocalRelation's rows per
    // planning pass where the RDD form stays opaque
    // The unigram vocab rows carry their cost PRECOMPUTED (same Spark
    // expression over the same (T, c) inputs the per-token form
    // evaluated — identical int64 values; see [[uniCostExpr]]), so the
    // corpus-sized scoring pass below does broadcast lookups and
    // coalesces with no ln/round per position row.
    val uniDf = spark.createDataset(
      spark.sparkContext.parallelize(uniVoc.toSeq, 1)).toDF("w", "c")
      .select(col("w"), uniCostExpr(total, col("c")).as("u"))
    val biDf = spark.createDataset(
      spark.sparkContext.parallelize(biVoc.toSeq.map(b => (b.w1, b.w2, b.bu)), 1))
      .toDF("w1", "w2", "bu")
    val uOov = oovCost(spark, total)
    // Each position row carries its own cost contribution: the i=1 row
    // emits the head token's unigram cost; every row with a successor
    // emits that successor's bigram (or backoff-unigram) cost. Summing
    // per doc therefore covers position 1 once and positions 2..n once.
    val costed = pos
      .join(broadcast(biDf), Seq("w1", "w2"), "left")
      .join(broadcast(uniDf.withColumnRenamed("w", "w2").withColumnRenamed("u", "u_w2")),
        Seq("w2"), "left")
      .join(broadcast(uniDf.withColumnRenamed("w", "w1").withColumnRenamed("u", "u_w1")),
        Seq("w1"), "left")
      .withColumn("u_head",
        when(col("i") === 1, coalesce(col("u_w1"), lit(uOov))).otherwise(lit(0L)))
      .withColumn("u_next",
        when(col("w2").isNull, lit(0L))
          .when(col("bu").isNotNull, col("bu"))
          .otherwise(coalesce(col("u_w2"), lit(uOov))))
    costed.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("u_head") + col("u_next")).as("nll_micro"))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"),
        expr("(2 * nll_micro + n_tokens) div (2 * n_tokens)").as("avg_nll_micro"))
      .orderBy("doc_id")
  }

  /** T11 thresholds: a document is LOW-quality below
    * [[SourceLowQualityBp]] composite basis points; a source is KEPT
    * when its average composite stays at or above
    * [[SourceKeepMinAvgBp]] AND its low-quality document share stays at
    * or below [[SourceKeepMaxLowShareBp]] — the RefinedWeb/C4-style
    * source-level gate (chosen to split the fixture's 20 sources
    * nontrivially at every SF: 9/9/6 kept).
    */
  private[graft] val SourceLowQualityBp = 7000
  private[graft] val SourceKeepMinAvgBp = 7600L
  private[graft] val SourceKeepMaxLowShareBp = 2000L

  /** T11: per-source (domain-level) quality aggregation — the
    * RefinedWeb/C4-style SOURCE filter: per-document t2 composite
    * scores aggregate per source into exact basis-point statistics and
    * a keep/drop decision, the table a corpus build joins to drop whole
    * domains (and the quality-conditioned input p8's mixture stage
    * would consume). Same int64 discipline as t2: means are
    * round-half-up via `(2·sum+n) div (2n)`, shares via
    * `(20000·k+n) div (2n)` — no floating point anywhere.
    *
    * Scale (100 TB): the per-document features are a pure per-row map;
    * the aggregation is ONE hash-agg keyed by source with map-side
    * combine — domains are hot keys by construction (a crawl is
    * Zipf-distributed over domains), which is exactly the shape
    * partial aggregation absorbs: each task emits one row per domain
    * it saw, and only the O(domains) combined rows shuffle.
    */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame =
    sourceQualityOver(docs(spark, dir))

  private[graft] def sourceQualityOver(relation: DataFrame): DataFrame = {
    val w = Kernels.tokens(col("text"))
    val perDoc = relation
      .withColumn("n", size(w))
      .withColumn("k", size(filter(w, t => t.isin(StopWords: _*))))
      .withColumn("d", size(array_distinct(w)))
      // int64 throughout: a 10^5-token document would overflow the
      // int32 products t2's fixture-bounded form tolerates
      .withColumn("qnum",
        lit(2L) * least(lit(50L), col("n")) * col("n") +
          lit(75L) * (col("n") - col("k")) + lit(75L) * col("d"))
      .withColumn("q",
        expr("(20000 * qnum + 250 * cast(n as bigint)) div (500 * cast(n as bigint))"))
      .select(col("source"), col("n").cast("long").as("n"), col("q"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("tok_sum"),
        sum("q").as("qsum"),
        sum(when(col("q") < SourceLowQualityBp, 1L).otherwise(0L)).as("n_low"))
      .select(col("source"), col("n_docs"), col("tok_sum"),
        expr("(2 * qsum + n_docs) div (2 * n_docs)").as("avg_quality_bp"),
        expr("(20000 * n_low + n_docs) div (2 * n_docs)").as("low_share_bp"))
      .withColumn("keep",
        col("avg_quality_bp") >= SourceKeepMinAvgBp &&
          col("low_share_bp") <= SourceKeepMaxLowShareBp)
      .orderBy("source")
  }

  val oracles: Map[String, String] = Map(
    "t11_source_quality" ->
      s"""WITH f AS (
        |  SELECT source,
        |    len(string_split(text, ' ')) n,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the','a'))) k,
        |    len(list_distinct(string_split(text, ' '))) d
        |  FROM documents),
        |g AS (SELECT f.*,
        |        2 * least(50, n) * n + 75 * (n - k) + 75 * d AS qnum FROM f),
        |h AS (SELECT source, n,
        |        ((20000 * qnum + 250 * n) // (500 * n))::BIGINT AS q FROM g),
        |s AS (SELECT source, count(*) AS n_docs, sum(n)::BIGINT AS tok_sum,
        |        ((2 * sum(q) + count(*)) // (2 * count(*)))::BIGINT AS avg_quality_bp,
        |        ((20000 * sum(CASE WHEN q < $SourceLowQualityBp THEN 1 ELSE 0 END)
        |          + count(*)) // (2 * count(*)))::BIGINT AS low_share_bp
        |      FROM h GROUP BY source)
        |SELECT source, n_docs, tok_sum, avg_quality_bp, low_share_bp,
        |  (avg_quality_bp >= $SourceKeepMinAvgBp AND
        |   low_share_bp <= $SourceKeepMaxLowShareBp) AS keep
        |FROM s ORDER BY source""".stripMargin,

    "t10_bigram_nll" ->
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos0 AS (
        |  SELECT doc_id,
        |    [{'i': i, 'w1': w[i], 'w2': CASE WHEN i < len(w) THEN w[i+1] END}
        |     for i in range(1, len(w) + 1)] AS ps
        |  FROM tok),
        |pos AS (
        |  SELECT doc_id, u.p.i AS i, u.p.w1 AS w1, u.p.w2 AS w2
        |  FROM pos0, unnest(pos0.ps) u(p)),
        |tot AS (SELECT count(*)::DOUBLE t FROM pos),
        |uni AS (SELECT w1 AS w, count(*) c FROM pos GROUP BY w1),
        |univoc AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT $UnigramVocab),
        |bivoc AS (
        |  SELECT b.w1, b.w2,
        |    round(1000000 * ln(u.c::DOUBLE / b.c2))::BIGINT AS bu
        |  FROM (SELECT w1, w2, count(*) c2 FROM pos WHERE w2 IS NOT NULL
        |        GROUP BY w1, w2) b
        |  JOIN uni u ON u.w = b.w1
        |  ORDER BY b.c2 DESC, b.w1, b.w2 LIMIT $UnigramVocab),
        |costed AS (
        |  SELECT pos.doc_id,
        |    CASE WHEN pos.i = 1 THEN
        |      round(1000000 * ln((SELECT t FROM tot) / coalesce(u1.c, 1)))::BIGINT
        |    ELSE 0 END AS u_head,
        |    CASE WHEN pos.w2 IS NULL THEN 0
        |         WHEN bv.bu IS NOT NULL THEN bv.bu
        |         ELSE round(1000000 * ln((SELECT t FROM tot) / coalesce(u2.c, 1)))::BIGINT
        |    END AS u_next
        |  FROM pos
        |  LEFT JOIN bivoc bv ON bv.w1 = pos.w1 AND bv.w2 = pos.w2
        |  LEFT JOIN univoc u2 ON u2.w = pos.w2
        |  LEFT JOIN univoc u1 ON u1.w = pos.w1)
        |SELECT doc_id, count(*) AS n_tokens, sum(u_head + u_next)::BIGINT AS nll_micro,
        |  ((2 * sum(u_head + u_next) + count(*)) // (2 * count(*)))::BIGINT AS avg_nll_micro
        |FROM costed GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t9_unigram_nll" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tot AS (SELECT count(*)::DOUBLE t FROM tok),
        |cnt AS (SELECT w, count(*) c FROM tok GROUP BY w),
        |voc AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT $UnigramVocab),
        |costed AS (
        |  SELECT tok.doc_id,
        |    round(1000000 * ln((SELECT t FROM tot) / coalesce(voc.c, 1)))::BIGINT AS u
        |  FROM tok LEFT JOIN voc USING (w))
        |SELECT doc_id, count(*) AS n_tokens, sum(u)::BIGINT AS nll_micro,
        |  ((2 * sum(u) + count(*)) // (2 * count(*)))::BIGINT AS avg_nll_micro
        |FROM costed GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t5_length_percentiles" ->
      """SELECT lang,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99,
        |  round(stddev_samp(n_chars), 4) AS sd,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "t1_lang_profile" ->
      """SELECT lang, count(*) AS n_docs,
        |  ((200 * sum(n_chars) + count(*)) // (2 * count(*)))::INT AS avg_chars_centi,
        |  ((200 * sum(len(string_split(text, ' '))) + count(*)) // (2 * count(*)))::INT AS avg_tokens_centi,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "t2_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) n,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the','a'))) k,
        |    len(list_distinct(string_split(text, ' '))) d,
        |    length(replace(text, ' ', '')) c,
        |    len(regexp_extract_all(text, '[a-z]+')) n_regex_tokens
        |  FROM documents),
        |g AS (
        |  SELECT f.*, 2 * least(50, n) * n + 75 * (n - k) + 75 * d AS qnum FROM f)
        |SELECT doc_id, n::INT AS n_tokens, n_regex_tokens::INT AS n_regex_tokens,
        |  ((20000 * k + n) // (2 * n))::INT AS stop_ratio_bp,
        |  ((20000 * d + n) // (2 * n))::INT AS ttr_bp,
        |  ((20000 * c + n) // (2 * n))::INT AS avg_token_len_bp,
        |  ((20000 * qnum + 250 * n) // (500 * n))::INT AS quality_bp
        |FROM g ORDER BY doc_id""".stripMargin,

    "t3_lang_id" ->
      """WITH tok AS (
        |  SELECT lang, u.t FROM documents, unnest(string_split(text,' ')) u(t)),
        |markers AS (
        |  SELECT lang AS marker_lang, t FROM (
        |    SELECT lang, t, count(*) c,
        |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, t ASC) rnk
        |    FROM tok GROUP BY lang, t) WHERE rnk <= 5),
        |dtok AS (
        |  SELECT doc_id, u.t FROM documents, unnest(string_split(text,' ')) u(t)),
        |hits AS (
        |  SELECT doc_id, marker_lang, count(*) hits
        |  FROM dtok JOIN markers USING (t) GROUP BY doc_id, marker_lang),
        |pred AS (
        |  SELECT doc_id, marker_lang AS predicted FROM (
        |    SELECT doc_id, marker_lang, hits,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, marker_lang ASC) rnk
        |    FROM hits) WHERE rnk = 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  sum(CASE WHEN coalesce(p.predicted, 'unknown') = d.lang THEN 1 ELSE 0 END)::BIGINT AS n_correct
        |FROM documents d LEFT JOIN pred p USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "t7_repetition" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, u.t FROM documents, unnest(string_split(text,' ')) u(t)),
         |cnt AS (SELECT doc_id, lang, t, count(*) c FROM tok GROUP BY doc_id, lang, t),
         |doc AS (
         |  SELECT doc_id, lang, sum(c) n, max(c) mx,
         |    coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) dup
         |  FROM cnt GROUP BY doc_id, lang),
         |feat AS (
         |  SELECT lang, (20000 * mx + n) // (2 * n) AS top_tok_bp, dup, n,
         |    CASE WHEN (20000 * mx + n) // (2 * n) >= $RepetitiveTopTokenBp
         |         THEN 1 ELSE 0 END AS repetitive
         |  FROM doc)
         |SELECT lang, count(*) AS n_docs,
         |  sum(repetitive)::BIGINT AS n_repetitive,
         |  ((2 * sum(top_tok_bp) + count(*)) // (2 * count(*)))::BIGINT AS avg_top_tok_bp,
         |  ((20000 * sum(dup) + sum(n)) // (2 * sum(n)))::BIGINT AS dup_token_share_bp
         |FROM feat GROUP BY lang ORDER BY lang""".stripMargin,

    "t8_pii_redact" ->
      s"""WITH inj AS (
         |  SELECT doc_id, text || CASE
         |    WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR
         |      || '@example.com from 192.168.' || (doc_id % 100)::VARCHAR || '.7'
         |    WHEN doc_id % 3 = 1 THEN ' call 555-'
         |      || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') || ' today'
         |    ELSE ' host 10.' || (doc_id % 256)::VARCHAR
         |      || '.0.' || (doc_id % 7)::VARCHAR || ' up'
         |  END AS t0
         |  FROM documents),
         |r1 AS (SELECT doc_id,
         |  len(regexp_extract_all(t0, '$EmailPat')) n_email,
         |  regexp_replace(t0, '$EmailPat', '<EMAIL>', 'g') t1 FROM inj),
         |r2 AS (SELECT doc_id, n_email,
         |  len(regexp_extract_all(t1, '$IpPat')) n_ip,
         |  regexp_replace(t1, '$IpPat', '<IP>', 'g') t2 FROM r1),
         |r3 AS (SELECT doc_id, n_email, n_ip,
         |  len(regexp_extract_all(t2, '$PhonePat')) n_phone,
         |  regexp_replace(t2, '$PhonePat', '<PHONE>', 'g') t3 FROM r2)
         |SELECT doc_id, n_email::INT AS n_email, n_phone::INT AS n_phone,
         |  n_ip::INT AS n_ip, length(t3)::INT AS redacted_len,
         |  md5(t3) AS redacted_md5
         |FROM r3 ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ' '),
        |        t -> cast(concat('0x', substr(md5(t), 1, 15)) as bigint) % 1000003)),
        |    (acc, x) -> (acc * 131 + x) % 2147483647) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
