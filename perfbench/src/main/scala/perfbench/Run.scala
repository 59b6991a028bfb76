package perfbench

import graft.db.VectorDB
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Sizes and phase order of one run, fixed per workload.
  * `searchAfterChurn` runs the churn phase before the search phases and
  * turns the background absorb off, so the searches read the chain the
  * churn built rather than a flat tier.
  */
final case class Plan(
    searchAfterChurn: Boolean,
    docs: Int = 5000,
    setupReps: Int = 2,
    checkedQueries: Int = 1,
    queryPool: Int = 64,
    warmSearches: Int = 20,
    singleMin: Int = 100,
    c4PerClient: Int = 5,
    filteredSearches: Int = 100,
    batchReps: Int = 2,
    churnCycles: Int = 3,
    steadySearches: Int = 3,
    fixtureScale: Double = 0.01,
    overheadSearches: Int = 100) {
  /** Rows upserted per churn cycle: 2% of the corpus, a tenth of them
    * updates of live ids.
    */
  def upsertRows: Int = docs / 50
  def updateRows: Int = upsertRows / 10
  /** Ids removed per churn cycle: 0.2% of the corpus. */
  def removeRows: Int = docs / 500
}

object Plan {
  def of(workload: String): Plan = workload match {
    case "flat" => Plan(searchAfterChurn = false)
    case "chain" => Plan(searchAfterChurn = true)
  }

  /** The throwaway run that writes the class-data-sharing archive:
    * every phase once, at token sizes.
    */
  val CdsDump: Plan = Plan(searchAfterChurn = false, docs = 1000, setupReps = 1,
    warmSearches = 2, singleMin = 4,
    c4PerClient = 2, filteredSearches = 2, batchReps = 1, churnCycles = 1, steadySearches = 1,
    overheadSearches = 2)
}

/** One benchmark run: set-up, the measured phases in a fixed order, and
  * the correctness checks that ride along. Phases:
  *
  *  - set-up, `setupReps` times: bulk-ingest the corpus into a fresh
  *    merge-on-read DB with incremental serving and build the serving
  *    tier; the median is reported. An untimed set-up at a fifth of the
  *    corpus runs first and pays the process's code generation and JIT
  *    warm-up;
  *  - `batch`: an untimed warm-up of the batch queries, all side by
  *    side and beside the untimed set-up, then `batchReps` timed passes
  *    in the odd rounds below; every result is collected in full and its
  *    digest checked;
  *  - four rounds of: `search` (one client, `searchHits(k = 10)`), then
  *    `search_c4` (four closed-loop clients; the throughput is the
  *    median of the rounds); round 2 adds `filtered` (one client, a
  *    catalog selector on a 10% predicate), rounds 1 and 3 a timed batch
  *    pass. In the `flat` order the first query's served top-10
  *    is checked against an unserved instance on the same folder;
  *  - `churn`: `churnCycles` cycles of upsert, visibility probe,
  *    delete, steady searches.
  *
  * The `flat` order is the rounds, then churn: the churn runs last
  * because its commits start the background absorb, which would
  * otherwise overlap the other timings. The `chain` order is churn
  * (absorb off), then the rounds. Both end with, in traced runs, one
  * compaction, then the live-count check.
  *
  * Every public call is timed from outside; in a traced run it is also
  * recorded as a span.
  */
final class Run(spark: SparkSession, plan: Plan, corpus: Corpus, seed: Long, workDir: String,
                fixtureDir: String, seconds: Int, val ledger: Ledger,
                val spans: Option[SpanRecorder]) {

  private val rng = new scala.util.Random(seed)
  private val tracing = spans.isDefined
  private var recording = tracing
  private def span[T](name: String)(f: => T): T =
    spans match {
      case Some(r) if recording => r.record(name)(f)
      case _ => f
    }

  private val sampled = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def add(name: String, v: Double): Unit = synchronized {
    sampled.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  /** Measured values, by name. */
  def samples: Report.Samples = synchronized(sampled.map { case (k, v) => k -> v.toSeq })
  val gauges: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  private val emb = corpus.embedder
  // Generator ids at or above this are never ingested: query vectors.
  private val queryBase = 1L << 40
  private val queries: IndexedSeq[Seq[Double]] = {
    (0 until plan.queryPool).map(i => corpus.vector(queryBase + seed * 1000 + i))
  }
  private def query(i: Int): Seq[Double] = queries(i % queries.size)

  var db: VectorDB = _
  private var dbDir: String = _
  private var live = mutable.LinkedHashSet.empty[Long]
  private val removed = mutable.HashSet.empty[Long]
  private var nextDocId = 0L
  private var nextGenId = 0L
  /** Digest of every batch query's result. */
  val digests: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  private var expectedDigests: Map[String, String] = Map.empty

  private def now(): Double = System.nanoTime() / 1e9
  private val born = now()
  /** Progress on stderr: phase boundaries with seconds since start. */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${now() - born}%7.2fs] $msg")

  // ---- set-up -------------------------------------------------------

  def setup(expected: Map[String, String]): Unit = {
    expectedDigests = expected
    // The untimed warm-ups run side by side: the batch queries' and the
    // vector set-up's code generation and JIT are independent, and none
    // of them is measured.
    val warmups = batchWarmup()
    setupVectors(plan.docs / 5, timed = false)
    Await.result(warmups, Duration.Inf)
    val vectorSetup = (1 to plan.setupReps).map(_ => setupVectors(plan.docs, timed = true))
    // Heap held by the serving tier and the DB's caches, with no
    // listener events still queued.
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    gauges("resident_mb") = settledHeapMb()
    gauges("serve.blocks") = db.servingInfo().blocks
    add("setup_s", Stats.median(vectorSetup))
    // The rate of the median ingest, so that with two set-ups it comes
    // from the same (faster) one as setup_s.
    gauges("ingest_docs_per_s") = plan.docs / Stats.median(samples("ingest_s"))
  }

  /** One vector set-up of `docs` documents; returns its seconds. The
    * last one is kept. An untimed one records no samples and no spans.
    */
  private def setupVectors(docs: Int, timed: Boolean): Double = {
    if (db != null) { db.disableServing(); deleteTree(new File(dbDir)) }
    dbDir = s"$workDir/db-${System.nanoTime()}"
    val t0 = now()
    db = VectorDB.openOrCreate(spark, dbDir, model = "perfbench-synth", dim = corpus.dim,
      storage = VectorDB.StorageMor)
    if (plan.searchAfterChurn) db.incrementalServing(absorbDepth = 0)
    else db.incrementalServing()
    def op[T](name: String)(f: => T): Option[(Double, T)] =
      if (timed) ledger.timed(name)(span(name)(f))()
      else ledger.timed(s"${name}_warmup")(f)()
    op("ingest")(db.addDocuments(corpus.range(spark, docs, 4), emb)).foreach { case (ms, _) =>
      if (timed) add("ingest_s", ms / 1000.0)
      log(f"ingest ${ms / 1000}%.2fs")
    }
    op("serve_build")(db.enableServing()).foreach { case (ms, _) =>
      if (timed) add("serve.build_ms", ms)
      log(f"serve build ${ms / 1000}%.2fs")
    }
    // Warm the served path: the first searches compile and load blocks.
    (0 until 5).foreach(i => db.searchHits(query(i), k = 10))
    live = mutable.LinkedHashSet.from(0L until docs.toLong)
    nextDocId = docs.toLong
    nextGenId = docs.toLong
    val secs = now() - t0
    log(f"vector set-up done ($secs%.1fs)")
    secs
  }

  /** JVM heap used after full GCs, read every 250 ms until two readings
    * agree within 1 MB (at most 8 readings): the replaced set-ups'
    * blocks and plans are released asynchronously, and a reading taken
    * right after set-up caught a varying share of them.
    */
  private def settledHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = {
      System.gc(); System.gc()
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    var prev = used()
    var cur = prev
    var readings = 1
    do {
      Thread.sleep(250)
      prev = cur
      cur = used()
      readings += 1
    } while (math.abs(cur - prev) > 1.0 && readings < 8)
    cur
  }

  // The unserved Catalyst funnel's top-10 for the checked queries, from
  // a second instance on the same folder with serving off: the served
  // flat tier's results must match it hit for hit. The `chain` order
  // skips it (the unserved funnel over the churned folder's deltas costs
  // ~4 s a query); its churn checks cover the served chain.
  private var checkedReference: IndexedSeq[Seq[VectorDB.SearchHit]] = IndexedSeq.empty
  private def referenceHits(): IndexedSeq[Seq[VectorDB.SearchHit]] = {
    val plain = VectorDB.openOrCreate(spark, dbDir, model = "perfbench-synth", dim = corpus.dim,
      storage = VectorDB.StorageMor)
    (0 until plan.checkedQueries).map(i => plain.searchHits(query(i), k = 10))
  }

  // ---- measured phases ---------------------------------------------

  def measure(): Unit = {
    if (!plan.searchAfterChurn) checkedReference = referenceHits()
    // Untimed searches first, so the timed ones, and the probes and
    // searches of a churn that runs next, run on compiled code.
    (0 until plan.warmSearches).foreach(i => db.searchHits(query(i), k = 10))
    if (plan.searchAfterChurn) { churn(); log("churn done") }
    // Four rounds of single-client searches and a concurrent burst, with
    // the filtered searches and the timed batch passes between them, on
    // the same tier: a spell of slow host then moves a share of each
    // metric's samples rather than all of them. Each round starts after
    // a full GC, so that none pays for the garbage of the phase before.
    (1 to 4).foreach { round =>
      System.gc()
      searchSingle(plan.singleMin / 4, 0.25 * seconds / 4)
      searchConcurrent()
      if (round == 2) { filtered(); log("filtered done") }
      if (round % 2 == 1 && round / 2 < plan.batchReps) batchPass()
      log(s"round $round done")
    }
    if (!plan.searchAfterChurn) { churn(); log("churn done") }
    finish()
  }

  private def sameHits(a: Seq[VectorDB.SearchHit], b: Seq[VectorDB.SearchHit]): Option[String] =
    if (a == b) None
    else Some(s"served ${a.map(h => (h.docId, h.scoreCossim))} != unserved " +
      s"${b.map(h => (h.docId, h.scoreCossim))}")

  /** Single-client searches done so far; picks the next query. */
  private var searched = 0

  /** One chunk of the single-client searches: at least `n` searches
    * and at least `budgetS` seconds.
    */
  private def searchSingle(n: Int, budgetS: Double): Unit = {
    val t0 = now()
    var i = 0
    while (i < n || now() - t0 < budgetS) {
      val qi = searched % queries.size
      ledger.timed("search")(span("search")(db.searchHits(query(qi), k = 10))) { hits =>
        if (qi < checkedReference.size) sameHits(hits, checkedReference(qi))
        else if (hits.size != 10) Some(s"${hits.size} hits")
        else checkNoRemoved(hits)
      }.foreach { case (ms, _) => add("search_ms", ms) }
      i += 1
      searched += 1
    }
  }

  /** Concurrent rounds done so far; picks the next queries. */
  private var c4Rounds = 0

  /** One round of four closed-loop clients, `c4PerClient` searches each. */
  private def searchConcurrent(): Unit = {
    val clients = 4
    val first = c4Rounds * clients * plan.c4PerClient
    c4Rounds += 1
    val ok = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val windowStart = System.currentTimeMillis()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var j = 0
        while (j < plan.c4PerClient) {
          val q = query(first + c * plan.c4PerClient + j)
          ledger.timed("search_c4")(span("search_c4")(db.searchHits(q, k = 10))) { hits =>
            if (hits.size != 10) Some(s"${hits.size} hits") else checkNoRemoved(hits)
          }.foreach(_ => ok.incrementAndGet())
          j += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    add("search_qps_c4", ok.get() / wallS)
    add("search_c4.window_start_ms", windowStart.toDouble)
    add("search_c4.window_end_ms", System.currentTimeMillis().toDouble)
  }

  private val filterMod = 10
  private val filterRem = 3
  private def filterPred = col("doc_id") % filterMod === filterRem

  private def filtered(): Unit = {
    ledger.timed("selector")(span("selector_cold")(db.selectorCached(filterPred).release()))()
      .foreach { case (ms, _) => add("selector.cold_ms", ms); log(f"selector cold $ms%.0fms") }
    ledger.timed("selector")(span("selector_warm")(db.selectorCached(filterPred).release()))()
      .foreach { case (ms, _) => add("selector.warm_ms", ms) }
    (0 until plan.filteredSearches).foreach { i =>
      ledger.timed("filtered")(span("filtered") {
        val sel = db.selectorCached(filterPred)
        try db.searchHits(query(i), k = 10, sel = Some(sel)) finally sel.release()
      }) { hits =>
        if (hits.size != 10) Some(s"${hits.size} filtered hits")
        else hits.find(h => h.docId % filterMod != filterRem)
          .map(h => s"filtered search returned doc ${h.docId}").orElse(checkNoRemoved(hits))
      }.foreach { case (ms, _) => add("filtered_search_ms", ms) }
    }
  }

  // ---- churn -------------------------------------------------------

  private def folderFiles(): Map[String, Long] = {
    val root = new File(dbDir)
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(root).map(f => f.getPath -> f.length()).toMap
  }

  /** Bytes of files an op created, from folder listings around it. */
  private def newBytes[T](enabled: Boolean)(f: => T): (T, Long) =
    if (!enabled) (f, 0L)
    else {
      val before = folderFiles()
      val out = f
      val after = folderFiles()
      (out, after.iterator.collect { case (p, n) if !before.contains(p) => n }.sum)
    }

  private def checkNoRemoved(hits: Seq[VectorDB.SearchHit]): Option[String] =
    hits.find(h => removed(h.docId)).map(h => s"removed doc ${h.docId} returned")

  private def observeServing(): Unit = {
    val info = db.servingInfo()
    add("serve.chain_depth", info.chainDepth)
    add("mor.pending_deltas", db.pendingDeltas())
    add("mor.retained_generations", db.retainedMorGenerations())
  }

  /** Serving refreshes a churn search saw, by regime: the chain was
    * extended by the new version, or the tier was flat again (a
    * background absorb or a rebuild retired the chain).
    */
  val refreshes: mutable.LinkedHashMap[String, Int] =
    mutable.LinkedHashMap("extend" -> 0, "flat" -> 0)
  private def countRefresh(depthBefore: Int): Int = {
    val depth = db.servingInfo().chainDepth
    refreshes(if (depth > depthBefore) "extend" else "flat") += 1
    depth
  }

  private def churn(): Unit = {
    System.gc() // so that no cycle pays for the garbage of the phases before
    var depth = db.servingInfo().chainDepth
    (0 until plan.churnCycles).foreach { cycle =>
      // Upsert: mostly new ids, some updates of live ids with new vectors.
      val liveArr = live.toIndexedSeq
      val updates = rng.shuffle(liveArr.indices.toIndexedSeq).take(plan.updateRows).map(liveArr)
      val fresh = (0 until plan.upsertRows - plan.updateRows)
        .map(_ => { nextDocId += 1; nextDocId - 1 })
      val batchRows = (fresh ++ updates).map { d => nextGenId += 1; (d, nextGenId - 1) }
      val probeDoc = batchRows.head
      val (commit, commitBytes) = newBytes(tracing) {
        ledger.timed("commit")(span("commit")(
          db.addDocuments(corpus.rows(spark, batchRows, 1), emb)))()
      }
      commit.foreach { case (ms, _) =>
        add("commit_ms", ms); if (tracing) add("commit.bytes_written", commitBytes.toDouble)
        live ++= fresh
      }
      // Visibility: the first search after the commit must return the
      // committed doc (its own vector, so it ranks first).
      val probeVec = corpus.vector(probeDoc._2)
      val probeT0 = System.nanoTime()
      ledger.timed("probe")(span("probe")(db.searchHits(probeVec, k = 10))) { hits =>
        if (commit.isEmpty) None
        else if (!hits.exists(_.docId == probeDoc._1))
          Some(s"committed doc ${probeDoc._1} not visible")
        else checkNoRemoved(hits)
      }.foreach { case (ms, _) =>
        add("probe_ms", ms); add("visible_ms", (System.nanoTime() - probeT0) / 1e6)
      }
      depth = countRefresh(depth)
      observeServing()
      // Delete ids from the original corpus that this cycle did not touch.
      val touched = batchRows.map(_._1).toSet
      val victims = live.iterator.filter(d => d < plan.docs && !touched(d))
        .take(plan.removeRows * 3).toIndexedSeq
      val ids = rng.shuffle(victims).take(plan.removeRows)
      val (del, delBytes) = newBytes(tracing) {
        ledger.timed("delete")(span("delete")(db.removeDocs(ids)))()
      }
      del.foreach { case (ms, _) =>
        add("delete_ms", ms); if (tracing) add("delete.bytes_written", delBytes.toDouble)
        live --= ids; removed ++= ids
      }
      (0 until plan.steadySearches).foreach { j =>
        ledger.timed("churn_search")(span("churn_search")(
          db.searchHits(query(cycle * plan.steadySearches + j), k = 10)))(checkNoRemoved)
          .foreach { case (ms, _) => add("churn_search_ms", ms) }
        if (j == 0) depth = countRefresh(depth)
      }
      observeServing()
      log(f"churn cycle $cycle commit ${commit.map(_._1).getOrElse(-1.0)}%.0fms " +
        f"delete ${del.map(_._1).getOrElse(-1.0)}%.0fms depth $depth")
    }
    gauges("serve.absorbs") = refreshes("flat")
  }

  /** In traced runs a compaction, then the live-count check. */
  private def finish(): Unit = {
    // Compaction feeds per-layer metrics only, so untraced runs skip it.
    if (tracing) {
      val (c, bytes) = newBytes(enabled = true)(
        ledger.timed("compact")(span("compact")(db.compact()))())
      c.foreach { case (ms, _) =>
        add("compact.ms", ms); add("compact.bytes_rewritten", bytes.toDouble)
      }
      observeServing()
    }
    ledger.timed("live_count")(span("count")(db.count())) { n =>
      if (n != live.size) Some(s"live count $n != expected ${live.size}") else None
    }
    if (tracing) {
      val bytes = folderFiles().values.sum
      gauges("mor.db_bytes_per_live_doc") = bytes.toDouble / math.max(1, live.size)
    }
  }

  // ---- batch -------------------------------------------------------

  /** Every batch query once, side by side, untimed: planning, code
    * generation and JIT, as in a job's first call.
    */
  private def batchWarmup(): Future[Unit] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Fixtures.ensure(spark, fixtureDir, plan.fixtureScale)
    Future.sequence(BatchOps.queries.map(q => Future(runQuery(q, timed = false)))).map(_ => ())
  }

  /** One timed pass over the batch queries in a fixed order, after a
    * full GC; a query's wall is the median of its timed passes.
    */
  private def batchPass(): Unit = {
    System.gc()
    BatchOps.queries.foreach(runQuery(_, timed = true))
  }

  /** Runs a batch query, collects its rows (every column materialized)
    * and checks their digest against the recorded one. The warm-up
    * records no span: it runs beside the untimed set-up, whose jobs its
    * window would claim.
    */
  private def runQuery(q: (String, (SparkSession, String) => DataFrame), timed: Boolean): Unit = {
    val (name, fn) = q
    val phase = if (timed) "batch" else "batch_warmup"
    def exec(): String = BatchOps.digest(fn(spark, fixtureDir).collect())
    val res = ledger.timed(phase)(if (timed) span(s"query:$name")(exec()) else exec()) { d =>
      expectedDigests.get(name) match {
        case Some(e) if e != d => Some(s"$name digest $d != recorded $e")
        case None if expectedDigests.nonEmpty => Some(s"$name has no recorded digest")
        case _ => None
      }
    }
    res.foreach { case (ms, d) =>
      digests.synchronized(digests(name) = d)
      if (timed) add(s"q.${name}_s", ms / 1000.0)
      log(f"$phase $name ${ms / 1000}%.2fs")
    }
  }

  // ---- tracing overhead --------------------------------------------

  /** Median single-client search wall over `n` searches, recorded as
    * spans or not.
    */
  def searchP50(n: Int, recordSpans: Boolean): Double = {
    recording = recordSpans && tracing
    val ms = (0 until n).flatMap(i =>
      ledger.timed("overhead")(span("overhead_search")(db.searchHits(query(i), k = 10)))()
        .map(_._1))
    recording = tracing
    Stats.median(ms)
  }

  def close(): Unit = {
    if (db != null) db.disableServing()
    graft.Graft.clearAllCaches(spark)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
