package graft.db

/** Per-serving-block candidate generator seam: an [[IndexStrategy]] may
  * supply a [[NavBuilder]] and the prepared scan then answers Phase-I
  * top-B through the built structure instead of the linear block scan —
  * the engine-side analogue of handing the reference a non-flat faiss
  * binary index object (`BinaryVectorDB/BinaryVectorDB.py:17`,
  * `index_type=faiss.IndexBinaryFlat` by default but e.g.
  * `faiss.IndexBinaryHNSW(d, M)` slots into the same constructor).
  *
  * The structure is built once per block at serving-block build time
  * (commit-amortized, like the block arrays themselves) and lives with
  * the block in executor memory; per query each partition runs the
  * navigator over its local block and ships back ≤ B hits exactly as the
  * linear path does — the driver merge and everything downstream
  * (phases II/III, payload handling, selectors) is shared.
  *
  * Contract: [[BlockNav.topPacked]] returns at most `b` rows, each
  * passing `admit`, sorted by (hamming asc, doc_id asc) — the same rank
  * order as the linear scan, so results merge transparently. Navigators
  * may be APPROXIMATE (a row belonging in the true top-B may be missed);
  * a navigator whose search width covers the whole block must degenerate
  * to the exact answer (spec-pinned for the built-in NSW).
  */
trait BlockNav extends Serializable {

  /** Ranked candidates for one query: packed `(hamming << 32) | row`
    * values in result-rank order (hamming asc, doc_id asc — conveyed by
    * ARRAY ORDER; the packing is just a container). Only rows with
    * `admit(row)` are returned, but navigation may traverse every row —
    * filtered searches keep the graph connected.
    */
  def topPacked(qWords: Array[Long], b: Int, admit: Int => Boolean): Array[Long]
}

/** Builds a [[BlockNav]] from one block's parallel arrays. Runs on the
  * executor inside the serving-block build; must be serializable (it
  * rides the build closure).
  */
trait NavBuilder extends Serializable {
  def build(ids: Array[Long], words: Array[Long], nWords: Int): BlockNav

  /** Optional persistence codec ([[NavStore]]): write `nav` in a form
    * [[loadNav]] can restore against a later build's arrays. Return
    * false when this builder's navs are not persistable (the default —
    * the block then always rebuilds).
    */
  def saveNav(nav: BlockNav, out: java.io.DataOutputStream): Boolean = false

  /** Restore a nav persisted by [[saveNav]] for a block now holding
    * `ids`/`words` (possibly in a DIFFERENT row order than at save
    * time — shuffle fetch order is not stable across runs, so codecs
    * must validate by content and remap, not assume positions). None on
    * any mismatch: stale snapshot, changed builder parameters, torn
    * file — the caller rebuilds.
    */
  def loadNav(ids: Array[Long], words: Array[Long], nWords: Int,
              in: java.io.DataInputStream): Option[BlockNav] = None
}

/** Navigable-small-world graph over a block's packed codes in hamming
  * space — the partition-local sub-linear Phase-I path for the
  * 10M+-rows-per-executor regime where even the popcount linear scan is
  * memory-bandwidth-bound. Single-layer NSW (Malkov et al., the
  * construction HNSW reduces to with one level): rows are inserted in
  * block order; each insertion beam-searches the graph-so-far
  * (`efConstruction` width) and links bidirectionally to `m` neighbors
  * chosen by the DIVERSITY heuristic (HNSW's select-neighbors: accept a
  * candidate only if it is closer to the new row than to every
  * already-accepted neighbor, then fill with nearest rejected — links
  * spread across directions instead of crowding one cluster), with
  * adjacency past `2·m` shrunk by the same heuristic. Searches seed
  * from FOUR spread entry rows (block-order strides), not one.
  * Pruning can sever a row's last INBOUND edge (the price of bounded
  * degree, same as faiss's HNSW shrink), so reachability is heuristic;
  * at `ef ≥ n` the search exhausts the reachable set and then linearly
  * sweeps whatever pruning left unreachable — exact by construction,
  * paying the linear cost only in the degenerate width.
  *
  * Search is best-first expansion with two bounds: a width-`ef` heap of
  * the best EVALUATED rows governs expansion/termination (unfiltered, so
  * selective admit predicates cannot strand the frontier), and a
  * bounded (hamming, doc_id) result heap collects ADMITTED rows — the
  * exact shape of the linear scan's heap, so ties break identically.
  *
  * Memory: `2m` ints/row adjacency (+1 int degree) ≈ 132 B/row at the
  * default m=16, on top of the block's code words.
  */
final class NswNav(
    ids: Array[Long], words: Array[Long], nWords: Int,
    neighbors: Array[Int], degree: Array[Int], maxDeg: Int,
    efSearch: Int,
    /** Optional sampled upper layer ([[NswNavBuilder]] builds it for
      * large blocks): a much smaller NSW over a stride sample of this
      * block's rows, searched first to pick entry points NEAR the
      * query — the two-layer essence of HNSW, recursing into further
      * layers while the sample stays large. `upperMap` maps the upper
      * nav's row indexes back to this block's rows. Null below the
      * size threshold (stride entries suffice there).
      */
    upper: NswNav = null, upperMap: Array[Int] = null,
    /** Rows still unreachable from the stride entries after the build's
      * reachability-repair passes (see [[NswNavBuilder]]). Swept
      * linearly on every search — usually empty, so structural
      * unreachability can never cost recall; only beam-width
      * approximation can.
      */
    orphans: Array[Int] = Array.emptyIntArray,
    /** Diagnostic: (initially unreachable, residual after repair). */
    val repairStats: (Int, Int) = (0, 0)) extends BlockNav {

  private def hamming(row: Int, qWords: Array[Long]): Int = {
    val base = row * nWords
    var acc = 0
    var w = 0
    while (w < nWords) {
      acc += java.lang.Long.bitCount(words(base + w) ^ qWords(w))
      w += 1
    }
    acc
  }

  override def topPacked(qWords: Array[Long], b: Int,
                         admit: Int => Boolean): Array[Long] = {
    val n = degree.length
    if (n == 0 || b <= 0) return Array.emptyLongArray
    val ef = math.max(b, efSearch)
    // Result capacity caps at the block size like the linear scanBlock:
    // a block can never yield more than n rows, and a huge user-supplied
    // k would otherwise allocate 3 b-sized arrays per block per query
    // (ADVICE r11).
    val cap = math.min(b, n)

    val visited = new java.util.BitSet(n)
    // frontier: min-heap of packed (hamming << 32 | row) — natural long
    // order is (hamming, insertion row), fine for expansion priority.
    val frontier = new NswNav.LongHeap(min = true)
    // evaluated: max-heap bound of width ef over ALL evaluated rows.
    val evaluated = new NswNav.LongHeap(min = false)
    // result: bounded max-heap on (hamming, doc_id) over admitted rows.
    val resH = new Array[Int](cap)
    val resId = new Array[Long](cap)
    val resRow = new Array[Int](cap)
    var resSize = 0

    def resWorse(h: Int, id: Long): Boolean =
      h > resH(0) || (h == resH(0) && id > resId(0))
    def resSiftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1; var m = i
        if (l < resSize && (resH(l) > resH(m) ||
          (resH(l) == resH(m) && resId(l) > resId(m)))) m = l
        if (r < resSize && (resH(r) > resH(m) ||
          (resH(r) == resH(m) && resId(r) > resId(m)))) m = r
        if (m == i) done = true
        else {
          val th = resH(i); resH(i) = resH(m); resH(m) = th
          val ti = resId(i); resId(i) = resId(m); resId(m) = ti
          val tr = resRow(i); resRow(i) = resRow(m); resRow(m) = tr
          i = m
        }
      }
    }
    def resSiftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val p = (i - 1) / 2
        if (resH(i) > resH(p) || (resH(i) == resH(p) && resId(i) > resId(p))) {
          val th = resH(i); resH(i) = resH(p); resH(p) = th
          val ti = resId(i); resId(i) = resId(p); resId(p) = ti
          val tr = resRow(i); resRow(i) = resRow(p); resRow(p) = tr
          i = p
        } else i = 0
      }
    }
    def offer(row: Int, h: Int): Unit = if (admit(row)) {
      val id = ids(row)
      if (resSize < cap) {
        resH(resSize) = h; resId(resSize) = id; resRow(resSize) = row
        resSize += 1; resSiftUp(resSize - 1)
      } else if (!resWorse(h, id)) {
        resH(0) = h; resId(0) = id; resRow(0) = row; resSiftDown()
      }
    }

    def seed(entry: Int, d: Int): Unit = {
      visited.set(entry)
      val packed = (d.toLong << 32) | entry.toLong
      frontier.push(packed)
      evaluated.push(packed)
      if (evaluated.size > ef) evaluated.pop()
      offer(entry, d)
    }

    // Upper-layer entries: search the sampled upper graph first (its
    // rows are copies of ours, so its hamming values transfer) and seed
    // from the 4 nearest samples — entries NEAR the query instead of
    // fixed positions, which is what keeps recall up as blocks grow.
    if (upper != null) {
      val near = upper.topPacked(qWords, 4, _ => true)
      var i = 0
      while (i < near.length) {
        val row = upperMap((near(i) & 0xffffffffL).toInt)
        if (!visited.get(row)) seed(row, (near(i) >>> 32).toInt)
        i += 1
      }
    }
    // Spread entries: block-order strides cover the insertion timeline
    // (early rows are hubs, late rows reach recent regions); kept even
    // under an upper layer as a worst-case hedge (4 extra evaluations).
    var e = 0
    while (e < 4) {
      val entry = (n.toLong * e / 4).toInt
      if (entry < n && !visited.get(entry))
        seed(entry, hamming(entry, qWords))
      e += 1
    }

    while (frontier.nonEmpty) {
      val c = frontier.pop()
      val cH = (c >>> 32).toInt
      if (evaluated.size >= ef && cH > (evaluated.peek() >>> 32).toInt) {
        frontier.clear() // every remaining candidate is at least as far
      } else {
        val row = (c & 0xffffffffL).toInt
        val nbBase = row * maxDeg
        val deg = degree(row)
        var j = 0
        while (j < deg) {
          val nb = neighbors(nbBase + j)
          if (!visited.get(nb)) {
            visited.set(nb)
            val d = hamming(nb, qWords)
            if (evaluated.size < ef || d < (evaluated.peek() >>> 32).toInt) {
              val packed = (d.toLong << 32) | nb.toLong
              frontier.push(packed)
              evaluated.push(packed)
              if (evaluated.size > ef) evaluated.pop()
              offer(nb, d)
            }
          }
          j += 1
        }
      }
    }

    // Degenerate exhaustive width: adjacency pruning may have left rows
    // with no inbound edges; sweep them so ef >= n is EXACT.
    if (ef >= n) {
      var r = visited.nextClearBit(0)
      while (r < n) {
        offer(r, hamming(r, qWords))
        r = visited.nextClearBit(r + 1)
      }
    } else if (orphans.length > 0) {
      // Residual structurally-unreachable rows (repair didn't converge —
      // rare): evaluate them directly, so missing recall can only come
      // from beam-width approximation, never from a severed row.
      var i = 0
      while (i < orphans.length) {
        val r = orphans(i)
        if (!visited.get(r)) offer(r, hamming(r, qWords))
        i += 1
      }
    }

    // drain the result heap into rank order (hamming asc, id asc)
    val out = new Array[Long](resSize)
    val idx = Array.range(0, resSize).sortBy(i => (resH(i), resId(i)))
    var i = 0
    while (i < resSize) {
      val k = idx(i)
      out(i) = (resH(k).toLong << 32) | resRow(k).toLong
      i += 1
    }
    out
  }

  /** The graph's adjacency, read-only — (neighbors flat array,
    * per-row degree, maxDeg). Nav persistence and specs read it.
    */
  private[graft] def adjacencyView: (Array[Int], Array[Int], Int) =
    (neighbors, degree, maxDeg)

  /** Persistence view ([[NswNavBuilder.saveNav]]): the save-time id
    * order, word width, residual orphan list, and repair stats.
    */
  private[graft] def identityView: (Array[Long], Int, Array[Int], (Int, Int)) =
    (ids, nWords, orphans, repairStats)

  /** Persistence/diagnostic view of the sampled hierarchy layer:
    * (upper nav, this-block row of each upper row), null fields when
    * the block is below the size threshold (or hierarchy off).
    */
  private[graft] def upperView: (NswNav, Array[Int]) = (upper, upperMap)
}

object NswNav {

  /** Tiny primitive binary heap over packed longs (no boxing). `min`
    * chooses the order; `peek` is the root.
    */
  private[db] final class LongHeap(min: Boolean) {
    private var arr = new Array[Long](64)
    private var n = 0
    def size: Int = n
    def nonEmpty: Boolean = n > 0
    def peek(): Long = arr(0)
    def clear(): Unit = n = 0
    private def lt(a: Long, b: Long): Boolean = if (min) a < b else a > b
    def push(v: Long): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      arr(n) = v; n += 1
      var i = n - 1
      while (i > 0) {
        val p = (i - 1) / 2
        if (lt(arr(i), arr(p))) { val t = arr(i); arr(i) = arr(p); arr(p) = t; i = p }
        else i = 0
      }
    }
    def pop(): Long = {
      val top = arr(0)
      n -= 1
      arr(0) = arr(n)
      var i = 0
      var done = n == 0
      while (!done) {
        val l = 2 * i + 1; val r = l + 1; var m = i
        if (l < n && lt(arr(l), arr(m))) m = l
        if (r < n && lt(arr(r), arr(m))) m = r
        if (m == i) done = true
        else { val t = arr(i); arr(i) = arr(m); arr(m) = t; i = m }
      }
      top
    }
  }
}

/** Builds [[NswNav]] graphs. `m` is the per-insertion link count (faiss
  * HNSW's M); adjacency is bounded at `2m` and shrunk by the diversity
  * heuristic. `efConstruction` is the insertion beam width, `efSearch`
  * the query-time floor (the effective width is `max(b, efSearch)`).
  * Tune by registering a differently-parameterized
  * [[IndexStrategies.Nsw]] before open — the same place faiss callers
  * parameterize their index object.
  *
  * `buildThreads > 1` parallelizes insertion inside the block (per-node
  * lock striping on adjacency mutation, lock-free racy reads during the
  * insert-time beam search — the standard concurrent-HNSW construction;
  * fills the cores that sit idle while few big blocks build).
  * `buildThreads = 0` — the DEFAULT — sizes the pool automatically
  * ([[NswNavBuilder.autoThreads]]): on a declared-cores executor it
  * stays inside the task's cpu entitlement (`spark.task.cpus` — the
  * other slots run concurrent tasks); in local/undeclared mode it
  * divides the machine's cores among the graph builds actually in
  * flight, capped — the few-big-blocks serve-build regime where
  * single-threaded insertion left 30 of 32 cores idle
  * (INCBENCH_r13_1thread: 13–32 s commits vs 2.9–5.6 s threaded).
  * Interleaving makes the resulting graph run-dependent, so the
  * approximate default-width results may vary slightly between builds;
  * pass `buildThreads = 1` for bit-deterministic builds. The EXACTNESS
  * contract is interleaving-independent — `ef ≥ n` exhausts + sweeps
  * whatever graph came out (property-pinned with a threaded build) —
  * and recall stays in the same band. Blocks under 2048 rows always
  * build single-threaded (deterministic), which keeps every small
  * fixture and spec corpus bit-stable.
  */
final class NswNavBuilder(m: Int, efConstruction: Int, efSearch: Int,
                          buildThreads: Int = 0,
                          hierarchy: Boolean = true)
    extends NavBuilder {
  require(m >= 1, s"m must be >= 1, got $m")
  require(efConstruction >= m,
    s"efConstruction must be >= m ($m), got $efConstruction")
  require(efSearch >= 1, s"efSearch must be >= 1, got $efSearch")
  require(buildThreads >= 0,
    s"buildThreads must be >= 0 (0 = auto), got $buildThreads")

  override def build(ids: Array[Long], words: Array[Long],
                     nWords: Int): BlockNav = {
    val n = ids.length
    val maxDeg = 2 * m
    val neighbors = new Array[Int](math.max(n, 1) * maxDeg)
    val degree = new Array[Int](n)

    def ham(a: Int, b: Int): Int = {
      val ba = a * nWords; val bb = b * nWords
      var acc = 0
      var w = 0
      while (w < nWords) {
        acc += java.lang.Long.bitCount(words(ba + w) ^ words(bb + w))
        w += 1
      }
      acc
    }

    /** HNSW select-neighbors heuristic: from `cand` (ascending by
      * distance to `target`), accept a candidate only if it is closer
      * to `target` than to every already-accepted one; fill the
      * remainder with the nearest rejected (keep-pruned). Bounded at
      * `bound` results.
      */
    def selectDiverse(target: Int, cand: Array[Int], bound: Int): Array[Int] = {
      if (cand.length <= bound) return cand
      val accepted = new Array[Int](bound)
      var nAcc = 0
      val rejected = new Array[Int](cand.length)
      var nRej = 0
      var i = 0
      while (i < cand.length && nAcc < bound) {
        val c = cand(i)
        val dTarget = ham(target, c)
        var diverse = true
        var j = 0
        while (diverse && j < nAcc) {
          if (ham(c, accepted(j)) < dTarget) diverse = false
          j += 1
        }
        if (diverse) { accepted(nAcc) = c; nAcc += 1 }
        else { rejected(nRej) = c; nRej += 1 }
        i += 1
      }
      var r = 0
      while (nAcc < bound && r < nRej) {
        accepted(nAcc) = rejected(r); nAcc += 1; r += 1
      }
      java.util.Arrays.copyOf(accepted, nAcc)
    }

    /** Add edge a→b; past `maxDeg` the adjacency is re-selected with
      * the diversity heuristic over neighbors ∪ {b}. Mutation of node
      * a's adjacency happens under a's lock stripe (uncontended cost is
      * negligible single-threaded; correctness under `buildThreads`).
      * One lock at a time — never nested — so no deadlock.
      */
    val locks = Array.fill(64)(new Object)
    def link(a: Int, b: Int): Unit = locks(a & 63).synchronized {
      val base = a * maxDeg
      val deg = degree(a)
      var j = 0
      while (j < deg) { if (neighbors(base + j) == b) return; j += 1 }
      if (deg < maxDeg) {
        neighbors(base + deg) = b
        degree(a) = deg + 1
      } else {
        val cand = new Array[Int](deg + 1)
        System.arraycopy(neighbors, base, cand, 0, deg)
        cand(deg) = b
        // ascending by (distance to a, row) — deterministic
        val sorted = cand.map(c => (ham(a, c).toLong << 32) | c.toLong).sorted
          .map(p => (p & 0xffffffffL).toInt)
        val sel = selectDiverse(a, sorted, maxDeg)
        System.arraycopy(sel, 0, neighbors, base, sel.length)
        degree(a) = sel.length
      }
    }

    // Beam search over the graph-so-far (nodes [0, limit)) for node
    // `target`'s code; returns the evaluated rows ascending by
    // (hamming, row), capped at efConstruction. Visited tracking is a
    // per-thread STAMP array (one allocation per thread, not per
    // insert — a fresh BitSet per call would churn n/8 bytes × n
    // inserts of garbage under threaded builds).
    val visitedTL = new ThreadLocal[(Array[Int], Array[Int])] {
      override def initialValue() = (new Array[Int](math.max(n, 1)), new Array[Int](1))
    }
    def nearest(target: Int, limit: Int): Array[Int] = {
      val (vs, stampBox) = visitedTL.get()
      stampBox(0) += 1
      val stamp = stampBox(0)
      def seen(r: Int): Boolean = vs(r) == stamp
      def mark(r: Int): Unit = vs(r) = stamp
      val frontier = new NswNav.LongHeap(min = true)
      val evaluated = new NswNav.LongHeap(min = false)
      val tb = target * nWords
      def dist(row: Int): Int = {
        val rb = row * nWords
        var acc = 0
        var w = 0
        while (w < nWords) {
          acc += java.lang.Long.bitCount(words(rb + w) ^ words(tb + w))
          w += 1
        }
        acc
      }
      val ef = efConstruction
      // Same spread seeding as the query path, restricted to [0, limit).
      var e = 0
      while (e < 4) {
        val entry = (limit.toLong * e / 4).toInt
        if (entry < limit && !seen(entry)) {
          mark(entry)
          val packed = (dist(entry).toLong << 32) | entry.toLong
          frontier.push(packed)
          evaluated.push(packed)
          if (evaluated.size > ef) evaluated.pop()
        }
        e += 1
      }
      while (frontier.nonEmpty) {
        val c = frontier.pop()
        if (evaluated.size >= ef && (c >>> 32) > (evaluated.peek() >>> 32)) {
          frontier.clear()
        } else {
          val row = (c & 0xffffffffL).toInt
          val base = row * maxDeg
          val deg = degree(row)
          var j = 0
          while (j < deg) {
            val nb = neighbors(base + j)
            if (nb < limit && !seen(nb)) {
              mark(nb)
              val d = dist(nb)
              if (evaluated.size < ef || d < (evaluated.peek() >>> 32).toInt) {
                val packed = (d.toLong << 32) | nb.toLong
                frontier.push(packed)
                evaluated.push(packed)
                if (evaluated.size > ef) evaluated.pop()
              }
            }
            j += 1
          }
        }
      }
      val all = new Array[Long](evaluated.size)
      var i = all.length - 1
      while (i >= 0) { all(i) = evaluated.pop(); i -= 1 }
      all.map(p => (p & 0xffffffffL).toInt)
    }

    def insertOne(i: Int): Unit = {
      val links = selectDiverse(i, nearest(i, i), m)
      var j = 0
      while (j < links.length) {
        link(i, links(j)); link(links(j), i)
        j += 1
      }
    }

    // Pool sizing: explicit > 0 wins; 0 (default) auto-sizes against
    // the cores this JVM is entitled to and the builds actually in
    // flight — registered for the insert phase only, so a finished
    // block's slice is immediately reusable by a straggler.
    val autoSized = buildThreads == 0 && n >= 2048
    val threads =
      if (buildThreads >= 1) buildThreads
      else if (n < 2048) 1
      else NswNavBuilder.beginAutoBuild()
    try {
      if (threads <= 1 || n < 2048) {
        var i = 1
        while (i < n) { insertOne(i); i += 1 }
      } else {
        // Dense deterministic core first, then workers pull ascending
        // indices — a row's beam may race rows still linking below it
        // (the `nb < limit` gate uses the index as an inserted-ness
        // proxy), which is the standard concurrent-HNSW approximation.
        val seed = math.min(1024, n)
        var i = 1
        while (i < seed) { insertOne(i); i += 1 }
        val cursor = new java.util.concurrent.atomic.AtomicInteger(seed)
        val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val workers = (0 until threads).map { _ =>
          val t = new Thread(() => {
            try {
              var j = cursor.getAndIncrement()
              while (j < n && failure.get() == null) {
                insertOne(j)
                j = cursor.getAndIncrement()
              }
            } catch { case e: Throwable => failure.compareAndSet(null, e) }
          })
          t.setDaemon(true)
          t.start()
          t
        }
        workers.foreach(_.join())
        if (failure.get() != null) throw failure.get()
      }
    } finally if (autoSized) NswNavBuilder.endAutoBuild()

    // ---- Reachability repair (the r11 0.975 recall plateau) ---------------
    // Best-first search can only find rows with a directed path from the
    // entry rows, and the diversity shrink can sever a row's LAST inbound
    // edge (HNSW's known level-0 orphan hazard — faiss's
    // keep_max_size_level0 debate). Measure the unreachable set by BFS
    // from the query path's stride entries, then give each orphan one
    // inbound edge from its nearest REACHABLE node (found with the
    // insert-time beam, whose evaluated set is reachable by
    // construction), appended with a force-replace of the farthest
    // neighbor when the node is full — replacement can orphan the
    // replaced target, so re-BFS and repeat up to 3 passes. Whatever
    // remains rides the nav as `orphans` and is swept at query time, so
    // structural unreachability costs a few extra distance evaluations,
    // never recall.
    def bfsReachable(): java.util.BitSet = {
      val reach = new java.util.BitSet(n)
      val stack = new java.util.ArrayDeque[Integer]()
      var e = 0
      while (e < 4) {
        val entry = (n.toLong * e / 4).toInt
        if (entry < n && !reach.get(entry)) { reach.set(entry); stack.push(entry) }
        e += 1
      }
      while (!stack.isEmpty) {
        val r = stack.pop().intValue()
        val base = r * maxDeg
        val deg = degree(r)
        var j = 0
        while (j < deg) {
          val nb = neighbors(base + j)
          if (!reach.get(nb)) { reach.set(nb); stack.push(nb) }
          j += 1
        }
      }
      reach
    }
    def unreached(reach: java.util.BitSet): Array[Int] = {
      val out = scala.collection.mutable.ArrayBuilder.make[Int]
      var r = reach.nextClearBit(0)
      while (r < n) { out += r; r = reach.nextClearBit(r + 1) }
      out.result()
    }
    /** One guaranteed inbound edge a→b: append when there is room, else
      * replace a's FARTHEST current neighbor (never the diversity
      * re-select — that is what severed b in the first place).
      */
    def forceLink(a: Int, b: Int): Unit = locks(a & 63).synchronized {
      val base = a * maxDeg
      val deg = degree(a)
      var j = 0
      while (j < deg) { if (neighbors(base + j) == b) return; j += 1 }
      if (deg < maxDeg) {
        neighbors(base + deg) = b
        degree(a) = deg + 1
      } else {
        var worst = 0
        var worstD = -1
        var k = 0
        while (k < deg) {
          val d = ham(a, neighbors(base + k))
          if (d > worstD) { worstD = d; worst = k }
          k += 1
        }
        neighbors(base + worst) = b
      }
    }
    // ---- Hermit re-insertion (the r12 plateau root cause) -----------------
    // Per-miss forensics on the 1M-row-block manifold (NAVMISS_r12.json)
    // showed the persistent recall misses are HERMIT rows: their whole
    // out-adjacency is far (min out-neighbor distance ~150 bits where
    // cluster mates sit at ~55-70), because their own insert-time beam
    // navigated the PARTIAL graph to the wrong region and linked far —
    // after which near rows never discover them (all inbound edges also
    // far), a self-sealing failure no search-time ef can break (misses persist
    // at ef 8000). Second-pass refinement (the NSG/Vamana shape): flag
    // rows whose nearest out-neighbor is > 1.5× the block median,
    // re-run the insert beam on the COMPLETE graph (which navigates
    // where the partial one failed), and relink — forced backlinks,
    // since the diversity re-select is what sealed them in the first
    // place.
    if (n > 8) {
      val dOutMin = new Array[Int](n)
      var r0 = 0
      while (r0 < n) {
        val base = r0 * maxDeg
        val deg = degree(r0)
        var best = Int.MaxValue
        var j = 0
        while (j < deg) {
          val d = ham(r0, neighbors(base + j))
          if (d < best) best = d
          j += 1
        }
        dOutMin(r0) = best
        r0 += 1
      }
      val finite = dOutMin.filter(_ != Int.MaxValue).sorted
      if (finite.length > 0) {
        val median = finite(finite.length / 2)
        val thr = math.max((median * 3) / 2, median + 4)
        var r1 = 0
        while (r1 < n) {
          if (dOutMin(r1) > thr) {
            val found = nearest(r1, n)
            var fi = 0
            var nearestOther = -1
            while (nearestOther < 0 && fi < found.length) {
              if (found(fi) != r1) nearestOther = found(fi)
              fi += 1
            }
            if (nearestOther >= 0 && ham(r1, nearestOther) < dOutMin(r1)) {
              val cand = found.filter(_ != r1)
              val links = selectDiverse(r1, cand, m)
              var lj = 0
              while (lj < links.length) {
                link(r1, links(lj))
                forceLink(links(lj), r1)
                lj += 1
              }
            }
          }
          r1 += 1
        }
      }
    }

    // ---- Near-inbound guarantee (the r12 plateau root cause) --------------
    // Reachable is not discoverable: NAVMISS_r12.json showed the residual
    // misses (recall plateau 0.975 at 1M-row blocks, GRAPHBENCH_r12_4m)
    // are rows with HEALTHY in-degree whose inbound edges all come from
    // FAR nodes — in a dense region, every near neighbor's shrink
    // re-select drops the late-inserted row (diversity prefers spread),
    // so the best-first beam, which only expands nodes inside its
    // distance bound, can never evaluate it: the probe caught queries
    // finding 9 of a row's 10 exact neighbors but not the hamming-0 row
    // itself. Guarantee: every row keeps at least one inbound edge from
    // ONE OF its out-neighbors (out-edges are near rows by
    // construction; when NO out-neighbor links back, the scan covers
    // them all and the forced backlink comes from the true nearest —
    // when some out-neighbor already links back, that existing edge is
    // accepted even if a nearer one exists), so exploring a row's
    // neighborhood always discovers it — the same failure faiss's
    // keepPrunedConnections / Vamana's reverse-edge insertion address.
    // Any orphaning from the forced replacement is caught by the
    // reachability passes below.
    var r = 0
    while (r < n) {
      val base = r * maxDeg
      val deg = degree(r)
      var has = false
      var nearest0 = -1
      var nearestD = Int.MaxValue
      var j = 0
      while (!has && j < deg) {
        val nb = neighbors(base + j)
        val nbase = nb * maxDeg
        val nd = degree(nb)
        var k = 0
        while (!has && k < nd) {
          if (neighbors(nbase + k) == r) has = true
          k += 1
        }
        if (!has) {
          val d = ham(r, nb)
          if (d < nearestD) { nearestD = d; nearest0 = nb }
        }
        j += 1
      }
      if (!has && nearest0 >= 0) forceLink(nearest0, r)
      r += 1
    }

    var reach = bfsReachable()
    var orphans = unreached(reach)
    val initialOrphans = orphans.length
    var pass = 0
    while (pass < 3 && orphans.length > 0) {
      var i = 0
      while (i < orphans.length) {
        val o = orphans(i)
        // nearest() walks the current graph from the stride entries, so
        // every evaluated row is reachable; the closest one anchors o.
        val cand = nearest(o, n)
        var c = -1
        var j = 0
        while (c < 0 && j < cand.length) {
          if (cand(j) != o && reach.get(cand(j))) c = cand(j)
          j += 1
        }
        if (c >= 0) forceLink(c, o)
        i += 1
      }
      reach = bfsReachable()
      orphans = unreached(reach)
      pass += 1
    }

    val (upperNav, upperMap) = buildUpper(ids, words, nWords)
    new NswNav(ids, words, nWords, neighbors, degree, maxDeg, efSearch,
      upperNav, upperMap, orphans, (initialOrphans, orphans.length))
  }

  /** Sampled upper layer for large blocks: a 1/256 stride sample gets
    * its own (recursive — further layers while the sample stays above
    * the threshold) NSW over COPIED sample codes, searched at query
    * time to pick entry points near the query. Cost: ~n/256 extra
    * inserts + words/256 bytes; below the threshold the four stride
    * entries already cover the block. Deterministic (single-threaded,
    * stride sample) regardless of `buildThreads`. Since nav format v2
    * the hierarchy IS persisted ([[writeUpper]]/[[readUpper]]) and a
    * warm [[loadNav]] adopts the saved layers — the r14 profile put
    * the deterministic upper REBUILD at ~1–1.5 s of a warm 4M-block
    * nav load, dominating it once the identity fast path landed. This
    * builder remains the fallback: fresh [[build]]s, sub-threshold
    * blocks, `hierarchy = false`, and legacy/damaged files whose upper
    * section is absent or rejected.
    */
  private def buildUpper(ids: Array[Long], words: Array[Long],
                         nWords: Int): (NswNav, Array[Int]) = {
    val n = ids.length
    if (!hierarchy || n < NswNavBuilder.UpperMinRows) return (null, null)
    val upperSize = n / NswNavBuilder.UpperFraction
    val stride = n / upperSize
    val upperMap = Array.tabulate(upperSize)(i => i * stride)
    val upWords = new Array[Long](upperSize * nWords)
    var i = 0
    while (i < upperSize) {
      System.arraycopy(words, upperMap(i) * nWords, upWords, i * nWords, nWords)
      i += 1
    }
    val upIds = Array.tabulate(upperSize)(i => ids(upperMap(i)))
    val upperNav = new NswNavBuilder(m, efConstruction,
      NswNavBuilder.UpperEfSearch, buildThreads = 1, hierarchy = true)
      .build(upIds, upWords, nWords).asInstanceOf[NswNav]
    (upperNav, upperMap)
  }

  /** Persist the graph's derived state: builder params (a graph built
    * under different m/efConstruction has different quality — never
    * silently adopted), geometry, the SAVE-TIME id order, adjacency,
    * the orphan sweep list, and (v2) the sampled hierarchy layers.
    * Words are NOT written (the block carries them; ids at a fixed
    * snapshot version determine them) — the upper layers' sampled word
    * copies are likewise rebuilt from the block arrays at load, only
    * their ADJACENCY (the expensive part: the r14 identity-fast-path
    * profile left the deterministic upper REBUILD as the dominant
    * ~1–1.5 s of a warm nav load) rides the file.
    */
  override def saveNav(nav: BlockNav, out: java.io.DataOutputStream): Boolean =
    nav match {
      case nsw: NswNav =>
        val (neighbors, degree, maxDeg) = nsw.adjacencyView
        val (ids, nWords, orphans, stats) = nsw.identityView
        out.writeInt(NswNavBuilder.FileMagic)
        out.writeInt(NswNavBuilder.FileVersion)
        out.writeInt(m); out.writeInt(efConstruction)
        out.writeInt(ids.length); out.writeInt(nWords); out.writeInt(maxDeg)
        // Slab-coded bulk arrays (byte-identical to element-wise
        // writeLong/writeInt — big-endian, same order — but the
        // adjacency alone is rows·2m ints, 512 MB at a 4M-row block,
        // and per-element DataOutputStream writes push every byte
        // through a single-byte CRC32 update: measured ~30 s/block of
        // pure call overhead on the warm path, r14).
        BlockStore.writeLongs(out, ids)
        BlockStore.writeInts(out, degree)
        BlockStore.writeInts(out, neighbors)
        out.writeInt(orphans.length)
        BlockStore.writeInts(out, orphans)
        out.writeInt(stats._1); out.writeInt(stats._2)
        writeUpper(nsw, out)
        true
      case _ => false
    }

  /** Recursive upper-layer section: each level writes its sample map
    * (rows of the level BELOW it), adjacency, orphans, stats, then its
    * own upper. Sampled ids/words are derivable from the level below —
    * never written.
    */
  private def writeUpper(nav: NswNav, out: java.io.DataOutputStream): Unit = {
    val (up, upMap) = nav.upperView
    if (up == null) out.writeBoolean(false)
    else {
      out.writeBoolean(true)
      out.writeInt(upMap.length)
      BlockStore.writeInts(out, upMap)
      val (nbs, deg, maxDegU) = up.adjacencyView
      out.writeInt(maxDegU)
      BlockStore.writeInts(out, deg)
      BlockStore.writeInts(out, nbs)
      val (_, _, orphans, stats) = up.identityView
      out.writeInt(orphans.length)
      BlockStore.writeInts(out, orphans)
      out.writeInt(stats._1); out.writeInt(stats._2)
      writeUpper(up, out)
    }
  }

  /** Mirror of [[writeUpper]]: restore one hierarchy level against the
    * (possibly remapped) level below it. `savedToNew` translates the
    * LEVEL-1 sample map through the base remap; deeper maps reference
    * their parent level's rows, which are internally consistent, so
    * recursion passes null. None = structurally invalid (caller
    * rejects the file); Some((null, null)) = no upper at this level.
    */
  private def readUpper(in: java.io.DataInputStream,
                        baseIds: Array[Long], baseWords: Array[Long],
                        nWords: Int, savedToNew: Array[Int],
                        baseN: Int): Option[(NswNav, Array[Int])] = {
    if (!in.readBoolean()) return Some((null, null))
    val nUp = in.readInt()
    if (nUp <= 0 || nUp > baseN) return None
    val upMapSaved = BlockStore.readInts(in, nUp)
    val upMap = new Array[Int](nUp)
    // Duplicate sample rows would be recall-harmless (CRC-gated
    // upstream, and the level only picks entry points) but are never
    // produced by writeUpper — reject them like any other structural
    // corruption instead of silently adopting a degenerate level.
    val seen = new java.util.BitSet(baseN)
    var i = 0
    while (i < nUp) {
      val s = upMapSaved(i)
      if (s < 0 || s >= baseN || seen.get(s)) return None
      seen.set(s)
      upMap(i) = if (savedToNew == null) s else savedToNew(s)
      i += 1
    }
    val maxDegU = in.readInt()
    if (maxDegU != 2 * m) return None
    val deg = BlockStore.readInts(in, nUp)
    val nbs = BlockStore.readInts(in, math.max(nUp, 1) * maxDegU)
    var s = 0
    while (s < nUp) {
      val d = deg(s)
      if (d < 0 || d > maxDegU) return None
      var j = 0
      while (j < d) {
        val nb = nbs(s * maxDegU + j)
        if (nb < 0 || nb >= nUp) return None
        j += 1
      }
      s += 1
    }
    val nOrph = in.readInt()
    if (nOrph < 0 || nOrph > nUp) return None
    val orphans = BlockStore.readInts(in, nOrph)
    i = 0
    while (i < nOrph) {
      if (orphans(i) < 0 || orphans(i) >= nUp) return None
      i += 1
    }
    val stats = (in.readInt(), in.readInt())
    val upIds = new Array[Long](nUp)
    val upWords = new Array[Long](nUp * nWords)
    i = 0
    while (i < nUp) {
      upIds(i) = baseIds(upMap(i))
      System.arraycopy(baseWords, upMap(i) * nWords, upWords, i * nWords, nWords)
      i += 1
    }
    readUpper(in, upIds, upWords, nWords, null, nUp).map {
      case (deeper, deeperMap) =>
        (new NswNav(upIds, upWords, nWords, nbs, deg, maxDegU,
          NswNavBuilder.UpperEfSearch, deeper, deeperMap, orphans, stats),
          upMap)
    }
  }

  /** Restore against this build's arrays. Row order may differ from
    * save time (shuffle fetch order is run-dependent), so adjacency is
    * REMAPPED through the id correspondence; any id absent either way,
    * or any geometry/param mismatch, rejects the file (caller
    * rebuilds). The sampled upper hierarchy (v2) is READ and adopted
    * when the file carries one — level 1 remapped through the same id
    * correspondence — with [[buildUpper]] as the rebuild fallback for
    * files saved without it.
    */
  override def loadNav(ids: Array[Long], words: Array[Long], nWords: Int,
                       in: java.io.DataInputStream): Option[BlockNav] = {
    if (in.readInt() != NswNavBuilder.FileMagic) return None
    if (in.readInt() != NswNavBuilder.FileVersion) return None
    if (in.readInt() != m || in.readInt() != efConstruction) return None
    val n = in.readInt()
    if (n != ids.length) return None
    if (in.readInt() != nWords) return None
    val maxDeg = in.readInt()
    if (maxDeg != 2 * m) return None
    // Slab-coded bulk reads (mirror of saveNav — the format is
    // byte-identical to element-wise readLong/readInt, but the bulk
    // path CRCs and decodes in 8 MB slabs instead of pushing 512 MB of
    // adjacency through per-byte stream calls).
    val savedIds = BlockStore.readLongs(in, n)
    // Identity fast path: on the warm serve path the block arrays come
    // from the SAME persisted build as this nav (BlockStore streams the
    // save-time row order back verbatim), so the id orders match and
    // the whole remap — LongMap build + per-edge translation over
    // rows·2m ints — is skipped; only the bounds validation remains.
    // The remap below stays for the mixed case (nav file fresh, block
    // arrays re-assembled by the join, whose fetch order is
    // run-dependent).
    val identityOrder = java.util.Arrays.equals(savedIds, ids)
    val savedToNew: Array[Int] =
      if (identityOrder) null
      else {
        // saved row -> this build's row, via the id correspondence
        val newRowOf = new scala.collection.mutable.LongMap[Int](n * 2)
        var i = 0
        while (i < n) { newRowOf(ids(i)) = i; i += 1 }
        if (newRowOf.size != n) return None // duplicate ids: never valid
        val s2n = new Array[Int](n)
        i = 0
        while (i < n) {
          newRowOf.get(savedIds(i)) match {
            case Some(r) => s2n(i) = r
            case None => return None // different id set: stale file
          }
          i += 1
        }
        s2n
      }
    val savedDeg = BlockStore.readInts(in, n)
    val savedNb = BlockStore.readInts(in, math.max(n, 1) * maxDeg)
    val (degree, neighbors) =
      if (identityOrder) {
        var s = 0
        while (s < n) {
          val d = savedDeg(s)
          if (d < 0 || d > maxDeg) return None
          var j = 0
          while (j < d) {
            val nb = savedNb(s * maxDeg + j)
            if (nb < 0 || nb >= n) return None
            j += 1
          }
          s += 1
        }
        (savedDeg, savedNb)
      } else {
        val deg = new Array[Int](n)
        val nbs = new Array[Int](math.max(n, 1) * maxDeg)
        var s = 0
        while (s < n) {
          val r = savedToNew(s)
          val d = savedDeg(s)
          if (d < 0 || d > maxDeg) return None
          deg(r) = d
          var j = 0
          while (j < d) {
            val nb = savedNb(s * maxDeg + j)
            if (nb < 0 || nb >= n) return None
            nbs(r * maxDeg + j) = savedToNew(nb)
            j += 1
          }
          s += 1
        }
        (deg, nbs)
      }
    val nOrph = in.readInt()
    if (nOrph < 0 || nOrph > n) return None
    val orphans = BlockStore.readInts(in, nOrph)
    var i = 0
    while (i < nOrph) {
      val o = orphans(i)
      if (o < 0 || o >= n) return None
      if (!identityOrder) orphans(i) = savedToNew(o)
      i += 1
    }
    val stats = (in.readInt(), in.readInt())
    // v2: the sampled hierarchy rides the file — adopt it (remapped
    // through the id correspondence at level 1) instead of paying the
    // deterministic rebuild, the dominant CPU of a warm nav load after
    // the identity fast path. A file saved without one (sub-threshold
    // block, or a hierarchy-off builder) falls back to the rebuild,
    // which also handles hierarchy-config drift between save and load.
    readUpper(in, ids, words, nWords,
        if (identityOrder) null else savedToNew, n).flatMap {
      case (persistedUpper, persistedMap) =>
        val (upperNav, upperMap) =
          if (!hierarchy) (null, null)
          else if (persistedUpper != null) (persistedUpper, persistedMap)
          else buildUpper(ids, words, nWords)
        Some(new NswNav(ids, words, nWords, neighbors, degree, maxDeg,
          efSearch, upperNav, upperMap, orphans, stats))
    }
  }
}

object NswNavBuilder {
  /** Nav-file header magic ("GNAV") and format version. v2 appended
    * the recursive upper-hierarchy section (sample maps + adjacency;
    * sampled ids/words stay derivable) so a warm load adopts the
    * persisted layers instead of rebuilding them. Readers reject other
    * versions — one cold rebuild after an upgrade, never a misread.
    */
  val FileMagic = 0x474e4156
  val FileVersion = 2

  /** Blocks below this row count skip the upper layer (stride entries
    * reach everywhere fast enough).
    */
  val UpperMinRows = 8192
  /** Upper-layer sample fraction (1/256 of the rows per layer). */
  val UpperFraction = 256
  /** Beam width for upper-layer entry search — only 4 entries are
    * taken, the width just makes them good ones.
    */
  val UpperEfSearch = 32

  /** Auto pool-size ceiling: insertion throughput flattens past this
    * (lock-striping contention on the hot adjacency rows), and one
    * build must not monopolize a big box another build is about to
    * share (CROSSOVER_r12.json measured ~diminishing returns past 8–16).
    */
  val MaxAutoThreads = 16

  /** Auto-sized graph builds currently in their insert phase in this
    * JVM — the denominator that divides the local core budget. Tasks
    * of one serve-build start together, so each sees the others
    * registered and takes its fair slice; a straggler re-registering
    * later sees fewer and takes more.
    */
  private val autoActive = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def autoActiveForTest: Int = autoActive.get()

  private[db] def beginAutoBuild(): Int = autoThreads(autoActive.incrementAndGet())
  private[db] def endAutoBuild(): Unit = autoActive.decrementAndGet()

  /** Pool size for one auto-threaded build when `active` auto builds
    * (this one included) are in flight in this JVM:
    *   - on an executor with DECLARED cores (`spark.executor.cores`
    *     set — any real cluster deploy), stay inside the task's own
    *     entitlement (`spark.task.cpus`): the other slots run
    *     concurrent tasks, and threading past the entitlement
    *     oversubscribes the container;
    *   - in local[n] / undeclared mode every slot shares one JVM, so
    *     divide the JVM's core budget (the master's n, bounded by the
    *     machine) among the builds actually in flight — the
    *     few-big-blocks serve-build regime where task-count parallelism
    *     leaves most cores idle.
    */
  private[graft] def autoThreads(active: Int): Int = {
    val conf = Option(org.apache.spark.SparkEnv.get).map(_.conf).orNull
    val execCores = if (conf == null) 0 else conf.getInt("spark.executor.cores", 0)
    if (execCores > 0) {
      math.max(1, if (conf == null) 1 else conf.getInt("spark.task.cpus", 1))
    } else {
      val procs = Runtime.getRuntime.availableProcessors()
      val budget = localMasterThreads(conf).map(math.min(_, procs)).getOrElse(procs)
      math.max(1, math.min(MaxAutoThreads, budget / math.max(1, active)))
    }
  }

  /** The n of a `local[n]` master (None for `local[*]`, non-local, or
    * unparseable — callers fall back to the machine's cores).
    */
  private def localMasterThreads(conf: org.apache.spark.SparkConf): Option[Int] = {
    val master = if (conf == null) "" else conf.get("spark.master", "")
    val m = "local\\[(\\d+)\\]".r
    master match {
      case m(n) => scala.util.Try(n.toInt).toOption.filter(_ > 0)
      case _ => None
    }
  }
}
