package graft.db

import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.storage.StorageLevel

/** RAM-resident PREPARED Phase-I scan over the hot tier: per-partition
  * primitive blocks (ids + flattened code words + optional IVF cells +
  * optional in-band payloads), queried by a bare RDD job that computes
  * hamming distances and keeps a bounded (hamming asc, doc_id asc)
  * top-B heap per partition — the driver merges ≤ P·B small hits. The
  * serving analogue of the reference's always-resident faiss binary
  * index (`BinaryVectorDB.py:129-140` holds the packed codes in RAM and
  * scans them per query with no per-query planning of any kind).
  *
  * Why: the measured single-query `searchVector` latency is dominated
  * not by the popcount kernel (a few ms across the cores) but by
  * per-call Catalyst analysis/optimization/codegen of the Phase-I
  * plan (~40-50 ms) plus columnar materialization; removing Catalyst
  * left TWO bare RDD jobs (scan + candidate point lookup). With
  * `withBytes`/`withDoc` the blocks ALSO carry each row's int8
  * embedding and doc payload, and the winners come back with their
  * payloads IN-BAND — the whole three-phase funnel is then ONE job plus
  * ~130k driver flops (phases II/III where the reference's own Python
  * layer runs them, `BinaryVectorDB.py:236-252`).
  *
  * Scale contract: the blocks hold the hot tier in executor memory
  * (~nWords·8 + 8 B/row bare; + dim bytes + doc payload with in-band
  * payloads — the SAME bytes the former separate point-lookup index
  * pinned, now stored once). On a 1000-executor cluster each partition
  * scans its local block and ships back ≤ B hits; the driver merge is
  * O(P·B). Beyond cluster RAM, disable serving and stay on the parquet
  * path.
  *
  * IVF probing: blocks carry the per-row cell and a per-block distinct
  * cell set; a probed-cell query skips whole blocks whose cells don't
  * intersect the probe set (the RDD analogue of the cell-partitioned
  * snapshot's partition pruning) and filters rows inside mixed blocks.
  *
  * Lineage: every layer is `localCheckpoint`ed in the job that
  * materializes it, so a served job ships the resident blocks and
  * nothing of the plans that built them (the build's SQL file scan, a
  * chain layer's local-relation window) — per-query work stays the scan,
  * as in the reference. The price is that a block can no longer be
  * recomputed: its lifetime is explicit. Each served job pins the scan
  * ([[tryPin]]/[[unpin]]), so [[unpersist]] under in-flight jobs frees
  * the blocks when the last of them ends; a block lost anyway (executor
  * loss) fails the job with a [[PreparedScan.lostBlock]] error, and the
  * owner rebuilds the tier instead of recomputing it.
  */
final class PreparedScan private (
    /** The resident block RDDs, one per chain layer (a full build is
      * one layer); a query scans their union in one job.
      */
    private val layers: Vector[RDD[PreparedScan.Block]],
    private val nWords: Int,
    private val supBc: org.apache.spark.broadcast.Broadcast[PreparedScan.Superseded],
    private[graft] val chain: PreparedScan.ChainInfo,
    /** At least this many live rows are served (exact for a full build;
      * for a chain, base − |touched| + delta rows — an undercount when
      * touched ids were absent from the base). Lets the facade's
      * empty-index search guard skip rebuilding the CATALYST hot tier
      * (a full merged read + persist) that the serving path never
      * reads.
      */
    private[graft] val rowsLowerBound: Long,
    onFree: () => Unit) {

  /** What a query's job runs over: the layers as ONE union (a chain of
    * any depth is one flat `UnionRDD`, not a union nested per layer).
    */
  private[graft] val blocks: RDD[PreparedScan.Block] =
    if (layers.size == 1) layers.head
    else new UnionRDD(layers.head.sparkContext, layers)

  /** Served jobs in flight on these blocks, or [[PreparedScan.Freed]]
    * once they are freed. One atomic per search.
    */
  private val pins = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Set by [[unpersist]]: no new pin is granted; the free runs when the
    * count reaches zero.
    */
  @volatile private var retired = false

  /** Serving block count (one per source partition; chains add their
    * delta-layer blocks). Diagnostic — the facade's sizing guard reads
    * rows-per-block from it.
    */
  private[graft] def numBlocks: Int = blocks.getNumPartitions

  /** Top-B hits by (hamming asc, doc_id asc) against the packed query
    * words; `probed` (if set) restricts to rows in those IVF cells;
    * `sel` (if set) is a doc_id allowlist ([[IdSet]]: broadcast sorted
    * array or file-backed sorted runs — the faiss `IDSelectorBatch`
    * analogue) and only rows in it may enter the heap. The membership
    * probe runs AFTER the early-exit hamming loop, only for rows that
    * would otherwise be kept, so unfiltered scans pay nothing and
    * filtered scans pay O(kept · log |sel|), not O(rows · log |sel|).
    * Hits carry code words always, bytes/doc when the scan was built
    * with payloads. Rank-sorted, ≤ B hits. One bare RDD job, no
    * Catalyst involvement.
    */
  def topB(qWords: Array[Long], b: Int,
           probed: Option[Array[Int]] = None,
           sel: Option[IdSet] = None): Array[PreparedScan.Hit] = {
    require(b > 0, s"b must be positive, got $b")
    val nw = nWords
    val probeSorted = probed.map { p => val c = p.clone(); java.util.Arrays.sort(c); c }
    val selSet = sel.orNull
    val supB = supBc
    val perPart: Array[Array[PreparedScan.Hit]] =
      blocks.sparkContext.runJob(blocks,
        (it: Iterator[PreparedScan.Block]) => {
          if (!it.hasNext) Array.empty[PreparedScan.Hit]
          else {
            val blk = it.next()
            val skip = probeSorted.exists(p =>
              !blk.distinctCells.exists(c => java.util.Arrays.binarySearch(p, c) >= 0))
            if (skip) Array.empty[PreparedScan.Hit]
            else PreparedScan.dispatchScan(blk, qWords, nw, b, probeSorted.orNull,
              if (selSet == null) null else selSet.probe(),
              if (supB == null) null else supB.value)
          }
        })
    // each partition's result is rank-sorted; merge and cut to B
    val merged = perPart.flatten
    java.util.Arrays.sort(merged, PreparedScan.rankOrder)
    merged.take(b)
  }

  /** Batched [[topB]]: all Q queries scan the SAME blocks inside ONE
    * bare RDD job — each partition runs [[PreparedScan.scanBlock]] once
    * per query over its resident block (the words stay hot in cache
    * across queries), so a batch pays a single job-scheduling floor
    * instead of Q. `probed(qi)`, when given, restricts query qi to its
    * own IVF cells (per-query block skip + in-block filter, exactly as
    * the single-query path). Returns per-query rank-sorted top-B
    * arrays, index-aligned with `qs`.
    */
  def topBMany(qs: Array[Array[Long]], b: Int,
               probed: Option[Array[Array[Int]]] = None,
               sel: Option[IdSet] = None): Array[Array[PreparedScan.Hit]] = {
    require(b > 0, s"b must be positive, got $b")
    require(qs.nonEmpty, "topBMany needs at least one query")
    require(probed.forall(_.length == qs.length),
      "probed cell sets must align one-to-one with the queries")
    val nw = nWords
    val nq = qs.length
    val probeSorted: Array[Array[Int]] =
      probed.map(_.map { p => val c = p.clone(); java.util.Arrays.sort(c); c }).orNull
    val selSet = sel.orNull
    val supB = supBc
    val perPart: Array[Array[Array[PreparedScan.Hit]]] =
      blocks.sparkContext.runJob(blocks,
        (it: Iterator[PreparedScan.Block]) => {
          if (!it.hasNext) Array.fill(nq)(Array.empty[PreparedScan.Hit])
          else {
            val blk = it.next()
            val selProbe = if (selSet == null) null else selSet.probe()
            val sup = if (supB == null) null else supB.value
            Array.tabulate(nq) { qi =>
              val p = if (probeSorted == null) null else probeSorted(qi)
              val skip = p != null && !blk.distinctCells.exists(c =>
                java.util.Arrays.binarySearch(p, c) >= 0)
              if (skip) Array.empty[PreparedScan.Hit]
              else PreparedScan.dispatchScan(blk, qs(qi), nw, b, p, selProbe, sup)
            }
          }
        })
    Array.tabulate(nq) { qi =>
      val merged = perPart.flatMap(_(qi))
      java.util.Arrays.sort(merged, PreparedScan.rankOrder)
      merged.take(b)
    }
  }

  /** All rows within `radius` hamming bits of the query — the faiss
    * `range_search` analogue on the serving tier. Unlike [[topB]] the
    * per-row early-exit bound is FIXED at `radius` from the first row
    * (no heap warm-up), so word-loop pruning is strictly stronger; the
    * result size is whatever matches (possibly zero, possibly the
    * block). `probed`/`sel` behave as in [[topB]]. Rank-sorted. Always
    * the exhaustive linear scan, even when blocks carry a [[BlockNav]]:
    * the radius contract is EVERY match, which an approximate navigator
    * cannot promise.
    */
  def withinRadius(qWords: Array[Long], radius: Int,
                   probed: Option[Array[Int]] = None,
                   sel: Option[IdSet] = None): Array[PreparedScan.Hit] = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val nw = nWords
    val probeSorted = probed.map { p => val c = p.clone(); java.util.Arrays.sort(c); c }
    val selSet = sel.orNull
    val supB = supBc
    val perPart: Array[Array[PreparedScan.Hit]] =
      blocks.sparkContext.runJob(blocks,
        (it: Iterator[PreparedScan.Block]) => {
          if (!it.hasNext) Array.empty[PreparedScan.Hit]
          else {
            val blk = it.next()
            val skip = probeSorted.exists(p =>
              !blk.distinctCells.exists(c => java.util.Arrays.binarySearch(p, c) >= 0))
            if (skip) Array.empty[PreparedScan.Hit]
            else PreparedScan.rangeScanBlock(blk, qWords, nw, radius,
              probeSorted.orNull, if (selSet == null) null else selSet.probe(),
              if (supB == null) null else supB.value)
          }
        })
    val merged = perPart.flatten
    java.util.Arrays.sort(merged, PreparedScan.rankOrder)
    merged
  }

  /** Free what this scan OWNS: a full build unpersists its block RDD; a
    * chain extension unpersists its own delta layer and drops its
    * reference on the base scan (cascading down the chain as refcounts
    * reach zero). Under pinned jobs the free is deferred to the last
    * [[unpin]]: the blocks cannot be recomputed, so freeing them under a
    * running job would fail it.
    */
  def unpersist(): Unit = {
    retired = true
    freeIfIdle()
  }

  /** Take a pin for one served job; false once [[unpersist]] was called
    * (the caller resolves the serving tier again). Every true must be
    * matched by one [[unpin]].
    */
  private[graft] def tryPin(): Boolean = {
    var n = pins.get()
    while (n >= 0 && !retired) {
      if (pins.compareAndSet(n, n + 1)) return true
      n = pins.get()
    }
    false
  }

  private[graft] def unpin(): Unit =
    if (pins.decrementAndGet() == 0 && retired) freeIfIdle()

  private def freeIfIdle(): Unit =
    if (pins.compareAndSet(0, PreparedScan.Freed)) onFree()

  /** False once this scan was released ([[unpersist]]) or the owning
    * SparkContext has stopped (the blocks died with it); [[BlockCache]]
    * rebuilds instead of returning such an entry.
    */
  private[db] def isAlive: Boolean = !retired && !blocks.sparkContext.isStopped
}

object PreparedScan {

  private val Freed = Int.MinValue

  /** True when `e` is a served job failing on a resident block that is
    * gone (its executor was lost, or the blocks were unpersisted
    * elsewhere): the localCheckpoint'ed layer has no lineage to
    * recompute it from.
    */
  private[graft] def lostBlock(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists(t =>
      String.valueOf(t.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))

  /** Make freshly built blocks resident and lineage-free: persist, mark
    * for local checkpointing, then materialize (one job, which also
    * counts the rows). After it the RDD's only dependency is its own
    * cached blocks, so a query job serializes none of the build's plan.
    */
  private def resident(blocks: RDD[Block]): (RDD[Block], Long) = {
    blocks.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    try (blocks, materializedRows(blocks))
    catch { case t: Throwable => blocks.unpersist(); throw t }
  }

  /** One ranked scan hit. `words` is the row's packed code; `bytes` its
    * int8 embedding and `doc` its payload — null unless the scan was
    * built `withBytes`/`withDoc`.
    */
  final case class Hit(id: Long, hamming: Int, words: Array[Long],
                       bytes: Array[Byte], doc: String)

  /** One partition's scan block: parallel primitive arrays; `words` is
    * row-major flattened (row i occupies [i·nWords, (i+1)·nWords)).
    * `cells` is empty for non-IVF layouts; `bytes` (row-major, constant
    * `byteLen` per row) and `docs` are empty unless built with
    * payloads. `layer` is the block's position in an incremental chain
    * (0 = the full build; k = the k-th delta extension) — a row is live
    * iff no LATER layer touched its id ([[Superseded]]).
    *
    * `bytes` is CHUNKED (`rowsPerChunk` rows per flat chunk): a single
    * flat payload array caps a block at Int.MaxValue/byteLen rows —
    * ~2M rows at dim 1024 — and the first TRUE-geometry 8M bench (2 ×
    * 4M-row blocks, 4.3 GB of int8 payload per block) overflowed
    * exactly there (`ArrayBuffer.resizeUp`, requested length
    * -2147483648). Chunks keep the row-major cache behavior (one
    * `copyOfRange` per payload read, no per-row object) with no row
    * bound; rows never straddle chunks.
    */
  private[db] case class Block(ids: Array[Long], words: Array[Long],
                               cells: Array[Int], distinctCells: Array[Int],
                               bytes: Array[Array[Byte]], byteLen: Int,
                               rowsPerChunk: Int,
                               docs: Array[String],
                               nav: BlockNav = null,
                               layer: Int = 0) {
    /** Row r's payload bytes (only valid when `byteLen > 0`). */
    def payload(r: Int): Array[Byte] = {
      val c = r / rowsPerChunk
      val off = (r - c * rowsPerChunk) * byteLen
      java.util.Arrays.copyOfRange(bytes(c), off, off + byteLen)
    }
  }

  private[db] object Block {
    def bare(ids: Array[Long], words: Array[Long], cells: Array[Int],
             distinctCells: Array[Int]): Block =
      Block(ids, words, cells, distinctCells,
        Array.empty[Array[Byte]], 0, 1, null)

    /** Per-chunk payload budget: chunks stay comfortably under the
      * Int.MaxValue array bound while big enough that the chunk seam
      * costs nothing (one extra array deref per payload read).
      */
    val PayloadChunkBytes: Long = 1L << 30
  }

  /** Chain-wide shadowing map for incrementally extended scans: for
    * each id any delta layer touched (upsert OR tombstone), the HIGHEST
    * layer that touched it. A block row is live iff
    * `latestLayer(id) <= block.layer` — the newest write wins, deletes
    * have no row anywhere, and each id has exactly one live row across
    * the chain. Sorted parallel arrays, probed by binary search at the
    * same point as the selector allowlist (only for rows that already
    * survived the hamming bound), so unextended scans and non-superseded
    * rows pay nothing.
    */
  final class Superseded(val ids: Array[Long], val layers: Array[Int])
      extends Serializable {
    /** Highest layer that rewrote `id`, or -1 if never touched. */
    def latestLayer(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) layers(i) else -1
    }
    def size: Int = ids.length
  }

  object Superseded {
    /** Merge an existing map with a new window's touched ids (sorted,
      * distinct), which all land at `layer` — later layers win on
      * collision.
      */
    def merge(prev: Superseded, touched: Array[Long], layer: Int): Superseded = {
      if (prev == null || prev.size == 0)
        return new Superseded(touched, Array.fill(touched.length)(layer))
      val outIds = new Array[Long](prev.size + touched.length)
      val outLayers = new Array[Int](outIds.length)
      var i = 0; var j = 0; var n = 0
      while (i < prev.size || j < touched.length) {
        if (j >= touched.length ||
            (i < prev.size && prev.ids(i) < touched(j))) {
          outIds(n) = prev.ids(i); outLayers(n) = prev.layers(i); i += 1
        } else if (i >= prev.size || touched(j) < prev.ids(i)) {
          outIds(n) = touched(j); outLayers(n) = layer; j += 1
        } else { // same id: the new (higher) layer wins
          outIds(n) = touched(j); outLayers(n) = layer; i += 1; j += 1
        }
        n += 1
      }
      new Superseded(java.util.Arrays.copyOf(outIds, n),
        java.util.Arrays.copyOf(outLayers, n))
    }
  }

  /** Bookkeeping an incremental chain carries for the owner's
    * retire-to-full-rebuild policy: depth (full build = 0), the row
    * count of the full build, cumulative churn (rows touched by all
    * extensions), and — in MOR mode — the committed ceilings and fold
    * ceilings of the snapshot the scan currently represents (the next
    * extension's window floor, and the fold-detection guard).
    */
  final case class ChainInfo(depth: Int, baseRows: Long, churnRows: Long,
                             morCeilings: (Int, Int), morFolds: (Int, Int))

  object ChainInfo {
    val none: ChainInfo = ChainInfo(0, 0L, 0L, (0, 0), (0, 0))
  }

  private[db] val rankOrder: java.util.Comparator[Hit] =
    (x: Hit, y: Hit) => {
      val c = java.lang.Integer.compare(x.hamming, y.hamming)
      if (c != 0) c else java.lang.Long.compare(x.id, y.id)
    }

  /** One query against one block: through the block's [[BlockNav]] when
    * the index strategy built one (sub-linear, possibly approximate),
    * else the exhaustive [[scanBlock]]. Both return rank-sorted ≤ B hits
    * with the same payload handling, so everything downstream is shared.
    */
  private[db] def dispatchScan(blk: Block, qWords: Array[Long], nWords: Int,
                               b: Int, probeSorted: Array[Int],
                               sel: IdProbe, sup: Superseded = null): Array[Hit] =
    if (blk.nav == null) scanBlock(blk, qWords, nWords, b, probeSorted, sel, sup)
    else {
      val filterCells = probeSorted != null && blk.cells.length > 0
      val checkSup = sup != null && sup.size > 0
      val admit: Int => Boolean =
        if (!filterCells && sel == null && !checkSup) _ => true
        else row =>
          (!filterCells ||
            java.util.Arrays.binarySearch(probeSorted, blk.cells(row)) >= 0) &&
            (sel == null || sel.contains(blk.ids(row))) &&
            (!checkSup || sup.latestLayer(blk.ids(row)) <= blk.layer)
      val packed = blk.nav.topPacked(qWords, b, admit)
      val withPayload = blk.byteLen > 0
      val out = new Array[Hit](packed.length)
      var i = 0
      while (i < packed.length) {
        val h = (packed(i) >>> 32).toInt
        val r = (packed(i) & 0xffffffffL).toInt
        out(i) = Hit(blk.ids(r), h,
          java.util.Arrays.copyOfRange(blk.words, r * nWords, (r + 1) * nWords),
          if (withPayload) blk.payload(r) else null,
          if (blk.docs != null) blk.docs(r) else null)
        i += 1
      }
      out
    }

  /** Bounded-heap scan of one block. The heap keeps the B smallest
    * (hamming, doc_id) pairs as a max-heap on that order, so the root is
    * the current worst kept row; a row whose RUNNING word-sum already
    * exceeds the root's hamming abandons the remaining words (the sum
    * only grows). Mirrors the Catalyst kernels bit-for-bit: int sum of
    * `Long.bitCount(word ^ qWord)` over min(nWords, |q|) words.
    * `sel` (nullable) is a doc_id allowlist probe consulted only
    * when a row has survived the hamming bound — rejected rows never
    * tighten the heap, so the filtered result is exactly the top-B of
    * the allowlisted subset.
    */
  private[db] def scanBlock(blk: Block, qWords: Array[Long], nWords: Int,
                            b: Int, probeSorted: Array[Int],
                            sel: IdProbe = null,
                            sup: Superseded = null): Array[Hit] = {
    val checkSup = sup != null && sup.size > 0
    val n = blk.ids.length
    val cap = math.min(b, math.max(n, 1))
    // parallel-array binary max-heap on (hamming, id)
    val heapH = new Array[Int](cap)
    val heapId = new Array[Long](cap)
    val heapRow = new Array[Int](cap)
    var size = 0

    def worseThanRoot(h: Int, id: Long): Boolean =
      h > heapH(0) || (h == heapH(0) && id > heapId(0))

    def siftDown(i0: Int): Unit = {
      var i = i0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < size && (heapH(l) > heapH(m) ||
          (heapH(l) == heapH(m) && heapId(l) > heapId(m)))) m = l
        if (r < size && (heapH(r) > heapH(m) ||
          (heapH(r) == heapH(m) && heapId(r) > heapId(m)))) m = r
        if (m == i) done = true
        else {
          val th = heapH(i); heapH(i) = heapH(m); heapH(m) = th
          val ti = heapId(i); heapId(i) = heapId(m); heapId(m) = ti
          val tr = heapRow(i); heapRow(i) = heapRow(m); heapRow(m) = tr
          i = m
        }
      }
    }

    def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val p = (i - 1) / 2
        if (heapH(i) > heapH(p) || (heapH(i) == heapH(p) && heapId(i) > heapId(p))) {
          val th = heapH(i); heapH(i) = heapH(p); heapH(p) = th
          val ti = heapId(i); heapId(i) = heapId(p); heapId(p) = ti
          val tr = heapRow(i); heapRow(i) = heapRow(p); heapRow(p) = tr
          i = p
        } else i = 0
      }
    }

    val filterCells = probeSorted != null && blk.cells.length > 0
    var row = 0
    while (row < n) {
      if (!filterCells ||
          java.util.Arrays.binarySearch(probeSorted, blk.cells(row)) >= 0) {
        val base = row * nWords
        val bound = if (size == cap) heapH(0) else Int.MaxValue
        var acc = 0
        var w = 0
        while (w < nWords && acc <= bound) {
          acc += java.lang.Long.bitCount(blk.words(base + w) ^ qWords(w))
          w += 1
        }
        if (w == nWords) {
          val id = blk.ids(row)
          if ((sel == null || sel.contains(id)) &&
              (!checkSup || sup.latestLayer(id) <= blk.layer)) {
            if (size < cap) {
              heapH(size) = acc; heapId(size) = id; heapRow(size) = row
              size += 1
              siftUp(size - 1)
            } else if (!worseThanRoot(acc, id)) {
              heapH(0) = acc; heapId(0) = id; heapRow(0) = row
              siftDown(0)
            }
          }
        }
      }
      row += 1
    }

    val withPayload = blk.byteLen > 0
    val out = new Array[Hit](size)
    var i = 0
    while (i < size) {
      val r = heapRow(i)
      out(i) = Hit(heapId(i), heapH(i),
        java.util.Arrays.copyOfRange(blk.words, r * nWords, (r + 1) * nWords),
        if (withPayload) blk.payload(r) else null,
        if (blk.docs != null) blk.docs(r) else null)
      i += 1
    }
    java.util.Arrays.sort(out, rankOrder)
    out
  }

  /** Range scan of one block: every row with hamming ≤ `radius`,
    * abandoning each row's word loop the moment the running sum exceeds
    * the fixed radius. Same membership semantics as [[scanBlock]] for
    * `probeSorted`/`sel`.
    */
  private[db] def rangeScanBlock(blk: Block, qWords: Array[Long], nWords: Int,
                                 radius: Int, probeSorted: Array[Int],
                                 sel: IdProbe = null,
                                 sup: Superseded = null): Array[Hit] = {
    val checkSup = sup != null && sup.size > 0
    val n = blk.ids.length
    val out = scala.collection.mutable.ArrayBuilder.make[Hit]
    val withPayload = blk.byteLen > 0
    val filterCells = probeSorted != null && blk.cells.length > 0
    var row = 0
    while (row < n) {
      if (!filterCells ||
          java.util.Arrays.binarySearch(probeSorted, blk.cells(row)) >= 0) {
        val base = row * nWords
        var acc = 0
        var w = 0
        while (w < nWords && acc <= radius) {
          acc += java.lang.Long.bitCount(blk.words(base + w) ^ qWords(w))
          w += 1
        }
        if (w == nWords && acc <= radius) {
          val id = blk.ids(row)
          if ((sel == null || sel.contains(id)) &&
              (!checkSup || sup.latestLayer(id) <= blk.layer)) {
            out += Hit(id, acc,
              java.util.Arrays.copyOfRange(blk.words, base, base + nWords),
              if (withPayload) blk.payload(row) else null,
              if (blk.docs != null) blk.docs(row) else null)
          }
        }
      }
      row += 1
    }
    out.result()
  }

  /** Build (and materialize) the prepared scan. `codes` must expose
    * either `code:array<long>` (array layout) or `c0..c{nWords-1}:long`
    * (flat layout), plus `cell:int` under IVF; with `withBytes` also
    * `emb_int8:binary` (constant length — the index dim) and with
    * `withDoc` also `doc:string`. Each source partition becomes one
    * block; no shuffle beyond whatever produced `codes`. `navBuilder`,
    * when given, builds each block's [[BlockNav]] candidate generator
    * right after the arrays (executor-side, commit-amortized).
    */
  def build(codes: DataFrame, nWords: Int, isFlat: Boolean,
            isIvf: Boolean, withBytes: Boolean = false,
            withDoc: Boolean = false,
            navBuilder: Option[NavBuilder] = None,
            chain: ChainInfo = ChainInfo.none,
            navStore: Option[NavStore] = None,
            blockStore: Option[BlockStore] = None): PreparedScan = {
    // One job materializes eagerly (serving opts into RAM residency)
    // AND counts the rows; a chain's churn policy reads the count too.
    val (blocks, rows) = resident(blockify(codes, nWords, isFlat, isIvf,
      withBytes, withDoc, navBuilder, layer = 0, navStore = navStore,
      blockStore = blockStore))
    // Manifest LAST, driver-side, only once every block file landed —
    // its presence is the warm path's all-or-nothing gate. It records
    // the chain's MOR ceilings/folds: the snapshot window floor a warm
    // RESTART extends from ((0,0)s under COW — never a seed).
    blockStore.foreach(_.writeManifestIfComplete(blocks.getNumPartitions,
      rows, chain.morCeilings, chain.morFolds))
    new PreparedScan(Vector(blocks), nWords, null, chain.copy(baseRows = rows),
      rows, () => blocks.unpersist())
  }

  /** Rebuild the serving tier PURELY from [[BlockStore]] files — the
    * warm path for an unchanged snapshot: one IO-bound task per block
    * streams the packed arrays back (CRC-gated), reattaches the block's
    * persisted nav ([[NavStore]]) or rebuilds it, and pins the block.
    * No codes⋈docs join, no shuffle, no Row materialization — the
    * 47–74 s per-4M-block assembly wall becomes sequential reads.
    * None when there is no complete, geometry-matching manifest or any
    * block file fails its check — the caller falls back to the full
    * build. Never wrong, only absent: every acceptance is validated
    * (manifest geometry, per-file CRC, nav id remap).
    */
  def loadPersisted(sc: org.apache.spark.SparkContext,
                    store: BlockStore, nWords: Int,
                    navBuilder: Option[NavBuilder],
                    navStore: Option[NavStore],
                    chain: ChainInfo): Option[PreparedScan] =
    store.readManifest().flatMap { manifest =>
      val nBlocks = manifest.nBlocks
      val blocks = sc.parallelize(0 until nBlocks, nBlocks).mapPartitions { it =>
        val pid = it.next()
        val blk = store.tryLoadBlock(pid).getOrElse(
          throw new PreparedScan.BlockLoadFailed(pid))
        val nav = navBuilder.map { nb =>
          navStore.flatMap(_.tryLoad(pid, blk.ids, blk.words, nWords)).getOrElse {
            val built = nb.build(blk.ids, blk.words, nWords)
            navStore.foreach(_.trySave(pid, built))
            built
          }
        }.orNull
        Iterator.single(blk.copy(nav = nav))
      }
      try {
        val (_, rows) = resident(blocks)
        Some(new PreparedScan(Vector(blocks), nWords, null, chain.copy(baseRows = rows),
          rows, () => blocks.unpersist()))
      } catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(classOf[PreparedScan]).warn(
            s"persisted serving blocks rejected (falling back to a full " +
              s"build): $e")
          None
      }
    }

  /** A block file failed its load inside the warm path's task — fails
    * the job so the driver falls back to the full build (per-block
    * fallback is impossible: the cold path's partitioning comes from
    * the join, not from file indices).
    */
  private[db] final class BlockLoadFailed(pid: Int)
      extends RuntimeException(s"persisted serving block $pid failed to load")

  /** Extend `base` with one incremental delta layer instead of
    * rebuilding: `windowRows` are the resolved live rows of the commit
    * window being adopted (same schema contract as [[build]]'s `codes`)
    * and `touched` every id the window wrote (upserts AND tombstones,
    * sorted distinct). The extension blockifies ONLY the window — its
    * per-block navigators cost O(window), not O(table) — and reuses the
    * base's resident blocks untouched; rows the window superseded are
    * masked at scan time through the merged [[Superseded]] map, which is
    * broadcast once per extension. The result is EXACTLY the scan a
    * full rebuild at the new snapshot would produce (each id resolves
    * to its newest layer; tombstoned ids resolve to nothing).
    *
    * Ownership: the new scan holds the ONE reference on `base` its
    * owner transferred (released through `onBaseFree` when the new scan
    * is freed) and owns its delta layer RDD. Scale note: delta blocks
    * are built once from the window (bounded) and checkpointed like the
    * base's; the chain scans all layers as one flat union, and base
    * blocks stay cached where they are — an extension never
    * re-materializes, re-caches, or shuffles the base tier.
    */
  def extend(base: PreparedScan, windowRows: DataFrame,
             touched: Array[Long], nWords: Int, isFlat: Boolean,
             isIvf: Boolean, withBytes: Boolean, withDoc: Boolean,
             navBuilder: Option[NavBuilder],
             newCeilings: (Int, Int),
             onBaseFree: () => Unit): PreparedScan = {
    val layer = base.chain.depth + 1
    // materialized before the layer can serve
    val (delta, deltaRows) = resident(blockify(windowRows, nWords, isFlat,
      isIvf, withBytes, withDoc, navBuilder, layer))
    val prevSup = if (base.supBc == null) null else base.supBc.value
    val merged = Superseded.merge(prevSup, touched, layer)
    val supB = delta.sparkContext.broadcast(merged)
    val chain = ChainInfo(layer, base.chain.baseRows,
      base.chain.churnRows + touched.length, newCeilings,
      base.chain.morFolds)
    val lb = deltaRows + math.max(0L, base.rowsLowerBound - touched.length)
    new PreparedScan(base.layers :+ delta, nWords, supB, chain, lb, () => {
      delta.unpersist()
      supB.unpersist()
      onBaseFree()
    })
  }

  /** [[extend]] for a window with NO live rows — a delete-only commit
    * (every touched id is a tombstone). The layer exists purely as a
    * shadowing-map increment: no delta blocks to build, so the blockify
    * + materialization Spark job of the general path is skipped and the
    * refresh cost is one broadcast (r18; the crawl-loop delete regime —
    * x2's post-remove search — paid a one-task job per refresh for an
    * empty layer). Chain accounting is identical to `extend` with
    * deltaRows = 0: depth increments, churn accrues, ceilings advance.
    */
  def extendDeleteOnly(base: PreparedScan, touched: Array[Long],
                       newCeilings: (Int, Int),
                       onBaseFree: () => Unit): PreparedScan = {
    val layer = base.chain.depth + 1
    val prevSup = if (base.supBc == null) null else base.supBc.value
    val merged = Superseded.merge(prevSup, touched, layer)
    val supB = base.blocks.sparkContext.broadcast(merged)
    val chain = ChainInfo(layer, base.chain.baseRows,
      base.chain.churnRows + touched.length, newCeilings,
      base.chain.morFolds)
    val lb = math.max(0L, base.rowsLowerBound - touched.length)
    new PreparedScan(base.layers, nWords = base.nWords, supB, chain, lb, () => {
      supB.unpersist()
      onBaseFree()
    })
  }

  /** Materialize a persisted block RDD (one job) and return its total
    * row count.
    */
  private def materializedRows(blocks: RDD[Block]): Long =
    blocks.sparkContext.runJob(blocks,
      (it: Iterator[Block]) => it.map(_.ids.length.toLong).sum).sum

  /** Shared block construction: each source partition becomes one block
    * with `layer` baked in (NOT yet persisted or materialized — callers
    * make it [[resident]]).
    */
  private def blockify(codes: DataFrame, nWords: Int, isFlat: Boolean,
                       isIvf: Boolean, withBytes: Boolean, withDoc: Boolean,
                       navBuilder: Option[NavBuilder],
                       layer: Int,
                       /** Full builds pass the snapshot-versioned store:
                         * each block reloads its persisted graph when
                         * fresh (id-validated) instead of rebuilding,
                         * and persists what it builds. Chain-extension
                         * delta layers pass None — their navs are
                         * O(batch) and not worth files.
                         */
                       navStore: Option[NavStore] = None,
                       /** Full builds under a nav strategy also persist
                         * the packed block arrays themselves, making the
                         * next warm serve-build pure IO
                         * ([[PreparedScan.loadPersisted]]).
                         */
                       blockStore: Option[BlockStore] = None): RDD[Block] = {
    val wordsCol =
      if (isFlat) array((0 until nWords).map(i => col(s"c$i")): _*).as("w")
      else col("code").as("w")
    val baseCols = Seq(col("doc_id"), wordsCol) ++
      (if (isIvf) Seq(col("cell")) else Seq.empty) ++
      (if (withBytes) Seq(col("emb_int8")) else Seq.empty) ++
      (if (withDoc) Seq(col("doc")) else Seq.empty)
    val cols = codes.select(baseCols: _*)
    val cellAt = if (isIvf) 2 else -1
    val bytesAt = if (withBytes) (if (isIvf) 3 else 2) else -1
    val docAt = if (withDoc) bytesAt.max(cellAt).max(1) + 1 else -1
    cols.rdd.mapPartitions { it =>
      val ids = scala.collection.mutable.ArrayBuilder.make[Long]
      val words = scala.collection.mutable.ArrayBuilder.make[Long]
      val cells = scala.collection.mutable.ArrayBuilder.make[Int]
      val docs = scala.collection.mutable.ArrayBuilder.make[String]
      // payload chunks: a single flat Array[Byte] caps the block at
      // ~2M rows × dim 1024 (Int.MaxValue bytes) — see Block's doc
      val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var cur = scala.collection.mutable.ArrayBuilder.make[Byte]
      var curRows = 0
      var byteLen = 0
      var rowsPerChunk = 0
      it.foreach { r =>
        ids += r.getLong(0)
        val w = r.getSeq[Long](1)
        var i = 0
        while (i < w.length) { words += w(i); i += 1 }
        if (isIvf) cells += r.getInt(cellAt)
        if (withBytes) {
          val ba = r.getAs[Array[Byte]](bytesAt)
          if (byteLen == 0) {
            byteLen = ba.length
            rowsPerChunk = math.max(1,
              (Block.PayloadChunkBytes / math.max(1, byteLen)).toInt)
          } else require(ba.length == byteLen,
            s"in-band payload rows must share one length: $byteLen vs ${ba.length}")
          cur ++= ba
          curRows += 1
          if (curRows == rowsPerChunk) {
            chunks += cur.result()
            cur = scala.collection.mutable.ArrayBuilder.make[Byte]
            curRows = 0
          }
        }
        if (withDoc) docs += r.getString(docAt)
      }
      if (curRows > 0) chunks += cur.result()
      val cellArr = cells.result()
      val idArr = ids.result()
      val wordArr = words.result()
      val nav = navBuilder.map { nb =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        navStore.flatMap(_.tryLoad(pid, idArr, wordArr, nWords)).getOrElse {
          val built = nb.build(idArr, wordArr, nWords)
          navStore.foreach(_.trySave(pid, built))
          built
        }
      }.orNull
      val blk = Block(idArr, wordArr, cellArr,
        cellArr.distinct.sorted, chunks.toArray, byteLen,
        math.max(1, rowsPerChunk),
        if (withDoc) docs.result() else null,
        nav,
        layer)
      blockStore.foreach(
        _.trySaveBlock(org.apache.spark.TaskContext.getPartitionId(), blk))
      Iterator.single(blk)
    }
  }
}
