package graft.db

/** JVM-global registry of serving block sets, keyed by (Spark
  * application, qualified DB folder, snapshot version) — the shared
  * prepared-block cache.
  *
  * Why: [[PreparedScan]] blocks pin the whole hot tier (codes + int8 +
  * payloads) in executor memory. Before this cache each [[VectorDB]]
  * INSTANCE built its own blocks, so two handles onto the same folder —
  * a second session, a library layered over the engine, a test fixture —
  * silently doubled the serving footprint. Now the blocks are owned
  * here, refcounted, and every instance over the same (app, folder,
  * snapshot) shares one set.
  *
  * Versioning: each commit writes a fresh snapshot id to the folder's
  * `_snapshot` marker and registers it via [[invalidate]]. The hot-path
  * freshness check ([[currentVersion]]) is ONE in-memory map read — no
  * filesystem touch per query; the marker file is consulted only the
  * first time a folder is seen in this JVM (and by other JVMs at their
  * own first sight). Cross-JVM commits are therefore observed at open
  * time, not mid-flight — same snapshot-isolation contract the parquet
  * tiers already give.
  *
  * Lifecycle: [[acquire]] returns the live entry for (key, version) or
  * builds one (refcount 1); [[release]] decrements and unpersists at
  * zero — so a superseded snapshot's blocks survive exactly until the
  * last instance still serving it refreshes and its last in-flight
  * search ends, and `disableServing` on the only holder frees the
  * memory as before. Entries whose SparkContext has stopped are
  * rebuilt, not returned (test suites restart sessions); an entry whose
  * blocks were lost is [[evict]]ed, and the next search rebuilds it.
  */
private[graft] object BlockCache {

  /** One folder as one application sees it. `app` is the Spark
    * applicationId (block RDDs live and die with the SparkContext);
    * `folder` is the FileSystem-qualified path, so "/x" and "/x/" and
    * "file:/x" collide onto one entry.
    */
  final case class Key(app: String, folder: String)

  private final class Entry(val scan: PreparedScan) { var refs: Int = 0 }

  private val current = new java.util.concurrent.ConcurrentHashMap[Key, String]()
  private val entries = new java.util.concurrent.ConcurrentHashMap[(Key, String), Entry]()

  /** The folder's current snapshot version in this JVM; `load` reads
    * the on-disk marker the first time the folder is seen. Hot-path
    * cost: one concurrent-map read.
    */
  def currentVersion(key: Key, load: () => String): String = {
    val v = current.get(key)
    if (v != null) v else current.computeIfAbsent(key, _ => load())
  }

  /** A commit installed `newVersion` for `key`. Holders of older
    * versions keep serving their snapshot until they next check
    * freshness; their blocks free at last release. Cataloged selectors
    * compiled against older snapshots are invalidated here too — this
    * is the single funnel every version install (COW, MOR, compaction,
    * cross-JVM marker adoption) goes through.
    */
  def invalidate(key: Key, newVersion: String): Unit = {
    current.put(key, newVersion)
    SelectorCatalog.invalidateFolder(key, newVersion)
  }

  /** An in-flight build for one (key, version): the thread that won the
    * race runs the builder OUTSIDE the registry lock; latecomers for the
    * SAME entry wait on the latch, everyone else proceeds. Before this,
    * `acquire` ran the whole build (full Spark jobs, driver-side window
    * collects on the incremental-serving path) inside the global
    * synchronized block, so a slow build on one folder stalled
    * acquire/release for every VectorDB in the JVM (ADVICE r11).
    */
  private final class Building {
    val latch = new java.util.concurrent.CountDownLatch(1)
    @volatile var result: PreparedScan = null
    @volatile var failure: Throwable = null
  }
  private val building =
    new java.util.concurrent.ConcurrentHashMap[(Key, String), Building]()

  /** Get-or-build the shared blocks for (key, version); the caller owns
    * one reference and must [[release]] it. A dead entry (stopped
    * SparkContext) is replaced. Only acquirers of the SAME (key,
    * version) wait while its blocks build; the registry lock is held
    * only for the map bookkeeping.
    */
  def acquire(key: Key, version: String)(build: => PreparedScan): PreparedScan = {
    val k = (key, version)
    while (true) {
      val hit = synchronized {
        val e = entries.get(k)
        if (e != null && e.scan.isAlive) { e.refs += 1; e.scan }
        else { if (e != null) entries.remove(k); null }
      }
      if (hit != null) return hit
      val mine = new Building
      val race = building.putIfAbsent(k, mine)
      if (race == null) {
        try {
          val scan =
            try build
            catch { case t: Throwable => mine.failure = t; throw t }
          // Install under the lock, RE-CHECKING for a live entry first:
          // between this thread's hit-check and its putIfAbsent, a prior
          // builder may have installed its entry and removed its
          // Building token — so this thread built a duplicate. Blindly
          // `entries.put`-ing it would clobber the live entry, whose
          // holders' later release() calls would then decrement the NEW
          // entry (premature unpersist) while the clobbered scan leaks.
          // Adopt the existing entry and discard the duplicate instead.
          var dup: PreparedScan = null
          val out = synchronized {
            val e = entries.get(k)
            if (e != null && e.scan.isAlive) {
              e.refs += 1
              dup = scan
              e.scan
            } else {
              if (e != null) entries.remove(k)
              val ne = new Entry(scan)
              ne.refs = 1
              entries.put(k, ne)
              scan
            }
          }
          mine.result = out
          if ((dup ne null) && dup.isAlive) dup.unpersist()
          return out
        } finally {
          building.remove(k)
          mine.latch.countDown()
        }
      } else {
        race.latch.await()
        if (race.failure == null && race.result != null) {
          val adopted = synchronized {
            val e = entries.get(k)
            if (e != null && (e.scan eq race.result) && e.scan.isAlive) {
              e.refs += 1; e.scan
            } else null
          }
          if (adopted != null) return adopted
        }
        // builder failed, or the entry was released/died before we could
        // take a reference — retry (this thread may become the builder)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The registry name of an ABSORBED (background-flattened) twin of a
    * chain entry at `v`: same snapshot content, depth-0 blocks. A
    * synthetic version string — never installed in `current`, never
    * written to a marker; purely a shared-cache rendezvous so a second
    * instance over the folder adopts the flattened tier instead of
    * keeping its own chain.
    */
  private[db] val AbsorbedSuffix = "#absorbed"
  private[db] def absorbedVersion(v: String): String = v + AbsorbedSuffix

  /** Take a reference on (key, version) ONLY if a live entry already
    * exists — never builds. The absorbed-twin lookup on the serving
    * path.
    */
  def tryAcquire(key: Key, version: String): Option[PreparedScan] = synchronized {
    val e = entries.get((key, version))
    if (e != null && e.scan.isAlive) { e.refs += 1; Some(e.scan) } else None
  }

  /** Register an externally built scan under (key, version) and take one
    * reference on it. If a live entry already exists (another instance
    * offered first), that entry wins: a reference on IT is returned and
    * the caller must unpersist its own scan (compare identity).
    */
  def offer(key: Key, version: String, scan: PreparedScan): PreparedScan =
    synchronized {
      val k = (key, version)
      val e = entries.get(k)
      if (e != null && e.scan.isAlive) { e.refs += 1; e.scan }
      else {
        if (e != null) entries.remove(k)
        val ne = new Entry(scan)
        ne.refs = 1
        entries.put(k, ne)
        scan
      }
    }

  /** Drop one reference on `scan`; unpersist and forget the entry at
    * zero. The unpersist waits for the scan's in-flight served jobs
    * ([[PreparedScan.unpersist]]). A no-op when the entry no longer
    * holds `scan` ([[evict]]ed after a block loss): the holder's
    * reference went with the eviction, and a rebuilt entry under the
    * same version must not lose one of its own.
    */
  def release(key: Key, version: String, scan: PreparedScan): Unit = synchronized {
    val e = entries.get((key, version))
    if (e != null && (e.scan eq scan)) {
      e.refs -= 1
      if (e.refs <= 0) {
        entries.remove((key, version))
        if (e.scan.isAlive) e.scan.unpersist()
      }
    }
  }

  /** Forget whichever entry of `key` holds `scan`, whatever its
    * refcount, and unpersist it (deferred past its in-flight jobs): its
    * blocks are lost, so every holder must rebuild rather than share it.
    * Holders drop their now-dangling reference when a pin on it fails.
    */
  def evict(key: Key, scan: PreparedScan): Unit = {
    synchronized {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == key && (e.getValue.scan eq scan)) it.remove()
      }
    }
    scan.unpersist()
  }

  /** Snapshot versions with a live referenced entry for `folder` in
    * this JVM — the commit-time `_nav`/`_blocks` sweep keeps these dirs
    * so a pinned scan's partition lost to storage failure can stream
    * its block file back instead of dying on a deleted path. Absorbed
    * twins report their underlying version (the dir name on disk).
    */
  private[db] def liveVersionsFor(folder: String): Set[String] = synchronized {
    val b = Set.newBuilder[String]
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val ((k, v), entry) = (e.getKey, e.getValue)
      if (k.folder == folder && entry.refs > 0 && entry.scan.isAlive)
        b += v.stripSuffix(AbsorbedSuffix)
    }
    b.result()
  }

  /** Test hook: live entry count for a folder (any version). */
  private[graft] def liveEntriesFor(folder: String): Int = synchronized {
    var n = 0
    val it = entries.keySet().iterator()
    while (it.hasNext) if (it.next()._1.folder == folder) n += 1
    n
  }

  /** Test hook: refcount of (key, version), 0 if absent. */
  private[graft] def refsFor(key: Key, version: String): Int = synchronized {
    val e = entries.get((key, version))
    if (e == null) 0 else e.refs
  }

  /** Test hook: rewind the in-JVM current version, simulating a commit
    * that happened in ANOTHER JVM (marker on disk moved, this JVM's map
    * did not) — the regime [[graft.db.VectorDB.pollMarkerEvery]] exists
    * for.
    */
  private[graft] def forceVersionForTest(key: Key, version: String): Unit =
    current.put(key, version)
}
