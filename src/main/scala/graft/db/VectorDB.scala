package graft.db

import graft.functions.Kernels
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The engine facade mirroring the reference's `BinaryVectorDB` class
  * (`BinaryVectorDB/BinaryVectorDB.py:17-259`) on a Spark-native layout:
  *
  * {{{
  * folder/
  *   config.json     — {"version":"1.0","model":...,"dim":64}
  *   codes.parquet   — doc_id:long, code:array<long>        (hot tier)
  *   docs.parquet    — doc_id:long, doc:string, emb_int8:binary (cold tier)
  * }}}
  *
  * mirroring the reference's {config.json, index.bin, docs/} two-tier
  * split (`BinaryVectorDB.py:42-64`; `README.md:68-70`): the packed-code
  * relation is small (16 bytes/row at dim 64, 136 at dim 1024) and kept
  * `persist(MEMORY_AND_DISK)`-resident for exhaustive Phase-I scans; the
  * doc+int8 relation is read per query and joined only for the ≤
  * k·oversample candidates (broadcast hash join = the point-lookup batch).
  *
  * Upserts are delete-then-insert (`BinaryVectorDB.py:92-101` semantics)
  * with two storage modes behind the same API:
  *  - `cow` (default): anti-join + union + atomic snapshot overwrite —
  *    simple, O(table) per commit; right at fixture scale.
  *  - `mor` ([[MorTable]]): append-only delta commits + tombstones with
  *    last-writer-wins merge-on-read and explicit [[compact]] — O(batch)
  *    per commit, the at-scale upsert path (Delta/Iceberg-style).
  */
class VectorDB private (
    val spark: SparkSession,
    val folder: String,
    val model: String,
    val dim: Int,
    val storage: String,
    val layout: String,
    val index: String,
    val ivfCells: Int,
    val ivfAssign: String) {

  import VectorDB._

  private def fs: FileSystem =
    FileSystem.get(new java.net.URI(folder), spark.sparkContext.hadoopConfiguration)

  private def versionedCodesPath(v: String) = s"$folder/codes-$v.parquet"
  private def versionedDocsPath(v: String) = s"$folder/docs-$v.parquet"

  /** (codes dir, docs dir) of the CURRENT snapshot version: the
    * versioned dirs when they exist, else the legacy unversioned pair
    * (pre-versioning folders, and any version committed before
    * versioned snapshots shipped). Memoized per version — the hot path
    * pays one field compare, not a filesystem stat.
    */
  @volatile private var resolvedFor: (String, String, String) = null
  private def resolvedPaths: (String, String) = {
    val v = lastSeenVersion
    val r = resolvedFor
    if (r != null && r._1 == v) (r._2, r._3)
    else {
      val cp = versionedCodesPath(v)
      val pair =
        if (v != VectorDB.GenesisVersion && fs.exists(new Path(cp)))
          (cp, versionedDocsPath(v))
        else (s"$folder/codes.parquet", s"$folder/docs.parquet")
      resolvedFor = (v, pair._1, pair._2)
      pair
    }
  }
  private def codesPath = resolvedPaths._1
  private def docsPath = resolvedPaths._2

  /** Read one snapshot tier at an explicit location ([[Snapshot]]'s
    * accessor): raw uncached read; empty relation when the snapshot
    * predates any data.
    */
  private[db] def readTierAt(dir: String, hot: Boolean): DataFrame =
    if (!fs.exists(new Path(dir)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (hot) emptyCodesSchema else docsSchema)
    else spark.read.parquet(dir)

  private val isMor = storage == VectorDB.StorageMor
  private val isFlat = layout == VectorDB.LayoutFlat
  /** The pluggable index strategy behind the `index` name (the
    * reference's `index_type` seam, `BinaryVectorDB.py:17`): built-ins
    * flat/ivf, extensible via [[IndexStrategies.register]].
    */
  private val indexStrategy: IndexStrategy = IndexStrategies.get(index)
    .getOrElse(throw new IllegalArgumentException(
      s"index strategy '$index' is not registered in this JVM " +
        s"(known: ${IndexStrategies.names.toSeq.sorted.mkString(", ")})"))
  private val isIvf = indexStrategy.partitioned
  private val isKmeansAssign = isIvf && ivfAssign == VectorDB.IvfAssignKmeans
  /** Code words per vector (64 bits each). */
  private val nWords = (dim + 63) / 64
  /** log2(ivfCells) — the sign-code prefix width of the cell quantizer. */
  private val ivfPrefixBits = java.lang.Integer.numberOfTrailingZeros(ivfCells)
  private lazy val strategyCtx = IndexStrategy.Context(
    ivfCells, nWords, ivfPrefixBits, ivfAssign,
    () => centroidModel, (df, n) => ensureCentroids(df, n))

  /** The learned coarse-quantizer model (kmeans assignment only) —
    * immutable once written, so cached forever per instance; absent
    * until the first ingest learns it.
    */
  @volatile private var centroidCache: Option[IvfCentroids.Model] = None
  private def centroidModel: Option[IvfCentroids.Model] =
    if (!isKmeansAssign) None
    else centroidCache.orElse {
      val m = IvfCentroids.read(fs, folder)
      if (m.isDefined) centroidCache = m
      m
    }
  private lazy val codesMor = new MorTable(spark, s"$folder/codes.mor", "doc_id")
  private lazy val docsMor = new MorTable(spark, s"$folder/docs.mor", "doc_id")

  @volatile private var codesCache: Option[DataFrame] = None
  @volatile private var countCache: Long = -1L
  @volatile private var servingEnabled = false
  /** The serving blocks this instance holds a [[BlockCache]] reference
    * on, tagged with the snapshot version they were built from.
    */
  @volatile private var prepared: Option[(String, PreparedScan)] = None
  /** Incremental serving refresh knobs (0 = off, the default): see
    * [[incrementalServing]].
    */
  @volatile private var incServingChurnFrac: Double = 0.0
  @volatile private var incServingMaxLayers: Int = VectorDB.IncServingMaxLayers
  @volatile private var incServingAbsorbDepth: Int = VectorDB.IncServingAbsorbDepth
  /** The superseded serving blocks held back for a possible incremental
    * extension (one BlockCache reference, transferred to the chain when
    * the extension is adopted, released otherwise). Guarded by `this`.
    */
  private var pendingPrevServing: Option[(String, PreparedScan)] = None

  /** This folder's identity in the JVM-wide [[BlockCache]]: qualified
    * path (so spelling variants collide) + applicationId (block RDDs
    * die with their SparkContext).
    */
  private lazy val cacheKey = BlockCache.Key(
    spark.sparkContext.applicationId,
    fs.makeQualified(new Path(folder)).toString)

  private def markerPath = new Path(s"$folder/_snapshot")
  private def historyPath = new Path(s"$folder/_history")

  /** Atomic small-marker write: stage to a uniquely named sibling, then
    * swap it onto the destination with a REPLACING rename — readers see
    * the old bytes or the new bytes, never absence, never a torn file.
    *
    * The swap must NOT go through `FileSystem.rename`: its contract
    * REFUSES an existing destination (a marker-swap probe measured
    * 100% of overwrite renames returning false on the local FS, pushing
    * every swap through a delete+rename whose absence window a
    * concurrent reader hit ~4% of the time — the residual lease-steal
    * WriterLeaseHammerSpec caught after the r12 fix). On `file://` the
    * swap is java.nio ATOMIC_MOVE — rename(2) — bypassing the checksum
    * layer (markers from this path carry no .crc; a stale one from the
    * old fs.create era is removed so it can't fail-verify the new
    * bytes). Elsewhere it is FileContext rename OVERWRITE, which HDFS
    * executes atomically server-side. Only an FS with neither (exotic
    * object stores) falls back to delete+rename; [[readLease]] guards
    * that path by confirming absence with re-stats before believing it.
    */
  private def writeMarkerFile(dest: Path, bytes: Array[Byte]): Unit = {
    if (markerSwapIsPosix) {
      val destNio = java.nio.file.Paths.get(dest.toUri.getPath)
      val tmp = destNio.getParent.resolve(
        s".${destNio.getFileName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, destNio,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.deleteIfExists(
        destNio.getParent.resolve(s".${destNio.getFileName}.crc"))
      return
    }
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(dest),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case scala.util.control.NonFatal(_) =>
        // FS with no atomic replacing rename at all: delete+rename. The
        // absence window is covered by readLease's absence confirmation
        // and the other markers' reader-side retries.
        fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) {
          fs.delete(tmp, false)
          // The delete above already landed: failing NOW would leave the
          // marker ABSENT, and for `_committed` absence re-enables the
          // legacy raw-listing fallback in other readers — un-gating
          // orphan deltas (ADVICE r13). Rewrite dest from the in-memory
          // bytes (non-atomic — a reader may catch a torn read, which
          // its retry loop covers; torn beats absent). If the rewrite
          // lands, the swap COMPLETED (just not atomically) — throwing
          // would report a now-visible marker as a failed write.
          val restored =
            try {
              val o = fs.create(dest, true)
              try o.write(bytes) finally o.close()
              true
            } catch { case scala.util.control.NonFatal(_) => false }
          if (!restored)
            throw new java.io.IOException(s"atomic marker swap failed for $dest")
        }
    }
  }

  /** True when marker swaps can use rename(2) directly ([[writeMarkerFile]]). */
  private lazy val markerSwapIsPosix: Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    scheme == "file" || scheme == "local"
  }

  /** Reader-side twin of [[writeMarkerFile]]: retry a marker read that
    * fails transiently (the checksum-pair or delete+rename windows
    * above). The LAST attempt's failure propagates — persistent
    * unreadability is a real error for every marker except the lease,
    * whose caller maps it to "held by an unknown writer" instead.
    */
  private def retryingMarkerRead[T](attempts: Int = 5, sleepMs: Long = 20)(
      body: => T): T = {
    var i = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) =>
          i += 1
          if (i >= attempts) throw e
          Thread.sleep(sleepMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Ordered list of RETAINED snapshot versions (oldest first), as
    * maintained by COW commits: the versions whose generation files
    * survive GC — the last [[keepGenerations]] plus any pinned. Empty
    * for folders that predate versioned snapshots and for MOR storage.
    */
  private def readHistory(): Seq[String] = retryingMarkerRead() {
    if (!fs.exists(historyPath)) Seq.empty
    else {
      val in = fs.open(historyPath)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  private def writeHistory(versions: Seq[String]): Unit =
    writeMarkerFile(historyPath, versions.mkString("\n").getBytes("UTF-8"))

  /** How many trailing generations a COW commit retains (besides
    * pinned ones). Minimum 2 — current plus previous — because the
    * previous generation is what keeps in-flight readers of the
    * just-superseded snapshot on intact files.
    */
  def keepGenerations(k: Int): this.type = {
    require(k >= 2,
      s"keepGenerations must be >= 2 (current + previous — the previous " +
        s"generation protects in-flight readers), got $k")
    retainGenerations = k
    this
  }

  @volatile private var retainGenerations: Int = 2

  /** The retained COW generations (oldest first, current last) whose
    * files are on disk — each a valid [[snapshotAt]] target. The
    * TIME-TRAVEL window: its depth is [[keepGenerations]] (+pins).
    */
  def generations(): Seq[String] = {
    require(!isMor, "generations() applies to copy-on-write storage")
    maybeRefresh()
    val h = readHistory()
    if (h.nonEmpty) h
    else if (hasData || lastSeenVersion != VectorDB.GenesisVersion)
      Seq(lastSeenVersion)
    else Seq.empty
  }

  /** Pin and read a RETAINED past generation — time travel bounded by
    * the [[keepGenerations]] window. Same contract as [[snapshot]] but
    * at an explicit version from [[generations]].
    */
  def snapshotAt(version: String): Snapshot = {
    require(!isMor,
      "snapshotAt() pins copy-on-write file sets; merge-on-read views " +
        "are assembled at read time and cannot be pinned this way")
    maybeRefresh()
    val gens = generations()
    require(gens.contains(version),
      s"version '$version' is not retained (window: ${gens.mkString(", ")}) — " +
        "raise keepGenerations(k) to deepen the time-travel window")
    SnapshotPins.pin(cacheKey.folder, version)
    val (cp, dp) =
      if (version != VectorDB.GenesisVersion &&
          fs.exists(new Path(versionedCodesPath(version))))
        (versionedCodesPath(version), versionedDocsPath(version))
      else (s"$folder/codes.parquet", s"$folder/docs.parquet")
    new Snapshot(this, version, () => readTierAt(cp, hot = true),
      () => readTierAt(dp, hot = false))
  }

  /** The on-disk snapshot id, read when this JVM first sees the folder
    * ([[BlockCache.currentVersion]] memoizes it). A folder that predates
    * version markers reads as "genesis" everywhere, which is still
    * correct: the first commit anywhere writes a real marker.
    */
  private def readMarker(): String = retryingMarkerRead() {
    val p = markerPath
    if (!fs.exists(p)) "genesis"
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
  }

  /** Install a fresh snapshot id — called AFTER a commit's files are in
    * place (marker-then-files would let a concurrent reader cache the
    * old files under the new version). Other instances over this folder
    * observe the bump on their next tier access and re-read.
    */
  private def bumpVersion(): Unit =
    installVersion(java.util.UUID.randomUUID().toString)

  private def installVersion(v: String): Unit = {
    // Last-line fence: the mutator-entry check bounds the window to the
    // commit's own duration; re-checking here — just before the marker
    // flip makes the commit VISIBLE — shrinks it to the final write for
    // copy-on-write (a fenced loser's freshly written generation never
    // becomes current; commit-time GC reclaims it as an unreferenced
    // orphan). MOR deltas are visible from their file write, so for MOR
    // this is defense in depth, not a complete fence.
    assertWritable()
    writeMarkerFile(markerPath, v.getBytes("UTF-8"))
    BlockCache.invalidate(cacheKey, v)
    lastSeenVersion = v
    sweepOrphanSelectorDirs(v)
    sweepStaleNavDirs(v)
  }

  /** Per-block serving-graph files live under `_nav/<version>/`
    * ([[NavStore]]); a commit makes every non-current version's graphs
    * stale derived state, so sweep them here. A sweep racing a build
    * still writing into a swept dir costs that build a persist warning
    * (and a rebuild next open), never correctness — loads validate ids
    * against the live arrays.
    *
    * Versions still pinned by a live [[BlockCache]] entry in this JVM
    * are KEPT. This dates from when a warm-loaded scan's lost
    * partitions recomputed from their `_blocks` files; served blocks are
    * now lineage-free and a lost one rebuilds the tier at the current
    * version ([[withServedScan]]), so the deferral no longer protects a
    * read. Kept names are remembered and re-swept by THIS writer once the serving
    * refresh releases the old reference ([[retryDeferredNavSweep]]) —
    * only the committer deletes, so a lagging reader can never sweep a
    * version newer than the one it has seen. (Another APPLICATION
    * pinning the old version is outside this registry — same cross-JVM
    * snapshot contract as the marker cache itself.)
    *
    * Under MOR + incremental serving ONE additional non-current dir is
    * RETAINED — the newest complete build ([[warmRestartSeed]]): it is
    * the warm-RESTART seed a fresh process chain-extends from
    * ([[tryWarmChainRestart]]), and without retention the restarted
    * writer's first commit would delete it before `enableServing` ever
    * ran. Bounded by construction: one version's dirs, superseded (and
    * then swept here) as soon as a newer build persists.
    */
  private def sweepStaleNavDirs(current: String): Unit = {
    val live = BlockCache.liveVersionsFor(cacheKey.folder)
    val seed = warmRestartSeed(current)
    val kept = Set.newBuilder[String]
    Seq(s"$folder/_nav", s"$folder/_blocks").foreach { rootDir =>
      val root = new Path(rootDir)
      if (fs.exists(root))
        fs.listStatus(root).map(_.getPath).foreach { d =>
          if (d.getName != current && !seed.contains(d.getName)) {
            if (live.contains(d.getName)) kept += d.getName
            else fs.delete(d, true)
          }
        }
    }
    deferredNavSweep = deferredNavSweep ++ kept.result() - current
  }

  /** The warm-restart seed: among the NON-current persisted `_blocks`
    * builds, the one whose manifest records the highest MOR commit
    * ceilings at the CURRENT fold ceilings — the build a restarted
    * process can chain-extend with the fewest missed windows. None
    * under COW or with incremental serving off (no chain to extend —
    * the sweeps then behave exactly as before), and None for any dir
    * whose folds mismatch (a compaction folded the windows a chain
    * would read; such seeds are dead weight and get swept). Reads one
    * small `_manifest` per candidate dir — there are at most a couple,
    * the sweeps themselves keep it that way.
    */
  private def warmRestartSeed(current: String): Option[String] = {
    if (!isMor || incServingChurnFrac <= 0) return None
    val root = new Path(s"$folder/_blocks")
    if (!fs.exists(root)) return None
    val foldsNow = (codesMor.foldCeiling(), docsMor.foldCeiling())
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_ != current)
      .flatMap { u =>
        BlockStore.peekManifest(blocksDir(u), conf).collect {
          case m if m.morFolds == foldsNow => (m.morCeilings, u)
        }
      }
      .sortBy(_._1)
      .lastOption
      .map(_._2)
  }

  /** Stale `_nav`/`_blocks` version dirs the commit-time sweep kept
    * because a live scan still pinned them — deleted once the holder
    * releases. Writer-instance state: only the JVM that committed past
    * these versions ever re-sweeps them.
    */
  @volatile private var deferredNavSweep: Set[String] = Set.empty

  /** Delete deferred stale dirs whose version is no longer pinned —
    * called after the serving refresh / disable releases a reference.
    * Never touches the current version, anything still live, or the
    * warm-restart seed ([[warmRestartSeed]] — typically the released
    * chain base itself, which is exactly the dir a restart needs).
    */
  private def retryDeferredNavSweep(): Unit = {
    if (deferredNavSweep.isEmpty) return
    val live = BlockCache.liveVersionsFor(cacheKey.folder)
    val seed = warmRestartSeed(lastSeenVersion)
    val (stillLive, dead) = deferredNavSweep.partition(v =>
      live.contains(v) || v == lastSeenVersion || seed.contains(v))
    if (dead.nonEmpty) {
      deferredNavSweep = stillLive
      dead.foreach { v =>
        Seq(s"$folder/_nav/$v", s"$folder/_blocks/$v").foreach { dir =>
          try fs.delete(new Path(dir), true)
          catch { case scala.util.control.NonFatal(_) => }
        }
      }
    }
  }

  private def navDir(version: String): String = s"$folder/_nav/$version"

  /** Per-block packed serving arrays ([[BlockStore]]) — swept with
    * `_nav` above, same staleness rule.
    */
  private def blocksDir(version: String): String = s"$folder/_blocks/$version"

  /** Writer-side orphan GC for persisted selector manifests: a
    * building JVM that died leaves `_selectors/sel-*` dirs no catalog
    * entry owns (adopters never delete them — unowned). Each commit
    * sweeps manifest-carrying dirs whose snapshot version is no longer
    * current, EXCEPT those backing live in-JVM entries (a held
    * superseded selector keeps its files until last release; the
    * catalog's own supersession already freed unreferenced ones).
    * Manifest-less dirs (uncached `selector()` handles) are owned by
    * live handles and never swept.
    */
  private def sweepOrphanSelectorDirs(current: String): Unit = {
    val root = new Path(s"$folder/_selectors")
    if (!fs.exists(root)) return
    val live = SelectorCatalog.liveRunDirsFor(cacheKey.folder)
    fs.listStatus(root).map(_.getPath).foreach { d =>
      // resolve under OUR folder string, matching how live entries name
      // their dirs (builder and adopter both use `$folder/_selectors/…`)
      val selDir = s"$folder/_selectors/${d.getName}"
      SelectorManifest.read(fs, selDir) match {
        case Some(m) if m.version != current && !live.contains(m.dir) =>
          fs.delete(d, true)
        case _ =>
      }
    }
  }

  /** The snapshot version this instance's caches were built against. */
  @volatile private var lastSeenVersion: String =
    BlockCache.currentVersion(cacheKey, () => readMarker())

  /** Cross-JVM freshness, opt-in: re-read the on-disk `_snapshot`
    * marker at most every `ms` milliseconds and adopt an externally
    * committed version (a writer in ANOTHER JVM — e.g. an ingest job
    * feeding a serving fleet). Off by default (0): in-JVM commits are
    * already observed for free via [[BlockCache]], and a marker stat
    * per poll interval is the only cost when enabled. Readers between
    * polls serve the previous snapshot — whose files the versioned COW
    * layout retains — so staleness is bounded by `ms`, never broken
    * reads.
    */
  def pollMarkerEvery(ms: Long): this.type = {
    require(ms >= 0, s"poll interval must be >= 0, got $ms")
    markerPollMs = ms
    this
  }

  @volatile private var markerPollMs: Long = 0L
  @volatile private var lastMarkerReadNs: Long = System.nanoTime()

  /** Read-committed within the JVM: if any instance committed to this
    * folder since this instance last looked, drop the stale Catalyst
    * caches and let go of the stale serving blocks so every subsequent
    * read — hot tier, cold tier, count, serving — answers from the new
    * snapshot. Hot-path cost when nothing changed: one concurrent-map
    * read (plus, under [[pollMarkerEvery]], a marker re-read once per
    * poll interval). A stale cached DataFrame must never execute again
    * after its snapshot generation is GC'd.
    */
  private def maybeRefresh(): Unit = {
    if (markerPollMs > 0 &&
        (System.nanoTime() - lastMarkerReadNs) / 1000000L >= markerPollMs)
      synchronized {
        if ((System.nanoTime() - lastMarkerReadNs) / 1000000L >= markerPollMs) {
          lastMarkerReadNs = System.nanoTime()
          val onDisk = readMarker()
          if (onDisk != BlockCache.currentVersion(cacheKey, () => onDisk))
            BlockCache.invalidate(cacheKey, onDisk)
        }
      }
    val cur = BlockCache.currentVersion(cacheKey, () => readMarker())
    if (lastSeenVersion != cur) synchronized {
      val cur2 = BlockCache.currentVersion(cacheKey, () => readMarker())
      if (lastSeenVersion != cur2) {
        dropLocalCaches()
        releaseOrStashPrepared()
        lastSeenVersion = cur2
      }
    }
  }

  // ── Advisory writer lease (opt-in) ─────────────────────────────────
  // The reference disclaims multi-process safety outright
  // (`README.md:174`); the engine's transactional layer makes reads
  // safe, but two WRITERS racing commits would still interleave
  // versions. The lease is the fail-fast guard: once any writer
  // acquires it, every commit on the folder — from any instance that
  // checks, holder or not — verifies the on-disk lease, so an
  // accidental second writer errors instead of corrupting. Advisory by
  // construction (a writer that never opens the folder through this
  // class is invisible to it).
  //
  // Atomicity argument (the r12 suite caught the torn-read steal this
  // replaces): every lease WRITE is a staged-file rename
  // ([[writeMarkerFile]]) — a reader sees the previous lease or the
  // renewed one, never a truncated file. The residual unreadable
  // windows a generic Hadoop FS leaves (checksum-pair rename,
  // delete+rename fallback) are closed on the READ side:
  // exists-but-unreadable is reported as [[LeaseRead.Unreadable]] after
  // bounded retries and every caller treats it as HELD-BY-UNKNOWN —
  // acquire refuses, commits refuse (unless we hold), GC refuses, and
  // the heartbeat just skips one beat. A live, renewing holder can
  // therefore never be stolen from: stealing requires a READABLE lease
  // whose expiry has passed, and absence only ever arises from
  // [[dropLease]]'s deliberate delete. The remaining non-atomic window
  // — two racers both reading the SAME readable expired lease before
  // either writes — is the classic steal race; the post-steal commit
  // fence ([[assertWritable]]) sequences its loser.

  @volatile private[db] var heldLease: Option[WriterLease] = None

  private def leasePath = new Path(s"$folder/_lease")

  /** Become THE writer for this folder: errors if a live lease is held
    * elsewhere; steals an expired one (dead writer). The returned
    * handle heartbeats (renews every ttl/3) until closed. While ANY
    * fresh lease exists on disk, commits from non-holders fail fast —
    * including this instance after its own lease is stolen (fencing).
    */
  def acquireWriterLease(ttlMs: Long = VectorDB.DefaultLeaseTtlMs): WriterLease =
    synchronized {
      require(ttlMs >= 100, s"lease ttl must be >= 100 ms, got $ttlMs")
      require(heldLease.isEmpty, "this instance already holds the writer lease")
      val now = System.currentTimeMillis()
      val observed = readLease() match {
        case LeaseRead.Held(otherId, expiry) if expiry > now =>
          throw new IllegalStateException(
            s"folder $folder is leased by writer $otherId for another " +
              s"${expiry - now} ms; close that lease (or let it expire) first")
        case LeaseRead.Unreadable =>
          throw new IllegalStateException(
            s"folder $folder has a lease file that could not be read — " +
              "treating it as leased by an unknown (possibly mid-renewal) " +
              "writer; retry, or remove the file if its writer is known dead")
        case LeaseRead.Held(otherId, expiry) => Some((otherId, expiry))
        case LeaseRead.Absent => None
      }
      val id = java.util.UUID.randomUUID().toString
      writeLease(id, now + ttlMs)
      val l = new WriterLease(this, id, ttlMs, observed)
      heldLease = Some(l)
      l
    }

  /** Three-valued lease read. `Unreadable` = the file EXISTS but did
    * not parse after bounded retries — the signature of a writer
    * mid-swap (or corruption). Callers MUST treat it as held by an
    * unknown writer, never as absent: absence only ever arises from
    * [[dropLease]]'s atomic delete, so mapping a torn read to "no
    * lease" is exactly the steal-a-live-lease race r12's suite caught.
    */
  private[db] def readLease(): LeaseRead = {
    var attempts = 0
    while (attempts < 5) {
      if (!fs.exists(leasePath)) {
        // POSIX/HDFS swaps are replacing renames — absence is real.
        // On an FS where writeMarkerFile may have used delete+rename,
        // a mid-swap reader can catch the gap: believe absence only
        // after it persists across two more spaced stats (a genuinely
        // released lease stays absent; the swap gap is microseconds).
        if (markerSwapIsPosix) return LeaseRead.Absent
        var confirms = 0
        while (confirms < 2) {
          Thread.sleep(20)
          if (fs.exists(leasePath)) confirms = 3 else confirms += 1
        }
        if (confirms == 2) return LeaseRead.Absent
        // reappeared: a swap was in flight — fall through and read it
      }
      try {
        val in = fs.open(leasePath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        val lines = text.trim.split('\n')
        return LeaseRead.Held(lines(0).trim, lines(1).trim.toLong)
      } catch {
        case scala.util.control.NonFatal(_) =>
          attempts += 1
          if (attempts < 5) Thread.sleep(20)
      }
    }
    LeaseRead.Unreadable
  }

  private[db] def writeLease(id: String, expiryMs: Long): Unit =
    writeMarkerFile(leasePath, s"$id\n$expiryMs".getBytes("UTF-8"))

  private[db] def dropLease(id: String): Unit = synchronized {
    readLease() match {
      case LeaseRead.Held(hid, _) if hid == id => fs.delete(leasePath, false)
      case _ => () // not ours / already gone / unreadable (never delete blind)
    }
    if (heldLease.exists(_.id == id)) heldLease = None
  }

  /** Commit-time fence: a fresh lease held by someone else fails the
    * commit — whether this instance never leased (accidental second
    * writer) or held a lease that was stolen after expiry (fenced
    * loser). One FS stat per commit; no lease file anywhere = the
    * reference's unguarded behavior.
    */
  private def assertWritable(): Unit = {
    val now = System.currentTimeMillis()
    readLease() match {
      case LeaseRead.Held(id, expiry) if !heldLease.exists(_.id == id) =>
        if (heldLease.isDefined)
          throw new IllegalStateException(
            s"writer lease on $folder lost to writer $id: this instance " +
              "is fenced; re-acquire after closing the stale handle")
        if (expiry > now)
          throw new IllegalStateException(
            s"folder $folder is leased by writer $id for another " +
              s"${expiry - now} ms; refusing a concurrent commit")
      case LeaseRead.Absent if heldLease.isDefined =>
        throw new IllegalStateException(
          s"writer lease on $folder lost (lease file removed): this " +
            "instance is fenced; re-acquire before committing")
      case LeaseRead.Unreadable =>
        // A torn read is a writer mid-swap. If WE hold a lease it is
        // almost certainly our own heartbeat's swap — proceed (a real
        // steal is caught at the next readable read). If we hold
        // nothing, refuse: an unknown writer is active right now.
        if (heldLease.isEmpty)
          throw new IllegalStateException(
            s"folder $folder has an unreadable lease file (a writer is " +
              "mid-renewal); refusing a concurrent commit")
      case _ => ()
    }
  }

  // ── MOR cross-tier commit atomicity ───────────────────────────────
  // A MOR commit touches TWO tables (codes + docs). Delta files used to
  // become visible the moment each was written, so a crash — or a
  // fenced writer — between the two writes left a TORN table: codes
  // rows whose payloads don't exist. Commits are now gated by the
  // folder-level `_committed` ceilings file (the MOR analogue of COW's
  // marker flip): reads merge only deltas at or below the recorded
  // ceilings, the file is flipped once AFTER both tiers' deltas land
  // (with the lease fence re-checked just before), and orphan deltas
  // above the ceilings — the crash/fence debris — are truncated at the
  // next commit before they could ever be folded in. Absent file =
  // legacy folder whose on-disk deltas were all fully committed; MOR
  // folders get the file from creation.

  private def committedPath = new Path(s"$folder/_committed")

  /** `None` means the file is ABSENT (legacy folder — the only case
    * where the raw-listing fallback is sound). An exists-but-unreadable
    * ceilings file is NOT mapped to `None`: that is the signature of a
    * concurrent writer mid-swap (or corruption), and falling back to
    * the raw listing would un-gate orphan deltas — so it retries and
    * then throws.
    */
  private def readCommitted(): Option[(Int, Int)] = retryingMarkerRead() {
    if (!fs.exists(committedPath)) None
    else {
      val in = fs.open(committedPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      val m = text.trim.linesIterator.map { l =>
        val Array(k, v) = l.split('='); (k, v.toInt)
      }.toMap
      Some((m("codes"), m("docs")))
    }
  }

  private[db] def writeCommitted(codesCeil: Int, docsCeil: Int): Unit =
    writeMarkerFile(committedPath,
      s"codes=$codesCeil\ndocs=$docsCeil".getBytes("UTF-8"))

  /** Per-tier visibility ceilings. Legacy fallback (no file): every
    * delta on disk is committed — true for folders written before the
    * protocol existed; new-code commits baseline the file first
    * ([[ensureCommittedBaseline]]) so their own crash debris can never
    * ride the fallback.
    */
  private def committedCeilings(): (Int, Int) = readCommitted().getOrElse(
    (codesMor.versionCeiling(), docsMor.versionCeiling()))

  /** Commit-start hygiene: pin the legacy baseline if the ceilings file
    * is missing, then drop orphan deltas above it (debris of a crashed
    * or fenced earlier commit — readers never saw them).
    */
  private def beginMorCommit(): (Int, Int) = {
    if (readCommitted().isEmpty)
      writeCommitted(codesMor.versionCeiling(), docsMor.versionCeiling())
    val (cc, dc) = committedCeilings()
    codesMor.truncateAbove(cc)
    docsMor.truncateAbove(dc)
    (cc, dc)
  }

  /** COMMITTED data exists. MOR: a folded base, or a nonzero committed
    * ceiling — NOT the raw file listing, which would count a torn first
    * commit's orphan deltas and make ceiling-gated reads throw on what
    * is logically an empty table.
    */
  private def hasData: Boolean =
    if (isMor) codesMor.hasBase || committedCeilings()._1 > 0
    else fs.exists(new Path(codesPath))

  private def emptyCodesSchema: StructType = {
    val base =
      if (isFlat) StructType(StructField("doc_id", LongType, nullable = false) +:
        (0 until nWords).map(i => StructField(s"c$i", LongType, nullable = false)))
      else codesSchema
    if (isIvf) StructType(base.fields :+ StructField("cell", IntegerType, nullable = true))
    else base
  }

  // Cell quantizers live in [[IndexStrategies.Ivf]]: the learned
  // k-majority model ([[IvfCentroids]], `ivf_assign = kmeans`, default
  // for new indexes — prefix cell sizes track the sign distribution of
  // the first prefix-width dims, so biased real-world embeddings skew
  // cells and degrade probe pruning, round-10 verdict item 2) and the
  // legacy sign-code prefix (what pre-knob folders store). The snapshot
  // is partitioned by cell, so a probe-limited search prunes non-probed
  // cells at the file source. Geometry is an [[VectorDB.openOrCreate]]
  // parameter persisted in config.json (the reference's `index_args`,
  // `BinaryVectorDB.py:17`): size cells ~√N — even 10¹² vectors need
  // only 2²⁰ cells, well inside one 64-bit word's prefix.

  /** Cells in probe-priority order for a query — delegated to the
    * [[IndexStrategy]] (Ivf: hamming to the learned centroid under
    * kmeans assignment, hamming of the sign-code prefix under the
    * legacy quantizer).
    */
  private def probeOrder(qWords: Seq[Long]): IndexedSeq[Int] =
    indexStrategy.probeOrder(strategyCtx, qWords)

  /** Get-or-learn the centroid model for this folder: learned from a
    * deterministic sample of the FIRST ingested batch's packed codes
    * (≤ [[VectorDB.CentroidSample]] rows driver-side, ~8 MB at 1024
    * bits), persisted to `folder/_centroids` BEFORE any row is
    * committed with its assignments — a crash in between leaves an
    * orphan model the next ingest adopts, never torn assignments.
    */
  private def ensureCentroids(packedCodes: DataFrame, nRows: Long): IvfCentroids.Model =
    centroidModel.getOrElse {
      val frac = math.min(1.0, VectorDB.CentroidSample.toDouble / math.max(1L, nRows))
      val sampled =
        if (frac >= 1.0) packedCodes
        else packedCodes.sample(withReplacement = false, frac, seed = 42L)
      val sample = sampled.limit(VectorDB.CentroidSample).collect()
        .map(_.getSeq[Long](0).toArray)
      val m = IvfCentroids.learn(sample, ivfCells, nWords)
      IvfCentroids.write(fs, folder, m)
      centroidCache = Some(m)
      m
    }

  /** The hot tier: (doc_id, code…), cached in memory across queries.
    * The get-or-build is synchronized: the background absorb daemon
    * ([[maybeScheduleAbsorb]]) calls [[buildFullServing]] → `codes`
    * concurrently with foreground commits/Catalyst reads, and an
    * unsynchronized double-build would persist the hot tier twice and
    * leak the loser's MEMORY_AND_DISK copy when `codesCache` is
    * overwritten. The fast path stays a lock-free volatile read.
    */
  def codes: DataFrame = {
    maybeRefresh()
    codesCache.getOrElse(synchronized {
      codesCache.getOrElse {
        val df =
          if (!hasData) spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptyCodesSchema)
          else if (isMor)
            codesMor.readAt(committedCeilings()._1).persist(StorageLevel.MEMORY_AND_DISK)
          else spark.read.parquet(codesPath).persist(StorageLevel.MEMORY_AND_DISK)
        codesCache = Some(df)
        df
      }
    })
  }

  /** The cold tier: (doc_id, doc, emb_int8), read per query. */
  def docs: DataFrame = {
    maybeRefresh()
    if (!hasData) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docsSchema)
    else if (isMor) docsMor.readAt(committedCeilings()._2)
    else spark.read.parquet(docsPath)
  }

  /** Per-search empty-index guard (`BinaryVectorDB.py:190-191`). On
    * the serving path the resident blocks' row bound answers it — the
    * first search after a commit must NOT rebuild the CATALYST hot
    * tier (a full merged read + persist) that serving never reads;
    * measured ~1.5 s of the chain-refresh floor before this. The
    * Catalyst path keeps the memoized count.
    */
  private def requireNonEmpty(): Unit = {
    val ok = preparedScan().exists(_.rowsLowerBound > 0) || count() > 0
    require(ok, "search on empty index (BinaryVectorDB.py:190-191 guard)")
  }

  /** O12: number of indexed documents (cached until the next commit —
    * the per-search empty-index guard must not cost a job).
    */
  def count(): Long = {
    maybeRefresh()
    if (countCache < 0) countCache = codes.count()
    countCache
  }

  /** Typed view of the hot tier (SURVEY §1.3's `Dataset[DocRecord]` core;
    * array layout only — the flat layout is by definition untyped-wide).
    */
  def typedCodes: org.apache.spark.sql.Dataset[VectorDB.CodeRecord] = {
    require(!isFlat, "typedCodes requires the array code layout")
    implicit val enc = org.apache.spark.sql.Encoders.product[VectorDB.CodeRecord]
    codes.as[VectorDB.CodeRecord]
  }

  /** Typed view of the cold tier. */
  def typedDocs: org.apache.spark.sql.Dataset[VectorDB.DocRecord] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[VectorDB.DocRecord]
    docs.as[VectorDB.DocRecord]
  }

  /** O2: bulk upsert. `input` must have `doc_id:long` and `text:string`
    * columns (the `docs2text` extraction is any Column expression the
    * caller applies beforehand — the engine-side generalization of the
    * reference's user function, `BinaryVectorDB.py:67,87`); an optional
    * `doc` column is the stored payload (defaults to the text).
    * Re-adding an existing id replaces it (delete-then-insert,
    * `BinaryVectorDB.py:92-101`).
    */
  def addDocuments(input: DataFrame, embedder: Embedder = new HashingEmbedder()): Unit = {
    assertWritable()
    Kernels.install(spark)
    require(embedder.dim == dim,
      s"embedder dim ${embedder.dim} != index dim $dim — a mismatch would " +
        "silently truncate scores or fail at pack time")
    require(input.columns.contains("doc_id"), "input must have a doc_id column")
    require(input.columns.contains("text"), "input must have a text column")
    val withDoc = if (input.columns.contains("doc")) input
      else input.withColumn("doc", col("text"))
    val typed = withDoc.select(
      col("doc_id").cast("long").as("doc_id"),
      col("doc").cast("string").as("doc"),
      col("text").cast("string").as("text"))
    val F = org.apache.spark.sql.functions
    val embedded = typed
      .withColumn("embedding", embedder.embed(col("text")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Batch validation and the per-batch int8 calibration max (the
      // reference embeds per batch too) in ONE job over the persisted
      // batch (r17: these were two separate scans; the validation pass
      // additionally re-read the raw batch before the persist).
      // Deferred to a function (r18): the MOR fast path below runs it
      // CONCURRENTLY with the codes-tier delta write.
      def statsAndValidate(): (Long, Double) = {
        val statsRow = embedded.select(
          F.count(lit(1)), countDistinct(col("doc_id")),
          F.count(lit(1)) - F.count(col("doc_id")),
          max(Kernels.maxAbsElem(col("embedding"))).cast("double"))
          .head()
        val nRows = statsRow.getLong(0)
        val nIds = statsRow.getLong(1)
        val nNullIds = statsRow.getLong(2)
        require(nNullIds == 0, s"$nNullIds rows have null/non-integer doc_id")
        require(nIds == nRows,
          s"batch has ${nRows - nIds} duplicate doc_id rows — upsert semantics " +
            "need unique ids per batch (MorTable last-writer-wins would be ambiguous)")
        (nRows, statsRow.getDouble(3))
      }
      val packed = Kernels.packBits(col("embedding"))
      // Flat layout: one primitive long column per 64-bit word — the
      // cached columnar scan stays fully primitive (measured ~15% faster
      // at 1M x 1024 bits, graft.ScanBench).
      val newCodesBase =
        if (isFlat) embedded.select(col("doc_id") +:
          (0 until nWords).map(i => element_at(packed, i + 1).as(s"c$i")): _*)
        else embedded.select(col("doc_id"), packed.as("code"))
      def newCodes(nRows: Long) =
        if (!isIvf) newCodesBase
        else {
          // Strategy-provided assignment (ingest-only — the query hot
          // path touches only the persisted cell column).
          val codeArr =
            if (isFlat) array((0 until nWords).map(i => col(s"c$i")): _*)
            else col("code")
          newCodesBase.withColumn("cell", indexStrategy.cellColumn(
            strategyCtx, codeArr, embedded.select(packed.as("code")), nRows))
        }
      def newDocs(ma: Double) = embedded.select(col("doc_id"), col("doc"),
        Kernels.int8(col("embedding"), lit(if (ma > 0) ma else 1.0)).as("emb_int8"))

      if (isMor && !isIvf) {
        // O(batch): append delta files; last-writer-wins replaces old
        // ids at read time. No table rewrite. Visibility is the
        // `_committed` flip AFTER both tiers land (fence re-checked) —
        // a crash or fenced writer between the writes leaves only
        // invisible orphans, truncated by the next commit.
        beginMorCommit()
        // THREE independent jobs overlapped two ways (guide §2.6): the
        // codes delta needs only the packed bits, so it writes on the
        // pool thread WHILE the caller thread runs the validation/
        // calibration aggregate and then the docs write (which needs
        // the calibration max). A validation failure still aborts the
        // commit — the `_committed` flip never runs and tierParallel
        // awaits the in-flight codes write before rethrowing — leaving
        // at most an INVISIBLE orphan delta, the same debris as a crash
        // between the two tier writes, truncated by the next commit
        // (spec: "failed validation leaves no visible rows"). The IVF
        // layout takes the sequential path below instead: its cell
        // assignment consumes the batch row count, so the codes write
        // cannot start before the aggregate.
        val (nc, nd) = VectorDB.tierParallel(
          codesMor.upsert(newCodesBase),
          { val (_, ma) = statsAndValidate(); docsMor.upsert(newDocs(ma)) })
        assertWritable()
        writeCommitted(nc, nd)
        invalidateCache()
        bumpVersion()
      } else if (isMor) {
        val (nRows, ma) = statsAndValidate()
        beginMorCommit()
        // Independent per-tier delta writes — overlap them (guide §2.6:
        // concurrent jobs back-fill each other's task tails); the
        // commit point stays the `_committed` flip AFTER both land.
        val (nc, nd) = VectorDB.tierParallel(
          codesMor.upsert(newCodes(nRows)), docsMor.upsert(newDocs(ma)))
        assertWritable()
        writeCommitted(nc, nd)
        invalidateCache()
        bumpVersion()
      } else {
        val (nRows, ma) = statsAndValidate()
        val newCodesCow = newCodes(nRows)
        val newDocsCow = newDocs(ma)
        // Copy-on-write: anti-join out the replaced ids, union, overwrite.
        val keptCodes = codes.join(newCodesCow.select("doc_id"), Seq("doc_id"), "left_anti")
        val keptDocs = docs.join(newDocsCow.select("doc_id"), Seq("doc_id"), "left_anti")
        writeSnapshot(keptCodes.unionByName(newCodesCow), keptDocs.unionByName(newDocsCow))
      }
    } finally embedded.unpersist()
  }

  /** O5: delete by id; error if any id is absent (`BinaryVectorDB.py:159-160`). */
  def removeDocs(ids: Seq[Long]): Unit = {
    assertWritable()
    // Bound the tombstone fan-out (r18, guide §6): a driver-local id
    // relation plans at leaf-node default parallelism (= the core
    // count), so each tier's tombstone delta was written as up to 32
    // near-empty files — 32 write tasks + commits per tier here, and 32
    // extra scan tasks in EVERY later merged read of the delta window
    // until a fold retires it. Tombstone rows are ~a key wide; size the
    // write to [[VectorDB.RemoveIdsPerFile]] ids per task/file instead.
    val idDf = spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")
      .coalesce(math.max(1,
        ((ids.size + VectorDB.RemoveIdsPerFile - 1) /
          VectorDB.RemoveIdsPerFile).toInt))
    // Presence check counted against the distinct id set. MOR:
    // [[MorTable.presentAt]] collects the requested ids' writes from
    // the committed files (one scan, one job) and resolves
    // last-writer-wins on the driver, so it never builds the merged hot
    // tier, which this very commit would invalidate; it raises on a key
    // with two live rows at one version. COW: a broadcast semi join
    // against `codes` (an anti join from `idDf` could only build its
    // right side, so it would shuffle the whole tier), counted with
    // countDistinct on the MATCHED side so a duplicated doc_id cannot
    // push the count past the requested ids. Deferred to a function:
    // the MOR path below runs it CONCURRENTLY with the tombstone writes
    // — it reads only the COMMITTED ceilings, which neither the orphan
    // truncation nor the (not-yet-committed) tombstone deltas can
    // affect.
    val distinctIds = ids.distinct.size
    def presenceCheck(): Unit = {
      val matched =
        if (isMor) codesMor.presentAt(committedCeilings()._1, ids).size.toLong
        else codes.select("doc_id")
          .join(org.apache.spark.sql.functions.broadcast(idDf), Seq("doc_id"), "left_semi")
          .agg(org.apache.spark.sql.functions.countDistinct("doc_id"))
          .head().getLong(0)
      val missing = distinctIds - matched
      assert(missing >= 0, s"matched $matched present ids exceed the " +
        s"$distinctIds distinct requested — duplicated key in the hot tier")
      if (missing > 0)
        throw new IllegalArgumentException(
          s"$missing of $distinctIds distinct ids (${ids.size} requested) not in index")
    }
    if (isMor) {
      // O(batch): append tombstone markers only (same commit protocol
      // as the upsert path: both tiers land, then `_committed` flips).
      // Each tier takes the tombstone's columns from its own newest
      // file's memoized schema, so neither `codes` nor `docs` is built.
      // THREE independent jobs overlapped (guide §2.6): the two tiers'
      // tombstone writes on pool threads, the presence check's collect
      // on the caller thread. The commit point stays the `_committed`
      // flip AFTER both writes AND the check pass; a failed check (id
      // not in index) aborts before the flip, leaving at most INVISIBLE
      // orphan tombstone deltas — the same debris class as a crash
      // between the tier writes, truncated by the next commit (the
      // lifecycle spec's failed-remove → compact sequence and the
      // failed-validation orphan spec cover it).
      beginMorCommit()
      val ((nc, nd), _) = VectorDB.tierParallel(
        VectorDB.tierParallel(
          codesMor.delete(idDf), docsMor.delete(idDf)),
        presenceCheck())
      assertWritable()
      writeCommitted(nc, nd)
      invalidateCache()
      bumpVersion()
    } else {
      presenceCheck()
      writeSnapshot(
        codes.join(idDf, Seq("doc_id"), "left_anti"),
        docs.join(idDf, Seq("doc_id"), "left_anti"))
    }
  }

  /** MOR only: fold pending deltas into a NEW base generation (bounds
    * read amplification; the amortized rewrite). No-op under
    * copy-on-write.
    *
    * Neither open snapshot pins nor in-flight readers block (or are
    * broken by) compaction: the fold writes a fresh
    * `base_v<ceiling>.parquet` and touches nothing a resolved plan
    * could be mid-scan on — the previous generation and its deltas
    * survive until the NEXT fold (the copy-on-write {current,
    * previous} window), and generations a pinned ceiling resolves to
    * survive until the pin closes.
    */
  def compact(): Unit = if (isMor) {
    assertWritable()
    // orphans above the committed ceilings must go BEFORE the fold —
    // folding would otherwise bake uncommitted debris into the base
    beginMorCommit()
    val (codesPins, docsPins) = morPinnedCeilings()
    // The two tiers fold independently (separate dirs, separate
    // generation files) — overlap the rewrites (guide §2.6).
    VectorDB.tierParallel(codesMor.compact(codesPins), docsMor.compact(docsPins))
    invalidateCache()
    bumpVersion()
  }

  /** Open MOR pin ceilings per tier, parsed from the pin registry
    * (`mor-<codesCeil>:<docsCeil>`).
    */
  private def morPinnedCeilings(): (Set[Int], Set[Int]) = {
    val pins = SnapshotPins.pinnedVersions(cacheKey.folder)
      .filter(_.startsWith(VectorDB.MorPinPrefix))
      .map(_.stripPrefix(VectorDB.MorPinPrefix).split(':'))
      .collect { case Array(c, d) => (c.toInt, d.toInt) }
    (pins.map(_._1), pins.map(_._2))
  }

  /** Drop retained MOR generations no open pin (or reader window)
    * needs — called at pin close. Gated on [[mayGcRetired]]: the pin
    * registry is per-JVM, so a READER process closing a pin must not
    * delete generations a writer process's still-open pins (invisible
    * here) resolve to. When skipped, the writer's own `compact()` /
    * pin-close runs the same GC.
    */
  private[db] def gcMorRetired(): Unit = if (isMor && mayGcRetired()) {
    val (codesPins, docsPins) = morPinnedCeilings()
    codesMor.gc(codesPins)
    docsMor.gc(docsPins)
  }

  /** Non-throwing twin of [[assertWritable]] for GC decisions: this
    * process may delete retained generations only when it holds the
    * folder's lease (a fenced or non-holder instance may not destroy
    * another writer's pinned reads) or when no lease file exists at
    * all and this instance was never fenced — the leaseless
    * single-process mode, where the in-JVM pin registry IS the whole
    * pin population.
    */
  private def mayGcRetired(): Boolean =
    readLease() match {
      case LeaseRead.Held(id, expiry) =>
        heldLease.exists(_.id == id) || expiry <= System.currentTimeMillis()
      case LeaseRead.Absent => heldLease.isEmpty
      case LeaseRead.Unreadable => false // unknown active writer: never GC
    }

  /** Pending delta commits on the hot tier (0 under copy-on-write). */
  def pendingDeltas(): Int = if (isMor) codesMor.deltaCount() else 0

  /** Hot-tier MOR base generations retained beyond the live one — the
    * in-flight reader window plus whatever open pins still resolve to
    * (0 under copy-on-write; steady state under folds is 1, the
    * {current, previous} window).
    */
  def retainedMorGenerations(): Int =
    if (isMor) codesMor.pastGenerations() else 0

  /** Funnel sizing guards: positive stages, and the heap arities the
    * stages multiply into must stay inside Int (the aggregate buffer is
    * sized by them — overflow would wrap to a tiny/negative heap).
    */
  private def validateFunnelParams(k: Int, binaryOversample: Int, int8Oversample: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(binaryOversample >= 1, s"binaryOversample must be >= 1, got $binaryOversample")
    require(int8Oversample >= 1, s"int8Oversample must be >= 1, got $int8Oversample")
    require(k.toLong * binaryOversample <= Int.MaxValue &&
      k.toLong * int8Oversample <= Int.MaxValue,
      s"k * oversample overflows Int: k=$k, binaryOversample=$binaryOversample, " +
        s"int8Oversample=$int8Oversample")
  }

  /** Drop this instance's Catalyst-tier caches (cached codes relation,
    * memoized count). Shared serving blocks are NOT touched here — they
    * are refcounted in [[BlockCache]].
    */
  private def dropLocalCaches(): Unit = {
    codesCache.foreach(_.unpersist())
    codesCache = None
    countCache = -1L
  }

  /** Monotonic stamp of the last commit through this instance — the
    * absorb daemon's commit-idle probe ([[maybeScheduleAbsorb]]) — and
    * an EMA of the inter-commit gap, the daemon's storm-cadence signal:
    * a flatten started while commits arrive faster than it can build is
    * guaranteed discarded (the adopt check requires the version it was
    * built for), so the idle threshold scales with the observed cadence
    * instead of launching a doomed, commit-contending build every cycle
    * (INCBENCH_r13 at the TRUE 2-block geometry: 13–32 s commits vs
    * 3.5–5.4 s without absorption, and the flatten never adopted).
    */
  @volatile private var lastCommitNanos: Long = System.nanoTime()
  @volatile private var commitGapEmaNanos: Long = 0L

  /** Job group of an absorb flatten currently running Spark jobs, the
    * group the commit path most recently cancelled, and a count of
    * builds the commit path cancelled (diagnostics/specs).
    *
    * `absorbCancelledGroup` is the cancel's INTENT flag: the commit
    * path stamps it BEFORE `cancelJobGroup`, and the daemon's exception
    * handler classifies by it — never by re-reading the snapshot
    * version, which the committing thread has not flipped yet at cancel
    * time (`writeCommitted → invalidateCache → bumpVersion`): a
    * version re-read in the handler races `bumpVersion()` and
    * misclassifies the cancel as a build failure when it wins.
    */
  @volatile private var absorbJobGroup: String = null
  @volatile private var absorbCancelledGroup: String = null
  @volatile private[graft] var absorbCancels: Int = 0
  private[graft] def absorbBuildInFlight: Boolean = absorbJobGroup != null

  private def invalidateCache(): Unit = {
    val now = System.nanoTime()
    val gap = now - lastCommitNanos
    // alpha = 1/2, capped: one long idle pause must not poison the
    // cadence estimate for the next storm
    val capped = math.min(gap, VectorDB.AbsorbIdleCapNanos)
    commitGapEmaNanos =
      if (commitGapEmaNanos == 0L) capped else (commitGapEmaNanos + capped) / 2
    lastCommitNanos = now
    // This commit supersedes any flatten the absorb daemon has in
    // flight (its adopt check requires the version that just moved):
    // cancel its jobs instead of letting a doomed build tax the
    // foreground. Best-effort and in-JVM only — a cross-JVM commit's
    // doomed build is still discarded at the adopt check.
    val gid = absorbJobGroup
    if (gid != null) {
      // Intent before action: the daemon's handler may run before this
      // thread reaches bumpVersion(), so it must be able to see WHY its
      // jobs died without consulting the (still-old) version.
      absorbCancelledGroup = gid
      spark.sparkContext.cancelJobGroup(gid)
    }
    dropLocalCaches()
    // A commit changed the tiers: let go of the serving blocks; they
    // rebuild lazily (under the new snapshot version) on the next
    // search if serving stays enabled. Other instances still holding
    // the old version keep it alive until they refresh.
    releaseOrStashPrepared()
  }

  /** Drop this instance's serving-block reference — or, when the
    * incremental refresh is on (MOR + serving), hold it back as the
    * base of a possible chain extension at the next rebuild. At most
    * one stash: a second commit before any search replaces it (the
    * extension window then spans both commits — the ceilings say what
    * to read, not the stash count).
    */
  private def releaseOrStashPrepared(): Unit = synchronized {
    // The snapshot version has moved, so a ready-but-unadopted absorbed
    // twin is unconditionally stale. Discarding it HERE (not only on the
    // search path via adoptAbsorbed) matters for commit-only workloads:
    // they never reach the search fast path, and the flattened tier
    // would otherwise stay pinned in executor memory indefinitely —
    // the same unobserved-holdback class the stash cap below bounds.
    discardAbsorbed()
    prepared.foreach { case (v, ps) =>
      if (incServingChurnFrac > 0 && isMor && servingEnabled && ps.isAlive) {
        pendingPrevServing.foreach { case (ov, ops) => BlockCache.release(cacheKey, ov, ops) }
        pendingPrevServing = Some((v, ps))
        pendingPrevCommits = 0
      } else BlockCache.release(cacheKey, v, ps)
    }
    prepared = None
    // The stash pins a full serving tier in executor memory until the
    // next search adopts or rejects it. A workload that keeps committing
    // without ever searching would hold it indefinitely (ADVICE r11), so
    // drop it once it can no longer (or will practically never) be
    // adopted: a fold/compaction reorganized the tiers out from under
    // its window, or [[VectorDB.IncServingStashMaxCommits]] commits have
    // piled onto it with no intervening search (such a window is almost
    // certainly past the churn threshold anyway).
    pendingPrevServing.foreach { case (ov, ps) =>
      pendingPrevCommits += 1
      val foldMoved = ps.chain.baseRows > 0 &&
        (codesMor.foldCeiling(), docsMor.foldCeiling()) != ps.chain.morFolds
      if (!ps.isAlive || foldMoved ||
          pendingPrevCommits > VectorDB.IncServingStashMaxCommits) {
        BlockCache.release(cacheKey, ov, ps)
        pendingPrevServing = None
        pendingPrevCommits = 0
      }
    }
  }

  /** Commits observed since [[pendingPrevServing]] was stashed (the
    * first one stashes it, so 1 = just stashed).
    */
  private var pendingPrevCommits: Int = 0

  /** Opt into the RAM-resident serving regime: the whole three-phase
    * funnel of [[searchVector]]/[[searchMany]] runs as ONE bare RDD job
    * over a [[PreparedScan]] whose per-partition blocks carry the codes
    * AND each row's int8 embedding + doc payload IN-BAND — candidates
    * come back with everything phases II/III need, which then run as
    * driver-side mirrors of the Catalyst kernels (~130k flops). Zero
    * per-query Catalyst work, zero second job. Results are
    * bit-identical to the default Catalyst path (spec-pinned); this
    * trades executor memory (~1.2 KB/row at 1024-dim — codes + int8 +
    * payload, stored once) for serving latency — the
    * index-resident-in-RAM regime the reference's published numbers
    * assume. Rebuilt automatically after each commit (one codes⋈docs
    * join per rebuild); [[disableServing]] releases the memory.
    *
    * `blocks > 0` pins the serving-block COUNT: the fused source is
    * coalesced to at most that many partitions, so each executor block
    * carries ~rows/blocks rows. Without it, blocks follow the
    * codes⋈docs join's shuffle width (`spark.sql.shuffle.partitions`) —
    * a sane cluster default, but NOT the parquet layout: a round-12
    * audit (via [[servingSizingWarning]]) caught serving tiers labeled
    * "4 blocks of 1M" actually running 16 shuffle-width blocks of
    * 250k. Graph strategies care: per-block navigators only beat the
    * linear kernel when blocks are big (CROSSOVER_r12.json), so size
    * blocks deliberately when using them. `coalesce` never widens —
    * `blocks` above the join width leaves the width as is.
    */
  def enableServing(blocks: Int = 0): this.type = {
    require(blocks >= 0, s"blocks must be >= 0, got $blocks")
    servingBlocks = blocks
    servingEnabled = true; preparedScan(); this
  }

  /** Serving-block count pin (0 = follow the join's shuffle width). */
  @volatile private var servingBlocks: Int = 0

  /** Minimum estimated tier file bytes before a full serve-build also
    * WRITES its packed blocks ([[BlockStore]]); loads are never gated.
    */
  @volatile private var blockPersistMinBytes: Long = VectorDB.BlockPersistMinBytes

  /** Gate packed-block persistence on tier size. A full serve-build
    * writes its block arrays to `_blocks/<version>/` so the next
    * serve-enable (or a restarted process) is pure IO instead of the
    * codes⋈docs rebuild — but the write itself costs roughly one pass
    * over the tier, and below tens of MB the cold rebuild is CHEAPER
    * than the write it would save (measured: the r14 x2 fixture drift).
    * Builds whose codes+docs file footprint is under `minTierBytes`
    * therefore skip the write (reads of already-persisted blocks are
    * always attempted). `0` forces persistence on at any size (the
    * persistence/restart specs); `Long.MaxValue` disables writes.
    */
  def blockPersistence(minTierBytes: Long): this.type = {
    require(minTierBytes >= 0, s"minTierBytes must be >= 0, got $minTierBytes")
    blockPersistMinBytes = minTierBytes
    this
  }

  /** Cheap tier-size proxy for the persistence gate: recursive file
    * bytes of the hot + cold tier directories (one FS content summary
    * each — no Spark job). MOR dirs include superseded delta files, so
    * the estimate only ever errs toward persisting.
    */
  private def estimatedTierFileBytes(): Long = {
    def sz(p: String): Long =
      try {
        val pp = new Path(p)
        if (fs.exists(pp)) fs.getContentSummary(pp).getLength else 0L
      } catch {
        case scala.util.control.NonFatal(e) =>
          // A transient FS failure must not read as "tiny tier" — that
          // would silently disable packed-block persistence (and the
          // warm restart it feeds) on a multi-GB table. MaxValue keeps
          // the estimate erring toward persisting, as the gate assumes
          // (ADVICE r15).
          VectorDB.log.warn(s"tier size estimate failed for $p — " +
            s"assuming large (persistence stays ON): $e")
          Long.MaxValue
      }
    // saturating add: two MaxValue halves must not wrap negative
    val a = if (isMor) sz(s"$folder/codes.mor") else sz(codesPath)
    val b = if (isMor) sz(s"$folder/docs.mor") else sz(docsPath)
    if (a > Long.MaxValue - b) Long.MaxValue else a + b
  }

  /** Opt into INCREMENTAL serving refresh (MOR storage only): after a
    * commit, instead of rebuilding the whole serving tier — block
    * arrays, payloads, AND per-block index-strategy navigators, O(table)
    * work that a graph strategy turns into minutes per refresh — the
    * resident blocks are EXTENDED with one delta layer holding just the
    * commit window's rows (cost O(batch): its blocks and its navigators
    * are built over the window only), and rows the window superseded
    * (upserts and deletes alike) are masked through a broadcast
    * shadowing map probed at the same point as the selector allowlist.
    * Results are exactly the full rebuild's (spec-pinned): each id
    * resolves to its newest layer, tombstoned ids to nothing, and the
    * radius/batched/filtered paths all see the chain.
    *
    * Retirement: a chain re-scans masked rows and accumulates
    * micro-layers, so it is the high-frequency-commit regime's tool
    * (the crawl loop), not a replacement for rebuilds. A full rebuild
    * happens automatically when cumulative churn exceeds
    * `maxChurnFraction` of the base build's rows, at `maxLayers`
    * layers, whenever a compaction folds the tiers, or if a single
    * window touches more than [[VectorDB.IncServingMaxTouched]] ids
    * (the shadowing map is driver/broadcast-resident and must stay
    * bounded).
    *
    * Background absorption (`absorbDepth`, DEFAULT ON at
    * [[VectorDB.IncServingAbsorbDepth]]): once the served chain reaches
    * that depth, a DAEMON THREAD flattens the full serving tier off the
    * query path and the next search swaps to it. Two things to know
    * before relying on the default: (a) while the flatten is in flight
    * the chain AND the new flat tier are both resident — a transient
    * ~2× serving-memory footprint; (b) the flatten's Spark jobs share
    * the cluster with foreground commits (low-weight pool under FAIR
    * schedulers; commit-idle deferred on a busy single box, see
    * [[maybeScheduleAbsorb]]). Pass `absorbDepth = 0` for fully
    * deterministic, no-daemon behavior (chains then retire only via the
    * churn/layer/fold rules above).
    */
  def incrementalServing(maxChurnFraction: Double = 0.25,
                         maxLayers: Int = VectorDB.IncServingMaxLayers,
                         absorbDepth: Int = VectorDB.IncServingAbsorbDepth)
      : this.type = {
    require(isMor, "incrementalServing requires merge-on-read storage " +
      "(copy-on-write commits rewrite the tier files — there is no delta " +
      "window to extend with)")
    require(maxChurnFraction > 0 && maxChurnFraction <= 1.0,
      s"maxChurnFraction must be in (0, 1], got $maxChurnFraction")
    require(maxLayers >= 1, s"maxLayers must be >= 1, got $maxLayers")
    require(absorbDepth >= 0, s"absorbDepth must be >= 0, got $absorbDepth")
    incServingChurnFrac = maxChurnFraction
    incServingMaxLayers = maxLayers
    incServingAbsorbDepth = absorbDepth
    this
  }

  /** Current serving-tier state (does NOT build blocks: an instance
    * that has not served yet reports non-resident).
    */
  def servingInfo(): VectorDB.ServingInfo = prepared match {
    case Some((_, ps)) => VectorDB.ServingInfo(resident = true,
      ps.chain.depth, ps.chain.churnRows, ps.rowsLowerBound, ps.numBlocks)
    case None => VectorDB.ServingInfo(resident = false, 0, 0L, 0L, 0)
  }

  /** Back to full rebuilds on every commit (releases any held-back
    * extension base).
    */
  def incrementalServingOff(): this.type = synchronized {
    incServingChurnFrac = 0.0
    pendingPrevServing.foreach { case (v, ps) => BlockCache.release(cacheKey, v, ps) }
    pendingPrevServing = None
    discardAbsorbed()
    this
  }

  def disableServing(): Unit = synchronized {
    servingEnabled = false
    prepared.foreach { case (v, ps) => BlockCache.release(cacheKey, v, ps) }
    prepared = None
    pendingPrevServing.foreach { case (v, ps) => BlockCache.release(cacheKey, v, ps) }
    pendingPrevServing = None
    discardAbsorbed()
    retryDeferredNavSweep()
  }

  /** Drop an unadopted background-absorbed tier (caller holds `this`). */
  private def discardAbsorbed(): Unit = {
    absorbedReady.foreach { case (_, s) => if (s.isAlive) s.unpersist() }
    absorbedReady = None
  }

  /** The fused serving index: [[PreparedScan]] blocks over
    * codes ⋈ docs with in-band payloads, SHARED across every instance
    * over this folder in this application ([[BlockCache]]): a second
    * handle — another session, a layered library, a test fixture —
    * reuses the resident blocks instead of doubling executor memory.
    * Built on [[enableServing]] or lazily; re-acquired when the
    * folder's snapshot version moves (a commit through ANY instance in
    * this JVM, observed as one in-memory map read per search — no
    * filesystem touch on the hot path). On refresh the instance's
    * Catalyst-tier caches drop too, so both execution paths see the
    * same snapshot.
    */
  private def preparedScan(): Option[PreparedScan] = {
    if (!servingEnabled) None
    else {
      maybeRefresh()
      prepared match {
        case Some((v, ps)) =>
          val swapped = adoptAbsorbed(v)
          val out = swapped.getOrElse(ps)
          maybeScheduleAbsorb(v, out)
          Some(out)
        case None => synchronized {
          prepared match {
            case Some((_, ps)) => Some(ps)
            case None if hasData =>
              val cur = lastSeenVersion
              val stash = pendingPrevServing
              pendingPrevServing = None
              var stashAdopted = false
              try {
                // Another instance may have background-flattened this
                // snapshot already — adopt its absorbed twin from the
                // shared cache instead of building.
                BlockCache.tryAcquire(cacheKey,
                    BlockCache.absorbedVersion(cur)) match {
                  case Some(abs) =>
                    prepared = Some((BlockCache.absorbedVersion(cur), abs))
                    Some(abs)
                  case None =>
                    val ps = BlockCache.acquire(cacheKey, cur) {
                      val extended = stash.flatMap { case (pv, prev) =>
                        tryExtendServing(pv, prev)
                      }
                      extended match {
                        case Some(e) => stashAdopted = true; e
                        case None => buildFullServing(allowWarmChain = true)
                      }
                    }
                    prepared = Some((cur, ps))
                    maybeScheduleAbsorb(cur, ps)
                    Some(ps)
                }
              } finally {
                // Not adopted (full rebuild, ineligible window, or the
                // entry already existed so the builder never ran):
                // release the held-back reference.
                if (!stashAdopted)
                  stash.foreach { case (v, ps) => BlockCache.release(cacheKey, v, ps) }
                retryDeferredNavSweep()
              }
            case None => None
          }
        }
      }
    }
  }

  /** Run one served job on the current serving tier under a pin
    * ([[PreparedScan.tryPin]]), so a commit, an absorb swap or
    * [[disableServing]] racing it defers the blocks' unpersist until the
    * job ends. A scan already freed when the pin is asked for is
    * resolved again. A job that fails on a lost resident block
    * ([[PreparedScan.lostBlock]] — the blocks are lineage-free, so Spark
    * cannot recompute them) evicts that tier and runs once more on a
    * rebuilt one, as the warm path falls back on
    * [[PreparedScan.BlockLoadFailed]]. None when serving is off or the
    * DB is empty.
    */
  private def withServedScan[T](job: PreparedScan => T): Option[T] = {
    var rebuilt = false
    var out: Option[T] = None
    var done = false
    while (!done) preparedScan() match {
      case None => done = true
      case Some(ps) if ps.tryPin() =>
        try { out = Some(job(ps)); done = true }
        catch {
          case scala.util.control.NonFatal(e)
              if !rebuilt && PreparedScan.lostBlock(e) =>
            rebuilt = true
            VectorDB.log.warn(
              s"serving blocks lost, rebuilding the serving tier: $e")
            BlockCache.evict(cacheKey, ps)
            dropPrepared(ps)
        } finally ps.unpin()
      case Some(ps) => dropPrepared(ps) // freed between resolution and pin
    }
    out
  }

  /** Let go of `ps` if it is still this instance's served tier. */
  private def dropPrepared(ps: PreparedScan): Unit = synchronized {
    prepared match {
      case Some((v, cur)) if cur eq ps =>
        BlockCache.release(cacheKey, v, ps)
        prepared = None
      case _ =>
    }
  }

  // ── Background chain absorption ────────────────────────────────────
  // A served chain pays ~O(depth) extra per query (micro-block tasks +
  // shadowing-map probes) until a compaction fold retires it. Once the
  // depth crosses `incServingAbsorbDepth`, a daemon thread rebuilds the
  // full serving tier OFF the query path; the next search swaps to the
  // flattened tier through the shared cache (registered under the
  // synthetic `#absorbed` version so other instances over the folder
  // adopt it too). Queries keep the chain until the swap; refresh stays
  // O(batch); correctness is untouched — the absorbed tier is the same
  // full rebuild a retirement would have done, just not on the caller's
  // wall.

  @volatile private var absorbInFlight = false
  @volatile private var absorbedReady: Option[(String, PreparedScan)] = None

  /** Swap the served chain for a ready absorbed twin (same snapshot
    * version only). Returns the adopted scan, or None to keep serving
    * the chain.
    */
  private def adoptAbsorbed(v: String): Option[PreparedScan] = {
    if (absorbedReady.isEmpty) return None
    synchronized {
      absorbedReady match {
        case Some((av, ascan)) if av == v && ascan.isAlive &&
            prepared.exists(_._1 == v) =>
          absorbedReady = None
          val shared = BlockCache.offer(cacheKey,
            BlockCache.absorbedVersion(v), ascan)
          if (!(shared eq ascan)) ascan.unpersist() // lost the offer race
          prepared.foreach { case (_, chain) =>
            BlockCache.release(cacheKey, v, chain) } // drop the chain reference
          prepared = Some((BlockCache.absorbedVersion(v), shared))
          Some(shared)
        case Some((av, ascan)) =>
          // stale (a commit moved the version, or serving was torn
          // down and rebuilt): discard
          if (av != v || !ascan.isAlive) {
            absorbedReady = None
            ascan.unpersist()
          }
          None
        case None => None
      }
    }
  }

  /** Kick the background flatten when the served chain is deep enough
    * and nothing is in flight. Cheap on the hot path: two volatile
    * reads and an int compare.
    */
  private def maybeScheduleAbsorb(v: String, ps: PreparedScan): Unit = {
    if (incServingAbsorbDepth <= 0 ||
        ps.chain.depth < incServingAbsorbDepth ||
        absorbInFlight || absorbedReady.isDefined) return
    synchronized {
      if (absorbInFlight || absorbedReady.isDefined) return
      absorbInFlight = true
    }
    val t = new Thread(() => {
      // Hoisted so the exception handler can match the cancel-intent
      // stamp ([[absorbCancelledGroup]]) against THIS attempt's group.
      var gid: String = null
      try {
        // COMMIT-IDLE DEFERRAL (INCBENCH_r12: flatten jobs tripled
        // foreground commit latency on a single box — FAIR weighting
        // cannot preempt coarse tasks already holding every slot). Wait
        // for a commit-quiet window before launching the build; a busy
        // commit stream also supersedes the version this flatten is
        // for, so starting mid-stream would burn cluster time on a tier
        // the next commit discards. Abort early when the version moves
        // or serving stops (the chain re-extends under the new version
        // and re-triggers); after MaxDefer, go anyway — under a FAIR
        // config the pool still yields, and an ever-deferring absorb
        // would let the chain grow to its layer cap and put the full
        // rebuild back on the query path.
        val deferDeadline = System.nanoTime() + VectorDB.AbsorbMaxDeferNanos
        var abort = false
        var goIdle = false
        while (!goIdle && !abort && System.nanoTime() < deferDeadline) {
          if (!servingEnabled || !prepared.exists(_._1 == v) ||
              BlockCache.currentVersion(cacheKey, () => readMarker()) != v)
            abort = true
          else if (System.nanoTime() - lastCommitNanos >=
                     VectorDB.absorbIdleRequiredNanos(commitGapEmaNanos))
            goIdle = true
          else Thread.sleep(VectorDB.AbsorbPollMs)
        }
        if (!abort) {
          // Flatten jobs yield to foreground commits/searches: low-weight
          // pool under FAIR serving configs (no-op under FIFO). Thread-
          // local property — dies with this daemon thread.
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", graft.Graft.BackgroundPool)
          // Cancellable build: a commit moving the version makes this
          // flatten GUARANTEED discarded (the adopt check below requires
          // `v`), so letting it run to completion only burns cluster
          // time and co-location bandwidth — the commit path cancels the
          // job group instead ([[invalidateCache]]). Thread-local group,
          // unique per attempt: only this daemon's jobs are cancelled.
          gid = s"graft-absorb-${System.identityHashCode(this)}-" +
            java.util.UUID.randomUUID().toString.take(8)
          spark.sparkContext.setJobGroup(gid,
            s"graft background chain absorption: $folder @ $v",
            interruptOnCancel = true)
          absorbJobGroup = gid
          // Lost-cancel window: cancelJobGroup kills only ACTIVE jobs —
          // it neither remembers the group nor cancels future
          // submissions, so a commit landing between the assignment
          // above and the build's first job submission would cancel
          // nothing and the doomed build would run to completion just
          // to be discarded at the adopt check. Re-checking the version
          // here closes it: a commit in that gap has already either
          // stamped the cancel intent or moved the version.
          val doomed = absorbCancelledGroup == gid ||
            BlockCache.currentVersion(cacheKey, () => readMarker()) != v
          if (doomed) {
            absorbJobGroup = null; spark.sparkContext.clearJobGroup()
            if (absorbCancelledGroup == gid) absorbCancels += 1
            VectorDB.log.info(
              "background chain absorption skipped: superseded before first job")
          } else {
            val scan =
              try buildFullServing()
              finally { absorbJobGroup = null; spark.sparkContext.clearJobGroup() }
            synchronized {
              val fresh = BlockCache.currentVersion(cacheKey, () => readMarker())
              if (fresh == v && servingEnabled && prepared.exists(_._1 == v))
                absorbedReady = Some((v, scan))
              else scan.unpersist() // superseded while building
            }
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          // A cancel is the commit path telling this build it is already
          // superseded — bookkeeping, not a failure. Classified by the
          // commit's intent stamp (set BEFORE cancelJobGroup), which is
          // deterministic under any interleaving; the version re-read
          // below covers only the cross-JVM commit, whose fence write IS
          // visible before our jobs can fail against it.
          if (gid != null && absorbCancelledGroup == gid) {
            absorbCancels += 1
            VectorDB.log.info(
              s"background chain absorption cancelled by a commit (build superseded): $e")
          } else if (BlockCache.currentVersion(cacheKey, () => readMarker()) != v) {
            absorbCancels += 1
            VectorDB.log.info(
              s"background chain absorption cancelled (version moved): $e")
          } else VectorDB.log.warn(
            s"background chain absorption failed (chain keeps serving): $e")
      } finally absorbInFlight = false
    })
    t.setDaemon(true)
    t.setName(s"graft-absorb-${System.identityHashCode(this)}")
    t.start()
  }

  /** Build the full serving tier at the current snapshot. Resolution
    * order: (1) warm-load this version's persisted `_blocks`/`_nav`
    * (pure IO — unchanged snapshot); (2) with `allowWarmChain`, warm-
    * load the RETAINED previous build's blocks and chain-extend them
    * with the missed MOR commit windows (restart latency = block IO +
    * O(missed batches) instead of the full cold build); (3) the cold
    * codes⋈docs build. The absorb daemon passes `allowWarmChain=false`:
    * its whole purpose is a depth-0 flatten — handing it a chain back
    * would re-trigger itself forever.
    */
  private def buildFullServing(allowWarmChain: Boolean = false): PreparedScan = {
    val joined = codes.join(
      docs.select(col("doc_id"), col("doc"), col("emb_int8")),
      Seq("doc_id"))
    // blocks pin (enableServing(blocks)): coalesce, never repartition —
    // merging shuffle outputs costs no exchange, and widening beyond
    // the join width is the caller's shuffle.partitions decision.
    val fused = if (servingBlocks > 0) joined.coalesce(servingBlocks) else joined
    // Every MOR build records the snapshot ceilings it was built at
    // (cheap FS listings) — turning on incrementalServing AFTER a build
    // then extends from the right window; the row count the churn
    // policy needs comes free from the materialization job.
    val chain =
      if (isMor)
        PreparedScan.ChainInfo(0, -1L, 0L, committedCeilings(),
          (codesMor.foldCeiling(), docsMor.foldCeiling()))
      else PreparedScan.ChainInfo.none
    val nav = indexStrategy.navBuilder(strategyCtx)
    // Snapshot-versioned graph persistence (the engine analogue of the
    // reference's `faiss.write_index_binary`, `BinaryVectorDB.py:172`):
    // full serve-builds reload each block's persisted adjacency when
    // fresh instead of paying the graph build again (the NSW strategy's
    // whole price — ~66 s/1M-row block), and persist what they build.
    lazy val confProps = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = scala.collection.mutable.ArrayBuilder.make[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    val navStore = nav.map { nb =>
      fs.mkdirs(new Path(navDir(lastSeenVersion)))
      new NavStore(navDir(lastSeenVersion), confProps, nb)
    }
    // Packed-block persistence rides the same trigger (a nav strategy —
    // the expensive-rebuild regime): with both stores fresh, a warm
    // serve-build at an unchanged snapshot skips the codes⋈docs join
    // AND the per-block graph construction — pure IO
    // ([[PreparedScan.loadPersisted]]; the r13 47–74 s warm wall).
    // READS are always attempted (a manifest another config wrote is
    // still a valid warm load); WRITES are gated on estimated tier
    // bytes ([[blockPersistence]]) — at fixture-scale tiers the block
    // write costs more than the cold rebuild it would save (the r14 x2
    // 1.13–1.26× drift), while the tiers warm restart exists for sit
    // orders of magnitude past the gate.
    val blockStore = nav.map { _ =>
      new BlockStore(blocksDir(lastSeenVersion), confProps, nWords,
        isIvf, withBytes = true, withDoc = true,
        requestedBlocks = servingBlocks, isMor = isMor)
    }
    val blockStoreW = blockStore.filter { _ =>
      val est = estimatedTierFileBytes()
      val on = est >= blockPersistMinBytes
      if (!on) VectorDB.log.info(
        s"packed-block persistence skipped: tier files ~$est B under the " +
          s"$blockPersistMinBytes B gate (blockPersistence(0) forces it on) " +
          "— cold rebuilds at this size are cheaper than the block writes")
      on
    }
    blockStoreW.foreach(_ => fs.mkdirs(new Path(blocksDir(lastSeenVersion))))
    val scan = blockStore.flatMap { st =>
      PreparedScan.loadPersisted(spark.sparkContext, st, nWords,
        navBuilder = nav, navStore = navStore, chain = chain)
    }.orElse {
      if (allowWarmChain) tryWarmChainRestart(nav, confProps) else None
    }.getOrElse {
      PreparedScan.build(fused, nWords, isFlat, isIvf,
        withBytes = true, withDoc = true,
        navBuilder = nav, chain = chain, navStore = navStore,
        blockStore = blockStoreW)
    }
    // Loud sizing guard (GRAPHBENCH crossover): below ~1M rows per
    // block the linear scan's early-exited popcount walk already sits
    // on the job floor, so a graph strategy pays its build cost
    // (data-dependent, up to minutes per block) for no latency win —
    // ship flat/ivf there. Warn, don't refuse: small-block graph
    // serving is still CORRECT (specs run it constantly) and a table
    // about to grow may want the index from day one.
    sizingWarning = nav.flatMap { _ =>
      val perBlock = scan.rowsLowerBound / math.max(1, scan.numBlocks)
      if (perBlock < VectorDB.NavCrossoverRows) Some(
        s"index strategy '${indexStrategy.name}' builds per-block graphs, " +
          s"but this serving tier averages $perBlock rows/block " +
          s"(${scan.numBlocks} blocks) — below the ~${VectorDB.NavCrossoverRows} " +
          "rows/block crossover where graph navigation beats the linear " +
          "prepared scan (ARCHITECTURE.md 'Per-block graph search'). The " +
          "graph build cost is pure overhead at this size; prefer " +
          "index=flat or index=ivf until blocks grow.")
      else None
    }
    sizingWarning.foreach(w => VectorDB.log.warn(w))
    // Heap-pressure guardrail (local mode only — on a cluster each
    // executor holds tier/executors and declares its own memory): the
    // r14 24-vs-48 GB A/B measured the warm serving paths collapsing
    // under GC (chain restart 91 s / 106 ms hits vs 8.3 s / 27 ms)
    // when the shared JVM's heap sat ~5× the packed tier bytes.
    VectorDB.heapPressureWarning(scan.rowsLowerBound, dim, nWords,
        Runtime.getRuntime.maxMemory(), spark.sparkContext.isLocal)
      .foreach(w => VectorDB.log.warn(w))
    scan
  }

  /** WARM RESTART across commits (MOR + incremental serving): when the
    * current version has no persisted blocks (commits since the last
    * full build were chain-extended in a process that is gone), warm-
    * load the RETAINED previous build's `_blocks`/`_nav` — the seed the
    * commit-time sweep keeps, [[sweepStaleNavDirs]] — and chain-extend
    * it with the missed commit windows through the SAME machinery a
    * live refresh uses ([[tryExtendServing]]): restart latency becomes
    * sequential block IO + O(missed batches) instead of the full
    * codes⋈docs build (+ per-block graph construction, the nav
    * strategies' dominant cost). Every eligibility rule of a live
    * extension applies unchanged — fold ceilings must match (a
    * compaction folds the windows a chain would read), the window's
    * touched set and cumulative churn stay bounded — and any
    * ineligibility falls back to the cold build, so the path is never
    * wrong, only absent. The loaded base registers in [[BlockCache]]
    * under ITS version, and the chain holds that reference exactly like
    * a live refresh's stash.
    */
  private def tryWarmChainRestart(nav: Option[NavBuilder],
                                  confProps: Array[(String, String)])
      : Option[PreparedScan] = {
    if (!isMor || incServingChurnFrac <= 0 || nav.isEmpty) return None
    val root = new Path(s"$folder/_blocks")
    if (!fs.exists(root)) return None
    val cur = lastSeenVersion
    val (ccNow, dcNow) = committedCeilings()
    val foldsNow = (codesMor.foldCeiling(), docsMor.foldCeiling())
    // Newest eligible seed = max recorded ceilings. tryExtendServing
    // needs BOTH tiers strictly ahead of the base's floor, so filter
    // that here and skip doomed loads.
    val best = fs.listStatus(root).map(_.getPath.getName)
      .filter(_ != cur)
      .flatMap { u =>
        val st = new BlockStore(blocksDir(u), confProps, nWords,
          isIvf, withBytes = true, withDoc = true,
          requestedBlocks = servingBlocks, isMor = isMor)
        st.readManifest().collect {
          case m if m.morFolds == foldsNow &&
            m.morCeilings._1 < ccNow && m.morCeilings._2 < dcNow =>
            (u, st, m)
        }
      }
      .sortBy { case (_, _, m) => (m.morCeilings._1, m.morCeilings._2) }
      .lastOption
    best.flatMap { case (u, st, m) =>
      val navStoreU = nav.map(nb => new NavStore(navDir(u), confProps, nb))
      val baseChain = PreparedScan.ChainInfo(0, -1L, 0L,
        m.morCeilings, m.morFolds)
      // Get-or-load under the base's version: another instance may hold
      // these blocks resident already; otherwise the load streams them
      // back (CRC-gated; a corrupt file fails the whole attempt).
      var loaded = false
      val tSeed0 = System.nanoTime()
      val base =
        try Some(BlockCache.acquire(cacheKey, u) {
          loaded = true
          PreparedScan.loadPersisted(spark.sparkContext, st, nWords,
            navBuilder = nav, navStore = navStoreU, chain = baseChain)
            .getOrElse(throw new PreparedScan.BlockLoadFailed(-1))
        })
        catch { case scala.util.control.NonFatal(_) => None }
      val tSeed1 = System.nanoTime()
      base.flatMap { b =>
        val ext = tryExtendServing(u, b)
        lastWarmRestartTimings = Some(
          ((tSeed1 - tSeed0) / 1e6, (System.nanoTime() - tSeed1) / 1e6))
        if (ext.isEmpty) BlockCache.release(cacheKey, u, b)
        else VectorDB.log.info(
          s"warm chain restart: loaded persisted blocks of $u " +
            s"(${if (loaded) "from disk" else "resident"}) and adopted " +
            s"the missed commit window up to ceilings ($ccNow, $dcNow)")
        ext
      }
    }
  }

  /** Diagnostic for the last [[tryWarmChainRestart]] attempt that got
    * as far as a seed load: (seed block-load ms, chain-extension ms).
    * Bench-facing (RestartBench) — locates a slow restart between the
    * IO-bound seed reload and the window extension.
    */
  @volatile private[graft] var lastWarmRestartTimings: Option[(Double, Double)] = None

  /** Set by the serving-tier build when a graph (NavBuilder) strategy
    * is configured on a tier whose blocks are below the recorded
    * crossover size — the loud default for the GRAPHBENCH sizing rule.
    * None when sized sensibly (or serving not yet built).
    */
  @volatile private var sizingWarning: Option[String] = None
  def servingSizingWarning: Option[String] = sizingWarning

  /** Extend the held-back serving blocks with the commit window between
    * their ceilings and the current ones, or None when a full rebuild
    * is the right call: knob off, a fold/compaction reorganized the
    * tiers (the windows a chain reads fold away), the chain is at its
    * layer bound, or cumulative churn crossed the retirement threshold
    * (a chain dominated by masked rows + micro-layers scans worse than
    * a fresh build — and its superseded map is driver/broadcast-resident,
    * so it must stay bounded).
    */
  private def tryExtendServing(prevVersion: String,
                               prev: PreparedScan): Option[PreparedScan] = {
    if (incServingChurnFrac <= 0 || !isMor || !prev.isAlive) return None
    val pc = prev.chain
    if (pc.baseRows <= 0) return None // built before the knob was on
    if (pc.depth + 1 > incServingMaxLayers) return None
    if ((codesMor.foldCeiling(), docsMor.foldCeiling()) != pc.morFolds)
      return None // a fold reorganized the tiers since the chain's base
    val (cc1, dc1) = committedCeilings()
    val (cc0, dc0) = pc.morCeilings
    if (cc1 <= cc0 || dc1 <= dc0) return None // nothing to adopt / rewound
    // Small windows (the crawl-loop regime: a few MB of delta files)
    // resolve DRIVER-SIDE from one collect per tier — last-writer-wins
    // by key, touched ids derived in the same pass — instead of paying
    // a touched-keys job plus a window-function + join plan; the
    // distributed path remains for bulk windows. File sizes are the
    // zero-cost dispatch probe.
    val driverSide =
      codesMor.windowBytes(cc0, cc1) + docsMor.windowBytes(dc0, dc1) <=
        incServingDriverWindowBytes
    val (touched, fusedWin, liveRows) =
      if (driverSide) driverFusedWindow(cc0, cc1, dc0, dc1)
      else {
        val tchd = codesMor.touchedKeys(cc0, cc1).collect().map(_.getLong(0))
        java.util.Arrays.sort(tchd)
        (tchd, null: org.apache.spark.sql.DataFrame, -1L)
      }
    if (touched.length > VectorDB.IncServingMaxTouched) return None
    if (pc.churnRows + touched.length > incServingChurnFrac * pc.baseRows)
      return None
    val out =
      if (liveRows == 0L)
        // Delete-only window (every touched id a tombstone): the layer
        // is just a shadowing-map increment — skip the blockify +
        // materialization job entirely (r18, PreparedScan
        // .extendDeleteOnly; the crawl-loop delete regime).
        PreparedScan.extendDeleteOnly(prev, touched,
          newCeilings = (cc1, dc1),
          onBaseFree = () => BlockCache.release(cacheKey, prevVersion, prev))
      else {
        val nParts = math.max(1L, math.min(64L,
          (touched.length.toLong + VectorDB.IncServingRowsPerBlock - 1) /
            VectorDB.IncServingRowsPerBlock)).toInt
        // coalesce, not repartition: the window is already small and
        // partitioned by its delta files (or a local relation) — an
        // exchange would add a whole shuffle stage to the refresh floor
        // just to rebalance a batch.
        val window =
          (if (driverSide) fusedWin
           else codesMor.readWindow(cc0, cc1).join(
             docsMor.readWindow(dc0, dc1)
               .select(col("doc_id"), col("doc"), col("emb_int8")),
             Seq("doc_id"))).coalesce(nParts)
        PreparedScan.extend(prev, window, touched, nWords, isFlat, isIvf,
          withBytes = true, withDoc = true,
          navBuilder = indexStrategy.navBuilder(strategyCtx),
          newCeilings = (cc1, dc1),
          onBaseFree = () => BlockCache.release(cacheKey, prevVersion, prev))
      }
    Some(out)
  }

  /** Driver-side materialization of a SMALL commit window: collect the
    * raw deltas of both tiers once, resolve last-writer-wins per key
    * (max `_v`; tombstones drop), inner-join codes↔docs locally, and
    * return (sorted touched ids, the fused rows as a local relation) —
    * exactly what the distributed window plan computes, minus two
    * Spark actions' planning. Memory is bounded by the dispatch
    * threshold on file bytes.
    */
  private def driverFusedWindow(cc0: Int, cc1: Int, dc0: Int, dc1: Int):
      (Array[Long], org.apache.spark.sql.DataFrame, Long) = {
    def resolve(df: org.apache.spark.sql.DataFrame):
        (StructType, scala.collection.mutable.LongMap[(Int, org.apache.spark.sql.Row)]) = {
      val schema = df.schema
      val idAt = schema.fieldIndex("doc_id")
      val vAt = schema.fieldIndex("_v")
      val delAt = schema.fieldIndex("_deleted")
      val best = new scala.collection.mutable.LongMap[(Int, org.apache.spark.sql.Row)]()
      df.collect().foreach { r =>
        val id = r.getLong(idAt)
        val v = r.getInt(vAt)
        if (best.get(id).forall(_._1 < v))
          best(id) = (v, if (r.getBoolean(delAt)) null else r)
      }
      (schema, best)
    }
    // The two tiers' window collects are independent small jobs —
    // overlap them (guide §2.6), same pool as the tier writes.
    val ((codesSchema, codesBest), (docsSchema, docsBest)) =
      VectorDB.tierParallel(
        resolve(codesMor.readWindowRaw(cc0, cc1)),
        resolve(docsMor.readWindowRaw(dc0, dc1)))
    val touched = codesBest.keys.toArray
    java.util.Arrays.sort(touched)

    val codesKeep = codesSchema.fields.zipWithIndex
      .filter { case (f, _) => f.name != "_v" && f.name != "_deleted" }
    val docAt = docsSchema.fieldIndex("doc")
    val embAt = docsSchema.fieldIndex("emb_int8")
    val fusedSchema = StructType(codesKeep.map(_._1).toSeq ++
      Seq(docsSchema("doc"), docsSchema("emb_int8")))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    codesBest.foreach { case (id, (_, cRow)) =>
      if (cRow != null) docsBest.get(id).map(_._2).filter(_ != null).foreach { dRow =>
        val vals = new Array[Any](codesKeep.length + 2)
        var i = 0
        while (i < codesKeep.length) { vals(i) = cRow.get(codesKeep(i)._2); i += 1 }
        vals(codesKeep.length) = dRow.get(docAt)
        vals(codesKeep.length + 1) = dRow.get(embAt)
        rows.add(org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq))
        ()
      }
    }
    (touched, spark.createDataFrame(rows, fusedSchema), rows.size().toLong)
  }

  /** Dispatch bound for [[driverFusedWindow]] (test hook: force either
    * path).
    */
  @volatile private[graft] var incServingDriverWindowBytes: Long =
    VectorDB.IncServingDriverWindowBytes

  /** Exact driver-side mirror of the phase-III column expression
    * `graft_dot_int8(q, emb_int8) / graft_norm_int8(emb_int8)`: both
    * kernels accumulate doubles left-to-right, so the serving path and
    * the Catalyst path produce bit-identical scores.
    */
  private def cosSimInt8(q: Array[Double], bytes: Array[Byte]): Double = {
    val n = math.min(q.length, bytes.length)
    var i = 0
    var dot = 0.0
    while (i < n) { dot += q(i) * bytes(i).toDouble; i += 1 }
    var j = 0
    var nrm = 0.0
    while (j < bytes.length) { val v = bytes(j).toDouble; nrm += v * v; j += 1 }
    dot / math.sqrt(nrm)
  }

  /** O11: the three-phase funnel over the stored tiers. Returns
    * (doc_id, score_hamming, score_binary, score_cossim, doc) — the
    * reference's result fields (`BinaryVectorDB.py:252`).
    */
  def search(text: String, k: Int = 10, binaryOversample: Int = 10,
             int8Oversample: Int = 3,
             embedder: Embedder = new HashingEmbedder(),
             nprobe: Int = Int.MaxValue): DataFrame = {
    Kernels.install(spark)
    require(embedder.dim == dim, s"embedder dim ${embedder.dim} != index dim $dim")
    requireNonEmpty()
    val qRow = spark.range(1).select(
      embedder.embed(lit(text)).cast("array<double>").as("q"))
      .head().getSeq[Double](0)
    searchVector(qRow, k, binaryOversample, int8Oversample, nprobe)
  }

  /** [[search]] restricted to cold-tier rows satisfying `where` — the
    * text-query face of [[searchVectorWhere]].
    */
  def searchWhere(text: String, where: org.apache.spark.sql.Column,
                  k: Int = 10, binaryOversample: Int = 10,
                  int8Oversample: Int = 3,
                  embedder: Embedder = new HashingEmbedder(),
                  nprobe: Int = Int.MaxValue): DataFrame = {
    Kernels.install(spark)
    require(embedder.dim == dim, s"embedder dim ${embedder.dim} != index dim $dim")
    requireNonEmpty()
    val qRow = spark.range(1).select(
      embedder.embed(lit(text)).cast("array<double>").as("q"))
      .head().getSeq[Double](0)
    searchVectorWhere(qRow, where, k, binaryOversample, int8Oversample, nprobe)
  }

  /** O8–O10 with a caller-supplied query vector. Under the `ivf` index
    * strategy, `nprobe` limits the Phase-I scan to the nprobe cells
    * nearest the query's code prefix (cells probed in hamming order);
    * the default probes every cell — identical results to `flat`, the
    * spec-pinned parity property. Partition pruning happens at the file
    * source for uncached snapshots and at the in-memory partition filter
    * for the cached hot tier.
    */
  def searchVector(q: Seq[Double], k: Int = 10, binaryOversample: Int = 10,
                   int8Oversample: Int = 3, nprobe: Int = Int.MaxValue): DataFrame = {
    validateSearch(k, binaryOversample, int8Oversample, nprobe)
    withServedScan(ps =>
      servedHits(ps, q, k, binaryOversample, int8Oversample, nprobe, None)) match {
      case Some(hits) => hitsToDf(hits)
      case None =>
        catalystFunnel(q, k, binaryOversample, int8Oversample, nprobe, None)
    }
  }

  /** Filtered search, predicate form: the funnel restricted to cold-tier
    * rows satisfying `where` (any Column over doc_id/doc/emb_int8).
    * Always the Catalyst path: the predicate filters the cold tier with
    * full pushdown and the matching ids reach Phase I as a semi-join —
    * nothing is materialized driver-side, so ANY selectivity scales.
    * Serving callers with a selective, reused predicate should compile
    * it once with [[selector]] and use the [[DocSelector]] overload,
    * which pushes the id allowlist into the prepared scan's heaps.
    */
  def searchVectorWhere(q: Seq[Double], where: org.apache.spark.sql.Column,
                        k: Int = 10, binaryOversample: Int = 10,
                        int8Oversample: Int = 3,
                        nprobe: Int = Int.MaxValue): DataFrame = {
    validateSearch(k, binaryOversample, int8Oversample, nprobe)
    catalystFunnel(q, k, binaryOversample, int8Oversample, nprobe, Some(where))
  }

  /** Filtered search, compiled-selector form: under serving the sorted
    * id allowlist rides the prepared scan's heap-insert check (the faiss
    * `IDSelectorBatch` shape — zero extra jobs, zero Catalyst); without
    * serving it falls back to the predicate path.
    *
    * Staleness contract for a handle HELD across commits: the allowlist
    * is the predicate's match set AT COMPILE TIME. Probed against an
    * incremental-serving chain whose head is newer, it composes with
    * the shadowing map correctly for every id it knows — tombstoned ids
    * vanish, rewritten ids serve their NEWEST payload (which may no
    * longer satisfy the predicate) — but ids ADDED after compile are
    * outside the allowlist and never returned (FilteredSearchSpec pins
    * all three). For predicate-as-of-now semantics re-acquire via
    * [[selectorCached]] (version-keyed — a commit makes re-acquisition
    * compile fresh) or use the predicate overload. Note the no-serving
    * fallback re-evaluates `sel.pred` against the CURRENT snapshot —
    * as-of-now, not as-of-compile; don't hold one handle across commits
    * while also toggling serving if the distinction matters.
    */
  def searchVectorWhere(q: Seq[Double], sel: DocSelector, k: Int,
                        binaryOversample: Int, int8Oversample: Int,
                        nprobe: Int): DataFrame = {
    validateSearch(k, binaryOversample, int8Oversample, nprobe)
    withServedScan(ps =>
      servedHits(ps, q, k, binaryOversample, int8Oversample, nprobe, Some(sel))) match {
      case Some(hits) => hitsToDf(hits)
      case None =>
        catalystFunnel(q, k, binaryOversample, int8Oversample, nprobe, Some(sel.pred))
    }
  }

  def searchVectorWhere(q: Seq[Double], sel: DocSelector): DataFrame =
    searchVectorWhere(q, sel, 10, 10, 3, Int.MaxValue)

  /** Typed result API — the reference's own return shape (`search`
    * returns a plain Python list of hit dicts, `BinaryVectorDB.py:252`),
    * for serving callers: a ≤k-element list must not pay a per-query
    * DataFrame materialization + collect round-trip (measured ~30 ms of
    * the 47 ms API serve latency at 1M×1024). Under serving this is the
    * one-job funnel returning its hits directly; without serving it
    * collects the Catalyst result. Results are identical to
    * [[searchVector]] row for row (ServingIndexSpec pins it).
    */
  def searchHits(q: Seq[Double], k: Int = 10, binaryOversample: Int = 10,
                 int8Oversample: Int = 3, nprobe: Int = Int.MaxValue,
                 sel: Option[DocSelector] = None): Seq[VectorDB.SearchHit] = {
    validateSearch(k, binaryOversample, int8Oversample, nprobe)
    withServedScan(ps =>
      servedHits(ps, q, k, binaryOversample, int8Oversample, nprobe, sel)) match {
      case Some(hits) => hits
      case None =>
        val df = catalystFunnel(q, k, binaryOversample, int8Oversample, nprobe,
          sel.map(_.pred))
        val t0 = System.nanoTime()
        val hits = df.collect().toIndexedSeq.map(r => VectorDB.SearchHit(r.getLong(0),
          r.getInt(1), r.getDouble(2), r.getDouble(3), r.getString(4)))
        // Stamp the cold-tier rescore job into phase3Ms (catalystFunnel
        // recorded the fused I+II job when it materialized candidates).
        Option(lastTimingsTL.get()).foreach(t =>
          recordTimings(t.copy(phase3Ms = (System.nanoTime() - t0) / 1e6)))
        hits
    }
  }

  /** Hamming RANGE search over the stored codes — the faiss
    * `range_search` analogue: (doc_id, hamming) for EVERY indexed
    * vector within `radius` bits of the query's sign code, however many
    * match. This is the ingest-time near-duplicate probe ("is anything
    * this close already indexed?") where top-k has the wrong contract —
    * the right answer may be empty or thousands. Under serving it's one
    * bare RDD job with the early-exit bound FIXED at `radius` (strictly
    * stronger pruning than top-k's adaptive bound); otherwise a
    * codegen'd filter over the cached hot tier. `sel` restricts the
    * scan to a compiled allowlist. Results sorted (hamming asc, id asc).
    */
  def searchRadius(q: Seq[Double], radius: Int,
                   sel: Option[DocSelector] = None): Seq[(Long, Int)] = {
    Kernels.install(spark)
    require(radius >= 0, s"radius must be >= 0, got $radius")
    requireNonEmpty()
    val qWords = graft.operators.Search.packQuery(q)
    withServedScan(ps =>
      ps.withinRadius(qWords.toArray, radius, None, sel.map(_.idSet))) match {
      case Some(hits) => hits.map(h => (h.id, h.hamming)).toIndexedSeq
      case None =>
        val hammingCol =
          if (isFlat) (0 until nWords).map(i =>
            expr(s"bit_count(c$i ^ ${qWords(i)}L)")).reduce(_ + _).cast("int")
          else Kernels.hamming(col("code"), typedlit(qWords))
        val base = sel match {
          case Some(s) => codes.join(docs.filter(s.pred).select("doc_id"),
            Seq("doc_id"), "left_semi")
          case None => codes
        }
        base.withColumn("score_hamming", hammingCol)
          .filter(col("score_hamming") <= radius)
          .orderBy(col("score_hamming").asc, col("doc_id").asc)
          .select("doc_id", "score_hamming")
          .collect().toIndexedSeq
          .map(r => (r.getLong(0), r.getInt(1)))
    }
  }

  /** Compile a cold-tier predicate into a reusable id selector: evaluate
    * it ONCE (filter pushed into the cold-tier scan) and materialize the
    * sorted matching ids in the shape their count calls for:
    *
    *  - ≤ `maxBroadcast` matches (default [[VectorDB.MaxSelectorIds]]):
    *    collect + sort + broadcast — 8 B/id on the driver and per
    *    executor, O(log n) probes.
    *  - beyond it: the SCALE PATH — the ids are range-partitioned,
    *    sorted, and written as fixed-width binary RUN FILES under
    *    `folder/_selectors/` on the shared FS; only a small (min, max,
    *    path) manifest rides the query closures, and each executor
    *    lazily loads just the runs its surviving rows probe
    *    (bounded-LRU cached — cold runs evict). Nothing is ever
    *    collected to the driver, so there is NO match-count ceiling.
    *    Exact semantics either way (a bloom filter would leak
    *    false-positive ids into filtered results).
    *
    * The handle amortizes across any number of queries — build cost is
    * one or two Catalyst jobs. For one-shot broad predicates prefer the
    * predicate overload of [[searchVectorWhere]], whose semi-join never
    * materializes the ids at all.
    *
    * `runSize` bounds ids per run file (8·runSize bytes loaded per
    * probed run); the defaults give 64 MB runs.
    */
  def selector(pred: org.apache.spark.sql.Column,
               maxBroadcast: Int = VectorDB.MaxSelectorIds,
               runSize: Int = VectorDB.SelectorRunSize): DocSelector =
    buildSelector(pred, maxBroadcast, runSize, catalogKey = None)

  /** [[selector]] through the JVM-wide [[SelectorCatalog]]: repeated
    * compiles of the same predicate (canonical SQL text) against the
    * same snapshot — from this instance, another instance over the same
    * folder, or a per-request service loop — return the SAME compiled
    * handle instead of re-running the Catalyst jobs (and, file-backed,
    * re-writing run files). The handle is refcounted: [[DocSelector
    * .release]] drops a reference, the compiled ids stay WARM at zero
    * references (the skipped rebuild), and a commit to the folder
    * supersedes them — freed immediately if unreferenced, else at last
    * release, so in-flight filtered searches keep their ids. Use
    * [[VectorDB.clearSelectorCache]] to give warm memory back early.
    *
    * Cross-JVM: a file-backed cataloged selector persists its run
    * manifest beside its run files; a catalog miss here first tries to
    * ADOPT such a manifest (same predicate, same snapshot version, same
    * knobs) written by another JVM over this folder — one small file
    * read instead of the predicate scan + run write. Adopted handles
    * never delete the run files (the building JVM keeps deletion duty);
    * the usual cross-JVM staleness contract applies — a reader between
    * marker polls may race the writer's supersession GC by the poll
    * interval, exactly as for serving blocks.
    */
  def selectorCached(pred: org.apache.spark.sql.Column,
                     maxBroadcast: Int = VectorDB.MaxSelectorIds,
                     runSize: Int = VectorDB.SelectorRunSize): DocSelector = {
    maybeRefresh()
    val key = SelectorCatalog.Key(cacheKey, lastSeenVersion,
      VectorDB.predKeyOf(pred), maxBroadcast, runSize)
    SelectorCatalog.acquire(key)(
      adoptSelector(pred, key).getOrElse(
        buildSelector(pred, maxBroadcast, runSize, Some(key))))
  }

  /** Adopt a file-backed selector another JVM persisted for the same
    * (predicate, snapshot version, knobs): scan `folder/_selectors`
    * manifests — one FS listing plus a small read per candidate, paid
    * only on a catalog miss, never on the query hot path.
    */
  private def adoptSelector(pred: org.apache.spark.sql.Column,
                            key: SelectorCatalog.Key): Option[DocSelector] = {
    val root = new Path(s"$folder/_selectors")
    if (!fs.exists(root)) None
    else fs.listStatus(root).iterator.map(_.getPath.getName).flatMap { name =>
      // resolve under OUR folder string (manifests store runs relative
      // to their dir), so the adopted dir + run paths share one
      // consistent prefix regardless of how the FS qualifies listings
      // — and a moved/replicated folder adopts its own copies.
      val selDir = s"$folder/_selectors/$name"
      SelectorManifest.read(fs, selDir) match {
        case Some(m) if m.version == key.version && m.pred == key.pred &&
            m.maxBroadcast == key.maxBroadcast && m.runSize == key.runSize =>
          Iterator.single(new DocSelector(pred,
            new RunIdSet(m.dir, m.runs, m.total, hadoopConfProps,
              owned = false), Some(key)))
        case _ => Iterator.empty
      }
    }.nextOption()
  }

  private def hadoopConfProps: Map[String, String] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  private def buildSelector(pred: org.apache.spark.sql.Column,
                            maxBroadcast: Int, runSize: Int,
                            catalogKey: Option[SelectorCatalog.Key]): DocSelector = {
    require(maxBroadcast >= 0, s"maxBroadcast must be >= 0, got $maxBroadcast")
    require(runSize >= 1, s"runSize must be >= 1, got $runSize")
    val matches = docs.filter(pred).select(col("doc_id"))
    val n = matches.count()
    if (n <= maxBroadcast) {
      val ids = matches.collect().map(_.getLong(0))
      java.util.Arrays.sort(ids)
      new DocSelector(pred,
        new BroadcastIdSet(spark.sparkContext.broadcast(ids)), catalogKey)
    } else {
      val dir = s"$folder/_selectors/sel-${java.util.UUID.randomUUID()}"
      // Shield the dir from a concurrent commit's orphan sweep for the
      // whole build window (runs + manifest land before the catalog
      // entry flips `built`); dropped by the entry initializer on
      // success, here on failure.
      catalogKey.foreach(_ => SelectorCatalog.registerBuilding(dir))
      try buildRunSelector(pred, matches, dir, n, runSize, maxBroadcast, catalogKey)
      catch {
        case t: Throwable =>
          catalogKey.foreach(_ => SelectorCatalog.doneBuilding(dir))
          throw t
      }
    }
  }

  private def buildRunSelector(pred: org.apache.spark.sql.Column,
                               matches: DataFrame,
                               dir: String, n: Long, runSize: Int,
                               maxBroadcast: Int,
                               catalogKey: Option[SelectorCatalog.Key]): DocSelector = {
    {
      val numRuns = math.max(1, ((n + runSize - 1) / runSize).toInt)
      val confProps = hadoopConfProps
      // Range-partition + sort, then each partition streams its ids
      // straight to one run file from the executor — the driver only
      // ever sees the O(runs) manifest.
      val sorted =
        if (numRuns == 1) matches.repartition(1).sortWithinPartitions("doc_id")
        else matches.repartitionByRange(numRuns, col("doc_id"))
          .sortWithinPartitions("doc_id")
      val metas = sorted.rdd
        .mapPartitionsWithIndex { (pid, it) =>
          RunIdSet.writeRun(dir, pid, it.map(_.getLong(0)), confProps).iterator
        }
        .collect()
        .sortBy(_.min)
      metas.sliding(2).foreach {
        case Array(a, b2) => require(a.max < b2.min,
          s"selector runs overlap: ${a.path} [${a.min},${a.max}] vs " +
            s"${b2.path} [${b2.min},${b2.max}]")
        case _ =>
      }
      // Persist the run manifest for cataloged selectors only: their
      // run files live until a commit supersedes them, so another JVM
      // can adopt this compile instead of repeating it. An uncached
      // handle deletes its files at release — a manifest there would
      // race adopters.
      catalogKey.foreach(k => SelectorManifest.write(fs, dir, k.version,
        k.pred, maxBroadcast, runSize, n, metas))
      new DocSelector(pred, new RunIdSet(dir, metas, n, confProps), catalogKey)
    }
  }

  /** Free every unreferenced cataloged selector for this folder (any
    * snapshot version); held ones free at their last release. See
    * [[selectorCached]].
    */
  def clearSelectorCache(): Unit = SelectorCatalog.clear(cacheKey.folder)

  private def validateSearch(k: Int, binaryOversample: Int,
                             int8Oversample: Int, nprobe: Int): Unit = {
    Kernels.install(spark)
    requireNonEmpty()
    require(isIvf || nprobe == Int.MaxValue,
      s"nprobe is an '${VectorDB.IndexIvf}' index parameter; this DB uses '$index'")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    validateFunnelParams(k, binaryOversample, int8Oversample)
  }

  /** Test hooks: the shared-block identity this instance serves from. */
  private[graft] def blockCacheKey: BlockCache.Key = cacheKey
  private[graft] def preparedForTest: Option[PreparedScan] = prepared.map(_._2)
  private[graft] def preparedVersionForTest: Option[String] = prepared.map(_._1)
  private[graft] def servingChainForTest: Option[PreparedScan.ChainInfo] =
    prepared.map(_._2.chain)
  private[graft] def pendingPrevForTest: Option[String] = synchronized {
    pendingPrevServing.map(_._1)
  }
  private[graft] def currentCodesPathForTest: String = codesPath

  /** Most recent [[VectorDB.SearchTimings]] recorded by a funnel search
    * on the CALLING thread (thread-local, so concurrent serving callers
    * each observe their own query's phases — the ServeBench regime).
    * `None` before the first search on this thread.
    */
  def lastSearchTimings: Option[VectorDB.SearchTimings] =
    Option(lastTimingsTL.get())

  private val lastTimingsTL = new ThreadLocal[VectorDB.SearchTimings]

  private def recordTimings(t: VectorDB.SearchTimings): Unit = {
    lastTimingsTL.set(t)
    // The reference logs each phase's wall time at INFO
    // (BinaryVectorDB.py:216,232,250); mirror that per call.
    if (VectorDB.log.isInfoEnabled)
      VectorDB.log.info(
        f"search phases: I ${t.phase1Ms}%.3f ms, II ${t.phase2Ms}%.3f ms, " +
          f"III ${t.phase3Ms}%.3f ms (total ${t.totalMs}%.3f ms)")
  }

  private def hitsToDf(hits: Seq[VectorDB.SearchHit]): DataFrame =
    spark.createDataFrame(hits.map(h =>
        (h.docId, h.scoreHamming, h.scoreBinary, h.scoreCossim, h.doc)))
      .toDF("doc_id", "score_hamming", "score_binary", "score_cossim", "doc")

  /** Serving path: the WHOLE funnel is one bare RDD job. Phase I's
    * bounded heaps return each candidate WITH its code words, int8
    * bytes, and doc payload in-band; phases II/III then run driver-side
    * as exact mirrors of the Catalyst kernels — exactly where the
    * reference's Python layer runs them (BinaryVectorDB.py:236-252);
    * ~130k flops, zero further jobs. Bit-identical to the Catalyst path
    * (ServingIndexSpec pins it). `sel`, when given, restricts Phase I to
    * the allowlisted ids inside the heap loop.
    */
  private def servedHits(ps: PreparedScan, q: Seq[Double], k: Int,
                         binaryOversample: Int, int8Oversample: Int,
                         nprobe: Int,
                         sel: Option[DocSelector]): IndexedSeq[VectorDB.SearchHit] = {
    val qWords = graft.operators.Search.packQuery(q)
    val probed =
      if (isIvf && nprobe < ivfCells)
        Some(probeOrder(qWords).take(nprobe).toArray)
      else None
    val t0 = System.nanoTime()
    val top = ps.topB(qWords.toArray, k * binaryOversample, probed, sel.map(_.idSet))
    val t1 = System.nanoTime()
    // Phase II: graft_sign_dot mirror (MSB-first bit order,
    // left-to-right double accumulation), (score desc, id asc) rank.
    val qa = q.toArray
    val phase2 = top.map { h => (h, signDotWords(qa, h.words)) }
      .sortBy { case (h, sb) => (-sb, h.id) }
      .take(k * int8Oversample)
    val t2 = System.nanoTime()
    val hits = phase2
      .map { case (h, sb) =>
        VectorDB.SearchHit(h.id, h.hamming, sb, cosSimInt8(qa, h.bytes), h.doc)
      }
      .sortBy(h => (-h.scoreCossim, h.docId)).take(k).toIndexedSeq
    val t3 = System.nanoTime()
    recordTimings(VectorDB.SearchTimings(
      (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6))
    hits
  }

  /** The Catalyst funnel over the stored tiers; `where`, when given,
    * restricts Phase I to cold-tier rows satisfying it via a semi-join
    * (the predicate itself pushes into the cold-tier scan; under AQE the
    * join side is broadcast exactly when its runtime size fits).
    */
  private def catalystFunnel(q: Seq[Double], k: Int, binaryOversample: Int,
                             int8Oversample: Int, nprobe: Int,
                             where: Option[org.apache.spark.sql.Column]): DataFrame = {
    val qLit = typedlit(q)
    val qWords = graft.operators.Search.packQuery(q)
    val qCode = typedlit(qWords)
    val probeFiltered =
      if (isIvf && nprobe < ivfCells) {
        val probed = probeOrder(qWords).take(nprobe)
        codes.filter(col("cell").isin(probed: _*))
      } else codes
    val scanned = where match {
      case Some(pred) =>
        probeFiltered.join(docs.filter(pred).select("doc_id"), Seq("doc_id"), "left_semi")
      case None => probeFiltered
    }

    // Flat layout: hamming as a codegen'd sum of builtin
    // bit_count(xor) terms over primitive columns; the code array is
    // reassembled only for the <=100 phase-II candidates.
    val hammingCol =
      if (isFlat) (0 until nWords).map(i =>
        expr(s"bit_count(c$i ^ ${qWords(i)}L)")).reduce(_ + _).cast("int")
      else Kernels.hamming(col("code"), qCode)
    val withCode =
      if (isFlat) scanned.withColumn("score_hamming", hammingCol)
        .withColumn("code", array((0 until nWords).map(i => col(s"c$i")): _*))
      else scanned.withColumn("score_hamming", hammingCol)
    val phase1 = withCode
      .orderBy(col("score_hamming").asc, col("doc_id").asc)
      .limit(math.min(k * binaryOversample, Int.MaxValue))
        // Phase II runs on ≤ k·binaryOversample rows; materialize the ≤
        // k·int8Oversample winners driver-side (the reference holds the
        // same candidate list in a Python list, BinaryVectorDB.py:236).
        val t0 = System.nanoTime()
        val candidates = phase1
          .withColumn("score_binary", Kernels.signDot(qLit, col("code")))
          .orderBy(col("score_binary").desc, col("doc_id").asc)
          .limit(k * int8Oversample)
          .select("doc_id", "score_hamming", "score_binary")
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        // Phases I+II run FUSED in the one job just collected; phase III
        // is the returned (lazy) cold-tier rescore — searchHits stamps
        // its wall time into phase3Ms when it materializes the result.
        recordTimings(VectorDB.SearchTimings((System.nanoTime() - t0) / 1e6, 0.0, 0.0))
        val ids = candidates.map(_._1).toSeq

        // Point-lookup batch against the cold tier: the id filter pushes
        // into the parquet scan (min/max row-group pruning on the
        // doc_id-sorted layout), so the per-query cold-tier read is
        // proportional to the candidate set — the batch analogue of the
        // reference's RocksDB point reads — NOT a full scan.
        val scores = spark.createDataFrame(candidates.toSeq)
          .toDF("doc_id", "score_hamming", "score_binary")
        docs
          .filter(col("doc_id").isin(ids: _*))
          .join(broadcast(scores), Seq("doc_id"))
          .withColumn("score_cossim",
            Kernels.dotInt8(qLit, col("emb_int8")) / Kernels.normInt8(col("emb_int8")))
          .orderBy(col("score_cossim").desc, col("doc_id").asc)
          .limit(k)
          .select("doc_id", "score_hamming", "score_binary", "score_cossim", "doc")
  }

  /** Exact driver-side mirror of the phase-II `graft_sign_dot` kernel
    * over the packed code words (MSB-first within each 64-bit word,
    * left-to-right double accumulation) — the serving path's prepared
    * scan and the Catalyst path produce bit-identical scores.
    */
  private def signDotWords(qa: Array[Double], words: Array[Long]): Double = {
    val n = math.min(qa.length, words.length * 64)
    var j = 0
    var acc = 0.0
    while (j < n) {
      val bit = (words(j >> 6) >>> (63 - (j & 63))) & 1L
      acc += qa(j) * (2.0 * bit - 1.0)
      j += 1
    }
    acc
  }

  /** Batched serving path: every query's Phase-I bounded heap runs
    * inside ONE bare RDD job over the prepared blocks
    * ([[PreparedScan.topBMany]], payloads in-band), then phases II/III
    * run driver-side per query — exact mirrors of [[servedHits]], so a
    * batch of ANY size pays one job floor total. Returns hits in qid
    * input order, each list ranked exactly like the single-query path
    * (PreparedScanSpec pins batched ≡ single-query).
    */
  private def servedManyHits(ps: PreparedScan, queries: Seq[(Long, Seq[Double])],
                             k: Int, binaryOversample: Int, int8Oversample: Int,
                             nprobe: Int, sel: Option[DocSelector])
      : IndexedSeq[(Long, IndexedSeq[VectorDB.SearchHit])] = {
    val masking = isIvf && nprobe < ivfCells
    val qWordsArr = queries.map { case (_, qv) =>
      graft.operators.Search.packQuery(qv).toArray }.toArray
    val probed =
      if (masking)
        Some(qWordsArr.map(w =>
          probeOrder(w.toIndexedSeq).take(nprobe).toArray))
      else None
    val t0 = System.nanoTime()
    val topPerQ = ps.topBMany(qWordsArr, k * binaryOversample, probed,
      sel.map(_.idSet))
    val t1 = System.nanoTime()
    var p2Nanos = 0L
    var p3Nanos = 0L
    val out = queries.toIndexedSeq.zipWithIndex.map { case ((qid, qv), qi) =>
      val qa = qv.toArray
      val s2 = System.nanoTime()
      val phase2 = topPerQ(qi).map(h => (h, signDotWords(qa, h.words)))
        .sortBy { case (h, sb) => (-sb, h.id) }
        .take(k * int8Oversample)
      val s3 = System.nanoTime()
      val hits = phase2
        .map { case (h, sb) =>
          VectorDB.SearchHit(h.id, h.hamming, sb, cosSimInt8(qa, h.bytes), h.doc)
        }
        .sortBy(h => (-h.scoreCossim, h.docId)).take(k).toIndexedSeq
      p2Nanos += s3 - s2
      p3Nanos += System.nanoTime() - s3
      (qid, hits)
    }
    // Batch timings: phase I is the one shared RDD job; II/III are the
    // summed per-query driver rescores.
    recordTimings(VectorDB.SearchTimings(
      (t1 - t0) / 1e6, p2Nanos / 1e6, p3Nanos / 1e6))
    out
  }

  /** Typed batched results — [[searchHits]] for a whole query batch:
    * per-qid hit lists with zero per-query DataFrame materialization.
    * Under serving this is [[servedManyHits]] (one bare RDD job for the
    * whole batch); without serving it collects the Catalyst
    * [[searchMany]] result once and groups it. Row-for-row identical to
    * [[searchMany]] (ServingIndexSpec pins it).
    */
  def searchManyHits(queries: Seq[(Long, Seq[Double])], k: Int = 10,
                     binaryOversample: Int = 10, int8Oversample: Int = 3,
                     nprobe: Int = Int.MaxValue,
                     sel: Option[DocSelector] = None)
      : IndexedSeq[(Long, IndexedSeq[VectorDB.SearchHit])] = {
    validateSearch(k, binaryOversample, int8Oversample, nprobe)
    require(queries.nonEmpty, "searchManyHits needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "searchManyHits qids must be distinct")
    withServedScan(ps =>
      servedManyHits(ps, queries, k, binaryOversample, int8Oversample,
        nprobe, sel)) match {
      case Some(hits) => hits
      case None =>
        val df = searchMany(queries, k, binaryOversample, int8Oversample,
          nprobe, sel)
        val t0 = System.nanoTime()
        val byQid = df
          .collect().toIndexedSeq
          .map(r => (r.getLong(0), (r.getInt(1), VectorDB.SearchHit(r.getLong(2),
            r.getInt(3), r.getDouble(4), r.getDouble(5), r.getString(6)))))
          .groupBy(_._1)
        Option(lastTimingsTL.get()).foreach(t =>
          recordTimings(t.copy(phase3Ms = (System.nanoTime() - t0) / 1e6)))
        queries.toIndexedSeq.map { case (qid, _) =>
          (qid, byQid.getOrElse(qid, IndexedSeq.empty)
            .map(_._2).sortBy(_._1).map(_._2).toIndexedSeq)
        }
    }
  }

  /** Batched multi-query funnel over the stored tiers: one scan of the
    * hot tier serves every query (Phase I via the bounded-heap aggregate,
    * Q heaps built map-side), then phases II/III run per query under
    * window ranks on the ≤ Q×(k·binaryOversample) candidates. The serving
    * shape — per-query cost beyond the shared scan is O(k·oversample).
    * Under [[enableServing]] the whole batch drops Catalyst entirely:
    * Phase I is ONE bare RDD job over the prepared blocks
    * ([[PreparedScan.topBMany]] — Q bounded heaps per partition), phases
    * II/III driver-side mirrors, payloads via the point-lookup index —
    * so a batch pays two job floors total, independent of Q.
    * Returns (qid, rank, doc_id, score_hamming, score_binary,
    * score_cossim, doc).
    *
    * Probing (`ivf` index, `nprobe` < all cells): the shared scan covers
    * the UNION of every in-flight query's probed cells, and a per-query
    * cell MASK then restricts each query's candidates to exactly its own
    * probed cells — so batched results are identical to [[searchVector]]
    * with the same `nprobe` regardless of batch composition
    * (IndexStrategySpec pins the equality).
    */
  def searchMany(queries: Seq[(Long, Seq[Double])], k: Int = 10,
                 binaryOversample: Int = 10, int8Oversample: Int = 3,
                 nprobe: Int = Int.MaxValue,
                 sel: Option[DocSelector] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Kernels.install(spark)
    requireNonEmpty()
    require(isIvf || nprobe == Int.MaxValue,
      s"nprobe is an '${VectorDB.IndexIvf}' index parameter; this DB uses '$index'")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    validateFunnelParams(k, binaryOversample, int8Oversample)
    require(queries.nonEmpty, "searchMany needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "searchMany qids must be distinct (duplicate qids would silently " +
        "merge two queries' candidate pools)")
    import spark.implicits._
    val masking = isIvf && nprobe < ivfCells
    val qdf = queries.map { case (qid, qv) =>
      val qcells =
        if (masking) probeOrder(graft.operators.Search.packQuery(qv)).take(nprobe)
        else Seq.empty[Int]
      (qid, qv, graft.operators.Search.packQuery(qv), qcells)
    }.toDF("qid", "qvec", "qcode", "qcells")

    // Under serving the PREPARED blocks run EVERY query's Phase-I
    // bounded heap inside ONE bare RDD job ([[PreparedScan.topBMany]])
    // with payloads in-band, and phases II/III run driver-side per
    // query — a batch of ANY size pays exactly one job, zero per-batch
    // Catalyst. Otherwise one shared Catalyst scan builds all heaps
    // map-side (HammingTopKCodeAgg) and the cold tier serves phase III.
    // Bit-identical either way (PreparedScanSpec pins the batched
    // parity across layouts and IVF probing).
    withServedScan(ps =>
      servedManyHits(ps, queries, k, binaryOversample, int8Oversample,
        nprobe, sel)) match {
      case Some(perQuery) =>
        val out = perQuery.flatMap { case (qid, hits) =>
          hits.zipWithIndex.map { case (h, i) =>
            (qid, i + 1, h.docId, h.scoreHamming, h.scoreBinary,
              h.scoreCossim, h.doc) }
        }.sortBy(t => (t._1, t._2))
        spark.createDataFrame(out).toDF("qid", "rank", "doc_id",
          "score_hamming", "score_binary", "score_cossim", "doc")
      case None =>
        // IVF probe-union: ONE shared scan covers the cells probed by ANY
        // in-flight query (partition pruning on the union), and the
        // per-query mask below keeps each query's candidate pool exactly
        // its own probed cells.
        val probeFiltered =
          if (masking) {
            val probed = queries.flatMap { case (_, qv) =>
              probeOrder(graft.operators.Search.packQuery(qv)).take(nprobe)
            }.distinct
            codes.filter(col("cell").isin(probed: _*))
          } else codes
        // Selector: same semi-join restriction as the single-query
        // predicate path, applied once to the shared scan.
        val scanned = sel match {
          case Some(s) => probeFiltered.join(
            docs.filter(s.pred).select("doc_id"), Seq("doc_id"), "left_semi")
          case None => probeFiltered
        }

        val codeArr =
          if (isFlat) array((0 until nWords).map(i => col(s"c$i")): _*)
          else col("code")
        // The heap carries each candidate's packed code as payload
        // (HammingTopKCodeAgg), so phase II reads codes straight out of
        // the aggregate output — the hot tier is scanned exactly once.
        val phase1 = scanned
          .withColumn("__code", codeArr)
          .crossJoin(broadcast(qdf.select("qid", "qcode", "qcells")))
          .filter(if (masking) array_contains(col("qcells"), col("cell")) else lit(true))
          .select(col("qid"), col("doc_id"), col("__code"),
            Kernels.hamming(col("__code"), col("qcode")).as("h"))
          .groupBy("qid")
          .agg(Kernels.hammingTopKWithCode(col("h"), col("doc_id"), col("__code"),
            k * binaryOversample).as("topk"))
          .select(col("qid"), explode(col("topk")).as("c"))
          .select(col("qid"), col("c.vec_id").as("doc_id"),
            col("c.score").as("score_hamming"), col("c.code").as("__code"))

        val wB = Window.partitionBy("qid")
          .orderBy(col("score_binary").desc, col("doc_id").asc)
        // Materialize the ≤ Q×(k·int8Oversample) survivors driver-side
        // (the reference holds the same candidate lists in Python lists).
        val t0 = System.nanoTime()
        val candTuples = phase1
          .join(broadcast(qdf.select("qid", "qvec")), "qid")
          .withColumn("score_binary", Kernels.signDot(col("qvec"), col("__code")))
          .withColumn("r2", row_number().over(wB))
          .filter(col("r2") <= k * int8Oversample)
          .select("qid", "doc_id", "score_hamming", "score_binary")
          .collect()
          .toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        // Phases I+II for the whole batch run fused in the job just
        // collected (same convention as the single-query Catalyst path);
        // searchManyHits stamps phase3Ms when it materializes.
        recordTimings(VectorDB.SearchTimings((System.nanoTime() - t0) / 1e6, 0.0, 0.0))
        val ids = candTuples.map(_._2).distinct
        val scores = spark.createDataFrame(candTuples)
          .toDF("qid", "doc_id", "score_hamming", "score_binary")

        // Point-lookup batch against the cold tier (pushed-down id filter).
        val wC = Window.partitionBy("qid").orderBy(col("score_cossim").desc, col("doc_id").asc)
        docs.filter(col("doc_id").isin(ids: _*))
          .join(broadcast(scores), "doc_id")
          .join(broadcast(qdf.select("qid", "qvec")), "qid")
          .withColumn("score_cossim",
            Kernels.dotInt8(col("qvec"), col("emb_int8")) / Kernels.normInt8(col("emb_int8")))
          .withColumn("rank", row_number().over(wC))
          .filter(col("rank") <= k)
          .select("qid", "rank", "doc_id", "score_hamming", "score_binary",
            "score_cossim", "doc")
          .orderBy("qid", "rank")
    }
  }

  /** O6: the parquet snapshots are durable as written; kept for API
    * parity with the reference's explicit `save()` (`BinaryVectorDB.py:168`).
    */
  def save(): Unit = ()

  /** COW commit, VERSIONED: write the new snapshot into fresh
    * `codes-<id>.parquet` / `docs-<id>.parquet` dirs (the inputs'
    * lineage reads the CURRENT dirs, which are never touched), then
    * flip the `_snapshot` marker — an atomic pointer swap, no
    * delete-and-rename window. The PREVIOUS snapshot's files are
    * retained for one more commit, so a reader that resolved its paths
    * just before the flip — another thread mid-search, another JVM
    * between open and first read, a [[Snapshot]] pin — keeps reading
    * intact files instead of hitting FILE_NOT_EXIST. GC then removes
    * every version except {current, previous} ∪ in-JVM pins
    * ([[VectorDB.SnapshotPins]]).
    */
  private def writeSnapshot(newCodes: DataFrame, newDocs: DataFrame): Unit = {
    val prev = lastSeenVersion
    val hadPrev = hasData // the superseded generation has files to retain
    val v = java.util.UUID.randomUUID().toString
    val cp = versionedCodesPath(v)
    val dp = versionedDocsPath(v)
    // IVF: cell-partitioned hot tier (co-located per cell first so each
    // cell gets one file, not partitions × cells fragments).
    if (isIvf)
      newCodes.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(cp)
    else newCodes.write.mode("overwrite").parquet(cp)
    // Cold tier sorted by doc_id within partitions: candidate-id filters
    // prune row groups via parquet min/max stats (the point-lookup path).
    newDocs.sortWithinPartitions("doc_id").write.mode("overwrite").parquet(dp)
    invalidateCache()
    installVersion(v)
    // Maintain the retained-generation history (the time-travel window):
    // trailing keepGenerations versions plus pins survive; the rest GC.
    val prior = {
      val h = readHistory()
      if (h.nonEmpty) h else if (hadPrev) Seq(prev) else Seq.empty
    }
    val all = (prior :+ v).distinct
    val lastK = all.takeRight(retainGenerations).toSet
    val pinned = SnapshotPins.pinnedVersions(cacheKey.folder)
    val kept = all.filter(x => lastK.contains(x) || pinned.contains(x))
    writeHistory(kept)
    gcSnapshots(keep = kept.toSet)
  }

  /** Delete every snapshot generation whose version is outside
    * `keep` ∪ the in-JVM pin set. Touches only snapshot data dirs
    * (versioned `codes-*`/`docs-*` and the legacy unversioned pair) —
    * never `config.json`, `_snapshot`, `_selectors`, or MOR state.
    */
  private def gcSnapshots(keep: Set[String]): Unit = {
    val keepAll = keep ++ SnapshotPins.pinnedVersions(cacheKey.folder)
    val keepNames: Set[String] = keepAll.flatMap { v =>
      if (v != VectorDB.GenesisVersion &&
          fs.exists(new Path(versionedCodesPath(v))))
        Set(s"codes-$v.parquet", s"docs-$v.parquet")
      else Set("codes.parquet", "docs.parquet") // legacy-resident version
    }
    val snapshotDir = "^(codes|docs)(-[0-9a-f-]+)?\\.parquet$".r
    fs.listStatus(new Path(folder)).foreach { st =>
      val name = st.getPath.getName
      if (snapshotDir.findFirstIn(name).isDefined && !keepNames.contains(name))
        fs.delete(st.getPath, true)
    }
  }

  /** Pin the current table state for repeatable reads: the returned
    * handle's `codes`/`docs` keep answering from THIS state no matter
    * how many commits land meanwhile. The engine-level answer to "a
    * long analytical job must not see its input change mid-flight" —
    * the reference has no such notion (single-process, `README.md:174`
    * disclaims multi-process safety). Mechanics per storage mode:
    *  - copy-on-write: the pinned generation's files are kept on disk
    *    (commit-time GC skips pinned versions until [[Snapshot.close]]).
    *  - merge-on-read: the pin records the current commit-version
    *    ceiling; reads merge only files up to it — stable because
    *    deltas are append-only. [[compact]] under an open pin retires
    *    the folded file set into a versioned generation the pinned
    *    reads route to (GC'd at last pin close), so compaction
    *    proceeds rather than refusing.
    */
  def snapshot(): Snapshot = {
    maybeRefresh()
    if (isMor) {
      val empty = !hasData
      // per-table ceilings captured at pin time (committed in lockstep,
      // but each table owns its version counter)
      val ceilings = if (empty) (-1, -1) else committedCeilings()
      val (codesCeil, docsCeil) = ceilings
      val v = s"${VectorDB.MorPinPrefix}$codesCeil:$docsCeil"
      SnapshotPins.pin(cacheKey.folder, v)
      def tier(t: MorTable, ceil: Int, hot: Boolean): DataFrame =
        if (ceil < 0)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            if (hot) emptyCodesSchema else docsSchema)
        else t.readAt(ceil)
      new Snapshot(this, v, () => tier(codesMor, codesCeil, hot = true),
        () => tier(docsMor, docsCeil, hot = false))
    } else {
      val v = lastSeenVersion
      val (cp, dp) = resolvedPaths
      SnapshotPins.pin(cacheKey.folder, v)
      new Snapshot(this, v, () => readTierAt(cp, hot = true),
        () => readTierAt(dp, hot = false))
    }
  }
}

/** A pinned repeatable-read snapshot over the two tiers
  * ([[VectorDB.snapshot]] / [[VectorDB.snapshotAt]]). Under
  * copy-on-write, reads resolve to the pinned generation's files,
  * which commits leave in place until [[close]] (in-JVM pin registry +
  * commit-time GC). Under merge-on-read, reads merge the file set up
  * to the pinned commit ceiling — append-only deltas make that view
  * stable under later commits, and [[VectorDB.compact]] retires the
  * folded files into a versioned generation this pin keeps reading
  * (freed at [[close]]). Idempotent close.
  */
final class Snapshot private[db] (
    db: VectorDB,
    val version: String,
    codesFn: () => DataFrame,
    docsFn: () => DataFrame) extends AutoCloseable {

  private val open = new java.util.concurrent.atomic.AtomicBoolean(true)

  private def requireOpen(): Unit =
    require(open.get(), "snapshot is closed")

  /** The pinned hot tier (fresh read, not cached — pin, then cache
    * yourself if you iterate).
    */
  def codes: DataFrame = {
    requireOpen()
    codesFn()
  }

  /** The pinned cold tier. */
  def docs: DataFrame = {
    requireOpen()
    docsFn()
  }

  def count(): Long = codes.count()

  override def close(): Unit =
    if (open.compareAndSet(true, false)) {
      VectorDB.SnapshotPins.unpin(db.blockCacheKey.folder, version)
      if (version.startsWith(VectorDB.MorPinPrefix)) db.gcMorRetired()
    }
}

/** Result of one on-disk lease read ([[VectorDB.readLease]]). */
private[db] sealed trait LeaseRead
private[db] object LeaseRead {
  /** No lease file — the only state produced by a deliberate release. */
  case object Absent extends LeaseRead
  /** A parsed lease; `expiry` may be in the past (dead writer). */
  final case class Held(id: String, expiry: Long) extends LeaseRead
  /** File exists but failed to read/parse after bounded retries —
    * treat as held by an unknown writer (mid-swap), NEVER as absent.
    */
  case object Unreadable extends LeaseRead
}

/** The advisory single-writer lease handle ([[VectorDB
  * .acquireWriterLease]]): heartbeats every ttl/3 to keep the on-disk
  * lease fresh while this process is alive, and stops renewing the
  * moment the lease is observed to belong to someone else (a
  * steal-after-expiry — renewing then would clobber the new writer).
  * [[close]] stops the heartbeat and removes the lease file if it is
  * still ours. Idempotent close; AutoCloseable for try-with-resources
  * writers.
  */
final class WriterLease private[db] (
    db: VectorDB, private[db] val id: String, ttlMs: Long,
    /** What acquire observed on disk: the READABLE EXPIRED lease this
      * one took over (dead-writer takeover), or None when no lease file
      * existed. Diagnostic: with rename-swapped writes, an acquire that
      * succeeded over a LIVE holder can only ever show an expired
      * takeover (the documented read-expired-then-write race) — a None
      * while a holder lives would mean absence was fabricated, i.e.
      * the r12 torn-read class (spec-pinned impossible).
      */
    private[graft] val tookOver: Option[(String, Long)] = None)
  extends AutoCloseable {

  @volatile private var closed = false
  /** True once a renewal observed the on-disk lease held by another
    * writer — this handle is fenced and will never renew again.
    */
  @volatile var lost: Boolean = false

  /** Wall-clock of the last successful renewal (acquire counts as one)
    * and how many renewals ran. Diagnostics: lets a test (or operator)
    * distinguish an ILLEGITIMATE steal — acquired while this lease was
    * freshly renewed, the r12 torn-read class — from the by-design
    * dead-writer takeover of a lease whose heartbeat stalled past ttl.
    */
  @volatile private[graft] var lastRenewMs: Long = System.currentTimeMillis()
  @volatile private[graft] var renewals: Int = 0

  private val beat = new Thread(() => {
    while (!closed && !lost) {
      try Thread.sleep(math.max(50L, ttlMs / 3))
      catch { case _: InterruptedException => () }
      if (!closed && !lost) {
        // Re-check `closed` AFTER the (possibly slow) lease read:
        // close() may have run while this thread was blocked in it —
        // renewing now would resurrect the dropped lease and block
        // other writers for a full TTL. An Unreadable result skips THIS
        // beat rather than renewing (it might be a stealer mid-write —
        // clobbering it blind would race) or fencing (it might be FS
        // noise); the next beat re-reads, and ttl/3 pacing leaves two
        // more beats before our lease could expire.
        db.readLease() match {
          case LeaseRead.Held(hid, _) if hid == id =>
            if (!closed) {
              db.writeLease(id, System.currentTimeMillis() + ttlMs)
              lastRenewMs = System.currentTimeMillis()
              renewals += 1
            }
          case LeaseRead.Unreadable => ()
          case _ => lost = true // readable-not-ours, or deliberately deleted
        }
      }
    }
  }, s"graft-writer-lease-$id")
  beat.setDaemon(true)
  beat.start()

  override def close(): Unit = if (!closed) {
    closed = true
    // Wait for the heartbeat to ACTUALLY exit before dropping the
    // lease: a timed-out join would let a heartbeat blocked in a slow
    // FS call rewrite the lease file after the drop.
    while (beat.isAlive) { beat.interrupt(); beat.join(1000) }
    db.dropLease(id)
  }
}

/** A compiled cold-tier predicate — the faiss `IDSelectorBatch`
  * analogue for filtered search. Built by [[VectorDB.selector]]: the
  * predicate is evaluated once (pushed into the cold-tier scan) and the
  * sorted matching ids become an [[IdSet]] — a broadcast array up to
  * [[VectorDB.MaxSelectorIds]] matches (8 B/match on the driver and per
  * executor), or a file-backed sorted-run index on the shared FS beyond
  * it (the scale path: only a (min, max, path) manifest ships; each
  * executor lazily loads the runs its rows actually probe). The handle
  * is then reused across any number of [[VectorDB.searchVectorWhere]] /
  * [[VectorDB.searchHits]] calls with zero further Catalyst involvement.
  */
final class DocSelector private[db] (
    private[db] val pred: org.apache.spark.sql.Column,
    private[graft] val idSet: IdSet,
    private[graft] val catalogKey: Option[SelectorCatalog.Key] = None) {
  /** Number of ids the predicate matched at compile time. */
  def size: Long = idSet.size
  /** True when the ids live as run files on the shared FS rather than
    * one broadcast array (the past-the-ceiling shape).
    */
  def isFileBacked: Boolean = idSet.isInstanceOf[RunIdSet]
  /** True when this handle is owned by the JVM-wide [[SelectorCatalog]]
    * (built by [[VectorDB.selectorCached]]) — [[release]] then drops a
    * catalog reference instead of freeing the backing directly.
    */
  def isCached: Boolean = catalogKey.isDefined
  /** Release this handle — exactly once per [[VectorDB.selector]] /
    * [[VectorDB.selectorCached]] call. Uncached: frees the backing
    * broadcast / run files immediately (the handle must not be used
    * afterwards). Cached: drops one catalog reference; the compiled
    * ids stay warm for the next [[VectorDB.selectorCached]] of the
    * same predicate and free when a commit supersedes their snapshot.
    */
  def release(): Unit = catalogKey match {
    case Some(k) => SelectorCatalog.release(k)
    case None    => freeBacking()
  }
  private[db] def freeBacking(): Unit = idSet.release()
}

object VectorDB {

  /** Daemon pool for overlapping one commit's two independent tier jobs
    * (hot/cold delta writes, per-tier compaction folds): Spark runs
    * concurrent jobs from separate threads happily, and the second
    * tier's tasks back-fill the first's task tail (optimization guide
    * §2.6). Cached pool — at most two tier ops are ever in flight per
    * commit, and idle threads die after 60 s.
    */
  private lazy val tierPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-tier")
      t.setDaemon(true)
      t
    })

  /** Run `a` on [[tierPool]] while `b` runs on the caller thread; wait
    * for both. `a`'s exception (if any) is unwrapped and rethrown as
    * itself so error semantics match the old sequential code.
    *
    * Two hardenings (ADVICE r17):
    *  - the pooled task CLEARS Spark's inherited thread-local job
    *    properties first — a cached pool thread keeps whatever job
    *    group / scheduler pool it inherited from the thread that
    *    created it (threads live 60 s across unrelated callers), so a
    *    tier commit write could be killed by an unrelated
    *    `cancelJobGroup` or land in the wrong pool;
    *  - when the CALLER-thread op `b` throws, the pooled op is skipped
    *    if it has not begun, else awaited (not cancelled: its Spark
    *    jobs run to completion) before the exception propagates — the
    *    sequential code could never start the second op after the
    *    first failed, and an abandoned in-flight tier write could
    *    otherwise land AFTER the failed commit (the next commit's
    *    truncateAbove/writeCommitted ceiling could then cover an
    *    aborted operation's rows).
    */
  private[db] def tierParallel[A, B](a: => A, b: => B): (A, B) = {
    // 0 = pending, 1 = running, 2 = abandoned (b failed before a began)
    val state = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var result: Either[Throwable, A] =
      Left(new IllegalStateException("tier op never ran"))
    tierPool.execute { () =>
      try {
        if (state.compareAndSet(0, 1)) {
          // local properties are per-THREAD on the context, so any
          // handle to the active context clears this pool thread's
          // inherited set (SparkContext.getActive is private[spark])
          org.apache.spark.sql.SparkSession.getDefaultSession
            .orElse(org.apache.spark.sql.SparkSession.getActiveSession)
            .map(_.sparkContext).foreach { sc =>
              sc.clearJobGroup()
              sc.setLocalProperty("spark.scheduler.pool", null)
            }
          result = try Right(a) catch { case t: Throwable => Left(t) }
        }
      } finally done.countDown()
    }
    val rb =
      try b
      catch {
        case t: Throwable =>
          // skip `a` if it has not begun; if it is mid-flight, WAIT for
          // it (its secondary error is swallowed — the caller's failure
          // is the one that matters). Either way no tier write survives
          // past this frame.
          if (!state.compareAndSet(0, 2)) done.await()
          throw t
      }
    done.await()
    result match {
      case Right(ra) => (ra, rb)
      case Left(t)   => throw t
    }
  }

  /** One typed search hit — the reference's own result shape (`search`
    * returns a plain list of dicts, `BinaryVectorDB.py:252`). Field
    * order matches the DataFrame column order of [[VectorDB.searchVector]].
    */
  final case class SearchHit(docId: Long, scoreHamming: Int,
                             scoreBinary: Double, scoreCossim: Double,
                             doc: String)

  /** Operator-facing snapshot of the serving tier's state
    * ([[VectorDB.servingInfo]]): whether blocks are resident, the
    * incremental-chain depth (0 = a plain full build), cumulative rows
    * the chain's extensions touched, and the served row lower bound —
    * what a serving fleet dashboards next to the per-phase timings.
    */
  final case class ServingInfo(resident: Boolean, chainDepth: Int,
                               chainChurnRows: Long, rowsLowerBound: Long,
                               /** Resident serving blocks, chain delta
                                 * layers included — rowsLowerBound /
                                 * blocks is the geometry graph
                                 * strategies are sized by.
                                 */
                               blocks: Int)

  /** Per-phase wall times of one funnel search — the observability the
    * reference surfaces as INFO logs around each phase
    * (`BinaryVectorDB/BinaryVectorDB.py:216,232,250`, printed by
    * `examples/search_in_db.py:21-23`): a user tuning oversampling sees
    * where the time goes without reaching for a profiler. Under serving
    * the three phases are measured individually (Phase I = the bare RDD
    * heap scan, II/III = the driver-side rescores); on the Catalyst path
    * phases I+II run fused inside ONE job (`phase1Ms` carries the fused
    * job, `phase2Ms` is 0 by construction) and `phase3Ms` covers the
    * cold-tier rescore job when the caller materializes through
    * [[VectorDB.searchHits]]. Batched paths record ONE timings value
    * for the whole batch: phase I is the shared scan job, II/III the
    * summed per-query driver rescores.
    */
  final case class SearchTimings(phase1Ms: Double, phase2Ms: Double,
                                 phase3Ms: Double) {
    def totalMs: Double = phase1Ms + phase2Ms + phase3Ms
  }

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[VectorDB])

  /** Snapshot version of a folder before its first versioned commit. */
  private[db] val GenesisVersion = "genesis"

  /** Pin-id prefix for merge-on-read snapshots (suffix =
    * `<codesCeiling>:<docsCeiling>`, the per-tier pinned commit-version
    * ceilings); [[VectorDB.compact]] retires — rather than deletes —
    * file sets such pins still read.
    */
  private[db] val MorPinPrefix = "mor-"

  /** In-JVM registry of pinned snapshot versions ([[VectorDB.snapshot]]):
    * (qualified folder, version) → pin count. Commit-time GC
    * ([[VectorDB]]`.gcSnapshots`) keeps pinned versions' files on disk.
    * JVM-scoped by design — cross-JVM pins need external coordination;
    * the one-commit retention of the previous snapshot covers the
    * in-flight-read window either way.
    */
  private[db] object SnapshotPins {
    private val pins =
      new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]

    def pin(folder: String, version: String): Unit =
      pins.merge((folder, version), Integer.valueOf(1), (a, b) =>
        Integer.valueOf(a.intValue + b.intValue))

    def unpin(folder: String, version: String): Unit =
      pins.computeIfPresent((folder, version), (_, n) =>
        if (n.intValue <= 1) null else Integer.valueOf(n.intValue - 1))

    def pinnedVersions(folder: String): Set[String] = {
      val b = Set.newBuilder[String]
      pins.forEach((k, _) => if (k._1 == folder) b += k._2)
      b.result()
    }
  }

  /** Default writer-lease TTL: long enough that a GC pause or slow FS
    * never lets the lease lapse under a live writer (heartbeat = ttl/3),
    * short enough that a crashed writer's folder is reclaimable in
    * under a minute.
    */
  val DefaultLeaseTtlMs: Long = 60000L

  /** Switch point between [[VectorDB.selector]]'s broadcast shape and
    * its file-backed sorted-run shape (80 MB of broadcast ids). Below:
    * collect + broadcast; above: range-partitioned run files on the
    * shared FS, lazily loaded per executor — no ceiling.
    */
  val MaxSelectorIds: Int = 10 * 1000 * 1000

  /** Canonical cache key of a selector predicate: the column node's
    * text rendering (stable across sessions — attribute text is the
    * bare name, no expression ids). Distinct-but-equivalent spellings
    * key apart, which is conservative: an unshared rebuild, never a
    * wrong share.
    */
  private[db] def predKeyOf(pred: org.apache.spark.sql.Column): String =
    pred.toString

  /** Default ids per selector run file (64 MB of longs): small enough
    * that one probed run loads fast, large enough that a 1G-id selector
    * is ~128 runs — a trivially small manifest.
    */
  val SelectorRunSize: Int = 8 * 1024 * 1024

  /** Typed row of the hot tier. */
  case class CodeRecord(doc_id: Long, code: Seq[Long])
  /** Typed row of the cold tier (doc payload + int8 embedding bytes). */
  case class DocRecord(doc_id: Long, doc: String, emb_int8: Array[Byte])

  private val codesSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("code", ArrayType(LongType, containsNull = false), nullable = false)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("doc", StringType, nullable = true),
    StructField("emb_int8", BinaryType, nullable = true)))

  /** O1: open-or-create (`BinaryVectorDB.py:42-53` semantics): an empty
    * folder is initialized with config.json; a folder with a config is
    * opened; a non-empty folder without a config is rejected.
    */
  /** Storage modes: copy-on-write (default; snapshot rewrite per commit)
    * and merge-on-read (append-only deltas + compaction — the at-scale
    * upsert path).
    */
  val StorageCow = "cow"
  val StorageMor = "mor"

  /** Code layouts: `array` (array<long> column, default) and `flat`
    * (one primitive long column per 64-bit word — faster cached scans).
    */
  val LayoutArray = "array"
  val LayoutFlat = "flat"

  /** Index strategies — the facade-level mirror of the reference's
    * `index_type` constructor knob (`BinaryVectorDB.py:17`):
    * `flat` (default, the reference's own default: exhaustive Phase-I
    * scan) and `ivf` (cell-partitioned hot tier keyed by a deterministic
    * sign-code-prefix quantizer; `search(nprobe = …)` limits the scan to
    * the nearest cells, nprobe = all cells reproduces `flat` exactly).
    */
  val IndexFlat = "flat"
  val IndexIvf = "ivf"
  /** Per-block navigable-small-world graphs on the serving tier
    * ([[IndexStrategies.Nsw]]): sub-linear Phase-I, approximate at the
    * default search width, exact without serving.
    */
  val IndexNsw = "nsw"
  /** IVF cell partitioning + per-block NSW graphs composed
    * ([[IndexStrategies.IvfNsw]]): probe pruning across blocks,
    * sub-linear navigation inside them.
    */
  val IndexIvfNsw = "ivf_nsw"
  /** Default IVF cell count = 2^IvfPrefixBits (overridable per index via
    * `openOrCreate(ivfCells = …)` — the reference's `index_args` mirror).
    */
  val IvfPrefixBits = 4
  val IvfCells: Int = 1 << IvfPrefixBits
  /** Hard cap on configurable cells: 2^16 prefix bits cover ~4G vectors
    * at the √N sizing rule; the quantizer reads one word's prefix.
    */
  val MaxIvfCells: Int = 1 << 16

  /** IVF cell assignment strategies: `kmeans` (default for new
    * indexes — learned k-majority centroids, [[IvfCentroids]]) and
    * `prefix` (sign-code prefix; what pre-knob folders open as, since
    * their stored per-row assignments were computed that way).
    */
  val IvfAssignKmeans = "kmeans"
  val IvfAssignPrefix = "prefix"
  /** Driver-side centroid-learning sample bound (~8 MB of codes at
    * 1024 bits).
    */
  val CentroidSample = 65536

  /** Incremental serving refresh bounds ([[VectorDB.incrementalServing]]):
    * default layer cap, the hard per-window touched-id ceiling (the
    * shadowing map is driver/broadcast-resident — 2M ids ≈ 24 MB; a
    * bigger window does a full rebuild instead), and the target rows
    * per delta-layer block (windows repartition to ~this, so a chain
    * adds one small block per commit, not one near-empty block per
    * shuffle partition).
    */
  val IncServingMaxLayers = 32
  val IncServingMaxTouched = 2000000

  /** Ids per tombstone-delta file/task in [[VectorDB!.removeDocs]]: a
    * tombstone row is one key + null columns (~16 B on disk), so 4M ids
    * per task keeps files tens of MB while a typical service-scale
    * delete (10²–10⁵ ids) lands as ONE file instead of one near-empty
    * file per core (guide §6: small files hurt twice — here on every
    * later merged read of the delta window too).
    */
  val RemoveIdsPerFile: Int = 4 * 1000 * 1000
  /** Rows-per-block crossover below which a graph (NavBuilder) index
    * strategy is pure build-cost overhead: the linear prepared scan's
    * early-exited popcount walk matches or beats graph navigation
    * under ~1M rows/partition (GRAPHBENCH_r11/_r12 grids; ARCHITECTURE
    * "Per-block graph search"). The serving build warns — loudly, but
    * builds anyway — when an nsw/ivf_nsw tier averages fewer.
    */
  val NavCrossoverRows = 1000000L
  val IncServingRowsPerBlock = 262144L

  /** Default [[VectorDB.blockPersistence]] gate: packed-block writes
    * happen only when the tier's codes+docs file footprint reaches this
    * (64 MB). Below it a cold serve-build is sub-second and the write
    * is pure overhead (r15 A/B); the 1M×1024 reference geometry
    * (~1.3 GB of tier files) and every warm-restart regime sit far
    * above it. A DB that wants writes always on or off sets its own
    * [[VectorDB.blockPersistence]].
    */
  val BlockPersistMinBytes: Long = 64L << 20

  /** Heap budget multiple under which the serve-build logs the GC
    * hazard: the r14 restart A/B measured the warm serving paths
    * collapsing (chain restart 91 s / 106 ms query medians vs
    * 8.3 s / 27 ms, same code, same dropped page cache) on a shared
    * local JVM whose heap sat ~5× the packed tier bytes — transient
    * double-residency (seed + extension, absorb's documented 2×) plus
    * G1's humongous-allocation behavior want real headroom. 6× warns
    * a little before the measured cliff; a fresh single-purpose
    * process may tolerate less, which the message says.
    */
  val HeapTierMultiple = 6L

  /** The warning itself (pure — unit-specced at the boundary): rows ×
    * packed bytes/row (id + code words + int8 payload + array
    * overhead; doc strings EXCLUDED, so the estimate is a floor)
    * against this JVM's max heap. None on a cluster (executors declare
    * their own memory and hold tier/executors each).
    */
  private[graft] def heapPressureWarning(rows: Long, dim: Int, nWords: Int,
                                         maxHeapBytes: Long,
                                         localMode: Boolean): Option[String] = {
    if (!localMode || rows <= 0) return None
    val estBytes = rows * (8L + nWords * 8L + dim + 16L)
    if (maxHeapBytes >= HeapTierMultiple * estBytes) None
    else Some(
      f"serving tier holds ≥${estBytes / 1e9}%.1f GB packed (docs excluded) " +
        f"against a ${maxHeapBytes / 1e9}%.1f GB heap — under the " +
        s"${HeapTierMultiple}× headroom where the r14 restart A/B measured " +
        "GC collapse on a shared local JVM (ARCHITECTURE 'Packed-block " +
        "persistence'). Size -Xmx (run.sh SPARK_DRIVER_MEM) up, or shard " +
        "the tier across executors; a fresh single-purpose process may " +
        "tolerate less headroom than this shared-JVM bound.")
  }
  /** Windows whose delta files total at most this many bytes resolve
    * driver-side (one collect per tier, local last-writer-wins) instead
    * of through the distributed window plan — saves two Spark actions'
    * planning off the chain-refresh floor. In-memory footprint is a
    * small multiple of the (parquet-compressed) bound.
    */
  val IncServingDriverWindowBytes: Long = 64L << 20
  /** Commits a stashed extension base may survive with NO intervening
    * search before it is released (the stash pins a full serving tier;
    * a commit-only workload would otherwise hold roughly double the
    * serving footprint indefinitely). Distinct from the LAYER cap: this
    * bounds an unobserved stash, not a served chain.
    */
  val IncServingStashMaxCommits = 8
  /** Chain depth at which a background daemon rebuilds (flattens) the
    * serving tier off the query path ([[VectorDB.incrementalServing]]'s
    * `absorbDepth`; 0 disables). Steady-state query latency then
    * returns to the flat tier's without waiting for a compaction fold,
    * while commit-to-serve refresh stays O(batch).
    */
  val IncServingAbsorbDepth = 3

  /** Commit-idle window the absorb daemon waits for before launching
    * its flatten: a commit within this window restarts the wait.
    * INCBENCH_r12 measured the alternative — flatten jobs racing a
    * foreground commit stream tripled single-box commit latency, and
    * the commits moving the version discarded the flattened tier
    * anyway. 1.5 s clears any back-to-back commit loop while being
    * well inside a serving lull.
    */
  val AbsorbIdleNanos: Long = 1500L * 1000 * 1000

  /** Upper bound on the ADAPTIVE idle window (and on the per-gap
    * sample feeding the cadence EMA): cadence-scaling must never turn
    * into minutes of deferral after one slow commit.
    */
  val AbsorbIdleCapNanos: Long = 30L * 1000 * 1000 * 1000

  /** The idle window the absorb daemon actually requires, given the
    * observed inter-commit cadence: a flatten launched while commits
    * arrive faster than it builds is GUARANTEED discarded (adoption
    * re-checks the version), so during a storm whose period is below
    * the build wall the fixed 1.5 s floor just schedules doomed,
    * commit-contending builds every cycle — measured at the true
    * 2-block INCBENCH_r13 geometry as 13–32 s commits vs 3.5–5.4 s
    * without absorption, with the tier never adopting. Requiring
    * idle ≥ 2× the cadence EMA means a storm defers absorption
    * wholesale (chain extensions stay O(batch)); the first real lull
    * — two missed periods — starts one clean build that adopts.
    * Pure function of the EMA so the policy is unit-testable.
    */
  def absorbIdleRequiredNanos(gapEmaNanos: Long): Long =
    math.min(math.max(AbsorbIdleNanos, 2L * gapEmaNanos), AbsorbIdleCapNanos)

  /** Hard cap on absorb deferral: past this, the flatten launches even
    * mid-commit-stream (the low-weight pool still yields under FAIR;
    * deferring forever would let the chain hit its layer cap and put
    * the full rebuild back on the query path). A cap-forced build that
    * a commit then supersedes is CANCELLED by that commit
    * ([[VectorDB.invalidateCache]] cancels the build's job group — it
    * could never adopt), so the cap costs a busy stream almost nothing.
    */
  val AbsorbMaxDeferNanos: Long = 60L * 1000 * 1000 * 1000

  /** Absorb daemon's idle-probe period. */
  val AbsorbPollMs: Long = 100L

  def openOrCreate(spark: SparkSession, folder: String,
                   model: String = "graft-hash-64", dim: Int = 64,
                   storage: String = StorageCow,
                   layout: String = LayoutArray,
                   index: String = IndexFlat,
                   ivfCells: Int = IvfCells,
                   ivfAssign: String = IvfAssignKmeans): VectorDB = {
    require(storage == StorageCow || storage == StorageMor,
      s"storage must be '$StorageCow' or '$StorageMor', got '$storage'")
    require(layout == LayoutArray || layout == LayoutFlat,
      s"layout must be '$LayoutArray' or '$LayoutFlat', got '$layout'")
    require(IndexStrategies.get(index).isDefined,
      s"index must be a registered strategy " +
        s"(${IndexStrategies.names.toSeq.sorted.mkString(", ")}), got '$index'")
    require(ivfCells >= 2 && ivfCells <= MaxIvfCells &&
      java.lang.Integer.bitCount(ivfCells) == 1,
      s"ivfCells must be a power of two in [2, $MaxIvfCells], got $ivfCells")
    require(java.lang.Integer.numberOfTrailingZeros(ivfCells) <= dim,
      s"ivfCells=$ivfCells needs ${java.lang.Integer.numberOfTrailingZeros(ivfCells)} " +
        s"prefix bits but the code has only $dim")
    require(ivfAssign == IvfAssignKmeans || ivfAssign == IvfAssignPrefix,
      s"ivfAssign must be '$IvfAssignKmeans' or '$IvfAssignPrefix', got '$ivfAssign'")
    val fs = FileSystem.get(new java.net.URI(folder), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(folder)
    val cfg = new Path(s"$folder/config.json")
    if (fs.exists(cfg)) {
      val in = fs.open(cfg)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      def field(k: String): Option[String] =
        ("\"" + k + "\"\\s*:\\s*\"?([^\",}]+)\"?").r.findFirstMatchIn(txt).map(_.group(1))
      val storedDim = field("dim").map(_.trim.toInt).getOrElse(dim)
      val storedStorage = field("storage").getOrElse(VectorDB.StorageCow)
      val storedLayout = field("layout").getOrElse(VectorDB.LayoutArray)
      val storedIndex = field("index").getOrElse(VectorDB.IndexFlat)
      val storedCells = field("ivf_cells").map(_.trim.toInt).getOrElse(VectorDB.IvfCells)
      // Folders written before the assignment knob existed carry
      // prefix-computed per-row cells — they MUST open as prefix.
      val storedAssign = field("ivf_assign").getOrElse(VectorDB.IvfAssignPrefix)
      // An explicitly-requested non-default parameter that contradicts the
      // stored config is a caller error, not something to silently ignore.
      require(dim == 64 || dim == storedDim,
        s"requested dim $dim but $folder is a dim-$storedDim index")
      require(storage == StorageCow || storage == storedStorage,
        s"requested storage '$storage' but $folder uses '$storedStorage'")
      require(layout == LayoutArray || layout == storedLayout,
        s"requested layout '$layout' but $folder uses '$storedLayout'")
      require(index == IndexFlat || index == storedIndex,
        s"requested index '$index' but $folder uses '$storedIndex'")
      require(ivfCells == IvfCells || ivfCells == storedCells,
        s"requested ivfCells $ivfCells but $folder is partitioned into $storedCells cells " +
          "(regrow requires a rebuild, not a reopen)")
      require(ivfAssign == IvfAssignKmeans || ivfAssign == storedAssign,
        s"requested ivfAssign '$ivfAssign' but $folder assigns cells via " +
          s"'$storedAssign' (reassignment requires a rebuild, not a reopen)")
      new VectorDB(spark, folder,
        field("model").getOrElse(model), storedDim, storedStorage, storedLayout,
        storedIndex, storedCells, storedAssign)
    } else {
      if (fs.exists(dir) && fs.listStatus(dir).nonEmpty)
        throw new IllegalStateException(
          s"folder $folder contains files but no config.json (BinaryVectorDB.py:43-45 guard)")
      fs.mkdirs(dir)
      val out = fs.create(cfg, true)
      try out.write(
        (s"""{"version": "1.0", "model": "$model", "dim": $dim, """ +
          s""""storage": "$storage", "layout": "$layout", "index": "$index", """ +
          s""""ivf_cells": $ivfCells, "ivf_assign": "$ivfAssign"}""").getBytes("UTF-8"))
      finally out.close()
      val db = new VectorDB(spark, folder, model, dim, storage, layout, index,
        ivfCells, ivfAssign)
      // MOR folders carry their commit-visibility ceilings from birth,
      // so even a torn FIRST commit leaves only invisible orphans (a
      // legacy folder without the file falls back to everything-on-disk
      // -is-committed, which was true when old code wrote it).
      if (storage == StorageMor) db.writeCommitted(0, 0)
      db
    }
  }
}

/** Text → `array<float>` embedding strategy. The reference delegates this
  * to a network API (`BinaryVectorDB.py:109,193-196`); implementations
  * here must be offline and deterministic.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column
}

/** Q3: feature-hashing embedder (see [[graft.functions.HashingEmbed]]).
  * dim 1024 exercises the reference's native width (16-long packed codes).
  */
class HashingEmbedder(val dim: Int = 64) extends Embedder {
  override def embed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.hashEmbed(Kernels.tokens(text), dim)
}
