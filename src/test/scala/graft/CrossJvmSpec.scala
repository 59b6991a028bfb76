package graft

import graft.db.VectorDB
import org.scalatest.funsuite.AnyFunSuite

/** The multi-process claims against a REAL second JVM
  * ([[CrossJvmProbe]] forked via `scripts/run.sh`): writer-lease
  * fencing, selector-manifest adoption, and commit visibility at open
  * — the in-process specs simulate the second JVM (fresh catalogs,
  * forced version rewinds); this one pays two Spark startups to close
  * the gap for the three headline claims. Cancels (does not fail)
  * when the compiled-classes layout the launcher needs is absent
  * (e.g. running from a packaged jar).
  */
class CrossJvmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftdb").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def fixture(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, s"document number $i topic ${i % 7}"))
      .toDF("doc_id", "text")

  /** A forked probe JVM. Its stderr goes to a temp file: read through a
    * pipe only after stdout's EOF, a child that fills the stderr pipe
    * buffer (Spark's log) would block forever on its next write.
    */
  private final class Probe(args: Seq[String]) {
    private val launcher = new java.io.File("scripts/run.sh")
    assume(launcher.isFile &&
      new java.io.File("target/scala-2.13/classes/graft/CrossJvmProbe.class").isFile,
      "compiled-classes launcher not available")
    private val errFile = java.io.File.createTempFile("crossjvm-probe", ".err")
    private val proc =
      new ProcessBuilder(Seq("bash", launcher.getPath, "graft.CrossJvmProbe") ++ args: _*)
        .redirectError(errFile).start()

    /** Waits for the exit; (exit code, stdout lines, stderr lines). */
    def await(): (Int, List[String], List[String]) = {
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      val code = proc.waitFor()
      val src = scala.io.Source.fromFile(errFile)
      try (code, out, src.getLines().toList) finally { src.close(); errFile.delete() }
    }
  }

  /** Fork one probe invocation; returns its PROBE: line. */
  private def probe(args: String*): String = {
    val (code, out, err) = new Probe(args).await()
    assert(code == 0, s"probe ${args.mkString(" ")} exited $code:\n${err.takeRight(15).mkString("\n")}")
    out.find(_.startsWith("PROBE:")).getOrElse(
      fail(s"no PROBE line from ${args.mkString(" ")}:\n${out.mkString("\n")}"))
  }

  test("a second JVM is fenced by the lease, commits after release, and both sides see one history") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir)
    db.addDocuments(fixture(0 until 40))
    val lease = db.acquireWriterLease()

    // fenced while this JVM holds the lease
    assert(probe("commit", dir, "1000", "5") == "PROBE: COMMIT_FENCED")
    assert(db.count() == 40, "a fenced probe must not have committed")

    // released: the second JVM commits for real…
    lease.close()
    assert(probe("commit", dir, "1000", "5") == "PROBE: COMMIT_OK 45")
    // …and THIS JVM observes the foreign commit via the marker poll
    db.pollMarkerEvery(1)
    Thread.sleep(5)
    assert(db.count() == 45,
      "the first JVM must adopt the second JVM's commit via the marker")
  }

  test("a foreign MOR commit reaches a serving reader as a chain extension through the marker poll") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db.addDocuments(fixture(0 until 60))
    db.incrementalServing(maxChurnFraction = 1.0).enableServing()
    val q = Seq.fill(64)(0.1)
    assert(db.searchRadius(q, 64).map(_._1).toSet == (0L until 60L).toSet,
      "warm serving must cover the base rows")
    assert(db.servingChainForTest.exists(_.depth == 0))

    // commit from a REAL second JVM (delta files + marker on disk; this
    // JVM's BlockCache knows nothing yet)
    assert(probe("commit", dir, "1000", "7") == "PROBE: COMMIT_OK 67")

    // the poll adopts the foreign version and the next serving search
    // must EXTEND the resident chain over the foreign window (depth 1),
    // not fall back to a full rebuild
    db.pollMarkerEvery(1)
    Thread.sleep(5)
    val ids = db.searchRadius(q, 64).map(_._1).toSet
    assert(ids == ((0L until 60L) ++ (1000L until 1007L)).toSet,
      "the serving tier must include the foreign window's rows")
    assert(db.servingChainForTest.exists(_.depth == 1),
      s"a qualifying foreign commit must chain-extend " +
        s"(depth = ${db.servingChainForTest.map(_.depth)})")
    db.disableServing()
  }

  test("marker+ceilings reads in a second JVM survive a commit storm (no torn reads, counts monotonic)") {
    // The r12 lease race generalized: `_snapshot` and `_committed` used
    // to be rewritten in place, so a reader in another process could
    // catch either mid-write — a torn `_committed` read silently
    // un-gated orphan deltas (fallback to the raw listing). Both now
    // swap by rename and readers retry transients; this hammers a real
    // second JVM's marker-poll + ceilings reads against ~25 commits.
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db.addDocuments(fixture(0 until 10))

    val nCommits = 25
    val maxN = 10 + 2 * nCommits
    val watch = new Probe(Seq("watch", dir, "12000", maxN.toString))
    // gate: wait for the probe's watch loop to actually start
    val gate = new java.io.File(dir, "_probe_watching")
    val gateDeadline = System.currentTimeMillis() + 120000
    while (!gate.exists && System.currentTimeMillis() < gateDeadline)
      Thread.sleep(50)
    assert(gate.exists, "the watch probe never started")
    // commit storm: every commit rewrites _committed and _snapshot
    var i = 0
    while (i < nCommits) {
      db.addDocuments(fixture(100 + 2 * i until 100 + 2 * i + 2))
      i += 1
    }
    val (code, out, err) = watch.await()
    assert(code == 0, s"watch probe exited $code:\n${err.takeRight(15).mkString("\n")}")
    val line = out.find(_.startsWith("PROBE: WATCH")).getOrElse(
      fail(s"no PROBE line:\n${out.mkString("\n")}"))
    assert(line.contains("ok=true"),
      s"$line\n${err.takeRight(10).mkString("\n")}")
    // the probe must have actually observed a commit landing mid-watch
    // (each MOR count is a full merged-read job — seconds on a loaded
    // box — so even 2 distinct values means reads raced ~25 commits)
    val distinct = "distinct=(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
    assert(distinct >= 2, s"the watch never saw a commit land: $line")
  }

  test("a second JVM adopts this JVM's persisted selector without recompiling") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir)
    db.addDocuments(fixture(0 until 60))
    val needle = " topic 3"
    val sel = db.selectorCached(
      org.apache.spark.sql.functions.col("doc").contains(needle),
      maxBroadcast = 0, runSize = 4)
    val expected = sel.size
    assert(expected > 0)
    sel.release() // warm: files + manifest persist for the fleet

    assert(probe("adopt", dir, needle) == s"PROBE: ADOPT $expected adopted=true",
      "the second JVM must adopt the manifest, not recompile")
    db.clearSelectorCache()
  }

  test("a REAL restarted process warm-restarts from the retained seed and serves the missed window") {
    // WarmRestartSpec simulates the restart with same-JVM fresh
    // instances; here the restarted process is an actual second JVM
    // whose BlockCache is genuinely empty: it must come up by streaming
    // the retained seed's packed blocks (loads > 0) and chain-extending
    // the commits it missed (depth = 1) — never by the cold rebuild
    // (saves = 0) — and serve exactly what this JVM's Catalyst path
    // computes at the same snapshot, tombstone included.
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir,
      storage = VectorDB.StorageMor, index = VectorDB.IndexNsw)
      .blockPersistence(0L).incrementalServing(absorbDepth = 0)
    db.addDocuments(fixture(0 until 60))
    db.enableServing()
    assert(db.search("document number 3", 5).collect().nonEmpty)
    db.disableServing() // seed persisted at v1, nothing pins it

    // the missed window: an add, an upsert, and a tombstone
    db.addDocuments(Seq((1000L, "document number 1000 topic 3")).toDF("doc_id", "text"))
    db.addDocuments(Seq((3L, "document number 3 rewritten topic 5")).toDF("doc_id", "text"))
    db.removeDocs(Seq(4L))

    val query = "document number 3"
    val want = db.search(query, 10).collect()
      .map(_.getAs[Long]("doc_id")).mkString(",") // Catalyst path: exact

    val line = probe("warmserve", dir, query)
    val m = ("PROBE: WARMSERVE loads=(\\d+) saves=(\\d+) depth=(\\d+) " +
      "ids=(.*)").r.findFirstMatchIn(line).getOrElse(
      fail(s"unparseable probe line: $line"))
    assert(m.group(1).toInt > 0, s"the restart must stream the seed: $line")
    assert(m.group(2).toInt == 0, s"no cold rebuild may persist: $line")
    assert(m.group(3).toInt == 1, s"missed window must be ONE layer: $line")
    assert(m.group(4) == want,
      s"restarted serving diverged from the Catalyst twin: got " +
        s"${m.group(4)}, want $want")
  }
}
