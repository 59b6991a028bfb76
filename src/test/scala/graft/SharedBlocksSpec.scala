package graft

import graft.db.{BlockCache, VectorDB}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The SHARED prepared-block cache: every [[VectorDB]] instance over the
  * same folder in one application serves from ONE refcounted block set
  * ([[graft.db.BlockCache]]) instead of each pinning its own copy — and
  * a commit through ANY instance moves the folder's snapshot version, so
  * the other instances re-acquire fresh blocks on their next search
  * rather than serving a stale snapshot forever. These specs pin:
  * identity (same blocks object), accounting (refcounts, entry counts,
  * release-at-zero), freshness (cross-instance commits observed), and
  * parity (all sharers answer identically).
  */
class SharedBlocksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftdb").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def fixture(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, s"document number $i about topic ${i % 11}"))
      .toDF("doc_id", "text")

  private def asComparable(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq)

  private val qv = (0 until 64).map(i => math.cos(i * 1.1 + 0.3) / 7.0)

  test("two instances over one folder share ONE block set") {
    val dir = freshDir()
    val db1 = VectorDB.openOrCreate(spark, dir)
    db1.addDocuments(fixture(0 until 150))
    db1.enableServing()
    val db2 = VectorDB.openOrCreate(spark, dir)
    db2.enableServing()

    val key = db1.blockCacheKey
    assert(db2.blockCacheKey == key, "same folder must map to one cache key")
    assert(BlockCache.liveEntriesFor(key.folder) == 1,
      "a second instance must reuse the first's blocks, not build its own")
    assert(db1.preparedForTest.get eq db2.preparedForTest.get,
      "both instances must hold the SAME PreparedScan object")
    val v = db1.preparedVersionForTest.get
    assert(BlockCache.refsFor(key, v) == 2)

    // parity: both sharers answer identically
    val h1 = db1.searchHits(qv, k = 7)
    val h2 = db2.searchHits(qv, k = 7)
    assert(h1 == h2, "sharers must answer identically from the shared blocks")

    db1.disableServing()
    assert(BlockCache.refsFor(key, v) == 1)
    // db2 still serves fine after db1 let go
    assert(db2.searchHits(qv, k = 7) == h2)
    db2.disableServing()
    assert(BlockCache.liveEntriesFor(key.folder) == 0,
      "last release must free the blocks")
  }

  test("a commit through one instance refreshes the other's serving view") {
    val dir = freshDir()
    val db1 = VectorDB.openOrCreate(spark, dir)
    db1.addDocuments(fixture(0 until 120))
    db1.enableServing()
    val db2 = VectorDB.openOrCreate(spark, dir)
    db2.enableServing()
    val key = db1.blockCacheKey
    val vOld = db1.preparedVersionForTest.get

    // db2 commits; db1 must see the new rows on its NEXT search
    db2.addDocuments(fixture(1000 until 1010))
    val exhaustive1 = db1.searchHits(qv, k = 200,
      binaryOversample = 200, int8Oversample = 200)
    assert(exhaustive1.map(_.docId).toSet.contains(1005L),
      "instance 1 kept serving the pre-commit snapshot after instance 2 committed")
    assert(db1.preparedVersionForTest.get != vOld)

    // db2 re-acquires the same NEW entry: back to one shared set
    db2.searchHits(qv, k = 5)
    assert(BlockCache.liveEntriesFor(key.folder) == 1,
      "stale blocks must be gone and both instances on the new snapshot")
    assert(db1.preparedForTest.get eq db2.preparedForTest.get)

    // parity holds on the new snapshot
    assert(db1.searchHits(qv, k = 9) == db2.searchHits(qv, k = 9))

    // and the refreshing instance's Catalyst tier moved too
    assert(db1.count() == 130)
    db1.disableServing(); db2.disableServing()
  }

  test("cross-instance freshness holds under merge-on-read storage") {
    val dir = freshDir()
    val db1 = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db1.addDocuments(fixture(0 until 80))
    db1.enableServing()
    val db2 = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db2.enableServing()
    assert(BlockCache.liveEntriesFor(db1.blockCacheKey.folder) == 1)

    db2.removeDocs(Seq(3L, 7L))
    val ids = db1.searchHits(qv, k = 100, binaryOversample = 100,
      int8Oversample = 100).map(_.docId).toSet
    assert(!ids.contains(3L) && !ids.contains(7L),
      "instance 1 still serves rows instance 2 deleted")
    assert(ids.size == 78)

    db2.compact()
    val afterCompact = db1.searchHits(qv, k = 100, binaryOversample = 100,
      int8Oversample = 100).map(_.docId).toSet
    assert(afterCompact == ids, "compaction must not change results")
    db1.disableServing(); db2.disableServing()
  }

  test("the version marker makes reopen-in-a-new-handle see the latest snapshot") {
    val dir = freshDir()
    val db1 = VectorDB.openOrCreate(spark, dir)
    db1.addDocuments(fixture(0 until 50))
    // no serving anywhere yet; commit again so a marker exists
    db1.addDocuments(fixture(50 until 60))
    val marker = new java.io.File(s"$dir/_snapshot")
    assert(marker.exists, "commits must write the _snapshot version marker")

    val db2 = VectorDB.openOrCreate(spark, dir)
    db2.enableServing()
    assert(db2.searchHits(qv, k = 100, binaryOversample = 100,
      int8Oversample = 100).map(_.docId).toSet == (0L until 60L).toSet)
    db2.disableServing()
  }

  test("pollMarkerEvery adopts a commit made outside this JVM's version map") {
    val dir = freshDir()
    val db1 = VectorDB.openOrCreate(spark, dir)
    db1.addDocuments(fixture(0 until 70))
    db1.enableServing()
    val key = db1.blockCacheKey
    val vOld = db1.preparedVersionForTest.get
    val staleIds = db1.searchHits(qv, k = 200, binaryOversample = 200,
      int8Oversample = 200).map(_.docId).toSet

    // another handle commits (marker moves on disk), then we rewind the
    // in-JVM version map — exactly the state a commit from a DIFFERENT
    // JVM leaves behind: disk new, this JVM's map old
    val writer = VectorDB.openOrCreate(spark, dir)
    writer.addDocuments(fixture(2000 until 2005))
    BlockCache.forceVersionForTest(key, vOld)

    // without polling, db1 keeps serving the old snapshot (stale map)
    assert(db1.searchHits(qv, k = 200, binaryOversample = 200,
      int8Oversample = 200).map(_.docId).toSet == staleIds,
      "sanity: stale map must keep the old snapshot visible")

    // with polling, the next search past the interval adopts the marker
    db1.pollMarkerEvery(1)
    Thread.sleep(10)
    val freshIds = db1.searchHits(qv, k = 200, binaryOversample = 200,
      int8Oversample = 200).map(_.docId).toSet
    assert(freshIds.contains(2003L),
      "polling must surface the externally committed snapshot")
    assert(freshIds.size == 75)
    db1.disableServing()
  }

  test("serving results stay identical to the Catalyst path across a shared refresh") {
    val dir = freshDir()
    val db1 = VectorDB.openOrCreate(spark, dir)
    db1.addDocuments(fixture(0 until 90))
    db1.enableServing()
    val db2 = VectorDB.openOrCreate(spark, dir)
    db2.addDocuments(fixture(500 until 505)) // db2 never serving: pure Catalyst
    val served = asComparable(db1.searchVector(qv, k = 8).collect())
    db2.disableServing() // no-op; db2 was never serving
    val catalyst = asComparable(db2.searchVector(qv, k = 8).collect())
    assert(served == catalyst,
      "post-refresh served results must equal the Catalyst path on the same snapshot")
    db1.disableServing()
  }

  // Served blocks are localCheckpoint'ed (no lineage to recompute them
  // from), so their lifetime is the pin protocol's: these two specs pin
  // a release deferred past an in-flight search, and a rebuild when a
  // block is gone anyway.

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    r +: r.dependencies.flatMap(d => lineage(d.rdd))

  test("a pinned scan outlives the commit that releases it, then frees its blocks") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db.addDocuments(fixture(0 until 150))
    db.enableServing()
    val ps = db.preparedForTest.get
    val v = db.preparedVersionForTest.get
    val layerIds = lineage(ps.blocks).map(_.id).toSet & persistedIds
    assert(layerIds.nonEmpty, "the served blocks must be persisted")
    val q = graft.operators.Search.packQuery(qv).toArray
    def ranked(hits: Array[graft.db.PreparedScan.Hit]): Seq[(Long, Int, String)] =
      hits.toSeq.map(h => (h.id, h.hamming, h.doc))
    val before = ranked(ps.topB(q, 40))

    // a search that took the scan, then a commit through the same
    // instance: the last reference goes, the unpersist must wait
    assert(ps.tryPin())
    db.addDocuments(fixture(150 until 160))
    assert(BlockCache.refsFor(db.blockCacheKey, v) == 0, "the commit releases the scan")
    assert(layerIds.subsetOf(persistedIds), "a pinned scan's blocks must stay resident")
    val after = try ranked(ps.topB(q, 40)) finally ps.unpin()
    assert(after == before, "the in-flight search must answer from the released blocks")
    assert((layerIds & persistedIds).isEmpty,
      "the blocks must be unpersisted once the last in-flight search ends")
    assert(!ps.tryPin(), "a freed scan grants no new pin")

    // the instance itself serves on from the new snapshot
    val twin = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    assert(db.searchHits(qv, k = 8) == twin.searchHits(qv, k = 8))
    db.disableServing()
  }

  test("a search whose resident blocks were lost answers from a rebuilt tier") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      .incrementalServing(absorbDepth = 0)
    db.addDocuments(fixture(0 until 200))
    db.enableServing()
    val twin = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    def loseBlocks(which: Seq[org.apache.spark.rdd.RDD[_]] => Seq[org.apache.spark.rdd.RDD[_]]): Unit = {
      val layers = lineage(db.preparedForTest.get.blocks)
        .filter(r => persistedIds.contains(r.id)).sortBy(_.id)
      which(layers).foreach(_.unpersist(blocking = true)) // behind the engine's back
    }

    // flat tier: every block gone
    val flat = db.preparedForTest.get
    loseBlocks(identity)
    assert(db.searchHits(qv, k = 8) == twin.searchHits(qv, k = 8))
    assert(!(db.preparedForTest.get eq flat), "the lost tier must be replaced")

    // chain tier: the newest layer's blocks gone
    db.addDocuments(fixture(200 until 230))
    db.removeDocs(Seq(3L, 4L))
    db.searchHits(qv, k = 8)
    val chain = db.preparedForTest.get
    assert(chain.chain.depth >= 1, "the commits must extend the served chain")
    loseBlocks(_.takeRight(1))
    assert(db.searchHits(qv, k = 8) == twin.searchHits(qv, k = 8))
    assert(!(db.preparedForTest.get eq chain), "the lost chain must be replaced")
    assert(BlockCache.liveEntriesFor(db.blockCacheKey.folder) == 1,
      "only the rebuilt tier stays registered")
    db.disableServing()
  }
}
