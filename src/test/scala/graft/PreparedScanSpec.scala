package graft.db

// package graft.db: the scanBlock law exercises private[db] internals
import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Parity spec for the serving-mode PREPARED Phase-I/II scan
  * ([[graft.db.PreparedScan]]): with serving enabled, `searchVector`
  * runs phases I+II as one bare RDD job over per-partition primitive
  * blocks (bounded (hamming, doc_id) heaps + driver merge, then a
  * driver-side `graft_sign_dot` mirror) and must stay BIT-IDENTICAL to
  * the per-call Catalyst plan — across both code layouts, under IVF
  * probing (block skip + in-block cell filter), and through commits.
  * ServingIndexSpec already pins the default-config path; this spec
  * covers the configuration matrix the prepared scan branches on.
  */
class PreparedScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftdb").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def fixture(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map(i => (i.toLong, s"document number $i about topic ${i % 7} " +
      s"with extra words ${"y" * (i % 6)}")).toDF("doc_id", "text")

  private def asComparable(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq)

  private def parity(db: VectorDB, qv: Seq[Double], k: Int = 7,
                     bos: Int = 4, ios: Int = 2, nprobe: Int = Int.MaxValue): Unit = {
    db.disableServing()
    val plain = asComparable(
      db.searchVector(qv, k, bos, ios, nprobe).collect())
    db.enableServing()
    val served = asComparable(
      db.searchVector(qv, k, bos, ios, nprobe).collect())
    db.disableServing()
    assert(served == plain, s"prepared scan diverged:\n$served\nvs\n$plain")
  }

  test("flat layout: prepared scan == catalyst path, bit-identical") {
    val db = VectorDB.openOrCreate(spark, freshDir(), layout = VectorDB.LayoutFlat)
    db.addDocuments(fixture(180))
    parity(db, (0 until 64).map(i => math.sin(i * 1.3) / 8.0))
  }

  test("ivf index: prepared scan honors nprobe probing, bit-identical") {
    val db = VectorDB.openOrCreate(spark, freshDir(),
      index = VectorDB.IndexIvf, ivfCells = 8)
    db.addDocuments(fixture(240))
    val qv = (0 until 64).map(i => math.cos(i * 0.7) / 6.0)
    parity(db, qv) // full probe
    parity(db, qv, nprobe = 2) // pruned probe: block skip + cell filter
    parity(db, qv, nprobe = 1)
  }

  test("ivf + flat layout: prepared scan parity under probing") {
    val db = VectorDB.openOrCreate(spark, freshDir(),
      index = VectorDB.IndexIvf, layout = VectorDB.LayoutFlat, ivfCells = 4)
    db.addDocuments(fixture(160))
    parity(db, (0 until 64).map(i => math.sin(i * 2.1) / 5.0), nprobe = 2)
  }

  test("prepared scan is invalidated by a commit and rebuilt fresh") {
    val db = VectorDB.openOrCreate(spark, freshDir())
    db.addDocuments(fixture(80))
    db.enableServing()
    val qv = (0 until 64).map(i => math.sin(i * 0.9) / 8.0)
    db.searchVector(qv, k = 3).collect() // build + use
    db.addDocuments(Seq((5000L, "an entirely new document about quasars"))
      .toDF("doc_id", "text"))
    val hit = db.search("new document quasars", k = 1).head()
    assert(hit.getAs[Long]("doc_id") == 5000L)
    parity(db, qv, k = 5)
  }

  private def batchParity(db: VectorDB, qs: Seq[(Long, Seq[Double])], k: Int = 6,
                          bos: Int = 4, ios: Int = 2,
                          nprobe: Int = Int.MaxValue): Unit = {
    db.disableServing()
    val plain = asComparable(
      db.searchMany(qs, k, bos, ios, nprobe).orderBy("qid", "rank").collect())
    db.enableServing()
    val served = asComparable(
      db.searchMany(qs, k, bos, ios, nprobe).orderBy("qid", "rank").collect())
    db.disableServing()
    assert(served == plain, s"batched prepared scan diverged:\n$served\nvs\n$plain")
  }

  private def queriesFixture(q: Int): Seq[(Long, Seq[Double])] =
    (0 until q).map(s => (s.toLong + 10,
      (0 until 64).map(i => math.sin(i * 0.31 + s * 1.7) / 6.0)))

  test("searchMany: batched prepared scan == catalyst path, both layouts") {
    val dbA = VectorDB.openOrCreate(spark, freshDir())
    dbA.addDocuments(fixture(200))
    batchParity(dbA, queriesFixture(5))
    val dbF = VectorDB.openOrCreate(spark, freshDir(), layout = VectorDB.LayoutFlat)
    dbF.addDocuments(fixture(200))
    batchParity(dbF, queriesFixture(5))
  }

  test("searchMany: batched prepared scan honors per-query IVF probing") {
    val db = VectorDB.openOrCreate(spark, freshDir(),
      index = VectorDB.IndexIvf, ivfCells = 8)
    db.addDocuments(fixture(260))
    val qs = queriesFixture(6)
    batchParity(db, qs) // full probe
    batchParity(db, qs, nprobe = 2) // per-query cell masks diverge by query
    batchParity(db, qs, nprobe = 1)
    // batched-served must also equal single-query served results
    db.enableServing()
    val batched = asComparable(
      db.searchMany(qs, 6, 4, 2, nprobe = 2).orderBy("qid", "rank").collect())
    val singly = qs.flatMap { case (qid, qv) =>
      db.searchVector(qv, 6, 4, 2, nprobe = 2).collect().toSeq.zipWithIndex.map {
        case (r, i) => Seq[Any](qid, i + 1) ++ r.toSeq
      }
    }
    db.disableServing()
    assert(batched == singly,
      "batched serving != single-query serving under pruned probes")
  }

  test("topBMany == per-query topB on a multi-partition prepared scan") {
    val rnd = new scala.util.Random(7)
    // 3 partitions of (doc_id, c0, c1) rows → PreparedScan over a real RDD
    val rows = (0 until 240).map(i =>
      (i.toLong, rnd.nextLong(), rnd.nextLong()))
    val df = spark.createDataFrame(rows).toDF("doc_id", "c0", "c1")
      .repartition(3)
    val ps = PreparedScan.build(df, nWords = 2, isFlat = true, isIvf = false)
    try {
      val qs = Array.fill(5)(Array.fill(2)(rnd.nextLong()))
      val many = ps.topBMany(qs, 17)
      qs.zipWithIndex.foreach { case (q, i) =>
        val single = ps.topB(q, 17)
        assert(many(i).map(h => (h.id, h.hamming)).toSeq
          == single.map(h => (h.id, h.hamming)).toSeq,
          s"query $i: batched result diverged from single-query topB")
      }
    } finally ps.unpersist()
  }

  test("payload chunking: rows read identically across chunk seams") {
    // A single flat payload array caps a block at Int.MaxValue/byteLen
    // rows (~2M at dim 1024) — the true-geometry 8M bench overflowed
    // there. Pin the chunk-seam addressing: rows never straddle chunks
    // and payload(r) is exact at and around every seam.
    val byteLen = 3
    val rowsPerChunk = 4
    val n = 11 // 2 full chunks + a 3-row tail
    def rowBytes(r: Int): Array[Byte] =
      Array.tabulate(byteLen)(j => (r * byteLen + j).toByte)
    val chunks = (0 until n).grouped(rowsPerChunk).map { rs =>
      rs.flatMap(rowBytes).toArray
    }.toArray
    val blk = PreparedScan.Block(
      Array.tabulate(n)(_.toLong), Array.empty[Long],
      Array.empty[Int], Array.empty[Int],
      chunks, byteLen, rowsPerChunk, null)
    (0 until n).foreach { r =>
      assert(blk.payload(r).toSeq == rowBytes(r).toSeq, s"row $r")
    }
  }

  test("scanBlock: bounded heap == brute-force sort on random blocks") {
    val rnd = new scala.util.Random(42)
    val nWords = 2
    (1 to 25).foreach { trial =>
      val n = 1 + rnd.nextInt(300)
      val b = 1 + rnd.nextInt(20)
      val ids = Array.tabulate(n)(i => i.toLong * 3)
      // narrow value range forces massed hamming TIES — the heap's
      // (hamming, id) tie-break is the part a sloppy top-k gets wrong
      val words = Array.fill(n * nWords)(rnd.nextInt(4).toLong)
      val q = Array.fill(nWords)(rnd.nextInt(4).toLong)
      val blk = PreparedScan.Block.bare(ids, words, Array.empty, Array.empty)
      val got = PreparedScan.scanBlock(blk, q, nWords, b, null)
        .map(h => (h.id, h.hamming)).toSeq
      val expect = (0 until n).map { r =>
        val h = (0 until nWords).map(w =>
          java.lang.Long.bitCount(words(r * nWords + w) ^ q(w))).sum
        (ids(r), h)
      }.sortBy { case (id, h) => (h, id) }.take(b)
      assert(got == expect, s"trial $trial: heap top-$b of $n diverged")
      // returned code words must be the scanned rows' own words
      PreparedScan.scanBlock(blk, q, nWords, b, null).foreach { h =>
        val r = (h.id / 3).toInt
        assert(h.words.toSeq == words.slice(r * nWords, (r + 1) * nWords).toSeq)
      }
    }
  }

  test("a served scan ships the resident blocks, not the plans that built them") {
    def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val buildRdds = Set("SQLExecutionRDD", "FileScanRDD", "ParallelCollectionRDD")
    def taskBytes(ps: PreparedScan): Int =
      org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
        .serialize(ps.blocks).limit()
    def assertLineageFree(ps: PreparedScan, what: String): Unit = {
      val built = lineage(ps.blocks).map(_.getClass.getSimpleName).filter(buildRdds)
      assert(built.isEmpty, s"$what scan still carries its build lineage: $built")
    }
    val db = VectorDB.openOrCreate(spark, freshDir(), storage = VectorDB.StorageMor)
      .incrementalServing(absorbDepth = 0)
    db.addDocuments(fixture(400))
    db.enableServing()
    val qv = (0 until 64).map(i => math.sin(i * 0.4) / 5.0)
    db.searchHits(qv, k = 5)
    val flat = db.preparedForTest.get
    assertLineageFree(flat, "flat")
    val flatBytes = taskBytes(flat)
    (0 until 3).foreach { i =>
      db.addDocuments(fixture(400 + 20 * (i + 1)).filter($"doc_id" >= 400 + 20 * i))
      db.searchHits(qv, k = 5) // adopts the commit as a chain layer
    }
    val chain = db.preparedForTest.get
    assert(chain.chain.depth == 3 && chain.numBlocks > flat.numBlocks,
      s"expected a 3-layer chain, got depth ${chain.chain.depth}")
    assertLineageFree(chain, "chain")
    val chainBytes = taskBytes(chain)
    info(s"serialized served RDD: flat $flatBytes B, 3-upsert chain $chainBytes B")
    assert(chainBytes - flatBytes <= 2048,
      s"a 3-upsert chain's scan serializes to $chainBytes B vs flat's $flatBytes B")
    db.disableServing()
  }
}
