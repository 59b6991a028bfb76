package graft

import graft.db.{MorTable, VectorDB}
import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read storage mode: same CRUD semantics as copy-on-write, but
  * commits append deltas (O(batch)) instead of rewriting the table, and
  * compaction folds them back.
  */
class MorVectorDBSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftmor").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Foreground Spark jobs submitted while `body` runs (the absorb
    * daemons of other suites' DBs run in the background pool).
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties == null ||
            e.properties.getProperty("spark.scheduler.pool") != graft.Graft.BackgroundPool)
          n.incrementAndGet()
    }
    ListenerBusSync.drain(sc)
    sc.addSparkListener(l)
    try body
    finally {
      ListenerBusSync.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  test("MOR lifecycle: upsert/update/delete via deltas, compaction, reopen") {
    val db = VectorDB.openOrCreate(spark, freshDir(), storage = VectorDB.StorageMor)
    db.addDocuments(Seq(
      (1L, "Berlin is the capital of Germany"),
      (2L, "Paris is the capital of France")).toDF("doc_id", "text"))
    assert(db.count() == 2)
    assert(db.pendingDeltas() == 1)

    // Update by re-add: a NEW delta, no rewrite of the old one.
    db.addDocuments(Seq((2L, "Madrid is the capital of Spain")).toDF("doc_id", "text"))
    assert(db.count() == 2)
    assert(db.pendingDeltas() == 2)
    val updated = db.search("Madrid capital Spain", k = 1).head()
    assert(updated.getAs[Long]("doc_id") == 2L)
    assert(updated.getAs[String]("doc").contains("Madrid"))

    // Delete via tombstone.
    db.removeDocs(Seq(1L))
    assert(db.count() == 1)
    assert(db.pendingDeltas() == 3)
    intercept[IllegalArgumentException] { db.removeDocs(Seq(1L)) }

    // Compaction folds deltas into the base; state unchanged.
    db.compact()
    assert(db.pendingDeltas() == 0)
    assert(db.count() == 1)
    assert(db.search("Madrid capital Spain", k = 1).head().getAs[Long]("doc_id") == 2L)

    // Re-add after delete (tombstone must not shadow the newer row).
    db.addDocuments(Seq((1L, "Rome is the capital of Italy")).toDF("doc_id", "text"))
    assert(db.count() == 2)

    // Reopen from disk: storage mode and state survive.
    val db2 = VectorDB.openOrCreate(spark, db.folder)
    assert(db2.storage == VectorDB.StorageMor)
    assert(db2.count() == 2)
  }

  test("searchMany: batched funnel equals per-query searchVector for every query") {
    import org.apache.spark.sql.functions._
    val db = VectorDB.openOrCreate(spark, freshDir())
    db.addDocuments((1L to 120L).map(i =>
      (i, s"word${i % 17} word${i % 7} word${i % 23} word${i % 5}")).toDF("doc_id", "text"))

    val emb = new graft.db.HashingEmbedder()
    val queries = Seq("word1 word4 word9", "word16 word2 word3").zipWithIndex.map {
      case (t, i) =>
        (i.toLong, spark.range(1).select(emb.embed(lit(t)).cast("array<double>"))
          .head().getSeq[Double](0))
    }
    val many = db.searchMany(queries).collect()
      .groupBy(_.getAs[Long]("qid"))
    queries.foreach { case (qid, qv) =>
      val batched = many(qid).sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score_cossim"))).toSeq
      val single = db.searchVector(qv).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score_cossim"))).toSeq
      assert(batched == single, s"query $qid")
    }
  }

  test("flat code layout: identical search results to the array layout") {
    val corpus = (1L to 100L).map(i =>
      (i, s"word${i % 13} word${i % 7} word${i % 29} word${i % 5}")).toDF("doc_id", "text")
    val dbA = VectorDB.openOrCreate(spark, freshDir())
    val dbF = VectorDB.openOrCreate(spark, freshDir(), layout = VectorDB.LayoutFlat)
    dbA.addDocuments(corpus)
    dbF.addDocuments(corpus)

    // flat tier really is primitive columns
    assert(dbF.codes.columns.toSet == Set("doc_id", "c0"))
    assert(dbA.codes.columns.toSet == Set("doc_id", "code"))

    val qs = Seq("word1 word3 word7", "word12 word2", "word4 word4 word9")
    qs.foreach { q =>
      val a = dbA.search(q, k = 5).collect().map(_.toSeq).toSeq
      val f = dbF.search(q, k = 5).collect().map(_.toSeq).toSeq
      assert(a == f, s"layouts disagree for '$q'")
    }
    // reopen keeps the layout
    assert(VectorDB.openOrCreate(spark, dbF.folder).layout == VectorDB.LayoutFlat)
  }

  test("flat layout + MOR storage compose: deltas, update, compaction, search") {
    val db = VectorDB.openOrCreate(spark, freshDir(),
      storage = VectorDB.StorageMor, layout = VectorDB.LayoutFlat)
    db.addDocuments(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text"))
    assert(db.codes.columns.toSet == Set("doc_id", "c0"), "flat tier through MOR")
    db.addDocuments(Seq((2L, "iota kappa lambda mu")).toDF("doc_id", "text"))
    assert(db.count() == 2 && db.pendingDeltas() == 2)
    val hit = db.search("iota kappa lambda", k = 1).head()
    assert(hit.getAs[Long]("doc_id") == 2L)
    db.compact()
    assert(db.pendingDeltas() == 0 && db.count() == 2)
    assert(db.search("alpha beta gamma", k = 1).head().getAs[Long]("doc_id") == 1L)
    // batched search over the flat+MOR tiers
    val emb = new graft.db.HashingEmbedder()
    val qv = spark.range(1).select(emb.embed(
      org.apache.spark.sql.functions.lit("alpha beta gamma delta")).cast("array<double>"))
      .head().getSeq[Double](0)
    assert(db.searchMany(Seq((0L, qv))).head().getAs[Long]("doc_id") == 1L)
  }

  test("interrupted fold cannot lose rows: tmp-only and post-rename crash states heal") {
    import org.apache.hadoop.fs.Path
    val dir = freshDir() + "/mor"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val t = new graft.db.MorTable(spark, dir, "id")
    t.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v1
    t.compact() // generation base_v1
    t.upsert(Seq((3L, "c")).toDF("id", "v"))            // v2

    // crash BEFORE the fold's rename: only the temp dir exists — reads
    // IGNORE it (no base_v/delta_v name match) and must NOT delete it:
    // the same path is a live fold's staging dir, and a reader deleting
    // it destroyed a concurrent writer's fold mid-write (the round-11
    // ConcurrentReadWriteSpec catch). Healing belongs to the writer.
    t.read().write.mode("overwrite").parquet(s"$dir/base.parquet.compacting")
    val t2 = new graft.db.MorTable(spark, dir, "id")
    assert(t2.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(fs.exists(new Path(s"$dir/base.parquet.compacting")),
      "a READ path must never delete the (possibly live) fold staging dir")

    // crash AFTER the rename but before GC: both generations + the
    // folded delta remain — reads are correct from the NEW generation,
    // and the next compact's GC collapses retention to the window
    t2.compact() // base_v2 lands; base_v1 + delta_v2 retained (window)
    assert(!fs.exists(new Path(s"$dir/base.parquet.compacting")),
      "the next WRITER fold heals the stale staging crumb")
    assert(fs.exists(new Path(s"$dir/base_v2.parquet")))
    assert(fs.exists(new Path(s"$dir/base_v1.parquet")),
      "the previous generation must survive one fold (in-flight readers)")
    assert(t2.deltaCount() == 0, "folded deltas are retained but not pending")
    assert(t2.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    t2.upsert(Seq((4L, "d")).toDF("id", "v"))
    t2.compact() // rotates the window: base_v1 and its deltas reclaimed
    assert(!fs.exists(new Path(s"$dir/base_v1.parquet")),
      "a generation outside {current, previous} must be reclaimed")
    assert(t2.read().collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("legacy layout crash crumbs (pre-versioned base.old) still heal on upgrade") {
    import org.apache.hadoop.fs.Path
    val dir = freshDir() + "/morlegacy"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val t = new graft.db.MorTable(spark, dir, "id")
    t.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // hand-craft the OLD code's crash-in-swap state: rows live only in
    // base.parquet.old, a fully written .compacting beside it
    t.read().write.mode("overwrite").parquet(s"$dir/base.parquet.old")
    t.read().write.mode("overwrite").parquet(s"$dir/base.parquet.compacting")
    fs.delete(new Path(s"$dir/delta_v1.parquet"), true)
    // a fresh (new-code) handle restores the aside and reads every row;
    // the staging crumb is untouched by reads (writer-side healing only)
    val t2 = new graft.db.MorTable(spark, dir, "id")
    assert(t2.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(fs.exists(new Path(s"$dir/base.parquet")))
    assert(!fs.exists(new Path(s"$dir/base.parquet.old")))
    assert(fs.exists(new Path(s"$dir/base.parquet.compacting")))
    // the legacy base participates as a generation: a new fold
    // supersedes it, reclaims the staging crumb, and the window GC
    // eventually reclaims the legacy base
    t2.upsert(Seq((3L, "c")).toDF("id", "v"))
    t2.compact()
    assert(!fs.exists(new Path(s"$dir/base.parquet.compacting")))
    assert(t2.read().count() == 3)
  }

  test("MOR merged read: base joins anti against delta keys, never re-shuffled") {
    val dir = freshDir() + "/morplan"
    val t = new graft.db.MorTable(spark, dir, "id")
    t.upsert((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.compact() // establish a base of 1000 rows
    t.upsert(Seq((1L, "updated"), (2000L, "brand new")).toDF("id", "v"))
    t.delete(Seq(Tuple1(2L)).toDF("id"))

    val df = t.read()
    // last-writer-wins semantics across update / insert / tombstone
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "updated" && got(2000L) == "brand new")
    assert(!got.contains(2L) && got.size == 1000)

    // plan shape: the base reaches the merge through a broadcast LEFT
    // ANTI join (streamed, no exchange); the only window runs over the
    // small delta union. The pre-fix shape windowed base ∪ deltas —
    // a full shuffle of the table per merged read, fatal at 100 TB.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti-join merge:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"small delta keys must broadcast, not shuffle the base:\n$plan")
  }

  test("MOR upserts are O(batch): the base file is never touched by a commit") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db.addDocuments((1L to 50L).map(i => (i, s"doc number $i words")).toDF("doc_id", "text"))
    db.compact() // establish a base generation
    val base = new java.io.File(s"$dir/codes.mor").listFiles()
      .filter(_.getName.startsWith("base_v")).head
    val before = base.lastModified()

    db.addDocuments(Seq((999L, "a new tiny batch")).toDF("doc_id", "text"))
    db.removeDocs(Seq(1L))
    assert(base.lastModified() == before, "commits must not rewrite the base")
    assert(db.count() == 50) // 50 − 1 deleted + 1 added
  }

  test("failed batch validation aborts the commit: no visible rows, next commit heals") {
    // r18: the MOR ingest overlaps the validation aggregate with the
    // codes-tier delta write (guide §2.6), so a validation failure can
    // leave an INVISIBLE orphan delta — same debris class as a crash
    // between the two tier writes. The commit flip must never run, and
    // the next commit must truncate the orphan and proceed.
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db.addDocuments(Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text"))
    intercept[IllegalArgumentException] {
      db.addDocuments(Seq((3L, "x y"), (3L, "z w")).toDF("doc_id", "text"))
    }
    assert(db.count() == 2, "aborted commit must stay invisible")
    db.addDocuments(Seq((4L, "p q r")).toDF("doc_id", "text"))
    assert(db.count() == 3)
    assert(db.search("p q r", k = 1).head().getAs[Long]("doc_id") == 4L)
  }

  test("a small removeDocs writes ONE tombstone file per tier, not one per core") {
    // The id relation is driver-local, so it plans at leaf-node default
    // parallelism — before the r18 coalesce each tier's tombstone delta
    // landed as up to <cores> near-empty files, paid again by every
    // later merged read of the window.
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    db.addDocuments((1L to 200L).map(i => (i, s"doc number $i words")).toDF("doc_id", "text"))
    db.removeDocs(1L to 100L)
    val deltas = new java.io.File(s"$dir/codes.mor").listFiles()
      .filter(_.getName.startsWith("delta_v")).maxBy(_.getName)
    val parts = deltas.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1,
      s"100 tombstones must land as one file, got ${parts.length}")
    assert(db.count() == 100)
  }

  test("a MOR removeDocs submits as many Spark jobs after 4 commit/delete cycles as after 1") {
    // Inferring a file's schema is one Spark job. A delete that paid it
    // again for every file it has already read would grow by a job per
    // pending delta per read of the tier.
    val db = VectorDB.openOrCreate(spark, freshDir(), storage = VectorDB.StorageMor)
    db.addDocuments((1L to 40L).map(i => (i, s"doc number $i words")).toDF("doc_id", "text"))
    val jobs = (1 to 4).map { c =>
      db.addDocuments(Seq((100L + c, s"churn doc $c")).toDF("doc_id", "text"))
      assert(db.count() == 41)
      val n = jobsOf(db.removeDocs(Seq(c.toLong)))
      assert(db.count() == 40)
      n
    }
    assert(db.pendingDeltas() == 9)
    assert(jobs.head == jobs.last,
      s"removeDocs jobs per cycle ${jobs.mkString(", ")}: must not grow with pending deltas")
  }

  test("a second MorTable.readAt over files it has already read submits no job") {
    val t = new MorTable(spark, freshDir() + "/memoread", "id")
    t.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.compact()
    t.upsert(Seq((3L, "c")).toDF("id", "v"))
    t.delete(Seq(Tuple1(1L)).toDF("id"))
    val ceil = t.versionCeiling()
    assert(jobsOf(t.readAt(ceil)) > 0, "the first read infers each file's schema")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = t.readAt(ceil) } == 0)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("the schema memo follows a rewritten orphan version; legacy deltas and empty DBs") {
    val dir = freshDir() + "/memo"
    val t = new MorTable(spark, dir, "id")
    def rows(): Set[Seq[Any]] = t.read().collect().map(_.toSeq).toSet
    t.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v1
    t.upsert(Seq((3L, "c")).toDF("id", "v"))            // v2
    assert(rows() == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))

    // v2 becomes an orphan and is written again with other rows and an
    // extra column: a schema remembered from the old v2 would drop `w`
    t.truncateAbove(1)
    t.upsert(Seq((4L, "d", 7)).toDF("id", "v", "w"))  // v2 again
    assert(t.read().columns.toSeq == Seq("id", "v", "w"))
    assert(rows() == Set(Seq(1L, "a", null), Seq(2L, "b", null), Seq(4L, "d", 7)))

    // a legacy delta written without `_deleted` reads as not deleted,
    // and a tombstone over it takes its columns from that file
    Seq((5L, "e", 8)).toDF("id", "v", "w").write.parquet(s"$dir/delta_v3.parquet")
    assert(rows().contains(Seq(5L, "e", 8)))
    t.delete(Seq(Tuple1(5L), Tuple1(1L)).toDF("id"))
    assert(rows() == Set(Seq(2L, "b", null), Seq(4L, "d", 7)))

    // an empty MOR DB still rejects a delete of an absent id, and its
    // orphan tombstones do not get in the way of the first commit
    val db = VectorDB.openOrCreate(spark, freshDir(), storage = VectorDB.StorageMor)
    val e = intercept[IllegalArgumentException](db.removeDocs(Seq(1L)))
    assert(e.getMessage.contains("not in index"))
    db.addDocuments(Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text"))
    db.removeDocs(Seq(1L))
    assert(db.count() == 1)
    assert(db.search("d e f", k = 1).head().getAs[Long]("doc_id") == 2L)
  }
}
