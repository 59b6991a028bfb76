package graft

import graft.db.MorTable
import org.scalatest.funsuite.AnyFunSuite

/** Differential property test of the merge-on-read table: a random
  * sequence of upserts / deletes / compactions (retiring or not) must
  * read back exactly what an in-memory last-writer-wins map holds —
  * and every snapshot ceiling pinned along the way must KEEP reading
  * its frozen map through all later operations, including folds that
  * retire its file set. This complements the scenario specs with
  * sequence coverage: interleavings like delete→compact→re-insert→
  * pin→compact are generated, not hand-picked.
  *
  * Deterministic seeds (no flaky CI); small op counts — each op is a
  * Spark job, the value is in the interleavings, not the row count.
  */
class MorTableProperties extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftmorprop").toFile
    d.delete()
    d.getAbsolutePath + "/t"
  }

  sealed trait Op
  case class Upsert(kvs: Seq[(Long, String)]) extends Op
  case class Delete(ks: Seq[Long]) extends Op
  case class Compact(retire: Boolean) extends Op
  case object Pin extends Op

  /** Deterministic op sequence from a seed: keys collide on purpose
    * (domain of 6) so updates, re-inserts after delete, and tombstones
    * of never-compacted rows all occur.
    */
  private def opsFor(seed: Long, n: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    var tick = 0
    (0 until n).map { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 =>
          val ks = (0 until 1 + rnd.nextInt(3)).map(_ => rnd.nextInt(6).toLong).distinct
          tick += 1
          Upsert(ks.map(k => k -> s"v$tick-k$k"))
        case 4 | 5 =>
          Delete((0 until 1 + rnd.nextInt(2)).map(_ => rnd.nextInt(6).toLong).distinct)
        case 6 | 7 => Compact(retire = rnd.nextBoolean())
        case _ => Pin
      }
    }
  }

  private def readMap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("random op sequences: live reads and every pinned ceiling match the model") {
    (1L to 10L).foreach { seed =>
      val t = new MorTable(spark, freshDir(), "id")
      var model = Map.empty[Long, String]
      // ceiling -> the model frozen when that ceiling was pinned
      var pins = Map.empty[Int, Map[Long, String]]
      var nonEmpty = false

      opsFor(seed, 9).foreach {
        case Upsert(kvs) =>
          t.upsert(kvs.toDF("id", "v"))
          model ++= kvs
          nonEmpty = true
        case Delete(ks) =>
          // MorTable.delete writes tombstones for the GIVEN keys
          // unconditionally (the facade pre-validates existence);
          // model: absent keys stay absent
          if (nonEmpty) {
            t.delete(ks.map(Tuple1(_)).toDF("id"))
            model --= ks
          }
        case Compact(_) =>
          // retention is pin-aware: pass the ceilings of every open pin
          if (nonEmpty) t.compact(pins.keySet)
        case Pin =>
          if (nonEmpty) pins += (t.versionCeiling() -> model)
      }

      if (nonEmpty) {
        assert(readMap(t.read()) == model,
          s"seed $seed: live read diverged from the model")
        // presentAt (the removeDocs presence check's id-restricted LWW
        // resolution) must agree with the model for every key in the
        // domain plus a never-present probe and a repeated one — at the
        // live ceiling AND at every pinned one
        val probe = (0L to 5L) ++ Seq(99L, 3L)
        assert(t.presentAt(t.versionCeiling(), probe) == model.keySet,
          s"seed $seed: presentAt(live) diverged from the model key set")
        pins.foreach { case (ceil, frozen) =>
          assert(readMap(t.readAt(ceil)) == frozen,
            s"seed $seed: pinned ceiling $ceil no longer reads its frozen view")
          assert(t.presentAt(ceil, probe) == frozen.keySet,
            s"seed $seed: presentAt($ceil) diverged from the frozen key set")
        }
        // GC with no remaining pins: retention collapses to the
        // {current, previous} reader window; live reads are unaffected
        t.gc(Set.empty)
        assert(t.pastGenerations() <= 1,
          s"seed $seed: unpinned retention must collapse to the reader window")
        assert(readMap(t.read()) == model,
          s"seed $seed: live read changed after generation GC")
      }
    }
  }
}
