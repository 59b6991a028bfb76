package graft

import graft.operators.{Dedup, Sketches, TextAnalysis}
import org.scalatest.funsuite.AnyFunSuite

/** ADVICE r16 (medium): the rankWithinBuckets / boilerplate persist
  * registries appended a fresh entry per call and released only via
  * clearCaches — a repeated caller (bench warm+reps; a library user
  * looping semdedup/exportShuffle) accumulated full-corpus persisted
  * relations and broadcasts without bound. Pinned here: the registries
  * hold at most [[Dedup.PersistRegistryCap]] live entries per session,
  * oldest evicted (correct-but-recompute, never wrong), and repeated
  * calls still produce identical results. The same holds for t3's
  * token relation and s2's distinct (lang, h) relation, whose
  * registries keep one entry per session.
  */
class PersistRegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, (0 until 24).map(j => s"w${i % 7}t$j").mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("repeated boilerplate calls keep at most the cap of live flagged persists") {
    graft.functions.Kernels.install(spark)
    Dedup.clearCaches(spark)
    val ref = Dedup.boilerplateOver(corpus(40), window = 8, dfMin = 3).collect().toSeq
    for (_ <- 1 to 5) {
      val again = Dedup.boilerplateOver(corpus(40), window = 8, dfMin = 3).collect().toSeq
      assert(again == ref, "eviction must never change results")
    }
    val (_, flagged) = Dedup.livePersistCounts(spark)
    assert(flagged <= Dedup.PersistRegistryCap,
      s"flagged registry grew to $flagged entries (cap ${Dedup.PersistRegistryCap})")
    Dedup.clearCaches(spark)
    assert(Dedup.livePersistCounts(spark) == ((0, 0)),
      "clearCaches still empties the registries")
  }

  test("repeated rankWithinBuckets callers keep at most the cap of live ranked persists") {
    import spark.implicits._
    graft.functions.Kernels.install(spark)
    Dedup.clearCaches(spark)
    val keyed = (0 until 64).map { i =>
      (i % 4, i % 8, i.toLong % 3, i.toLong)
    }.toDF("cluster", "s16", "sk", "vec_id")
    val ref = Dedup.rankWithinBuckets(keyed)
      .orderBy("cluster", "s16", "sk", "vec_id").collect().toSeq
    for (_ <- 1 to 5) {
      val again = Dedup.rankWithinBuckets(keyed)
        .orderBy("cluster", "s16", "sk", "vec_id").collect().toSeq
      assert(again == ref, "eviction must never change results")
    }
    val (ranked, _) = Dedup.livePersistCounts(spark)
    assert(ranked <= Dedup.PersistRegistryCap,
      s"ranked registry grew to $ranked entries (cap ${Dedup.PersistRegistryCap})")
    Dedup.clearCaches(spark)
  }

  /** A tiny three-language `documents.parquet` fixture dir. */
  private def fixtureDir(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-persist-reg").toString
    val langs = Seq("en", "de", "fr")
    (0 until 60).map { i =>
      val lang = langs(i % 3)
      (i.toLong, lang, (0 until 12).map(j => s"${lang}w${(i + j) % 9}").mkString(" "))
    }.toDF("doc_id", "lang", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("repeated t3 langId and s2 kmvJaccardLangs calls keep one live persist each") {
    val dir = fixtureDir()
    try {
      graft.Graft.clearAllCaches(spark)
      val t3 = TextAnalysis.langId(spark, dir).collect().toSeq
      val s2 = Sketches.kmvJaccardLangs(spark, dir).collect().toSeq
      assert(t3.nonEmpty && s2.nonEmpty)
      for (_ <- 1 to 3) {
        assert(TextAnalysis.langId(spark, dir).collect().toSeq == t3,
          "eviction must never change t3's rows")
        assert(Sketches.kmvJaccardLangs(spark, dir).collect().toSeq == s2,
          "eviction must never change s2's rows")
        assert(TextAnalysis.livePersistCount(spark) == 1)
        assert(Sketches.livePersistCount(spark) == 1)
      }
      graft.Graft.clearAllCaches(spark)
      assert(TextAnalysis.livePersistCount(spark) == 0 &&
        Sketches.livePersistCount(spark) == 0,
        "clearAllCaches releases every registry")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
