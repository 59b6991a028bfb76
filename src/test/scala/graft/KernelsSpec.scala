package graft

import graft.functions.Kernels
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit + property tests for the vector kernels (SURVEY.md §5.2 items 2-3):
  * bit-packing round-trip, hamming differential vs a naive bit loop and
  * metric properties, sign-dot identity, int8 quantization formula, and
  * hash determinism — everything downstream depends on these being
  * bit-exact.
  */
class KernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def randVec(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextGaussian())

  /** Reference pack: bit j set iff v(j) > 0, MSB-first within each long. */
  private def naivePack(v: Seq[Double]): Seq[Long] = {
    val words = new Array[Long]((v.length + 63) / 64)
    v.zipWithIndex.foreach { case (x, j) =>
      if (x > 0) words(j >> 6) |= (1L << (63 - (j & 63)))
    }
    words.toSeq
  }

  private def naiveHamming(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).map { case (x, y) =>
      (0 until 64).count(i => (((x ^ y) >>> i) & 1L) == 1L)
    }.sum

  test("packBits matches naive MSB-first packing (dims 3, 64, 100, 1024)") {
    for (dim <- Seq(3, 64, 100, 1024)) {
      val vecs = Seq.fill(20)(randVec(dim))
      val got = vecs.toDF("v").select(Kernels.packBits(col("v")))
        .collect().map(_.getSeq[Long](0))
      got.zip(vecs).foreach { case (g, v) => assert(g == naivePack(v), s"dim $dim") }
    }
  }

  test("hamming: differential vs naive, identity, symmetry, bounds") {
    val codes = Seq.fill(30)(randVec(128)).map(naivePack)
    val pairs = for (a <- codes; b <- codes) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(Kernels.hamming(col("a"), col("b"))).collect().map(_.getInt(0))
    got.zip(pairs).foreach { case (g, (a, b)) =>
      assert(g == naiveHamming(a, b))
      assert(g >= 0 && g <= 128)
    }
    // identity + symmetry over the collected matrix
    val n = codes.length
    for (i <- 0 until n; j <- 0 until n) {
      assert(got(i * n + j) == got(j * n + i))
      if (i == j) assert(got(i * n + j) == 0)
    }
  }

  test("signDot identity: dot(q, 2b-1) == sum(q where bit) - sum(q where !bit)") {
    for (_ <- 1 to 10) {
      val v = randVec(64)
      val q = randVec(64)
      val expected = v.zip(q).map { case (x, qi) => if (x > 0) qi else -qi }.sum
      val got = Seq((q, naivePack(v))).toDF("q", "code")
        .select(Kernels.signDot(col("q"), col("code"))).head().getDouble(0)
      assert(math.abs(got - expected) < 1e-9)
    }
  }

  test("int8 quantization: clip(floor(x*127/maxAbs + 0.5)) as signed bytes") {
    val v = Seq(0.5, -0.5, 0.0, 1.0, -1.0, 0.013, -0.013)
    val ma = 1.0
    val got = Seq(Tuple1(v)).toDF("v")
      .select(Kernels.int8(col("v"), lit(ma))).head().getAs[Array[Byte]](0)
    val expected = v.map(x =>
      math.min(127.0, math.max(-127.0, math.floor(x * 127.0 / ma + 0.5))).toByte)
    assert(got.toSeq == expected)
  }

  test("h60 equals the SQL conv(substr(md5)) form and is non-negative") {
    val texts = Seq("", "a", "hello world", "the fast key order", "ünïcode ☃")
    val df = texts.toDF("t")
    val fast = df.select(Kernels.h60(col("t"))).collect().map(_.getLong(0))
    val sql = df.select(
      conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long"))
      .collect().map(_.getLong(0))
    assert(fast.toSeq == sql.toSeq)
    fast.foreach(h => assert(h >= 0))
  }

  test("minhash signature equals per-permutation mins of the affine mix") {
    val M = 2147483647L
    val hs = Seq.fill(50)(math.abs(rnd.nextLong()) % (1L << 60))
    val got = Seq(Tuple1(hs)).toDF("hs")
      .select(Kernels.minhashSignature(col("hs"), 16)).head().getSeq[Long](0)
    val expected = (0 until 16).map { p =>
      hs.map(h => ((2L * p + 1) * (h % M) + p * 12582917L) % M).min
    }
    assert(got == expected)
  }

  test("simhash: all-identical hashes give hamming 0; disjoint votes flip bits") {
    val h = 0x5a5a5a5a5aL
    val same = Seq(Tuple1(Seq(h, h, h))).toDF("hs")
      .select(Kernels.simHash(col("hs"))).head().getLong(0)
    // With every vote from the same hash, the simhash is the hash's low 60 bits.
    assert(same == (h & ((1L << 60) - 1)))
  }

  test("hashing embedder: deterministic, L2-normalized, dim 64") {
    val df = Seq("the fast key order sort", "the fast key order sort", "spark group query")
      .toDF("text")
    val vecs = df.select(Kernels.hashEmbed64(Kernels.tokens(col("text"))))
      .collect().map(_.getSeq[Float](0))
    assert(vecs(0) == vecs(1)) // deterministic
    assert(vecs(0) != vecs(2))
    vecs.foreach { v =>
      assert(v.length == 64)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-6)
    }
  }

  test("funnel recall: with full oversampling the funnel top-k equals exact int8 top-k") {
    val dir = "/root/testdata/sf0.001"
    // binary_oversample covering the whole table => Phase I is a no-op
    // filter, so the funnel result must equal the exact phase-III ranking.
    val full = graft.operators.Search.funnel(spark, dir, queryVecId = 0,
      k = 10, binaryOversample = 50, int8Oversample = 50)
      .select("vec_id").collect().map(_.getLong(0))
    val exact = graft.operators.Search.funnel(spark, dir, queryVecId = 0,
      k = 10, binaryOversample = 1000, int8Oversample = 1000)
      .select("vec_id").collect().map(_.getLong(0))
    assert(full.nonEmpty && exact.nonEmpty)
    assert(exact.toSet == full.toSet || (exact.toSet -- full.toSet).size <= 2,
      "near-full oversampling should recover (almost) the exact top-k")
  }

  test("maxAbsElem equals the per-element abs max it replaced, so int8 calibration is unchanged") {
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val groups: Seq[(String, Seq[Seq[Double]])] = Seq(
      "negative-dominant" -> Seq(Seq(-5.0, 1.0, 2.0), Seq(-0.75, 0.5, -0.25)),
      "positive-dominant" -> Seq(Seq(-1.0, 3.0, 0.5), Seq(0.25, -0.125, 2.5)),
      "all +-0.0" -> Seq(Seq(0.0, -0.0), Seq(-0.0, -0.0), Seq(-0.0), Seq(0.0)),
      "+-Inf" -> Seq(Seq(1.0, -inf), Seq(inf, -2.0), Seq(-inf, inf)),
      "NaN" -> Seq(Seq(nan, 1.0), Seq(-1.0, nan), Seq(-inf, nan, -0.0)),
      "empty" -> Seq(Seq.empty[Double]))
    val rows = groups.flatMap { case (g, vs) => vs.map(v => (g, v)) }
    val old = (v: org.apache.spark.sql.Column) => array_max(transform(v, x => abs(x)))
    // Boxed equals: NaN equals NaN, and 0.0 differs from -0.0.
    def same(a: Any, b: Any): Boolean = java.util.Objects.equals(a, b)
    for (elem <- Seq("double", "float")) {
      val df = rows.toDF("g", "v0").select(col("g"), col("v0").cast(s"array<$elem>").as("v"))
        .union(Seq(("null", null: Seq[Double])).toDF("g", "v0")
          .select(col("g"), col("v0").cast(s"array<$elem>").as("v")))
      df.select(col("v"), old(col("v")), Kernels.maxAbsElem(col("v"))).collect()
        .foreach { r =>
          assert(same(r.get(1), r.get(2)),
            s"$elem row ${r.get(0)}: old ${r.get(1)} vs new ${r.get(2)}")
        }
      // The calibration scalar as the commit's stats query takes it, per
      // group, and the int8 bytes each would store.
      val maxes = df.groupBy("g").agg(
        max(old(col("v"))).cast("double").as("o"),
        max(Kernels.maxAbsElem(col("v"))).cast("double").as("n"))
      maxes.collect().foreach { r =>
        assert(same(r.get(1), r.get(2)), s"$elem group ${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
      }
      val bytes = df.join(maxes, "g").select(
        col("g"), Kernels.int8(col("v"), col("o")), Kernels.int8(col("v"), col("n")))
      bytes.collect().foreach { r =>
        assert(java.util.Objects.deepEquals(r.get(1), r.get(2)), s"$elem group ${r.get(0)}")
      }
    }
  }
}
