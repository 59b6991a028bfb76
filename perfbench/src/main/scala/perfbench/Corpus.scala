package perfbench

import graft.db.Embedder
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic 1024-dim embeddings: points near low-dimensional
  * patches around random unit centers, the shape real embedding corpora
  * have. A document's vector is a pure function of its generator id (the
  * `text` column), so the same seed gives the same corpus, queries and
  * churn batches on any partitioning.
  */
final case class Corpus(seed: Long, dim: Int = 1024,
                        clusters: Int = 100, intrinsicDim: Int = 8, sigma: Double = 0.5) {

  /** A fresh generator; its cluster geometry is memoized per instance
    * and safe to share between threads.
    */
  def generator(): Long => Array[Float] = {
    val geom = new Array[(Array[Double], Array[Array[Double]])](clusters)
    def clusterGeom(l: Int) = geom.synchronized {
      if (geom(l) == null) {
        val r = new scala.util.Random(seed * 1000003L + l)
        val c = Array.fill(dim)(r.nextGaussian())
        val basis = Array.fill(intrinsicDim)(
          Array.fill(dim)(r.nextGaussian() / math.sqrt(dim.toDouble)))
        geom(l) = (c.map(_ / math.sqrt(c.map(x => x * x).sum)), basis)
      }
      geom(l)
    }
    (id: Long) => {
      val r = new scala.util.Random(scala.util.hashing.byteswap64(id * 7919L + seed))
      val v = new Array[Double](dim)
      val l = java.lang.Long.remainderUnsigned(
        scala.util.hashing.byteswap64(id ^ (seed * 31L)), clusters.toLong).toInt
      val (c, basis) = clusterGeom(l)
      System.arraycopy(c, 0, v, 0, dim)
      var j = 0
      while (j < intrinsicDim) {
        val u = sigma * r.nextGaussian() / math.sqrt(intrinsicDim.toDouble)
        val b = basis(j)
        var i = 0
        while (i < dim) { v(i) += u * b(i); i += 1 }
        j += 1
      }
      var ss = 0.0
      var i = 0
      while (i < dim) { ss += v(i) * v(i); i += 1 }
      val inv = 1.0 / math.sqrt(ss)
      val out = new Array[Float](dim)
      i = 0
      while (i < dim) { out(i) = (v(i) * inv).toFloat; i += 1 }
      out
    }
  }

  def vector(id: Long): Seq[Double] =
    CorpusEmbedder.generatorFor(this)(id).map(_.toDouble).toSeq

  /** Maps the `text` column (a generator id) to its vector. */
  def embedder: Embedder = new CorpusEmbedder(this)

  /** `doc_id` -> generator id rows for addDocuments. */
  def rows(spark: SparkSession, ids: Seq[(Long, Long)], partitions: Int): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id", "gen_id").repartition(partitions)
      .select(col("doc_id"), col("gen_id").cast("string").as("text"))
  }

  /** Documents 0 until n, each generated from its own id. */
  def range(spark: SparkSession, n: Long, partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions)
      .select(col("id").as("doc_id"), col("id").cast("string").as("text"))
}

final class CorpusEmbedder(corpus: Corpus) extends Embedder {
  override def dim: Int = corpus.dim
  override def embed(text: Column): Column = {
    val c = corpus
    val gen = udf { (id: Long) => CorpusEmbedder.generatorFor(c)(id) }
    gen(text.cast("long"))
  }
}

object CorpusEmbedder {
  // One generator per corpus per executor JVM: its cluster geometry is
  // built once, not once per row.
  private val generators =
    new java.util.concurrent.ConcurrentHashMap[Corpus, Long => Array[Float]]()
  def generatorFor(c: Corpus): Long => Array[Float] =
    generators.computeIfAbsent(c, (k: Corpus) => k.generator())
}
