package perfbench

/** The index and input shape one run uses: the `release_ann` (V1) family's
  * model constants over a corpus sized so that set-up fits a short run. */
final case class Shape(
    n: Int,          // indexed rows
    dim: Int,        // raw vector width
    centers: Int,    // generator cluster centers
    pcaDims: Int,    // PCA front
    v: Int,          // coarse clusters per split (v² cells)
    m: Int,          // fine subquantizers
    s: Int,          // subquantizer clusters
    kmeansIter: Int,
    cellBuckets: Int) {
  def describe: Map[String, Any] = Map("n" -> n, "dim" -> dim, "centers" -> centers,
    "pcaDims" -> pcaDims, "V" -> v, "cells" -> v.toLong * v, "M" -> m, "S" -> s,
    "kmeansIter" -> kmeansIter, "cellBuckets" -> cellBuckets)
}

object Shape {
  /** The V1 model constants (V=256/split, M=8, S=256, PCA-64, 256-d, five
    * k-means iterations). n is shrunk from 200k to 20k so that set-up and
    * the timed window fit one run; the code buckets shrink with it (V1 has
    * ~195 rows per bucket, this ~156). 64 generator centers give clusters
    * of ~312 rows, more than the rerank depth, so recall@10 depends on the
    * ADC ranking. */
  val ReleaseAnnV1 = Shape(n = 20000, dim = 256, centers = 64, pcaDims = 64,
    v = 256, m = 8, s = 256, kmeansIter = 5, cellBuckets = 128)

  // the reference's serve constants (candidate quota, returned, rerank)
  val Quota = 10000
  val TopK = 100
  val RerankK = 100
}

/** One ingest document: a vector and a text under one id. `source` is the
  * row it was planted as a near-duplicate of, if any. */
final case class Doc(id: Long, vec: Array[Float], text: String, source: Option[Long]) {
  def planted: Boolean = source.isDefined
}

/** Seeded generator. Every value is a pure function of (seed, id), so
  * Spark tasks generate the corpus and the plain-Scala oracle regenerates
  * the same rows independently of anything the engine wrote.
  *
  * Vectors: a cluster center (scale 4 per dimension) plus unit Gaussian
  * noise. The centers are fixed across seeds (the workload's geometry);
  * the seed draws every row's noise, the probes, texts and ingest batches,
  * so seeds vary the inputs without varying how much work a query does. Probes: a corpus row plus noise of scale 0.05, so each probe's
  * exact nearest neighbour is its source row. Texts: words drawn from a
  * 50 000-word vocabulary. Planted near-duplicates copy a source's vector
  * (plus noise of scale 0.01) and its text with the last word replaced. */
final case class Corpus(seed: Long, shape: Shape) {
  import Corpus._

  private val dim = shape.dim

  @transient private lazy val centerTable: Array[Array[Float]] =
    Array.tabulate(shape.centers) { c =>
      val r = rng(GeometrySeed, TagCenter, c)
      Array.fill(dim)(r.nextGaussian().toFloat * 4f)
    }

  def row(id: Long): Array[Float] = {
    val c = centerTable(java.lang.Math.floorMod(id, shape.centers.toLong).toInt)
    val r = rng(seed, TagRow, id)
    Array.tabulate(dim)(i => c(i) + r.nextGaussian().toFloat)
  }

  private def jitter(v: Array[Float], tag: Long, key: Long, scale: Float): Array[Float] = {
    val r = rng(seed, tag, key)
    v.map(x => x + r.nextGaussian().toFloat * scale)
  }

  /** Probe `k`: (source row id, vector). */
  def probe(k: Long): (Long, Array[Float]) = {
    val src = java.lang.Math.floorMod(mix(seed, TagProbe, k), shape.n.toLong)
    (src, jitter(row(src), TagProbeNoise, k, 0.05f))
  }

  def text(id: Long): String = {
    val r = rng(seed, TagText, id)
    Array.fill(WordsPerDoc)(word(r)).mkString(" ")
  }

  private def word(r: java.util.Random): String = "w" + r.nextInt(Vocabulary)

  private def nearDupText(src: Long, id: Long): String = {
    val words = text(src).split(' ')
    words(words.length - 1) = word(rng(seed, TagEdit, id))
    words.mkString(" ")
  }

  /** Ingest batch `cycle`: `organic` fresh documents, then `planted`
    * near-duplicates of indexed rows, then `planted` near-duplicates of
    * this batch's own organic documents. Ids continue after the corpus
    * and every planted id is larger than its source's, so the screens'
    * keep-the-smallest rule drops the copy, never the original. */
  def ingestBatch(cycle: Int, organic: Int, planted: Int): Seq[Doc] = {
    val size = organic + 2 * planted
    val base = shape.n.toLong + cycle.toLong * size
    def dup(id: Long, src: Long) =
      Doc(id, jitter(row(src), TagDupNoise, id, 0.01f), nearDupText(src, id), Some(src))
    (0 until size).map { j =>
      val id = base + j
      if (j < organic) Doc(id, row(id), text(id), None)
      else if (j < organic + planted)
        dup(id, java.lang.Math.floorMod(mix(seed, TagCorpusDup, id), shape.n.toLong))
      else
        dup(id, base + java.lang.Math.floorMod(mix(seed, TagBatchDup, id), organic.toLong))
    }
  }
}

object Corpus {
  val WordsPerDoc = 40
  val GeometrySeed = 20260817L
  val Vocabulary = 50000

  private val TagCenter = 1L
  private val TagRow = 2L
  private val TagProbe = 3L
  private val TagProbeNoise = 4L
  private val TagText = 5L
  private val TagEdit = 6L
  private val TagDupNoise = 7L
  private val TagCorpusDup = 8L
  private val TagBatchDup = 9L

  /** SplitMix64 finalizer over (seed, tag, key). */
  def mix(seed: Long, tag: Long, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + tag * 0xBF58476D1CE4E5B9L + key * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, tag: Long, key: Long) = new java.util.Random(mix(seed, tag, key))
}
