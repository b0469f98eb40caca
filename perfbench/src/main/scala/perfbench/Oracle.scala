package perfbench

import java.util.stream.IntStream

/** Exact nearest neighbours by brute force in plain Scala, over rows the
  * oracle regenerates itself from the seeded generator. It shares no code
  * with the engine, so an engine bug cannot hide in both. */
final class Oracle(corpus: Corpus) {
  private val n = corpus.shape.n

  private val rows: Array[Array[Float]] = {
    val out = new Array[Array[Float]](n)
    IntStream.range(0, n).parallel().forEach(i => out(i) = corpus.row(i.toLong))
    out
  }

  /** Rows added after the build (ingest survivors), scanned with the base. */
  private val extra = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]

  def add(id: Long, vec: Array[Float]): Unit = extra += (id -> vec)

  /** Exact top-`k` ids for each query, ascending by distance, ties by id. */
  def topK(queries: Seq[Array[Float]], k: Int): Seq[Seq[Long]] = {
    val qs = queries.toArray
    val out = new Array[Seq[Long]](qs.length)
    IntStream.range(0, qs.length).parallel().forEach(i => out(i) = topKOne(qs(i), k))
    out.toSeq
  }

  private def topKOne(q: Array[Float], k: Int): Seq[Long] = {
    // bounded max-heap on (dist, id)
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      })
    def offer(id: Long, x: Array[Float]): Unit = {
      var s = 0.0
      var i = 0
      while (i < x.length) { val d = q(i).toDouble - x(i); s += d * d; i += 1 }
      heap.add(s -> id)
      if (heap.size > k) heap.poll()
    }
    var i = 0
    while (i < n) { offer(i.toLong, rows(i)); i += 1 }
    extra.foreach { case (id, x) => offer(id, x) }
    val sorted = new Array[(Double, Long)](heap.size)
    var j = sorted.length - 1
    while (!heap.isEmpty) { sorted(j) = heap.poll(); j -= 1 }
    sorted.toSeq.map(_._2)
  }
}

object Oracle {
  /** |found ∩ truth| / |truth|. */
  def recall(found: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else found.toSet.intersect(truth.toSet).size.toDouble / truth.size
}
