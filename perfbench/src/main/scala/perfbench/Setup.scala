package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{LopqIndexStore, LopqParams, LopqPca, LopqSearcher, LopqSlimIndex, LopqTrainer}
import graft.ops.{IngestOps, TextSigStore}

/** What set-up leaves for the timed window. `raw` is the staged raw-vector
  * table the rerank reads, kept beside the index directory rather than in
  * it; `textDir` is set when the workload ingests. */
final case class Built(dir: String, raw: String, index: LopqSlimIndex,
    textDir: Option[String], recallTruth: Seq[Seq[Long]], oracle: Oracle)

/** Set-up of one run: corpus generation and staging, PCA and LOPQ training,
  * encode, index build, the ingest side stores and the oracle. Each step
  * is a span named by the layer it calls into. */
object Setup {

  /** V1's training seed, fixed like the geometry. */
  def params(shape: Shape): LopqParams =
    LopqParams(v = shape.v, m = shape.m, subClusters = shape.s, seed = 7L,
      kmeansMaxIter = shape.kmeansIter)

  def run(spark: SparkSession, tr: Tracer, corpus: Corpus, dir: String,
      withText: Boolean, recallProbes: Seq[Array[Float]]): Built = {
    import spark.implicits._
    val shape = corpus.shape
    val raw = s"$dir-raw"

    tr.span("corpus.stage") {
      // the point-lookup layout the rerank expects (small row groups)
      spark.range(0, shape.n.toLong, 1, 8)
        .map(id => (id, corpus.row(id).toSeq))
        .toDF("vec_id", "embedding")
        .write.option("parquet.block.size", (1L << 20).toString)
        .parquet(raw)
    }
    val e = spark.read.parquet(raw)
    val pca = tr.span("LopqPca.train") { LopqPca.train(e, "embedding", shape.pcaDims) }
    val pcaB = spark.sparkContext.broadcast(pca)
    val project = udf((v: Seq[Float]) => pcaB.value(v.toArray).toSeq)
    val projected = e.select(col("vec_id"), project(col("embedding")).as("pvec")).cache()
    val p = params(shape)
    val model = tr.span("LopqTrainer.train") { LopqTrainer.train(projected, "pvec", p) }
    val codes = tr.span("LopqSearcher.encode") {
      val c = LopqSearcher.encode(projected, "vec_id", "pvec", model).cache()
      c.count()
      c
    }
    tr.span("LopqIndexStore.build") {
      LopqIndexStore.build(spark, dir, model, Some(pca), codes, p, shape.n.toLong,
        shape.dim, cellBuckets = shape.cellBuckets)
    }
    codes.unpersist()
    projected.unpersist()
    pcaB.destroy()

    val textDir = if (!withText) None else Some {
      // the screened stream verifies new rows against stored vectors and
      // texts: the staged table is mounted as the vector side-store's base,
      // and the text store is seeded self-contained
      IngestOps.mountVectorsBase(spark, dir, raw, "vec_id", "embedding")
      graft.functions.GraftFunctions.register(spark) // the text screen's SQL functions
      val td = s"$dir-text"
      val texts = spark.range(0, shape.n.toLong, 1, 8)
        .map(id => (id, corpus.text(id))).toDF("doc_id", "text")
      tr.span("TextSigStore.build") { TextSigStore.build(spark, td, texts, storeTexts = true) }
      td
    }

    val index = tr.span("LopqIndexStore.loadSlim") { LopqIndexStore.loadSlim(spark, dir).get }
    val (oracle, truth) = tr.span("oracle") {
      val o = new Oracle(corpus)
      (o, o.topK(recallProbes, 10))
    }
    Built(dir, raw, index, textDir, truth, oracle)
  }

  /** Raw vectors the serve and bulk reranks read. */
  def vectors(spark: SparkSession, b: Built): DataFrame = spark.read.parquet(b.raw)

  /** On-disk bytes of the index and its side stores: the engine-written
    * index directory, plus, when the workload ingests, the text store and
    * the raw table the vector side-store mounts as its base. Without
    * ingest the raw table is the caller's own and is not counted. */
  def storedBytes(b: Built): Long =
    if (b.textDir.isEmpty) bytesUnder(b.dir) else bytesUnder(Seq(b.dir, b.raw) ++ b.textDir: _*)

  /** Bytes on disk under `paths`. */
  def bytesUnder(paths: String*): Long = {
    def size(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.iterator.map(size).sum).getOrElse(0L)
    paths.map(p => size(new java.io.File(p))).sum
  }

  /** Data files in the index's code and count delta directories. */
  def deltaFiles(dir: String): Int =
    Seq("codes_delta", "cell_counts").map { d =>
      Option(new java.io.File(dir, d).listFiles).map(_.count(_.getName.endsWith(".parquet")))
        .getOrElse(0)
    }.sum
}
