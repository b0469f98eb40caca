package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.engine.{AnnIndexes, LopqIndexStore, LopqSearcher, LopqSlimIndex}
import graft.ops.{IngestOps, TextSigStore}
import graft.streaming.{ScreenedIngest, ScreenedTextIngest}

/** What a workload measured and checked. Latencies are seconds. */
final class Outcome(val unitName: String) {
  /** Unit-op latencies of untraced ops (end-to-end) and traced ops. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  val tracedLatencies = mutable.ArrayBuffer.empty[Double]
  /** Single-probe searches the workload issued, untraced. */
  val reads = mutable.ArrayBuffer.empty[Double]
  /** Items completed (queries, probes or documents) over `windowS`. */
  var items = 0L
  var windowS = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val recalls = mutable.ArrayBuffer.empty[Double]
  var planted = 0L
  var plantedFlagged = 0L
  /** Items indexed when the run ends, when the workload adds any. */
  var indexed: Option[Long] = None

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  /** Runs one timed op; an exception or a failed check counts against
    * `failed_ratio`. Returns the op's latency in seconds, or None. */
  def attempt(what: String)(body: => Option[String]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val problem = try body catch {
      case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val dt = (System.nanoTime() - t0) / 1e9
    problem match {
      case Some(p) => fail(s"$what: $p"); None
      case None => Some(dt)
    }
  }
}

/** A timed window. Work run through `aside` (correctness checks, and
  * bulk's per-query reads) is kept out of it. */
final class Window(seconds: Double) {
  private val t0 = System.nanoTime()
  private var asideNs = 0L
  def aside[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally asideNs += System.nanoTime() - t
  }
  def elapsed: Double = (System.nanoTime() - t0 - asideNs) / 1e9
  def open: Boolean = elapsed < seconds
}

final case class Ctx(spark: SparkSession, tr: Tracer, corpus: Corpus, built: Built,
    seconds: Double, recallProbes: Int)

object Workloads {
  import Shape.{Quota, RerankK, TopK}

  /** Unit ops run before the window opens: JIT, codegen caches and the
    * handle's lazy broadcasts settle before anything is timed. */
  val WarmupOps = 1
  /** Fewest timed unit ops of bulk and ingest, even past the window. */
  val MinOps = 2

  /** Checks a ranked single-probe result `(id, dist)`: full length,
    * nondecreasing distance, and the probe's source row first. */
  private def checkRanked(ids: Seq[Long], dists: Seq[Double], src: Long,
      want: Int): Option[String] =
    if (ids.length != want) Some(s"${ids.length} results, want $want")
    else if (ids.distinct.length != ids.length) Some("duplicate ids in the result")
    else if (dists.zip(dists.drop(1)).exists { case (a, b) => b < a }) Some("not ranked by distance")
    else if (ids.head != src) Some(s"top-1 is ${ids.head}, want the probe's source $src")
    else None

  private def search(ctx: Ctx, ann: graft.engine.AnnIndex, q: Array[Float]): Array[Row] = {
    val df = ctx.tr.span("LopqSearcher.searchSlim.plan") { ann.search(q, TopK) }
    val rows = ctx.tr.span("LopqSearcher.searchSlim.exec") { df.collect() }
    ctx.tr.planShape(df)
    rows
  }

  private def rankedOf(rows: Array[Row]): (Seq[Long], Seq[Double]) =
    (rows.map(_.getLong(0)).toSeq, rows.map(_.getDouble(1)).toSeq)

  // ---------------------------------------------------------------- serve

  /** Closed loop, one caller: each op is one probe through the slim LOPQ
    * searcher plugin, result fully materialized. The first
    * `recallProbes` ops are the recall sample, so the loop runs at least
    * that many ops even past the window. */
  def serve(ctx: Ctx): Outcome = {
    val out = new Outcome("queries")
    val ann = AnnIndexes.lopqSlim(ctx.built.index, Setup.vectors(ctx.spark, ctx.built),
      "vec_id", "embedding", Quota, RerankK)
    def one(k: Int, timed: Boolean, w: Window): Unit = {
      val (src, q) = ctx.corpus.probe(k.toLong)
      val traceThis = k % 2 == 1
      var rows: Array[Row] = null
      val lat = out.attempt(s"query $k") {
        rows = ctx.tr.op(k, "serve.query", traceThis) { search(ctx, ann, q) }
        val (ids, dists) = rankedOf(rows)
        checkRanked(ids, dists, src, TopK)
      }
      if (k >= 0 && k < ctx.recallProbes && rows != null)
        out.recalls += w.aside(Oracle.recall(rankedOf(rows)._1.take(10),
          ctx.built.recallTruth(k)))
      if (timed) lat.foreach { dt =>
        out.items += 1
        if (ctx.tr.isTraced(k)) out.tracedLatencies += dt
        else { out.latencies += dt; out.reads += dt }
      }
    }
    val warm = new Window(0)
    (0 until WarmupOps).foreach(i => one(-1 - i, timed = false, warm))
    val w = new Window(ctx.seconds)
    var k = 0
    while (w.open || k < ctx.recallProbes) { one(k, timed = true, w); k += 1 }
    out.windowS = w.elapsed
    out
  }

  // ----------------------------------------------------------------- bulk

  val BulkBatch = 1000
  val BulkReadsPerBatch = 8

  /** Batches of probes through `LopqSearcher.annJoin`, all against the one
    * slim handle set-up loaded. After each batch, sampled probes go through
    * the per-query searcher: those are the workload's reads and must match
    * the batch result exactly (the annJoin ≡ per-query search contract). */
  def bulk(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val out = new Outcome("probes")
    val vectors = Setup.vectors(spark, ctx.built)
    val ann = AnnIndexes.lopqSlim(ctx.built.index, vectors, "vec_id", "embedding", Quota, RerankK)
    val corpus = ctx.corpus
    var readOp = 1000000L

    def batch(j: Int, timed: Boolean, w: Window): Unit = {
      val size = BulkBatch
      val from = j.toLong * BulkBatch
      val queries = spark.range(from, from + size, 1, 4)
        .map(k => (k, corpus.probe(k)._2.toSeq)).toDF("q_id", "q_vec")
      val traceThis = j % 2 == 1
      var rows: Array[Row] = null
      val lat = out.attempt(s"batch $j") {
        rows = ctx.tr.op(j, "bulk.batch", traceThis) {
          val df = ctx.tr.span("LopqSearcher.annJoin.plan") {
            LopqSearcher.annJoin(ctx.built.index, queries, "q_id", "q_vec", vectors,
              "vec_id", "embedding", Quota, TopK, RerankK)
              .select("q_id", "rank", "id", "exact_dist")
          }
          val r = ctx.tr.span("LopqSearcher.annJoin.exec") { df.collect() }
          ctx.tr.planShape(df)
          r
        }
        None
      }
      val byQ: Map[Long, Array[Row]] = if (lat.isEmpty) Map.empty else w.aside {
        rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getLong(1)) }
      }
      if (lat.isDefined) w.aside {
        (from until from + size).iterator.flatMap { k =>
          val rs = byQ.getOrElse(k, Array.empty[Row])
          checkRanked(rs.map(_.getLong(2)).toSeq, rs.map(_.getDouble(3)).toSeq,
            corpus.probe(k)._1, TopK).map(p => s"batch $j, probe $k: $p")
        }.nextOption().foreach(out.fail)
      }
      if (timed) lat.foreach { dt =>
        out.items += size
        if (ctx.tr.isTraced(j)) out.tracedLatencies += dt else out.latencies += dt
      }
      if (lat.isDefined) w.aside {
        (math.max(from, 0L) until math.min(from + size, ctx.recallProbes.toLong)).foreach { k =>
          out.recalls += Oracle.recall(byQ(k).take(10).map(_.getLong(2)).toSeq,
            ctx.built.recallTruth(k.toInt))
        }
      }
      // reads: sampled probes of this batch through the per-query path,
      // kept out of the window so that throughput is annJoin's alone
      w.aside((0 until BulkReadsPerBatch).foreach { i =>
        val k = from + java.lang.Math.floorMod(
          Corpus.mix(corpus.seed, 11L, j.toLong * BulkReadsPerBatch + i), size.toLong)
        readOp += 1
        val op = readOp
        val rl = out.attempt(s"read of probe $k") {
          val rows = ctx.tr.op(op, "bulk.read", traceThis) { search(ctx, ann, corpus.probe(k)._2) }
          val batchRows = byQ.getOrElse(k, Array.empty[Row])
          val (ids, dists) = rankedOf(rows)
          if (ids != batchRows.map(_.getLong(2)).toSeq ||
              dists != batchRows.map(_.getDouble(3)).toSeq)
            Some(s"probe $k: per-query search differs from its annJoin row set")
          else None
        }
        if (timed && !ctx.tr.isTraced(op)) rl.foreach(out.reads += _)
      })
    }
    val warm = new Window(0)
    (0 until WarmupOps).foreach(i => batch(-1 - i, timed = false, warm))
    val w = new Window(ctx.seconds)
    var j = 0
    while (w.open || j < MinOps) { batch(j, timed = true, w); j += 1 }
    out.windowS = w.elapsed
    out
  }

  // --------------------------------------------------------------- ingest

  /** Documents per update cycle: the reference indexer's default update
    * batch (`hbase_indexer_minimal.py:36`, 1000; 2048 in the release conf). */
  val IngestBatch = 1000
  /** Planted near-duplicates per cycle, of indexed rows and again of the
    * batch's own rows: 10 % of the batch in all. The reference states no
    * duplicate rate; this share is a choice, not a measured one. */
  val IngestPlanted = 50
  val IngestOrganic = IngestBatch - 2 * IngestPlanted
  val IngestReadsPerCycle = 12
  /** Cosine at or above which the vector screen flags a pair: planted
    * copies sit above 0.999, distinct rows of one generator cluster
    * near 0.94. */
  val SimThreshold = 0.99

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private val textSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Update cycles: land a seeded batch (vectors and texts), run both
    * screened ingest streams to completion, reload the handle, then issue
    * reads against it. */
  def ingest(ctx: Ctx, work: String): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val out = new Outcome("documents")
    val corpus = ctx.corpus
    val dir = ctx.built.dir
    val textDir = ctx.built.textDir.get
    val srcVec = s"$work/land/vectors"
    val srcText = s"$work/land/texts"
    var handle: LopqSlimIndex = ctx.built.index
    var vectors: DataFrame = IngestOps.vectorStore(spark, dir, "vec_id", "embedding")
    var indexed = corpus.shape.n.toLong
    var readOp = 1000000L

    /** Runs the started streams to completion side by side; each gets a
      * span from its start to the moment it is seen terminated. */
    def screens(queries: Seq[(String, org.apache.spark.sql.streaming.StreamingQuery)]): Unit = {
      val t0 = ctx.tr.clock()
      val ended = mutable.Map.empty[String, Long]
      while (ended.size < queries.size) {
        queries.foreach { case (name, q) =>
          if (!ended.contains(name) && q.awaitTermination(2)) ended(name) = ctx.tr.clock()
        }
      }
      queries.foreach { case (name, q) =>
        val id = ctx.tr.record(name, t0, ended(name))
        ctx.tr.alias(q.runId.toString, id)
        if (!q.recentProgress.exists(_.numInputRows > 0))
          throw new IllegalStateException(s"$name processed no rows")
        if (ctx.tr.on) ctx.tr.awaitProgress(id, q.recentProgress.length)
      }
    }

    def cycle(c: Int, timed: Boolean, w: Window): Unit = {
      val docs = corpus.ingestBatch(c, IngestOrganic, IngestPlanted)
      val batchIds = docs.map(_.id)
      val traceThis = c % 2 == 1
      val lat = out.attempt(s"cycle $c") {
        ctx.tr.op(c, "ingest.cycle", traceThis) {
          ctx.tr.span("ingest.land") {
            docs.map(d => (d.id, d.vec.toSeq)).toDF("vec_id", "embedding")
              .coalesce(1).write.mode("append").parquet(srcVec)
            docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
              .coalesce(1).write.mode("append").parquet(srcText)
          }
          // the two screens are independent streams over separate stores
          screens(Seq(
            "ScreenedIngest.batch" -> ScreenedIngest.maintain(spark, dir,
              spark.readStream.schema(vecSchema).option("maxFilesPerTrigger", 1).parquet(srcVec),
              "vec_id", "embedding", s"$work/ckpt/vectors", simThreshold = SimThreshold,
              trigger = Trigger.AvailableNow()),
            "ScreenedTextIngest.batch" -> ScreenedTextIngest.maintain(spark, textDir,
              spark.readStream.schema(textSchema).option("maxFilesPerTrigger", 1).parquet(srcText),
              s"$work/ckpt/texts", trigger = Trigger.AvailableNow())))
          ctx.tr.span("LopqIndexStore.loadSlim") {
            handle = LopqIndexStore.loadSlim(spark, dir).get
            vectors = IngestOps.vectorStore(spark, dir, "vec_id", "embedding")
          }
        }
        None
      }
      if (lat.isEmpty) return
      if (timed) {
        out.items += docs.size
        if (ctx.tr.isTraced(c)) out.tracedLatencies += lat.get else out.latencies += lat.get
      }

      // reads against the reloaded handle, issued as a caller would right
      // after the update: half look up fresh organic documents (which must
      // come back first), half sample the corpus
      val ann = AnnIndexes.lopqSlim(handle, vectors, "vec_id", "embedding", Quota, RerankK)
      val fresh = docs.filterNot(_.planted)
      (0 until (if (timed) IngestReadsPerCycle else 0)).foreach { i =>
        readOp += 1
        val op = readOp
        val (src, q) =
          if (i < IngestReadsPerCycle / 2) {
            val d = fresh(i * fresh.size / (IngestReadsPerCycle / 2))
            (d.id, d.vec)
          } else corpus.probe(500000L + op)
        val rl = out.attempt(s"read after cycle $c") {
          val rows = ctx.tr.op(op, "ingest.read", traceThis) { search(ctx, ann, q) }
          val (ids, dists) = rankedOf(rows)
          checkRanked(ids, dists, src, TopK)
        }
        if (timed && !ctx.tr.isTraced(op)) rl.foreach(out.reads += _)
      }

      // planted-duplicate truth: which batch rows each store kept
      val (vecKept, textKept) = w.aside {
        val v = IngestOps.vectorStore(spark, dir, "vec_id", "embedding")
          .where(col("vec_id").isin(batchIds: _*)).select("vec_id").as[Long].collect().toSet
        val t = TextSigStore.textStore(spark, textDir)
          .where(col("doc_id").isin(batchIds: _*)).select("doc_id").as[Long].collect().toSet
        (v, t)
      }
      val organicLost = fresh.filterNot(d => vecKept(d.id) && textKept(d.id))
      if (organicLost.nonEmpty)
        out.fail(s"cycle $c: organic documents flagged as duplicates: ${organicLost.map(_.id).take(5)}")
      val planted = docs.filter(_.planted)
      out.planted += 2L * planted.size
      out.plantedFlagged += planted.count(d => !vecKept(d.id)) + planted.count(d => !textKept(d.id))
      ctx.tr.add(c, "ScreenedIngest.appended_ratio", vecKept.size.toDouble / docs.size)
      ctx.tr.add(c, "ScreenedTextIngest.appended_ratio", textKept.size.toDouble / docs.size)
      val survivors = docs.filter(d => vecKept(d.id))
      survivors.foreach(d => ctx.built.oracle.add(d.id, d.vec))
      indexed += survivors.size

      // read-your-writes: every survivor is the top-1 answer for its own
      // vector. The recall sample rides the same annJoin (the per-query
      // path's bit-identical twin, which bulk checks); the last cycle's
      // recall, against the oracle over the corpus plus every survivor, is
      // the run's
      w.aside {
        val recallVecs = (0 until ctx.recallProbes).map(k => corpus.probe(k.toLong)._2)
        val probes = (survivors.map(d => (d.id, d.vec.toSeq)) ++
          recallVecs.zipWithIndex.map { case (v, k) => (k.toLong, v.toSeq) }).toDF("q_id", "q_vec")
        val top10 = LopqSearcher.annJoin(handle, probes, "q_id", "q_vec", vectors,
          "vec_id", "embedding", Quota, 10, RerankK)
          .select("q_id", "rank", "id").as[(Long, Long, Long)].collect()
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
        val missing = survivors.filterNot(d => top10.get(d.id).exists(_.headOption.contains(d.id)))
        if (missing.nonEmpty)
          out.fail(s"cycle $c: survivors not found as their own top-1: ${missing.map(_.id).take(5)}")
        out.recalls.clear()
        ctx.built.oracle.topK(recallVecs, 10).zipWithIndex.foreach { case (t, k) =>
          out.recalls += Oracle.recall(top10.getOrElse(k.toLong, Nil), t)
        }
      }
    }

    val warm = new Window(0)
    (0 until WarmupOps).foreach(i => cycle(i, timed = false, warm))
    val w = new Window(ctx.seconds)
    var c = WarmupOps
    while (w.open || c < WarmupOps + MinOps) { cycle(c, timed = true, w); c += 1 }
    out.windowS = w.elapsed
    out.indexed = Some(indexed)
    out
  }
}
