package graft

import org.apache.spark.sql.functions._

import graft.engine.{LopqIndexStore, ReleaseShape}
import graft.streaming.IndexMaintenance

/** Maintenance-at-release-cadence probe (VERDICT r6 next-round #6): clone
  * the v2/v3 release model into a fresh index dir and stream N micro-batches
  * of the reference's release update size (2048 rows,
  * `hbase_indexer_minimal.py:36`) through the REAL streaming maintenance
  * path — one parquet file per micro-batch, `maxFilesPerTrigger=1`, the
  * slim-encode append (the tensor never driver-resident). Prints per-batch
  * wall-clock from the streaming progress plus the slice-LRU hit rate, so
  * steady-state flatness is measurable at hundreds of batches.
  *
  * Usage: runMain graft.MaintainRelease [v2|v3] [nBatches] [batchRows]
  */
object MaintainRelease {
  def main(args: Array[String]): Unit = {
    val shape = args.headOption.getOrElse("v2") match {
      case "v3" => ReleaseShape.V3
      case _ => ReleaseShape.V2
    }
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(50)
    val batchRows = args.drop(2).headOption.map(_.toInt).getOrElse(2048)
    // recentProgress retains only this many entries (default ~100); at
    // hundreds of batches the first-half/second-half flatness comparison
    // would silently cover just the tail (ADVICE r7)
    val spark = graft.core.LocalSession(defaultCpus = 32,
      "spark.sql.streaming.numRecentProgressUpdates" -> (nBatches + 16).toString)
    import spark.implicits._

    require(LopqIndexStore.fingerprintOk(shape.dir, shape.p, shape.n, shape.pcaDims),
      s"prebuilt ${shape.name} index required (runMain graft.BuildRelease ...)")

    val workDir = shape.dir + "_maintain"
    val srcDir = s"$workDir/incoming"
    val ckpt = s"$workDir/ckpt"
    val wp = new org.apache.hadoop.fs.Path(workDir)
    val wfs = wp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (wfs.exists(wp)) wfs.delete(wp, true)
    LopqIndexStore.cloneEmpty(spark, shape.dir, workDir + "/index")

    // one parquet file per micro-batch, ids disjoint from the corpus
    (0 until nBatches).foreach { b =>
      val base = 10000000L + b.toLong * batchRows
      spark.range(base, base + batchRows, 1, 1)
        .map(id => (id, ReleaseShape.rowVecFor(shape, id).toSeq))
        .toDF("vec_id", "embedding")
        .repartition(1)
        .write.mode("append").parquet(srcDir)
    }

    val req0 = LopqIndexStore.sliceKeysRequested.get()
    val miss0 = LopqIndexStore.sliceKeysMissed.get()
    val t0 = System.nanoTime()
    val source = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = IndexMaintenance.maintain(spark, workDir + "/index", source,
      "vec_id", "embedding", ckpt)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9

    val perBatch = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => p.batchId ->
        Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
    perBatch.foreach { case (b, ms) =>
      println(f"[maintain] batch $b%4d  $ms%6d ms")
    }
    val n = LopqIndexStore.readCodes(spark, workDir + "/index").count()
    val req = LopqIndexStore.sliceKeysRequested.get() - req0
    val miss = LopqIndexStore.sliceKeysMissed.get() - miss0
    val hitRate = if (req == 0) 0.0 else 1.0 - miss.toDouble / req
    val half = perBatch.length / 2
    def med(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    println(f"[maintain] ${shape.name}: ${perBatch.length} batches × $batchRows rows " +
      f"in $wall%.1f s; codes=$n; slice-LRU hit rate ${hitRate * 100}%.1f%% " +
      f"(req=$req miss=$miss); median batch first-half ${med(perBatch.take(half).map(_._2))} ms " +
      f"second-half ${med(perBatch.drop(half).map(_._2))} ms")
    spark.stop()
  }
}
