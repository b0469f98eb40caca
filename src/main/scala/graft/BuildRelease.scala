package graft

import graft.engine.ReleaseShape

/** Offline build of a release-scale proof index (the reference's train step,
  * never the measured path). The v3 shape (true release model constants,
  * 536 MB rotation tensor) needs driver heap for the trainer's collected
  * accumulators and the model write: run with `SPARK_DRIVER_MEM=20g`.
  * Serving never does — Bench loads it slim.
  * `wide` stages the 2M × 2048-d (~16 GB) release-width rerank table
  * instead of an index — see [[ReleaseShape.stageWide]].
  * `v4` builds the release DEPLOYMENT magnitude — v3's model constants
  * over the 2M × raw-4096-d corpus with the ~32 GB lookup-layout feature
  * table (see [[ReleaseShape.ensureV4]]).
  * Usage: runMain graft.BuildRelease [v1|v2|v3|v4|wide]
  */
object BuildRelease {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.LocalSession(defaultCpus = 32)
    val t0 = System.nanoTime()
    if (args.headOption.contains("wide")) {
      ReleaseShape.stageWide(spark)
      println(f"[build-release] wide rerank table ready in ${(System.nanoTime() - t0) / 1e9}%.1f s at ${ReleaseShape.wideDir}")
    } else if (args.headOption.contains("v4")) {
      // the release DEPLOYMENT magnitude: 2M × raw 4096-d through v3's
      // model constants + the 32 GB lookup-layout feature table
      ReleaseShape.ensureV4(spark)
      println(f"[build-release] v4 ready in ${(System.nanoTime() - t0) / 1e9}%.1f s at ${ReleaseShape.V4.dir}")
    } else {
      val s = args.headOption.getOrElse("v3") match {
        case "v1" => ReleaseShape.V1
        case "v2" => ReleaseShape.V2
        case _ => ReleaseShape.V3
      }
      ReleaseShape.ensureFor(spark, s)
      ReleaseShape.stageVectorsFor(spark, s, s.dir, s.n)
      println(f"[build-release] ${s.name} ready in ${(System.nanoTime() - t0) / 1e9}%.1f s at ${s.dir}")
    }
    spark.stop()
  }
}
