package graft

/** Dev tool: run catalog queries at one or more SF dirs, print the
  * plan-build vs execute split and (optionally) the physical plan.
  * Usage: runMain graft.Probe <sfDir[,sfDir..]> <query[,query..]>
  *          [explain|noop|execplan] [conf:key=value ...]
  *   - `conf:key=value` (repeatable): set a session conf before running,
  *     e.g. to A/B a `spark.graft.*` gate forced on vs off.
  *   - `noop`: materialize via a noop write (all columns computed — what
  *     Bench times) instead of count() (which lets Catalyst prune).
  *   - `execplan` (r19): materialize, then print the EXECUTED plan —
  *     the only dump that shows final WholeStageCodegen `*(n)` spans
  *     (formatted explain under AQE prints `isFinalPlan=false` without
  *     codegen ids), the witness VERDICT r18 #4 asks for.
  * Per-layer numbers for the engine's release-family entry points (jobs,
  * stages, executor/GC time, shuffle/broadcast/collect bytes) come from
  * `python3 perfbench/run.py --workload bulk|ingest --seed N --trace 1`;
  * PROBES.md keeps the records of the retired per-experiment probes.
  */
object Probe {
  def main(args0: Array[String]): Unit = {
    val (confArgs, args) = args0.partition(_.startsWith("conf:"))
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val doExplain = args.length > 2 && args(2) == "explain"
    val doNoop = args.length > 2 && args(2) == "noop"
    val doExecPlan = args.length > 2 && args(2) == "execplan"
    val spark = graft.core.LocalSession(defaultCpus = 32)
    confArgs.foreach { a =>
      a.stripPrefix("conf:").split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v); println(s"[probe] conf $k=$v")
        case _ => sys.error(s"bad conf arg (want conf:key=value): $a")
      }
    }
    sfDir.split(",").foreach { dir =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        if (doExplain) df.explain("formatted")
        val tBuilt = System.nanoTime()
        val n =
          if (doNoop) { df.write.format("noop").mode("overwrite").save(); -1L }
          else if (doExecPlan) {
            // execute THIS QueryExecution (not a separate noop write's),
            // so the AQE plan below is the FINAL one with its codegen
            // `*(n)` spans; toRdd.count() finalizes it without collecting
            // the result set to the driver
            df.queryExecution.toRdd.count()
          } else df.count()
        val tDone = System.nanoTime()
        if (doExecPlan) // outside the timed window: stringifying a big plan is not exec time
          println(df.queryExecution.executedPlan.toString.take(30000))
        println(f"[probe] $dir $name rows=$n build=${(tBuilt - t0) / 1e9}%.3f s " +
          f"exec=${(tDone - tBuilt) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
