package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.DiskStats

/** One benchmark run: `--workload serve|bulk|ingest --seed N --seconds S
  * --trace 0|1 --work DIR [--stamp key=value ...]`. Prints a summary, then
  * one JSON line with the end-to-end metrics (untraced) or the per-layer
  * metrics (traced). Exits 1 if any output check failed. */
object Main {

  val WorkloadNames = Seq("serve", "bulk", "ingest")
  val RecallProbes = 50
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = opts("workload")
    require(WorkloadNames.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val indexRoot = sys.env.getOrElse("GRAFT_INDEX_ROOT",
      sys.error("GRAFT_INDEX_ROOT must name the benchmark's own index root"))

    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val tStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tStart) / 1e9

    val tr = new Tracer(spark, traced)
    val corpus = Corpus(seed, Shape.ReleaseAnnV1)
    val recallVecs = (0 until RecallProbes).map(k => corpus.probe(k.toLong)._2)

    // set-up: every engine call before the first op, once per run (a cold
    // set-up is some 180 Spark jobs, 20-30 s on 4 cores, so repeating it
    // would not fit the run budget)
    val tSetup = System.nanoTime()
    val built = tr.op(-1000L, "setup", trace = true) {
      Setup.run(spark, tr, corpus, s"$indexRoot/index", workload == "ingest", recallVecs)
    }
    val setupS = (System.nanoTime() - tSetup) / 1e9
    val setupBytes = Setup.storedBytes(built)

    // the timed window, stamped with the machine-noise channels
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    heapPools.foreach(_.resetPeakUsage())
    val (busy0, ioSteal0) = DiskStats.machineCpuJiffies()
    val self0 = DiskStats.selfCpuJiffies()
    val read0 = DiskStats.readBytes()
    val ctx = Ctx(spark, tr, corpus, built, seconds, RecallProbes)
    val out = workload match {
      case "serve" => Workloads.serve(ctx)
      case "bulk" => Workloads.bulk(ctx)
      case "ingest" => Workloads.ingest(ctx, s"$work/ingest")
    }
    val windowEndS = (System.nanoTime() - tStart) / 1e9
    val (busy1, ioSteal1) = DiskStats.machineCpuJiffies()
    val self1 = DiskStats.selfCpuJiffies()
    val read1 = DiskStats.readBytes()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val heapAfterGcMb = heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val persistedGrowth = spark.sparkContext.getPersistentRDDs.size - persistedBefore
    tr.quiesce()

    val storedBytes = if (workload == "ingest") Setup.storedBytes(built) else setupBytes
    val items = out.indexed.getOrElse(corpus.shape.n.toLong)
    val jiffy = 100.0
    val noise = Map(
      "iowait_steal_s" -> (ioSteal1 - ioSteal0) / jiffy,
      "foreign_cpu_s" -> math.max(0L, (busy1 - busy0) - (self1 - self0)) / jiffy,
      "disk_read_bytes" -> (read1 - read0),
      "load_avg_1m" -> DiskStats.loadAvg1())

    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "latency_p50_s" -> (Stats.median(out.latencies.toSeq), "s"),
      "throughput_per_s" -> (out.items / out.windowS, "1/s"),
      "read_p50_s" -> (Stats.median(out.reads.toSeq), "s"),
      "recall_at_10" -> (mean(out.recalls.toSeq), "ratio"),
      "stored_bytes_per_item" -> (storedBytes.toDouble / items, "B"))
    // workload-specific end-to-end metrics, printed but not gated: the gate
    // needs every metric on every workload, and failed_ratio is 0 when sound
    val specific = mutable.LinkedHashMap.empty[String, (Double, String)]
    val latTail = Stats.tail(out.latencies.toSeq)
    val readTail = Stats.tail(out.reads.toSeq)
    if (workload == "serve") latTail.foreach(t => specific("latency_tail_s") = (t._2, "s"))
    if (workload == "ingest") {
      readTail.foreach(t => specific("read_tail_s") = (t._2, "s"))
      specific("dup_recall") = (out.plantedFlagged.toDouble / out.planted, "ratio")
    }
    specific("failed_ratio") = (out.failed.toDouble / math.max(1L, out.attempted), "ratio")

    val perLayer = if (traced) layerMetrics(tr, out, heapPeakMb,
      heapAfterGcMb, persistedGrowth, built)
      else mutable.LinkedHashMap.empty[String, (Double, String)]

    val runDir = new java.io.File(work)
    if (traced) tr.write(new java.io.File(runDir, "spans.jsonl"))
    val rollup = if (traced) tr.rollup() else Nil

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "stamp" -> (opts.collect { case (k, v) if k.startsWith("stamp.") => k.stripPrefix("stamp.") -> v } ++
        Map("nproc" -> Runtime.getRuntime.availableProcessors,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "spark" -> spark.version, "cores" -> Cores)),
      "shape" -> corpus.shape.describe,
      "noise" -> noise,
      "raw_vectors_bytes" -> Setup.bytesUnder(built.raw),
      "session_s" -> sessionS,
      "timeline_s" -> Map("jvm_start" -> jvmStartS, "window_end" -> windowEndS,
        "record" -> (System.nanoTime() - tStart) / 1e9),
      "unit" -> out.unitName,
      "ops" -> Map("timed_untraced" -> out.latencies.size, "timed_traced" -> out.tracedLatencies.size,
        "reads" -> out.reads.size, "window_s" -> out.windowS, "items" -> out.items),
      "latencies_s" -> out.latencies.toSeq, "traced_latencies_s" -> out.tracedLatencies.toSeq,
      "reads_s" -> out.reads.toSeq,
      "latency_tail" -> latTail.map(t => Map("percentile" -> t._1, "value_s" -> t._2,
        "samples" -> out.latencies.size)),
      "read_tail" -> readTail.map(t => Map("percentile" -> t._1, "value_s" -> t._2,
        "samples" -> out.reads.size)),
      "end_to_end" -> (endToEnd ++ specific).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "self_time" -> rollup.map { case (n, c, t, s) => Map("span" -> n, "count" -> c, "total_s" -> t, "self_s" -> s) },
      "attempted" -> out.attempted, "failed" -> out.failed, "failures" -> out.failures.toSeq)
    val recordFile = new java.io.File(runDir, "record.json")
    val w = new java.io.PrintWriter(recordFile, "UTF-8")
    try w.println(Stats.json(record)) finally w.close()

    tr.close()
    spark.stop()

    // summary lines, then the result line
    println(f"perfbench $workload seed=$seed traced=$traced shape=${corpus.shape.describe}")
    println(f"perfbench noise: ${Stats.json(noise)}")
    (endToEnd ++ specific).foreach { case (k, (v, u)) => println(f"perfbench end_to_end $k%-22s $v%.6g $u") }
    latTail.foreach(t => println(s"perfbench latency_tail is p${t._1} of ${out.latencies.size} samples"))
    readTail.foreach(t => println(s"perfbench read_tail is p${t._1} of ${out.reads.size} samples"))
    perLayer.foreach { case (k, (v, u)) => println(f"perfbench per_layer $k%-36s $v%.6g $u") }
    rollup.take(25).foreach { case (n, c, t, s) =>
      println(f"perfbench self_time $n%-34s count=$c%5d total_s=$t%.4f self_s=$s%.4f")
    }
    out.failures.foreach(f => println(s"perfbench FAILED CHECK: $f"))
    println(s"perfbench record: $recordFile")

    val correct = out.failed == 0 && out.attempted > 0
    val metrics = (if (traced) perLayer else endToEnd)
      .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println(Stats.json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def heapPools =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans).asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** The traced run's per-layer metrics. Per-op values are medians over the
    * traced ops that exercised the layer; a layer the workload never calls
    * reads 0. */
  private def layerMetrics(tr: Tracer, out: Outcome, heapPeakMb: Double,
      heapAfterGcMb: Double, persistedGrowth: Int,
      built: Built): scala.collection.Map[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def spanMed(name: String, tracedOnly: Boolean): Double =
      med(tr.spansNamed(name).filter(s => !tracedOnly || tr.isTraced(s.op)).map(_.dur / 1e9))

    Seq("LopqPca.train", "LopqTrainer.train", "LopqSearcher.encode", "LopqIndexStore.build",
      "TextSigStore.build").foreach(n => m(s"${n}_s") = (spanMed(n, tracedOnly = false), "s"))
    Seq("LopqSearcher.searchSlim.plan", "LopqSearcher.searchSlim.exec",
      "LopqSearcher.annJoin.plan", "LopqSearcher.annJoin.exec")
      .foreach(n => m(s"${n}_s") = (spanMed(n, tracedOnly = true), "s"))
    m("LopqIndexStore.loadSlim_s") = (spanMed("LopqIndexStore.loadSlim", tracedOnly = false), "s")
    m("LopqIndexStore.store_bytes") = (Setup.storedBytes(built).toDouble, "B")
    m("LopqIndexStore.delta_files") = (Setup.deltaFiles(built.dir).toDouble, "count")

    Seq("ScreenedIngest", "ScreenedTextIngest").foreach { layer =>
      val batches = tr.spansNamed(s"$layer.batch").filter(s => tr.isTraced(s.op))
      val prog = batches.map(b => tr.progressOf(b.id).filter(_._3 > 0))
      m(s"$layer.batch_s") = (med(batches.map(_.dur / 1e9)), "s")
      m(s"$layer.addBatch_s") = (med(prog.map(_.map(_._1).sum)), "s")
      if (layer == "ScreenedIngest")
        m(s"$layer.trigger_overhead_s") = (med(prog.map(_.map(p => p._2 - p._1).sum)), "s")
      m(s"$layer.appended_ratio") =
        (med(tr.rootSpans("ingest.cycle").filter(s => tr.isTraced(s.op))
          .flatMap(s => tr.valuesOf(s.op).get(s"$layer.appended_ratio"))), "ratio")
    }

    val unitOp = Map("queries" -> "serve.query", "probes" -> "bulk.batch",
      "documents" -> "ingest.cycle")(out.unitName)
    val unitOps = tr.rootSpans(unitOp).map(_.op).filter(tr.isTraced)
    val spark = unitOps.map(op => tr.sparkOf(op, Cores))
    val units = Map("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count")
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
      "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.slot_busy_ratio",
      "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.input_bytes",
      "spark.result_bytes", "spark.spill_bytes").foreach { k =>
      val unit = units.getOrElse(k,
        if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "B" else "ratio")
      m(k) = (med(spark.map(_(k))), unit)
    }
    m("spark.persisted_rdds_growth") = (persistedGrowth.toDouble, "count")
    // the per-query job floor: Spark jobs per traced single-probe search
    val searches = (tr.rootSpans("serve.query") ++ tr.rootSpans("bulk.read") ++
      tr.rootSpans("ingest.read")).map(_.op).filter(tr.isTraced)
    m("LopqSearcher.searchSlim.jobs") =
      (med(searches.map(op => tr.sparkOf(op, Cores)("spark.jobs"))), "count")

    val planned = (tr.rootSpans("serve.query") ++ tr.rootSpans("bulk.batch") ++
      tr.rootSpans("ingest.read")).map(_.op).filter(tr.isTraced).map(tr.valuesOf)
      .filter(_.contains("plan.exchanges"))
    Seq("plan.exchanges", "plan.broadcast_exchanges", "plan.codegen_subtrees",
      "plan.non_codegen_ops").foreach(k => m(k) = (med(planned.map(_(k))), "count"))

    m("jvm.heap_peak_mb") = (heapPeakMb, "MB")
    m("jvm.heap_after_gc_mb") = (heapAfterGcMb, "MB")
    m("trace.overhead_ratio") =
      (if (out.latencies.isEmpty || out.tracedLatencies.isEmpty) 0.0
       else Stats.median(out.tracedLatencies.toSeq) / Stats.median(out.latencies.toSeq), "ratio")
    m
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      val v = if (i + 1 < args.length) args(i + 1) else sys.error(s"missing value for ${args(i)}")
      if (k == "stamp") {
        val (sk, sv) = v.span(_ != '=')
        m(s"stamp.$sk") = sv.drop(1)
      } else m(k) = v
      i += 2
    }
    Seq("workload", "seed", "seconds", "trace", "work")
      .foreach(k => require(m.contains(k), s"missing --$k"))
    m.toMap
  }
}
