package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. The root span of an op has `parent` 0; times are
  * epoch nanoseconds so driver spans and Spark's job times share a clock. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans around every layer call the benchmark makes, plus (when `traced`)
  * the Spark jobs and stages each call caused.
  *
  * Attribution is from the outside: each span sets a Spark job group on the
  * calling thread, and a [[SparkListener]] the benchmark installs records
  * each job's and stage's group. Streaming micro-batches run under the
  * query's run id as their group, which [[alias]] maps to the span that
  * started the query. Everything stays in memory until [[write]].
  *
  * Per op, `on` decides whether job groups, plan walks and the Spark
  * rollup apply; a traced run alternates it so the same run measures its
  * own tracing overhead. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0EpochNs = System.currentTimeMillis() * 1000000L
  private def now(): Long = t0EpochNs + (System.nanoTime() - t0Ns)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  private var currentOp = 0L
  private val aliases = mutable.Map.empty[String, Long]
  private val tracedOps = mutable.LinkedHashSet.empty[Long]
  private val opValues = mutable.Map.empty[Long, mutable.Map[String, Double]]

  /** Whether the op being run is traced. */
  var on = false

  private val jobs = new JobListener
  private val streams = new ProgressListener
  if (traced) {
    sc.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  private def group(id: Long) = s"perfbench-$id"

  /** Run `body` as the root span of op `op`. */
  def op[T](op: Long, name: String, trace: Boolean)(body: => T): T = {
    currentOp = op
    on = traced && trace
    if (on) tracedOps += op
    try span(name)(body) finally on = false
  }

  /** Run `body` as a child span of whatever span is open. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    if (on) sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val start = now()
    try body
    finally {
      val end = now()
      stack.pop()
      spans += Span(id, parent, currentOp, name, start, end)
      if (on) stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Id of the innermost open span. */
  def openSpan: Long = stack.headOption.getOrElse(0L)

  /** Epoch nanoseconds on the span clock. */
  def clock(): Long = now()

  /** Records an already-finished child of the open span (for work that
    * overlaps its siblings, like concurrent streams); returns its id. */
  def record(name: String, start: Long, end: Long): Long = {
    val id = nextId
    nextId += 1
    spans += Span(id, openSpan, currentOp, name, start, end)
    id
  }

  /** Attribute jobs run under job group `g` (a streaming run id) to `spanId`. */
  def alias(g: String, spanId: Long): Unit = aliases(g) = spanId

  /** Add `v` to the op-level value `key` of op `op`. */
  def add(op: Long, key: String, v: Double): Unit = {
    val m = opValues.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  private def add(key: String, v: Double): Unit = add(currentOp, key, v)

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def rootSpans(name: String): Seq[Span] =
    spans.filter(s => s.parent == 0 && s.name == name).toSeq

  def isTraced(op: Long): Boolean = tracedOps.contains(op)

  /** Counts the executed plan's shape into the current op's values:
    * exchanges, broadcast exchanges, whole-stage-codegen subtrees, and
    * operators that run outside any codegen subtree. */
  def planShape(df: DataFrame): Unit = if (on) {
    var ex, bex, wsc, loose = 0
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
        case q: QueryStageExec => walk(q.plan, inCodegen)
        case r: ReusedExchangeExec =>
          if (r.child.isInstanceOf[BroadcastExchangeLike]) bex += 1 else ex += 1
        case e: ShuffleExchangeLike => ex += 1; e.children.foreach(walk(_, false))
        case b: BroadcastExchangeLike => bex += 1; b.children.foreach(walk(_, false))
        case w: WholeStageCodegenExec => wsc += 1; walk(w.child, true)
        case i: InputAdapter => walk(i.child, false)
        case other =>
          if (!inCodegen) loose += 1
          other.children.foreach(walk(_, inCodegen))
      }
      p.subqueries.foreach(walk(_, false))
    }
    walk(df.queryExecution.executedPlan, false)
    add("plan.exchanges", ex)
    add("plan.broadcast_exchanges", bex)
    add("plan.codegen_subtrees", wsc)
    add("plan.non_codegen_ops", loose)
  }

  // ------------------------------------------------------------ rollup

  /** Waits (bounded) until every job and stage the listener saw started has
    * also reported its end; the listener bus delivers asynchronously. */
  def quiesce(timeoutMs: Long = 15000L): Unit = if (traced) {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!jobs.quiet && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  private def resolve(g: String): Option[Long] =
    if (g == null) None
    else if (g.startsWith("perfbench-")) g.stripPrefix("perfbench-").toLongOption
    else aliases.get(g)

  /** Child spans for Spark jobs and streaming micro-batches. */
  private lazy val derived: Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    var id = nextId + 1000000L
    def mk(parent: Long, name: String, start: Long, end: Long): Option[Span] =
      byId.get(parent).map { p => id += 1; Span(id, parent, p.op, name, start, end) }
    val jobSpans = jobs.jobs.values.asScala.toSeq.sortBy(_.jobId).flatMap { j =>
      resolve(j.group).flatMap(p =>
        mk(p, "spark.job", j.startMs * 1000000L, math.max(j.endMs, j.startMs) * 1000000L))
    }
    val batchSpans = streams.progress.asScala.toSeq.flatMap { pr =>
      aliases.get(pr.runId).flatMap { p =>
        val start = java.time.Instant.parse(pr.timestamp)
        val startNs = start.getEpochSecond * 1000000000L + start.getNano
        mk(p, "streaming.microbatch", startNs, startNs + pr.triggerMs * 1000000L)
      }
    }
    jobSpans ++ batchSpans
  }

  def allSpans: Seq[Span] = spans.toSeq ++ derived

  /** Streaming progress of every micro-batch of the query started under
    * span `spanId`: (addBatch s, triggerExecution s, input rows). */
  def progressOf(spanId: Long): Seq[(Double, Double, Long)] =
    streams.progress.asScala.toSeq
      .filter(pr => aliases.get(pr.runId).contains(spanId))
      .map(pr => (pr.addBatchMs / 1e3, pr.triggerMs / 1e3, pr.rows))

  /** Waits (bounded) until the progress listener holds `n` events for the
    * query started under `spanId`. */
  def awaitProgress(spanId: Long, n: Int, timeoutMs: Long = 5000L): Unit = if (traced) {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (progressOf(spanId).size < n && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }

  /** Spark execution rollup of one traced op: every job and stage whose
    * group resolves to a span of that op. */
  def sparkOf(op: Long, cores: Int): Map[String, Double] = {
    val opSpans = spans.filter(_.op == op)
    val ids = opSpans.map(_.id).toSet
    val root = opSpans.find(_.parent == 0)
    val opJobs = jobs.jobs.values.asScala.filter(j => resolve(j.group).exists(ids))
    val opStages = jobs.stages.asScala.filter(s => resolve(s.group).exists(ids))
    val wallNs = root.map(_.dur).getOrElse(0L)
    val covered = root.map(r => coveredNs(r.start, r.end,
      opJobs.map(j => (j.startMs * 1000000L, math.max(j.endMs, j.startMs) * 1000000L)).toSeq))
      .getOrElse(0L)
    val runS = opStages.map(_.runMs).sum / 1e3
    Map(
      "spark.jobs" -> opJobs.size.toDouble,
      "spark.stages" -> opStages.size.toDouble,
      "spark.tasks" -> opStages.map(_.tasks.toDouble).sum,
      "spark.driver_gap_s" -> (wallNs - covered) / 1e9,
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> opStages.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> opStages.map(_.gcMs).sum / 1e3,
      "spark.slot_busy_ratio" ->
        (if (covered > 0) runS / (covered / 1e9 * cores) else 0.0),
      "spark.shuffle_write_bytes" -> opStages.map(_.shuffleWrite.toDouble).sum,
      "spark.shuffle_read_bytes" -> opStages.map(_.shuffleRead.toDouble).sum,
      "spark.input_bytes" -> opStages.map(_.input.toDouble).sum,
      "spark.result_bytes" -> opStages.map(_.result.toDouble).sum,
      "spark.spill_bytes" -> opStages.map(_.spill.toDouble).sum)
  }

  /** Op-level values recorded through [[add]]/[[planShape]] for `op`. */
  def valuesOf(op: Long): Map[String, Double] =
    opValues.get(op).map(_.toMap).getOrElse(Map.empty)

  /** Per span name: (count, total s, self s), where self time is a span's
    * duration minus the part of it that its children cover. */
  def rollup(): Seq[(String, Int, Double, Double)] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map { s =>
        s.dur - coveredNs(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }
      (name, ss.size, ss.map(_.dur).sum / 1e9, self.sum / 1e9)
    }.sortBy(-_._4)
  }

  /** Spans as JSON lines. */
  def write(path: java.io.File): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.start).foreach { s =>
      out.println(Stats.json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally out.close()
  }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }

  /** Length of the union of `intervals` clipped to [start, end]. */
  private def coveredNs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

private final case class JobRec(group: String, jobId: Int, startMs: Long, @volatile var endMs: Long)

private final case class StageRec(group: String, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, input: Long, result: Long,
    spill: Long)

private final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val submitted = new ConcurrentHashMap[(Int, Int), String]()
  private val completed = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()

  private def groupOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  def quiet: Boolean =
    jobs.values.asScala.forall(_.endMs >= 0) &&
      submitted.keySet.asScala.forall(completed.contains)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(groupOf(e.properties), e.jobId, e.time, -1L))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    submitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), if (g == null) "" else g)
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    val g = Option(submitted.get(key)).filter(_.nonEmpty).orNull
    val tm = si.taskMetrics
    if (tm != null)
      stages.add(StageRec(g, si.numTasks, tm.executorRunTime, tm.executorCpuTime,
        tm.jvmGCTime, tm.shuffleWriteMetrics.bytesWritten,
        tm.shuffleReadMetrics.totalBytesRead, tm.inputMetrics.bytesRead,
        tm.resultSize, tm.memoryBytesSpilled + tm.diskBytesSpilled))
    completed.add(key)
    ()
  }
}

private final case class Progress(runId: String, timestamp: String, addBatchMs: Long,
    triggerMs: Long, rows: Long)

private final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    progress.add(Progress(p.runId.toString, p.timestamp, ms("addBatch"),
      ms("triggerExecution"), p.numInputRows))
    ()
  }
}
