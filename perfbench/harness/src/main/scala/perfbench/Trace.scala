package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: wall-clock start and end in epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Spans recorded around the calls the benchmark makes into each layer of
  * the library. Spans stay in memory and are written once, at the end of
  * the run. With tracing off, `span` only runs its body. */
final class Trace(val enabled: Boolean, runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val batchIds = new ConcurrentHashMap[String, Long]()
  private val phases = new ConcurrentHashMap[String, Long]()
  @volatile var root: Long = -1L

  /** Opens the root span: spans are recorded only inside it, so set-up
    * work before it stays out of the per-layer figures. */
  def rootSpan[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      root = ids.incrementAndGet()
      timed(root, -1L, name, "bench")(body)
    }

  /** Runs `body` inside a span. Without an explicit parent the span nests
    * under the innermost open span of the calling thread, or the root. */
  def span[T](name: String, layer: String, parent: Long = -1L)(body: => T): T =
    if (!enabled || root < 0) body
    else {
      val par = if (parent >= 0) parent else stack.get().headOption.getOrElse(root)
      timed(ids.incrementAndGet(), par, name, layer)(body)
    }

  private def timed[T](id: Long, parent: Long, name: String, layer: String)(body: => T): T = {
    val outer = stack.get()
    stack.set(id :: outer)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      stack.set(outer)
      spans.add(Span(id, parent, name, layer, w0.toDouble, w0 + (System.nanoTime() - t0) / 1e6))
    }
  }

  /** A phase span under which the micro-batch spans of `stream` nest. */
  def phase[T](stream: String)(body: => T): T =
    if (!enabled || root < 0) body
    else {
      val id = ids.incrementAndGet()
      phases.put(stream, id)
      timed(id, stack.get().headOption.getOrElse(root), "phase." + stream, "bench")(body)
    }

  def phaseOf(stream: String): Long = phases.getOrDefault(stream, root)

  /** Span id of a micro-batch, shared by the engine's progress event (which
    * records the batch span) and the calls made inside the batch. */
  def batchSpan(stream: String, batchId: Long): Long =
    batchIds.computeIfAbsent(s"$stream/$batchId", _ => ids.incrementAndGet())

  /** Number of untimed warm-up micro-batches per stream (set before it starts). */
  @volatile var warmBatches: Map[String, Long] = Map.empty

  /** A span inside micro-batch `batchId`; warm-up batches record none. */
  def inBatch[T](stream: String, batchId: Long, name: String, layer: String)(body: => T): T =
    if (batchId < warmBatches(stream)) body
    else span(name, layer, batchSpan(stream, batchId))(body)

  def record(id: Long, parent: Long, name: String, layer: String,
      startMs: Double, endMs: Double): Unit =
    if (enabled && root >= 0) spans.add(Span(id, parent, name, layer, startMs, endMs))

  def size: Int = spans.size

  def write(path: String): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      sb ++= Json.render(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))
      sb += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Engine counters for the traced run: planning phases from
  * `QueryExecution.tracker`, jobs/stages/tasks and task metrics from a
  * `SparkListener`, each keyed by the job group that ran them. */
final class EngineMeter extends SparkListener with QueryExecutionListener {
  final class Group {
    var analysisMs, optimizationMs, planningMs, executionMs = 0.0
    var actions, jobs, stages, tasks = 0L
    var shuffleRead, shuffleWrite, spill, cpuNs, gcMs = 0L
  }
  private val groups = mutable.Map.empty[String, Group]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]

  private def group(g: String): Group = synchronized(groups.getOrElseUpdate(g, new Group))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    synchronized {
      val g = group(execGroup.getOrElse(qe.id, "none"))
      g.actions += 1
      g.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      g.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      g.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      g.executionMs += durationNs / 1e6
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    group(g).jobs += 1
    js.stageIds.foreach(stageGroup(_) = g)
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup(id.toLong) = g)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    if (te.taskInfo != null && te.taskMetrics != null)
      stageTaskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) +=
        te.taskMetrics.executorRunTime
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val info = sc.stageInfo
    val g = group(stageGroup.getOrElse(info.stageId, "none"))
    g.stages += 1
    g.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      g.cpuNs += m.executorCpuTime
      g.gcMs += m.jvmGCTime
    }
    stageTaskMs.remove(info.stageId).foreach { ts =>
      if (ts.size >= 2) {
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) skews += sorted.last / med
      }
    }
  }

  /** Totals over every group, plus the per-group breakdown. */
  def summary: (Map[String, Double], Map[String, Map[String, Double]]) = synchronized {
    def asMap(g: Group): Map[String, Double] = Map(
      "spark.analysis_ms" -> g.analysisMs, "spark.optimization_ms" -> g.optimizationMs,
      "spark.planning_ms" -> g.planningMs, "spark.execution_ms" -> g.executionMs,
      "spark.actions" -> g.actions.toDouble, "spark.jobs" -> g.jobs.toDouble,
      "spark.stages" -> g.stages.toDouble, "spark.tasks" -> g.tasks.toDouble,
      "spark.shuffle_read_bytes" -> g.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> g.shuffleWrite.toDouble,
      "spark.spill_bytes" -> g.spill.toDouble,
      "spark.executor_cpu_ms" -> g.cpuNs / 1e6, "spark.gc_ms" -> g.gcMs.toDouble)
    val per = groups.toMap.map { case (k, g) => k -> asMap(g) }
    val total = per.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val skew = if (skews.isEmpty) 0.0 else skews.sorted.apply(skews.size / 2)
    (total + ("spark.task_skew_max_over_median" -> skew), per)
  }
}

/** Per-micro-batch progress of the streaming query: phase durations and
  * state operator counters (the checks read its drop counts), and in a
  * traced run one `streaming.batch` span per batch. */
final class StreamMeter(trace: Trace) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    val m = mutable.Map[String, Any](
      "stream" -> p.name, "batch_id" -> p.batchId.toDouble, "input_rows" -> p.numInputRows.toDouble)
    d.foreach { case (k, v) => m("dur." + k) = v }
    p.stateOperators.foreach { op =>
      val pre = "state." + op.operatorName + "."
      m(pre + "rows_total") = op.numRowsTotal.toDouble
      m(pre + "rows_updated") = op.numRowsUpdated.toDouble
      m(pre + "all_updates_ms") = op.allUpdatesTimeMs.toDouble
      m(pre + "commit_ms") = op.commitTimeMs.toDouble
      m(pre + "memory_bytes") = op.memoryUsedBytes.toDouble
      m(pre + "dropped_by_watermark") = op.numRowsDroppedByWatermark.toDouble
      op.customMetrics.asScala.foreach { case (k, v) => m(pre + k) = v.doubleValue }
    }
    batches.add(m.toMap)
    if (p.batchId < trace.warmBatches(p.name)) return
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    trace.record(trace.batchSpan(p.name, p.batchId), trace.phaseOf(p.name), "streaming.batch", "streaming",
      start, start + d.getOrElse("triggerExecution", 0.0))
  }
}
