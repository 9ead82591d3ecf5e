package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into the engine, plus Spark
  * listener counters attributed to the innermost span open when the
  * counted work started.
  *
  * Spans live in memory and are written out once, at the end. The
  * listeners only buffer raw events; attribution happens afterwards by
  * timestamp, because listener events arrive asynchronously, possibly
  * after their span closed. One client drives the engine at a time
  * (streaming callbacks run while the client waits), so spans nest
  * strictly and a global stack is enough.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  /** Whether spans and listener events are being recorded: between
    * [[resume]] and [[pause]] on a traced run, never on an untraced one.
    */
  @volatile private var on = false
  def recording: Boolean = on
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[Span]
  private var request = -1L

  /** Time `body` as span `name`; a no-op wrapper when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val s = Span(spans.size, stack.lastOption.fold(-1)(_.id), name, request,
          System.currentTimeMillis(), System.nanoTime())
        spans += s; stack += s; s
      }
      try body
      finally synchronized {
        s.endMs = System.currentTimeMillis(); s.endNs = System.nanoTime()
        stack.remove(stack.lastIndexWhere(_.id == s.id))
      }
    }

  /** Root span of one request: child spans carry its id. */
  def request[T](id: Long, name: String)(body: => T): T = {
    request = id
    try span(name)(body) finally request = -1L
  }

  // ---- listeners ---------------------------------------------------

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[Long]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        e.taskInfo.launchTime,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleReadMetrics.fetchWaitTime,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).fold(0L)(s => s.endTimeMs - s.startTimeMs)
    val at = ph.get("analysis").map(_.startTimeMs)
      .orElse(ph.values.map(_.startTimeMs).reduceOption(_ min _))
      .getOrElse(System.currentTimeMillis())
    var files, rows, written = 0L
    try {
      collectNodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          files += metric(s, "numFiles"); rows += metric(s, "numOutputRows")
        case w: DataWritingCommandExec =>
          written += w.cmd.metrics.get("numFiles").fold(0L)(_.value)
        case _ =>
      }
    } catch { case _: Exception => }
    queries.add(QueryRec(at, ms("analysis"), ms("optimization"), ms("planning"), files, rows, written))
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).fold(0L)(_.value)

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec  => Seq(a.executedPlan)
      case q: QueryStageExec         => Seq(q.plan)
      case _: ReusedExchangeExec     => Nil
      case w: WholeStageCodegenExec  => Seq(w.child)
      case i: InputAdapter           => Seq(i.child)
      case other                     => other.children ++ other.subqueries
    }
    p +: kids.flatMap(collectNodes)
  }

  /** Register the listeners and record spans (traced runs only). */
  def resume(spark: SparkSession): Unit = if (enabled && !on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  /** Deliver pending events, then remove the listeners and stop spans. */
  def pause(spark: SparkSession): Unit = if (on) {
    org.apache.spark.perfbench.SparkBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    on = false
  }

  // ---- attribution and summaries ----------------------------------

  /** Innermost span whose wall-clock interval holds `t` (ms), or -1. */
  private lazy val locate: Long => Int = {
    val closed = spans.toIndexedSeq
    t => {
      var best = -1
      closed.foreach { s =>
        if (s.startMs <= t && t <= s.endMs && (best < 0 || s.startMs >= closed(best).startMs)) best = s.id
      }
      best
    }
  }

  /** Add every buffered event to the counters `into` picks for its start
    * time; None skips the event.
    */
  private def tally(into: Long => Option[Counters]): Unit = {
    jobs.asScala.foreach(t => into(t).foreach(_.jobs += 1))
    stages.asScala.foreach(t => into(t).foreach(_.stages += 1))
    tasks.asScala.foreach { r =>
      into(r.launch).foreach { x =>
        x.tasks += 1; x.cpuNs += r.cpuNs; x.runMs += r.runMs; x.gcMs += r.gcMs
        x.shuffleWrite += r.shW; x.shuffleRead += r.shR; x.spill += r.spill
        x.fetchWaitMs += r.fetchWait; x.bytesWritten += r.outBytes; x.recordsWritten += r.outRecords
      }
    }
    queries.asScala.foreach { q =>
      into(q.at).foreach { x =>
        x.queries += 1; x.analysisMs += q.analysisMs; x.optimizerMs += q.optimizerMs
        x.planningMs += q.planningMs; x.scanFiles += q.files; x.scanRows += q.rows
        x.filesWritten += q.filesWritten
      }
    }
  }

  /** Listener counters, totalled per attributed span id. */
  lazy val counters: Map[Int, Counters] = {
    val by = mutable.Map.empty[Int, Counters]
    tally(t => Some(by.getOrElseUpdate(locate(t), new Counters)))
    by.toMap
  }

  /** Counters of every span whose name satisfies `p`, children included. */
  def countersUnder(p: String => Boolean): Counters = {
    val roots = spans.filter(s => p(s.name)).map(_.id).toSet
    val parent = spans.map(s => s.id -> s.parent).toMap
    def under(id: Int): Boolean =
      id >= 0 && (roots.contains(id) || under(parent(id)))
    val tot = new Counters
    counters.foreach { case (id, c) => if (under(id)) tot.add(c) }
    tot
  }

  /** Listener counters of work that started within one of `intervals`
    * ([from, to] ms).
    */
  def countersIn(intervals: Seq[(Long, Long)]): Counters = {
    val x = new Counters
    tally(t => if (intervals.exists { case (a, b) => a <= t && t <= b }) Some(x) else None)
    x
  }

  def durationsMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Self time per span name: duration minus the time its children cover. */
  def selfTimesMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def spanCount: Int = spans.size

  /** Write every span (and its attributed counters) as JSON lines. */
  def write(path: java.nio.file.Path): Unit =
    Util.writeLines(path, spans.iterator.map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      Util.json(mutable.LinkedHashMap(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "counters" -> c.toMap))
    })
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, request: Long, startMs: Long, startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = startNs
  }

  final case class TaskRec(
      launch: Long, cpuNs: Long, runMs: Long, gcMs: Long, shW: Long, shR: Long,
      spill: Long, fetchWait: Long, outBytes: Long, outRecords: Long)

  final case class QueryRec(
      at: Long, analysisMs: Long, optimizerMs: Long, planningMs: Long,
      files: Long, rows: Long, filesWritten: Long)

  final class Counters {
    var jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill, fetchWaitMs = 0L
    var bytesWritten, recordsWritten, queries, analysisMs, optimizerMs, planningMs = 0L
    var scanFiles, scanRows, filesWritten = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; fetchWaitMs += o.fetchWaitMs; bytesWritten += o.bytesWritten
      recordsWritten += o.recordsWritten; queries += o.queries; analysisMs += o.analysisMs
      optimizerMs += o.optimizerMs; planningMs += o.planningMs; scanFiles += o.scanFiles
      scanRows += o.scanRows; filesWritten += o.filesWritten
    }
    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs,
      "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "spill" -> spill, "fetch_wait_ms" -> fetchWaitMs, "bytes_written" -> bytesWritten,
      "records_written" -> recordsWritten, "queries" -> queries, "analysis_ms" -> analysisMs,
      "optimizer_ms" -> optimizerMs, "planning_ms" -> planningMs, "scan_files" -> scanFiles,
      "scan_rows" -> scanRows, "files_written" -> filesWritten)
  }
}
