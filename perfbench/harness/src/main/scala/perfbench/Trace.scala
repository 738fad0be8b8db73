package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Times are epoch nanoseconds, so the harness's own
  * spans and listener spans (epoch milliseconds) share one clock. `pass` groups the
  * spans of one pass; `parent` is 0 for a root.
  */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    op: String, start: Long, end: Long)

/** In-memory span store, written out when the run ends. */
final class Tracer {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def now(): Long = epoch0 + (System.nanoTime() - nano0)
  def nextId(): Int = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: each span's duration minus the part of it
    * that its children cover.
    */
  def selfTimes(): Seq[(String, Double, Int)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val self = ss.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1))
      (s.name, (s.end - s.start - covered) / 1e9)
    }
    self.groupBy(_._1).map { case (n, xs) => (n, xs.map(_._2).sum, xs.size) }
      .toSeq.sortBy(-_._2)
  }

  private def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Trace {
  /** Local properties that tie Spark jobs to the op (and span) that
    * started them; Spark copies them onto every job event.
    */
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val PassKey = "perfbench.pass"
  val PhaseKey = "perfbench.phase"
}

/** Spark execution counters per op, from listener events, plus `job` and
  * `stage` spans when a tracer is given. Each op is identified through
  * the local properties the harness sets around it. As a session's
  * QueryExecutionListener it also keeps the query executions that
  * actions ran (a write and its read-back), whose executed plans hold
  * their scans' metrics.
  */
final class ExecListener(tracer: Option[Tracer]) extends SparkListener
    with QueryExecutionListener {
  private val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageOp = mutable.Map.empty[Int, (String, Int, Int)]
  private val stageStart = mutable.Map.empty[Int, Long]
  private val jobInfo = mutable.Map.empty[Int, (String, Int, Int, Long, Int)]
  private val stageJobSpan = mutable.Map.empty[Int, Int]

  private def add(op: String, key: String, v: Double): Unit =
    if (op != null) {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  /** Counters since the last drain, per op. */
  def drain(): Map[String, Map[String, Double]] = synchronized {
    val out = counters.map { case (k, m) => k -> m.toMap }.toMap
    counters.clear()
    out
  }

  private val actions = mutable.ArrayBuffer.empty[QueryExecution]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { actions += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Query executions of actions since the last drain. */
  def drainActions(): Seq[QueryExecution] = synchronized {
    val out = actions.toList
    actions.clear()
    out
  }

  private def props(p: java.util.Properties): (String, Int, Int) =
    if (p == null) (null, 0, 0)
    else (p.getProperty(Trace.OpKey),
      Option(p.getProperty(Trace.SpanKey)).map(_.toInt).getOrElse(0),
      Option(p.getProperty(Trace.PassKey)).map(_.toInt).getOrElse(0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, parent, pass) = props(e.properties)
    add(op, "exec.jobs", 1)
    if (e.properties != null &&
        e.properties.getProperty(Trace.PhaseKey) == "build")
      add(op, "query.build_jobs", 1)
    tracer.foreach { t =>
      val id = t.nextId()
      jobInfo(e.jobId) = (op, parent, pass, e.time * 1000000L, id)
      e.stageIds.foreach(s => stageJobSpan.getOrElseUpdate(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (t <- tracer; (op, parent, pass, start, id) <- jobInfo.remove(e.jobId))
      t.add(Span(id, parent, pass, "job", op, start, e.time * 1000000L))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageOp(e.stageInfo.stageId) = props(e.properties)
      stageStart(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val (op, _, pass) = stageOp.getOrElse(info.stageId, (null, 0, 0))
      add(op, "exec.stages", 1)
      if (info.numTasks == 1) add(op, "exec.single_task_stages", 1)
      for (t <- tracer; jobSpan <- stageJobSpan.remove(info.stageId)) {
        val start = stageStart.getOrElse(info.stageId, 0L)
        val end = info.completionTime.getOrElse(System.currentTimeMillis())
        t.add(Span(t.nextId(), jobSpan, pass, "stage", op,
          start * 1000000L, end * 1000000L))
      }
      stageOp.remove(info.stageId)
      stageStart.remove(info.stageId)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, _, _) = stageOp.getOrElse(e.stageId, (null, 0, 0))
    add(op, "exec.tasks", 1)
    if (e.reason != Success) add(op, "exec.task_failures", 1)
    stageStart.get(e.stageId).foreach { s =>
      add(op, "exec.task_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      val mb = 1024.0 * 1024.0
      add(op, "exec.task_run_s", m.executorRunTime / 1e3)
      add(op, "exec.task_cpu_s", m.executorCpuTime / 1e9)
      add(op, "exec.shuffle_w_mb", m.shuffleWriteMetrics.bytesWritten / mb)
      add(op, "exec.shuffle_r_mb", (m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead) / mb)
      add(op, "exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
      add(op, "exec.result_mb", m.resultSize / mb)
      add(op, "exec.input_mb", m.inputMetrics.bytesRead / mb)
    }
  }
}
