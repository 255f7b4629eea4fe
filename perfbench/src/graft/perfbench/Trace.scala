package graft.perfbench

import java.util.concurrent.TimeUnit
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import graft.bsp.{RunContext, StepStat}
import scala.collection.mutable.{ArrayBuffer, HashMap}

/** One bench-side call into a layer. The layer is the name's first
  * dot-separated part (`io.extract` belongs to `io`). Times are
  * System.nanoTime; `retro` spans were opened after the fact (their
  * start lies before the call that revealed them) and claim the jobs
  * their parent submitted inside their interval. */
final class Span(val id: Int, var name: String, val parent: Int, val start: Long,
                 val retro: Boolean = false) {
  var end: Long = -1L
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = end - start
}

/** A completed stage, as the listener saw it. */
final case class StageRec(
    stageId: Int, jobId: Int, writer: Boolean, isMap: Boolean,
    submitMs: Long, doneMs: Long, numTasks: Int,
    shuffleReadRecords: Long, shuffleWriteRecords: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long, taskMs: Array[Long])

/** A started job: the span open on the submitting thread and whether it
  * is a durable snapshot write of the catalog's background writer. */
final case class JobRec(jobId: Int, span: Int, writer: Boolean, submitMs: Long)

/** SparkListener registered by the benchmark: records every job, stage
  * and task-time sample, keyed by the span id the driver thread carried in
  * a local property when the job was submitted. Events stay in memory. */
final class Collector extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  private val stageJob = HashMap.empty[Int, JobRec]
  private val taskMs = HashMap.empty[Int, ArrayBuffer[Long]]
  private val ended = scala.collection.mutable.Set.empty[Int]

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    // the catalog's async writer thread inherited a stale span id when it
    // was created; its jobs are recognised by their call site instead
    val writer = js.stageInfos.exists(_.details.contains("graft.ckpt.Catalog.writeSnapshot"))
    val rec = JobRec(js.jobId, prop.map(_.toInt).getOrElse(-1), writer, js.time)
    jobs += rec
    js.stageIds.foreach(s => stageJob(s) = rec)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized { ended += je.jobId }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(te.stageId, ArrayBuffer.empty[Long]) += te.taskInfo.duration
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val si = sc.stageInfo
    val job = stageJob.getOrElse(si.stageId, JobRec(-1, -1, writer = false, 0L))
    val m = si.taskMetrics
    val (rr, wr, wb, spill, gc) =
      if (m == null) (0L, 0L, 0L, 0L, 0L)
      else (m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime)
        // a shuffle-map stage is the one kind that writes shuffle output
    stages += StageRec(si.stageId, job.jobId, job.writer, wr > 0 || wb > 0,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      rr, wr, wb, spill, gc,
      taskMs.remove(si.stageId).map(_.toArray).getOrElse(Array.empty[Long]))
  }

  def hasEnded(jobId: Int): Boolean = synchronized(ended.contains(jobId))

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); taskMs.clear(); ended.clear()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Span recorder for the traced run; a disabled tracer only runs bodies.
  * Spans nest on the driver thread (the closed loop has one client); the
  * open span's id rides on every job submitted from that thread. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()

  def epochMs(ns: Long): Double = ms0 + (ns - ns0) / 1e6

  def current: Option[Span] = stack.headOption

  private def setProp(): Unit =
    sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)

  def open(name: String, start: Long = System.nanoTime(), retro: Boolean = false): Span = {
    val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), start, retro)
    spans += s
    stack = s :: stack
    setProp()
    s
  }

  def close(s: Span, end: Long = System.nanoTime()): Unit = {
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    s.end = end
    stack = stack.tail
    setProp()
  }

  /** A finished child of the open span, covering an interval that only
    * became known afterwards. */
  def addClosed(name: String, start: Long, end: Long): Unit = if (enabled) {
    val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), start,
      retro = true)
    s.end = end
    spans += s
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name)
      try body finally close(s)
    }
}

/** The bench-side RunContext decorator handed to the algorithms. It
  * counts every StepStat and, when tracing, turns the calls the loop makes
  * into spans: the interval before the loop's first call (`prepName`),
  * `restoreOrInit` (bsp.init, or ckpt.restore when resuming), one
  * bsp.superstep per `record`, and the durable commit calls (ckpt.commit,
  * ckpt.finish) when `durable`. */
final class TracedContext(inner: RunContext, tr: Tracer, prepName: String,
                          durable: Boolean) extends RunContext {
  private var step: Span = null
  private var prepDone = false
  val steps = ArrayBuffer.empty[(Option[Span], StepStat)]

  /** The loop's first call ends the preparation, which began with the
    * algorithm call's span (the one open now). */
  private def endPrep(at: Long): Unit = if (!prepDone) {
    prepDone = true
    tr.current.foreach(a => tr.addClosed(prepName, a.start, at))
  }

  override def startStep: Int = inner.startStep

  override def restoreOrInit(init: DataFrame): DataFrame = {
    if (!tr.enabled) return inner.restoreOrInit(init)
    endPrep(System.nanoTime())
    val r = tr.span(if (inner.startStep > 0) "ckpt.restore" else "bsp.init")(inner.restoreOrInit(init))
    step = tr.open("bsp.superstep")
    r
  }

  override def checkpoint(state: DataFrame, s: Int): DataFrame =
    if (durable) tr.span("ckpt.commit")(inner.checkpoint(state, s)) else inner.checkpoint(state, s)

  override def record(stat: StepStat): Unit = {
    if (!tr.enabled) { inner.record(stat); steps += ((None, stat)); return }
    if (step == null) {
      // CSR loops make no call before their first record: the superstep
      // began wallMs ago, and everything before it was preparation
      val start = System.nanoTime() - TimeUnit.MICROSECONDS.toNanos((stat.wallMs * 1000).toLong)
      endPrep(start)
      step = tr.open("bsp.superstep", start, retro = true)
    }
    if (durable) tr.span("ckpt.commit")(inner.record(stat)) else inner.record(stat)
    tr.close(step)
    steps += ((Some(step), stat))
    step = tr.open("bsp.superstep")
  }

  override def stats: Seq[StepStat] = inner.stats

  override def finish(): Unit = {
    if (!tr.enabled) { inner.finish(); return }
    if (step != null) { step.name = "algo.loop_tail"; tr.close(step); step = null }
    tr.span(if (durable) "ckpt.finish" else "bsp.finish")(inner.finish())
  }
}
