package graft.bsp

import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** One superstep's lineage/metrics row (north rule: "every superstep
  * checkpoints per-partition lineage and metrics — edges scattered, messages
  * exchanged, convergence delta"). The analogue of the reference's
  * incremental proto cache (raphtory/src/serialise/incremental.rs). */
case class StepStat(
    algo: String,
    step: Int,
    edgesScattered: Long,
    messages: Long,
    delta: Double,
    wallMs: Double)

/** Superstep bookkeeping for iterative algorithms: lineage cutting,
  * durable checkpoints, resume, and per-step metrics. Algorithms call
  * `restoreOrInit` once and `checkpoint`/`record` once per superstep; the
  * implementation decides whether state lives in executor memory
  * (LocalRunContext) or in the Icebergish catalog (graft.ckpt.CatalogRunContext)
  * from which a killed run resumes mid-iteration. */
trait RunContext {
  /** Step to resume from (0 = fresh run). */
  def startStep: Int
  /** Either the restored step-`startStep` state or the init, checkpointed
    * with the key partitioning of its input; lazily, so the loop's first
    * job (the first step's, or the one that takes the aggregates the first
    * step needs) materialises it. */
  def restoreOrInit(init: DataFrame): DataFrame
  /** Persist the new state and cut its lineage; returns the state to keep
    * iterating on. Must preserve partitioning. */
  def checkpoint(state: DataFrame, step: Int): DataFrame
  def record(stat: StepStat): Unit
  def stats: Seq[StepStat]
  /** Barrier at loop end: durable implementations may overlap snapshot
    * writes with the next superstep's compute; algorithms call this once
    * after the last superstep so every commit is on disk before the run's
    * result is acted on. In-memory contexts: no-op. */
  def finish(): Unit = ()
}

/** In-memory run context: localCheckpoint (executor-memory snapshot,
  * lineage truncated, hash partitioning preserved) + in-process metrics.
  * Checkpoints are LAZY, the init's too: every superstep loop follows the
  * checkpoint with a full-scan aggregate action (delta / convergence
  * check), which materialises the snapshot in the SAME Spark job — one job
  * per superstep instead of two, halving the fixed scheduling+driver cost
  * that dominates small supersteps at high core counts.
  *
  * `Superstep.dataFrame` hands `checkpoint` the output of a step plan it
  * compiled once: a frame over the plan's RDD (a LogicalRDD carrying the
  * key partitioning), so planning the checkpoint is a scan of an existing
  * RDD. The returned frame's RDD is the state leaf the next step's
  * compiled plan reads; each step's plan copy has fresh exchanges, so a
  * step never reads an earlier step's shuffle output. */
class LocalRunContext extends RunContext {
  private val buf = ArrayBuffer.empty[StepStat]
  private val live = new LiveCheckpoints
  override def startStep: Int = 0
  override def restoreOrInit(init: DataFrame): DataFrame = live.start(init.localCheckpoint(false))
  override def checkpoint(state: DataFrame, step: Int): DataFrame = live.add(state.localCheckpoint(false))
  override def record(stat: StepStat): Unit = buf.synchronized { buf += stat }
  override def stats: Seq[StepStat] = buf.toSeq
  override def finish(): Unit = live.finish()
}

/** The checkpoints of one loop that may still be read, oldest first. A
  * loop's step k reads step k-1's checkpoint, so `add` (step k's) releases
  * step k-2's: its step's job has run, and a durable context has finished
  * writing it. `finish` releases all but the last, which is the loop's
  * result; `start` begins the next loop. */
private[graft] final class LiveCheckpoints {
  private val states = scala.collection.mutable.Queue.empty[DataFrame]
  def start(state: DataFrame): DataFrame = { states.clear(); states += state; state }
  def add(state: DataFrame): DataFrame = { states += state; keep(2); state }
  def finish(): Unit = { keep(1); states.clear() }
  private def keep(n: Int): Unit = while (states.size > n) Superstep.release(states.dequeue())
}

object RunContext {
  def none: RunContext = new LocalRunContext
}
