package graft.ckpt

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.bsp.{RunContext, StepStat}
import CatalogRunContext.jsonString
import scala.collection.mutable.ArrayBuffer

/** Durable superstep bookkeeping (north rule: "every superstep checkpoints
  * per-partition lineage and metrics to Iceberg so runs resume
  * mid-iteration after failure").
  *
  * Tables written under the catalog root:
  *   state/<runId>     snapshot id = superstep; full vertex state
  *   metrics/<runId>   appended rows (run_id, algo, step, partition, rows,
  *                     edges_scattered, messages, delta, wall_ms);
  *                     partition = -1 is the superstep-global row, other
  *                     rows are the per-partition lineage of the snapshot.
  *                     Lineage counts come from the snapshot's own parquet
  *                     footers (per data file, read driver-side at commit)
  *                     and the rows land as driver-written JSONL appends —
  *                     the whole metrics side costs ZERO Spark jobs, so a
  *                     durably-checkpointed superstep runs exactly one job
  *                     beyond the in-memory mode: the snapshot write
  *
  * A snapshot is only visible once its manifest commits (atomic rename), so
  * a kill mid-write leaves the previous superstep as the resume point; the
  * algorithm restarts at max-committed-step + 1 and never recomputes
  * earlier supersteps. `every` controls the durable STATE-checkpoint
  * cadence (1 = the north-rule every-superstep mode); intermediate steps
  * still cut lineage via lazy localCheckpoint. Committed steps materialise
  * eagerly and the write+commit+metrics flush runs on a background thread,
  * overlapped with the next superstep's compute (finish() is the barrier);
  * metric rows queue behind their step's snapshot write, so the durable
  * metrics never lead or lag the committed state by more than the
  * in-flight step. */
final class CatalogRunContext(
    val catalog: Catalog,
    val runId: String,
    spark: SparkSession,
    every: Int = 1) extends RunContext {

  private case class MetricRow(algo: String, step: Int, partition: Int, rows: Long,
      edgesScattered: Long, messages: Long, delta: Double, wallMs: Double)

  private val stateTable = s"state/$runId"
  private val metricsTable = s"metrics/$runId"
  private val stepStats = ArrayBuffer.empty[StepStat]
  private val pending = ArrayBuffer.empty[MetricRow]
  private var resumedFrom = 0L

  override def startStep: Int =
    catalog.latestSnapshot(stateTable).getOrElse(0L).toInt

  private val live = new graft.bsp.LiveCheckpoints

  override def restoreOrInit(init: DataFrame): DataFrame = live.start(
    catalog.latestSnapshot(stateTable) match {
      case Some(step) =>
        resumedFrom = step
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        catalog.readSnapshot(spark, stateTable, step)
          .repartition(p, col(init.columns.head)).localCheckpoint(false)
      case None => init.localCheckpoint(false)
    })

  // Durable writes run on a single background thread, one in flight at a
  // time (double buffering): the snapshot write + manifest commit + metric
  // flush for superstep N overlap with superstep N+1's compute instead of
  // serialising into the loop. Single-threaded => manifests commit in step
  // order, and a kill leaves max-committed-step as the resume point exactly
  // as in the synchronous design. Algorithms call finish() after the loop;
  // finish() shuts the thread down, and a later commit starts a new one.
  private var writerPool: java.util.concurrent.ExecutorService = null
  private var writerThread: Thread = null
  private def writer: java.util.concurrent.ExecutorService = {
    if (writerPool == null)
      writerPool = java.util.concurrent.Executors.newSingleThreadExecutor { (r: Runnable) =>
        writerThread = new Thread(r, s"graft-ckpt-$runId"); writerThread.setDaemon(true); writerThread
      }
    writerPool
  }
  private var inflight: java.util.concurrent.Future[_] = null
  private var inflightStep = 0

  private var pendingCommit: Option[(DataFrame, Int)] = None
  private val asyncError = new java.util.concurrent.atomic.AtomicReference[Throwable](null)

  private def awaitInflight(): Unit = if (inflight != null) { inflight.get(); inflight = null }

  private def submitCommit(ck: DataFrame, step: Int): Unit = {
    awaitInflight()
    inflightStep = step
    inflight = writer.submit(new Runnable {
      override def run(): Unit = {
        // per-partition lineage comes from the write itself: the
        // snapshot's parquet footers carry per-file (= per-partition)
        // row counts, read driver-side — no second Spark job
        val fileRows = catalog.writeSnapshot(ck, stateTable, step)
        pending.synchronized {
          fileRows.zipWithIndex.foreach { case ((file, rows), i) =>
            // part-00007-<uuid>.parquet -> partition 7 (fallback: index)
            val pid = "part-(\\d+)".r.findFirstMatchIn(file)
              .map(_.group(1).toInt).getOrElse(i)
            pending += MetricRow("lineage", step, pid, rows, 0L, 0L, 0.0, 0.0)
          }
        }
      }
    })
  }

  override def checkpoint(state: DataFrame, step: Int): DataFrame = {
    // lazy: every superstep loop follows checkpoint() with a full-scan
    // delta/convergence aggregate, which materialises the snapshot in the
    // SAME Spark job (LocalRunContext's fusion). For a committing step the
    // durable write is deferred to record() — by then the caller's
    // aggregate has cached the state, so the background write streams from
    // executor memory instead of recomputing, overlapped with the next
    // superstep's compute
    val ck = state.localCheckpoint(false)
    if (step % every == 0) {
      pendingCommit.foreach { case (df, st) => submitCommit(df, st) } // defensive
      pendingCommit = Some((ck, step))
    }
    // live.add releases step-2's state: a write still reading it (every > 1)
    // finishes first
    if (inflight != null && inflightStep <= step - 2) awaitInflight()
    live.add(ck)
  }

  override def record(stat: StepStat): Unit = {
    // launch the deferred durable write first: the caller's aggregate has
    // just materialised this step's state
    pendingCommit.foreach { case (df, st) => submitCommit(df, st) }
    pendingCommit = None
    pending.synchronized {
      stepStats += stat
      pending += MetricRow(stat.algo, stat.step, -1, -1L, stat.edgesScattered,
        stat.messages, stat.delta, stat.wallMs)
    }
    // flush once per superstep, queued BEHIND the step's snapshot write on
    // the single writer thread — the callers record() right after
    // checkpoint(), so a committed step's durable metrics include its own
    // row and never lead the manifest they describe. Fire-and-forget, so a
    // flush failure is captured and rethrown at the next barrier rather
    // than vanishing with the task.
    writer.submit(new Runnable {
      override def run(): Unit =
        try flushMetrics()
        catch { case e: Throwable => asyncError.compareAndSet(null, e) }
    })
    val err = asyncError.get()
    if (err != null) throw err
  }

  override def stats: Seq[StepStat] = stepStats.toSeq

  /** Barrier: commits and queued metric flushes are durable, the writer
    * thread has exited, and any async failure is rethrown. Idempotent. */
  override def finish(): Unit = {
    try {
      pendingCommit.foreach { case (df, st) => submitCommit(df, st) } // defensive
      pendingCommit = None
      awaitInflight()
      live.finish()
    } finally if (writerPool != null) {
      // shutdown() still runs the queued metric flushes before the thread exits
      writerPool.shutdown()
      writerPool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      if (writerThread != null) writerThread.join() // the pool terminates just before its thread exits
      writerPool = null; writerThread = null
    }
    val err = asyncError.get()
    if (err != null) throw err
  }

  def resumedFromStep: Long = resumedFrom

  def flushMetrics(): Unit = pending.synchronized {
    if (pending.nonEmpty) {
      // driver-side JSONL append under the same atomic-manifest contract —
      // a handful of metric rows per superstep must not cost a Spark job.
      // The append runs inside the pending lock, so a direct caller and the
      // writer thread cannot race on the log table's next snapshot id.
      def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
      val lines = pending.toSeq.map(m =>
        s"""{"run_id":${jsonString(runId)},"algo":${jsonString(m.algo)},""" +
          s""""step":${m.step},"partition":${m.partition},""" +
          s""""rows":${m.rows},"edges_scattered":${m.edgesScattered},"messages":${m.messages},""" +
          s""""delta":${num(m.delta)},"wall_ms":${num(m.wallMs)}}""")
      catalog.appendJsonRows(metricsTable, lines)
      pending.clear()
    }
  }

  /** All metrics committed so far for this run (drains queued flushes). */
  def metrics(): Option[DataFrame] = {
    finish()
    catalog.readAllJson(spark, metricsTable, CatalogRunContext.metricsSchema)
  }
}

object CatalogRunContext {
  import org.apache.spark.sql.types._

  /** `s` as a quoted JSON string literal. */
  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  private val metricsSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("algo", StringType),
    StructField("step", IntegerType), StructField("partition", IntegerType),
    StructField("rows", LongType), StructField("edges_scattered", LongType),
    StructField("messages", LongType), StructField("delta", DoubleType),
    StructField("wall_ms", DoubleType)))
}
