package graft.bsp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one superstep loop driver (the analogue of the reference's BSP
  * TaskRunner, raphtory/src/db/task/task_runner.rs) for the dense loops of
  * both physical engines. An algorithm supplies its state, a step function
  * and a halting rule; the driver owns the loop, the step numbering, the
  * `StepStat` timing + `ctx.record`, and the `ctx.finish()` barrier. The
  * DataFrame variant additionally owns the AQE scoping, `restoreOrInit`,
  * and the lazy checkpoint fused with the convergence aggregate into one
  * job per superstep. */
object Superstep {

  /** One step's outcome: the next state, the convergence delta recorded in
    * its StepStat, and whether the loop halts after it. */
  final case class Next[S](state: S, delta: Double, halt: Boolean)

  /** A dense DataFrame superstep program over one static table.
    *
    * @param init     state before the first step, key column first (the
    *                 driver hash-partitions on it)
    * @param maxSteps last step number to run (steps count from 1)
    * @param step     (state, step, previous step's aggregate row — None on
    *                 the first step of a run or resume) => next state,
    *                 which may carry `flags` columns for the aggregates
    * @param aggs     convergence aggregates over the next state; the first
    *                 is the delta recorded in the step's StepStat
    * @param halt     (aggregate row, step) => stop after this step
    * @param flags    columns dropped from the state after the aggregate */
  final case class Dense(
      init: DataFrame,
      maxSteps: Long,
      step: (DataFrame, Int, Option[Row]) => DataFrame,
      aggs: Seq[Column],
      halt: (Row, Int) => Boolean,
      flags: Seq[String])

  /** A static join table (the edges or pairs a loop joins) and its row count. */
  final case class Static(df: DataFrame, rows: Long)

  /** The one static join table definition: `rows` hash-partitioned on `key`
    * (shuffle partitions), deduplicated (that partitioning clusters whole
    * rows, so no second exchange), sorted within partitions on `key`,
    * persisted and counted in one job planned under IterativeConf (under AQE
    * the count alone is two). The caller releases `df`. */
  def staticTable(rows: DataFrame, key: String): Static =
    IterativeConf.withStablePartitioning(rows.sparkSession) {
      val p = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val df = rows.repartition(p, col(key)).distinct().sortWithinPartitions(col(key))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Static(df, df.count()) // the count also materialises the cache
    }

  /** `body` over a transient static table, released when `body` returns:
    * its result must not read the table lazily. */
  def withStatic[T](rows: DataFrame, key: String)(body: Static => T): T = {
    val t = staticTable(rows, key)
    try body(t) finally t.df.unpersist()
  }

  /** Runs a DataFrame program to its halting rule under
    * IterativeConf.withStablePartitioning (AQE off, so the hash
    * partitioning survives the per-step checkpoints). `program` builds the
    * loop from the already-static `table`'s frame and row count; the driver
    * neither builds, counts nor releases it. Each superstep is ONE Spark
    * job: the checkpoint is lazy and the convergence aggregate's `head()`
    * materialises it. Returns the final state (flags dropped), checkpointed. */
  def dataFrame(algo: String, ctx: RunContext, table: Static)(
      program: (DataFrame, Long) => Dense): DataFrame = {
    val spark = table.df.sparkSession
    IterativeConf.withStablePartitioning(spark) {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val d = program(table.df, table.rows)
      val init = ctx.restoreOrInit(d.init.repartition(p, col(d.init.columns.head)))
      var last: Option[Row] = None
      loop(algo, ctx, table.rows, ctx.startStep + 1, d.maxSteps, init) { (state, step) =>
        val ck = ctx.checkpoint(d.step(state, step, last), step)
        val row = ck.agg(d.aggs.head, d.aggs.tail: _*).head()
        last = Some(row)
        state.unpersist()
        Next(ck.drop(d.flags: _*), if (row.isNullAt(0)) 0.0 else row.getAs[Number](0).doubleValue,
          d.halt(row, step))
      }
    }
  }

  /** The loop both engines share: steps `first`, `first + 1`, ... up to
    * `last` inclusive, stopping early when a step halts. Each step is
    * timed and recorded as StepStat(algo, step, edges, ...); `finish()`
    * runs once after the last step. CSR programs call it directly over
    * dense driver arrays (no restore: the arrays are re-derived on a
    * re-run). */
  def loop[S](algo: String, ctx: RunContext, edges: Long, first: Long, last: Long, init: S)(
      step: (S, Int) => Next[S]): S = {
    var state = init
    var s = first
    var done = false
    while (!done && s <= last) {
      val t0 = System.nanoTime()
      val next = step(state, s.toInt)
      state = next.state
      done = next.halt
      ctx.record(StepStat(algo, s.toInt, edges, edges, next.delta, (System.nanoTime() - t0) / 1e6))
      s += 1
    }
    ctx.finish() // barrier: async snapshot commits durable before returning
    state
  }
}
