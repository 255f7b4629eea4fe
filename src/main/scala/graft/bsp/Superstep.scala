package graft.bsp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one superstep loop driver (the analogue of the reference's BSP
  * TaskRunner, raphtory/src/db/task/task_runner.rs) for the dense loops of
  * both physical engines. An algorithm supplies its state, a step function
  * and a halting rule; the driver owns the loop, the step numbering, the
  * `StepStat` timing + `ctx.record`, and the `ctx.finish()` barrier. The
  * DataFrame variant additionally owns the AQE scoping, the static table,
  * `restoreOrInit`, and the lazy checkpoint fused with the convergence
  * aggregate into one job per superstep. */
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

  /** Runs a DataFrame program to its halting rule under
    * IterativeConf.withStablePartitioning (AQE off, so the hash
    * partitioning survives the per-step checkpoints). `table` — the edge
    * or pair table every superstep joins against — is hash-partitioned and
    * sorted within partitions on `key`, cached, and counted as the edges
    * scattered per step; `program` builds the loop from the cached table
    * and that count. Each superstep is ONE Spark job: the
    * checkpoint is lazy and the convergence aggregate's `head()`
    * materialises it. Returns the final state (flags dropped); the table
    * is released, the state stays checkpointed. */
  def dataFrame(algo: String, ctx: RunContext, table: DataFrame, key: String)(
      program: (DataFrame, Long) => Dense): DataFrame = {
    val spark = table.sparkSession
    IterativeConf.withStablePartitioning(spark) {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val static = staticTable(table, key, p)
      val m = static.count() // also materialises the cache
      val d = program(static, m)
      val init = ctx.restoreOrInit(d.init.repartition(p, col(d.init.columns.head)))
      var last: Option[Row] = None
      val state = loop(algo, ctx, m, ctx.startStep + 1, d.maxSteps, init) { (state, step) =>
        val ck = ctx.checkpoint(d.step(state, step, last), step)
        val row = ck.agg(d.aggs.head, d.aggs.tail: _*).head()
        last = Some(row)
        state.unpersist()
        Next(ck.drop(d.flags: _*), if (row.isNullAt(0)) 0.0 else row.getAs[Number](0).doubleValue,
          d.halt(row, step))
      }
      static.unpersist()
      state
    }
  }

  /** A static table as the DataFrame driver caches it: hash-partitioned
    * into `p` partitions and sorted within them on `key`. */
  private[graft] def staticTable(table: DataFrame, key: String, p: Int): DataFrame =
    table.repartition(p, col(key)).sortWithinPartitions(col(key))
      .persist(StorageLevel.MEMORY_AND_DISK)

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
