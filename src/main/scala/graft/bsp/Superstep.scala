package graft.bsp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one superstep loop driver (the analogue of the reference's BSP
  * TaskRunner, raphtory/src/db/task/task_runner.rs) for the dense loops of
  * both physical engines. An algorithm supplies its state, a step function
  * and a halting rule; the driver owns the loop, the step numbering, the
  * `StepStat` timing + `ctx.record`, and the `ctx.finish()` barrier. The
  * DataFrame variant additionally owns the AQE scoping, `restoreOrInit`,
  * the step and aggregate plans (built once per run and re-executed every
  * superstep), and the lazy checkpoint fused with the convergence
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
    * @param step     the step over a state frame, built ONCE per run: the
    *                 next state, the state's columns first, then any columns
    *                 only the aggregates read (the run returns the init's
    *                 columns); per-step scalars are `StatePlan.Param` columns
    * @param aggs     convergence aggregates over the next state; the first
    *                 is the delta recorded in the step's StepStat
    * @param halt     (aggregate row, step) => stop after this step; the row
    *                 is `aggs` followed by `carry`
    * @param carry    aggregates over a state that the NEXT step needs: taken
    *                 with `aggs` in each step's job, and over the restored or
    *                 init state in the job that materialises it
    * @param bind     (carry row, step) => set the step's params before it runs */
  final case class Dense(
      init: DataFrame,
      maxSteps: Long,
      step: DataFrame => DataFrame,
      aggs: Seq[Column],
      halt: (Row, Int) => Boolean,
      carry: Seq[Column] = Nil,
      bind: (Row, Int) => Unit = (_, _) => ())

  /** A static join table (the edges or pairs a loop joins) and its row count. */
  final case class Static(df: DataFrame, rows: Long)

  /** The one static join table definition: `rows` hash-partitioned on `key`
    * (shuffle partitions), deduplicated (that partitioning clusters whole
    * rows, so no second exchange), sorted within partitions on `key`,
    * persisted and counted in one job planned under IterativeConf (under AQE
    * the count alone is two). The caller releases `df`. */
  def staticTable(rows: DataFrame, key: String): Static =
    IterativeConf.withStablePartitioning(rows.sparkSession) {
      val df = staticFrame(rows, key)
      Static(df, df.count()) // the count also materialises the cache
    }

  /** `staticTable`'s frame, persisted but not yet materialised, for a job
    * that builds it with other tables (`LinkGraph.fromPages`). */
  def staticFrame(rows: DataFrame, key: String): DataFrame =
    IterativeConf.withStablePartitioning(rows.sparkSession) {
      val p = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      rows.repartition(p, col(key)).distinct().sortWithinPartitions(col(key))
        .persist(StorageLevel.MEMORY_AND_DISK)
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
    * neither builds, counts nor releases it.
    *
    * The step and its aggregate are planned ONCE per run (`compile`), over
    * the state `ctx.restoreOrInit` returns; each superstep re-executes the
    * compiled plans with the state leaf's RDD swapped (`StatePlan.over`),
    * after `bind` has set the step's params. Each superstep is ONE Spark
    * job: the step's output goes through the lazy `ctx.checkpoint` and the
    * aggregate materialises it. Returns the final state's init columns,
    * checkpointed (a restored snapshot carries the same names). */
  def dataFrame(algo: String, ctx: RunContext, table: Static)(
      program: (DataFrame, Long) => Dense): DataFrame = {
    val spark = table.df.sparkSession
    IterativeConf.withStablePartitioning(spark) {
      val d = program(table.df, table.rows)
      val init = start(ctx, d)
      lazy val plans = compile(init, d)
      // the carry row the next step binds; the first step's comes from the
      // job that materialises the restored or init state
      var carry: Row = null
      val last = loop(algo, ctx, table.rows, ctx.startStep + 1, d.maxSteps, init) { (state, step) =>
        if (carry == null)
          carry = if (d.carry.isEmpty) Row.empty else state.agg(d.carry.head, d.carry.tail: _*).head()
        d.bind(carry, step)
        val ck = ctx.checkpoint(plans.step.run(StatePlan.rddOf(state)), step)
        val row = plans.agg.over(StatePlan.rddOf(ck)).executeCollectPublic().head
        carry = Row.fromSeq(row.toSeq.drop(d.aggs.size))
        Next(ck, if (row.isNullAt(0)) 0.0 else row.getAs[Number](0).doubleValue, d.halt(row, step))
      }
      last.select(d.init.columns.map(col): _*)
    }
  }

  /** The state a run of `d` starts from: the restored state, or the init
    * hash-partitioned on its key column, checkpointed by `ctx`. */
  def start(ctx: RunContext, d: Dense): DataFrame = {
    val p = d.init.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    ctx.restoreOrInit(d.init.repartition(p, col(d.init.columns.head)))
  }

  /** A program's step and aggregate, each planned once over `state`. */
  final case class Compiled(step: StatePlan, agg: StatePlan)

  /** Plans `d`'s step over `state` (a checkpointed frame) and its
    * aggregates (`aggs` then `carry`) over the step's output. The step
    * must keep the state's columns first and its key partitioning, since
    * each later step reads the previous output through the same leaf. */
  def compile(state: DataFrame, d: Dense): Compiled = {
    val step = new StatePlan(state, d.step)
    val in = state.queryExecution.logical.asInstanceOf[LogicalRDD]
    val out = step.plan.output
    def shape(as: Seq[Attribute]) = as.map(a => a.name -> a.dataType)
    require(shape(out.take(in.output.size)) == shape(in.output),
      s"a step must keep its state's columns first: ${shape(in.output)} -> ${shape(out)}")
    require(StatePlan.samePartitioning(in.outputPartitioning, in.output, step.plan.outputPartitioning, out),
      s"a step must keep its state's key partitioning: ${in.outputPartitioning} -> ${step.plan.outputPartitioning}")
    val aggs = d.aggs ++ d.carry
    Compiled(step, new StatePlan(step.outputLeaf, _.agg(aggs.head, aggs.tail: _*)))
  }

  /** Drops the executor copy of a checkpointed frame that nothing reads any
    * more (`Dataset.unpersist` does not reach a checkpoint's RDD). */
  def release(state: DataFrame): Unit = StatePlan.rddOf(state).unpersist(blocking = false)

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
