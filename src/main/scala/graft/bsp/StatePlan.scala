package graft.bsp

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.GraftFrames
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.functions.udf

/** A physical plan built ONCE over a loop's state and re-executed over each
  * superstep's new state (the Pregelix shape: one dataflow plan, iterated).
  *
  * `leaf` is a state frame over a LogicalRDD (a checkpoint); `build` turns
  * it into the step, and Catalyst analyses, optimises, plans and
  * code-generates that frame once. The state leaf is then an RDDScanExec
  * reporting the checkpoint's key partitioning, so no exchange is planned
  * over it. `over(state)` swaps the leaf's RDD: `transformUp` copies every
  * ancestor of the leaf, so each run gets fresh ShuffleExchangeExecs and
  * can never read an earlier run's shuffle output. Subtrees that do not
  * read the state (the cached static table's scan) are shared; they hold
  * no exchange (PlanSpec).
  *
  * A state swapped in must carry the leaf's columns first, in order:
  * extra trailing columns (those only a step's aggregates read) are never
  * read, since the scan reads fields by ordinal. */
final class StatePlan(leaf: DataFrame, build: DataFrame => DataFrame) {
  private val leafRdd = StatePlan.rddOf(leaf)
  private val frame = build(leaf)
  val plan: SparkPlan = frame.queryExecution.executedPlan

  /** The compiled plan reading `state` wherever it read the leaf. */
  def over(state: RDD[InternalRow]): SparkPlan =
    plan.transformUp { case s: RDDScanExec if s.rdd eq leafRdd => s.copy(rdd = state) }

  /** The plan's output over `state`, as a lazy frame with the plan's
    * output columns and key partitioning: no Catalyst work beyond wrapping. */
  def run(state: RDD[InternalRow]): DataFrame =
    GraftFrames.ofRdd(frame.sparkSession, plan.output, over(state).execute(),
      StatePlan.leafPartitioning(plan.outputPartitioning))

  /** An empty frame of this plan's output shape, for building a second
    * plan over the output (its RDD is swapped before every run). */
  def outputLeaf: DataFrame =
    GraftFrames.ofRdd(frame.sparkSession, plan.output, frame.sparkSession.sparkContext.emptyRDD[InternalRow],
      StatePlan.leafPartitioning(plan.outputPartitioning))
}

object StatePlan {
  /** The RDD behind a checkpointed frame: what the next run swaps in. */
  def rddOf(state: DataFrame): RDD[InternalRow] = state.queryExecution.logical match {
    case l: LogicalRDD => l.rdd
    case other => throw new IllegalArgumentException(
      s"a superstep state must be a checkpointed frame (a LogicalRDD), got ${other.nodeName}")
  }

  /** The first partitioning of a collection (a join reports both sides'),
    * as localCheckpoint records it. */
  private[bsp] def leafPartitioning(p: Partitioning): Partitioning = p match {
    case PartitioningCollection(ps) => leafPartitioning(ps.head)
    case other => other
  }

  /** Whether rows partitioned by `a` (over columns `aOut`) and by `b`
    * (over `bOut`) land in the same partitions: both one partition, or both
    * a hash of the same key column into as many partitions. */
  private[bsp] def samePartitioning(a: Partitioning, aOut: Seq[Attribute],
                                    b: Partitioning, bOut: Seq[Attribute]): Boolean = {
    def hashKey(p: Partitioning, output: Seq[Attribute]) = leafPartitioning(p) match {
      case HashPartitioning(Seq(k: Attribute), n) =>
        Some(output.indexWhere(_.exprId == k.exprId)).filter(_ >= 0).map(_ -> n)
      case _ => None
    }
    a.numPartitions == 1 && b.numPartitions == 1 || hashKey(a, aOut).exists(hashKey(b, bOut).contains)
  }

  /** A per-step scalar of a compiled plan (PageRank's sink term, HITS's
    * normalisation totals, LPA's colour): `col` reads the value the driver
    * bound last with `set`. It is a zero-argument nondeterministic UDF, so
    * Catalyst never folds it into the plan as a literal; the value travels
    * in the task closure, serialised when the stage that evaluates it is
    * submitted, i.e. inside the step the driver bound it for. */
  final class Param extends Serializable {
    @volatile private var v = 0.0
    def set(x: Double): Unit = v = x
    @transient lazy val col: Column = udf(() => v).asNondeterministic()()
  }
}
