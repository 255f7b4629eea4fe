package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.bsp.{RunContext, Superstep}

/** k-core: iteratively drop nodes whose count of surviving undirected
  * distinct neighbours is < k (raphtory/src/algorithms/cores/k_core.rs:40-101;
  * `deg >= k` survives). The alive set shrinks monotonically, so the peel
  * converges when a step drops no node. */
object KCore {

  /** Returns the surviving node set as a DataFrame (vid). */
  def coreSet(g: LinkGraph, k: Int, iterCount: Long = Long.MaxValue): DataFrame = {
    // k <= 0: the 0-core is every node. The peel below counts surviving
    // neighbours over PAIRS, which has no row for isolated nodes —
    // without this early return they would be wrongly dropped
    if (k <= 0) return g.nodes.select(col("vid"))
    Superstep.dataFrame("kcore", RunContext.none, g.pairTable)(peelProgram(g, k, iterCount))
      .filter(col("alive")).select(col("vid"))
  }

  /** The peel program over the (a, b) pair table: state (vid, alive) over
    * every node, alive = degree >= k before the first step; the run halts
    * when a step drops no node, or after `iterCount` steps. */
  private[graft] def peelProgram(g: LinkGraph, k: Int, iterCount: Long)(pairs: DataFrame, m: Long): Superstep.Dense =
    Superstep.Dense(
      init = g.degrees.select(col("vid"), (col("degree") >= k).as("alive")),
      maxSteps = iterCount,
      step = peelStep(_, pairs, k),
      aggs = Seq(count(when(col("dropped"), 1))),
      halt = (r, _) => r.getLong(0) == 0)

  /** One peel step (PlanSpec audits it through `peelProgram`): each alive
    * row sends one message per pair (co-partitioned shuffled-hash join on
    * a, no exchange), a count per b is the one exchange, and the state
    * left-joins the counts shuffled-hash: alive' = alive and count >= k.
    * Returns (vid, alive, dropped); a state restored from a snapshot
    * still carries the last step's `dropped` column, which is ignored. */
  private def peelStep(state: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val alive = state.filter(col("alive"))
    val counts = alive.hint("shuffle_hash").join(pairs, alive("vid") === pairs("a"))
      .groupBy(pairs("b")).agg(count("*").as("n"))
    val kept = coalesce(counts("n"), lit(0L)) >= k
    state.join(counts.hint("shuffle_hash"), state("vid") === counts("b"), "left")
      .select(state("vid"), (state("alive") && kept).as("alive"), (state("alive") && !kept).as("dropped"))
  }
}
