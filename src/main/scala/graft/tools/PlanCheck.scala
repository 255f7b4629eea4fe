package graft.tools

import graft.graph.LinkGraph
import graft.algo.PageRank
import graft.bsp.{IterativeConf, RunContext, Superstep}

/** Diagnostic: print the two physical plans a DF-PageRank run re-executes
  * every superstep — the step and its convergence aggregate, compiled by
  * `Superstep.compile` from the production program over the run's start
  * state and the graph's own `dedupEdges`, under the loop driver's AQE-off
  * scope — to check that the state⋈edges join and the state-update join
  * reuse the hash partitioning (one Exchange, none over the cached table).
  *
  *   sbt "runMain graft.tools.PlanCheck" */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session("local[8]", 8)
    import spark.implicits._

    val n = 200000L
    val edges = spark.range(0, n, 1, 8).flatMap { i =>
      graft.io.Corpus.linkTargets(i, 8, 42L).map(j => (i, j))
    }.toDF("src", "dst")
    val g = LinkGraph.fromRawEdges(edges)

    IterativeConf.withStablePartitioning(spark) {
      val e = g.dedupTable
      val d = PageRank.dfProgram(g, PageRank.Config())(e.df, e.rows)
      val plans = Superstep.compile(Superstep.start(RunContext.none, d), d)
      println("== step plan (re-executed every superstep, state leaf swapped) ==")
      println(plans.step.plan.treeString)
      println("== aggregate plan (delta + carried sink mass, over the step's checkpoint) ==")
      println(plans.agg.plan.treeString)
    }
    spark.stop()
  }
}
