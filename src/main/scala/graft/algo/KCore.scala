package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.bsp.{RunContext, Superstep}

/** k-core: iteratively drop nodes whose count of surviving undirected
  * distinct neighbours is < k (raphtory/src/algorithms/cores/k_core.rs:40-101;
  * `deg >= k` survives). The alive-set shrinks monotonically, so the loop
  * converges when the count stops changing. Each level releases the set
  * it replaced, so a run leaves only the returned set persisted. */
object KCore {

  /** Returns the surviving node set as a DataFrame (vid). */
  def coreSet(g: LinkGraph, k: Int, iterCount: Long = Long.MaxValue): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    // k <= 0: the 0-core is every node. The peel loop below recomputes
    // degree from surviving PAIRS, which has no row for isolated nodes —
    // without this early return they would be wrongly dropped
    if (k <= 0) return g.nodes.select($"vid")
    graft.bsp.IterativeConf.withStablePartitioning(spark) {
    val pairs = g.pairTable
    val init = g.degrees.filter($"degree" >= k).select($"vid").localCheckpoint(true)
    Superstep.loop("kcore", RunContext.none, pairs.rows, 1, iterCount, (init, init.count())) {
      case ((alive, aliveCount), _) =>
        val next = pairs.df
          .join(alive.withColumnRenamed("vid", "a"), Seq("a"), "left_semi")
          .join(alive.withColumnRenamed("vid", "b"), Seq("b"), "left_semi")
          .groupBy($"a").agg(count("*").as("d"))
          .filter($"d" >= k).select($"a".as("vid"))
          .localCheckpoint(true)
        val c = next.count()
        Superstep.release(alive) // the eager checkpoint no longer reads it
        Superstep.Next((next, c), (aliveCount - c).toDouble, c == aliveCount)
    }._1
    }
  }
}
