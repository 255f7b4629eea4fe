package graft.tools

import org.apache.spark.sql.SparkSession
import graft.graph.LinkGraph
import graft.algo.PageRank

/** Diagnostic: print the physical plan of one DF-PageRank superstep — the
  * production step builder on a checkpointed state over the graph's own
  * `dedupEdges`, under the loop driver's AQE-off scope — to check that the
  * state⋈edges join and the state-update join reuse the hash partitioning
  * (no extra Exchange). */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val n = 200000L
    val edges = spark.range(0, n, 1, 8).flatMap { i =>
      graft.io.Corpus.linkTargets(i, 8, 42L).map(j => (i, j))
    }.toDF("src", "dst")
    val g = LinkGraph.fromRawEdges(edges)

    graft.bsp.IterativeConf.withStablePartitioning(spark) {
      val e = g.dedupEdges
      val state = PageRank.initState(g.nodes, e, n).repartition(8, $"vid").localCheckpoint(true)
      PageRank.superstep(state, e, 0.85, 0.15 / n, 0.0).explain("formatted")
    }
    spark.stop()
  }
}
