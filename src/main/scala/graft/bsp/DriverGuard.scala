package graft.bsp

import graft.graph.LinkGraph

/** Guard for the handful of algorithms that intentionally run driver-side
  * (the reference's own sequential implementations: exact LPA replay,
  * Dijkstra, SEIR event queue, Louvain local moves, Brandes betweenness,
  * all-pairs component sets, Tarjan SCC). Instead of a silent
  * executor-to-driver OOM at scale, they fail fast with a clear message
  * naming the documented distributed alternative. Bound override:
  * `graft.driver.maxElements` Spark conf (elements ≈ rows collected). */
object DriverGuard {

  private val DefaultMaxElements: Long = 200L * 1000 * 1000 // ~3-6 GiB of driver heap

  def maxElements(g: LinkGraph): Long =
    g.spark.conf.getOption("graft.driver.maxElements").map(_.toLong)
      .getOrElse(DefaultMaxElements)

  /** Throws if `count` rows are too many to collect safely. */
  def check(g: LinkGraph, algo: String, count: => Long, alternative: String): Unit = {
    val limit = maxElements(g)
    val n = count
    if (n > limit)
      throw new IllegalStateException(
        s"$algo runs driver-side (like the reference's sequential implementation) " +
          s"and would collect $n elements > graft.driver.maxElements=$limit. " +
          s"Scale path: $alternative")
  }

  /** Nodes + distinct edges: what a whole-graph driver-side run collects
    * (the node count is the memoized `nodeFacts` fold, no extra job). */
  def graphElements(g: LinkGraph): Long = g.nodeFacts.count + g.edgeCount

  def checkGraph(g: LinkGraph, algo: String, alternative: String): Unit =
    check(g, algo, graphElements(g), alternative)
}
