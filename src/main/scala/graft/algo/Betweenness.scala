package graft.algo

import org.apache.spark.sql.DataFrame
import graft.graph.LinkGraph

/** Betweenness centrality — Brandes over distinct OUT-neighbours with an
  * optional first-k-sources sample and 1/((n−1)(n−2)) normalisation,
  * matching the reference's sequential algorithm
  * (raphtory/src/algorithms/centrality/betweenness.rs:21-115).
  *
  * Physical shape: every source's BFS + dependency accumulation is
  * independent, so sources fan out as one RDD map over the broadcast
  * out-CSR of `LinkGraph.directedAdjacency`; each partition runs its
  * sources sequentially and emits ONE partial delta array, tree-reduced to
  * the final sums. Parallelism scales with the source sample (the
  * expensive axis: Brandes is O(sources · edges)); the broadcast graph is
  * bounded by `DriverGuard.checkGraph` — beyond that the exact algorithm
  * is infeasible anyway and sampling (k) is the standard recourse. */
object Betweenness {

  /** Returns (vid, name, value). Sources = first `k` nodes in VID order
    * (all nodes when k = None). */
  def run(g: LinkGraph, k: Option[Int] = None, normalized: Boolean = false): DataFrame = {
    graft.bsp.DriverGuard.checkGraph(g, "Betweenness.run",
      "sample fewer sources on a subgraph; exact Brandes needs the broadcast adjacency")
    val spark = g.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val adj = g.directedAdjacency
    val n = adj.vids.length
    val bcOff = sc.broadcast(adj.offsets)
    val bcTgt = sc.broadcast(adj.targets)
    // one slice even for zero sources: its all-zero partial is the result
    val kSample = k.getOrElse(n).min(n)
    val slices = math.max(1, math.min(kSample, sc.defaultParallelism * 2))
    val betweenness = sc.parallelize(0 until kSample, slices)
      .mapPartitions { sources =>
        val off = bcOff.value
        val tgt = bcTgt.value
        val nn = off.length - 1
        val acc = new Array[Double](nn)
        val preds = Array.fill(nn)(List.empty[Int])
        val sigma = new Array[Double](nn)
        val dist = new Array[Long](nn)
        val stack = new scala.collection.mutable.ArrayBuffer[Int](nn)
        val queue = scala.collection.mutable.Queue.empty[Int]
        val delta = new Array[Double](nn)
        sources.foreach { s =>
          java.util.Arrays.fill(sigma, 0.0)
          java.util.Arrays.fill(dist, -1L)
          java.util.Arrays.fill(delta, 0.0)
          var p = 0
          while (p < nn) { preds(p) = Nil; p += 1 }
          stack.clear()
          sigma(s) = 1.0; dist(s) = 0L; queue.enqueue(s)
          while (queue.nonEmpty) {
            val v = queue.dequeue()
            stack += v
            var e = off(v)
            while (e < off(v + 1)) {
              val w = tgt(e)
              if (dist(w) < 0) { queue.enqueue(w); dist(w) = dist(v) + 1 }
              if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) = v :: preds(w) }
              e += 1
            }
          }
          var si = stack.length - 1
          while (si >= 0) {
            val w = stack(si)
            preds(w).foreach { v => delta(v) += (sigma(v) / sigma(w)) * (1.0 + delta(w)) }
            if (w != s) acc(w) += delta(w)
            si -= 1
          }
        }
        Iterator(acc)
      }
      .treeReduce({ (a, b) =>
        var j = 0
        while (j < a.length) { a(j) += b(j); j += 1 }
        a
      }, depth = 2)
    bcOff.destroy(); bcTgt.destroy()

    // n <= 2: every betweenness is 0 and the 1/((n-1)(n-2)) factor would
    // be Inf/NaN — 0 * Inf = NaN poisons the result column
    val factor = if (normalized && n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0
    // vid order = the adjacency's index order
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect().sortBy(_._1)
    nodes.indices.map(i => (nodes(i)._1, nodes(i)._2, betweenness(i) * factor)).toDF("vid", "name", "value")
  }
}
