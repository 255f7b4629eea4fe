package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.HashPartitioner
import graft.graph.{CsrBlock, CsrGraph, LinkGraph}
import graft.bsp.CsrSuperstep

/** Global triangle count with the reference's semantics
  * (raphtory/src/algorithms/motifs/triangle_count.rs:64-127): undirected,
  * multi-edge-collapsed, self-loops never count, each triangle counted once.
  * The reference restricts to the 2-core first (an optimisation, not a
  * semantic change); this does not: the iterative peel costs several
  * full-graph shuffle rounds while the degree-ordered enumeration below
  * already bounds the wedge join at O(m^1.5), and non-core edges close no
  * wedges so they fall out of the equi-joins on their own.
  *
  * Graphs within the CSR fit rule are counted by sorted-list intersection
  * on the graph's shared undirected CSR (countCsr). The DataFrame shape,
  * used beyond that rule and by perNode, is the degree-ordered
  * node-iterator join. Edges are oriented
  * from the lower (degree, id) endpoint to the higher, which bounds the
  * wedge-join fan-out by O(m^1.5) and keeps hub skew off the wedge build —
  * the standard scalable formulation for web-graph degree distributions.
  * All joins are equi-joins so Catalyst keeps shuffle-hash/sort-merge plans.
  */
object Triangles {

  /** Dispatches by the shared CSR/DF fit rule: a graph that fits is counted
    * on its shared undirected CSR (countCsr), a larger one by the
    * DataFrame wedge join (enumerate). Both give the same exact count. */
  def count(g: LinkGraph): Long =
    if (g.nodeFacts.maxVid < 0) 0L
    else if (CsrGraph.useCsr(g, "auto")) countCsr(g.undirectedCsr)
    else triangleCountOf(undirectedSimple(g))

  /** Triangle count by sorted-adjacency intersection (HERO, SIGMOD'24)
    * over the undirected gather CSR, instead of materialising wedges:
    *
    *  - the simple degree of every vertex (self-loop excluded) is one
    *    gather over the blocks (CsrSuperstep.gather), then broadcast (4n
    *    bytes);
    *  - each block orients its lists u -> v iff (deg u, u) < (deg v, v),
    *    dropping self-loops; a filtered CsrBlock list stays ascending;
    *  - every out-list with two or more entries is shipped once to each
    *    block owning one of its members (one partitionBy, ≤ min(m, n·P)
    *    records);
    *  - the owner block counts |out(u) ∩ out(v)| by merge for each of its
    *    own v in the received out(u).
    *
    * A triangle a < b < c in that order is found exactly once, on the
    * oriented edge (a, b) with c in both lists. Empty blocks (fewer
    * vertices than partitions) own no vertex and receive nothing. */
  private[graft] def countCsr(csr: CsrGraph): Long = {
    val (n, parts) = (csr.n, csr.blocks.getNumPartitions)
    val (deg, _) = CsrSuperstep.gather(csr, (), new Array[Int](_)) { (b, _, d) =>
      var i = 0
      while (i < d.length) {
        var j = b.offsets(i)
        while (j < b.offsets(i + 1)) { if (b.srcs(j) != b.lo + i) d(i) += 1; j += 1 }
        i += 1
      }
      0L
    }
    val degB = csr.blocks.sparkContext.broadcast(deg)
    val oriented = csr.blocks.map(b => orient(b, degB.value))
    val shipped = oriented.flatMap { o =>
      (0 until o.hi - o.lo).iterator.flatMap { i =>
        val out = o.srcs.slice(o.offsets(i), o.offsets(i + 1))
        if (out.length < 2) Iterator.empty
        else out.iterator.map(v => CsrGraph.blockOf(v, parts, n)).distinct.map(p => (p, out))
      }
    }.partitionBy(new HashPartitioner(parts))
    val total = oriented.zipPartitions(shipped) { (own, in) =>
      val o = own.next()
      var c = 0L
      in.foreach { case (_, out) =>
        // first member ≥ lo (the lists are sorted and duplicate-free)
        var j = java.util.Arrays.binarySearch(out, o.lo)
        if (j < 0) j = -j - 1
        while (j < out.length && out(j) < o.hi) {
          val i = out(j) - o.lo
          c += mergeCount(out, o.srcs, o.offsets(i), o.offsets(i + 1))
          j += 1
        }
      }
      Iterator(c)
    }.fold(0L)(_ + _)
    degB.destroy()
    total
  }

  /** The block's lists oriented by (degree, id): a filter of each
    * ascending list, so still ascending. A self-loop fails u < v and
    * drops out. */
  private def orient(b: CsrBlock, deg: Array[Int]): CsrBlock = {
    def up(u: Int, v: Int) = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
    val w = b.hi - b.lo
    val offsets = new Array[Int](w + 1)
    var i = 0
    while (i < w) {
      var c = 0
      var j = b.offsets(i)
      while (j < b.offsets(i + 1)) { if (up(b.lo + i, b.srcs(j))) c += 1; j += 1 }
      offsets(i + 1) = offsets(i) + c
      i += 1
    }
    val out = new Array[Int](offsets(w))
    i = 0
    while (i < w) {
      var k = offsets(i)
      var j = b.offsets(i)
      while (j < b.offsets(i + 1)) {
        val v = b.srcs(j)
        if (up(b.lo + i, v)) { out(k) = v; k += 1 }
        j += 1
      }
      i += 1
    }
    CsrBlock(b.lo, b.hi, offsets, out)
  }

  /** |a ∩ b[from, until)| for two id-sorted, duplicate-free lists. */
  private def mergeCount(a: Array[Int], b: Array[Int], from: Int, until: Int): Long = {
    var (i, j, c) = (0, from, 0L)
    while (i < a.length && j < until) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Canonical undirected simple edges (a < b), self-loops dropped. */
  private[graft] def undirectedSimple(g: LinkGraph): DataFrame = {
    g.dedupEdges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  private[graft] def triangleCountOf(und0: DataFrame): Long = {
    val und = und0.persist(StorageLevel.MEMORY_AND_DISK)
    val (tri, oriented) = enumerate(und)
    val n = tri.count()
    oriented.unpersist(); und.unpersist()
    n
  }

  /** Enumerate each triangle exactly once as (c, x, y): c = the wedge
    * centre under degree-ordered orientation, x < y its two closing
    * endpoints. `und` must be the canonical (a < b) simple edge table.
    * The degree-order orientation bounds the wedge fan-out by O(m^1.5)
    * regardless of hub degrees — every caller (global count, per-node
    * credits) goes through this one shape so no O(Σ d²) wedge build
    * exists anywhere. Returns (triangles, the persisted oriented edge
    * table — unpersist it after consuming the triangles). */
  private[graft] def enumerate(und: DataFrame): (DataFrame, DataFrame) = {
    // degree-order orientation: lo -> hi by (degree, id)
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(functions.count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("lo"),
        when(aFirst, col("b")).otherwise(col("a")).as("hi"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    oriented.count()
    // wedges centred at lo: pairs of oriented out-neighbours, canonicalised
    val e1 = oriented.select(col("lo").as("c"), col("hi").as("x"))
    val e2 = oriented.select(col("lo").as("c"), col("hi").as("y"))
    val wedges = e1.join(e2, "c").filter(col("x") < col("y"))
    // close the wedge with the canonical undirected edge (x, y)
    val tri = wedges.join(und, col("x") === und("a") && col("y") === und("b"))
      .select(col("c"), col("x"), col("y"))
    (tri, oriented)
  }

  /** Per-node triangle participation over the undirected simple graph:
    * (vid, triangles). Each oriented triangle is enumerated once and
    * explodes exactly 3 member credits — same O(m^1.5) bound as the
    * global count (the naive per-node formulation wedge-joins the full
    * undirected adjacency, which is O(Σ d_v²): a 10^6-degree hub alone
    * yields 10^12 wedge rows). Used by local clustering coefficient
    * (metrics/local_clustering_coefficient.rs:57-77). */
  def perNode(g: LinkGraph): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val und = undirectedSimple(g).persist(StorageLevel.MEMORY_AND_DISK)
    und.count()
    val (tri, oriented) = enumerate(und)
    val credits = tri.select(explode(array($"c", $"x", $"y")).as("vid"))
    val res = credits.groupBy($"vid").agg(functions.count(lit(1)).as("triangles"))
    val out = g.nodes.select($"vid")
      .join(res, Seq("vid"), "left")
      .select($"vid", coalesce($"triangles", lit(0L)).as("triangles"))
      .localCheckpoint(true)
    oriented.unpersist(); und.unpersist()
    out
  }
}
