package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{DirectedAdjacency, LinkGraph}
import graft.bsp.{DriverGuard, RunContext, Superstep}

/** Directed-component algorithms (SURVEY §2.4.5):
  *
  *  - `scc` — strongly connected components. The reference runs sequential
  *    Tarjan (raphtory/src/algorithms/components/scc.rs:24-130), and so do
  *    we whenever the graph fits the driver: the fit test runs FIRST and
  *    picks the plan from the input size (as Pregelix does). Labels are
  *    canonical min-vid members (the reference's numeric labels are
  *    emission-order indices — partition-equal, label-arbitrary).
  *  - `inComponentOf` / `outComponentOf` — the ancestor / descendant set of
  *    one node (components/in_components.rs:106, out_components.rs:109) as
  *    a distributed frontier closure (the same program as sssp's).
  *  - `inComponents` / `outComponents` — per-node ancestor/descendant sets
  *    for all nodes (in_components.rs:36-105). Output is O(n²) — guard
  *    bounded like the reference's single-process BFS-per-node, but the
  *    per-source traversals fan out across executors over the broadcast
  *    directed adjacency (Betweenness's shape), not a driver loop.
  */
object Components {

  /** Returns (vid, name, component_vid, component). A graph whose nodes +
    * distinct edges fit `graft.driver.maxElements` runs Tarjan directly on
    * `LinkGraph.directedAdjacency`: a handful of Spark jobs, no trim round.
    * Above the bound, the distributed TRIM prune (iteratively drop nodes
    * with zero in- or out-degree inside the surviving set — each is a
    * singleton SCC) alternates with FW-BW pivot rounds (Fleischer et al.'s
    * forward/backward reachability decomposition — scc.rs:24-60's prune,
    * distributed) that extract whole SCCs via frontier closures, until the
    * cyclic residual fits and is packed for the same Tarjan — on a web
    * bowtie the first pivot round removes the giant cyclic core. */
  def scc(g: LinkGraph): DataFrame =
    graft.bsp.IterativeConf.withStablePartitioning(g.spark) { scc0(g) }

  private val TrimIters = 50
  private val MaxPivotRounds = 64

  private def scc0(g: LinkGraph): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    // Tarjan labels as (vid, component_vid) rows of the non-singleton
    // members; nodes without a row are singletons labelled by their own vid
    def labelRows(adj: DirectedAdjacency): DataFrame = {
      val label = tarjanMinVid(adj.vids, adj.offsets, adj.targets)
      adj.vids.indices.collect { case i if label(i) != adj.vids(i) => (adj.vids(i), label(i)) }
        .toDF("vid", "component_vid")
    }
    val bound = DriverGuard.maxElements(g)
    val resRows = if (DriverGuard.graphElements(g) <= bound) labelRows(g.directedAdjacency) else {
      // self-loops never bind a node into a larger SCC; dropping them keeps
      // the partition identical and lets trim peel pure-self-loop nodes
      val e0 = g.dedupEdges.filter($"src" =!= $"dst")

      // `eA` is carried INCREMENTALLY: always the edge set induced by the
      // current alive node set, shrunk in place each trim round / after each
      // FW-BW extraction — never re-derived from e0. Lazy localCheckpoints
      // fuse the materialise+count into ONE Spark job per round. `restrict`
      // keeps the edges inside `nodes` (left_semi) or those with neither
      // endpoint in it (left_anti).
      def restrict(e: DataFrame, nodes: DataFrame, how: String): DataFrame = e
        .join(nodes.withColumnRenamed("vid", "src"), Seq("src"), how)
        .join(nodes.withColumnRenamed("vid", "dst"), Seq("dst"), how)

      // distributed trim: iterate until every survivor has an in- and an
      // out-edge within the surviving set (every dropped node is a
      // singleton). State (alive, its count, eA); `n` is the previous alive
      // count (-1 = unknown), and the first round always sets `alive`.
      def trim(eA0: DataFrame, n0: Long): (DataFrame, Long, DataFrame) =
        Superstep.loop("scc-trim", RunContext.none, 0L, 1, TrimIters, (null: DataFrame, n0, eA0)) {
          case ((_, n, eA), _) =>
            val next = eA.select($"src".as("vid")).distinct()
              .join(eA.select($"dst".as("vid")).distinct(), Seq("vid"), "left_semi")
              .localCheckpoint(false)
            val c = next.count() // one job: materialises + caches + counts
            val done = c == n || c == 0
            val eNext = if (done) eA else restrict(eA, next, "left_semi").localCheckpoint(false)
            Superstep.Next((next, c, eNext), c.toDouble, done)
        }

      // pivot rounds: trim; pack the residual for Tarjan once it fits the
      // bound, else extract SCC(pivot) = forward ∩ backward closure of the
      // pivot and peel again. pivot = min alive vid, so it is also the
      // component's canonical min-vid label (the component is a subset of
      // alive).
      val extracted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      @annotation.tailrec
      def peel(eA0: DataFrame, n0: Long, round: Int): Option[DirectedAdjacency] = {
        val (alive, n, eA) = trim(eA0, n0)
        if (n == 0) None
        else {
          val eCount = eA.count() // cached by trim's last materialisation
          if (n + eCount <= bound)
            Some(DirectedAdjacency.pack(eA, alive.as[Long].collect().sorted))
          else {
            // fail fast instead of a silent driver OOM (the residual is above
            // the bound here, so the check throws)
            if (round >= MaxPivotRounds)
              DriverGuard.check(g, "Components.scc residual", n + eCount,
                s"residual still $n nodes / $eCount edges after $MaxPivotRounds FW-BW " +
                  "pivot rounds; raise graft.driver.maxElements or pre-partition the graph")
            val pv = alive.agg(min($"vid")).head().getLong(0)
            val pivot = Seq(pv).toDF("vid")
            def reach(e: DataFrame) = Superstep.withStatic(e, "src")(closure(_, alive, pivot))
            val comp = reach(eA)
              .join(reach(eA.select($"dst".as("src"), $"src".as("dst"))), Seq("vid"), "left_semi")
              .localCheckpoint(true)
            extracted += comp.select($"vid", lit(pv).as("component_vid"))
            peel(restrict(eA, comp, "left_anti").localCheckpoint(false), n - comp.count(), round + 1)
          }
        }
      }
      val residual = peel(e0.localCheckpoint(false), -1L, 0).map(labelRows)
      (extracted ++ residual).reduceOption(_ union _)
        .getOrElse(spark.emptyDataset[(Long, Long)].toDF("vid", "component_vid"))
    }
    g.nodes
      .join(resRows, Seq("vid"), "left")
      .select($"vid", $"name", coalesce($"component_vid", $"vid").as("component_vid"))
      .join(g.nodes.select($"vid".as("component_vid"), $"name".as("component")),
        Seq("component_vid"))
      .select($"vid", $"name", $"component_vid", $"component")
  }

  /** Iterative Tarjan over a compact CSR (`vids` ascending, out-neighbours
    * of index i at targets(offsets(i) until offsets(i + 1))); returns each
    * node's component label = its min-vid member. Explicit DFS stack of
    * (node, next-edge cursor), so path depth never touches the JVM stack. */
  private def tarjanMinVid(vids: Array[Long], offsets: Array[Int], targets: Array[Int]): Array[Long] = {
    val n = vids.length
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n) // Tarjan's component stack
    var sp = 0
    val callV = new Array[Int](n) // DFS call stack: node, next edge
    val callE = new Array[Int](n)
    var cp = 0
    val label = new Array[Long](n)
    var counter = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      callV(cp) = v; callE(cp) = offsets(v); cp += 1
    }
    for (root <- 0 until n if index(root) == -1) {
      visit(root)
      while (cp > 0) {
        val v = callV(cp - 1)
        val e = callE(cp - 1)
        if (e < offsets(v + 1)) {
          callE(cp - 1) = e + 1
          val w = targets(e)
          if (index(w) == -1) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          cp -= 1
          if (cp > 0) low(callV(cp - 1)) = math.min(low(callV(cp - 1)), low(v))
          if (low(v) == index(v)) {
            // pop v's component (the stack top down to v); vids ascend
            // with the index, so the min-index member is the min vid
            var lo = sp - 1
            var minIdx = v
            while (stack(lo) != v) { minIdx = math.min(minIdx, stack(lo)); lo -= 1 }
            var k = lo
            while (k < sp) { onStack(stack(k)) = false; label(stack(k)) = vids(minIdx); k += 1 }
            sp = lo
          }
        }
      }
    }
    label
  }

  /** Descendant set of `source` (nodes reachable over out-edges), excluding
    * the source itself unless it lies on a cycle — matching out_component. */
  def outComponentOf(g: LinkGraph, source: String): DataFrame =
    componentOf(g, source, g.dedupTable)

  /** Ancestor set of `source` (nodes that reach it over out-edges). */
  def inComponentOf(g: LinkGraph, source: String): DataFrame =
    Superstep.withStatic(g.dedupEdges.select(col("dst").as("src"), col("src").as("dst")), "src")(
      componentOf(g, source, _))

  /** The closure seeded with the source's one-hop neighbours over `e`, so
    * the source joins only through a cycle. Returns (vid, name). */
  private def componentOf(g: LinkGraph, source: String, e: Superstep.Static): DataFrame = {
    val src = g.nodes.filter(col("name") === source).select(col("vid"))
    val seeds = src.join(e.df, src("vid") === e.df("src")).select(col("dst").as("vid")).distinct()
    closure(e, g.nodes.select(col("vid")), seeds).join(g.nodes, Seq("vid")).select(col("vid"), col("name"))
  }

  /** BFS closure: every key of `keys` reachable from the distinct `seeds`
    * (vid) in zero or more hops over the static (src, dst) table `edges`,
    * seeds included — the frontier program on the superstep driver, one
    * job per level. Returns (vid). */
  private def closure(edges: Superstep.Static, keys: DataFrame, seeds: DataFrame): DataFrame =
    Superstep.dataFrame("closure", RunContext.none, edges)(
      Pathing.frontierProgram(keys, seeds, Long.MaxValue, "src", "dst"))
      .filter(col("dist").isNotNull).select(col("vid"))

  /** All-nodes ancestor (dir="in") or descendant (dir="out") sets:
    * (vid, name, members: array of member names, sorted by vid). */
  def allComponents(g: LinkGraph, dir: String): DataFrame = {
    DriverGuard.checkGraph(g, "Components.allComponents",
      "inComponentOf/outComponentOf per node (distributed frontier joins); the all-nodes output is O(n^2) regardless")
    val spark = g.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val adj = g.directedAdjacency
    // vid order = the adjacency's index order
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect().sortBy(_._1)
    // per-source reachability is embarrassingly parallel: sources fan out
    // as an RDD over the broadcast adjacency (Betweenness's shape), each
    // partition reusing one seen[] reset in O(|previous component|). The
    // member arrays never gather on the driver — the result stays a
    // distributed DataFrame (the O(n^2) output regime is what the guard
    // above bounds).
    val (offsets, targets) = if (dir == "out") (adj.offsets, adj.targets) else adj.in
    val bcOff = sc.broadcast(offsets)
    val bcTgt = sc.broadcast(targets)
    val bcNodes = sc.broadcast(nodes)
    val slices = math.max(1, math.min(adj.vids.length, sc.defaultParallelism * 2))
    val rows = sc.parallelize(adj.vids.indices, slices).mapPartitions { srcs =>
      val off = bcOff.value
      val tgt = bcTgt.value
      val nds = bcNodes.value
      val seen = new Array[Boolean](off.length - 1)
      val touched = new scala.collection.mutable.ArrayBuffer[Int]
      val stack = new scala.collection.mutable.ArrayBuffer[Int]
      srcs.map { i =>
        var t = 0
        while (t < touched.length) { seen(touched(t)) = false; t += 1 }
        touched.clear()
        stack.clear()
        // the source joins its own member set only via a cycle (reference
        // out_components.rs): seed the stack with i's neighbours, never
        // pre-mark i itself
        var e = off(i)
        while (e < off(i + 1)) { stack += tgt(e); e += 1 }
        while (stack.nonEmpty) {
          val v = stack.remove(stack.length - 1)
          if (!seen(v)) {
            seen(v) = true; touched += v
            var k = off(v)
            while (k < off(v + 1)) { stack += tgt(k); k += 1 }
          }
        }
        // touched IS this source's member set (reset happens next round)
        (nds(i)._1, nds(i)._2, touched.sorted.map(j => nds(j)._2).toSeq)
      }
    }
    spark.createDataset(rows).toDF("vid", "name", "members")
  }
}
