package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.LinkGraph
import graft.bsp.{RunContext, Superstep}

/** Directed-component algorithms (SURVEY §2.4.5):
  *
  *  - `scc` — strongly connected components. The reference prunes by
  *    forward reachability then runs sequential Tarjan
  *    (raphtory/src/algorithms/components/scc.rs:24-130). Our scale shape
  *    is the classic distributed TRIM prune (Fleischer/FW-BW): iteratively
  *    drop nodes with zero in- or out-degree inside the surviving set —
  *    every dropped node is a singleton SCC, and on web-shaped DAG-ish
  *    graphs trim removes nearly everything. Only the cyclic RESIDUAL is
  *    collected for an iterative (explicit-stack) Tarjan, so the full edge
  *    list never reaches the driver. Labels are canonical min-vid members
  *    (the reference's numeric labels are emission-order indices —
  *    partition-equal, label-arbitrary).
  *  - `inComponentOf` / `outComponentOf` — the ancestor / descendant set of
  *    one node (components/in_components.rs:106, out_components.rs:109) as
  *    a distributed frontier closure (the same step as sssp's).
  *  - `inComponents` / `outComponents` — per-node ancestor/descendant sets
  *    for all nodes (in_components.rs:36-105). Output is O(n²) — guard
  *    bounded like the reference's single-process BFS-per-node, but the
  *    per-source traversals fan out across executors over a broadcast CSR
  *    (Betweenness's shape) instead of looping on the driver.
  */
object Components {

  /** Returns (vid, name, component_vid, component). `TrimIters` bounds
    * each distributed trim loop. The residual cyclic core is collected
    * for the iterative Tarjan ONLY while it fits the DriverGuard bound
    * (`graft.driver.maxElements`, nodes + edges); above it, distributed
    * FW-BW pivot rounds (Fleischer et al.'s forward/backward reachability
    * decomposition — the same prune idea as scc.rs:24-60, distributed)
    * extract whole SCCs via frontier closures until the residual fits —
    * on a web bowtie the first pivot round removes the giant cyclic core,
    * so no O(core) collect ever reaches the driver. */
  def scc(g: LinkGraph): DataFrame =
    graft.bsp.IterativeConf.withStablePartitioning(g.spark) { scc0(g) }

  private val TrimIters = 50
  private val MaxPivotRounds = 64

  private def scc0(g: LinkGraph): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    // self-loops never bind a node into a larger SCC; dropping them keeps
    // the partition identical and lets trim peel pure-self-loop nodes
    val e0 = g.dedupEdges.filter($"src" =!= $"dst")

    // `eA` is carried INCREMENTALLY: always the edge set induced by the
    // current alive node set, shrunk in place each trim round / after each
    // FW-BW extraction — never re-derived from e0 (r4 verdict: the two
    // full-e0 semi-joins per round were pure fixed cost at small sf and
    // wasted re-scans at scale). Lazy localCheckpoints fuse the
    // materialise+count into ONE Spark job per round. `restrict` keeps the
    // edges inside `nodes` (left_semi) or those with neither endpoint in
    // it (left_anti).
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

    // pivot rounds: trim; collect the residual for Tarjan once it fits the
    // bound, else extract SCC(pivot) = forward ∩ backward closure of the
    // pivot and peel again. pivot = min alive vid, so it is also the
    // component's canonical min-vid label (the component is a subset of
    // alive).
    val bound = graft.bsp.DriverGuard.maxElements(g)
    val extracted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    @annotation.tailrec
    def peel(eA0: DataFrame, n0: Long, round: Int): Option[(Array[Long], Array[(Long, Long)])] = {
      val (alive, n, eA) = trim(eA0, n0)
      if (n == 0) None
      else {
        val eCount = eA.count() // cached by trim's last materialisation
        if (n + eCount <= bound)
          Some((alive.as[Long].collect().sorted, eA.select("src", "dst").as[(Long, Long)].collect()))
        else {
          // fail fast instead of a silent driver OOM (the residual is above
          // the bound here, so the check throws)
          if (round >= MaxPivotRounds)
            graft.bsp.DriverGuard.check(g, "Components.scc residual", n + eCount,
              s"residual still $n nodes / $eCount edges after $MaxPivotRounds FW-BW " +
                "pivot rounds; raise graft.driver.maxElements or pre-partition the graph")
          val pv = alive.agg(min($"vid")).head().getLong(0)
          val pivot = Seq(pv).toDF("vid")
          val comp = closure(eA, pivot)
            .join(closure(eA.select($"dst".as("src"), $"src".as("dst")), pivot), Seq("vid"), "left_semi")
            .localCheckpoint(true)
          extracted += comp.select($"vid", lit(pv).as("component_vid"))
          peel(restrict(eA, comp, "left_anti").localCheckpoint(false), n - comp.count(), round + 1)
        }
      }
    }
    val residual = peel(e0.localCheckpoint(false), -1L, 0)

    val residualRows = residual match {
      case Some((ids, edges)) => tarjanMinVid(ids, edges).toSeq.toDF("vid", "component_vid")
      case None => spark.emptyDataset[(Long, Long)].toDF("vid", "component_vid")
    }
    // trimmed nodes are singleton SCCs labelled by their own vid
    val resRows = (extracted :+ residualRows).reduce(_ union _)
    g.nodes
      .join(resRows, Seq("vid"), "left")
      .select($"vid", $"name", coalesce($"component_vid", $"vid").as("component_vid"))
      .join(g.nodes.select($"vid".as("component_vid"), $"name".as("component")),
        Seq("component_vid"))
      .select($"vid", $"name", $"component_vid", $"component")
  }

  /** Iterative Tarjan over a compact node subset; returns vid → component
    * min-vid for every input node. */
  private def tarjanMinVid(ids: Array[Long], edges: Array[(Long, Long)]): Map[Long, Long] = {
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (s, d) => adj(idx(s)) = idx(d) :: adj(idx(s)) }

    // iterative Tarjan
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    val comp = Array.fill(n)(-1)
    var counter = 0
    for (root <- 0 until n if index(root) == -1) {
      // work stack of (node, remaining neighbours)
      var work = List((root, adj(root)))
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack(root) = true
      while (work.nonEmpty) {
        val (v, rest) = work.head
        rest match {
          case w :: tail =>
            work = (v, tail) :: work.tail
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack(w) = true
              work = (w, adj(w)) :: work
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          case Nil =>
            work = work.tail
            work match {
              case (parent, _) :: _ => low(parent) = math.min(low(parent), low(v))
              case Nil =>
            }
            if (low(v) == index(v)) {
              // pop the component; canonical label = min vid member
              var members = List.empty[Int]
              var top = -1
              while (top != v) {
                top = stack.remove(stack.length - 1)
                onStack(top) = false
                members = top :: members
              }
              val label = members.map(ids(_)).min
              members.foreach(m => comp(m) = idx(label))
            }
        }
      }
    }
    (0 until n).map(i => ids(i) -> ids(comp(i))).toMap
  }

  /** Descendant set of `source` (nodes reachable over out-edges), excluding
    * the source itself unless it lies on a cycle — matching out_component. */
  def outComponentOf(g: LinkGraph, source: String): DataFrame =
    componentOf(g, source, g.dedupEdges)

  /** Ancestor set of `source` (nodes that reach it over out-edges). */
  def inComponentOf(g: LinkGraph, source: String): DataFrame =
    componentOf(g, source, g.dedupEdges.select(col("dst").as("src"), col("src").as("dst")))

  /** The closure seeded with the source's one-hop neighbours over `e`, so
    * the source joins only through a cycle. Returns (vid, name). */
  private def componentOf(g: LinkGraph, source: String, e: DataFrame): DataFrame = {
    val src = g.nodes.filter(col("name") === source).select(col("vid"))
    val seeds = src.join(e, src("vid") === e("src")).select(col("dst").as("vid")).distinct()
    closure(e, seeds).join(g.nodes, Seq("vid")).select(col("vid"), col("name"))
  }

  /** BFS closure: every node reachable from `seeds` (vid) in zero or more
    * hops over `edges` (src, dst), seeds included — `Pathing.bfs` with the
    * frontier step, against the edge table hash-partitioned on src once
    * and persisted. One job per level: the frontier count materialises its
    * lazy checkpoint, and the lazy visited union materialises inside the
    * next level's job. */
  private def closure(edges: DataFrame, seeds: DataFrame): DataFrame =
    graft.bsp.IterativeConf.withStablePartitioning(edges.sparkSession) {
      val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val e = edges.repartition(p, col("src")).persist(StorageLevel.MEMORY_AND_DISK)
      val m = e.count()
      val init = seeds.repartition(p, col("vid")).localCheckpoint(false)
      val visited = Pathing.bfs("closure", m, Long.MaxValue, init, eager = false) { (frontier, visited, _) =>
        Pathing.frontierStep(frontier, visited, e).select(col("vid"))
      }
      e.unpersist()
      visited
    }

  /** All-nodes ancestor (dir="in") or descendant (dir="out") sets:
    * (vid, name, members: array of member names, sorted by vid). */
  def allComponents(g: LinkGraph, dir: String): DataFrame = {
    // nodes + edges: the run collects BOTH tables, so a many-isolated-nodes
    // graph with few edges must trip the guard too
    graft.bsp.DriverGuard.check(g, "Components.allComponents", g.nodeCount + g.edgeCount,
      "inComponentOf/outComponentOf per node (distributed frontier joins); the all-nodes output is O(n^2) regardless")
    val spark = g.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect().sortBy(_._1)
    val n = nodes.length
    if (n == 0)
      return spark.emptyDataset[(Long, String, Seq[String])].toDF("vid", "name", "members")
    val idx = nodes.map(_._1).zipWithIndex.toMap
    // per-source reachability is embarrassingly parallel: sources fan out
    // as an RDD over a broadcast compact CSR (Betweenness's shape), each
    // partition reusing one seen[] reset in O(|previous component|). The
    // member arrays never gather on the driver — the result stays a
    // distributed DataFrame (the O(n^2) output regime is what the guard
    // above bounds).
    val (offsets, targets) = BroadcastCsr.pack(g, idx, n, swap = dir != "out")
    val bcOff = sc.broadcast(offsets)
    val bcTgt = sc.broadcast(targets)
    val bcNodes = sc.broadcast(nodes)
    val slices = math.min(n, math.max(1, sc.defaultParallelism * 2))
    val rows = sc.parallelize(0 until n, slices).mapPartitions { srcs =>
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
