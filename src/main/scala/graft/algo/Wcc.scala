package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.LinkGraph
import graft.bsp.{RunContext, StepStat}

/** Weakly connected components — min-label (HashMin) propagation with the
  * exact semantics of the reference
  * (raphtory/src/algorithms/components/connected_components.rs:34-93):
  *
  *  - init: label(v) = min(vid, min over undirected distinct neighbours);
  *  - superstep: adopt min of neighbours' previous labels if smaller;
  *  - stop when nothing changed (or after iterCount supersteps);
  *  - result label = the GID of the node whose VID equals the final label,
  *    i.e. the component representative is the earliest-ingested member —
  *    which is why VID minting order matters (SURVEY §7.4).
  *
  * One shuffle per superstep (the min-message aggregation); the state and
  * neighbour-pair tables are co-hash-partitioned on the vertex id.
  */
object Wcc {

  val InMemMaxIds: Long = 32L * 1000 * 1000

  /** Returns (vid, name, component_vid, component) where `component` is the
    * representative's GID (name). Auto-dispatches between the CSR fast path
    * (id space fits memory) and the shuffle-based DataFrame supersteps. */
  def run(g: LinkGraph, iterCount: Long = Long.MaxValue, ctx: RunContext = RunContext.none,
          mode: String = "auto"): DataFrame = {
    if (g.nodeFacts.maxVid < 0)
      return g.nodes.select(col("vid"), col("name"), col("vid").as("component_vid"),
        col("name").as("component")).limit(0)
    if (graft.graph.CsrGraph.useCsr(g, mode, InMemMaxIds)) runCsr(g, iterCount, ctx)
    else runDf(g, iterCount, ctx)
  }

  private def runCsr(g: LinkGraph, iterCount: Long, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val labels = graft.bsp.CsrSuperstep.wcc(g.undirectedCsr, iterCount, ctx)
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect()
    val names = nodes.toMap
    val rows = nodes.map { case (v, nm) =>
      val c = labels(v.toInt).toLong
      (v, nm, c, names(c))
    }
    spark.createDataset(rows.toSeq).toDF("vid", "name", "component_vid", "component")
  }

  private def runDf(g: LinkGraph, iterCount: Long, ctx: RunContext): DataFrame =
    graft.bsp.IterativeConf.withStablePartitioning(g.spark) { runDf0(g, iterCount, ctx) }

  private def runDf0(g: LinkGraph, iterCount: Long, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt

    val pairs = g.undirectedPairs.repartition(p, $"a").sortWithinPartitions($"a").persist(StorageLevel.MEMORY_AND_DISK)
    val pairCount = pairs.count()

    // init: least(vid, min neighbour vid)
    val nbrMin = pairs.groupBy($"a").agg(min($"b").as("nbr_min"))
    val init = g.nodes.select($"vid")
      .join(nbrMin, $"vid" === $"a", "left")
      .select($"vid", least($"vid", coalesce($"nbr_min", $"vid")).as("label"))

    var state = ctx.restoreOrInit(init.repartition(p, $"vid"))
    var step = ctx.startStep
    var done = false

    while (!done && step < iterCount) {
      step += 1
      val t0 = System.nanoTime()
      val msgs = state.hint("shuffle_hash").join(pairs, state("vid") === pairs("a"))
        .groupBy($"b").agg(min($"label").as("cand"))

      val newState = state.join(msgs.hint("shuffle_hash"), state("vid") === msgs("b"), "left")
        .select(state("vid"),
          least($"label", coalesce($"cand", $"label")).as("label"),
          (coalesce($"cand", $"label") < $"label").as("changed"))

      val ck = ctx.checkpoint(newState, step)
      val changed = ck.agg(sum(when($"changed", 1L).otherwise(0L))).head().getLong(0)
      state.unpersist()
      state = ck.drop("changed")
      done = changed == 0
      ctx.record(StepStat("wcc", step, pairCount, pairCount, changed.toDouble,
        (System.nanoTime() - t0) / 1e6))
    }
    ctx.finish() // barrier: async snapshot commits durable before returning
    pairs.unpersist()
    state
      .join(g.nodes, Seq("vid"))
      .join(g.nodes.select($"vid".as("label"), $"name".as("component")), Seq("label"))
      .select($"vid", $"name", $"label".as("component_vid"), $"component")
  }

  /** Largest connected component: the induced subgraph of the biggest WCC
    * (algorithms/components/lcc.rs:25-68). */
  def largestComponent(g: LinkGraph): LinkGraph = {
    val wcc = run(g).persist(StorageLevel.MEMORY_AND_DISK)
    val top = wcc.groupBy(col("component_vid")).agg(count("*").as("n"))
      .orderBy(desc("n"), asc("component_vid")).limit(1)
    val members = wcc.join(top.select("component_vid"), Seq("component_vid"), "left_semi")
      .select(col("vid"))
    g.subgraph(members)
  }
}
