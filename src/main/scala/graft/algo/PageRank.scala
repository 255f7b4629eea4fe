package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.LinkGraph
import graft.bsp.{RunContext, StepStat}

/** Unweighted PageRank with the exact semantics of the reference
  * (raphtory/src/algorithms/centrality/pagerank.rs:55-183):
  *
  *  - directed, multi-edge-collapsed graph; self-loops are ordinary edges;
  *  - out_degree = distinct out-neighbour count, fixed for the run;
  *  - synchronous supersteps: score(v) = damp * Σ_{u∈in(v)} prev(u)/outdeg(u)
  *    + (1-damp)/n, plus a global dangling-mass term damp/n * Σ_{sinks w}
  *    prev(w) added to every node in the same superstep (pagerank.rs:107-126);
  *  - convergence when L1 ≤ tol·n or sqrt(L2) ≤ tol·n (pagerank.rs:128-156);
  *  - no final normalisation.
  *
  * Spark shape (SURVEY §4.3): state and edges are co-hash-partitioned on the
  * vertex id, so each superstep costs exactly ONE shuffle (the
  * groupBy(dst) message aggregation); the scatter join and the state-update
  * join reuse the existing partitioning. Lineage is cut every superstep via
  * localCheckpoint (or the run context's reliable checkpoint).
  */
object PageRank {

  case class Config(
      iterCount: Int = 20,
      tol: Double = 1e-6,
      damping: Double = 0.85,
      useL2Norm: Boolean = true,
      /** "auto" picks the CSR fast path when the id space fits in memory
        * (≤ inMemMaxIds), else the shuffle-based DataFrame supersteps;
        * "df" / "csr" force a mode. Both modes share exact semantics. */
      mode: String = "auto",
      inMemMaxIds: Long = 32L * 1000 * 1000)

  /** Returns (vid, name, score). */
  def run(g: LinkGraph, cfg: Config = Config(), ctx: RunContext = RunContext.none): DataFrame = {
    if (g.nodeFacts.maxVid < 0)
      return g.nodes.select(col("vid"), col("name"), lit(0.0).as("score")).limit(0)
    if (graft.graph.CsrGraph.useCsr(g, cfg.mode, cfg.inMemMaxIds)) runCsr(g, cfg, ctx)
    else runDf(g, cfg, ctx)
  }

  /** One Spark job per superstep: broadcast state, gather over dst-range
    * CSR blocks (graft.graph.CsrGraph), stitch segments. */
  private def runCsr(g: LinkGraph, cfg: Config, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val csr = graft.graph.CsrGraph.fromLinkGraph(g, p)
    val outDeg = graft.graph.CsrGraph.outDegrees(csr)
    val score = graft.bsp.CsrSuperstep.pageRank(
      csr, outDeg, cfg.iterCount, cfg.tol, cfg.damping, cfg.useL2Norm, ctx)
    csr.unpersist()
    val rows = g.nodes.select($"vid", $"name").as[(Long, String)].collect()
      .map { case (v, nm) => (v, nm, score(v.toInt)) }
    spark.createDataset(rows.toSeq).toDF("vid", "name", "score")
  }

  /** Shuffle-based supersteps — the arbitrary-scale path. */
  private def runDf(g: LinkGraph, cfg: Config, ctx: RunContext): DataFrame =
    graft.bsp.IterativeConf.withStablePartitioning(g.spark) { runDf0(g, cfg, ctx) }

  private def runDf0(g: LinkGraph, cfg: Config, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt

    val n = g.nodeCount
    if (n == 0) return g.nodes.select($"vid", $"name", lit(0.0).as("score")).limit(0)

    val teleport = (1.0 - cfg.damping) / n
    val factor = cfg.damping / n

    // static per-run structures: deduped edges and distinct out-degrees,
    // hash-partitioned once and reused every superstep
    val edges = g.dedupEdges.repartition(p, $"src").sortWithinPartitions($"src").persist(StorageLevel.MEMORY_AND_DISK)
    val edgesScattered = edges.count() // also materialises the cache

    val outDeg = edges.groupBy($"src").agg(count("*").as("out_degree"))
    val init = g.nodes.select($"vid")
      .join(outDeg, $"vid" === $"src", "left")
      .select($"vid", coalesce($"out_degree", lit(0L)).as("out_degree"),
        lit(1.0 / n).as("score"))

    var state = ctx.restoreOrInit(init.repartition(p, $"vid"))
    var step = ctx.startStep
    // sink mass of the current state (Σ prev.score over out_degree == 0)
    var sinkMass = {
      val r = state.filter($"out_degree" === 0).agg(sum($"score")).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    var converged = false

    while (!converged && step < cfg.iterCount) {
      step += 1
      val t0 = System.nanoTime()
      val sinkContrib = factor * sinkMass

      // shuffle_hash hints: post-checkpoint state has unknown stats, so
      // Spark would fall back to SMJ and re-sort the m-row cached edge
      // table every superstep; SHJ builds the n-row state map instead
      val contrib = state.hint("shuffle_hash").join(edges, state("vid") === edges("src"))
        .groupBy($"dst").agg(sum($"score" / $"out_degree").as("gather"))

      val newState = state.join(contrib.hint("shuffle_hash"), state("vid") === contrib("dst"), "left")
        .select(state("vid"), state("out_degree"),
          (lit(cfg.damping) * coalesce($"gather", lit(0.0)) + teleport + sinkContrib).as("score"),
          state("score").as("prev_score"))

      val ck = ctx.checkpoint(newState, step)
      val deltaExpr =
        if (cfg.useL2Norm) sum(pow($"prev_score" - $"score", 2.0))
        else sum(abs($"prev_score" - $"score"))
      val row = ck.agg(deltaExpr.as("delta"),
        sum(when($"out_degree" === 0, $"score").otherwise(lit(0.0))).as("sink")).head()
      val rawDelta = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      sinkMass = if (row.isNullAt(1)) 0.0 else row.getDouble(1)

      val delta = if (cfg.useL2Norm) math.sqrt(rawDelta) else rawDelta
      converged = delta <= cfg.tol * n

      state.unpersist()
      state = ck.drop("prev_score")
      ctx.record(StepStat("pagerank", step, edgesScattered, edgesScattered, delta,
        (System.nanoTime() - t0) / 1e6))
    }
    ctx.finish() // barrier: all async snapshot commits durable before we return
    edges.unpersist()
    state.join(g.nodes, Seq("vid")).select($"vid", $"name", $"score")
  }
}
