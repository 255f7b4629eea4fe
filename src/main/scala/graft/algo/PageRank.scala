package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.graph.{CsrGraph, LinkGraph}
import graft.bsp.{CsrSuperstep, RunContext, StatePlan, Superstep}

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
  * join reuse the existing partitioning. The step is planned once per run
  * and re-executed every superstep (bsp.Superstep.dataFrame); lineage is
  * cut every superstep via localCheckpoint (or the run context's durable
  * checkpoint).
  */
object PageRank {

  case class Config(
      iterCount: Int = 20,
      tol: Double = 1e-6,
      damping: Double = 0.85,
      useL2Norm: Boolean = true,
      /** "auto" picks the CSR fast path when the id space fits in memory
        * (CsrGraph.useCsr), else the shuffle-based DataFrame supersteps;
        * "df" / "csr" force a mode. Both modes share exact semantics. */
      mode: String = "auto")

  /** Returns (vid, name, score). */
  def run(g: LinkGraph, cfg: Config = Config(), ctx: RunContext = RunContext.none): DataFrame = {
    if (g.nodeFacts.maxVid < 0)
      return g.nodes.select(col("vid"), col("name"), lit(0.0).as("score")).limit(0)
    if (CsrGraph.useCsr(g, cfg.mode)) runCsr(g, cfg, ctx) else runDf(g, cfg, ctx)
  }

  /** One Spark job per superstep: broadcast state, gather over the
    * graph's dst-range in-CSR blocks (LinkGraph.inCsr), stitch segments. */
  private def runCsr(g: LinkGraph, cfg: Config, ctx: RunContext): DataFrame = {
    val csr = g.inCsr
    val score = csrScores(csr, CsrGraph.outDegrees(csr), cfg, ctx)
    CsrGraph.results(g, score, "score DOUBLE")((s, v) => Seq(s(v)))
  }

  /** The CSR supersteps over a packed gather CSR and its dense out-degree
    * array; returns the dense score array (absent ids hold 0.0). */
  private[graft] def csrScores(csr: CsrGraph, outDeg: Array[Int], cfg: Config,
                               ctx: RunContext): Array[Double] = {
    val n = csr.n
    val nP = csr.nPresent
    if (nP == 0) return new Array[Double](n)
    val teleport = (1.0 - cfg.damping) / nP
    val factor = cfg.damping / nP
    val present = csr.present
    val init = new Array[Double](n)
    var v = 0
    while (v < n) { if (present(v)) init(v) = 1.0 / nP; v += 1 }

    Superstep.loop("pagerank-csr", ctx, csr.edgeCount, 1, cfg.iterCount, init) { (score, _) =>
      // contrib[u] = prev(u) / outdeg(u); sink mass from prev scores
      val contrib = new Array[Double](n)
      var sinkMass = 0.0
      var u = 0
      while (u < n) {
        if (present(u)) {
          if (outDeg(u) > 0) contrib(u) = score(u) / outDeg(u)
          else sinkMass += score(u)
        }
        u += 1
      }
      val sinkContrib = factor * sinkMass
      val (next, _) = CsrSuperstep.gather(csr, contrib, new Array[Double](_))(CsrSuperstep.sum)
      var delta = 0.0
      var w = 0
      while (w < n) {
        if (present(w)) {
          next(w) = cfg.damping * next(w) + teleport + sinkContrib
          val d = score(w) - next(w)
          delta += (if (cfg.useL2Norm) d * d else math.abs(d))
        } else next(w) = 0.0
        w += 1
      }
      val normed = if (cfg.useL2Norm) math.sqrt(delta) else delta
      Superstep.Next(next, normed, normed <= cfg.tol * nP)
    }
  }

  /** Initial DataFrame state (vid, out_degree, score = 1/n) over the
    * src-partitioned deduped edge table. The degree side is aggregated in
    * place and joined shuffled-hash, so the init is one job with the node
    * ids' shuffle, already the state's key partitioning (a broadcast would
    * be a job of its own). */
  private[graft] def initState(nodes: DataFrame, edges: DataFrame, n: Long): DataFrame = {
    val outDeg = edges.groupBy(col("src")).agg(count("*").as("out_degree"))
    nodes.select(col("vid"))
      .join(outDeg.hint("shuffle_hash"), col("vid") === col("src"), "left")
      .select(col("vid"), coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        lit(1.0 / n).as("score"))
  }

  /** One DataFrame superstep (PlanSpec audits this fragment): scatter
    * score/out_degree along the cached edge table, ONE shuffle to
    * aggregate per dst, apply; `sinkContrib` is the dangling-mass term (a
    * step param in the compiled loop). Returns (vid, out_degree, score,
    * prev_score).
    *
    * shuffle_hash hints: post-checkpoint state has unknown stats, so Spark
    * would fall back to SMJ and re-sort the m-row cached edge table every
    * superstep; SHJ builds the n-row state map instead. */
  private[graft] def superstep(state: DataFrame, edges: DataFrame, damping: Double,
                               teleport: Double, sinkContrib: Column): DataFrame = {
    val contrib = state.hint("shuffle_hash").join(edges, state("vid") === edges("src"))
      .groupBy(col("dst")).agg(sum(col("score") / col("out_degree")).as("gather"))
    state.join(contrib.hint("shuffle_hash"), state("vid") === contrib("dst"), "left")
      .select(state("vid"), state("out_degree"),
        (lit(damping) * coalesce(col("gather"), lit(0.0)) + teleport + sinkContrib).as("score"),
        state("score").as("prev_score"))
  }

  /** The DataFrame program (PlanSpec and tools.PlanCheck compile it as the
    * driver does): state and edges are co-hash-partitioned on the vertex
    * id; the per-step aggregate is the delta, and the carried sink mass
    * binds the next step's dangling-mass param. The first step's sink mass
    * comes from the job that materialises the init (or restored) state. */
  private[graft] def dfProgram(g: LinkGraph, cfg: Config)(edges: DataFrame, m: Long): Superstep.Dense = {
    val n = g.nodeFacts.count
    val teleport = (1.0 - cfg.damping) / n
    val factor = cfg.damping / n
    val diff = col("prev_score") - col("score")
    val sinkContrib = new StatePlan.Param
    Superstep.Dense(
      init = initState(g.nodes, edges, n),
      maxSteps = cfg.iterCount,
      step = superstep(_, edges, cfg.damping, teleport, sinkContrib.col),
      aggs = Seq(if (cfg.useL2Norm) sqrt(sum(pow(diff, 2.0))) else sum(abs(diff))),
      halt = (r, _) => orZero(r, 0) <= cfg.tol * n,
      carry = Seq(sum(when(col("out_degree") === 0, col("score")).otherwise(lit(0.0)))),
      bind = (c, _) => sinkContrib.set(factor * orZero(c, 0)))
  }

  private def orZero(r: Row, i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)

  /** Shuffle-based supersteps — the arbitrary-scale path. */
  private def runDf(g: LinkGraph, cfg: Config, ctx: RunContext): DataFrame =
    Superstep.dataFrame("pagerank", ctx, g.dedupTable)(dfProgram(g, cfg))
      .join(g.nodes, Seq("vid")).select(col("vid"), col("name"), col("score"))
}
