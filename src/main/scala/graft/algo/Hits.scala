package graft.algo

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.graph.{CsrGraph, LinkGraph}
import graft.bsp.{CsrSuperstep, RunContext, StatePlan, Superstep}

/** HITS hubs & authorities with the reference's semantics
  * (raphtory/src/algorithms/centrality/hits.rs:51-160):
  *
  *  - init hub = auth = 1;
  *  - per superstep over the distinct directed graph:
  *      recv_hub(t)  = Σ_{u→t} hub(u);   recv_auth(t) = Σ_{t→u} auth(u);
  *      auth'(t) = recv_hub(t) / Σ_v recv_hub(v);
  *      hub'(t)  = recv_auth(t) / Σ_v recv_auth(v);
  *    (nodes receiving nothing get 0);
  *  - stop when max per-node |Δhub| ≤ tol and max |Δauth| ≤ tol (reference
  *    fixed 0.01), or after iterCount supersteps (default 20). tol = 0 runs
  *    the full iterCount — the oracle-reproducible mode.
  *
  * The reference computes in f32; we compute in f64 (fixture asserted to
  * 1e-4).
  *
  * Physical shapes: the DF path folds BOTH message directions into ONE
  * tagged scatter table, so a superstep is a single shuffle
  * (groupBy(to)) and one job on the DataFrame driver;
  * the CSR fast path (auto below 32M ids, like PageRank) gathers both
  * directions in one broadcast job per superstep. */
object Hits {

  /** Returns (vid, name, hub, auth). */
  def run(g: LinkGraph, iterCount: Int = 20, ctx: RunContext = RunContext.none,
          tol: Double = 0.01, mode: String = "auto"): DataFrame = {
    if (g.nodeFacts.maxVid < 0)
      return g.nodes.select(col("vid"), col("name"),
        lit(0.0).as("hub"), lit(0.0).as("auth")).limit(0)
    if (CsrGraph.useCsr(g, mode)) runCsr(g, iterCount, tol, ctx)
    else runDf(g, iterCount, tol, ctx)
  }

  /** The graph's in-CSR (in-neighbours per dst, gathers hub→recv_hub)
    * and out-CSR (out-neighbours per src, gathers auth→recv_auth): both
    * gathers run in the same superstep, one broadcast each. */
  private def runCsr(g: LinkGraph, iterCount: Int, tol: Double, ctx: RunContext): DataFrame = {
    val (fwd, rev) = (g.inCsr, g.outCsr)
    val n = fwd.n
    val present = fwd.present
    val ones = Array.tabulate(n)(v => if (present(v)) 1.0 else 0.0)
    val (hub, auth) = Superstep.loop("hits-csr", ctx, 2 * fwd.edgeCount, 1, iterCount,
        (ones, ones)) { case ((hub, auth), _) =>
      val (recvHub, _) = CsrSuperstep.gather(fwd, hub, new Array[Double](_))(CsrSuperstep.sum)
      val (recvAuth, _) = CsrSuperstep.gather(rev, auth, new Array[Double](_))(CsrSuperstep.sum)
      var totH = 0.0
      var totA = 0.0
      var i = 0
      while (i < n) {
        if (present(i)) { totH += recvHub(i); totA += recvAuth(i) }
        i += 1
      }
      var dH = 0.0
      var dA = 0.0
      val newHub = new Array[Double](n)
      val newAuth = new Array[Double](n)
      i = 0
      while (i < n) {
        if (present(i)) {
          newHub(i) = if (totA == 0.0) 0.0 else recvAuth(i) / totA
          newAuth(i) = if (totH == 0.0) 0.0 else recvHub(i) / totH
          val ddH = math.abs(newHub(i) - hub(i))
          val ddA = math.abs(newAuth(i) - auth(i))
          if (ddH > dH) dH = ddH
          if (ddA > dA) dA = ddA
        }
        i += 1
      }
      // tol = 0 disables early stopping
      Superstep.Next((newHub, newAuth), math.max(dH, dA), tol > 0 && dH <= tol && dA <= tol)
    }
    CsrGraph.results(g, (hub, auth), "hub DOUBLE, auth DOUBLE") { case ((h, a), v) => Seq(h(v), a(v)) }
  }

  /** The DataFrame engine on `Superstep.dataFrame`, over one static
    * tagged scatter table keyed on `from`: kind 0 carries hub(u) ->
    * recv_hub(v) along u→v, kind 1 carries auth(v) -> recv_auth(u) against
    * it — one shuffle and one job per superstep. The normalisation totals
    * are step params: Σ_v recv_hub(v) = Σ_u hub(u)·outdeg(u) and Σ_u
    * recv_auth(u) = Σ_v auth(v)·indeg(v), so the state carries each node's
    * distinct out- and in-degree and the previous step's job (the init's,
    * for the first step) sums the totals with its max-|Δ| aggregate. */
  private def runDf(g: LinkGraph, iterCount: Int, tol: Double, ctx: RunContext): DataFrame =
    Superstep.withStatic(scatterRows(g), "from")(
      Superstep.dataFrame("hits", ctx, _)(dfProgram(g, iterCount, tol)))
      .join(g.nodes, Seq("vid")).select(col("vid"), col("name"), col("hub"), col("auth"))

  /** The tagged scatter rows (from, to, kind) over the distinct edges. */
  private[graft] def scatterRows(g: LinkGraph): DataFrame = {
    val e = g.dedupEdges
    e.select(col("src").as("from"), col("dst").as("to"), lit(0).as("kind"))
      .union(e.select(col("dst").as("from"), col("src").as("to"), lit(1).as("kind")))
  }

  /** The DataFrame program over the static scatter table. */
  private[graft] def dfProgram(g: LinkGraph, iterCount: Int, tol: Double)(
      scatter: DataFrame, m: Long): Superstep.Dense = {
    val totH = new StatePlan.Param
    val totA = new StatePlan.Param
    def orZero(r: Row, i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    // the scatter table is keyed on `from`: its kind-0 rows are a node's
    // out-edges, its kind-1 rows its in-edges
    val deg = scatter.groupBy(col("from")).agg(
      sum(when(col("kind") === 0, 1L).otherwise(0L)).as("out_deg"),
      sum(when(col("kind") === 1, 1L).otherwise(0L)).as("in_deg"))
    Superstep.Dense(
      init = g.nodes.select(col("vid")).join(deg.hint("shuffle_hash"), col("vid") === col("from"), "left")
        .select(col("vid"), lit(1.0).as("hub"), lit(1.0).as("auth"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"), coalesce(col("in_deg"), lit(0L)).as("in_deg")),
      maxSteps = iterCount,
      step = { state =>
        val recv = state.hint("shuffle_hash").join(scatter, state("vid") === scatter("from"))
          .groupBy(col("to").as("rvid")).agg(
            sum(when(col("kind") === 0, col("hub")).otherwise(0.0)).as("rh"),
            sum(when(col("kind") === 1, col("auth")).otherwise(0.0)).as("ra"))
        def norm(recv: String, tot: StatePlan.Param) =
          when(tot.col === 0.0, lit(0.0)).otherwise(coalesce(col(recv), lit(0.0)) / tot.col)
        state.join(recv.hint("shuffle_hash"), state("vid") === recv("rvid"), "left")
          .select(state("vid"), norm("ra", totA).as("hub"), norm("rh", totH).as("auth"),
            state("out_deg"), state("in_deg"),
            abs(state("hub") - norm("ra", totA)).as("dh"), abs(state("auth") - norm("rh", totH)).as("da"))
      },
      aggs = Seq(greatest(max(col("dh")), max(col("da"))), max(col("dh")), max(col("da"))),
      // tol = 0 disables early stopping
      halt = (r, _) => tol > 0 && r.getDouble(1) <= tol && r.getDouble(2) <= tol,
      carry = Seq(sum(col("hub") * col("out_deg")), sum(col("auth") * col("in_deg"))),
      bind = (c, _) => { totH.set(orZero(c, 0)); totA.set(orZero(c, 1)) })
  }
}
