package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{CsrGraph, LinkGraph}
import graft.bsp.{CsrSuperstep, RunContext, Superstep}

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
  * (groupBy(to, kind)) and two jobs on the DataFrame driver;
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

  /** Forward CSR (in-neighbours per dst, gathers hub→recv_hub) and
    * reversed CSR (out-neighbours per src, gathers auth→recv_auth): both
    * gathers run in the same superstep, one broadcast each. */
  private def runCsr(g: LinkGraph, iterCount: Int, tol: Double, ctx: RunContext): DataFrame = {
    val p = g.spark.conf.get("spark.sql.shuffle.partitions").toInt
    val fwd = CsrGraph.fromLinkGraph(g, p)             // in-nbrs per dst
    val rev = CsrGraph.reversedFromLinkGraph(g, p)     // out-nbrs per src
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
    fwd.unpersist(); rev.unpersist()
    CsrGraph.results(g, (hub, auth), "hub DOUBLE, auth DOUBLE") { case ((h, a), v) => Seq(h(v), a(v)) }
  }

  /** The DataFrame engine on `Superstep.dataFrame`, over one static
    * tagged scatter table keyed on `from`: kind 0 carries hub(u) ->
    * recv_hub(v) along u→v, kind 1 carries auth(v) -> recv_auth(u) against
    * it — one shuffle per superstep. The normalisation needs the totals
    * before the delta, so a superstep is two jobs: the step persists the
    * joined (vid, hub, auth, rh, ra) frame and takes its totals (job 1),
    * and the driver's checkpoint fused with the max-|Δ| aggregate is job 2.
    * Each step releases the previous step's joined frame. */
  private def runDf(g: LinkGraph, iterCount: Int, tol: Double, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val e = g.dedupEdges
    val scatter = e.select($"src".as("from"), $"dst".as("to"), lit(0).as("kind"))
      .union(e.select($"dst".as("from"), $"src".as("to"), lit(1).as("kind")))
    var held = Option.empty[DataFrame]
    val state = Superstep.withStatic(scatter, "from")(Superstep.dataFrame("hits", ctx, _) { (scatter, _) =>
      Superstep.Dense(
        init = g.nodes.select($"vid", lit(1.0).as("hub"), lit(1.0).as("auth")),
        maxSteps = iterCount,
        step = { (state, _, _) =>
          val recv = state.hint("shuffle_hash").join(scatter, state("vid") === $"from")
            .groupBy($"to".as("rvid")).agg(
              sum(when($"kind" === 0, $"hub").otherwise(0.0)).as("rh"),
              sum(when($"kind" === 1, $"auth").otherwise(0.0)).as("ra"))
          val joined = state.join(recv, state("vid") === $"rvid", "left")
            .select($"vid", $"hub", $"auth",
              coalesce($"rh", lit(0.0)).as("rh"), coalesce($"ra", lit(0.0)).as("ra"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val tot = joined.agg(sum($"rh"), sum($"ra")).head()
          held.foreach(_.unpersist())
          held = Some(joined)
          val totH = if (tot.isNullAt(0)) 0.0 else tot.getDouble(0)
          val totA = if (tot.isNullAt(1)) 0.0 else tot.getDouble(1)
          val hubE = if (totA == 0.0) lit(0.0) else $"ra" / totA
          val authE = if (totH == 0.0) lit(0.0) else $"rh" / totH
          joined.select($"vid", hubE.as("hub"), authE.as("auth"),
            abs($"hub" - hubE).as("dh"), abs($"auth" - authE).as("da"))
        },
        aggs = Seq(greatest(max($"dh"), max($"da")), max($"dh"), max($"da")),
        // tol = 0 disables early stopping
        halt = (r, _) => tol > 0 && r.getDouble(1) <= tol && r.getDouble(2) <= tol,
        flags = Seq("dh", "da"))
    })
    held.foreach(_.unpersist())
    state.join(g.nodes, Seq("vid")).select($"vid", $"name", $"hub", $"auth")
  }
}
