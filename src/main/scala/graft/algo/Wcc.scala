package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{CsrGraph, LinkGraph}
import graft.bsp.{CsrSuperstep, RunContext, Superstep}

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

  /** Returns (vid, name, component_vid, component) where `component` is the
    * representative's GID (name). Auto-dispatches between the CSR fast path
    * (id space fits memory) and the shuffle-based DataFrame supersteps. */
  def run(g: LinkGraph, iterCount: Long = Long.MaxValue, ctx: RunContext = RunContext.none,
          mode: String = "auto"): DataFrame = {
    if (g.nodeFacts.maxVid < 0)
      return g.nodes.select(col("vid"), col("name"), col("vid").as("component_vid"),
        col("name").as("component")).limit(0)
    val labelled =
      if (CsrGraph.useCsr(g, mode)) runCsr(g, iterCount, ctx)
      else hashMin("wcc", g.nodes.select(col("vid")), "label", g.pairTable, iterCount, ctx)
        .join(g.nodes, Seq("vid")).select(col("vid"), col("name"), col("label").as("component_vid"))
    labelled
      .join(g.nodes.select(col("vid").as("component_vid"), col("name").as("component")), Seq("component_vid"))
      .select(col("vid"), col("name"), col("component_vid"), col("component"))
  }

  /** The CSR supersteps; returns (vid, name, component_vid). */
  private def runCsr(g: LinkGraph, iterCount: Long, ctx: RunContext): DataFrame = {
    val csr = g.undirectedCsr
    val present = csr.present
    val init = Array.tabulate(csr.n)(v => if (present(v)) v else -1) // absent ids = -1
    // step 0 is the init min-neighbour pass, so the loop runs to iterCount
    // inclusive; a vertex adopts its least neighbour label when smaller
    val labels = Superstep.loop("wcc-csr", ctx, csr.edgeCount, 0, iterCount, init) { (l, step) =>
      val (next, changed) = CsrSuperstep.gather(csr, l, new Array[Int](_)) { (b, prev, out) =>
        var changed = 0L
        var i = 0
        while (i < out.length) {
          val cur = prev(b.lo + i)
          var m = cur
          var k = b.offsets(i)
          val end = b.offsets(i + 1)
          while (k < end) { val c = prev(b.srcs(k)); if (c < m) m = c; k += 1 }
          if (m < cur) changed += 1
          out(i) = m
          i += 1
        }
        changed
      }
      Superstep.Next(next, changed.toDouble, changed == 0 && step > 0)
    }
    CsrGraph.results(g, labels, "component_vid BIGINT")((l, v) => Seq(l(v).toLong))
  }

  /** HashMin min-label propagation on the DataFrame driver, shared by WCC
    * and Dedup.clustersFromPairs. `ids` is the one-column key table, `pairs`
    * a static symmetric (a, b) neighbour table keyed on a; init label = least(key, min
    * neighbour key), already final when there are no pairs, so then no
    * superstep runs. Returns the (key, `label`) state. */
  private[graft] def hashMin(algo: String, ids: DataFrame, label: String, pairs: Superstep.Static,
                             maxSteps: Long, ctx: RunContext): DataFrame =
    Superstep.dataFrame(algo, ctx, pairs)(hashMinProgram(ids, label, maxSteps))

  /** The HashMin DataFrame program over the (a, b) pair table. */
  private[graft] def hashMinProgram(ids: DataFrame, label: String, maxSteps: Long)(
      pairs: DataFrame, m: Long): Superstep.Dense =
    Superstep.Dense(
      init = hashMinInit(ids, pairs, label),
      maxSteps = if (m == 0) 0 else maxSteps,
      step = hashMinStep(_, pairs),
      // sum() over an EMPTY state is NULL (ids can be empty while pairs
      // reference absent ids): coalesce keeps the exit exact
      aggs = Seq(coalesce(sum(when(col("changed"), 1L).otherwise(0L)), lit(0L))),
      halt = (r, _) => r.getLong(0) == 0)

  /** HashMin init state: (key, `label` = least(key, min neighbour key));
    * joined shuffled-hash like PageRank's init, so it is one job. */
  private[graft] def hashMinInit(ids: DataFrame, pairs: DataFrame, label: String): DataFrame = {
    val key = ids.columns.head
    val nbrMin = pairs.groupBy(col("a")).agg(min(col("b")).as("nbr_min"))
    ids.join(nbrMin.hint("shuffle_hash"), col(key) === col("a"), "left")
      .select(col(key), least(col(key), coalesce(col("nbr_min"), col(key))).as(label))
  }

  /** One HashMin superstep (PlanSpec audits this fragment): every key takes
    * the least label among itself and its neighbours. `state` is (key,
    * label) hash-partitioned on the key, `pairs` the cached (a, b) table
    * partitioned on a; ONE shuffle (the min-message aggregation), both
    * joins shuffled-hash. Returns (key, label, changed); a state restored
    * from a snapshot still carries the last step's `changed` column,
    * which is ignored. */
  private[graft] def hashMinStep(state: DataFrame, pairs: DataFrame): DataFrame = {
    val Array(key, label) = state.columns.take(2)
    val msgs = state.hint("shuffle_hash").join(pairs, state(key) === pairs("a"))
      .groupBy(col("b")).agg(min(col(label)).as("cand"))
    state.join(msgs.hint("shuffle_hash"), state(key) === msgs("b"), "left")
      .select(state(key),
        least(col(label), coalesce(col("cand"), col(label))).as(label),
        (coalesce(col("cand"), col(label)) < col(label)).as("changed"))
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
