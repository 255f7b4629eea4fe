package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph

/** The reference's one-shot graph metrics (SURVEY §2.4.5), each a single
  * declarative DataFrame program (no supersteps):
  *
  *  - degree centrality   raphtory/src/algorithms/centrality/degree_centrality.rs:20-45
  *  - degree extremes     metrics/degree.rs:50-100
  *  - directed density    metrics/directed_graph_density.rs:37-39
  *  - triplet count       motifs/triplet_count.rs:83-113
  *  - clustering coeff    metrics/clustering_coefficient.rs:38-47
  *  - local clustering    metrics/local_clustering_coefficient.rs:57-77
  *  - reciprocity         metrics/reciprocity.rs:66-165
  *  - balance             metrics/balance.rs:46-124
  */
object Metrics {

  /** degree / max_degree per node (undirected distinct-neighbour degree);
    * NaN/inf (empty graph) → 0. */
  def degreeCentrality(g: LinkGraph): DataFrame = {
    val deg = g.degrees
    val mRow = deg.agg(max(col("degree"))).head()
    val maxDeg = if (mRow.isNullAt(0)) 0L else mRow.getLong(0) // empty graph → null max
    val value =
      if (maxDeg == 0) lit(0.0)
      else col("degree").cast("double") / maxDeg.toDouble
    deg.select(col("vid"), value.as("value"))
  }

  /** (max_degree, min_degree, max_out, min_out, max_in, min_in, avg_degree)
    * — metrics/degree.rs. */
  def degreeStats(g: LinkGraph): DataFrame = {
    val d = g.degrees.agg(
      max(col("degree")).as("max_degree"), min(col("degree")).as("min_degree"),
      avg(col("degree")).as("avg_degree"))
    val o = g.outDegrees.agg(
      max(col("degree")).as("max_out_degree"), min(col("degree")).as("min_out_degree"))
    val i = g.inDegrees.agg(
      max(col("degree")).as("max_in_degree"), min(col("degree")).as("min_in_degree"))
    d.crossJoin(o).crossJoin(i)
  }

  /** Σ_v C(d_v, 2) where d_v = distinct undirected neighbours excluding
    * self (triplet_count.rs:83-113). */
  def tripletCount(g: LinkGraph): Long = {
    val d = g.undirectedPairs.filter(col("a") =!= col("b"))
      .groupBy("a").agg(count(lit(1)).as("d"))
    val r = d.agg(sum((col("d") * (col("d") - 1) / 2).cast("long"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Global clustering coefficient = 3·triangles / triplets
    * (clustering_coefficient.rs:38-47); 0 when no triplets. */
  def globalClusteringCoefficient(g: LinkGraph): Double = {
    val triplets = tripletCount(g)
    if (triplets == 0) 0.0
    else 3.0 * Triangles.count(g) / triplets
  }

  /** Per-node local clustering coefficient 2·T_v / (d_v(d_v−1)), 0 if d≤1,
    * degree excluding self-loops (local_clustering_coefficient.rs:57-77). */
  def localClusteringCoefficient(g: LinkGraph): DataFrame = {
    val deg = g.undirectedPairs.filter(col("a") =!= col("b"))
      .groupBy("a").agg(count(lit(1)).as("d"))
      .withColumnRenamed("a", "vid")
    g.nodes.select("vid")
      .join(Triangles.perNode(g), Seq("vid"), "left")
      .join(deg, Seq("vid"), "left")
      .select(col("vid"),
        when(coalesce(col("d"), lit(0L)) <= 1, 0.0)
          .otherwise(lit(2.0) * coalesce(col("triangles"), lit(0L)) / (col("d") * (col("d") - 1)))
          .as("value"))
  }

  /** Distinct non-self out/in/reciprocal neighbour counts per node. */
  private def reciprocalCounts(g: LinkGraph): DataFrame = {
    val e = g.dedupEdges.filter(col("src") =!= col("dst"))
    val out = e.groupBy(col("src").as("vid")).agg(count(lit(1)).as("n_out"))
    val in = e.groupBy(col("dst").as("vid")).agg(count(lit(1)).as("n_in"))
    val recip = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("vid")).agg(count(lit(1)).as("n_recip"))
    g.nodes.select("vid")
      .join(out, Seq("vid"), "left").join(in, Seq("vid"), "left").join(recip, Seq("vid"), "left")
      .na.fill(0L, Seq("n_out", "n_in", "n_recip"))
  }

  /** Σ|out∩in| / Σ|out|, self-loops excluded (reciprocity.rs:97-124);
    * empty/edgeless graphs → 0 (matching localReciprocity's NaN → 0). */
  def globalReciprocity(g: LinkGraph): Double = {
    val r = reciprocalCounts(g).agg(sum("n_recip"), sum("n_out")).head()
    if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(1) == 0L) 0.0
    else r.getLong(0).toDouble / r.getLong(1).toDouble
  }

  /** 2·|out∩in| / (|in|+|out|) per node, NaN → 0 (reciprocity.rs:128-146). */
  def localReciprocity(g: LinkGraph): DataFrame =
    reciprocalCounts(g).select(col("vid"),
      when(col("n_in") + col("n_out") === 0, 0.0)
        .otherwise(lit(2.0) * col("n_recip") / (col("n_in") + col("n_out")))
        .as("value"))

  /** Per-node Σ incoming weight − Σ outgoing weight over *exploded* edge
    * events (balance.rs:46-124). `weight` is a column of g.edges; non-numeric
    * nulls count 0. Direction: "in", "out" or "both". */
  def balance(g: LinkGraph, weight: Column, direction: String = "both"): DataFrame = {
    val w = coalesce(weight.cast("double"), lit(0.0))
    val in = g.edges.groupBy(col("dst").as("vid")).agg(sum(w).as("in_sum"))
    val out = g.edges.groupBy(col("src").as("vid")).agg(sum(w).as("out_sum"))
    val expr = direction match {
      case "in" => coalesce(col("in_sum"), lit(0.0))
      case "out" => -coalesce(col("out_sum"), lit(0.0))
      case _ => coalesce(col("in_sum"), lit(0.0)) - coalesce(col("out_sum"), lit(0.0))
    }
    g.nodes.select("vid")
      .join(in, Seq("vid"), "left").join(out, Seq("vid"), "left")
      .select(col("vid"), expr.as("value"))
  }
}
