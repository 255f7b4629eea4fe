package graft.cypher

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.algo.{Lpa, PageRank, Pathing, Triangles, Wcc}

/** Procedure registry for the Cypher `CALL name(args) YIELD ...` clause —
  * the bridge from the text surface to the algorithm library, the way
  * openCypher exposes graph algorithms as callable procedures. This is an
  * EXTENSION beyond the reference's grammar (raphtory-cypher/src/parser/
  * cypher.pest has no CALL production — its algorithms are a separate Rust
  * API), provided so a Cypher user can reach the same algorithms the
  * reference exposes programmatically without leaving the query text.
  *
  * Each procedure runs on the graph VIEW the query was started with (so
  * `Cypher.run(g.window(a, b), "CALL pagerank() ...")` scores the windowed
  * graph) and returns a DataFrame with fixed, documented yield columns.
  * All execution is the library's own distributed path — the procedure
  * layer adds projection only, no driver-side materialisation.
  */
object Procedures {

  /** name -> (yield columns, description) — the catalogue `CALL` validates
    * against; kept in sync with `invoke` by the CypherSpec catalogue test. */
  val catalogue: Map[String, (Seq[String], String)] = Map(
    "pagerank" -> (Seq("vid", "name", "score"),
      "pagerank([iterations[, damping]]) — PageRank scores at convergence"),
    "wcc" -> (Seq("vid", "name", "component_vid", "component"),
      "wcc() — weakly connected components (first-ingested representative)"),
    "lpa" -> (Seq("vid", "name", "label"),
      "lpa([maxSweeps]) — synchronous red/black label propagation"),
    "triangles" -> (Seq("vid", "triangles"),
      "triangles() — per-node triangle counts (degree-ordered enumeration)"),
    "sssp" -> (Seq("vid", "name", "dist"),
      "sssp(sourceName[, cutoff]) — unweighted shortest-path distances"),
    "degrees" -> (Seq("vid", "degree", "in_degree", "out_degree"),
      "degrees() — distinct-neighbour degree family"),
    "hits" -> (Seq("vid", "name", "hub", "auth"),
      "hits([iterations]) — HITS hub/authority scores"),
    "kcore" -> (Seq("vid"),
      "kcore(k) — nodes of the k-core (peeling fixpoint)"),
    "scc" -> (Seq("vid", "name", "component_vid", "component"),
      "scc() — strongly connected components (min-vid canonical labels)"),
    "degree_centrality" -> (Seq("vid", "value"),
      "degree_centrality() — degree / max degree"),
    "local_clustering" -> (Seq("vid", "value"),
      "local_clustering() — per-node clustering coefficient"),
    "louvain" -> (Seq("vid", "name", "community"),
      "louvain([seed]) — Louvain communities (seeded ChaCha12 order)"),
    "betweenness" -> (Seq("vid", "name", "value"),
      "betweenness([k]) — Brandes betweenness (optionally k sources), normalized"),
    "temporal_motifs" -> (Seq("motif", "n"),
      "temporal_motifs(deltaMillis) — Paranjape 40-slot temporal 3-node census"))

  /** The 32-byte ChaCha seed of `CALL louvain(seed)`: the seed's
    * big-endian 8-byte encoding repeated 4 times, so every bit of the
    * BIGINT reaches the stream. */
  private[graft] def louvainSeed(seed: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(32)
    for (_ <- 0 until 4) b.putLong(seed)
    b.array()
  }

  private def argErr(proc: String, want: String): Nothing =
    throw new IllegalArgumentException(
      s"CALL $proc: expected arguments ($want); see Procedures.catalogue")

  private def longArg(proc: String, want: String, v: Any): Long = v match {
    case n: Long => n
    case n: Int => n.toLong
    case _ => argErr(proc, want)
  }
  private def doubleArg(proc: String, want: String, v: Any): Double = v match {
    case d: Double => d
    case n: Long => n.toDouble
    case n: Int => n.toDouble
    case _ => argErr(proc, want)
  }

  /** Run procedure `name` on `g` with literal argument values (the planner
    * resolves parameters/negation before calling). Unknown names list the
    * catalogue — typos should not read as missing features. */
  def invoke(g: LinkGraph, name: String, args: Seq[Any]): DataFrame =
    name.toLowerCase match {
      case "pagerank" =>
        val want = "iterations BIGINT [, damping DOUBLE]"
        // an explicit iteration count means EXACTLY that many supersteps
        // (tol 0 — deterministic, replayable); argless runs the library
        // default to convergence
        val cfg = args match {
          case Seq() => PageRank.Config()
          case Seq(n) => PageRank.Config(iterCount = longArg(name, want, n).toInt, tol = 0.0)
          case Seq(n, d) => PageRank.Config(iterCount = longArg(name, want, n).toInt,
            tol = 0.0, damping = doubleArg(name, want, d))
          case _ => argErr(name, want)
        }
        require(cfg.iterCount > 0, s"CALL pagerank: iterations must be positive")
        require(cfg.damping > 0 && cfg.damping < 1,
          s"CALL pagerank: damping must be in (0, 1)")
        PageRank.run(g, cfg).select(col("vid"), col("name"), col("score"))
      case "wcc" =>
        if (args.nonEmpty) argErr(name, "no arguments")
        Wcc.run(g).select(col("vid"), col("name"), col("component_vid"), col("component"))
      case "lpa" =>
        val sweeps = args match {
          case Seq() => 100L
          case Seq(n) => longArg(name, "maxSweeps BIGINT", n)
          case _ => argErr(name, "maxSweeps BIGINT")
        }
        require(sweeps > 0, "CALL lpa: maxSweeps must be positive")
        Lpa.runSync(g, sweeps.toInt).select(col("vid"), col("name"), col("label"))
      case "triangles" =>
        if (args.nonEmpty) argErr(name, "no arguments")
        Triangles.perNode(g).select(col("vid"), col("triangles"))
      case "sssp" =>
        val want = "sourceName STRING [, cutoff BIGINT]"
        val (src, cutoff) = args match {
          case Seq(s: String) => (s, Long.MaxValue)
          case Seq(s: String, c) => (s, longArg(name, want, c))
          case _ => argErr(name, want)
        }
        Pathing.sssp(g, src, cutoff, withPaths = false)
          .select(col("vid"), col("name"), col("dist"))
      case "degrees" =>
        if (args.nonEmpty) argErr(name, "no arguments")
        g.outDegrees.withColumnRenamed("degree", "out_degree")
          .join(g.inDegrees.withColumnRenamed("degree", "in_degree"), Seq("vid"))
          .join(g.degrees, Seq("vid"))
          .select(col("vid"), col("degree"), col("in_degree"), col("out_degree"))
      case "hits" =>
        val iters = args match {
          case Seq() => 20L
          case Seq(n) => longArg(name, "iterations BIGINT", n)
          case _ => argErr(name, "iterations BIGINT")
        }
        require(iters > 0, "CALL hits: iterations must be positive")
        graft.algo.Hits.run(g, iters.toInt)
          .select(col("vid"), col("name"), col("hub"), col("auth"))
      case "kcore" =>
        val k = args match {
          case Seq(n) => longArg(name, "k BIGINT", n)
          case _ => argErr(name, "k BIGINT")
        }
        graft.algo.KCore.coreSet(g, k.toInt).select(col("vid"))
      case "scc" =>
        if (args.nonEmpty) argErr(name, "no arguments")
        graft.algo.Components.scc(g)
          .select(col("vid"), col("name"), col("component_vid"), col("component"))
      case "degree_centrality" =>
        if (args.nonEmpty) argErr(name, "no arguments")
        graft.algo.Metrics.degreeCentrality(g).select(col("vid"), col("value"))
      case "local_clustering" =>
        if (args.nonEmpty) argErr(name, "no arguments")
        graft.algo.Metrics.localClusteringCoefficient(g).select(col("vid"), col("value"))
      case "louvain" =>
        val louvain = args match {
          case Seq() => graft.algo.Louvain.run(g)
          case Seq(n) => graft.algo.Louvain.run(g, seed = louvainSeed(longArg(name, "seed BIGINT", n)))
          case _ => argErr(name, "seed BIGINT")
        }
        louvain.select(col("vid"), col("name"), col("community"))
      case "betweenness" =>
        val k = args match {
          case Seq() => None
          case Seq(n) => Some(longArg(name, "k BIGINT", n).toInt)
          case _ => argErr(name, "k BIGINT")
        }
        require(k.forall(_ > 0), "CALL betweenness: k must be positive")
        graft.algo.Betweenness.run(g, k, normalized = true)
          .select(col("vid"), col("name"), col("value"))
      case "temporal_motifs" =>
        val delta = args match {
          case Seq(n) => longArg(name, "deltaMillis BIGINT", n)
          case _ => argErr(name, "deltaMillis BIGINT")
        }
        require(delta > 0, "CALL temporal_motifs: deltaMillis must be positive")
        val counts = graft.algo.TemporalMotifs.globalCounts(g, delta)
        val spark = g.spark
        import spark.implicits._
        spark.createDataset(counts.toSeq.zipWithIndex
          .map { case (c, i) => (i.toLong, c) }).toDF("motif", "n")
      case other =>
        throw new IllegalArgumentException(
          s"unknown procedure $other; available: " +
            catalogue.toSeq.sortBy(_._1).map(_._2._2).mkString("; "))
    }
}
