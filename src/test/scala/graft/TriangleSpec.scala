package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.LinkGraph
import graft.algo.{KCore, Triangles}

/** Reference fixtures from raphtory/src/algorithms/motifs/triangle_count.rs
  * and cores/k_core.rs (FIXTURES.md §B4). */
class TriangleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val motif23 = Seq(
    (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L), (3L, 1L, 4L), (3L, 4L, 5L), (3L, 5L, 6L),
    (4L, 5L, 7L), (5L, 6L, 8L), (5L, 8L, 9L), (7L, 5L, 10L), (8L, 5L, 11L), (1L, 9L, 12L),
    (9L, 1L, 13L), (6L, 3L, 14L), (4L, 8L, 15L), (8L, 3L, 16L), (5L, 10L, 17L), (10L, 5L, 18L),
    (10L, 8L, 19L), (1L, 11L, 20L), (11L, 1L, 21L), (9L, 11L, 22L), (11L, 9L, 23L))

  val eleven = Seq(
    (1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
    (4L, 5L, 1L), (5L, 6L, 1L), (6L, 4L, 1L),
    (7L, 8L, 2L), (8L, 9L, 3L), (9L, 7L, 4L), (8L, 10L, 5L), (10L, 9L, 6L))

  /** The CSR kernel, the public count and the DataFrame wedge join agree
    * with the expected count. */
  def assertParity(g: LinkGraph, want: Long): Unit = {
    val csr = if (g.nodeFacts.maxVid < 0) 0L else Triangles.countCsr(g.undirectedCsr)
    assert(csr == want, "CSR kernel")
    assert(Triangles.count(g) == want, "Triangles.count")
    assert(Triangles.triangleCountOf(Triangles.undirectedSimple(g)) == want, "wedge join")
  }

  test("11-edge graph has 4 triangles (triangle_count.rs:139-168)") {
    val g = LinkGraph.fromNumericEdgeList(spark, eleven)
    assert(Triangles.count(g) == 4L)
  }

  test("23-edge motif graph has 8 triangles (triangle_count.rs:170-208)") {
    val g = LinkGraph.fromNumericEdgeList(spark, motif23)
    assert(Triangles.count(g) == 8L)
  }

  test("2-core of the motif graph (k_core.rs:108-152)") {
    import spark.implicits._
    val g = LinkGraph.fromNumericEdgeList(spark, motif23)
    val core = KCore.coreSet(g, 2)
    val names = g.nodes.join(core, Seq("vid"), "left_semi")
      .select("name").as[String].collect().toSet
    assert(names == Set("1", "3", "4", "5", "6", "8", "9", "10", "11"))
  }

  test("self-loops and multi-edges never form triangles") {
    val edges = Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 1L, 3L), (1L, 2L, 4L), (2L, 3L, 5L), (3L, 1L, 6L))
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    assert(Triangles.count(g) == 1L)
  }

  test("per-node triangle counts on the 11-edge graph") {
    val g = LinkGraph.fromNumericEdgeList(spark, eleven)
    val got = Triangles.perNode(g).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byName = g.nodes.collect().map(r => r.getAs[Long]("vid") -> r.getAs[String]("name")).toMap
    val counts = got.map { case (vid, c) => byName(vid) -> c }
    assert(counts == Map("1" -> 1L, "2" -> 1L, "3" -> 1L, "4" -> 1L, "5" -> 1L, "6" -> 1L,
      "7" -> 1L, "8" -> 2L, "9" -> 2L, "10" -> 1L))
  }

  test("CSR count = wedge join = fixture on both reference fixtures, with and without the 2-core") {
    for ((edges, want) <- Seq(eleven -> 4L, motif23 -> 8L)) {
      val g = LinkGraph.fromNumericEdgeList(spark, edges)
      assertParity(g, want)
      val core = g.subgraph(KCore.coreSet(g, 2))
      try assert(Triangles.count(core) == want) finally core.unpersist()
    }
  }

  test("CSR count parity: self-loops and multi-edges") {
    val edges = Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 1L, 3L), (1L, 2L, 4L), (2L, 3L, 5L), (3L, 1L, 6L),
      (3L, 3L, 7L), (3L, 2L, 8L))
    assertParity(LinkGraph.fromNumericEdgeList(spark, edges), 1L)
  }

  test("CSR count parity: fewer vertices than shuffle partitions leaves empty blocks") {
    val g = LinkGraph.fromNumericEdgeList(spark, Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 3L)))
    assert(g.undirectedCsr.blocks.collect().exists(b => b.lo == b.hi))
    assertParity(g, 1L)
  }

  test("CSR count parity: nodes without edges, and an empty graph") {
    val g = LinkGraph.fromNumericEdgeList(spark, eleven)
    assertParity(new LinkGraph(g.edges.limit(0), g.nodes, namesAreNumeric = true), 0L)
    assertParity(new LinkGraph(g.edges.limit(0), g.nodes.limit(0), namesAreNumeric = true), 0L)
  }

  test("CSR count parity: a hub star closed by chords") {
    // hub 0 to 1..30, chords i -> i+1 and 30 -> 1: one triangle per chord
    val star = (1L to 30L).map(i => (0L, i, i))
    val chords = (1L to 29L).map(i => (i, i + 1, 100 + i)) :+ ((30L, 1L, 200L))
    assertParity(LinkGraph.fromNumericEdgeList(spark, star ++ chords), 30L)
  }

  test("CSR count parity: a subgraph view with non-dense vids") {
    import spark.implicits._
    val g = LinkGraph.fromNumericEdgeList(spark, motif23)
    // dropping node "5" (a member of 5 of the 8 triangles) leaves a vid gap
    val sub = g.subgraph(g.nodes.filter($"name" =!= "5").select($"vid"))
    assert(sub.nodeFacts.count < sub.nodeFacts.maxVid + 1)
    assertParity(sub, 3L)
  }

  test("WCC and triangles share one CSR that unpersist() releases") {
    val sc = spark.sparkContext
    val g = LinkGraph.fromNumericEdgeList(spark, motif23)
    val before = sc.getPersistentRDDs.keySet
    graft.algo.Wcc.run(g).collect()
    val csr = g.undirectedCsr
    assert(sc.getPersistentRDDs.contains(csr.blocks.id))
    assert(Triangles.count(g) == 8L)
    assert(g.undirectedCsr eq csr)
    // CSR PageRank reads the in-CSR, HITS the in- and out-CSRs: each is
    // packed once and read again on reuse
    graft.algo.PageRank.run(g, graft.algo.PageRank.Config(mode = "csr")).collect()
    val in = g.inCsr
    graft.algo.Hits.run(g, mode = "csr").collect()
    val out = g.outCsr
    graft.algo.PageRank.run(g, graft.algo.PageRank.Config(mode = "csr")).collect()
    graft.algo.Hits.run(g, mode = "csr").collect()
    assert((g.inCsr eq in) && (g.outCsr eq out) && (g.undirectedCsr eq csr))
    val blocks = Seq(csr, in, out).map(_.blocks.id)
    assert(blocks.forall(sc.getPersistentRDDs.contains), "a CSR memo is not persisted")
    g.unpersist()
    assert(!blocks.exists(sc.getPersistentRDDs.contains), "a CSR memo survived unpersist()")
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted RDDs left after unpersist: $left")
  }

  test("betweenness reads one directed adjacency per graph, rebuilt after unpersist()") {
    val g = LinkGraph.fromNumericEdgeList(spark, motif23)
    def values() = graft.algo.Betweenness.run(g).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("value")).toMap
    val first = values()
    val adj = g.directedAdjacency
    assert(values() == first)
    assert(g.directedAdjacency eq adj)
    g.unpersist()
    assert(values() == first)
    val rebuilt = g.directedAdjacency
    assert(!(rebuilt eq adj), "the adjacency memo survived unpersist()")
    assert(rebuilt.vids.sameElements(adj.vids) && rebuilt.offsets.sameElements(adj.offsets) &&
      rebuilt.targets.sameElements(adj.targets))
    g.unpersist()
  }
}
