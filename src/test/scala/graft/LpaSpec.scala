package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.lit
import graft.graph.LinkGraph
import graft.algo.Lpa
import graft.rng.Rand08

class LpaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("ChaCha machinery matches the public ChaCha20 zero-key keystream") {
    // D. J. Bernstein's ChaCha, zero key, zero nonce, block 0 (layout-
    // independent because counter/nonce words are all zero): first bytes
    // 76 b8 e0 ad a0 f1 3d 90 40 5d 6a e5 53 86 bd 28.
    val ks = new Rand08.ChaChaWords(new Array[Byte](32), 20)
    assert(ks.nextU32() == 0xade0b876)
    assert(ks.nextU32() == 0x903df1a0)
    assert(ks.nextU32() == 0xe56a5d40)
    assert(ks.nextU32() == 0x28bd8653)
  }

  test("shuffle is deterministic for a fixed seed") {
    val a = Array.range(0, 10)
    val b = Array.range(0, 10)
    Rand08.shuffle(a, new Rand08.StdRng(Array.fill[Byte](32)(5)))
    Rand08.shuffle(b, new Rand08.StdRng(Array.fill[Byte](32)(5)))
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != (0 until 10))
  }

  val fixtureEdges: Seq[(String, String, Long)] = Seq(
    ("R1", "R2"), ("R2", "R3"), ("R3", "G"), ("G", "B1"), ("G", "B3"),
    ("B1", "B2"), ("B2", "B3"), ("B2", "B4"), ("B3", "B4"), ("B3", "B5"),
    ("B4", "B5")).map { case (s, d) => (s, d, 1L) }

  test("seeded fixture: communities {R1,R2,R3} and {G,B1..B5} (label_propagation.rs:83-125)") {
    val g = LinkGraph.fromEdgeList(spark, fixtureEdges)
    val res = Lpa.runExact(g, Some(Array.fill[Byte](32)(5)))
    val communities = res.collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("label"))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(communities == Set(Set("R1", "R2", "R3"), Set("G", "B1", "B2", "B3", "B4", "B5")))
  }

  test("sync mode: CSR fast path == DF shuffle path on a numeric-GID graph") {
    val edges = Seq(
      (0L, 1L, 1L), (1L, 2L, 2L), (2L, 0L, 3L), (3L, 4L, 4L), (4L, 5L, 5L),
      (5L, 3L, 6L), (2L, 3L, 7L), (6L, 0L, 8L), (7L, 4L, 9L), (8L, 8L, 10L))
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val csr = Lpa.runSync(g, maxSweeps = 8, mode = "csr").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val df = Lpa.runSync(g, maxSweeps = 8, mode = "df").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(csr == df)
  }

  /** A numeric graph (vid = GID) whose sync LPA changes labels in the
    * first two sweeps and first goes quiet after phase 3 — two quiet
    * phases later, on the odd phase 5, both engines halt. */
  def oddBoundaryGraph: LinkGraph = {
    import spark.implicits._
    LinkGraph.fromRawEdges(Seq(
      (8L, 6L), (8L, 3L), (0L, 7L), (8L, 4L), (8L, 5L), (3L, 1L), (4L, 1L), (3L, 0L), (0L, 8L),
      (3L, 6L), (0L, 0L), (7L, 1L), (2L, 8L), (4L, 3L), (0L, 8L), (8L, 6L), (0L, 1L), (5L, 2L))
      .toDF("src", "dst"))
  }

  def syncLabels(g: LinkGraph, maxSweeps: Int, mode: String,
                 ctx: graft.bsp.RunContext = graft.bsp.RunContext.none): Map[Long, String] =
    Lpa.runSync(g, maxSweeps = maxSweeps, mode = mode, ctx = ctx).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap

  test("sync mode: CSR == DF under the shared phase cap (maxSweeps = 1, not converged)") {
    val g = oddBoundaryGraph
    val csrCtx, dfCtx = new graft.bsp.LocalRunContext
    val csr = syncLabels(g, 1, "csr", csrCtx)
    val df = syncLabels(g, 1, "df", dfCtx)
    assert(csr == df)
    // both engines stop at the cap of 2 phases, the second still changing
    assert(csrCtx.stats.map(_.delta) == dfCtx.stats.map(_.delta))
    assert(dfCtx.stats.size == 2 && dfCtx.stats.last.delta > 0)
    assert(csr != syncLabels(g, 100, "df"), "graph converged within one sweep")
  }

  test("sync mode: convergence on an odd phase boundary is a fixed point on both engines") {
    import spark.implicits._
    val g = oddBoundaryGraph
    val csrCtx, dfCtx = new graft.bsp.LocalRunContext
    val csr = syncLabels(g, 100, "csr", csrCtx)
    val df = syncLabels(g, 100, "df", dfCtx)
    assert(csr == df)
    val phases = dfCtx.stats.size
    assert(phases % 2 == 1, s"halted after $phases phases, want an odd count")
    assert(csrCtx.stats.size == phases)
    assert(dfCtx.stats.takeRight(2).forall(_.delta == 0.0))
    // one more phase (the colour after the last one) changes nothing
    val state = df.toSeq.toDF("vid", "label")
    val next = Lpa.lpaPhase(state, g.undirectedPairs, lit(phases % 2), numericNames = true)
    assert(next.filter($"changed").count() == 0)
    assert(next.collect().map(r => r.getLong(0) -> r.getString(1)).toMap == df)
  }

  test("sync mode: deterministic and produces connected communities") {
    val g = LinkGraph.fromEdgeList(spark, fixtureEdges)
    val r1 = Lpa.runSync(g).collect().map(r => r.getString(1) -> r.getString(2)).toMap
    val r2 = Lpa.runSync(g).collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(r1 == r2)
    assert(r1.size == 9)
    // labels partition the node set into >= 1 and <= 9 communities
    assert(r1.values.toSet.size >= 1 && r1.values.toSet.size <= 9)
  }
}
