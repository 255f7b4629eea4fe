package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.LinkGraph
import graft.algo.PageRank

/** Reference fixtures from raphtory/src/algorithms/centrality/pagerank.rs
  * test module and python/tests/test_algorithms.py:273-287 (FIXTURES.md §B1). */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def scores(list: Seq[(Long, Long, Long)], cfg: PageRank.Config): Map[String, Double] = {
    val g = LinkGraph.fromNumericEdgeList(spark, list)
    PageRank.run(g, cfg).collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("score")).toMap
  }

  def assertClose(got: Map[String, Double], want: Map[String, Double], dp: Int): Unit = {
    assert(got.keySet == want.keySet)
    for ((k, w) <- want) {
      val f = math.pow(10, dp)
      assert(math.round(got(k) * f) == math.round(w * f), s"node $k: got ${got(k)}, want $w")
    }
  }

  test("5-edge graph (pagerank.rs:197-218)") {
    val edges = Seq((1L, 2L), (1L, 4L), (2L, 3L), (3L, 1L), (4L, 1L)).map { case (s, d) => (s, d, 0L) }
    val got = scores(edges, PageRank.Config(iterCount = 1000, useL2Norm = true))
    assertClose(got, Map("1" -> 0.38694, "2" -> 0.20195, "4" -> 0.20195, "3" -> 0.20916), 5)
  }

  test("23-edge motif graph (pagerank.rs:224-269)") {
    val edges = Seq(
      (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L), (3L, 1L, 4L), (3L, 4L, 5L), (3L, 5L, 6L),
      (4L, 5L, 7L), (5L, 6L, 8L), (5L, 8L, 9L), (7L, 5L, 10L), (8L, 5L, 11L), (1L, 9L, 12L),
      (9L, 1L, 13L), (6L, 3L, 14L), (4L, 8L, 15L), (8L, 3L, 16L), (5L, 10L, 17L), (10L, 5L, 18L),
      (10L, 8L, 19L), (1L, 11L, 20L), (11L, 1L, 21L), (9L, 11L, 22L), (11L, 9L, 23L))
    val got = scores(edges, PageRank.Config(iterCount = 1000, useL2Norm = true))
    assertClose(got, Map(
      "10" -> 0.072082, "8" -> 0.136473, "3" -> 0.15484, "6" -> 0.07208, "11" -> 0.06186,
      "2" -> 0.03557, "1" -> 0.11284, "4" -> 0.07944, "7" -> 0.01638, "9" -> 0.06186,
      "5" -> 0.19658), 5)
  }

  test("2-cycle, L1 norm (pagerank.rs:274-289)") {
    val edges = Seq((1L, 2L, 0L), (2L, 1L, 1L))
    val got = scores(edges, PageRank.Config(iterCount = 1000, useL2Norm = false))
    assertClose(got, Map("1" -> 0.5, "2" -> 0.5), 3)
  }

  test("dangling single, 10 iters, L1 (pagerank.rs:291-308)") {
    val edges = Seq((1L, 2L, 0L), (2L, 1L, 1L), (2L, 3L, 2L))
    val got = scores(edges, PageRank.Config(iterCount = 10, useL2Norm = false))
    assertClose(got, Map("1" -> 0.303, "2" -> 0.393, "3" -> 0.303), 3)
  }

  test("dangling chain (pagerank.rs:310-353)") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 10L), (10L, 11L)
    ).zipWithIndex.map { case ((s, d), t) => (s, d, t.toLong) }
    val got = scores(edges, PageRank.Config(iterCount = 1000, useL2Norm = true))
    assertClose(got, Map(
      "1" -> 0.055, "2" -> 0.079, "3" -> 0.113, "4" -> 0.055, "5" -> 0.070, "6" -> 0.083,
      "7" -> 0.093, "8" -> 0.102, "9" -> 0.110, "10" -> 0.117, "11" -> 0.122), 3)
  }

  test("exact-float 8-node fixture with self-loop and multi-edges (test_algorithms.py:273-287)") {
    val edges = Seq(
      (10L, 1L, 3L), (11L, 1L, 2L), (12L, 1L, 2L), (9L, 1L, 2L), (12L, 2L, 4L),
      (13L, 2L, 5L), (14L, 5L, 5L), (14L, 5L, 4L), (5L, 4L, 6L), (15L, 4L, 7L),
      (10L, 4L, 7L), (10L, 5L, 8L)
    ).map { case (t, s, d) => (s, d, t) }
    val got = scores(edges, PageRank.Config()) // defaults: 20 iters, L2, damp 0.85
    val want = Map(
      "1" -> 0.07209850165402759, "2" -> 0.10274080842110422, "3" -> 0.10274080842110422,
      "4" -> 0.1615298183542792, "5" -> 0.1615298183542792, "6" -> 0.14074777909144864,
      "7" -> 0.14074777909144864, "8" -> 0.11786468661230831)
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(math.abs(got(k) - w) < 1e-6, s"node $k: got ${got(k)}, want $w")
  }

  test("DF PageRank on a built dedupEdges runs no job on the table; edgeCount is memoized") {
    // the graph builds, partitions and counts its edge table once: the
    // loop joins it as is (no per-run repartition + count job) and
    // edgeCount reads the count taken at the build
    val edges = (0L until 60L).flatMap(i => Seq((i, (i * i + 1) % 60, i), (i, (i + 1) % 60, i)))
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    g.dedupEdges.count(); g.nodeFacts
    val (m, countJobs) = TestSpark.jobsIn(g.edgeCount)
    assert(m == edges.map(e => (e._1, e._2)).distinct.size && countJobs == 0,
      s"edgeCount issued $countJobs jobs")
    val (_, jobs) = TestSpark.jobsIn(PageRank.run(g, PageRank.Config(iterCount = 3, tol = 0.0, mode = "df")))
    // one job materialises the init (its degree join is shuffled-hash, not
    // a broadcast job) and reads the first step's sink mass, then one job
    // per superstep: 4, where a loop that re-partitions and counts its own
    // table copy takes 5
    assert(jobs == 4, s"3-step DF PageRank issued $jobs jobs")
  }
}
