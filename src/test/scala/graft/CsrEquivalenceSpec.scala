package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.LinkGraph
import graft.io.Corpus
import graft.algo.{Hits, Lpa, PageRank, Wcc}

/** The CSR fast path and the shuffle-based DataFrame supersteps must agree:
  * same semantics, different physical plan (SURVEY §4.3). */
class CsrEquivalenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val g: LinkGraph = LinkGraph.fromPages(Corpus.tiny(spark).toDF()).cache()

  /** A numeric-named subgraph view with a vid gap (node "5" dropped, as
    * TriangleSpec builds one) and a second component. */
  lazy val gap: LinkGraph = {
    import spark.implicits._
    val links = (1L until 60L).flatMap(i => Corpus.linkTargets(i, 3, 7L).map(j => (i, j, i)))
    val full = LinkGraph.fromNumericEdgeList(spark, links ++ Seq((100L, 101L, 0L), (102L, 101L, 1L)))
    full.subgraph(full.nodes.filter($"name" =!= "5").select($"vid"))
  }

  def byName(df: org.apache.spark.sql.DataFrame, cols: String*): Map[String, Seq[Any]] =
    df.collect().map(r => r.getAs[String]("name") -> cols.map(r.getAs[Any])).toMap

  test("pagerank: csr == df to 1e-12 on the tiny corpus") {
    val cfg = PageRank.Config(iterCount = 20)
    val csr = PageRank.run(g, cfg.copy(mode = "csr")).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("score")).toMap
    val df = PageRank.run(g, cfg.copy(mode = "df")).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("score")).toMap
    assert(csr.keySet == df.keySet)
    for ((k, v) <- csr) assert(math.abs(v - df(k)) < 1e-12, s"node $k: csr $v df ${df(k)}")
    assert(math.abs(csr.values.sum - 1.0) < 1e-9)
  }

  test("hits: csr == df to 1e-12 on the tiny corpus") {
    def byName(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("name") ->
        (r.getAs[Double]("hub"), r.getAs[Double]("auth"))).toMap
    val csr = byName(graft.algo.Hits.run(g, 20, tol = 0.0, mode = "csr"))
    val df = byName(graft.algo.Hits.run(g, 20, tol = 0.0, mode = "df"))
    assert(csr.keySet == df.keySet)
    for ((k, (h, a)) <- csr) {
      assert(math.abs(h - df(k)._1) < 1e-12, s"hub $k")
      assert(math.abs(a - df(k)._2) < 1e-12, s"auth $k")
    }
  }

  test("wcc: csr == df exactly on the tiny corpus") {
    val csr = Wcc.run(g, mode = "csr").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("component")).toMap
    val df = Wcc.run(g, mode = "df").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("component")).toMap
    assert(csr == df)
  }

  test("df-mode fixtures: exact-float pagerank and windowed wcc still hold") {
    // keep the shuffle path pinned to the reference fixtures too
    val edges = Seq(
      (10L, 1L, 3L), (11L, 1L, 2L), (12L, 1L, 2L), (9L, 1L, 2L), (12L, 2L, 4L),
      (13L, 2L, 5L), (14L, 5L, 5L), (14L, 5L, 4L), (5L, 4L, 6L), (15L, 4L, 7L),
      (10L, 4L, 7L), (10L, 5L, 8L)
    ).map { case (t, s, d) => (s, d, t) }
    val fg = LinkGraph.fromNumericEdgeList(spark, edges)
    val got = PageRank.run(fg, PageRank.Config(mode = "df")).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("score")).toMap
    assert(math.abs(got("1") - 0.07209850165402759) < 1e-6)
    assert(math.abs(got("5") - 0.1615298183542792) < 1e-6)

    val wedges = Seq((1L, 2L, 0L), (2L, 1L, 0L), (3L, 4L, 9L), (4L, 3L, 9L))
    val wg = LinkGraph.fromNumericEdgeList(spark, wedges)
    val comp = Wcc.run(wg.window(0L, 2L), mode = "df").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("component")).toMap
    assert(comp == Map("1" -> "1", "2" -> "1"))
  }

  test("vid gap: csr == df for pagerank, hits, wcc and sync-lpa") {
    val f = gap.nodeFacts
    assert(f.count < f.maxVid + 1, "the subgraph has no vid gap")
    def close(a: Map[String, Seq[Any]], b: Map[String, Seq[Any]], what: String): Unit = {
      assert(a.keySet == b.keySet, what)
      for ((k, vs) <- a; (x, y) <- vs.zip(b(k)))
        assert(math.abs(x.asInstanceOf[Double] - y.asInstanceOf[Double]) < 1e-12, s"$what $k")
    }
    val cfg = PageRank.Config(iterCount = 20)
    close(byName(PageRank.run(gap, cfg.copy(mode = "csr")), "score"),
      byName(PageRank.run(gap, cfg.copy(mode = "df")), "score"), "pagerank")
    close(byName(Hits.run(gap, 20, tol = 0.0, mode = "csr"), "hub", "auth"),
      byName(Hits.run(gap, 20, tol = 0.0, mode = "df"), "hub", "auth"), "hits")
    val wcc = byName(Wcc.run(gap, mode = "csr"), "component_vid", "component")
    assert(wcc == byName(Wcc.run(gap, mode = "df"), "component_vid", "component"))
    assert(wcc("101") == wcc("102") && wcc("101") != wcc("1"))
    assert(byName(Lpa.runSync(gap, mode = "csr"), "label") ==
      byName(Lpa.runSync(gap, mode = "df"), "label"))
  }

  test("every CSR block lists strictly ascending srcs") {
    for (graph <- Seq(g, gap);
         (what, csr) <- Seq("undirectedCsr" -> graph.undirectedCsr, "inCsr" -> graph.inCsr,
           "outCsr" -> graph.outCsr);
         b <- csr.blocks.collect(); i <- 0 until b.hi - b.lo; k <- b.offsets(i) + 1 until b.offsets(i + 1))
      assert(b.srcs(k - 1) < b.srcs(k), s"$what: the list of vertex ${b.lo + i} is not ascending")
  }

  test("a second CSR PageRank or HITS run on a graph packs no CSR again") {
    import spark.implicits._
    val edges = spark.range(0, 200, 1, 4).flatMap { i =>
      Corpus.linkTargets(i, 4, 11L).map(j => (i, j))
    }.toDF("src", "dst")
    val fresh = LinkGraph.fromRawEdges(edges)
    fresh.nodeFacts; fresh.dedupEdges
    def jobs(run: => org.apache.spark.sql.DataFrame) = TestSpark.jobsIn(run.collect())._2
    val cfg = PageRank.Config(mode = "csr")
    val (pr1, pr2) = (jobs(PageRank.run(fresh, cfg)), jobs(PageRank.run(fresh, cfg)))
    assert(pr2 < pr1, s"PageRank ran $pr1 then $pr2 jobs")
    val (h1, h2) = (jobs(Hits.run(fresh, mode = "csr")), jobs(Hits.run(fresh, mode = "csr")))
    assert(h2 < h1, s"HITS ran $h1 then $h2 jobs")
    fresh.unpersist()
  }
}
