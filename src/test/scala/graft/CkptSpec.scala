package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import graft.graph.LinkGraph
import graft.algo.PageRank
import graft.ckpt.{Catalog, CatalogRunContext}

/** North rule: superstep state + per-partition lineage/metrics checkpoints;
  * killed runs resume mid-iteration without recomputing earlier steps. */
class CkptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val edges = Seq(
    (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L), (3L, 1L, 4L), (3L, 4L, 5L), (3L, 5L, 6L),
    (4L, 5L, 7L), (5L, 6L, 8L), (5L, 8L, 9L), (7L, 5L, 10L), (8L, 5L, 11L), (1L, 9L, 12L),
    (9L, 1L, 13L), (6L, 3L, 14L), (4L, 8L, 15L), (8L, 3L, 16L), (5L, 10L, 17L), (10L, 5L, 18L))

  def pr(g: LinkGraph, ctx: graft.bsp.RunContext) =
    PageRank.run(g, PageRank.Config(iterCount = 12, tol = 0.0, mode = "df"), ctx)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("score")).toMap

  test("kill after step k: resume completes identically without recomputing <= k") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val cat = new Catalog(root)
    val g = LinkGraph.fromNumericEdgeList(spark, edges)

    // uninterrupted run
    val full = pr(g, new CatalogRunContext(cat, "run-a", spark))
    assert(cat.snapshots("state/run-a") == (1L to 12L))

    // simulate a crash after superstep 7 of a second run: first do the full
    // run, then delete snapshots > 7 (as if the process died mid-step-8)
    pr(g, new CatalogRunContext(cat, "run-b", spark))
    for (s <- 8L to 12L)
      Files.delete(Paths.get(root, "state/run-b/meta", s"manifest-$s.json"))
    // a half-written data dir without manifest must be invisible
    Files.createDirectories(Paths.get(root, "state/run-b/snap-99"))
    val ctx2 = new CatalogRunContext(cat, "run-b", spark)
    val resumed = pr(g, ctx2)
    assert(ctx2.resumedFromStep == 7L)
    // only steps 8..12 were recomputed
    assert(ctx2.stats.map(_.step).toSet == (8 to 12).toSet)
    for ((k, v) <- full) assert(math.abs(resumed(k) - v) < 1e-15, s"node $k")
  }

  test("WCC kill/resume: labels identical, pre-crash supersteps not recomputed") {
    val root = Files.createTempDirectory("graft-ckpt-wcc").toString
    val cat = new Catalog(root)
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    def labels(ctx: graft.bsp.RunContext) =
      graft.algo.Wcc.run(g, ctx = ctx, mode = "df").collect()
        .map(r => r.getAs[Long]("vid") -> r.getAs[Long]("component_vid")).toMap
    val full = labels(new CatalogRunContext(cat, "wcc-a", spark))
    val committed = cat.snapshots("state/wcc-a")
    assert(committed.size >= 3, s"need >2 supersteps to crash-drop, got $committed")
    labels(new CatalogRunContext(cat, "wcc-b", spark))
    for (s <- 3L to committed.max)
      Files.delete(Paths.get(root, "state/wcc-b/meta", s"manifest-$s.json"))
    val ctx2 = new CatalogRunContext(cat, "wcc-b", spark)
    val resumed = labels(ctx2)
    assert(ctx2.resumedFromStep == 2L)
    assert(ctx2.stats.forall(_.step > 2), "resume recomputed pre-crash supersteps")
    assert(resumed == full)
  }

  test("HITS DataFrame kill/resume: scores identical, pre-crash supersteps not recomputed") {
    val root = Files.createTempDirectory("graft-ckpt-hits").toString
    val cat = new Catalog(root)
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    def scores(ctx: graft.bsp.RunContext) =
      graft.algo.Hits.run(g, 10, ctx, tol = 0.0, mode = "df").collect()
        .map(r => r.getAs[Long]("vid") -> (r.getAs[Double]("hub"), r.getAs[Double]("auth"))).toMap
    val full = scores(new CatalogRunContext(cat, "hits-a", spark))
    assert(cat.snapshots("state/hits-a") == (1L to 10L))
    scores(new CatalogRunContext(cat, "hits-b", spark))
    for (s <- 5L to 10L)
      Files.delete(Paths.get(root, "state/hits-b/meta", s"manifest-$s.json"))
    val ctx2 = new CatalogRunContext(cat, "hits-b", spark)
    val resumed = scores(ctx2)
    assert(ctx2.resumedFromStep == 4L)
    assert(ctx2.stats.map(_.step).toSet == (5 to 10).toSet, "resume recomputed pre-crash supersteps")
    assert(resumed.keySet == full.keySet)
    for ((k, (h, a)) <- full) {
      assert(math.abs(resumed(k)._1 - h) < 1e-12, s"hub $k")
      assert(math.abs(resumed(k)._2 - a) < 1e-12, s"auth $k")
    }
  }

  test("sync LPA kill/resume mid-sweep: labels identical to the uninterrupted run") {
    val root = Files.createTempDirectory("graft-ckpt-lpa").toString
    val cat = new Catalog(root)
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    def labels(ctx: graft.bsp.RunContext) =
      graft.algo.Lpa.runSync(g, mode = "df", ctx = ctx).collect()
        .map(r => r.getAs[Long]("vid") -> r.getAs[String]("label")).toMap
    val full = labels(new CatalogRunContext(cat, "lpa-a", spark))
    val halfSteps = cat.snapshots("state/lpa-a")
    assert(halfSteps.size >= 3, s"need >2 half-sweeps, got $halfSteps")
    labels(new CatalogRunContext(cat, "lpa-b", spark))
    // crash ON an odd boundary: the resumed run restarts MID-SWEEP (colour
    // 1 of its sweep) where the first phase's changed count is unknown —
    // the convergence guard must not early-exit that sweep
    for (s <- 2L to halfSteps.max)
      Files.delete(Paths.get(root, "state/lpa-b/meta", s"manifest-$s.json"))
    val ctx2 = new CatalogRunContext(cat, "lpa-b", spark)
    val resumed = labels(ctx2)
    assert(ctx2.resumedFromStep == 1L)
    assert(ctx2.stats.forall(_.step > 1))
    assert(resumed == full)
  }

  test("clustersFromPairs kill/resume: clusters identical, pre-crash supersteps not recomputed") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-dup").toString
    val cat = new Catalog(root)
    // a path 0-1-...-9 (min label needs several hops) plus a pair 20-21
    // and singleton 30
    val ids = (Seq(30L, 20L, 21L) ++ (0L to 9L)).toDF("id")
    val pairs = ((0L until 9L).map(i => (i + 1, i)) :+ ((21L, 20L))).toDF("a", "b")
    def clusters(ctx: graft.bsp.RunContext) =
      graft.dedup.Dedup.clustersFromPairs(ids, pairs, ctx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = clusters(new CatalogRunContext(cat, "dup-a", spark))
    val committed = cat.snapshots("state/dup-a")
    assert(committed.size >= 3, s"need >2 supersteps to crash-drop, got $committed")
    assert(full == (0L to 9L).map(i => (i, 0L, i == 0L)).toSet ++
      Set((20L, 20L, true), (21L, 20L, false), (30L, 30L, true)))
    clusters(new CatalogRunContext(cat, "dup-b", spark))
    for (s <- 3L to committed.max)
      Files.delete(Paths.get(root, "state/dup-b/meta", s"manifest-$s.json"))
    val ctx2 = new CatalogRunContext(cat, "dup-b", spark)
    val resumed = clusters(ctx2)
    assert(ctx2.resumedFromStep == 2L)
    assert(ctx2.stats.nonEmpty && ctx2.stats.forall(_.step > 2),
      "resume recomputed pre-crash supersteps")
    assert(resumed == full)
  }

  /** Runs `program` over `table` through the DataFrame driver to its halt
    * under one catalog run, then again under a second run whose snapshots
    * after step `k` are deleted (a crash during step k + 1), and checks
    * that the resumed run starts after step k and ends in the same state. */
  def killAfter(name: String, k: Long, table: graft.bsp.Superstep.Static)(
      program: (org.apache.spark.sql.DataFrame, Long) => graft.bsp.Superstep.Dense): Set[Row] = {
    val root = Files.createTempDirectory(s"graft-ckpt-$name").toString
    val cat = new Catalog(root)
    def run(ctx: graft.bsp.RunContext) = graft.bsp.Superstep.dataFrame(name, ctx, table)(program).collect().toSet
    val full = run(new CatalogRunContext(cat, s"$name-a", spark))
    val committed = cat.snapshots(s"state/$name-a")
    assert(committed.max > k + 1, s"$name: need more than ${k + 1} supersteps, got $committed")
    run(new CatalogRunContext(cat, s"$name-b", spark))
    for (s <- k + 1 to committed.max)
      Files.delete(Paths.get(root, s"state/$name-b/meta", s"manifest-$s.json"))
    val ctx2 = new CatalogRunContext(cat, s"$name-b", spark)
    val resumed = run(ctx2)
    assert(ctx2.resumedFromStep == k, name)
    assert(ctx2.stats.nonEmpty && ctx2.stats.forall(_.step > k), s"$name: resume recomputed pre-crash supersteps")
    assert(resumed == full, name)
    full
  }

  test("frontier (sssp) and k-core programs kill/resume: one-frame state holds all a resume needs") {
    import spark.implicits._
    // sssp from node 1: levels 1-3 reach, step 4 reaches nothing; the
    // crash drops steps 3 and 4, so the resumed run must scatter from the
    // rows the restored `fresh` flag marks
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val seeds = g.nodes.filter($"name" === "1").select($"vid")
    val sssp = killAfter("sssp", 2, g.pairTable)(
      graft.algo.Pathing.frontierProgram(g.nodes.select($"vid"), seeds, Long.MaxValue, "a", "b"))
    val names = g.nodes.as[(Long, String)].collect().toMap
    assert(sssp.map(r => names(r.getLong(0)) -> r.getLong(1)).toMap ==
      Map("1" -> 0L, "2" -> 1L, "3" -> 1L, "4" -> 1L, "9" -> 1L, "5" -> 2L, "6" -> 2L, "8" -> 2L,
        "7" -> 3L, "10" -> 3L))
    // a 4-clique with a 6-node path tail: the 2-core peels one tail node
    // per step, and the crash falls mid-peel
    val clique = for (a <- 0L to 3L; b <- a + 1 to 3L) yield (a, b, 0L)
    val tailed = LinkGraph.fromNumericEdgeList(spark, clique ++ (3L to 8L).map(i => (i, i + 1, 0L)))
    val core = killAfter("kcore", 3, tailed.pairTable)(graft.algo.KCore.peelProgram(tailed, 2, Long.MaxValue))
    val tailedNames = tailed.nodes.as[(Long, String)].collect().toMap
    assert(core.collect { case r if r.getBoolean(1) => tailedNames(r.getLong(0)) } == Set("0", "1", "2", "3"))
    g.unpersist(); tailed.unpersist()
  }

  test("async metric-flush failures surface at the finish() barrier, not silently") {
    // catalog root nested under a plain FILE: every mkdirs/create fails
    val f = Files.createTempFile("graft-ckpt-block", "")
    val ctx = new CatalogRunContext(new Catalog(f.toString + "/sub"), "run-e", spark)
    // record() rethrows the failure when the flush has already failed by
    // then, finish() otherwise: either barrier may surface it
    val e = intercept[Throwable] {
      ctx.record(graft.bsp.StepStat("pagerank", 1, 1L, 1L, 0.0, 1.0))
      ctx.finish()
    }
    assert(e.getMessage != null)
    Files.delete(f)
  }

  test("finish() stops the writer thread and stays idempotent") {
    val cat = new Catalog(Files.createTempDirectory("graft-ckpt-thr").toString)
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val ctx = new CatalogRunContext(cat, "run-thr", spark)
    def writers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName == "graft-ckpt-run-thr" && t.isAlive)
    pr(g, ctx)
    assert(writers.isEmpty, "writer thread still alive after finish()")
    ctx.finish()
    assert(ctx.metrics().get.count() > 0)
    assert(writers.isEmpty)
  }

  test("a runId with quotes and backslashes round-trips through the metrics JSONL") {
    val cat = new Catalog(Files.createTempDirectory("graft-ckpt-esc").toString)
    val runId = "run \"q\" \\x*"
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val ctx = new CatalogRunContext(cat, runId, spark)
    val full = pr(g, ctx)
    ctx.record(graft.bsp.StepStat("alg\"o\\", 13, 3L, 3L, 0.5, 1.0))
    val rows = ctx.metrics().get.collect()
    assert(rows.length > 13)
    assert(rows.forall(r => r.getAs[String]("run_id") == runId && r.getAs[String]("algo") != null))
    assert(rows.exists(r => r.getAs[String]("algo") == "alg\"o\\" && r.getAs[Int]("step") == 13))
    // the resume path reads the committed snapshot back under the same id
    val ctx2 = new CatalogRunContext(cat, runId, spark)
    assert(pr(g, ctx2) == full && ctx2.resumedFromStep == 12L)
  }

  test("metrics table carries global and per-partition lineage rows") {
    val root = Files.createTempDirectory("graft-ckpt2").toString
    val cat = new Catalog(root)
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val ctx = new CatalogRunContext(cat, "run-m", spark)
    pr(g, ctx)
    ctx.flushMetrics()
    val m = ctx.metrics().get.collect()
    val global = m.filter(_.getAs[Int]("partition") == -1)
    val lineage = m.filter(r => r.getAs[String]("algo") == "lineage")
    assert(global.map(_.getAs[Int]("step")).toSet == (1 to 12).toSet)
    assert(lineage.nonEmpty)
    // lineage row counts per step sum to the node count
    val byStep = lineage.groupBy(_.getAs[Int]("step")).view.mapValues(_.map(_.getAs[Long]("rows")).sum)
    byStep.foreach { case (_, total) => assert(total == 10L) }
    assert(global.forall(_.getAs[Long]("edges_scattered") > 0))
  }
}
