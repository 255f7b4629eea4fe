package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.algo.{Components, KCore, Lpa, PageRank, Pathing, Wcc}
import graft.bsp.IterativeConf
import graft.graph.LinkGraph

/** The DataFrame superstep driver runs each program's step plan compiled
  * once; these runs of 3+ steps must equal a loop that plans every step
  * afresh from the same fragments (a compiled plan that reused an earlier
  * step's shuffle output would repeat that step's messages). Every loop,
  * dense or sparse, releases the checkpoints it replaced. */
class SuperstepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def graph(n: Long, k: Int, seed: Long): LinkGraph = {
    val edges = spark.range(0, n, 1, 4).flatMap { i =>
      graft.io.Corpus.linkTargets(i, k, seed).map(j => (i, j))
    }.toDF("src", "dst")
    val ids = spark.range(0, n).select($"id".as("vid"), $"id".cast("string").as("name"))
    new LinkGraph(edges, ids, namesAreNumeric = true)
  }

  /** `steps` re-planned steps from `init`, each checkpointed. */
  def replanned(init: DataFrame, steps: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    IterativeConf.withStablePartitioning(spark) {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      (1 to steps).foldLeft(init.repartition(p, col(init.columns.head)).localCheckpoint(true)) {
        (state, s) => step(state, s).localCheckpoint(true)
      }
    }

  test("compiled DF PageRank, 4 steps: equal to a loop that plans every step") {
    val g = graph(3000, 6, 41L)
    val n = g.nodeFacts.count
    val e = g.dedupEdges
    val want = replanned(PageRank.initState(g.nodes, e, n), 4) { (state, _) =>
      val sink = state.agg(sum(when($"out_degree" === 0, $"score").otherwise(0.0))).head().getDouble(0)
      PageRank.superstep(state, e, 0.85, 0.15 / n, lit(0.85 / n * sink)).drop("prev_score")
    }.select($"vid", $"score").as[(Long, Double)].collect().toMap
    val got = PageRank.run(g, PageRank.Config(iterCount = 4, tol = 0.0, mode = "df"))
      .select($"vid", $"score").as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for ((v, w) <- want) assert(math.abs(got(v) - w) <= 1e-12 * w, s"vid $v: ${got(v)} vs $w")
    g.unpersist()
  }

  test("compiled DF PageRank at one shuffle partition: equal to the run at four") {
    val g = graph(2000, 4, 53L)
    def scores() = PageRank.run(g, PageRank.Config(iterCount = 5, tol = 0.0, mode = "df"))
      .select($"vid", $"score").as[(Long, Double)].collect().toMap
    val four = scores()
    val one = TestSpark.withConf("spark.sql.shuffle.partitions" -> "1")(scores())
    assert(one.keySet == four.keySet)
    for ((v, w) <- four) assert(math.abs(one(v) - w) <= 1e-12 * w, s"vid $v: ${one(v)} vs $w")
    g.unpersist()
  }

  test("compiled HashMin and LPA, 4 steps: equal to loops that plan every step") {
    val g = graph(3000, 3, 43L)
    val pairs = g.undirectedPairs
    val wcc = replanned(Wcc.hashMinInit(g.nodes.select($"vid"), pairs, "label"), 4) { (state, _) =>
      Wcc.hashMinStep(state, pairs).drop("changed")
    }.as[(Long, Long)].collect().toMap
    val gotWcc = Wcc.hashMin("wcc", g.nodes.select($"vid"), "label", g.pairTable, 4,
      graft.bsp.RunContext.none).select($"vid", $"label").as[(Long, Long)].collect().toMap
    assert(gotWcc == wcc)
    // 2 sweeps = colour phases 0, 1, 0, 1 (the run halts early only after
    // two quiet phases; the check below sees that it ran all four)
    val lpa = replanned(g.nodes.select($"vid", $"name".as("label")), 4) { (state, phase) =>
      Lpa.lpaPhase(state, pairs, lit((phase - 1) % 2), numericNames = true).drop("changed")
    }.as[(Long, String)].collect().toMap
    val ctx = new graft.bsp.LocalRunContext
    val gotLpa = Lpa.runSync(g, maxSweeps = 2, mode = "df", ctx = ctx)
      .select($"vid", $"label").as[(Long, String)].collect().toMap
    assert(ctx.stats.map(_.step) == (1 to 4))
    assert(gotLpa == lpa)
    g.unpersist()
  }

  /** Ids of the RDDs `df` reads: checkpoints, cached tables and their lineage. */
  def rddsRead(df: DataFrame): Set[Int] = {
    def lineage(r: RDD[_]): Set[Int] = Set(r.id) ++ r.dependencies.flatMap(d => lineage(d.rdd))
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRDD => lineage(l.rdd)
      case m: InMemoryRelation => lineage(m.cacheBuilder.cachedColumnBuffers)
    }.flatten.toSet
  }

  test("sssp and outComponentOf leave persisted only the RDDs their results read") {
    val g = graph(3000, 3, 47L)
    g.nodes.count(); g.dedupTable; g.pairTable
    // a 5-clique with a 20-node path tail: the 2-core peels the tail one
    // node per level, so the run replaces 20 alive sets (many, so that
    // the context cleaner cannot have dropped every leaked one)
    val clique = for (a <- 0L to 4L; b <- a + 1 to 4L) yield (a, b, 0L)
    val tailed = LinkGraph.fromNumericEdgeList(spark, clique ++ (4L to 23L).map(i => (i, i + 1, 0L)))
    tailed.pairTable
    // a 30-edge path: deltaStepping settles one bucket per node
    val path = LinkGraph.fromNumericEdgeList(spark, (0L until 30L).map(i => (i, i + 1, i)))
    path.edges.count()
    val sc = spark.sparkContext
    for ((name, run) <- Seq[(String, () => DataFrame)](
        "sssp" -> (() => Pathing.sssp(g, "0", cutoff = 6)),
        "sssp(no paths)" -> (() => Pathing.sssp(g, "0", withPaths = false)),
        "outComponentOf" -> (() => Components.outComponentOf(g, "2999")),
        "inComponentOf" -> (() => Components.inComponentOf(g, "0")),
        "deltaStepping" -> (() => Pathing.deltaStepping(path, "0", direction = "out")),
        "kcore" -> (() => KCore.coreSet(tailed, 2)))) {
      val before = sc.getPersistentRDDs.keySet
      val res = run()
      assert(res.count() > 1, name)
      val left = sc.getPersistentRDDs.keySet -- before
      val read = rddsRead(res)
      assert(left.subsetOf(read), s"$name left ${(left -- read).size} persisted RDDs its result does not read")
    }
    g.unpersist(); tailed.unpersist(); path.unpersist()
  }

  test("sssp and outComponentOf on a 30-edge path: one job per level plus a fixed few") {
    val path = LinkGraph.fromNumericEdgeList(spark, (0L until 30L).map(i => (i, i + 1, i)))
    path.nodes.count(); path.dedupTable; path.pairTable
    // 30 levels reach a node each and a 31st reaches none; the fixed jobs
    // are the broadcasts of the small test tables' joins, the path
    // reconstruction's max and the result's count
    val (levels, fixed) = (31, 6)
    val (n, jobs) = TestSpark.jobsIn(Pathing.sssp(path, "0").count())
    assert(n == 31)
    assert(jobs <= levels + fixed, s"sssp issued $jobs Spark jobs for $levels levels")
    // 34: the closure's count as a hand-checkpointed level loop
    val (m, closureJobs) = TestSpark.jobsIn(Components.outComponentOf(path, "0").count())
    assert(m == 30)
    assert(closureJobs <= 34, s"outComponentOf issued $closureJobs Spark jobs")
    path.unpersist()
  }

  test("DF PageRank (6 steps) and catalog WCC keep only the checkpoints their results read") {
    val g = graph(3000, 3, 47L)
    g.nodes.count(); g.dedupTable; g.pairTable; g.nodeFacts
    val sc = spark.sparkContext
    val cat = new graft.ckpt.Catalog(java.nio.file.Files.createTempDirectory("graft-ckpt-release").toString)
    for ((name, run) <- Seq[(String, () => DataFrame)](
        "pagerank" -> (() => PageRank.run(g, PageRank.Config(iterCount = 6, tol = 0.0, mode = "df"))),
        "wcc" -> (() => Wcc.run(g, ctx = new graft.ckpt.CatalogRunContext(cat, "release", spark), mode = "df")))) {
      val before = sc.getPersistentRDDs.keySet
      val res = run()
      assert(res.count() > 1, name)
      val left = sc.getPersistentRDDs.keySet -- before
      val read = rddsRead(res)
      assert(left.subsetOf(read), s"$name left ${(left -- read).size} persisted RDDs its result does not read")
    }
    g.unpersist()
  }
}
