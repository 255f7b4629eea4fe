package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph

/** Plan traversal that also descends into adaptive plans and query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper

/** Physical-plan audits: the properties ARCHITECTURE.md claims are
  * load-bearing at scale, asserted on the actual executed plans so a
  * regression (an extra Exchange, a lost pushdown, a nested-loop join)
  * fails the suite rather than only showing up as a 100TB slowdown. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Run body with auto-broadcast off: at scale neither superstep side
    * fits a broadcast, and the co-partitioning claim is about that regime
    * (a tiny test graph would otherwise broadcast the edge side). */
  def withoutAutoBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** True when `pl` reaches a cached table through no join or aggregate. */
  def readsCache(pl: SparkPlan): Boolean = pl match {
    case _: InMemoryTableScanExec => true
    case _: BaseJoinExec | _: BaseAggregateExec => false
    case other => other.children.exists(readsCache)
  }

  test("graph tables: each build plans ONE exchange (the dedup shuffle is the partition shuffle)") {
    // first read from the session at its default (AQE on), as a graph
    // table is built wherever it is first read; the build plan is the
    // cached relation's
    val edges0 = spark.range(0, 2000, 1, 4).flatMap { i =>
      graft.io.Corpus.linkTargets(i, 4, 5L).map(j => (i, j))
    }.toDF("src", "dst")
    val g = LinkGraph.fromRawEdges(edges0)
    for ((name, table) <- Seq("dedupEdges" -> g.dedupEdges, "undirectedPairs" -> g.undirectedPairs)) {
      val build = table.queryExecution.optimizedPlan
        .collectFirst { case r: InMemoryRelation => r.cachedPlan }
      assert(build.isDefined, s"$name is not cached")
      val exchanges = PlanWalk.collect(build.get) { case x: ShuffleExchangeExec => x }.length
      assert(exchanges == 1, s"$name build plans $exchanges exchanges:\n${build.get}")
    }
    g.unpersist()
  }

  test("graph table first read with AQE on: an AQE-off superstep joins it with no exchange on its side") {
    withoutAutoBroadcast {
      val n = 20000L
      val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
        graft.io.Corpus.linkTargets(i, 8, 23L).map(j => (i, j))
      }.toDF("src", "dst")
      val g = LinkGraph.fromRawEdges(edges0)
      val e = g.dedupEdges // first read under the session default
      graft.bsp.IterativeConf.withStablePartitioning(spark) {
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val state = graft.algo.PageRank.initState(g.nodes, e, n)
          .repartition(p, $"vid").localCheckpoint(true)
        val step = graft.algo.PageRank.superstep(state, e, 0.85, 0.15 / n, lit(0.0))
        val exec = step.queryExecution.executedPlan
        val s = exec.toString
        val exchanges = exec.collect { case x: ShuffleExchangeExec => x }
        assert(exchanges.length == 1, s"expected 1 shuffle per superstep, got ${exchanges.length}:\n$s")
        exchanges.foreach(x => assert(!readsCache(x.child), s"exchange over the cached edge table:\n$s"))
      }
      g.unpersist()
    }
  }

  test("DF PageRank superstep: ONE exchange, no broadcast-nested-loop, cached edge table never re-sorted") {
    // 200k nodes / ~3.2M edges with a 2MB broadcast threshold reproduces
    // the at-scale join regime (neither side broadcasts); the production
    // superstep uses shuffle_hash hints because post-checkpoint state has
    // unknown stats and would otherwise SMJ-re-sort the cached edge table
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (2L * 1024 * 1024).toString)
    try graft.bsp.IterativeConf.withStablePartitioning(spark) {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val n = 200000L
      val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
        graft.io.Corpus.linkTargets(i, 16, 7L).map(j => (i, j))
      }.toDF("src", "dst")
      val g = LinkGraph.fromRawEdges(edges0)
      val e = g.dedupEdges
      val state = graft.algo.PageRank.initState(g.nodes, e, n)
        .repartition(p, $"vid").localCheckpoint(true)
      val newState = graft.algo.PageRank.superstep(state, e, 0.85, 0.15 / n, lit(0.0))
      // tree collect: the cached dedupEdges BUILD lineage (embedded in the
      // InMemoryRelation string) ran once, not per superstep
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exec = newState.queryExecution.executedPlan
      val exchanges = exec.collect { case x: ShuffleExchangeExec => x }.length
      val s = exec.toString
      assert(exchanges == 1, s"expected exactly 1 shuffle per superstep, got $exchanges in:\n$s")
      // the shuffle_hash hints must hold: both superstep joins SHJ, so the
      // m-row cached edge table is never re-sorted per iteration
      import org.apache.spark.sql.execution.SortExec
      import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
      assert(exec.collect { case j: ShuffledHashJoinExec => j }.length == 2,
        s"superstep joins are not both SHJ:\n$s")
      assert(exec.collect { case srt: SortExec => srt }.isEmpty,
        s"unexpected per-superstep sort:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin"))
      g.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("HashMin superstep (WCC + dup clusters): ONE exchange, both joins SHJ, no sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    withoutAutoBroadcast {
      graft.bsp.IterativeConf.withStablePartitioning(spark) {
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val n = 50000L
        val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
          graft.io.Corpus.linkTargets(i, 8, 17L).map(j => (i, j))
        }.toDF("src", "dst")
        val g = LinkGraph.fromRawEdges(edges0)
        val pairs = g.undirectedPairs
        val state = graft.algo.Wcc.hashMinInit(g.nodes.select($"vid"), pairs, "label")
          .repartition(p, $"vid").localCheckpoint(true)
        val exec = graft.algo.Wcc.hashMinStep(state, pairs).queryExecution.executedPlan
        val s = exec.toString
        val exchanges = exec.collect { case x: ShuffleExchangeExec => x }.length
        assert(exchanges == 1, s"expected exactly 1 shuffle per superstep, got $exchanges in:\n$s")
        assert(exec.collect { case j: ShuffledHashJoinExec => j }.length == 2,
          s"superstep joins are not both SHJ:\n$s")
        assert(exec.collect { case srt: SortExec => srt }.isEmpty,
          s"unexpected per-superstep sort:\n$s")
        g.unpersist()
      }
    }
  }

  /** The nodes of `pl` that run inside a WholeStageCodegen stage. */
  def inCodegen(pl: SparkPlan, codegen: Boolean = false): Seq[SparkPlan] = pl match {
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec => inCodegen(w.child, codegen = true)
    case a: org.apache.spark.sql.execution.InputAdapter => inCodegen(a.child)
    case other => (if (codegen) Seq(other) else Nil) ++ other.children.flatMap(inCodegen(_, codegen))
  }

  test("compiled DF supersteps: the plans the driver re-executes keep the superstep locks") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.algo.{Hits, KCore, Lpa, PageRank, Pathing, Wcc}
    import graft.bsp.{IterativeConf, RunContext, Superstep}
    withoutAutoBroadcast {
      val n = 20000L
      val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
        graft.io.Corpus.linkTargets(i, 8, 29L).map(j => (i, j))
      }.toDF("src", "dst")
      val ids = spark.range(0, n).select($"id".as("vid"), $"id".cast("string").as("name"))
      val g = new LinkGraph(edges0, ids, namesAreNumeric = true)
      val (e, pairs) = (g.dedupTable, g.pairTable)
      val (keys, seeds) = (g.nodes.select($"vid"), g.nodes.filter($"vid" < 100).select($"vid"))
      Superstep.withStatic(Hits.scatterRows(g), "from") { scatter =>
        IterativeConf.withStablePartitioning(spark) {
          for ((name, d) <- Seq(
              "pagerank" -> PageRank.dfProgram(g, PageRank.Config())(e.df, e.rows),
              "hashmin" -> Wcc.hashMinProgram(g.nodes.select($"vid"), "label", 20)(pairs.df, pairs.rows),
              "lpa" -> Lpa.dfProgram(g, 10)(pairs.df, pairs.rows),
              "hits" -> Hits.dfProgram(g, 20, 0.01)(scatter.df, scatter.rows),
              // the frontier program on both table shapes it runs over:
              // sssp's (a, b) pairs and a closure's (src, dst) edges
              "frontier(pairs)" -> Pathing.frontierProgram(keys, seeds, 20, "a", "b")(pairs.df, pairs.rows),
              "frontier(edges)" -> Pathing.frontierProgram(keys, seeds, 20, "src", "dst")(e.df, e.rows),
              "kcore" -> KCore.peelProgram(g, 3, 20)(pairs.df, pairs.rows))) {
            val c = Superstep.compile(Superstep.start(RunContext.none, d), d)
            val step = c.step.plan
            val s = step.toString
            val exchanges = step.collect { case x: ShuffleExchangeExec => x }
            assert(exchanges.length == (if (name == "lpa") 2 else 1),
              s"$name: ${exchanges.length} exchanges per superstep:\n$s")
            exchanges.foreach(x => assert(!readsCache(x.child), s"$name: exchange over the cached table:\n$s"))
            val shj = step.collect { case j: ShuffledHashJoinExec => j }
            assert(shj.length == 2, s"$name: superstep joins are not both SHJ:\n$s")
            assert(shj.forall(j => inCodegen(step).exists(_ eq j)), s"$name: a join left codegen:\n$s")
            if (name != "lpa") assert(step.collect { case x: SortExec => x }.isEmpty, s"$name: sort:\n$s")
            assert(step.collect { case x: WindowExec => x }.isEmpty, s"$name: window:\n$s")
            // the aggregate: partial + final hash aggregates, both codegen'd
            val agg = c.agg.plan
            val aggs = agg.collect { case a: HashAggregateExec => a }
            assert(aggs.length == 2 && aggs.forall(a => inCodegen(agg).exists(_ eq a)),
              s"$name: aggregate plan:\n$agg")
          }
        }
      }
      g.unpersist()
    }
  }

  test("a DF superstep run plans its step and its aggregate once, however many steps it runs") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.SparkStrategy
    import graft.algo.{PageRank, Wcc}
    // a strategy that plans nothing but counts the joins and aggregates
    // Catalyst plans while a run goes
    def plannings(body: => Unit): (Int, Int) = {
      val joins = new AtomicInteger
      val aggs = new AtomicInteger
      spark.experimental.extraStrategies = Seq(new SparkStrategy {
        override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
          plan match {
            case _: Join => joins.incrementAndGet()
            case _: Aggregate => aggs.incrementAndGet()
            case _ =>
          }
          Nil
        }
      })
      try body finally spark.experimental.extraStrategies = Nil
      (joins.get, aggs.get)
    }
    // a path 0-1-...-29: HashMin needs 29 steps to converge on it
    val edges = (0L until 29L).map(i => (i, i + 1, i))
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    g.dedupTable; g.pairTable; g.nodeFacts
    def pagerank(steps: Int) = plannings {
      PageRank.run(g, PageRank.Config(iterCount = steps, tol = 0.0, mode = "df"))
    }
    def hashMin(steps: Int) = plannings {
      Wcc.hashMin("wcc", g.nodes.select($"vid"), "label", g.pairTable, steps, graft.bsp.RunContext.none)
    }
    for ((name, run) <- Seq("pagerank" -> (pagerank _), "hashmin" -> (hashMin _))) {
      val (two, five) = (run(2), run(5))
      assert(two._1 > 0 && two._2 > 0, s"$name planned no join or aggregate: $two")
      assert(five == two, s"$name: (joins, aggregates) planned in 2 steps $two, in 5 steps $five")
    }
    g.unpersist()
  }

  test("sssp + temporal-reachability supersteps: SHJ against the cached big table, no sort, no window") {
    // the round-3 sssp picked its min-vid parent with a row_number window
    // (a sort per superstep) and carried name-path arrays in state; the
    // rebuilt step must be a hash aggregate over (vid, parent) rows with
    // both joins SHJ so the persisted pairs/events tables are never
    // re-sorted per level. The state is localCheckpoint'ed to reproduce
    // the unknown-stats regime of a real loop iteration.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    withoutAutoBroadcast {
      graft.bsp.IterativeConf.withStablePartitioning(spark) {
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val n = 50000L
        val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
          graft.io.Corpus.linkTargets(i, 8, 11L).map(j => (i, j))
        }.toDF("src", "dst").withColumn("ts", col("src") % 97)
        val g = LinkGraph.fromRawEdges(edges0)
        val pairs = g.undirectedPairs
        val state = g.nodes.select($"vid", when($"vid" < 100, 0L).as("dist"),
            lit(null).cast("long").as("parent"), ($"vid" < 100).as("fresh"))
          .repartition(p, $"vid").localCheckpoint(true)
        val step = graft.algo.Pathing.frontierStep(state, pairs, "a", "b")
        val exec = step.queryExecution.executedPlan
        val s = exec.toString
        assert(exec.collect { case x: SortExec => x }.isEmpty, s"per-level sort in sssp step:\n$s")
        assert(exec.collect { case x: WindowExec => x }.isEmpty, s"window in sssp step:\n$s")
        assert(exec.collect { case x: ShuffledHashJoinExec => x }.nonEmpty,
          s"sssp frontier join is not SHJ:\n$s")

        val events = g.edges.select($"src", $"dst", $"ts")
          .repartition(p, $"src").persist()
        events.count()
        val tFrontier = g.nodes.filter($"vid" < 100)
          .select($"vid", lit(0L).as("earliest"), lit(null).cast("long").as("prev"))
          .localCheckpoint(true)
        val scatter = graft.algo.Pathing.reachScatter(tFrontier, events, g.nodes, Seq(1L))
        val exec2 = scatter.queryExecution.executedPlan
        val s2 = exec2.toString
        assert(exec2.collect { case x: SortExec => x }.isEmpty,
          s"per-step sort in reachability scatter:\n$s2")
        assert(exec2.collect { case x: ShuffledHashJoinExec => x }.nonEmpty,
          s"reachability scatter join is not SHJ:\n$s2")
        events.unpersist(); g.unpersist()
      }
    }
  }

  test("frontier step (sssp + closures): SHJ joins, no sort, no window, no exchange over the cached edge table") {
    // the join against the state must run ABOVE the min-parent aggregate:
    // an anti-join against the visited set pushed below the frontier join
    // re-shuffled the whole persisted edge table on every level. Checked on both static-table
    // shapes the step runs on: sssp's (a, b) pairs and a closure's (src,
    // dst) edges.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    withoutAutoBroadcast {
      graft.bsp.IterativeConf.withStablePartitioning(spark) {
        val n = 50000L
        val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
          graft.io.Corpus.linkTargets(i, 8, 11L).map(j => (i, j))
        }.toDF("src", "dst")
        val g = LinkGraph.fromRawEdges(edges0)
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        // the first 300 vids reached, the first 100 of them at the last level
        val state = g.nodes.select($"vid", when($"vid" < 300, 1L).as("dist"),
            lit(null).cast("long").as("parent"), ($"vid" < 100).as("fresh"))
          .repartition(p, $"vid").localCheckpoint(true)
        val pairs = g.undirectedPairs
        val dedup = g.dedupEdges
        for (step <- Seq(
            graft.algo.Pathing.frontierStep(state, pairs, "a", "b"),
            graft.algo.Pathing.frontierStep(state, dedup, "src", "dst"))) {
          val exec = step.queryExecution.executedPlan
          val s = exec.toString
          assert(exec.collect { case x: SortExec => x }.isEmpty, s"per-level sort in frontier step:\n$s")
          assert(exec.collect { case x: WindowExec => x }.isEmpty, s"window in frontier step:\n$s")
          assert(exec.collect { case x: ShuffledHashJoinExec => x }.length == 2,
            s"frontier step joins are not both SHJ:\n$s")
          exec.collect { case x: ShuffleExchangeExec => x }.foreach { x =>
            assert(!readsCache(x.child), s"exchange over the cached edge table:\n$s")
          }
        }
        g.unpersist()
      }
    }
  }

  test("delta-stepping relaxation: SHJ against the cached edge table, no sort, no window") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    withoutAutoBroadcast {
      graft.bsp.IterativeConf.withStablePartitioning(spark) {
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val n = 50000L
        val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
          graft.io.Corpus.linkTargets(i, 8, 13L).map(j => (i, j))
        }.toDF("src", "dst")
        val light = edges0.withColumn("w", (col("src") % 7 + 1).cast("double"))
          .repartition(p, $"src").persist()
        light.count()
        val state = spark.range(0, 100).select($"id".as("vid"), lit(0.0).as("dist"))
          .localCheckpoint(true)
        val step = graft.algo.Pathing.deltaRelax(state, light, state)
        val exec = step.queryExecution.executedPlan
        val s = exec.toString
        assert(exec.collect { case x: SortExec => x }.isEmpty,
          s"per-relaxation sort in delta-stepping:\n$s")
        assert(exec.collect { case x: WindowExec => x }.isEmpty,
          s"window in delta-stepping relaxation:\n$s")
        assert(exec.collect { case x: ShuffledHashJoinExec => x }.nonEmpty,
          s"delta-stepping frontier join is not SHJ:\n$s")
        light.unpersist()
      }
    }
  }

  test("sync LPA colour phase: both joins SHJ, sorts only above aggregates, no window") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    withoutAutoBroadcast {
      graft.bsp.IterativeConf.withStablePartitioning(spark) {
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val n = 50000L
        val edges0 = spark.range(0, n, 1, 4).flatMap { i =>
          graft.io.Corpus.linkTargets(i, 8, 13L).map(j => (i, j))
        }.toDF("src", "dst")
        val ids = spark.range(0, n).select($"id".as("vid"), $"id".cast("string").as("name"))
        // an uncached edge frame: the pair table's build lineage then holds
        // no other cached scan
        val g = new LinkGraph(edges0, ids, namesAreNumeric = true)
        val pairs = g.undirectedPairs
        val state = ids.select($"vid", $"name".as("label"))
          .repartition(p, $"vid").localCheckpoint(true)
        val phase = graft.algo.Lpa.lpaPhase(state, pairs, lit(0), numericNames = true)
        val exec = phase.queryExecution.executedPlan
        val s = exec.toString
        assert(exec.collect { case x: WindowExec => x }.isEmpty,
          s"window in sync LPA phase (majority must be an aggregate):\n$s")
        assert(exec.collect { case x: ShuffledHashJoinExec => x }.length == 2,
          s"LPA phase joins are not both SHJ:\n$s")
        // the struct-max SortAggregate is deliberate (see Lpa.lpaPhase):
        // its sorts run over the count-aggregate's reduced output. The
        // load-bearing invariant is that NO sort sits directly on a join,
        // scan, or exchange of un-aggregated data — i.e. the edge table
        // and the m-row gather join output are never sorted.
        import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
        def firstReal(pl: SparkPlan): SparkPlan = pl match {
          case w: WholeStageCodegenExec => firstReal(w.child)
          case a: InputAdapter => firstReal(a.child)
          case ex: ShuffleExchangeExec => firstReal(ex.child)
          case other => other
        }
        exec.collect { case srt: SortExec => srt }.foreach { srt =>
          assert(firstReal(srt.child).isInstanceOf[BaseAggregateExec],
            s"sort over un-aggregated data in LPA phase:\n${srt.treeString}")
        }
        // the m-row gather join must be planned ONCE (a sort-free argmax
        // rewrite was rejected because it planned this subtree twice)
        assert(s.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") == 1,
          s"edge gather consumed more than once per phase:\n$s")
        g.unpersist()
      }
    }
  }

  test("parquet scan: filters push down and columns prune to the projection") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 10).select("doc_id", "text")
    val s = plan(df)
    assert(s.contains("PushedFilters") && s.contains("LessThan(doc_id,10)"),
      s"doc_id filter not pushed to the scan:\n$s")
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text")
      && !readSchema.contains("lang"),
      s"scan reads more columns than the projection: $readSchema")
  }

  test("curate pipeline: ONE exchange (fingerprint groupBy), no join, no sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = graft.text.TextOps.curate(docs, 150, 0.3, Seq("en"))
    kept.count() // materialise so AQE finalises the executed plan
    val s = plan(kept)
    assert(!s.contains("SortMergeJoin") && !s.contains("SortExec") &&
      !s.contains("BroadcastHashJoin"), s"curate plan grew a join/sort:\n$s")
    // exactly one shuffle: the md5-fingerprint hash aggregate
    val shuffleCount = s.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffleCount == 1, s"expected 1 exchange, saw $shuffleCount:\n$s")
  }

  test("TF-IDF search: the query-term idf join broadcasts (no all-to-all)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val res = graft.text.Search.search(docs, Seq("spark", "query"), k = 5)
    val s = plan(res)
    assert(s.contains("BroadcastHashJoin"), s"idf join did not broadcast:\n$s")
  }

  test("per-node triangles: wedge join is degree-oriented (no unoriented adjacency self-join)") {
    // the O(Σ d²) formulation unions both edge orientations ((a,b) ∪ (b,a))
    // and self-joins that full adjacency — its physical plan necessarily
    // contains a Union feeding the wedge join. The oriented path projects
    // lo→hi once (each triangle counted at its unique wedge centre), so
    // the executed plan must be Union-free.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val res = graft.algo.Triangles.perNode(g)
    // perNode localCheckpoints its result; audit the pre-checkpoint plan
    val und = graft.algo.Triangles.undirectedSimple(g)
    val (tri, oriented) = graft.algo.Triangles.enumerate(und)
    // the degree table's build lineage (inside the cached oriented table)
    // legitimately unions the two endpoint projections — only the WEDGE
    // JOIN pipeline above the cache boundary must be union-free
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def aboveCache(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InMemoryTableScanExec => Seq(p)
      case _ => p +: p.children.flatMap(aboveCache)
    }
    val nodesAbove = aboveCache(tri.queryExecution.executedPlan)
    assert(!nodesAbove.exists(_.isInstanceOf[UnionExec]),
      s"unoriented adjacency union in the wedge join:\n${plan(tri)}")
    oriented.unpersist()
    // vids are re-minted densely; compare by node name
    val byName = res.join(g.nodes, "vid").select($"name", $"triangles")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName == Map("1" -> 1L, "2" -> 1L, "3" -> 1L, "4" -> 0L))
  }

  test("Cypher shortestPath: hash-agg reduction, source filter pushes below the aggregate") {
    // the min-hop reduction must be a hash aggregate (no window/sort) and
    // an equality/range restriction on the source — a grouping key — must
    // reach below the aggregate into the path join chain, so a restricted
    // shortestPath never enumerates the unrestricted pair space
    import org.apache.spark.sql.execution.{SortExec, FilterExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    graft.bsp.IterativeConf.withStablePartitioning(spark) {
      val edges0 = spark.range(0, 2000)
        .select(col("id").as("src"), ((col("id") * 7 + 3) % 2000).as("dst"))
        .withColumn("ts", col("src"))
      val g = LinkGraph.fromRawEdges(edges0)
      val df = graft.cypher.Cypher.run(g,
        "MATCH p = shortestPath((a)-[e*1..2]->(b)) WHERE a.id < 20 " +
          "RETURN a.id AS s, b.id AS d, length(p) AS l")
      val exec = df.queryExecution.executedPlan
      val s = exec.toString
      assert(exec.collect { case x: SortExec => x }.isEmpty, s)
      assert(exec.collect { case x: WindowExec => x }.isEmpty, s)
      val aggs = exec.collect { case a: HashAggregateExec => a }
      assert(aggs.nonEmpty, s)
      val pushed = aggs.last.collect {
        case f: FilterExec if f.condition.toString.contains("< 20") => f
      }
      assert(pushed.nonEmpty, s"source filter did not push below the aggregate:\n$s")
      assert(df.count() > 0)
    }
  }

  test("Cypher pattern predicates: decorrelated equi-joins, key side pre-aggregated") {
    // EXISTS/COUNT subqueries must plan as a key-distinct (or per-key
    // count) aggregate LEFT-joined on equality — never a per-row nested
    // loop or a cartesian against the subpattern
    val edges0 = spark.range(0, 2000)
      .select(col("id").as("src"), ((col("id") * 7 + 3) % 2000).as("dst"))
      .withColumn("ts", col("src"))
    val g = LinkGraph.fromRawEdges(edges0)
    val ex = graft.cypher.Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE NOT (b)-[:_default]->() RETURN count(*) AS n")
    // string assertions: under AQE the executed plan roots at
    // AdaptiveSparkPlanExec and collect() cannot descend into it
    val s1 = ex.queryExecution.executedPlan.toString
    assert(!s1.contains("BroadcastNestedLoopJoin") && !s1.contains("CartesianProduct"), s1)
    assert(s1.contains("HashAggregate"), s1)
    val cnt = graft.cypher.Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, COUNT { (a)-[]->() } AS d")
    val s2 = cnt.queryExecution.executedPlan.toString
    assert(!s2.contains("BroadcastNestedLoopJoin") && !s2.contains("CartesianProduct"), s2)
    assert(cnt.count() == 2000)
  }

  test("superstep pipeline stays inside WholeStageCodegen (no interpreted hot path)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.select(col("doc_id"),
      graft.text.TextOps.tokenCount(col("text")).as("n"))
    // codegen'd stages show as "*(n)" markers in the executed plan
    assert(plan(q).contains("*("), plan(q))
  }

  test("CSR results are built on the executors: no LocalRelation, the plan reads the node table") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.algo.{Hits, Lpa, PageRank, Wcc}
    val g = LinkGraph.fromPages(graft.io.Corpus.tiny(spark).toDF()).cache()
    // CSR sync-LPA needs numeric names: the same graph, named by vid
    val numeric = new LinkGraph(g.edges,
      g.nodes.select(col("vid"), col("vid").cast("string").as("name")).cache(), namesAreNumeric = true)
    def nodeTable(h: LinkGraph) = h.nodes.queryExecution.optimizedPlan
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder }.get
    for ((name, h, res) <- Seq(
        ("pagerank", g, PageRank.run(g, PageRank.Config(mode = "csr"))),
        ("wcc", g, Wcc.run(g, mode = "csr")),
        ("hits", g, Hits.run(g, mode = "csr")),
        ("sync-lpa", numeric, Lpa.runSync(numeric, mode = "csr")))) {
      val pl = res.queryExecution.optimizedPlan
      assert(pl.collect { case l: LocalRelation => l }.isEmpty, s"$name result holds driver rows:\n$pl")
      assert(pl.collect { case r: InMemoryRelation if r.cacheBuilder eq nodeTable(h) => r }.nonEmpty,
        s"$name result does not read the node table:\n$pl")
      assert(res.count() == h.nodeFacts.count, name)
    }
    numeric.unpersist(); g.unpersist()
  }
}
