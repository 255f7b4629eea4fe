package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.algo._

/** Secondary algorithms: HITS, metrics, pathing, components, result ops
  * against reference fixtures (FIXTURES.md §B5 + test modules). */
class AlgoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("HITS fixture (hits.rs:180-236), f32-reference tolerance 2e-4") {
    val edges = Seq(
      (1L, 4L), (2L, 3L), (2L, 5L), (3L, 1L), (4L, 2L), (4L, 3L), (5L, 2L), (5L, 3L),
      (5L, 4L), (5L, 6L), (6L, 3L), (6L, 8L), (7L, 1L), (7L, 3L), (8L, 1L)
    ).zipWithIndex.map { case ((s, d), i) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val got = Hits.run(g, 20).collect()
      .map(r => r.getAs[String]("name") -> (r.getAs[Double]("hub"), r.getAs[Double]("auth"))).toMap
    val want = Map(
      "1" -> (0.0431365, 0.096625775), "2" -> (0.14359662, 0.18366566),
      "3" -> (0.030866561, 0.36886504), "4" -> (0.1865414, 0.12442485),
      "5" -> (0.26667944, 0.05943252), "6" -> (0.14359662, 0.10755368),
      "7" -> (0.15471625, 0.0), "8" -> (0.030866561, 0.05943252))
    assert(got.keySet == want.keySet)
    for ((k, (h, a)) <- want) {
      assert(math.abs(got(k)._1 - h) < 2e-4, s"hub $k: ${got(k)._1} vs $h")
      assert(math.abs(got(k)._2 - a) < 2e-4, s"auth $k: ${got(k)._2} vs $a")
    }
  }

  test("degree centrality fixture (test_algorithms.py:311-327)") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val got = Metrics.degreeCentrality(g).join(g.nodes, Seq("vid"))
      .select($"name", $"value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("1" -> 1.0, "2" -> 1.0, "3" -> 2.0 / 3, "4" -> 2.0 / 3))
  }

  test("max/min degree fixture (test_algorithms.py:329-341)") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L))
      .map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val r = Metrics.degreeStats(g).head()
    assert(r.getAs[Long]("max_degree") == 3L)
    assert(r.getAs[Long]("min_degree") == 2L)
  }

  test("local clustering coefficient fixture (local_clustering_coefficient.rs:80-110)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 2L), (1L, 4L), (4L, 5L))
      .map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val got = Metrics.localClusteringCoefficient(g).join(g.nodes, Seq("vid"))
      .select($"name", $"value").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = Map("1" -> 1.0 / 3, "2" -> 1.0, "3" -> 1.0, "4" -> 0.0, "5" -> 0.0)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-7, s"node $k: ${got(k)} vs $v")
  }

  test("global clustering coefficient fixture: 2 triangles / 20 triplets = 0.3") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)
    ).map { case (s, d) => (s, d, 0L) }
    // K4: triangles=4, triplets: each node degree 3 -> C(3,2)=3, total 12; 3*4/12=1.0
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    assert(Metrics.tripletCount(g) == 12L)
    assert(math.abs(Metrics.globalClusteringCoefficient(g) - 1.0) < 1e-9)
  }

  test("reciprocity fixtures (reciprocity.rs doc example)") {
    val edges = Seq(
      (1L, 2L), (1L, 4L), (2L, 3L), (3L, 2L), (3L, 1L), (4L, 3L), (4L, 1L), (1L, 5L)
    ).map { case (s, d) => (s, d, 1L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    // reciprocal non-self pairs: (2,3)&(3,2); (1,4)&(4,1) => 4 reciprocal of 8
    assert(math.abs(Metrics.globalReciprocity(g) - 0.5) < 1e-9)
    val local = Metrics.localReciprocity(g).join(g.nodes, Seq("vid"))
      .select($"name", $"value").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(local("5") - 0.0) < 1e-9)
    assert(math.abs(local("2") - (2.0 * 1 / 3)) < 1e-9)
  }

  test("balance: in minus out over exploded events") {
    val e = Seq((1L, 2L, 0L, 0L, "_default", 10.0), (1L, 2L, 1L, 1L, "_default", 5.0),
      (2L, 1L, 2L, 2L, "_default", 3.0))
      .toDF("src", "dst", "ts", "seq", "layer", "weight")
    val g = new LinkGraph(e,
      Seq((1L, "1"), (2L, "2")).toDF("vid", "name"), namesAreNumeric = true)
    val got = Metrics.balance(g, col("weight")).join(g.nodes, Seq("vid"))
      .select($"name", $"value").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("1" -> (3.0 - 15.0), "2" -> (15.0 - 3.0)))
  }

  test("SSSP fixture (test_algorithms.py:343-368)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
      .map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    def paths(cutoff: Long) = Pathing.sssp(g, "1", cutoff).collect()
      .map(r => r.getAs[String]("name") -> r.getSeq[String](r.fieldIndex("path")).toList).toMap
    assert(paths(1L) == Map("1" -> Seq("1"), "2" -> Seq("1", "2"), "4" -> Seq("1", "4")))
    assert(paths(2L) == Map("1" -> Seq("1"), "2" -> Seq("1", "2"),
      "3" -> Seq("1", "2", "3"), "4" -> Seq("1", "4")))
  }

  test("dijkstra fixture (test_algorithms.py:370-401)") {
    val edges = Seq(
      ("A", "B", 4.0), ("A", "C", 4.0), ("B", "C", 2.0), ("C", "D", 3.0),
      ("C", "E", 1.0), ("C", "F", 6.0), ("D", "F", 2.0), ("E", "F", 3.0))
    val e = edges.zipWithIndex.map { case ((s, d, w), i) => (s, d, i.toLong, i.toLong, "_default", w) }
      .toDF("src_name", "dst_name", "ts", "seq", "layer", "weight")
    val gBase = LinkGraph.fromEdgeList(spark, edges.zipWithIndex.map { case ((s, d, _), i) => (s, d, i.toLong) })
    // attach weights by re-joining on names
    val eWithVids = e
      .join(gBase.nodes.select($"vid".as("src"), $"name".as("src_name")), Seq("src_name"))
      .join(gBase.nodes.select($"vid".as("dst"), $"name".as("dst_name")), Seq("dst_name"))
      .select($"src", $"dst", $"ts", $"seq", $"layer", $"weight")
    val g = new LinkGraph(eWithVids, gBase.nodes, gBase.namesAreNumeric)
    val r1 = Pathing.dijkstra(g, "A", Seq("F"), Some("weight"), "both").collect()
    assert(r1.length == 1 && r1.head.getAs[Double]("cost") == 8.0)
    val r2 = Pathing.dijkstra(g, "B", Seq("D", "E", "F"), Some("weight"), "both").collect()
      .map(r => r.getAs[String]("target") -> r.getAs[Double]("cost")).toMap
    assert(r2 == Map("D" -> 5.0, "E" -> 3.0, "F" -> 6.0))
  }

  test("delta-stepping matches driver Dijkstra on random weighted graphs") {
    // deterministic LCG graph: 40 nodes, 160 weighted edges
    var s = 12345L
    def nxt(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 33 }
    val edges = (0 until 160).map { i =>
      val u = nxt() % 40; val v = nxt() % 40
      val w = 0.5 + (nxt() % 1000) / 100.0
      (u, v, i.toLong, i.toLong, "_default", w)
    } :+ (0L, 1L, 160L, 160L, "_default", 2.5) // source node 0 always exists
    val sp = spark; import sp.implicits._
    val e = edges.toDF("src", "dst", "ts", "seq", "layer", "weight")
    val g = LinkGraph.fromRawEdges(e)
    val names = g.nodes.select($"name").as[String].collect().toSeq
    for (dir <- Seq("both", "out"); delta <- Seq(0.0, 1.0, 50.0)) {
      val want = Pathing.dijkstra(g, "0", names, Some("weight"), dir).collect()
        .map(r => r.getAs[String]("target") -> r.getAs[Double]("cost")).toMap
      val got = Pathing.deltaStepping(g, "0", delta, Some("weight"), dir).collect()
        .map(r => r.getAs[String]("name") -> r.getAs[Double]("dist")).toMap
      assert(got.keySet == want.keySet, s"dir=$dir delta=$delta reached sets differ")
      for ((k, c) <- want)
        assert(math.abs(got(k) - c) < 1e-9, s"dir=$dir delta=$delta node $k: ${got(k)} vs $c")
    }
  }

  test("delta-stepping settles an odd relaxation count (mid-pair convergence)") {
    // chain 0->1->2->3, w=1, huge delta: one bucket, exactly 3 productive
    // relaxations — the second relax of the second PAIR runs on an empty
    // improvement set, exercising the batched loop's mid-pair exit
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).zipWithIndex
      .map { case ((u, v), i) => (u, v, i.toLong, i.toLong, "_default", 1.0) }
      .toDF("src", "dst", "ts", "seq", "layer", "weight")
    val g = LinkGraph.fromRawEdges(e)
    val got = Pathing.deltaStepping(g, "0", 100.0, Some("weight"), "out").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("dist")).toMap
    assert(got == Map("0" -> 0.0, "1" -> 1.0, "2" -> 2.0, "3" -> 3.0))
  }

  test("delta-stepping rejects negative weights") {
    val e = Seq((1L, 2L, 0L, 0L, "_default", -1.0))
      .toDF("src", "dst", "ts", "seq", "layer", "weight")
    val g = LinkGraph.fromRawEdges(e)
    intercept[IllegalArgumentException] {
      Pathing.deltaStepping(g, "1", 0.0, Some("weight"), "out").collect()
    }
  }

  test("temporal reachability fixture (test_algorithms.py:290-308)") {
    val edges = Seq(
      (10L, 1L, 3L), (11L, 1L, 2L), (12L, 1L, 2L), (9L, 1L, 2L), (12L, 2L, 4L),
      (13L, 2L, 5L), (14L, 5L, 5L), (14L, 5L, 4L), (5L, 4L, 6L), (15L, 4L, 7L),
      (10L, 4L, 7L), (10L, 5L, 8L)
    ).map { case (t, s, d) => (s, d, t) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val got = Pathing.temporallyReachableNodes(g, 20L, 11L, Seq("1", "2"), Seq("4", "5"))
      .collect().map(r => r.getAs[String]("name") -> r.getSeq[String](r.fieldIndex("history")).toList).toMap
    assert(got("1") == Seq("11:start"))
    assert(got("2") == Seq("11:1", "11:start", "12:1"))
    assert(got("3") == Seq())
    assert(got("4") == Seq("12:2"))
    assert(got("5") == Seq("13:2"))
    assert(got("6") == Seq()); assert(got("7") == Seq()); assert(got("8") == Seq())
  }

  test("temporal reachability: improved taint with zero new nodes keeps spreading") {
    // 1 --10--> 2, 1 --5--> 3, 3 --6--> 2, 2 --7--> 4.
    // Round 1 taints 2@10 and 3@5; round 2 produces ZERO new nodes but
    // improves 2's taint 10 -> 6 via 3; only the round-3 re-scatter of 2's
    // disjoint window [6, 10) fires 2 --7--> 4. An exit on newCount==0
    // alone stops after round 2 and never taints 4.
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 5L), (3L, 2L, 6L), (2L, 4L, 7L))
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val got = Pathing.temporallyReachableNodes(g, 10L, 0L, Seq("1"))
      .collect().map(r => r.getAs[String]("name") -> r.getSeq[String](r.fieldIndex("history")).toList).toMap
    assert(got("1") == Seq("0:start"))
    assert(got("2") == Seq("6:3", "10:1"))
    assert(got("3") == Seq("5:1"))
    assert(got("4") == Seq("7:2"))
  }

  test("SCC: cycles collapse, dag nodes are singletons") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L), (5L, 6L))
      .map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val got = Components.scc(g).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("component")).toMap
    assert(got("1") == got("2") && got("2") == got("3"))
    assert(got("4") == got("5"))
    assert(got("6") != got("5") && got("1") != got("4"))
  }

  test("SCC: differential vs driver Tarjan on random digraphs, both residual modes") {
    // deterministic LCG digraphs; the trim + FW-BW + residual pipeline must
    // produce the exact Tarjan partition both with the default driver-bound
    // residual and with the bound forced to 10 (all-distributed FW-BW)
    var st = 777L
    def nxt(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; st >>> 33 }
    for (round <- 0 until 2) {
      val raw = (0 until 100).map(_ => (nxt() % 40, nxt() % 40)).distinct
      val present = raw.flatMap(t => Seq(t._1, t._2)).distinct.sorted
      val pidx = present.zipWithIndex.toMap
      val m = present.length
      val adj = Array.fill(m)(List.empty[Int])
      raw.foreach { case (u, v) => adj(pidx(u)) = pidx(v) :: adj(pidx(u)) }

      // explicit-stack Tarjan
      val index = Array.fill(m)(-1); val low = new Array[Int](m)
      val onstk = new Array[Boolean](m)
      val stk = scala.collection.mutable.ArrayBuffer.empty[Int]
      var counter = 0
      val comps = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
      for (v0 <- 0 until m if index(v0) == -1) {
        index(v0) = counter; low(v0) = counter; counter += 1; stk += v0; onstk(v0) = true
        var call = List((v0, adj(v0)))
        while (call.nonEmpty) call.head match {
          case (v, w :: tl) =>
            call = (v, tl) :: call.tail
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1; stk += w; onstk(w) = true
              call = (w, adj(w)) :: call
            } else if (onstk(w)) low(v) = math.min(low(v), index(w))
          case (v, Nil) =>
            call = call.tail
            if (low(v) == index(v)) {
              val members = Set.newBuilder[Int]
              var w = -1
              while (w != v) { w = stk.remove(stk.length - 1); onstk(w) = false; members += w }
              comps += members.result()
            }
            call.headOption.foreach { case (p, _) => low(p) = math.min(low(p), low(v)) }
        }
      }
      val expected = comps.map(_.map(i => present(i).toString)).toSet

      // size (nodes + edges) of the trimmed cyclic core: a bound between it
      // and the whole graph sends scc through trim -> residual Tarjan
      var core = raw.filter { case (u, v) => u != v }
      var trimmed = false
      while (!trimmed) {
        val alive = core.map(_._1).toSet intersect core.map(_._2).toSet
        val next = core.filter { case (u, v) => alive(u) && alive(v) }
        trimmed = next.size == core.size
        core = next
      }
      val coreSize = core.flatMap(t => Seq(t._1, t._2)).distinct.size + core.size
      val whole = present.length + raw.length
      assert(coreSize < whole, s"round=$round: trim removes nothing")

      val g = LinkGraph.fromNumericEdgeList(spark,
        raw.zipWithIndex.map { case ((u, v), i) => (u, v, i.toLong) })
      for (bound <- Seq(None, Some("10"), Some(((coreSize + whole) / 2).toString))) {
        val conf = bound.map("graft.driver.maxElements" -> _).toSeq
        TestSpark.withConf(conf: _*) {
          val got = Components.scc(g).collect()
            .map(r => (r.getAs[String]("name"), r.getAs[Long]("component_vid")))
            .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
          assert(got == expected, s"round=$round bound=$bound")
        }
      }
    }
  }

  test("SCC FW-BW: giant cycles above the driver bound are extracted distributedly") {
    // two 40-cycles + a dangling tail; with the collect bound forced below
    // the residual size, the FW-BW pivot rounds must label both cycles
    // without any residual Tarjan collect (two rounds: one pivot each)
    val cyc1 = (1L to 40L).map(i => (i, if (i == 40L) 1L else i + 1, 0L))
    val cyc2 = (101L to 140L).map(i => (i, if (i == 140L) 101L else i + 1, 0L))
    val tail = Seq((40L, 200L, 0L))
    val g = LinkGraph.fromNumericEdgeList(spark, cyc1 ++ cyc2 ++ tail)
    TestSpark.withConf("graft.driver.maxElements" -> "10") {
      val got = Components.scc(g).collect()
        .map(r => r.getAs[String]("name") -> r.getAs[String]("component")).toMap
      assert((1L to 40L).map(i => got(i.toString)).toSet.size == 1)
      assert((101L to 140L).map(i => got(i.toString)).toSet.size == 1)
      assert(got("1") != got("101"))
      assert(got("200") == "200") // trimmed singleton
    }
  }

  test("SCC: a graph within the driver bound runs Tarjan directly, with no trim rounds") {
    // a 300-node chain is deep for trim (one node peeled per end per
    // round, so > TrimIters rounds); the fit test must send it straight
    // to Tarjan in a constant number of Spark jobs
    val chain = (0L until 299L).map(i => (i, i + 1))
    val cycle = Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1000L))
    val g = LinkGraph.fromRawEdges((chain ++ cycle).toDF("src", "dst"))
    val (got, jobs) = TestSpark.jobsIn {
      Components.scc(g).collect().map(r => r.getAs[Long]("vid") -> r.getAs[Long]("component_vid")).toMap
    }
    assert(jobs <= 10, s"scc issued $jobs Spark jobs")
    assert((0L until 300L).forall(v => got(v) == v))
    assert(Seq(1000L, 1001L, 1002L).forall(v => got(v) == 1000L))
    assert(got.size == 303)
  }

  test("in/out component of a node") {
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 2L)).map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val outC = Components.outComponentOf(g, "1").collect().map(_.getAs[String]("name")).toSet
    assert(outC == Set("2", "3"))
    val inC = Components.inComponentOf(g, "3").collect().map(_.getAs[String]("name")).toSet
    assert(inC == Set("1", "2", "4"))
    val all = Components.allComponents(g, "out").collect()
      .map(r => r.getAs[String]("name") -> r.getSeq[String](r.fieldIndex("members")).toList).toMap
    assert(all("1") == Seq("2", "3"))
    assert(all("3") == Seq())
  }

  test("in/out component of every node == driver allComponents on random digraphs with cycles") {
    // the unified closure is seeded with the source's one-hop neighbours,
    // so a source joins its own set only through a cycle; the 0->1->2->0
    // ring puts sources on cycles, the random edges add more and leave
    // sink/source-only nodes
    var st = 4242L
    def nxt(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; st >>> 33 }
    for (_ <- 0 until 2) {
      val raw = (Seq((0L, 1L), (1L, 2L), (2L, 0L)) ++ (0 until 10).map(_ => (nxt() % 8, nxt() % 8))).distinct
      val g = LinkGraph.fromNumericEdgeList(spark, raw.map { case (u, v) => (u, v, 0L) })
      for (dir <- Seq("out", "in")) {
        val want = Components.allComponents(g, dir).collect()
          .map(r => r.getAs[String]("name") -> r.getSeq[String](r.fieldIndex("members")).toSet).toMap
        for (v <- want.keys) {
          val got = (if (dir == "out") Components.outComponentOf(g, v) else Components.inComponentOf(g, v))
            .collect().map(_.getAs[String]("name")).toSet
          assert(got == want(v), s"$dir component of $v over $raw")
        }
      }
    }
  }

  test("driver guards bound nodes + edges: isolated-node-heavy graphs trip them") {
    // 1 edge but 31 nodes: a guard that checks edge count alone would let
    // the node-table collect through unbounded
    val e = Seq((0L, 1L, 0L, 0L, "_default")).toDF("src", "dst", "ts", "seq", "layer")
    val n = (0L to 30L).map(i => (i, i.toString)).toDF("vid", "name")
    val g = new LinkGraph(e, n, namesAreNumeric = true)
    TestSpark.withConf("graft.driver.maxElements" -> "10") {
      val e1 = intercept[IllegalStateException] { Components.allComponents(g, "out") }
      assert(e1.getMessage.contains("allComponents"))
      val e2 = intercept[IllegalStateException] {
        Seir.run(g, Seq("0"), Seir.Config(infectionProb = 1.0, initialInfection = 0L))
      }
      assert(e2.getMessage.contains("Seir"))
      val e3 = intercept[IllegalStateException] { Lpa.runExact(g, None) }
      assert(e3.getMessage.contains("Lpa.runExact"))
      val e4 = intercept[IllegalStateException] { Pathing.dijkstra(g, "0", Seq("1")) }
      assert(e4.getMessage.contains("Pathing.dijkstra"))
      val e5 = intercept[IllegalStateException] { Betweenness.run(g) }
      assert(e5.getMessage.contains("Betweenness"))
      val e6 = intercept[IllegalStateException] { Louvain.run(g) }
      assert(e6.getMessage.contains("Louvain"))
    }
  }

  test("largest connected component (lcc.rs:25-68)") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val lcc = Wcc.largestComponent(g)
    assert(lcc.nodes.collect().map(_.getAs[String]("name")).toSet == Set("1", "2", "3"))
  }

  test("result ops: top_k, group_by, median") {
    val res = Seq((0L, "a", 3.0), (1L, "b", 1.0), (2L, "c", 2.0), (3L, "d", 2.0))
      .toDF("vid", "name", "value")
    val top = ResultOps.topK(res, "value", 2).collect().map(_.getString(1))
    assert(top.toSeq == Seq("a", "c"))
    val grouped = ResultOps.groupByValue(res, "value").collect()
      .map(r => r.getDouble(0) -> r.getSeq[String](r.fieldIndex("nodes")).toList).toMap
    assert(grouped(2.0) == Seq("c", "d"))
    assert(ResultOps.median(res, "value").head().getDouble(0) == 2.0)
  }

  test("result ops: sort_by_node both ways, min_by breaks value ties by vid") {
    val res = Seq((3L, "c", 2.0), (0L, "d", 1.0), (2L, "a", 2.0), (1L, "b", 1.0))
      .toDF("vid", "name", "value")
    def names(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getAs[String]("name")).toSeq
    assert(names(ResultOps.sortByNode(res)) == Seq("a", "b", "c", "d"))
    assert(names(ResultOps.sortByNode(res, reverse = true)) == Seq("d", "c", "b", "a"))
    // "d" (vid 0) and "b" (vid 1) share the least value: the lesser vid
    // wins, though "b" sorts first by name
    assert(names(ResultOps.minBy(res, "value")) == Seq("d"))
  }

  test("betweenness fixture (betweenness.rs:120-163)") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (2L, 5L),
      (3L, 4L), (3L, 5L), (3L, 6L), (4L, 3L), (4L, 2L), (4L, 4L)
    ).map { case (s, d) => (s, d, 0L) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    def res(norm: Boolean) = Betweenness.run(g, None, norm).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("value")).toMap
    assert(res(false) == Map("1" -> 0.0, "2" -> 1.0, "3" -> 4.0, "4" -> 1.0, "5" -> 0.0, "6" -> 0.0))
    val n = res(true)
    assert(math.abs(n("3") - 0.2) < 1e-12 && math.abs(n("2") - 0.05) < 1e-12)
  }

  test("temporal bipartite projection fixtures (temporal_bipartite_projection.rs:78-131)") {
    val edges = Seq(
      ("A", "1", 1L), ("A", "2", 3L), ("B", "2", 3L), ("C", "3", 4L),
      ("B", "3", 6L), ("A", "3", 8L), ("C", "4", 10L), ("B", "4", 11L))
    val g = LinkGraph.fromEdgeList(spark, edges)
    val pivots = Seq("1", "2", "3", "4")
    def proj(delta: Long) = BipartiteProjection.projectByNames(g, pivots, delta)
      .join(g.nodes.select($"vid".as("src"), $"name".as("sname")), Seq("src"))
      .join(g.nodes.select($"vid".as("dst"), $"name".as("dname")), Seq("dst"))
      .select($"sname", $"dname", $"ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val d1 = proj(1L)
    assert(d1.exists { case (s, d, t) => s == "A" && d == "B" && t == 3L })
    assert(d1.exists { case (s, d, t) => s == "C" && d == "B" && t == 10L })
    assert(!d1.exists { case (s, d, _) => Set(s, d) == Set("A", "C") })
    val d3 = proj(3L)
    val ab = d3.filter { case (s, d, _) => s == "A" && d == "B" } .map(_._3)
    val ba = d3.filter { case (s, d, _) => s == "B" && d == "A" } .map(_._3)
    assert((ab ++ ba).min == 3L && (ab ++ ba).max == 7L)
    val cb = d3.filter { case (s, d, _) => s == "C" && d == "B" } .map(_._3)
    assert(cb.min == 5L && cb.max == 10L)
    assert(!d3.exists { case (s, d, _) => Set(s, d) == Set("A", "C") })
  }

  test("bipartite projection drops self-loop events (non-bipartite input)") {
    // pivot "2" has a self-loop event between two proper visits: kept, it
    // would pair with both and project phantom edges touching the pivot
    val edges = Seq(("A", "2", 1L), ("2", "2", 2L), ("B", "2", 3L))
    val g = LinkGraph.fromEdgeList(spark, edges)
    val rows = BipartiteProjection.projectByNames(g, Seq("2"), 50L)
      .join(g.nodes.select($"vid".as("src"), $"name".as("sname")), Seq("src"))
      .join(g.nodes.select($"vid".as("dst"), $"name".as("dname")), Seq("dst"))
      .select($"sname", $"dname").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("A", "B")))
  }

  test("temporal rich club fixtures (temporal_rich_club_coefficient.rs:166-180)") {
    val edges = Seq(
      (1L,1L,2L),(1L,1L,3L),(1L,1L,4L),(1L,2L,3L),(1L,2L,4L),(1L,3L,4L),(1L,4L,5L),
      (2L,1L,2L),(2L,1L,3L),(2L,1L,4L),(2L,3L,4L),(2L,2L,6L),
      (3L,1L,2L),(3L,2L,4L),(3L,3L,4L),(3L,1L,4L),(3L,1L,3L),(3L,1L,7L),
      (4L,1L,2L),(4L,1L,3L),(4L,1L,4L),(4L,2L,8L),
      (5L,1L,2L),(5L,1L,3L),(5L,1L,4L),(5L,2L,4L),(5L,3L,9L)
    ).map { case (t, s, d) => (s, d, t) }
    val g = LinkGraph.fromNumericEdgeList(spark, edges)
    val views = g.rolling(1L, 1L)
    assert(math.abs(RichClub.temporalRichClub(g, views, 3, 1) - 1.0) < 1e-3)
    assert(math.abs(RichClub.temporalRichClub(g, views, 3, 3) - 2.0 / 3) < 1e-3)
    assert(math.abs(RichClub.temporalRichClub(g, views, 3, 5) - 0.5) < 1e-3)
  }
}
