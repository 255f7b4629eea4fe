package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.cypher.Cypher

/** Cypher subset → DataFrame transpiler, exercised on the same query
  * shapes the reference's cypher layer tests run
  * (raphtory-cypher/src/lib.rs:241-622; parser fixtures
  * raphtory-cypher/src/parser/mod.rs:742-1663). */
class CypherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 0→1, 1→2, 0→2, 2→3, 3→0, 2→0 with weights and two layers
  lazy val g: LinkGraph = {
    val e = Seq(
      (0L, 1L, 1L, 0L, "a", 2.0), (1L, 2L, 2L, 1L, "a", 1.0),
      (0L, 2L, 3L, 2L, "b", 5.0), (2L, 3L, 4L, 3L, "b", 3.0),
      (3L, 0L, 5L, 4L, "a", 4.0), (2L, 0L, 6L, 5L, "a", 6.0)
    ).toDF("src", "dst", "ts", "seq", "layer", "weight")
    val n = Seq((0L, "zero"), (1L, "one"), (2L, "two"), (3L, "three")).toDF("vid", "name")
    new LinkGraph(e, n, namesAreNumeric = false)
  }

  test("match ()-[e]->() RETURN * — one row per edge event (lib.rs:241-249)") {
    val df = Cypher.run(g, "match ()-[e]->() RETURN *")
    assert(df.count() == 6)
    assert(df.columns.toSet == Set("e_src", "e_dst", "e_ts", "e_seq", "e_layer", "e_weight"))
  }

  test("RETURN * ORDER BY e.weight (lib.rs:255-263)") {
    val rows = Cypher.run(g, "match ()-[e]->() RETURN * ORDER by e.weight")
      .select("e_weight").as[Double].collect()
    assert(rows.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
  }

  test("inline property map {src: 0} filters the edge scan (lib.rs:401-409)") {
    val df = Cypher.run(g, "match ()-[e {src: 0}]->() RETURN *")
    assert(df.count() == 2)
    assert(df.select("e_src").as[Long].collect().toSet == Set(0L))
  }

  test("edge label = layer filter (parser/mod.rs:1473 Netflow-style)") {
    assert(Cypher.run(g, "MATCH ()-[e:a]->() RETURN count(*) AS n")
      .head().getLong(0) == 4L)
    assert(Cypher.run(g, "MATCH ()-[e:b]->() RETURN count(*) AS n")
      .head().getLong(0) == 2L)
  }

  test("match (n) return n — node scan (lib.rs:597-606)") {
    val df = Cypher.run(g, "match (n) return n")
    assert(df.select("n_vid").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L))
  }

  test("node + edge property projection with aliases (lib.rs:610-629)") {
    val rows = Cypher.run(g,
      "match (a)-[e]->(b) return a.id AS aid, e.ts AS ts, b.name AS bn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows.contains((0L, 1L, "one")))
    assert(rows.contains((2L, 4L, "three")))
    assert(rows.size == 6)
  }

  test("two-hop chain joins on the shared node var (lib.rs:383-397)") {
    val got = Cypher.run(g,
      "match (a)-[e1]->(b)-[e2]->(c) RETURN a.id AS a, b.id AS b, c.id AS c")
    // expectation computed independently with a plain DataFrame join
    val e = g.edges.select($"src", $"dst")
    val exp = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src"), col("x.dst"), col("y.dst"))
    assert(got.count() == exp.count())
    assert(got.collect().map(_.toSeq).toSet == exp.collect().map(_.toSeq).toSet)
  }

  test("comma patterns + WHERE <> (parser/mod.rs:1516 shape)") {
    val n = Cypher.run(g,
      "MATCH (a)-[e1]->(b), (b)-[e2]->(c) WHERE a <> c RETURN count(*) AS n")
      .head().getLong(0)
    val e = g.edges.select($"src", $"dst")
    val exp = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .filter(col("x.src") =!= col("y.dst")).count()
    assert(n == exp)
  }

  test("reversed arrow binds src/dst correctly (parser/mod.rs:809)") {
    val rows = Cypher.run(g, "MATCH (a)<-[e]-(b) RETURN a.id AS a, b.id AS b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((1L, 0L))) // edge 0→1 seen as a<-b with a=1
    assert(rows.size == 6)
  }

  test("ORDER BY alias DESC + LIMIT") {
    val w = Cypher.run(g,
      "match ()-[e]->() RETURN e.weight AS w ORDER BY w DESC LIMIT 2")
      .as[Double].collect()
    assert(w.toSeq == Seq(6.0, 5.0))
  }

  test("ORDER BY + SKIP + LIMIT pages the sorted stream") {
    val w = Cypher.run(g,
      "match ()-[e]->() RETURN e.weight AS w ORDER BY w DESC SKIP 2 LIMIT 2")
      .as[Double].collect()
    assert(w.toSeq == Seq(4.0, 3.0)) // rows 2..3 of 6,5,4,3,...
    val tail = Cypher.run(g,
      "match ()-[e]->() RETURN e.weight AS w ORDER BY w DESC SKIP 100")
      .as[Double].collect()
    assert(tail.isEmpty) // SKIP past the end yields no rows
  }

  test("WITH SKIP drops the top of the sorted intermediate") {
    val got = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH a, max(e.weight) AS w ORDER BY w DESC SKIP 1 LIMIT 1 " +
        "RETURN a.id AS id, w")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 1 && got.head._2 < 6.0) // the runner-up, not the max
  }

  test("RETURN DISTINCT") {
    val a = Cypher.run(g, "match (a)-[e]->() RETURN DISTINCT a.id AS a")
      .as[Long].collect().toSet
    assert(a == Set(0L, 1L, 2L, 3L))
  }

  test("node label filters via node_type (transpiler label semantics)") {
    val typed = g.withNodeTypes(Seq((0L, "even"), (1L, "odd"), (2L, "even"), (3L, "odd"))
      .toDF("vid", "node_type"))
    val ids = Cypher.run(typed, "MATCH (n:even)-[e]->(m) RETURN n.id AS id")
      .as[Long].collect().toSet
    assert(ids == Set(0L, 2L))
  }

  test("self-loop pattern (b)-[e]->(b) (parser/mod.rs:1473 (B)<-(B) shape)") {
    val eSelf = Seq((7L, 7L, 1L, 0L, "a", 1.0), (7L, 8L, 2L, 1L, "a", 1.0))
      .toDF("src", "dst", "ts", "seq", "layer", "weight")
    val n = Seq((7L, "x"), (8L, "y")).toDF("vid", "name")
    val gs = new LinkGraph(eSelf, n, namesAreNumeric = false)
    assert(Cypher.run(gs, "MATCH (b)-[e]->(b) RETURN count(*) AS n").head().getLong(0) == 1L)
  }

  test("WHERE on properties with AND/OR") {
    val n = Cypher.run(g,
      "match ()-[e]->() WHERE e.weight >= 3.0 AND e.layer = 'a' RETURN count(*) AS n")
      .head().getLong(0)
    assert(n == 2L) // weights 4.0 and 6.0 on layer a
  }

  test("return type(e), e — layer + whole event row (lib.rs:692-720 shape)") {
    val df = Cypher.run(g, "match ()-[e]->() return type(e), e")
    assert(df.columns.head == "type" || df.columns.contains("e_layer"))
    assert(df.columns.toSet ==
      Set("type", "e_src", "e_dst", "e_ts", "e_seq", "e_layer", "e_weight"))
    // type(e) duplicates the layer column
    assert(df.filter(col("type") =!= col("e_layer")).count() == 0)
  }

  test("count(n) over a node variable (lib.rs:597 match (n) return count(n))") {
    assert(Cypher.run(g, "match (n) return count(n)").head().getLong(0) == 4L)
  }

  test("ENDS WITH / STARTS WITH / CONTAINS string predicates (lib.rs:565)") {
    val e = Cypher.run(g, "match (a)-[x]->() WHERE a.name ENDS WITH 'o' RETURN DISTINCT a.id AS id")
      .as[Long].collect().toSet
    assert(e == Set(0L, 2L)) // zero, two
    val s = Cypher.run(g, "match (a)-[x]->() WHERE a.name STARTS WITH 'th' RETURN DISTINCT a.id AS id")
      .as[Long].collect().toSet
    assert(s == Set(3L)) // three
    val c = Cypher.run(g, "match (a)-[x]->() WHERE a.name CONTAINS 'er' RETURN DISTINCT a.id AS id")
      .as[Long].collect().toSet
    assert(c == Set(0L)) // zero
  }

  test("implicit grouping: non-aggregate RETURN items become keys") {
    val rows = Cypher.run(g,
      "MATCH (a)-[e]->(b) RETURN a.id AS id, count(*) AS deg, sum(e.weight) AS w ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((0L, 2L, 7.0), (1L, 1L, 1.0), (2L, 2L, 9.0), (3L, 1L, 4.0)))
  }

  test("min/max/avg aggregates with implicit grouping by layer") {
    val rows = Cypher.run(g,
      "MATCH ()-[e]->() RETURN e.layer AS l, min(e.weight) AS mn, max(e.weight) AS mx, avg(e.ts) AS at ORDER BY l")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(rows == Seq(("a", 1.0, 6.0, 3.5), ("b", 3.0, 5.0, 3.5)))
  }

  test("undirected pattern -[e]- matches each event in both orientations") {
    assert(Cypher.run(g, "MATCH (a)-[e]-(b) RETURN count(*) AS n").head().getLong(0) == 12L)
    // endpoint binding flips but e.src keeps the storage endpoint
    val rows = Cypher.run(g, "MATCH (a)-[e]-(b) WHERE a.id = 1 RETURN e.src AS s, e.dst AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((0L, 1L), (1L, 2L))) // 0->1 seen from a=1, 1->2 from a=1
    // chaining through an undirected hop: neighbours of 1 either way
    val nb = Cypher.run(g, "MATCH (a)-[e]-(b) WHERE a.id = 1 RETURN DISTINCT b.id AS b")
      .as[Long].collect().toSet
    assert(nb == Set(0L, 2L))
  }

  test("anonymous middle node still joins the chain (no cross product)") {
    val got = Cypher.run(g, "MATCH (a)-[e]->()-[f]->(c) RETURN a.id AS a, c.id AS c")
    val e = g.edges.select($"src", $"dst")
    val exp = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src"), col("y.dst"))
    assert(got.count() == exp.count()) // NOT |E|^2
    assert(got.collect().map(_.toSeq).toSet == exp.collect().map(_.toSeq).toSet)
  }

  test("labels and property maps on anonymous nodes are applied") {
    val typed = g.withNodeTypes(Seq((0L, "even"), (1L, "odd"), (2L, "even"), (3L, "odd"))
      .toDF("vid", "node_type"))
    // edges INTO an even node: 0->2 (dst 2), 1->2, 3->0, 2->0 = 4
    assert(Cypher.run(typed, "MATCH ()-[e]->(:even) RETURN count(*) AS n")
      .head().getLong(0) == 4L)
    // anonymous property map binds too
    assert(Cypher.run(g, "MATCH ()-[e]->({id: 2}) RETURN count(*) AS n")
      .head().getLong(0) == 2L) // 1->2 and 0->2
  }

  test("negative numeric literals parse in WHERE and property maps") {
    assert(Cypher.run(g, "match ()-[e]->() WHERE e.ts > -1 RETURN count(*) AS n")
      .head().getLong(0) == 6L)
    assert(Cypher.run(g, "match ()-[e]->() WHERE e.weight <> -2.5 RETURN count(*) AS n")
      .head().getLong(0) == 6L)
  }

  test("undirected pattern matches a self-loop event exactly once (openCypher)") {
    val eSelf = Seq((7L, 7L, 1L, 0L, "a", 1.0), (7L, 8L, 2L, 1L, "a", 1.0))
      .toDF("src", "dst", "ts", "seq", "layer", "weight")
    val n = Seq((7L, "x"), (8L, "y")).toDF("vid", "name")
    val gs = new LinkGraph(eSelf, n, namesAreNumeric = false)
    // self-loop once + the 7->8 event in both orientations = 3
    assert(Cypher.run(gs, "MATCH (a)-[e]-(b) RETURN count(*) AS n").head().getLong(0) == 3L)
  }

  test("unaliased same-function aggregates get disambiguated names") {
    val rows = Cypher.run(g,
      "MATCH (a)-[e]->(b) RETURN a.id AS id, min(e.ts), min(e.seq) ORDER BY id")
      .collect()
    assert(rows.length == 4)
    assert(rows.head.schema.fieldNames.toSeq == Seq("id", "min", "min_2"))
  }

  test("mixed undirected + directed hops chain through the shared node") {
    // (a)-[e1]-(b)-[e2]->(c): b reachable from a either way, then a
    // directed hop out of b. Independently recomputed with DataFrame ops,
    // including relationship uniqueness (e1 and e2 may not bind the same
    // event — seq is unique per event in this fixture).
    val got = Cypher.run(g,
      "MATCH (a)-[e1]-(b)-[e2]->(c) RETURN a.id AS a, b.id AS b, c.id AS c")
    val e = g.edges.select($"src", $"dst", $"seq")
    val und = e.select($"src".as("a"), $"dst".as("b"), $"seq".as("q1"))
      .union(e.select($"dst".as("a"), $"src".as("b"), $"seq".as("q1")))
      .toDF("a", "b", "q1")
    val exp = und.join(e.select($"src".as("b"), $"dst".as("c"), $"seq".as("q2")), "b")
      .filter($"q1" =!= $"q2").select("a", "b", "c")
    assert(got.count() == exp.count())
    assert(got.collect().map(_.toSeq).toSet == exp.collect().map(_.toSeq).toSet)
  }

  test("relationship uniqueness: two edge vars in one MATCH never bind the same event") {
    // reference unique_edge_filter (transpiler/mod.rs:620-646): 6 events ->
    // 6*5 ordered distinct pairs, NOT 36
    assert(Cypher.run(g, "MATCH (a)-[e1]->(b), (c)-[e2]->(d) RETURN count(*) AS n")
      .head().getLong(0) == 30L)
  }

  test("edge variable reuse across patterns is rejected") {
    val err = intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[e]->(b), (c)-[e]->(d) RETURN count(*) AS n")
    }
    assert(err.getMessage.contains("already bound"))
  }

  test("WITH aggregates then filters (multi-part, cypher.pest MultiPartQuery)") {
    // out-degree >= 2 nodes: 0 (->1,->2) and 2 (->3,->0)
    val got = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH a, count(*) AS d WHERE d >= 2 RETURN a.id AS id, d ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 2L), (2L, 2L)))
  }

  test("WITH chains into a second MATCH on the carried node var") {
    // high-out-degree nodes, then count their INBOUND events
    val got = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH a, count(*) AS d WHERE d >= 2 " +
        "MATCH (x)-[f]->(a) RETURN a.id AS id, d, count(*) AS n_in ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // node 0: inbound 3->0, 2->0 = 2; node 2: inbound 1->2, 0->2 = 2
    assert(got.toSeq == Seq((0L, 2L, 2L), (2L, 2L, 2L)))
  }

  test("WITH carried node var supports later property reads (node table rejoin)") {
    val got = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH a, count(*) AS d WHERE d >= 2 RETURN a.name AS nm ORDER BY nm")
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("two", "zero"))
  }

  test("WITH ORDER BY + LIMIT shapes the intermediate (top-k subquery)") {
    val got = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH a, max(e.weight) AS w ORDER BY w DESC LIMIT 1 " +
        "RETURN a.id AS id, w")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((2L, 6.0))) // 2->0 weight 6.0 is the max
  }

  test("UNWIND a list literal (cypher.pest Unwind)") {
    val got = Cypher.run(g, "UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("UNWIND a collected list from WITH back into rows") {
    val got = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH a, collect(e.ts) AS ts WHERE a.id = 0 " +
        "UNWIND ts AS t RETURN t ORDER BY t")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("UNWIND cross-products against matched rows") {
    val n = Cypher.run(g,
      "MATCH (a)-[e]->(b) UNWIND [1, 2] AS x RETURN count(*) AS n")
      .head().getLong(0)
    assert(n == 12L) // 6 events x 2 list elements
  }

  test("NOT binds looser than comparisons (parser fixture mod.rs:1790)") {
    val ids = Cypher.run(g,
      "match (a)-[x]->() WHERE NOT a.name ENDS WITH 'o' RETURN DISTINCT a.id AS id")
      .as[Long].collect().toSet
    assert(ids == Set(1L, 3L)) // one, three (zero & two end with 'o')
  }

  test("IS NULL / IS NOT NULL over left-joined node props (mod.rs:1710)") {
    val withProps = g.withNodeProps(Seq((0L, 10.0), (2L, 20.0)).toDF("vid", "score"))
    val noScore = Cypher.run(withProps,
      "MATCH (a)-[e]->() WHERE a.score IS NULL RETURN DISTINCT a.id AS id")
      .as[Long].collect().toSet
    assert(noScore == Set(1L, 3L))
    val scored = Cypher.run(withProps,
      "MATCH (a)-[e]->() WHERE a.score IS NOT NULL RETURN DISTINCT a.id AS id")
      .as[Long].collect().toSet
    assert(scored == Set(0L, 2L))
  }

  test("collect aggregate gathers values per group") {
    val got = Cypher.run(g,
      "MATCH (a)-[e]->(b) RETURN a.id AS id, collect(e.ts) AS ts")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).sorted)).toMap
    assert(got(0L) == Seq(1L, 3L) && got(2L) == Seq(4L, 6L))
  }

  test("OPTIONAL MATCH keeps unmatched rows with NULL bindings") {
    val rows = Cypher.run(g,
      "MATCH (a) OPTIONAL MATCH (a)-[e:b]->(c) RETURN a.id AS id, count(e.ts) AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // layer-b edges leave only nodes 0 and 2; 1 and 3 keep NULL e bindings
    assert(rows == Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 0L))
  }

  test("OPTIONAL MATCH WHERE filters the optional side, not the outer rows") {
    val rows = Cypher.run(g,
      "MATCH (a) OPTIONAL MATCH (a)-[e]->(c) WHERE e.weight >= 4 " +
        "RETURN a.id AS id, count(e.ts) AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // weight >= 4: 0->2 (5.0), 2->0 (6.0), 3->0 (4.0); node 1 stays, n=0
    assert(rows == Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("OPTIONAL MATCH chains off a bound MATCH variable") {
    val rows = Cypher.run(g,
      "MATCH (a)-[e:b]->(b) OPTIONAL MATCH (b)-[f:b]->(c) " +
        "RETURN a.id AS a, b.id AS b, count(f.ts) AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (0)-[b]->(2)-[b]->(3): continuation exists; (2)-[b]->(3) has none
    assert(rows == Map((0L, 2L) -> 1L, (2L, 3L) -> 0L))
  }

  test("OPTIONAL MATCH with a label on the shared var keeps later reads unambiguous") {
    val typed = g.withNodeTypes(Seq((0L, "even"), (1L, "odd"), (2L, "even"), (3L, "odd"))
      .toDF("vid", "node_type"))
    // the label constraint joins the node table inside the sub-plan; its
    // shared-var node columns must not survive the left join, or a.name
    // here re-joins and explodes with AMBIGUOUS_REFERENCE
    val rows = Cypher.run(typed,
      "MATCH (a) OPTIONAL MATCH (a:even)-[e]->(c) " +
        "RETURN a.name AS nm, count(e.ts) AS n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("zero" -> 2L, "one" -> 0L, "two" -> 2L, "three" -> 0L))
  }

  test("OPTIONAL MATCH on two bare node scans (identical binding names) joins cleanly") {
    val typed = g.withNodeTypes(Seq((0L, "even"), (1L, "odd"), (2L, "even"), (3L, "odd"))
      .toDF("vid", "node_type"))
    // both sides bind a as a bare node-scan vid column of the SAME name;
    // without the sub-side rename the join condition is self-referential
    val rows = Cypher.run(typed,
      "MATCH (a) OPTIONAL MATCH (a:odd) RETURN a.id AS id, count(*) AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L))
  }

  test("OPTIONAL MATCH WHERE referencing the outer scope fails with a clear error") {
    val ex = intercept[UnsupportedOperationException] {
      Cypher.run(g,
        "MATCH (a)-[e]->(b) OPTIONAL MATCH (b)-[f]->(c) WHERE c.id <> a.id " +
          "RETURN a.id AS id")
    }
    assert(ex.getMessage.contains("outer scope"))
  }

  test("leading / disconnected OPTIONAL MATCH is rejected") {
    intercept[IllegalArgumentException] {
      Cypher.run(g, "OPTIONAL MATCH (a)-[e]->(b) RETURN a.id AS id")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) OPTIONAL MATCH (x)-[e]->(y) RETURN a.id AS id")
    }
  }

  test("UNION dedups across branches; UNION ALL keeps duplicates") {
    val base = "MATCH ()-[e:a]->() RETURN e.src AS s, e.dst AS t"
    val other = "MATCH ()-[e]->() WHERE e.weight > 3 RETURN e.src AS s, e.dst AS t"
    // layer a: (0,1),(1,2),(3,0),(2,0); weight>3: (0,2),(2,0),(3,0)
    assert(Cypher.run(g, s"$base UNION $other").count() == 5)
    assert(Cypher.run(g, s"$base UNION ALL $other").count() == 7)
  }

  test("UNION with mismatched columns or mixed ALL is rejected") {
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH ()-[e]->() RETURN e.src AS s UNION MATCH ()-[e]->() RETURN e.dst AS t")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH ()-[e]->() RETURN e.src AS s UNION MATCH ()-[e]->() RETURN e.src AS s " +
        "UNION ALL MATCH ()-[e]->() RETURN e.src AS s")
    }
  }

  // ---- variable-length relationships (openCypher RangeLiteral —
  // cypher.pest:203 parses it, the reference transpiler never executes
  // it). Fixture paths hand-enumerated over E1:0→1 E2:1→2 E3:0→2
  // E4:2→3 E5:3→0 E6:2→0: 6 one-hop, 10 two-hop, 14 three-hop paths
  // (16 without uniqueness: E3E6E3 and E6E3E6 reuse an event). --------

  test("var-length *1..2 counts one row per path") {
    assert(Cypher.run(g, "MATCH (a)-[*1..2]->(b) RETURN count(*) AS n")
      .head().getLong(0) == 16L)
  }

  test("var-length *2 endpoint bindings and WHERE on the start node") {
    // from 0: E1E2→2, E3E4→3, E3E6→0
    val b = Cypher.run(g, "MATCH (a)-[*2]->(b) WHERE a.id = 0 RETURN b.id AS bid")
      .collect().map(_.getLong(0)).toSet
    assert(b == Set(0L, 2L, 3L))
    // WHERE on a node property (name) via the lazy node-table join
    assert(Cypher.run(g, "MATCH (a)-[*1..2]->(b) WHERE a.name = 'zero' RETURN count(*) AS n")
      .head().getLong(0) == 5L) // E1, E3 + E1E2, E3E4, E3E6
  }

  test("var-length relationship uniqueness holds WITHIN the path") {
    // 16 raw 3-hop event sequences, 14 once E3E6E3 / E6E3E6 are blocked
    assert(Cypher.run(g, "MATCH ()-[*3]->() RETURN count(*) AS n")
      .head().getLong(0) == 14L)
  }

  test("length(p) exposes the hop count with implicit grouping") {
    val rows = Cypher.run(g,
      "MATCH (a)-[p*1..2]->(b) RETURN length(p) AS l, count(*) AS n ORDER BY l")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 6L), (2L, 10L)))
  }

  test("var-length reversed arrow and *..n / *n..m range forms") {
    assert(Cypher.run(g, "MATCH (a)<-[*2]-(b) RETURN count(*) AS n")
      .head().getLong(0) == 10L)
    assert(Cypher.run(g, "MATCH ()-[*..2]->() RETURN count(*) AS n")
      .head().getLong(0) == 16L)
    assert(Cypher.run(g, "MATCH ()-[*2..3]->() RETURN count(*) AS n")
      .head().getLong(0) == 24L)
  }

  test("var-length with a label walks only that layer") {
    // layer a = E1,E2,E5,E6; 2-hop chains: E1E2, E2E6, E5E1, E6E1
    assert(Cypher.run(g, "MATCH ()-[:a*2]->() RETURN count(*) AS n")
      .head().getLong(0) == 4L)
  }

  test("undirected var-length uses both orientations per hop") {
    assert(Cypher.run(g, "MATCH (a)-[*1..1]-(b) RETURN count(*) AS n")
      .head().getLong(0) == 12L)
  }

  test("var-length chains into a further single hop on the bound node") {
    // sum over 2-hop paths of outdeg(end) = 16, minus the two pairs where
    // f re-binds an event already on the path (E3E6→0 with f=E3 and
    // E6E3→2 with f=E6): MATCH-wide relationship uniqueness covers path
    // internals too
    assert(Cypher.run(g, "MATCH (a)-[p*2]->(b)-[f]->(c) RETURN count(*) AS n")
      .head().getLong(0) == 14L)
  }

  test("path events cross-check against single-edge variables of the MATCH") {
    // unconstrained cross product: 6 one-hop paths x 6 events minus the 6
    // same-event bindings
    assert(Cypher.run(g,
      "MATCH (a)-[p*1..1]->(b), (c)-[f]->(d) RETURN count(*) AS n")
      .head().getLong(0) == 30L)
    // 16 paths (6 one-hop + 10 two-hop) x 6 events, minus 6 one-hop
    // same-event pairs and 10*2 two-hop containment pairs
    assert(Cypher.run(g,
      "MATCH (a)-[p*1..2]->(b), (c)-[f]->(d) RETURN count(*) AS n")
      .head().getLong(0) == 70L)
  }

  test("two var-length paths of one MATCH may not share an event") {
    assert(Cypher.run(g,
      "MATCH (a)-[p*1..1]->(b), (c)-[q*1..1]->(d) RETURN count(*) AS n")
      .head().getLong(0) == 30L)
  }

  test("var-length paths: differential vs brute-force enumeration on random multigraphs") {
    // seeded random multigraphs (parallel edges + self-loops); the
    // k-hop-join-union plan must agree with a driver DFS that enumerates
    // directed event paths with within-path relationship uniqueness
    for (seed <- Seq(3, 99)) {
      val r = new scala.util.Random(seed)
      val edges = (0 until 12).map { i =>
        (r.nextInt(5).toLong, r.nextInt(5).toLong, (i + 1).toLong, i.toLong,
          if (r.nextBoolean()) "a" else "b", 1.0 + i)
      }
      val eDf = edges.toDF("src", "dst", "ts", "seq", "layer", "weight")
      val nDf = (0 until 5).map(i => (i.toLong, s"v$i")).toDF("vid", "name")
      val rg = new LinkGraph(eDf, nDf, namesAreNumeric = false)

      def paths(lo: Int, hi: Int): Seq[List[Int]] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[List[Int]]
        def extend(path: List[Int], end: Long): Unit = {
          if (path.length >= lo) out += path
          if (path.length < hi) edges.indices.foreach { j =>
            if (edges(j)._1 == end && !path.contains(j)) extend(j :: path, edges(j)._2)
          }
        }
        edges.indices.foreach(i => extend(List(i), edges(i)._2))
        out.toSeq
      }

      val bf13 = paths(1, 3)
      assert(Cypher.run(rg, "MATCH (a)-[p*1..3]->(b) RETURN count(*) AS n")
        .head().getLong(0) == bf13.size.toLong, s"seed $seed total")
      val hist = Cypher.run(rg,
        "MATCH (a)-[p*1..3]->(b) RETURN length(p) AS l, count(*) AS n")
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      val bfHist = bf13.groupBy(_.length.toLong).map { case (k, v) => k -> v.size.toLong }
      assert(hist == bfHist, s"seed $seed histogram")
      // MATCH-wide uniqueness vs an unconstrained single-edge variable:
      // every event NOT on the path may bind f
      val bf12 = paths(1, 2)
      val expectedPairs = bf12.map(p => edges.length - p.length).sum.toLong
      assert(Cypher.run(rg,
        "MATCH (a)-[p*1..2]->(b), (c)-[f]->(d) RETURN count(*) AS n")
        .head().getLong(0) == expectedPairs, s"seed $seed cross-check")
    }
  }

  test("unbounded / zero-length / bare-var-ref var-length forms are rejected") {
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[*]->(b) RETURN count(*) AS n")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[*1..]->(b) RETURN count(*) AS n")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[*0..2]->(b) RETURN count(*) AS n")
    }
    intercept[IllegalArgumentException] { // path var binds a path, not a value
      Cypher.run(g, "MATCH (a)-[p*2]->(b) RETURN p")
    }
  }

  test("WITH * carries the whole scope; extra items append; RETURN *, extras") {
    // WITH * keeps node/edge bindings usable by later parts
    val rows = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH * WHERE e.ts < 4 " +
        "RETURN a.id AS s, b.id AS d, e.ts AS t").collect()
    assert(rows.length == 3) // ts 1, 2, 3
    // WITH *, extra item binds a new value column computed in scope
    val ext = Cypher.run(g,
      "MATCH (a)-[e]->(b) WITH *, e.ts * 10 AS tt WHERE tt >= 40 " +
        "RETURN a.id AS s, tt ORDER BY tt").collect()
    assert(ext.map(_.getLong(1)).toSeq == Seq(40L, 50L, 60L))
    // RETURN *, extra appends after the * columns
    val star = Cypher.run(g, "MATCH (a)-[e]->(b) WHERE e.ts = 1 RETURN *, e.ts + 1 AS nxt")
    assert(star.columns.last == "nxt" && star.head().getAs[Long]("nxt") == 2L)
    // aggregates cannot ride along a star projection
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[e]->(b) WITH *, count(*) AS n RETURN n")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[e]->(b) RETURN *, count(*) AS n")
    }
  }

  test("pattern predicates: bare pattern, NOT, EXISTS subquery, exists() fn") {
    // (b)-[:b]->() — b has an outgoing layer-b edge: b ∈ {0, 2}
    val out = Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE (b)-[:b]->() RETURN a.id AS s, b.id AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((3L, 0L), (2L, 0L), (1L, 2L), (0L, 2L)))
    // NOT pattern — b has NO outgoing layer-b edge: b ∈ {1, 3}
    val non = Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE NOT (b)-[:b]->() RETURN a.id AS s, b.id AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(non == Set((0L, 1L), (2L, 3L)))
    // EXISTS { MATCH ... WHERE ... }: sources with a late out-event
    val late = Cypher.run(g,
      "MATCH (a) WHERE EXISTS { MATCH (a)-[f]->(c) WHERE f.ts >= 5 } RETURN a.id AS id")
      .collect().map(_.getLong(0)).toSet
    assert(late == Set(2L, 3L))
    // legacy exists(pattern) in RETURN position — a boolean per node
    val has = Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, exists((a)-[:b]->()) AS has ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(has == Seq((0L, true), (1L, false), (2L, true), (3L, false)))
    // exists(n.prop) stays a property-existence test
    assert(Cypher.run(g, "MATCH (a) WHERE exists(a.name) RETURN count(*) AS n")
      .head().getLong(0) == 4L)
  }

  test("pattern predicates: multi-hop, OR composition, parenthesized exprs intact") {
    // two-hop pattern with an anonymous middle and a property-map end:
    // b reaches node 0 in exactly 2 hops (distinct events) — b ∈ {0,1,2}
    val two = Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE (b)-[]->()-[]->({id: 0}) RETURN a.id AS s, b.id AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(two.map(_._2) == Set(0L, 1L, 2L))
    assert(two.size == 5)
    // composes with OR like any boolean
    val orred = Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE (b)-[:b]->() OR b.id = 3 RETURN count(*) AS n")
      .head().getLong(0)
    assert(orred == 5L) // the 4 layer-b rows + 2→3
    // parenthesized arithmetic/boolean expressions still parse
    assert(Cypher.run(g, "MATCH (a) WHERE (a.id + 1) * 2 = 4 RETURN a.id AS id")
      .head().getLong(0) == 1L)
    assert(Cypher.run(g, "MATCH (a) WHERE (a.id = 1 OR a.id = 2) AND a.id <> 2 " +
      "RETURN a.id AS id").head().getLong(0) == 1L)
  }

  test("COUNT subqueries and size(pattern): correlated match counts, 0 default") {
    // per-node event out-degree as a scalar (NOT an aggregate — no grouping)
    val deg = Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, COUNT { (a)-[]->() } AS deg ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(deg == Seq((0L, 2L), (1L, 1L), (2L, 2L), (3L, 1L)))
    // legacy size(pattern); nodes without a match count 0
    val szb = Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, size((a)-[:b]->()) AS nb ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(szb == Seq((0L, 1L), (1L, 0L), (2L, 1L), (3L, 0L)))
    // usable in WHERE like any scalar
    val busy = Cypher.run(g,
      "MATCH (a) WHERE COUNT { (a)-[]->() } >= 2 RETURN a.id AS id")
      .collect().map(_.getLong(0)).toSet
    assert(busy == Set(0L, 2L))
    // inner WHERE filters the counted matches
    val late = Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, COUNT { MATCH (a)-[f]->(c) WHERE f.ts >= 5 } AS n " +
        "ORDER BY id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(late == Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L)))
  }

  test("query parameters: $name scalars, $list with IN, missing param error") {
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = $x RETURN a.id AS id",
      Map("x" -> 2L)).head().getLong(0) == 2L)
    // string + numeric params through expressions and comparisons
    assert(Cypher.run(g,
      "MATCH (a) WHERE a.name = $nm RETURN a.id + $off AS v",
      Map("nm" -> "two", "off" -> 100L)).head().getLong(0) == 102L)
    // list parameter with IN and inside HOFs
    assert(Cypher.run(g, "MATCH (a) WHERE a.id IN $ids RETURN count(*) AS n",
      Map("ids" -> Seq(0L, 3L))).head().getLong(0) == 2L)
    assert(Cypher.run(g,
      "MATCH (a) WHERE a.id = 0 RETURN reduce(s = 0, x IN $ids | s + x) AS t",
      Map("ids" -> Seq(1L, 2L, 3L))).head().getLong(0) == 6L)
    // params participate in pattern-subquery WHEREs
    assert(Cypher.run(g,
      "MATCH (a) WHERE COUNT { MATCH (a)-[f]->(c) WHERE f.weight >= $w } >= 1 " +
        "RETURN a.id AS id", Map("w" -> 5.0)).collect().map(_.getLong(0)).toSet
      == Set(0L, 2L))
    val err = intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) WHERE a.id = $missing RETURN a.id AS id")
    }
    assert(err.getMessage.contains("missing query parameter"))
  }

  test("pattern comprehensions: [(a)-[e]->(b) WHERE p | expr], [] default") {
    // one element per matching EVENT; element order unspecified — sort
    val l = Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, [(a)-[e]->(b) | b.id] AS l ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toSeq
    assert(l == Seq(0L -> Seq(1L, 2L), 1L -> Seq(2L), 2L -> Seq(0L, 3L), 3L -> Seq(0L)))
    // inner WHERE filters matches; no match = typed [] (not NULL)
    val hot = Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, [(a)-[e]->(b) WHERE e.weight > 10 | b.id] AS l " +
        "ORDER BY id").collect()
    assert(hot.forall(r => !r.isNullAt(1) && r.getSeq[Long](1).isEmpty))
    // map is a full expression over pattern + correlated vars
    val expr = Cypher.run(g,
      "MATCH (a) WHERE a.id = 2 RETURN [(a)-[e]->(b) WHERE e.ts >= 4 | b.id + 10] AS l")
      .head().getSeq[Long](0).sorted
    assert(expr == Seq(10L, 13L))
    // composes with reduce (deterministic sum) and size()
    val sums = Cypher.run(g,
      "MATCH (a) RETURN a.id AS id, reduce(s = 0, x IN [(a)-[e]->(b) | b.id] | s + x) AS t, " +
        "size([(a)-[e2]->(b2) | b2.id]) AS n ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sums == Seq((0L, 3L, 2L), (1L, 2L, 1L), (2L, 3L, 2L), (3L, 0L, 1L)))
    // multi-hop chain in the sub (relationship uniqueness applies inside)
    val twoHop = Cypher.run(g,
      "MATCH (a) WHERE a.id = 0 RETURN [(a)-[e]->(b)-[f]->(c) | c.id] AS l")
      .head().getSeq[Long](0).sorted
    assert(twoHop == Seq(0L, 2L, 3L)) // 0→1→2, 0→2→3, 0→2→0
    // works in WHERE position through quantifiers
    assert(Cypher.run(g,
      "MATCH (a) WHERE any(x IN [(a)-[e]->(b) | e.weight] WHERE x >= 5) " +
        "RETURN a.id AS id").collect().map(_.getLong(0)).toSet == Set(0L, 2L))
    // the list-literal fallback still parses parenthesized heads
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = 0 RETURN [(1 + 2), 3] AS l")
      .head().getSeq[Long](0) == Seq(3L, 3L))
    // an uncorrelated comprehension is rejected loudly
    val err = intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) RETURN [(x)-[e]->(y) | y.id] AS l")
    }
    assert(err.getMessage.contains("bound node variable"))
  }

  test("list HOFs: comprehensions, quantifiers, reduce (codegen'd, no UDFs)") {
    // comprehension: filter + map over range()
    val evens = Cypher.run(g,
      "MATCH (a) WHERE a.id = 0 RETURN [x IN range(1, 6) WHERE x % 2 = 0 | x * 10] AS l")
      .head().getSeq[Long](0)
    assert(evens == Seq(20L, 40L, 60L))
    // filter-only and map-only forms
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = 0 RETURN [x IN range(1, 4) WHERE x > 2] AS l")
      .head().getSeq[Long](0) == Seq(3L, 4L))
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = 0 RETURN [x IN range(1, 3) | x + 1] AS l")
      .head().getSeq[Long](0) == Seq(2L, 3L, 4L))
    // integer semantics survive inside lambdas (exact SQL div, not double)
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = 0 RETURN [x IN range(10, 12) | x / 3] AS l")
      .head().getSeq[Long](0) == Seq(3L, 3L, 4L))
    // quantifiers over per-row lists
    assert(Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE all(x IN [e.ts, e.seq] WHERE x >= 0) RETURN count(*) AS n")
      .head().getLong(0) == 6L)
    assert(Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE any(x IN [e.ts, e.weight] WHERE x >= 5) RETURN count(*) AS n")
      .head().getLong(0) == 3L) // ts 5, 6 and weight 5.0 (ts 3)
    assert(Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE none(x IN [e.ts] WHERE x > 4) RETURN count(*) AS n")
      .head().getLong(0) == 4L)
    assert(Cypher.run(g,
      "MATCH (a) WHERE a.id = 0 AND single(x IN [1, 2, 3] WHERE x = 2) RETURN count(*) AS n")
      .head().getLong(0) == 1L)
    // reduce: numeric fold and string concat (type-directed +)
    assert(Cypher.run(g,
      "MATCH (a) WHERE a.id = 0 RETURN reduce(s = 0, x IN range(1, 5) | s + x) AS tot")
      .head().getLong(0) == 15L)
    assert(Cypher.run(g,
      "MATCH (a) WHERE a.id = 0 RETURN reduce(s = '', x IN ['a', 'b', 'c'] | s + x) AS cat")
      .head().getString(0) == "abc")
    // a lambda variable shadows an outer binding of the same name
    assert(Cypher.run(g,
      "MATCH (a) WHERE a.id = 3 RETURN [a IN range(1, 2) | a * 2] AS l")
      .head().getSeq[Long](0) == Seq(2L, 4L))
  }

  test("pattern predicates: correlation and freshness are enforced") {
    // no shared bound node variable
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) WHERE (x)-[]->(y) RETURN a.id AS id").collect()
    }
    // relationship variable reuse from the outer scope
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[e]->(b) WHERE (a)-[e]->() RETURN a.id AS id").collect()
    }
    // pattern node variable shadowing an outer WITH value binding
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) WITH a.id AS x MATCH (m) WHERE (x)-[]->(m) " +
        "RETURN m.id AS id").collect()
    }
  }

  test("WITH DISTINCT * dedups the VISIBLE scope; alias collisions rejected; range clamps") {
    // parallel events between the same endpoints: anonymous-edge rows
    // must collapse under WITH DISTINCT * (the synthetic event columns
    // are not part of the openCypher scope)
    val multi = {
      val e = Seq((0L, 1L, 1L, 0L, "a", 1.0), (0L, 1L, 2L, 1L, "a", 1.0),
        (1L, 2L, 3L, 2L, "a", 1.0)).toDF("src", "dst", "ts", "seq", "layer", "weight")
      val n = Seq((0L, "x"), (1L, "y"), (2L, "z")).toDF("vid", "name")
      new LinkGraph(e, n, namesAreNumeric = false)
    }
    val pairs = Cypher.run(multi,
      "MATCH (a)-[]->(b) WITH DISTINCT * RETURN a.id AS s, b.id AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 2 && pairs.toSet == Set((0L, 1L), (1L, 2L)))
    // a WITH * alias may not clobber an existing scope column
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) WITH *, 0 AS a_vid RETURN a.id AS id").collect()
    }
    // openCypher range: exhausted ranges are EMPTY (Spark sequence descends)
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = 0 RETURN size(range(1, 0)) AS n")
      .head().getLong(0) == 0L)
    assert(Cypher.run(g,
      "MATCH (a) WHERE a.id = 0 RETURN reduce(s = 0, x IN range(1, 0) | s + x) AS t")
      .head().getLong(0) == 0L)
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = 0 RETURN range(3, 1, -1) AS l")
      .head().getSeq[Long](0) == Seq(3L, 2L, 1L))
    assert(Cypher.run(g, "MATCH (a) WHERE a.id = 0 RETURN size(range(1, 3, -1)) AS n")
      .head().getLong(0) == 0L)
  }

  test("named paths: length(p) over fixed, var-length and mixed chains") {
    // fixed two-hop chain: every row has length 2
    val fixed = Cypher.run(g, "MATCH p = (a)-[e]->(b)-[f]->(c) " +
      "RETURN length(p) AS l, count(*) AS n").collect()
    assert(fixed.length == 1 && fixed.head.getLong(0) == 2L)
    // mixed: fixed hop + var-length hop sums the len column
    val mixed = Cypher.run(g, "MATCH p = (a {id: 0})-[e]->(b)-[f*1..2]->(c) " +
      "RETURN length(p) AS l, length(f) AS lf").collect()
    assert(mixed.forall(r => r.getLong(0) == 1L + r.getLong(1)))
    // node-only named path has length 0
    assert(Cypher.run(g, "MATCH p = (a {id: 3}) RETURN length(p) AS l")
      .head().getLong(0) == 0L)
    // rebinding a path variable is rejected
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH p = (a)-[e]->(b), p = (c)-[f]->(d) RETURN length(p) AS l")
    }
  }

  test("shortestPath / allShortestPaths over a bounded var-length hop") {
    // graph edges: 0->1, 1->2, 0->2, 2->3, 3->0, 2->0
    // 0 to 3: direct chains 0->2->3 (len 2) and 0->1->2->3 (len 3)
    val sp = Cypher.run(g, "MATCH p = shortestPath((a {id: 0})-[*1..4]->(b {id: 3})) " +
      "RETURN length(p) AS l").collect()
    assert(sp.length == 1 && sp.head.getLong(0) == 2L)
    // 0 to 2: two tying 1-hop... no — direct 0->2 (1 hop) is unique min;
    // 3 to 2: 3->0->2 and 3->0->1->2 -> min 2, unique
    val all0 = Cypher.run(g, "MATCH shortestPath((a {id: 3})-[e*1..4]->(b {id: 2})) " +
      "RETURN length(e) AS l").collect()
    assert(all0.length == 1 && all0.head.getLong(0) == 2L)
    // allShortestPaths keeps every tying path: 1 to 0 has 1->2->3->0 and
    // 1->2->0 -> min 2 unique; 0 to 0 cycles: 0->2->0 and 0->1->2->0 ->
    // min 2 via 0->2->0... also 0->2 then 2->0: exactly one 2-hop cycle?
    // edges 0->2 (one event) and 2->0 (one event): ONE tying path
    val asp = Cypher.run(g,
      "MATCH allShortestPaths((a {id: 0})-[e*1..3]->(b {id: 0})) " +
        "RETURN length(e) AS l, count(*) AS n").collect()
    assert(asp.length == 1 && asp.head.getLong(0) == 2L && asp.head.getLong(1) == 1L)
    // wrapper demands exactly one var-length hop
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH shortestPath((a)-[e]->(b)) RETURN count(*) AS n")
    }
  }

  test("aggregate DISTINCT: count/sum/avg over duplicated bindings") {
    // 6 edge events but only 4 distinct source nodes (0 and 2 appear twice)
    assert(Cypher.run(g, "MATCH (a)-[e]->() RETURN count(DISTINCT a.id) AS n")
      .head().getLong(0) == 4L)
    assert(Cypher.run(g, "MATCH (a)-[e]->() RETURN count(a.id) AS n")
      .head().getLong(0) == 6L)
    assert(Cypher.run(g, "MATCH (a)-[e]->() RETURN sum(DISTINCT a.id) AS s")
      .head().getLong(0) == 6L) // 0+1+2+3, not 0+1+0+2+3+2=8
    assert(Cypher.run(g, "MATCH (a)-[e]->() RETURN avg(DISTINCT a.id) AS m")
      .head().getDouble(0) == 1.5)
  }

  test("aggregate DISTINCT: implicit grouping + collect_set") {
    val perSrc = Cypher.run(g,
      "MATCH (a)-[e]->(b) RETURN a.id AS a, count(DISTINCT b.id) AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perSrc == Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
    val dsts = Cypher.run(g,
      "MATCH (a)-[e]->(b) WHERE a.id = 0 RETURN collect(DISTINCT b.id) AS ds")
      .head().getSeq[Long](0).toSet
    assert(dsts == Set(1L, 2L))
  }

  test("arithmetic: precedence, integer division, modulo, unary minus") {
    // edges ts=1..6: sum(ts % 2) = 1+0+1+0+1+0 = 3; 2+3*2 = 8 not 10
    assert(Cypher.run(g, "MATCH ()-[e]->() RETURN sum(e.ts % 2) AS s")
      .head().getLong(0) == 3L)
    assert(Cypher.run(g, "MATCH (a {id: 0})-[e]->(b) WHERE e.ts = 1 " +
      "RETURN e.ts * 2 + 3 AS x, 2 + 3 * 2 AS y, -e.ts AS z").head() match {
      case r => r.getLong(0) == 5L && r.getLong(1) == 8L && r.getLong(2) == -1L
    })
    // openCypher integer division truncates; double division does not
    val d = Cypher.run(g, "MATCH ()-[e]->() WHERE e.ts = 3 " +
      "RETURN e.ts / 2 AS i, e.weight / 2 AS f").head()
    assert(d.getLong(0) == 1L && d.getDouble(1) == 2.5)
    // integral division is EXACT past 2^53 (IntegralDivide, not a
    // double round-trip) and truncates toward zero for negatives
    val x = Cypher.run(g, "MATCH (a {id: 0}) RETURN " +
      "9007199254740993 / 1 AS big, -7 / 2 AS t").head()
    assert(x.getLong(0) == 9007199254740993L && x.getLong(1) == -3L)
  }

  test("UNWIND range() + head/last list accessors") {
    // range is inclusive of the upper bound (openCypher)
    val s = Cypher.run(g, "UNWIND range(1, 4) AS i RETURN sum(i * i) AS s")
    assert(s.head().getLong(0) == 30L)
    val r = Cypher.run(g, "MATCH (z {id: 0})-[e]->(b) " +
      "WITH collect(b.id) AS outs RETURN head(outs) AS h, last(outs) AS l, " +
      "head(range(0, 10, 5)) AS r0, last(range(0, 10, 5)) AS r2").head()
    assert(Set(r.getLong(0), r.getLong(1)).subsetOf(Set(1L, 2L))
      && r.getLong(2) == 0L && r.getLong(3) == 10L)
  }

  test("XOR precedence (OR < XOR < AND) and pow binding tighter than unary minus") {
    // ts=1..6; ts<3 XOR ts%2=0 keeps {1} (true,false) and {4,6} (false,true)
    assert(Cypher.run(g, "MATCH ()-[e]->() WHERE e.ts < 3 XOR e.ts % 2 = 0 " +
      "RETURN count(*) AS n").head().getLong(0) == 3L)
    val r = Cypher.run(g, "MATCH ()-[e]->() WHERE e.ts = 2 " +
      "RETURN -e.ts ^ 2 AS a, 2 ^ 3 ^ 2 AS b, 2 ^ -1 AS c").head()
    // -2^2 = -(2^2) = -4; right-assoc 2^(3^2) = 512; float results
    assert(r.getDouble(0) == -4.0 && r.getDouble(1) == 512.0 && r.getDouble(2) == 0.5)
  }

  test("string + concatenates; numeric + adds") {
    val r = Cypher.run(g, "MATCH (a)-[e]->(b) WHERE a.id = 0 AND b.id = 1 " +
      "RETURN a.name + '->' + b.name AS s, e.ts + 1 AS t").head()
    assert(r.getString(0) == "zero->one" && r.getLong(1) == 2L)
  }

  test("IN list predicate (literal list and carried collect list)") {
    assert(Cypher.run(g, "MATCH (a)-[e]->() WHERE a.id IN [0, 3] RETURN count(*) AS n")
      .head().getLong(0) == 3L) // 0->1, 0->2, 3->0
    // carried list: collect the out-neighbours of 0, then test membership
    val m = Cypher.run(g,
      "MATCH (z {id: 0})-[e]->(b) WITH collect(b.id) AS outs " +
        "MATCH (x) WHERE x.id IN outs RETURN count(*) AS n")
    assert(m.head().getLong(0) == 2L) // nodes 1 and 2
  }

  test("CASE searched and simple forms") {
    val rows = Cypher.run(g,
      "MATCH ()-[e]->() RETURN CASE WHEN e.ts % 2 = 0 THEN 'even' ELSE 'odd' END AS p, " +
        "count(*) AS n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("even" -> 3L, "odd" -> 3L))
    val simple = Cypher.run(g,
      "MATCH ()-[e]->() RETURN CASE e.layer WHEN 'a' THEN 1 WHEN 'b' THEN 2 END AS c, " +
        "count(*) AS n").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(simple == Map(1L -> 4L, 2L -> 2L))
    // no ELSE and no matching WHEN -> NULL
    assert(Cypher.run(g,
      "MATCH ()-[e]->() WHERE e.layer = 'b' " +
        "RETURN CASE e.layer WHEN 'a' THEN 1 END AS c").head().isNullAt(0))
  }

  test("scalar functions: graph accessors id/labels/startNode/endNode") {
    val g2 = g.withNodeTypes(Seq((0L, "even"), (1L, "odd"), (2L, "even"), (3L, "odd"))
      .toDF("vid", "node_type"))
    val r = Cypher.run(g2, "MATCH (a)-[e]->(b) WHERE e.ts = 1 " +
      "RETURN id(a) AS ia, labels(a) AS la, startNode(e) AS s, endNode(e) AS t").head()
    assert(r.getLong(0) == 0L && r.getSeq[String](1) == Seq("even")
      && r.getLong(2) == 0L && r.getLong(3) == 1L)
  }

  test("scalar functions: strings, casts, coalesce, size") {
    val ok = Cypher.run(g, "MATCH (a {id: 0}) RETURN toUpper(a.name) AS u, " +
      "substring(a.name, 1, 2) AS sub, replace(a.name, 'z', 'h') AS rep, " +
      "coalesce(CASE WHEN a.id > 0 THEN 'y' END, 'x') AS co, size(a.name) AS sz, " +
      "toInteger('42') AS i, reverse(a.name) AS rv, left(a.name, 2) AS lf, " +
      "right(a.name, 2) AS rt, split(a.name, 'r') AS sp").head()
    assert(ok.getString(0) == "ZERO" && ok.getString(1) == "er"
      && ok.getString(2) == "hero" && ok.getString(3) == "x"
      && ok.getLong(4) == 4L && ok.getLong(5) == 42L
      && ok.getString(6) == "orez" && ok.getString(7) == "ze"
      && ok.getString(8) == "ro" && ok.getSeq[String](9) == Seq("ze", "o"))
  }

  test("scalar functions: math family + rounding semantics") {
    val r = Cypher.run(g, "MATCH ()-[e]->() WHERE e.ts = 3 RETURN " +
      "abs(-e.weight) AS a, sqrt(e.weight * 5) AS q, round(e.weight / 2) AS rnd, " +
      "floor(e.weight / 2) AS fl, ceil(e.weight / 2) AS ce, sign(-e.ts) AS sg").head()
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 5.0 && r.getDouble(2) == 3.0
      && r.getDouble(3) == 2.0 && r.getDouble(4) == 3.0 && r.getLong(5) == -1L)
  }

  test("expression errors: DISTINCT on scalar fn, aggregate arity, unknown fn") {
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) RETURN toUpper(DISTINCT a.name) AS u")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a)-[e]->() RETURN sum(e.ts, e.seq) AS s")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (a) RETURN no_such_fn(a.name) AS x")
    }
  }

  test("count(DISTINCT e) over a whole edge variable counts distinct events") {
    // undirected match binds every event twice (once per direction): plain
    // count sees 12 rows, DISTINCT over the event tuple collapses to 6
    assert(Cypher.run(g, "MATCH (a)-[e]-(b) RETURN count(e) AS n")
      .head().getLong(0) == 12L)
    assert(Cypher.run(g, "MATCH (a)-[e]-(b) RETURN count(DISTINCT e) AS n")
      .head().getLong(0) == 6L)
  }

  test("stDev / stDevP: sample and population standard deviation") {
    // weights {1..6}: mean 3.5, Σ(x-x̄)² = 17.5 → samp √(17.5/5), pop √(17.5/6)
    val r = Cypher.run(g,
      "MATCH ()-[e]->() RETURN stDev(e.weight) AS sd, stDevP(e.weight) AS sdp").head()
    assert(math.abs(r.getDouble(0) - math.sqrt(3.5)) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(17.5 / 6)) < 1e-12)
  }

  test("percentileCont: exact linear interpolation at (n-1)*p") {
    // sorted weights (1,2,3,4,5,6): p=0.5 → rank 2.5 → 3.5; p=0.2 → rank 1.0 → 2.0
    val r = Cypher.run(g, "MATCH ()-[e]->() RETURN " +
      "percentileCont(e.weight, 0.5) AS p50, percentileCont(e.weight, 0.2) AS p20").head()
    assert(r.getDouble(0) == 3.5 && r.getDouble(1) == 2.0)
  }

  test("percentileDisc: nearest-rank ceil(p*n), grouped by layer") {
    // layer a weights {1,2,4,6}: rank ceil(0.5*4)=2 → 2.0
    // layer b weights {3,5}:    rank ceil(0.5*2)=1 → 3.0
    val rows = Cypher.run(g, "MATCH ()-[e]->() RETURN type(e) AS l, " +
      "percentileDisc(e.weight, 0.5) AS p50 ORDER BY l")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("a", 2.0), ("b", 3.0)))
    // p=0 and p=1 are the min / max elements
    val mm = Cypher.run(g, "MATCH ()-[e]->() RETURN " +
      "percentileDisc(e.weight, 0) AS lo, percentileDisc(e.weight, 1) AS hi").head()
    assert(mm.getDouble(0) == 1.0 && mm.getDouble(1) == 6.0)
  }

  // ---- CALL procedures (extension beyond the reference grammar) ----

  test("CALL degrees() YIELD: distinct-neighbour degrees as value bindings") {
    val rows = Cypher.run(g,
      "CALL degrees() YIELD vid, degree RETURN vid, degree ORDER BY vid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 3L), (1L, 2L), (2L, 3L), (3L, 2L)))
  }

  test("CALL pagerank(iters): exact parity with the library call") {
    // explicit iteration count = exactly 5 supersteps (tol 0)
    val lib = graft.algo.PageRank.run(g, graft.algo.PageRank.Config(iterCount = 5, tol = 0.0))
      .select("vid", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val rows = Cypher.run(g, "CALL pagerank(5) YIELD vid, score RETURN vid, score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows == lib)
  }

  test("CALL wcc(): one component, first-ingested representative") {
    val rows = Cypher.run(g,
      "CALL wcc() YIELD name, component RETURN DISTINCT component")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("zero"))
  }

  test("CALL sssp(source): BFS hop distances (undirected, reference semantics)") {
    val rows = Cypher.run(g,
      "CALL sssp('zero') YIELD name, dist RETURN name, dist ORDER BY dist, name")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // 3 -> 0 makes three one undirected hop from zero
    assert(rows == Seq(("zero", 0L), ("one", 1L), ("three", 1L), ("two", 1L)))
  }

  test("CALL triangles() + aggregate over yields") {
    val per = Cypher.run(g, "CALL triangles() YIELD vid, triangles RETURN vid, triangles")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(per == Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(Cypher.run(g, "CALL triangles() YIELD triangles RETURN sum(triangles) AS t")
      .head().getLong(0) == 6L)
  }

  test("YIELD rename + WHERE filter the yielded scope") {
    val rows = Cypher.run(g,
      "CALL degrees() YIELD vid AS id, degree WHERE degree > 2 RETURN id ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(0L, 2L))
  }

  test("standalone CALL (no RETURN) yields every catalogue column") {
    val df = Cypher.run(g, "CALL degrees()")
    assert(df.columns.toSeq == Seq("vid", "degree", "in_degree", "out_degree"))
    assert(df.count() == 4)
  }

  test("CALL runs on the query's graph view (windowed)") {
    // window [1,4): edges ts 1,2,3 remain; node 3 has no in-window activity
    val rows = Cypher.run(g.window(1L, 4L),
      "CALL degrees() YIELD vid, degree RETURN vid, degree ORDER BY vid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 2L), (1L, 2L), (2L, 2L)))
  }

  test("CALL chains into WITH and UNWIND parts") {
    val n = Cypher.run(g,
      "CALL degrees() YIELD vid, degree WITH vid, degree WHERE degree = 3 " +
        "RETURN count(*) AS n").head().getLong(0)
    assert(n == 2L)
  }

  test("CALL errors: unknown procedure, bad args, non-first clause, bad yield") {
    val e1 = intercept[IllegalArgumentException] {
      Cypher.run(g, "CALL nope() YIELD x RETURN x")
    }
    assert(e1.getMessage.contains("pagerank(")) // catalogue listed
    intercept[IllegalArgumentException] {
      Cypher.run(g, "CALL pagerank('x') YIELD score RETURN score")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH (n) CALL degrees() YIELD degree RETURN degree")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "CALL degrees() YIELD nope RETURN nope")
    }
    intercept[IllegalArgumentException] { // duplicate bound name
      Cypher.run(g, "CALL degrees() YIELD vid AS x, degree AS x RETURN x")
    }
  }

  test("CALL kcore(k) / scc(): set + component procedures") {
    // 2-core: nodes 0,2 are in two triangles' shared edge... the peel on
    // this graph keeps all of {0,1,2,3} (each has >= 2 distinct
    // neighbours); kcore(3) drops 1 and 3, then 0-2 alone cannot hold 3
    assert(Cypher.run(g, "CALL kcore(2) YIELD vid RETURN count(*) AS n")
      .head().getLong(0) == 4L)
    assert(Cypher.run(g, "CALL kcore(3) YIELD vid RETURN count(*) AS n")
      .head().getLong(0) == 0L)
    // one SCC: 0->1->2->0 and 0->2->3->0 close every node into a cycle
    val comps = Cypher.run(g,
      "CALL scc() YIELD vid, component_vid RETURN vid, component_vid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("CALL louvain()/betweenness(k)/temporal_motifs(delta): parity with the library") {
    val louv = graft.algo.Louvain.run(g).select("vid", "community")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val louvC = Cypher.run(g, "CALL louvain() YIELD vid, community RETURN vid, community")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(louvC == louv)
    val btw = graft.algo.Betweenness.run(g, Some(3), normalized = true)
      .select("vid", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val btwC = Cypher.run(g, "CALL betweenness(3) YIELD vid, value RETURN vid, value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(btwC == btw)
    val census = graft.algo.TemporalMotifs.globalCounts(g, 10L)
    val censusC = Cypher.run(g,
      "CALL temporal_motifs(10) YIELD motif, n WHERE n > 0 RETURN motif, n ORDER BY motif")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(censusC == census.toSeq.zipWithIndex.collect { case (c, i) if c > 0 => (i.toLong, c) })
  }

  test("CALL louvain(seed): seeds congruent mod 256 build different ChaCha seeds") {
    val s11 = graft.cypher.Procedures.louvainSeed(11L)
    val s267 = graft.cypher.Procedures.louvainSeed(267L)
    assert(s11.length == 32 && s267.length == 32)
    assert(!s11.sameElements(s267))
    // big-endian 8-byte encoding, repeated 4 times
    val be267 = Array[Byte](0, 0, 0, 0, 0, 0, 1, 11)
    assert(s267.toSeq == Seq.fill(4)(be267.toSeq).flatten)
  }

  test("Procedures.catalogue stays in sync with invoke()") {
    val needsArgs = Map("sssp" -> Seq[Any]("zero"), "kcore" -> Seq[Any](2L),
      "temporal_motifs" -> Seq[Any](1000L))
    graft.cypher.Procedures.catalogue.foreach { case (name, (cols, _)) =>
      val df = graft.cypher.Procedures.invoke(g, name, needsArgs.getOrElse(name, Seq.empty))
      assert(df.columns.toSeq == cols, s"procedure $name")
    }
  }

  test("percentileDisc: IEEE p*n just above the integer must not inflate the rank") {
    // 0.07 * 100 = 7.000000000000001 in double; naked ceil gives rank 8.
    // nearest-rank over 1..100 at p=0.07 is the 7th value = 7.
    val r = Cypher.run(g,
      "UNWIND range(1, 100) AS x RETURN percentileDisc(x, 0.07) AS p").head()
    assert(r.getAs[Number](0).longValue == 7L)
  }

  test("percentileDisc: all-null group yields NULL, not an ANSI element_at error") {
    // CASE yields null for every edge → collect_list is empty; openCypher
    // returns null (previously element_at(.., 1) threw under ANSI)
    val r = Cypher.run(g, "MATCH ()-[e]->() RETURN " +
      "percentileDisc(CASE WHEN e.weight > 100 THEN e.weight END, 0.5) AS p").head()
    assert(r.isNullAt(0))
  }

  test("percentile aggregate errors: arity, range, DISTINCT, scalar position") {
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH ()-[e]->() RETURN percentileCont(e.weight) AS p")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH ()-[e]->() RETURN percentileDisc(e.weight, 1.5) AS p")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH ()-[e]->() RETURN percentileCont(DISTINCT e.weight, 0.5) AS p")
    }
    intercept[IllegalArgumentException] {
      Cypher.run(g, "MATCH ()-[e]->() RETURN stDev(DISTINCT e.weight) AS p")
    }
    intercept[IllegalArgumentException] { // aggregate buried in a WHERE
      Cypher.run(g, "MATCH ()-[e]->() WHERE percentileCont(e.weight, 0.5) > 2 RETURN count(*) AS n")
    }
  }
}
