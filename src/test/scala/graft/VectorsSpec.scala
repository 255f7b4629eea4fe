package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.vectors.Vectors
import graft.vectors.Vectors.{DocumentTemplate, Embedder}

/** Graph-entity RAG surface (reference raphtory/src/vectors): templates,
  * hashing embedder, embedding cache, similarity searches, expansion. */
class VectorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // path graph 0-1-2-3 plus a hub edge 0->2; names carry distinct tokens
  lazy val g: LinkGraph = {
    val e = Seq((0L, 1L, 10L, 0L, "_default"), (1L, 2L, 20L, 1L, "_default"),
      (2L, 3L, 30L, 2L, "_default"), (0L, 2L, 40L, 3L, "_default"))
      .toDF("src", "dst", "ts", "seq", "layer")
    val n = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("vid", "name")
    new LinkGraph(e, n, namesAreNumeric = false)
  }

  val tpl = DocumentTemplate(
    node = Some("node {name} id {vid}"),
    edge = Some("link {src_name} to {dst_name} events {n_events}"),
    graph = Some("graph with {n_nodes} nodes"))

  test("templates render with placeholders; document table has one row per entity") {
    val v = Vectors.vectorise(g, tpl)
    val docs = v.documents.collect()
    assert(docs.count(_.getAs[String]("kind") == "node") == 4)
    assert(docs.count(_.getAs[String]("kind") == "edge") == 4)
    assert(docs.count(_.getAs[String]("kind") == "graph") == 1)
    val d0 = docs.find(r => r.getAs[String]("kind") == "node" && r.getAs[Long]("vid") == 0L).get
    assert(d0.getAs[String]("content") == "node alpha id 0")
    assert(d0.getAs[Long]("ts") == 10L) // earliest activity
    val e02 = docs.find(r => r.getAs[String]("kind") == "edge"
      && r.getAs[Long]("src") == 0L && r.getAs[Long]("dst") == 2L).get
    assert(e02.getAs[String]("content") == "link alpha to gamma events 1")
  }

  test("embedder is deterministic and L2-normalised") {
    val em = Embedder(16)
    val two = spark.range(2).select(em.embed(lit("the quick brown fox")).as("e"))
      .collect().map(_.getSeq[Double](0))
    assert(two(0) == two(1))
    val norm = math.sqrt(two(0).map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9)
    val empty = spark.range(1).select(em.embed(lit("")).as("e"))
      .collect().head.getSeq[Double](0)
    assert(empty.forall(_ == 0.0))
  }

  test("embedding cache serves hits instead of recomputing (cache poke)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vec-cache").toString
    val path = s"$dir/cache.parquet"
    val v1 = Vectors.vectorise(g, tpl, cachePath = Some(path))
    val n1 = v1.documents.count()
    assert(spark.read.parquet(path).count() == n1)
    // poison one cache entry: if the second vectorise recomputed, the
    // poisoned value would be overwritten in the result — it must be SERVED
    val poisoned = spark.read.parquet(path)
      .withColumn("embedding",
        when(col("_k") === md5(lit("32:node alpha id 0").cast("binary")),
          typedLit(Array.fill(32)(9.0))).otherwise(col("embedding")))
    poisoned.write.mode("overwrite").parquet(s"$dir/cache2.parquet")
    val v2 = Vectors.vectorise(g, tpl, cachePath = Some(s"$dir/cache2.parquet"))
    val got = v2.documents.filter(col("content") === "node alpha id 0")
      .select("embedding").collect().head.getSeq[Double](0)
    assert(got == Seq.fill(32)(9.0))
    // and no new rows were appended (all hits)
    assert(spark.read.parquet(s"$dir/cache2.parquet").count() == n1)
  }

  test("embedding cache keyed by embedder dim: a different dim misses, never serves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vec-dim").toString
    val path = s"$dir/cache.parquet"
    val v32 = Vectors.vectorise(g, tpl, cachePath = Some(path))
    val n = v32.documents.count()
    // same path, 16-dim embedder: every doc must MISS (fresh 16-wide
    // vectors), not silently serve the cached 32-wide ones
    val v16 = Vectors.vectorise(g, tpl, Embedder(16), cachePath = Some(path))
    val widths = v16.documents.select(size(col("embedding")))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(widths == Seq(16))
    assert(spark.read.parquet(path).count() == 2 * n) // both dims cached
  }

  test("nodesBySimilarity ranks a node's own document first") {
    val v = Vectors.vectorise(g, tpl)
    val q = v.documents.filter(col("kind") === "node" && col("vid") === 2L)
      .select("embedding").collect().head.getSeq[Double](0).toArray
    val top = v.nodesBySimilarity(q, 2).collect()
    assert(top.head.getAs[Long]("vid") == 2L)
    assert(math.abs(top.head.getAs[Double]("score") - 1.0) < 1e-9)
    assert(top.forall(_.getAs[String]("kind") == "node"))
  }

  test("edgesBySimilarity ranks an edge's own document first and returns only edges") {
    val v = Vectors.vectorise(g, tpl)
    val q = v.documents.filter(col("kind") === "edge" && col("src") === 0L && col("dst") === 2L)
      .select("embedding").collect().head.getSeq[Double](0).toArray
    val top = v.edgesBySimilarity(q, 10).collect()
    assert((top.head.getAs[Long]("src"), top.head.getAs[Long]("dst")) == (0L, 2L))
    assert(math.abs(top.head.getAs[Double]("score") - 1.0) < 1e-9)
    assert(top.length == 4 && top.forall(_.getAs[String]("kind") == "edge"))
  }

  test("similarity top-k is a distributed TakeOrdered, not a global window sort") {
    // the ranked search must compile to TakeOrderedAndProject (partial
    // per-partition top-k + one k-row merge); the rank window may only
    // run ABOVE the k-row limit, never over the whole scored set
    val v = Vectors.vectorise(g, tpl)
    val q = Array.fill(32)(1.0 / math.sqrt(32))
    val plan = v.nodesBySimilarity(q, 2).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val expand = v.expandNodesBySimilarity(
      spark.range(1).select(lit(0L).as("vid")), q, 1)
    val eplan = expand.queryExecution.executedPlan.toString
    assert(eplan.contains("TakeOrderedAndProject"), eplan)
    assert(!eplan.contains("Window"), eplan)
  }

  test("window filters documents by entity lifespan") {
    val v = Vectors.vectorise(g, tpl)
    val q = Array.fill(32)(1.0 / math.sqrt(32))
    // window [20, 35): node 2 (first ts 20) and node 3 (ts 30) qualify;
    // nodes 0/1 first appeared at ts 10
    val vids = v.documentsBySimilarity(q, 100, window = Some((20L, 35L)))
      .filter(col("kind") === "node").select("vid").as[Long].collect().toSet
    assert(vids == Set(2L, 3L))
  }

  test("expandNodesBySimilarity adds only adjacent unselected nodes, top-limit by score") {
    val v = Vectors.vectorise(g, tpl)
    val q = v.documents.filter(col("kind") === "node" && col("vid") === 3L)
      .select("embedding").collect().head.getSeq[Double](0).toArray
    val sel = Seq(0L).toDF("vid")
    val grown = v.expandNodesBySimilarity(sel, q, limit = 1)
      .as[Long].collect().toSet
    // neighbours of 0 are {1, 2}; exactly one of them joins the selection
    assert(grown.contains(0L) && grown.size == 2 && (grown - 0L).subsetOf(Set(1L, 2L)))
    val all = v.expandNodesBySimilarity(sel, q, limit = 10).as[Long].collect().toSet
    assert(all == Set(0L, 1L, 2L)) // node 3 is 2 hops away — not a candidate
  }
}
