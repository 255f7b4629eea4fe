package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.Search

/** Fuzzy + property search and the standing bucketed index. */
class SearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docsPath = "/root/testdata/sf0.001/documents.parquet"

  test("fuzzy equals the unfiltered levenshtein scan — short query (length-band prefilter only)") {
    val vals = Seq("shuffle", "shufle", "shuffles", "spark", "shuffled", "chuffle",
      "shufflexx", "queue", "scuffles", "x")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "v")
    val got = Search.fuzzy(vals, "v", "shuffle", 2)
      .select("id", "dist").as[(Long, Long)].collect().toSet
    val brute = vals
      .withColumn("dist", levenshtein(col("v"), lit("shuffle")).cast("long"))
      .filter(col("dist") <= 2)
      .select("id", "dist").as[(Long, Long)].collect().toSet
    assert(got == brute && got.nonEmpty)
  }

  test("fuzzy equals the unfiltered scan — long query (trigram prefilter active and lossless)") {
    val q = "https://site0001.example/q/1"
    val vals = (1 to 9).map(i => s"https://site000$i.example/p/1") ++
      Seq("https://site0001.example/p/12", "https://other.example/", q.reverse)
    val df = vals.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "v")
    val got = Search.fuzzy(df, "v", q, 2)
      .select("id", "dist").as[(Long, Long)].collect().toSet
    val brute = df
      .withColumn("dist", levenshtein(col("v"), lit(q)).cast("long"))
      .filter(col("dist") <= 2)
      .select("id", "dist").as[(Long, Long)].collect().toSet
    assert(got == brute && got.nonEmpty)
  }

  test("fuzzySearchNodes finds near-miss url names on the crawl graph") {
    val g = graft.graph.LinkGraph.fromPages(graft.io.Corpus.tiny(spark).toDF())
    val hits = Search.fuzzySearchNodes(g, "https://site0001.example/q/1", 2)
      .select("name", "dist").as[(String, Long)].collect().toMap
    assert(hits.contains("https://site0001.example/p/1"))
    assert(hits("https://site0001.example/p/1") == 1L)
    assert(hits.values.forall(_ <= 2L))
  }

  test("searchNodes / searchEdges: a Catalyst predicate over the node and unique-edge tables") {
    val g = graft.graph.LinkGraph.fromEdgeList(spark,
      Seq(("a", "b", 1L), ("a", "b", 2L), ("b", "c", 3L), ("c", "a", 4L)))
    assert(Search.searchNodes(g, col("name").isin("a", "c")).select("vid").as[Long].collect().sorted.toSeq == Seq(0L, 2L))
    // the multi-edge a->b is one unique edge
    assert(Search.searchEdges(g, col("src") === 0L).select("src", "dst").as[(Long, Long)].collect().toSeq == Seq((0L, 1L)))
  }

  test("standing index: searchIndexed == search, and the scan partition-prunes to the query buckets") {
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    val idxPath = "target/test-term-index"
    Search.writeIndex(docs, idxPath, buckets = 16)
    val terms = Seq("spark", "query")
    val direct = Search.search(docs, terms, k = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val indexed = Search.searchIndexed(spark, idxPath, n, terms, k = 10, buckets = 16)
    val viaIndex = indexed.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaIndex.toSeq == direct.toSeq)
    // partition pruning: the parquet scan must carry a partition filter on
    // tb and read at most |terms| of the 16 bucket directories. Recurse
    // through AQE wrappers — the final plan hides scans inside query stages.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case f: FileSourceScanExec    => Seq(f)
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case s: QueryStageExec        => allScans(s.plan)
        case _                        => Seq.empty
      }
      here ++ p.children.flatMap(allScans) ++
        p.subqueries.flatMap(allScans)
    }
    val scans = allScans(indexed.queryExecution.executedPlan)
    assert(scans.nonEmpty, indexed.queryExecution.executedPlan.toString)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"no partition filter on the index scan:\n${indexed.queryExecution.executedPlan}")
    scans.foreach { s =>
      val partsRead = s.selectedPartitions.partitionCount
      assert(partsRead <= terms.length,
        s"index scan read $partsRead bucket partitions for ${terms.length} terms")
    }
  }
}
