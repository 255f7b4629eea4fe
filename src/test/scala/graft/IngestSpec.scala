package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.graph.LinkGraph
import graft.io.{Corpus, EdgeEvent, Ingest}

/** Seq and vid minting against a driver-side reference: rows in
  * (ts, src_url, link_idx) order get seq 0, 1, ...; a url's vid is its
  * rank by first appearance, the src of a row before its dst
  * (raphtory/src/io/arrow/df_loaders.rs:231-257). */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def site(i: Int) = f"https://s${i % 7}.example/p/$i%03d"

  /** Pages with ts ties across pages, duplicate hrefs, self-links, urls
    * that are only ever a dst, and urls first seen as a dst before their
    * own page. Page urls are distinct; 40 of the 160 urls have no page. */
  private val corpus: Seq[(String, Long, String)] = {
    val rnd = new scala.util.Random(7)
    (0 until 120).map { i =>
      val hrefs = Seq.fill(rnd.nextInt(6))(site(rnd.nextInt(160))) ++
        (if (i % 5 == 0) Seq(site(i)) else Nil) ++ // self-link
        (if (i % 3 == 0) Seq(site((i * 7) % 160), site((i * 7) % 160)) else Nil) // duplicate
      val html = hrefs.map(h => s"""<a href="$h">x</a>""").mkString("<html><body>", " ", "</body></html>")
      (site(i), 1000L * rnd.nextInt(12), html) // 12 distinct timestamps
    }
  }

  private def pagesDf: DataFrame =
    corpus.map { case (u, ts, h) => (u, new Timestamp(ts), h.getBytes("UTF-8")) }
      .toDF("url", "warc_ts", "html").repartition(3)

  /** The reference rows (src_url, dst_url, ts, seq) and vids by url. */
  private def reference(rows: Seq[(String, String, Long, Int)]): (Seq[(String, String, Long, Long)], Map[String, Long]) = {
    val sorted = rows.sortBy { case (s, _, ts, j) => (ts, s, j) }
      .zipWithIndex.map { case ((s, d, ts, _), i) => (s, d, ts, i.toLong) }
    val vids = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    sorted.foreach { case (s, d, _, _) =>
      vids.getOrElseUpdate(s, vids.size.toLong); vids.getOrElseUpdate(d, vids.size.toLong)
    }
    (sorted, vids.toMap)
  }

  private lazy val refRows = corpus.flatMap { case (u, ts, h) => Ingest.pageLinks(u, ts, h.getBytes("UTF-8")) }

  test("the corpus has ts ties, duplicate hrefs, self-links and dst-first urls") {
    val (rows, vids) = reference(refRows)
    assert(corpus.groupBy(_._2).exists(_._2.size > 1))
    assert(rows.groupBy(r => (r._1, r._2)).exists(_._2.size > 1))
    assert(rows.exists(r => r._1 == r._2))
    val pageUrls = corpus.map(_._1).toSet
    assert(vids.keys.exists(u => !pageUrls(u)))
    def first(f: ((String, String, Long, Long)) => String, u: String) = rows.indexWhere(f(_) == u)
    assert(pageUrls.exists(u => first(_._2, u) >= 0 && first(_._2, u) < first(_._1, u)))
  }

  for (p <- Seq(1, 3, 4)) test(s"fromPages matches the reference minting at $p shuffle partitions") {
    TestSpark.withConf("spark.sql.shuffle.partitions" -> p.toString) {
      val (rows, vids) = reference(refRows)
      val g = LinkGraph.fromPages(pagesDf)
      val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect()
      assert(nodes.map(_._1).sorted.toSeq == nodes.indices.map(_.toLong), "vids are dense")
      assert(nodes.map(n => n._2 -> n._1).toMap == vids)
      val name = nodes.toMap
      val edges = g.edges.select($"src", $"dst", $"ts", $"seq", $"layer")
        .as[(Long, Long, Long, Long, String)].collect().sortBy(_._4)
      assert(edges.map(_._4).toSeq == rows.indices.map(_.toLong), "seq is dense")
      assert(edges.toSeq.map { case (s, d, ts, q, _) => (name(s), name(d), ts, q) } == rows)
      assert(edges.forall(_._5 == Ingest.DefaultLayer))
      assert(!g.namesAreNumeric)
      val events = Ingest.edgeEvents(pagesDf)
      val ev = events.select($"src_url", $"dst_url", $"ts", $"seq")
        .as[(String, String, Long, Long)].collect().sortBy(_._4)
      assert(ev.toSeq == rows)
      events.unpersist(); g.unpersist()
    }
  }

  test("fromEdgeEvents mints any dense-seq event table and flags numeric names") {
    val rnd = new scala.util.Random(11)
    val evs = (0 until 300).map(i => EdgeEvent(rnd.nextInt(90).toString, rnd.nextInt(90).toString,
      i / 7, i, if (i % 2 == 0) "a" else "b"))
    for (p <- Seq(1, 3)) TestSpark.withConf("spark.sql.shuffle.partitions" -> p.toString) {
      // rows arrive out of seq order, in 5 partitions
      val g = LinkGraph.fromEdgeEvents(spark.createDataset(rnd.shuffle(evs)).repartition(5))
      val vids = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      evs.foreach { e => vids.getOrElseUpdate(e.src_url, vids.size.toLong); vids.getOrElseUpdate(e.dst_url, vids.size.toLong) }
      assert(g.nodes.select($"name", $"vid").as[(String, Long)].collect().toMap == vids.toMap)
      val edges = g.edges.select($"src", $"dst", $"ts", $"seq", $"layer")
        .as[(Long, Long, Long, Long, String)].collect().sortBy(_._4).toSeq
      assert(edges == evs.map(e => (vids(e.src_url), vids(e.dst_url), e.ts, e.seq, e.layer)))
      assert(g.namesAreNumeric)
    }
  }

  test("fromEdgeEvents over no events: an empty graph") {
    val g = LinkGraph.fromEdgeEvents(spark.emptyDataset[EdgeEvent])
    assert(g.edges.count() == 0 && g.nodes.count() == 0 && g.namesAreNumeric)
  }

  test("fromPages + edge and node counts run in 6 Spark jobs") {
    val (_, jobs) = TestSpark.jobsIn {
      val g = LinkGraph.fromPages(Corpus.tiny(spark).toDF()).cache()
      g.edges.count(); g.nodes.count()
      g.unpersist()
    }
    assert(jobs == 6)
  }

  test("edgeEvents releases the extraction and the sort: only its own cache stays") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ev = Ingest.edgeEvents(Corpus.pages(spark, 40L, 2).toDF())
    val held = sc.getPersistentRDDs.keySet -- before
    // what the result reads without a shuffle: its own cache, not an
    // extraction cache under a sort that each action re-runs
    def narrow(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      r.dependencies.collect { case d: org.apache.spark.NarrowDependency[_] => narrow(d.rdd) }.flatten.toSet + r.id
    assert(held.size == 1 && held.subsetOf(narrow(ev.queryExecution.toRdd)), s"held $held")
    assert(ev.count() == 77) // page i has min(2, i) links
    ev.unpersist()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("edgeEventsFromRaw releases the sort: only its own cache and the caller's raw stay") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val raw = Ingest.rawLinks(Corpus.pages(spark, 40L, 2).toDF())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ev = Ingest.edgeEventsFromRaw(raw)
    assert((sc.getPersistentRDDs.keySet -- before).size == 2)
    assert(ev.count() == 77)
    ev.unpersist(); raw.unpersist()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
