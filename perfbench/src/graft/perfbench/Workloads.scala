package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.algo.{Lpa, PageRank, Triangles, Wcc}
import graft.bsp.{LocalRunContext, RunContext}
import graft.ckpt.{Catalog, CatalogRunContext}
import graft.graph.LinkGraph
import graft.io.{Corpus, Ingest}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Operation accounting: an operation is one algorithm call or one check.
  * A thrown or wrong operation is counted and named on stdout. */
final class Ops {
  var attempted = 0L
  var failed = 0L

  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        println(s"[perfbench] FAILED $name: threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** `problem` returns None when the result is right, else what is wrong.
    * A check of a result that was never produced fails too. */
  def check(name: String, result: Option[_])(problem: => Option[String]): Unit = {
    attempted += 1
    val p = if (result.isEmpty) Some("no result (the call failed)")
            else try problem catch { case e: Throwable if scala.util.control.NonFatal(e) =>
              Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    p.foreach { msg => failed += 1; println(s"[perfbench] FAILED $name: $msg") }
  }
}

/** What one workload run measured beyond its spans. */
final class RunOut {
  var runS = 0.0
  var cpuS = 0.0
  val ctxs = ArrayBuffer.empty[(String, TracedContext)]   // (algo call, context)
  val extra = LinkedHashMap.empty[String, Double]
}

object Workload {
  /** Edges scattered per second of the median superstep's wall time. */
  def edgesPerS(steps: Seq[graft.bsp.StepStat]): Double = {
    val ms = Stats.median(steps.map(_.wallMs))
    if (ms <= 0) 0.0 else Stats.median(steps.map(_.edgesScattered.toDouble)) / (ms / 1e3)
  }
}

/** Which result to corrupt before checking (the benchmark's own tests). */
final case class Corrupt(what: String)

abstract class Workload(val spark: SparkSession, val seed: Long, val tiny: Boolean,
                        val corrupt: Option[Corrupt], val workDir: File) {
  val refTimes = LinkedHashMap.empty[String, Double]
  protected var ref: RefGraph = _

  /** Generate the inputs from the seed and compute the reference answers;
    * a later call replaces the earlier inputs. */
  def prepare(): Unit
  /** One closed-loop run: inputs to checked results. */
  def run(tr: Tracer, ops: Ops): RunOut
  /** PageRank edges scattered per second at one shuffle partition, for
    * scaling_eff; None where the workload has no such leg. */
  def singlePartitionLeg(ops: Ops): Option[Double] = None
  /** Drops what a run left cached; not part of its time. */
  def afterRun(): Unit = ()
  def release(): Unit = afterRun()
  /** Vertex count of the graph the algorithms see. */
  def nodes: Long = ref.n.toLong

  protected def timedRef[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    refTimes(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  protected def ctxFor(tr: Tracer, prep: String, inner: RunContext = new LocalRunContext,
                       durable: Boolean = false): TracedContext =
    new TracedContext(inner, tr, prep, durable)

  // ---- checks ------------------------------------------------------------

  /** PageRank rows (name, score) against the reference, allclose with
    * relative tolerance 1e-6. */
  protected def checkScores(rows: Array[(String, Double)], want: Array[Double],
                            index: String => Int): Option[String] = {
    val got = corrupt.filter(_.what == "pagerank").fold(rows) { _ =>
      rows.updated(0, (rows(0)._1, rows(0)._2 + 1e-3))
    }
    if (got.length != want.length) return Some(s"${got.length} rows, want ${want.length}")
    got.iterator.collectFirst {
      case (nm, s) if !(math.abs(s - want(index(nm))) <= 1e-6 * math.abs(want(index(nm)))) =>
        s"node $nm: score $s, want ${want(index(nm))}"
    }
  }

  /** Exact per-node labels (WCC component / LPA label names). */
  protected def checkLabels(what: String, rows: Array[(String, String)], want: Array[String],
                            index: String => Int): Option[String] = {
    val got = corrupt.filter(_.what == "wcc" && what == "wcc").fold(rows) { _ =>
      // swap the labels of two nodes whose labels differ; with one label
      // only, give the first node another node's name
      val j = rows.indexWhere(_._2 != rows(0)._2)
      if (j > 0) rows.updated(0, (rows(0)._1, rows(j)._2)).updated(j, (rows(j)._1, rows(0)._2))
      else rows.updated(0, (rows(0)._1, rows.find(_._1 != rows(0)._2).get._1))
    }
    if (got.length != want.length) return Some(s"${got.length} rows, want ${want.length}")
    got.iterator.collectFirst {
      case (nm, l) if l != want(index(nm)) => s"node $nm: $what $l, want ${want(index(nm))}"
    }
  }

  protected def collectPairs(df: DataFrame, a: String, b: String): Array[(String, Double)] =
    df.select(col(a), col(b)).collect().map(r => (r.getString(0), r.getDouble(1)))

  protected def collectNames(df: DataFrame, a: String, b: String): Array[(String, String)] =
    df.select(col(a), col(b)).collect().map(r => (r.getString(0), r.getString(1)))
}

/** The user's batch job: a pages table through HTML extraction, seq sort
  * and vid minting, then PageRank and WCC (auto mode, CSR at this size)
  * and the triangle count. */
final class CrawlE2E(spark: SparkSession, seed: Long, tiny: Boolean, corrupt: Option[Corrupt],
                     workDir: File) extends Workload(spark, seed, tiny, corrupt, workDir) {
  val pages: Int = if (tiny) 2000 else 12000
  val k = 4
  val iters = 20
  private var pagesDf: DataFrame = _
  private var prep = 0
  private var wantPr: Array[Double] = _
  private var wantWcc: Array[String] = _
  private var wantTri = 0L

  private def pageIndex(url: String): Int = url.substring(url.lastIndexOf('/') + 1).toInt

  override def prepare(): Unit = {
    prep += 1
    val dir = new File(workDir, s"pages-$pages-$prep").getPath
    Corpus.pages(spark, pages.toLong, k, seed).write.mode("overwrite").parquet(dir)
    pagesDf = spark.read.parquet(dir)
    // generator link lists -> reference graph; vids are minted in page
    // order (rows sort by ts = page index), src before dst
    val src = ArrayBuffer.empty[Int]; val dst = ArrayBuffer.empty[Int]
    val rank = Array.fill(pages)(Long.MaxValue)
    var next = 0L
    for (i <- 0 until pages) {
      val ts = Corpus.linkTargets(i.toLong, k, seed)
      ts.foreach { t =>
        if (rank(i) == Long.MaxValue) { rank(i) = next; next += 1 }
        if (rank(t.toInt) == Long.MaxValue) { rank(t.toInt) = next; next += 1 }
        src += i; dst += t.toInt
      }
    }
    ref = new RefGraph(pages, src.toArray, dst.toArray, rank, Array.fill(pages)(0L))
    wantPr = timedRef("pagerank")(Reference.pageRank(ref, iters))
    wantWcc = timedRef("wcc")(Reference.wcc(ref)).map(r => Corpus.url(r.toLong))
    wantTri = timedRef("triangles")(Reference.triangles(ref))
  }

  override def run(tr: Tracer, ops: Ops): RunOut = {
    val out = new RunOut
    val g = ops.op("ingest") {
      if (!tr.enabled) {
        val g = LinkGraph.fromPages(pagesDf).cache()
        g.edges.count(); g.nodes.count()
        g
      } else {
        // the three steps of LinkGraph.fromPages, one span each
        val raw = tr.span("io.extract") {
          val r = Ingest.rawLinks(pagesDf).persist(StorageLevel.MEMORY_AND_DISK)
          r.count(); r
        }
        val ev = tr.span("io.seq") {
          val e = Ingest.edgeEventsFromRaw(raw).persist(StorageLevel.MEMORY_AND_DISK)
          e.count(); e
        }
        tr.span("io.mint") {
          val g = LinkGraph.fromEdgeEvents(ev).cache()
          g.edges.count(); g.nodes.count()
          raw.unpersist()
          g
        }
      }
    }
    g.foreach { g =>
      ops.op("dedup")(tr.span("graph.dedup") { g.dedupEdges.count(); g.undirectedPairs.count() })
      val prCtx = ctxFor(tr, "graph.csr_pack")
      val pr = ops.op("pagerank")(tr.span("algo.pagerank") {
        collectPairs(PageRank.run(g, PageRank.Config(iterCount = iters, tol = 0.0), prCtx),
          "name", "score")
      })
      out.ctxs += (("pagerank", prCtx))
      tr.span("bench.check")(ops.check("pagerank", pr)(checkScores(pr.get, wantPr, pageIndex)))
      val wccCtx = ctxFor(tr, "graph.csr_pack")
      val wcc = ops.op("wcc")(tr.span("algo.wcc") {
        collectNames(Wcc.run(g, ctx = wccCtx), "name", "component")
      })
      out.ctxs += (("wcc", wccCtx))
      tr.span("bench.check")(ops.check("wcc", wcc)(checkLabels("wcc", wcc.get, wantWcc, pageIndex)))
      val tri = ops.op("triangles")(tr.span("algo.triangles")(Triangles.count(g)))
      tr.span("bench.check")(ops.check("triangles", tri) {
        if (tri.get == wantTri) None else Some(s"${tri.get} triangles, want $wantTri")
      })
    }
    out
  }

  // LinkGraph.fromEdgeEvents keeps its event table cached for the
  // session; nothing else is cached between runs
  override def afterRun(): Unit = spark.catalog.clearCache()
}

/** The DataFrame shuffle superstep on a numeric graph of `blocks` disjoint
  * generator graphs (so WCC has several components), built once in set-up
  * with LinkGraph.fromRawEdges. Each run, on the DF engine: PageRank for
  * exactly 10 supersteps (tol = 0) and sync LPA for a fixed sweep count,
  * in memory; WCC through CatalogRunContext(every = 1) on a fresh
  * local-disk catalog, where a first call stops at committed superstep K
  * (a kill after commit) and a second context with the same runId resumes
  * to convergence. The traced mode adds PageRank at one shuffle partition
  * for scaling_eff. */
final class SuperstepDf(spark: SparkSession, seed: Long, tiny: Boolean, corrupt: Option[Corrupt],
                        workDir: File) extends Workload(spark, seed, tiny, corrupt, workDir) {
  val blocks = 4
  val blockNodes: Int = if (tiny) 1000 else 8192
  val k = 4
  val prIters = 10
  val lpaSweeps = 1
  val wccKill = 2
  val p1Iters = 5
  private var base: LinkGraph = _
  private var wantPr: Array[Double] = _
  private var wantWcc: Array[String] = _
  private var wantLpa: Array[String] = _
  private var wantP1: Array[Double] = _
  private var runNo = 0

  private def idIndex(name: String): Int = name.toInt

  override def prepare(): Unit = {
    if (base != null) base.unpersist()
    val (bn, kk, s) = (blockNodes.toLong, k, seed)
    import spark.implicits._
    val df = spark.range(0, blocks * bn, 1, 4).flatMap { id =>
      val b = id / bn
      Corpus.linkTargets(id % bn, kk, s * 31 + b).map(t => (id, b * bn + t))
    }.toDF("src", "dst")
    base = LinkGraph.fromRawEdges(df)
    base.edges.count(); base.nodes.count()
    val n = blocks * blockNodes
    val src = ArrayBuffer.empty[Int]; val dst = ArrayBuffer.empty[Int]
    for (id <- 0 until n) {
      val b = id / blockNodes
      Corpus.linkTargets((id % blockNodes).toLong, k, s * 31 + b)
        .foreach { t => src += id; dst += b * blockNodes + t.toInt }
    }
    // fromRawEdges: vid = the numeric id, name = its decimal string
    ref = new RefGraph(n, src.toArray, dst.toArray, Array.tabulate(n)(_.toLong),
      Array.tabulate(n)(_.toLong))
    wantPr = timedRef("pagerank")(Reference.pageRank(ref, prIters))
    wantWcc = timedRef("wcc")(Reference.wcc(ref)).map(_.toString)
    wantLpa = timedRef("lpa")(Reference.lpaSync(ref, lpaSweeps))._1.map(_.toString)
    wantP1 = Reference.pageRank(ref, p1Iters)
  }

  /** A fresh graph over the cached set-up tables: its dedup caches are
    * built by the run that uses it. */
  private def freshGraph(): LinkGraph = new LinkGraph(base.edges, base.nodes, namesAreNumeric = true)

  private def dropDedup(g: LinkGraph): Unit = { g.dedupEdges.unpersist(); g.undirectedPairs.unpersist() }

  override def run(tr: Tracer, ops: Ops): RunOut = {
    val out = new RunOut
    val g = freshGraph()
    ops.op("dedup")(tr.span("graph.dedup") { g.dedupEdges.count(); g.undirectedPairs.count() })

    val prCtx = ctxFor(tr, "graph.partition")
    val pr = ops.op("pagerank")(tr.span("algo.pagerank") {
      collectPairs(PageRank.run(g, PageRank.Config(iterCount = prIters, tol = 0.0, mode = "df"), prCtx),
        "name", "score")
    })
    out.ctxs += (("pagerank", prCtx))
    tr.span("bench.check")(ops.check("pagerank", pr)(checkScores(pr.get, wantPr, idIndex)))

    runNo += 1
    val root = new File(workDir, s"catalog-$runNo")
    val catalog = new Catalog(root.toURI.toString)
    def durable() = new CatalogRunContext(catalog, "wcc", spark, every = 1)
    val first = ctxFor(tr, "graph.partition", durable(), durable = true)
    val f = ops.op("wcc-first")(tr.span("algo.wcc") {
      Wcc.run(g, iterCount = wccKill, ctx = first, mode = "df")
    })
    out.ctxs += (("wcc", first))
    tr.span("bench.check")(ops.check("wcc-commit", f) {
      val last = catalog.latestSnapshot("state/wcc")
      if (last.contains(wccKill.toLong)) None else Some(s"last committed step $last, want $wccKill")
    })
    val inner = durable()
    val second = ctxFor(tr, "graph.partition", inner, durable = true)
    val t0 = System.nanoTime()
    val wcc = ops.op("wcc")(tr.span("algo.wcc") {
      collectNames(Wcc.run(g, ctx = second, mode = "df"), "name", "component")
    })
    out.extra("resume_s") = (System.nanoTime() - t0) / 1e9
    out.ctxs += (("wcc", second))
    tr.span("bench.check")(ops.check("wcc", wcc) {
      if (inner.resumedFromStep != wccKill) Some(s"resumed from ${inner.resumedFromStep}, want $wccKill")
      else checkLabels("wcc", wcc.get, wantWcc, idIndex)
    })
    val snaps = catalog.snapshots("state/wcc").size
    out.extra("ckpt.snapshots") = snaps
    out.extra("ckpt.snapshot_bytes_per_step") =
      if (snaps == 0) 0.0 else Files.bytesUnder(new File(root, "state"), "snap-") / snaps

    val lpaCtx = ctxFor(tr, "graph.partition")
    val lpa = ops.op("lpa")(tr.span("algo.lpa") {
      collectNames(Lpa.runSync(g, maxSweeps = lpaSweeps, mode = "df", ctx = lpaCtx), "name", "label")
    })
    out.ctxs += (("lpa", lpaCtx))
    tr.span("bench.check")(ops.check("lpa", lpa)(checkLabels("lpa", lpa.get, wantLpa, idIndex)))
    dropDedup(g)
    Files.delete(root)
    out
  }

  /** DF PageRank supersteps at one shuffle partition: the N of N -> 4N. */
  override def singlePartitionLeg(ops: Ops): Option[Double] = {
    val g = freshGraph()
    val ctx = new LocalRunContext
    val key = "spark.sql.shuffle.partitions"
    val p = spark.conf.get(key)
    spark.conf.set(key, "1")
    val pr = try ops.op("pagerank_p1") {
      collectPairs(PageRank.run(g, PageRank.Config(iterCount = p1Iters, tol = 0.0, mode = "df"), ctx),
        "name", "score")
    } finally spark.conf.set(key, p)
    ops.check("pagerank_p1", pr)(checkScores(pr.get, wantP1, idIndex))
    dropDedup(g)
    Some(Workload.edgesPerS(ctx.stats))
  }

  override def release(): Unit = { if (base != null) base.unpersist(); base = null }
}

object Files {
  /** Bytes of the regular files under directories named `prefix*`. */
  def bytesUnder(dir: File, prefix: String): Double = {
    def walk(f: File, inside: Boolean): Long =
      if (f.isFile) (if (inside) f.length else 0L)
      else Option(f.listFiles).toSeq.flatten
        .map(c => walk(c, inside || c.getName.startsWith(prefix))).sum
    walk(dir, inside = false).toDouble
  }

  def delete(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
