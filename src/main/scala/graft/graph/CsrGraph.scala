package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.HashPartitioner
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One gather-side CSR partition: the adjacency of every destination vertex
  * in the contiguous id range [lo, hi). `offsets` has hi-lo+1 entries;
  * the in-neighbours of vertex v are srcs[offsets(v-lo) until offsets(v-lo+1)),
  * strictly ascending (CsrGraph.pack sorts each block; the pairs it packs
  * are distinct).
  *
  * This is the Spark analogue of the reference's per-layer columnar CSR
  * (pometry-storage adjacency, raphtory/src/db/api/storage/graph/storage_ops/
  * disk_graph) packed per *partition* instead of per file — SURVEY §4.3. */
case class CsrBlock(lo: Int, hi: Int, offsets: Array[Int], srcs: Array[Int])

/** In-memory gather-scatter graph for the superstep fast path.
  *
  * Partitioning is an explicit range partitioning of the destination id
  * space: partition p owns dst ∈ [p·n/P, (p+1)·n/P), so each superstep is
  * ONE Spark job — broadcast the previous vertex state (dense arrays),
  * every partition gathers over its CSR block and returns its dense result
  * segment, the driver stitches segments. No shuffle at all per superstep.
  *
  * Bounds: vertex ids must fit Int (n ≤ 2^31) and the per-vertex state
  * arrays must fit executor+driver memory (8·n bytes per double array) —
  * the single-machine regime the reference engine lives in
  * (raphtory README.md:47 "hundreds of millions of edges on your laptop").
  * Beyond that, the shuffle-based DataFrame supersteps (PageRank.run /
  * Wcc.run DF path) take over; both modes share exact semantics.
  */
class CsrGraph private[graph] (
    val n: Int,                       // id space size (max vid + 1)
    val nPresent: Int,                // actual node count
    val present: Array[Boolean],
    val blocks: RDD[CsrBlock],
    val edgeCount: Long) extends Serializable {

  def unpersist(): Unit = blocks.unpersist()
}

/** Driver-side directed CSR over compact indices: index i is node
  * `vids(i)` (ascending), and its distinct out-neighbours are
  * `targets(offsets(i) until offsets(i + 1))`, ascending — the analogue of
  * the reference's per-node adjacency lists (node_store.rs:176-199) that
  * every driver-side directed traversal reads (Tarjan SCC, Brandes
  * betweenness, all-nodes in/out-components). */
final class DirectedAdjacency(val vids: Array[Long], val offsets: Array[Int], val targets: Array[Int]) {

  /** In-neighbour CSR (offsets, sources ascending): a driver-side
    * transpose on first use, so it costs no Spark job. */
  lazy val in: (Array[Int], Array[Int]) = {
    val swapped = new Array[Long](targets.length)
    var s = 0
    while (s < vids.length) {
      var e = offsets(s)
      while (e < offsets(s + 1)) { swapped(e) = (targets(e).toLong << 32) | s; e += 1 }
      s += 1
    }
    DirectedAdjacency.csr(swapped, vids.length)
  }
}

object DirectedAdjacency {

  /** Packs the (src, dst) Long rows of `edges` over `vids` (ascending;
    * every endpoint must be one of them). Executors encode each edge as
    * one primitive (srcIdx << 32) | dstIdx long, so the driver receives
    * dense 8-byte/edge blocks, not boxed rows. Callers bound the collect
    * with a DriverGuard first. */
  def pack(edges: DataFrame, vids: Array[Long]): DirectedAdjacency = {
    val bcVids = edges.sparkSession.sparkContext.broadcast(vids)
    val blocks = edges.select(col("src"), col("dst")).rdd.mapPartitions { it =>
      val vs = bcVids.value
      def idx(v: Long): Long = {
        val i = java.util.Arrays.binarySearch(vs, v)
        require(i >= 0, s"edge endpoint $v is not a node of the packed set")
        i.toLong
      }
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach(r => buf += (idx(r.getLong(0)) << 32) | idx(r.getLong(1)))
      Iterator(buf.result())
    }.collect()
    bcVids.destroy()
    val (offsets, targets) = csr(Array.concat(blocks.toIndexedSeq: _*), vids.length)
    new DirectedAdjacency(vids, offsets, targets)
  }

  /** CSR (offsets, columns) of `n` rows from (row << 32) | column longs:
    * the row rides the high bits, so one primitive sort (in place) IS the
    * CSR order. */
  private[graph] def csr(packed: Array[Long], n: Int): (Array[Int], Array[Int]) = {
    java.util.Arrays.sort(packed)
    val offsets = new Array[Int](n + 1)
    val cols = new Array[Int](packed.length)
    var i = 0
    while (i < packed.length) { offsets((packed(i) >>> 32).toInt + 1) += 1; cols(i) = packed(i).toInt; i += 1 }
    i = 1
    while (i <= n) { offsets(i) += offsets(i - 1); i += 1 }
    (offsets, cols)
  }
}

object CsrGraph {

  /** The dense id-space bound of the CSR fast path: 32M ids keep the
    * per-superstep dense state arrays within driver and executor memory. */
  private val InMemMaxIds: Long = 32L * 1000 * 1000

  /** The CSR/DF dispatch rule shared by PageRank, WCC, HITS, sync-LPA and
    * triangles: "csr" / "df" force an engine; "auto" takes CSR when the
    * dense id space is below InMemMaxIds (0 <= max vid < InMemMaxIds).
    * Only per-vid primitive arrays reach the driver on that path — names
    * stay on the executors (results) — so the id bound is the whole rule.
    * Reads the graph's memoized NodeFacts. */
  def useCsr(g: LinkGraph, mode: String): Boolean = mode == "csr" || mode == "auto" && {
    val m = g.nodeFacts.maxVid
    m >= 0 && m < InMemMaxIds
  }

  /** The CSR fast path's result table: one `(vid, name, fields...)` row per
    * node of `g`, `fields` a DDL column list. The dense per-vid `values`
    * are broadcast once and read by `row(values, vid)` while mapping over
    * `g.nodes`, so names never leave the executors and the plan reads the
    * node table. The broadcast stays alive: the result is lazy and its
    * lineage reads it. */
  def results[S: scala.reflect.ClassTag](g: LinkGraph, values: S, fields: String)(
      row: (S, Int) => Seq[Any]): DataFrame = {
    val bc = g.spark.sparkContext.broadcast(values)
    g.nodes.select(col("vid"), col("name")).mapPartitions { it =>
      val s = bc.value
      it.map(r => Row.fromSeq(r.getLong(0) +: r.getString(1) +: row(s, r.getLong(0).toInt)))
    }(Encoders.row(StructType.fromDDL(s"vid BIGINT, name STRING, $fields")))
  }

  /** The block owning vertex `v` of an `n`-id space split into `parts`
    * dst ranges: floor(v·parts/n). */
  private[graft] def blockOf(v: Int, parts: Int, n: Int): Int =
    math.min(((v.toLong * parts) / n).toInt, parts - 1)

  /** First id of block `p`: the smallest v with blockOf(v) = p,
    * ceil(p·n/parts); block p owns [start(p), start(p + 1)). */
  private def blockStart(p: Int, parts: Int, n: Int): Int =
    (((p.toLong * n) + parts - 1) / parts).toInt

  /** Packs the (gather key, neighbour) Long rows of `pairs` into `parts`
    * dst-range CSR blocks over the id space [0, n). Executors route each
    * row as one primitive ((key - lo) << 32) | neighbour long to its
    * block, one Array[Long] per (input partition, block) crosses the
    * shuffle, and each block is one in-place sort of its longs
    * (DirectedAdjacency.csr) — so every list comes out ascending. */
  private[graph] def pack(pairs: DataFrame, n: Int, parts: Int): RDD[CsrBlock] =
    pairs.rdd.mapPartitions { it =>
      val bufs = Array.fill(parts)(new scala.collection.mutable.ArrayBuilder.ofLong)
      it.foreach { r =>
        val d = r.getLong(0).toInt
        val p = blockOf(d, parts, n)
        bufs(p) += ((d - blockStart(p, parts, n)).toLong << 32) | r.getLong(1)
      }
      bufs.iterator.zipWithIndex.collect { case (b, p) if b.length > 0 => (p, b.result()) }
    }.partitionBy(new HashPartitioner(parts)).mapPartitionsWithIndex { (p, it) =>
      val (lo, hi) = (blockStart(p, parts, n), blockStart(p + 1, parts, n))
      val (offsets, srcs) = DirectedAdjacency.csr(Array.concat(it.map(_._2).toSeq: _*), hi - lo)
      Iterator(CsrBlock(lo, hi, offsets, srcs))
    }.persist(StorageLevel.MEMORY_AND_DISK)

  /** The one CSR builder (LinkGraph's three CSR memos call it): vid bound
    * check, present bitmap, pack of the (gather key, neighbour) `pairs`,
    * edge count. An empty graph (no nodes, e.g. a window view over a dead
    * time range) packs to a valid zero-vertex CsrGraph. Dense vids (node
    * count = max vid + 1, every minted graph) need no bitmap collect. */
  private[graph] def build(g: LinkGraph, parts: Int, pairs: DataFrame): CsrGraph = {
    val spark = g.spark
    import spark.implicits._
    val f = g.nodeFacts
    require(f.maxVid < Int.MaxValue, s"CSR fast path requires vid < 2^31, got ${f.maxVid}")
    val n = (f.maxVid + 1).toInt
    val present =
      if (f.count == n) Array.fill(n)(true)
      else {
        val a = new Array[Boolean](n)
        g.nodes.select("vid").as[Long].collect().foreach(v => a(v.toInt) = true)
        a
      }
    val blocks = pack(pairs, n, parts)
    val m = blocks.map(_.srcs.length.toLong).fold(0L)(_ + _)
    new CsrGraph(n, f.count.toInt, present, blocks, m)
  }

  /** Per-source distinct out-degree as a dense array (gather blocks count
    * each (dst, src) once, so counting srcs across blocks gives the
    * multi-edge-collapsed out-degree). Tree-reduced partial histograms. */
  def outDegrees(csr: CsrGraph): Array[Int] = {
    val n = csr.n
    csr.blocks.mapPartitions { it =>
      val h = new Array[Int](n)
      it.foreach { b =>
        var i = 0
        while (i < b.srcs.length) { h(b.srcs(i)) += 1; i += 1 }
      }
      Iterator(h)
    }.treeReduce({ (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }, depth = 2)
  }
}
