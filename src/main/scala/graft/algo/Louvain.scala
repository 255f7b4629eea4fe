package graft.algo

import org.apache.spark.sql.DataFrame
import graft.graph.LinkGraph

/** Louvain community detection — undirected modularity maximisation with
  * the reference's two-level structure
  * (raphtory/src/algorithms/community_detection/louvain.rs:12-62,
  * modularity.rs:166-330): singleton start, shuffled local-move sweeps
  * until no move improves modularity by > tol, then community aggregation,
  * repeated until the outer level stops moving.
  *
  * DIVERGENCE (documented): the reference shuffles with an unseeded
  * `thread_rng`, so its per-run assignments are nondeterministic (its own
  * tests only assert that every node lands in a community). We seed the
  * shuffle with the same ChaCha12 stream the seeded-LPA replay uses
  * (rng.Rand08), making runs reproducible; community QUALITY matches (the
  * delta-modularity algebra below is the reference's exactly) but
  * individual assignments can differ from any particular reference run —
  * fixtures assert partition quality (modularity) and structure, not raw
  * labels. Labels are canonicalised to the min member vid.
  *
  * Like the reference (and Louvain generally), the local-move phase is
  * inherently sequential; it runs driver-side over the collapsed weighted
  * adjacency — the same single-process regime as the reference. The input
  * collapse (event log → weighted undirected adjacency) is distributed. */
object Louvain {

  /** Returns (vid, name, community). `weightCol` sums per directed event;
    * edge weight = total over both directions (undirected). */
  def run(g: LinkGraph, weightCol: Option[String] = None, resolution: Double = 1.0,
          tol: Double = 1e-8, seed: Array[Byte] = Array.fill[Byte](32)(11)): DataFrame = {
    graft.bsp.DriverGuard.checkGraph(g, "Louvain.run",
      "Lpa.runSync for distributed community detection; Louvain local moves are inherently sequential")
    val spark = g.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._

    // distributed collapse: undirected pair weights (self-loops separate)
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val pairWeights = g.edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"), w.as("w"))
      .groupBy($"a", $"b").agg(sum($"w").as("w"))
      .as[(Long, Long, Double)].collect()
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect().sortBy(_._1)
    val n = nodes.length
    if (n == 0) return spark.emptyDataset[(Long, String, Long)].toDF("vid", "name", "community")
    val idx = nodes.map(_._1).zipWithIndex.toMap

    // adjacency (no self-loops) + self-loop weights, weights >= tol only
    var adj: Array[Array[(Int, Double)]] = {
      val buf = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
      pairWeights.foreach { case (a, b, wt) =>
        if (a != b && wt >= tol) {
          buf(idx(a)) += ((idx(b), wt))
          buf(idx(b)) += ((idx(a), wt))
        }
      }
      buf.map(_.toArray)
    }
    var selfLoops: Array[Double] = {
      val s = new Array[Double](n)
      pairWeights.foreach { case (a, b, wt) => if (a == b && wt >= tol) s(idx(a)) = wt }
      s
    }

    val rng = new graft.rng.Rand08.StdRng(seed)
    // membership at the current level; memberOf(original node) via chain
    var levelSize = n
    var globalCom = Array.tabulate(n)(i => i) // original node -> current-level community

    // k excludes original self-loops and carries across levels as the
    // community degree (reference aggregate(): next-level k = k_com)
    var kCarried: Array[Double] = adj.map(_.map(_._2).sum)
    val m2Const = kCarried.sum
    if (m2Const == 0.0) { // no non-self edges: every node is its own community
      val rows0 = nodes.map { case (v, nm) => (v, nm, v) }
      return spark.createDataset(rows0.toSeq).toDF("vid", "name", "community")
    }

    var outerMoved = true
    while (outerMoved) {
      outerMoved = false
      val k = kCarried
      val m2 = m2Const
      val com = Array.tabulate(levelSize)(i => i)
      val kCom = k.clone()
      // adjCom(v): community -> summed weight of v's neighbours there (+ self-loop on own com)
      val adjCom = Array.tabulate(levelSize) { v =>
        val m = scala.collection.mutable.LongMap.empty[Double]
        adj(v).foreach { case (u, wt) => m(com(u)) = m.getOrElse(com(u).toLong, 0.0) + wt }
        if (selfLoops(v) != 0.0) m(com(v)) = m.getOrElse(com(v).toLong, 0.0) + selfLoops(v)
        m
      }

      def moveDelta(v: Int, newCom: Int): Double = {
        val oldCom = com(v)
        if (oldCom == newCom) 0.0
        else {
          val a = 2.0 * (adjCom(v).getOrElse(newCom.toLong, 0.0) -
            adjCom(v).getOrElse(oldCom.toLong, 0.0) + selfLoops(v))
          val p = 2.0 * (k(v) * (kCom(newCom) - kCom(oldCom)) + k(v) * k(v))
          (a - resolution * p / m2) / m2
        }
      }

      // subtract, dropping near-empty entries so they stop being candidate
      // moves (the reference's tol-based entry removal, modularity.rs:283-330)
      def dec(m: scala.collection.mutable.LongMap[Double], c: Long, wt: Double): Unit = {
        val nv = m.getOrElse(c, 0.0) - wt
        if (nv < tol) m.remove(c) else m(c) = nv
      }

      def moveNode(v: Int, newCom: Int): Unit = {
        val oldCom = com(v)
        if (oldCom == newCom) return
        val wSelf = selfLoops(v)
        if (wSelf != 0.0) {
          dec(adjCom(v), oldCom.toLong, wSelf)
          adjCom(v)(newCom.toLong) = adjCom(v).getOrElse(newCom.toLong, 0.0) + wSelf
        }
        adj(v).foreach { case (u, wt) =>
          // u's view of v's community changes; v's view of u's community
          // does NOT (a dec/re-add of adjCom(v)(com(u)) would be a no-op
          // that could drop sub-tol residuals)
          dec(adjCom(u), oldCom.toLong, wt)
          adjCom(u)(newCom.toLong) = adjCom(u).getOrElse(newCom.toLong, 0.0) + wt
        }
        kCom(oldCom) -= k(v)
        kCom(newCom) += k(v)
        com(v) = newCom
      }

      var innerMoved = true
      val order = Array.range(0, levelSize)
      while (innerMoved) {
        innerMoved = false
        graft.rng.Rand08.shuffle(order, rng)
        order.foreach { v =>
          // candidate communities: own + those of neighbours (via adjCom keys)
          var bestCom = -1
          var bestDelta = Double.NegativeInfinity
          adjCom(v).foreachEntry { (c, _) =>
            val d = moveDelta(v, c.toInt)
            if (d > bestDelta || (d == bestDelta && c.toInt > bestCom)) {
              bestDelta = d; bestCom = c.toInt
            }
          }
          if (bestCom >= 0 && bestCom != com(v) && bestDelta > tol) {
            innerMoved = true
            outerMoved = true
            moveNode(v, bestCom)
          }
        }
      }

      // aggregate: communities become the next level's nodes
      val comIds = com.distinct.sorted
      val remap = comIds.zipWithIndex.toMap
      val newSize = comIds.length
      val newSelf = new Array[Double](newSize)
      val newAdjMaps = Array.fill(newSize)(scala.collection.mutable.LongMap.empty[Double])
      var v = 0
      while (v < levelSize) {
        val cv = remap(com(v))
        newSelf(cv) += selfLoops(v)
        adj(v).foreach { case (u, wt) =>
          val cu = remap(com(u))
          if (cu == cv) newSelf(cv) += wt / 2.0 // each intra pair seen from both sides
          else newAdjMaps(cv)(cu.toLong) = newAdjMaps(cv).getOrElse(cu.toLong, 0.0) + wt
        }
        v += 1
      }
      globalCom = globalCom.map(c => remap(com(c)))
      adj = newAdjMaps.map(_.toArray.map { case (u, wt) => (u.toInt, wt) })
      selfLoops = newSelf
      kCarried = comIds.map(kCom(_))
      levelSize = newSize
    }

    // canonical labels: min original vid in each final community
    val label = scala.collection.mutable.HashMap.empty[Int, Long]
    nodes.indices.foreach { i =>
      val c = globalCom(i)
      val v = nodes(i)._1
      if (!label.contains(c) || v < label(c)) label(c) = v
    }
    val rows = nodes.indices.map(i => (nodes(i)._1, nodes(i)._2, label(globalCom(i))))
    spark.createDataset(rows).toDF("vid", "name", "community")
  }

  /** Distributed modularity: the same algebra as `modularity` (undirected
    * collapsed pair weights; k(v) counts self-loops twice; Q = Σ_c
    * intra_c/m − r·(k_c/2m)²) computed with DataFrame aggregates over a
    * (vid, community) partition table — no driver collect of either the
    * partition or the pair weights, so the consistency check scales with
    * the graph even though the local-move phase itself is driver-bounded. */
  def modularityDF(g: LinkGraph, part: DataFrame,
                   weightCol: Option[String] = None, resolution: Double = 1.0): Double = {
    import org.apache.spark.sql.functions._
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val pw = g.edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"), w.as("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mRow = pw.agg(sum(col("w"))).head()
    if (mRow.isNullAt(0)) { pw.unpersist(); return 0.0 }
    val m = mRow.getDouble(0)
    val p = part.select(col("vid"), col("community"))
    val k = pw.select(col("a").as("vid"),
        when(col("a") === col("b"), col("w") * 2).otherwise(col("w")).as("kv"))
      .union(pw.filter(col("a") =!= col("b")).select(col("b").as("vid"), col("w").as("kv")))
      .groupBy(col("vid")).agg(sum(col("kv")).as("k"))
    val kc = k.join(p, Seq("vid")).groupBy(col("community")).agg(sum(col("k")).as("kcom"))
    val intra = pw
      .join(p.select(col("vid").as("a"), col("community").as("ca")), Seq("a"))
      .join(p.select(col("vid").as("b"), col("community").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(sum(col("w")).as("i"))
    try {
      val qRow = kc.join(intra, Seq("community"), "left")
        .agg(sum(coalesce(col("i"), lit(0.0)) / m
          - lit(resolution) * pow(col("kcom") / (2 * m), 2)))
        .head()
      // sum over zero communities (empty/disjoint partition) is null, not 0
      if (qRow.isNullAt(0)) 0.0 else qRow.getDouble(0)
    } finally pw.unpersist()
  }

  /** Modularity Q of a (vid -> community) partition over the same collapsed
    * undirected weights — the quality assertion for fixtures. */
  def modularity(g: LinkGraph, partition: Map[Long, Long],
                 weightCol: Option[String] = None, resolution: Double = 1.0): Double = {
    val spark = g.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val pairWeights = g.edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"), w.as("w"))
      .groupBy($"a", $"b").agg(sum($"w").as("w"))
      .as[(Long, Long, Double)].collect()
    val kMap = scala.collection.mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    var m = 0.0
    var intra = scala.collection.mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    pairWeights.foreach { case (a, b, wt) =>
      if (a == b) { kMap(a) += 2 * wt; m += wt; if (partition(a) == partition(b)) intra(partition(a)) += wt }
      else {
        kMap(a) += wt; kMap(b) += wt; m += wt
        if (partition(a) == partition(b)) intra(partition(a)) += wt
      }
    }
    val kCom = scala.collection.mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    kMap.foreach { case (v, kv) => kCom(partition(v)) += kv }
    val m2 = 2 * m
    // iterator, not keys.map: a Set would dedup equal per-community terms
    kCom.keys.iterator.map { c => intra(c) / m - resolution * math.pow(kCom(c) / m2, 2) }.sum
  }
}
