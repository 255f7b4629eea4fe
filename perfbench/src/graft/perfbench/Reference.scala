package graft.perfbench

/** A directed multigraph over dense indices 0 until n, as the generator
  * emits it, plus each node's vertex-id rank (the order the engine mints
  * vids in) and its numeric GID where names are numeric. */
final class RefGraph(val n: Int, val src: Array[Int], val dst: Array[Int],
                     val mintRank: Array[Long], val gid: Array[Long]) {
  def m: Int = src.length
}

/** Single-threaded reference answers, computed from the generator's link
  * lists without Spark. Semantics follow the library's documented ones:
  * PageRank (graft.algo.PageRank), min-vid WCC (graft.algo.Wcc),
  * red/black synchronous LPA (graft.algo.Lpa.runSync) and the undirected
  * simple triangle count (graft.algo.Triangles). */
object Reference {

  /** Distinct (a, b) pairs of the given arrays, sorted by (a, b). */
  private def distinctPairs(a: Array[Int], b: Array[Int]): (Array[Int], Array[Int]) = {
    val packed = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { packed(i) = (a(i).toLong << 32) | (b(i).toLong & 0xffffffffL); i += 1 }
    java.util.Arrays.sort(packed)
    val outA = new Array[Int](packed.length)
    val outB = new Array[Int](packed.length)
    var k = 0
    i = 0
    while (i < packed.length) {
      if (i == 0 || packed(i) != packed(i - 1)) {
        outA(k) = (packed(i) >>> 32).toInt; outB(k) = packed(i).toInt; k += 1
      }
      i += 1
    }
    (java.util.Arrays.copyOf(outA, k), java.util.Arrays.copyOf(outB, k))
  }

  /** Adjacency lists (CSR) of the pairs grouped by `key`. */
  private def csr(n: Int, key: Array[Int], other: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    key.foreach(k => off(k + 1) += 1)
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val cur = off.clone()
    val adj = new Array[Int](key.length)
    i = 0
    while (i < key.length) { adj(cur(key(i))) = other(i); cur(key(i)) += 1; i += 1 }
    (off, adj)
  }

  /** Undirected distinct neighbour lists, both orientations; a self-loop
    * is one (v, v) entry. */
  private def undirected(g: RefGraph): (Array[Int], Array[Int]) = {
    val (a, b) = distinctPairs(g.src ++ g.dst, g.dst ++ g.src)
    csr(g.n, a, b)
  }

  def pageRank(g: RefGraph, iters: Int, damping: Double = 0.85): Array[Double] = {
    val (s, d) = distinctPairs(g.src, g.dst)
    val n = g.n
    val outDeg = new Array[Int](n)
    s.foreach(u => outDeg(u) += 1)
    var score = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](n)
      var sink = 0.0
      var u = 0
      while (u < n) {
        if (outDeg(u) > 0) contrib(u) = score(u) / outDeg(u) else sink += score(u)
        u += 1
      }
      val next = new Array[Double](n)
      var e = 0
      while (e < s.length) { next(d(e)) += contrib(s(e)); e += 1 }
      val base = (1.0 - damping) / n + damping / n * sink
      var v = 0
      while (v < n) { next(v) = damping * next(v) + base; v += 1 }
      score = next
    }
    score
  }

  /** Component representative of every node: the member minted first. */
  def wcc(g: RefGraph): Array[Int] = {
    val parent = Array.range(0, g.n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < g.m) {
      val a = find(g.src(e)); val b = find(g.dst(e))
      if (a != b) { if (g.mintRank(a) < g.mintRank(b)) parent(b) = a else parent(a) = b }
      e += 1
    }
    Array.tabulate(g.n)(find)
  }

  /** Synchronous red/black LPA; returns (labels as GIDs, phases run). */
  def lpaSync(g: RefGraph, maxSweeps: Int): (Array[Long], Int) = {
    val (off, adj) = undirected(g)
    val label = g.gid.clone()
    val buf = new Array[Long](if (g.n == 0) 0 else (0 until g.n).map(v => off(v + 1) - off(v)).max)
    var sweep = 0
    var phases = 0
    var done = false
    while (!done && sweep < maxSweeps) {
      var changedTotal = 0L
      for (color <- 0 to 1) {
        val prev = label.clone()
        var v = 0
        while (v < g.n) {
          // colour classes follow vid parity; vids are the minted ranks
          if (g.mintRank(v) % 2 == color && off(v + 1) > off(v)) {
            // majority label, ties to the largest GID (unsigned order):
            // sort the neighbours' labels and scan the runs
            val d = off(v + 1) - off(v)
            var k = 0
            while (k < d) { buf(k) = prev(adj(off(v) + k)) ^ Long.MinValue; k += 1 }
            java.util.Arrays.sort(buf, 0, d)
            var best = 0L
            var bestC = -1
            k = 0
            while (k < d) {
              var j = k
              while (j < d && buf(j) == buf(k)) j += 1
              if (j - k >= bestC) { best = buf(k) ^ Long.MinValue; bestC = j - k }
              k = j
            }
            if (best != prev(v)) { label(v) = best; changedTotal += 1 }
          }
          v += 1
        }
        phases += 1
      }
      done = changedTotal == 0
      sweep += 1
    }
    (label, phases)
  }

  /** Triangles of the undirected simple graph (self-loops dropped), each
    * counted once: orient edges by (degree, id), intersect out-lists. */
  def triangles(g: RefGraph): Long = {
    val keep = (0 until g.m).filter(e => g.src(e) != g.dst(e))
    val lo = keep.map(e => math.min(g.src(e), g.dst(e))).toArray
    val hi = keep.map(e => math.max(g.src(e), g.dst(e))).toArray
    val (a, b) = distinctPairs(lo, hi)
    val deg = new Array[Int](g.n)
    a.foreach(x => deg(x) += 1); b.foreach(x => deg(x) += 1)
    def before(x: Int, y: Int) = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    val from = Array.tabulate(a.length)(i => if (before(a(i), b(i))) a(i) else b(i))
    val to = Array.tabulate(a.length)(i => if (before(a(i), b(i))) b(i) else a(i))
    val (off, adj) = csr(g.n, from, to)
    val mark = new Array[Int](g.n)
    java.util.Arrays.fill(mark, -1)
    var count = 0L
    var u = 0
    while (u < g.n) {
      var k = off(u)
      while (k < off(u + 1)) { mark(adj(k)) = u; k += 1 }
      k = off(u)
      while (k < off(u + 1)) {
        val v = adj(k)
        var j = off(v)
        while (j < off(v + 1)) { if (mark(adj(j)) == u) count += 1; j += 1 }
        k += 1
      }
      u += 1
    }
    count
  }
}
