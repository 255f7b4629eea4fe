package graft.algo.motifs

/** Sliding-window delta-temporal motif counters after Paranjape, Benson &
  * Leskovec, "Motifs in Temporal Networks" (WSDM 2017) §3.2–3.4.
  *
  * DERIVATION NOTE: the reference engine implements the same published
  * counting scheme (raphtory/src/algorithms/motifs/three_node_motifs.rs);
  * the update algebra below necessarily mirrors it because the paper's exact
  * O(events) recurrences and the reference's 40-slot output layout are the
  * spec both engines share. The decomposition here is our own: a common
  * two-pointer `DeltaSweep` drives all window motion, and each counter
  * only implements the paper's count-update hooks.
  *
  * Index conventions (paper Fig. 4 / reference layout doc
  * python/packages/algorithms.rs:405-449): directions IN = 0, OUT = 1;
  * flat indices pair(d1,d2) = 2·d1+d2 and triple(d1,d2,d3) = 4·d1+2·d2+d3.
  */
object Counters {

  final val IN = 0
  final val OUT = 1
  @inline def pair(d1: Int, d2: Int): Int = 2 * d1 + d2
  @inline def triple(d1: Int, d2: Int, d3: Int): Int = 4 * d1 + 2 * d2 + d3

  /** ts + delta, saturating at Long.MaxValue: a caller passing
    * delta ≈ Long.MaxValue to mean "unbounded window" must not wrap the
    * window comparisons negative (delta ≥ 0 by contract). */
  @inline def satAdd(ts: Long, delta: Long): Long =
    if (ts > 0 && delta > Long.MaxValue - ts) Long.MaxValue else ts + delta

  /** The paper's delta-window event sweep: for each current event j, the
    * pre-window holds earlier events with t ≥ t_j − delta, the post-window
    * later events with t ≤ t_j + delta (event order is the (ts, seq) sort
    * order, so equal-time events are ordered by sequence). Hooks fire as
    * events cross window boundaries. */
  trait DeltaSweep {
    /** event i leaves the pre-window (too old for current j) */
    protected def expirePre(i: Int): Unit
    /** event i enters the post-window */
    protected def admitPost(i: Int): Unit
    /** event j stops being "future": leaves the post-window to be counted */
    protected def retireFromPost(j: Int): Unit
    /** count the motifs completed by current event j */
    protected def countCurrent(j: Int): Unit
    /** event j becomes "past": enters the pre-window */
    protected def admitPre(j: Int): Unit

    final def sweep(times: Array[Long], delta: Long): Unit = {
      val l = times.length
      var start = 0
      var end = 0
      var j = 0
      while (j < l) {
        while (start < l && satAdd(times(start), delta) < times(j)) { expirePre(start); start += 1 }
        while (end < l && times(end) <= satAdd(times(j), delta)) { admitPost(end); end += 1 }
        retireFromPost(j)
        countCurrent(j)
        admitPre(j)
        j += 1
      }
    }
  }

  /** Two-node (single-pair) motif counter, paper §3.2: counts ordered
    * event triples on one node pair within delta. Events: dirs relative to
    * the counting endpoint. Only a pre-window is needed — the current
    * event always closes the triple. */
  final class PairCounter {
    private val c1 = new Array[Long](2)  // single events in window
    private val c2 = new Array[Long](4)  // ordered pairs in window
    val counts = new Array[Long](8)      // ordered triples (the motifs)

    def run(dirs: Array[Int], times: Array[Long], delta: Long): Unit = {
      var start = 0
      var j = 0
      while (j < dirs.length) {
        while (satAdd(times(start), delta) < times(j)) {
          val d = dirs(start)
          c1(d) -= 1
          c2(pair(d, IN)) -= c1(IN)
          c2(pair(d, OUT)) -= c1(OUT)
          start += 1
        }
        val dir = dirs(j)
        var d1 = 0
        while (d1 < 2) {
          var d2 = 0
          while (d2 < 2) {
            counts(triple(d1, d2, dir)) += c2(pair(d1, d2))
            d2 += 1
          }
          d1 += 1
        }
        c2(pair(IN, dir)) += c1(IN)
        c2(pair(OUT, dir)) += c1(OUT)
        c1(dir) += 1
        j += 1
      }
    }
  }

  /** Star (single-centre) motif counter, paper §3.3: counts triples of
    * events incident to one centre where the two outer events share a
    * neighbour, classified PRE (pair before the odd event), MID
    * (straddling), POST (pair after). Neighbours are pre-indexed 0..n-1.
    *
    * Raw counts include the all-same-neighbour triples; callers subtract
    * the PairCounter totals to get proper 3-node stars (paper eq. 1). */
  final class StarCounter(n: Int, nbs: Array[Int], dirs: Array[Int]) extends DeltaSweep {
    private val preNodes = new Array[Long](2 * n)   // (dir, nb) events in pre-window
    private val postNodes = new Array[Long](2 * n)  // (dir, nb) events in post-window
    private val preSum = new Array[Long](8)   // same-nb ordered pairs, both pre
    private val midSum = new Array[Long](8)   // same-nb pairs straddling current
    private val postSum = new Array[Long](8)  // same-nb ordered pairs, both post
    private val countPre = new Array[Long](8)
    private val countMid = new Array[Long](8)
    private val countPost = new Array[Long](8)

    protected def expirePre(i: Int): Unit = {
      val nb = nbs(i); val d = dirs(i)
      preNodes(d * n + nb) -= 1
      preSum(pair(d, IN)) -= preNodes(IN * n + nb)
      preSum(pair(d, OUT)) -= preNodes(OUT * n + nb)
    }
    protected def admitPost(i: Int): Unit = {
      val nb = nbs(i); val d = dirs(i)
      postSum(pair(IN, d)) += postNodes(IN * n + nb)
      postSum(pair(OUT, d)) += postNodes(OUT * n + nb)
      postNodes(d * n + nb) += 1
    }
    protected def retireFromPost(j: Int): Unit = {
      val nb = nbs(j); val d = dirs(j)
      postNodes(d * n + nb) -= 1
      postSum(pair(d, IN)) -= postNodes(IN * n + nb)
      postSum(pair(d, OUT)) -= postNodes(OUT * n + nb)
    }
    protected def countCurrent(j: Int): Unit = {
      val nb = nbs(j); val dir = dirs(j)
      midSum(pair(IN, dir)) -= preNodes(IN * n + nb)
      midSum(pair(OUT, dir)) -= preNodes(OUT * n + nb)
      var d1 = 0
      while (d1 < 2) {
        var d2 = 0
        while (d2 < 2) {
          countPre(triple(d1, d2, dir)) += preSum(pair(d1, d2))
          countPost(triple(dir, d1, d2)) += postSum(pair(d1, d2))
          countMid(triple(d1, dir, d2)) += midSum(pair(d1, d2))
          d2 += 1
        }
        d1 += 1
      }
      midSum(pair(dir, IN)) += postNodes(IN * n + nb)
      midSum(pair(dir, OUT)) += postNodes(OUT * n + nb)
    }
    protected def admitPre(j: Int): Unit = {
      val nb = nbs(j); val d = dirs(j)
      preSum(pair(IN, d)) += preNodes(IN * n + nb)
      preSum(pair(OUT, d)) += preNodes(OUT * n + nb)
      preNodes(d * n + nb) += 1
    }

    /** 24 raw star counts in reference layout order: PRE ++ MID ++ POST. */
    def counts24: Array[Long] = countPre ++ countMid ++ countPost
  }

  /** Streaming two-node counter: PairCounter's algebra fed event-at-a-time
    * (same (ts, seq) order), holding only the delta window in a ring
    * buffer — O(window) memory instead of the whole pair stream. */
  final class StreamingPairCounter(delta: Long) {
    private val c1 = new Array[Long](2)
    private val c2 = new Array[Long](4)
    val counts = new Array[Long](8)
    private var ringDir = new Array[Int](16)
    private var ringTs = new Array[Long](16)
    private var head = 0
    private var size = 0

    private def grow(): Unit = {
      val nd = new Array[Int](ringDir.length * 2)
      val nt = new Array[Long](ringTs.length * 2)
      var i = 0
      while (i < size) {
        val s = (head + i) % ringDir.length
        nd(i) = ringDir(s); nt(i) = ringTs(s); i += 1
      }
      ringDir = nd; ringTs = nt; head = 0
    }

    def push(dir: Int, ts: Long): Unit = {
      while (size > 0 && satAdd(ringTs(head), delta) < ts) {
        val d = ringDir(head)
        c1(d) -= 1
        c2(pair(d, IN)) -= c1(IN)
        c2(pair(d, OUT)) -= c1(OUT)
        head = (head + 1) % ringDir.length; size -= 1
      }
      var d1 = 0
      while (d1 < 2) {
        var d2 = 0
        while (d2 < 2) {
          counts(triple(d1, d2, dir)) += c2(pair(d1, d2))
          d2 += 1
        }
        d1 += 1
      }
      c2(pair(IN, dir)) += c1(IN)
      c2(pair(OUT, dir)) += c1(OUT)
      c1(dir) += 1
      if (size == ringDir.length) grow()
      val slot = (head + size) % ringDir.length
      ringDir(slot) = dir; ringTs(slot) = ts; size += 1
    }
  }

  /** Streaming star counter: StarCounter's algebra over an event iterator,
    * holding only the ±delta window in a ring buffer and growing the
    * per-neighbour occupancy arrays as neighbours first appear — memory is
    * O(in-window events + distinct neighbours), never O(stream), so a
    * web-hub's 10⁷⁺ incident events stream through one pass instead of
    * materialising as an array in a single task. Neighbour ids arrive raw
    * (Long); the dense index is assigned on first sight, which matches the
    * array-based counter's first-appearance indexing. */
  final class StreamingStarCounter(delta: Long) {
    private val preSum = new Array[Long](8)
    private val midSum = new Array[Long](8)
    private val postSum = new Array[Long](8)
    private val countPre = new Array[Long](8)
    private val countMid = new Array[Long](8)
    private val countPost = new Array[Long](8)

    private val nbIndex = new java.util.HashMap[Long, Int]()
    private var preNodes = new Array[Long](32)  // (nbIdx*2 + dir)
    private var postNodes = new Array[Long](32)

    private def idx(nb: Long): Int = {
      var i = nbIndex.getOrDefault(nb, -1)
      if (i < 0) {
        i = nbIndex.size()
        nbIndex.put(nb, i)
        if (2 * i + 1 >= preNodes.length) {
          preNodes = java.util.Arrays.copyOf(preNodes, preNodes.length * 2)
          postNodes = java.util.Arrays.copyOf(postNodes, postNodes.length * 2)
        }
      }
      i
    }

    // window ring buffer over [start, end) global event positions
    private var ringNb = new Array[Int](64)
    private var ringDir = new Array[Int](64)
    private var ringTs = new Array[Long](64)
    private var head = 0      // slot of global position `start`
    private var size = 0      // end - start
    private var jOff = 0      // j - start (current position within buffer)

    private def grow(): Unit = {
      val n = ringNb.length * 2
      val nn = new Array[Int](n); val nd = new Array[Int](n); val nt = new Array[Long](n)
      var i = 0
      while (i < size) {
        val s = (head + i) % ringNb.length
        nn(i) = ringNb(s); nd(i) = ringDir(s); nt(i) = ringTs(s); i += 1
      }
      ringNb = nn; ringDir = nd; ringTs = nt; head = 0
    }

    private def expirePre(nb: Int, d: Int): Unit = {
      preNodes(2 * nb + d) -= 1
      preSum(pair(d, IN)) -= preNodes(2 * nb + IN)
      preSum(pair(d, OUT)) -= preNodes(2 * nb + OUT)
    }
    private def admitPost(nb: Int, d: Int): Unit = {
      postSum(pair(IN, d)) += postNodes(2 * nb + IN)
      postSum(pair(OUT, d)) += postNodes(2 * nb + OUT)
      postNodes(2 * nb + d) += 1
    }
    private def retireFromPost(nb: Int, d: Int): Unit = {
      postNodes(2 * nb + d) -= 1
      postSum(pair(d, IN)) -= postNodes(2 * nb + IN)
      postSum(pair(d, OUT)) -= postNodes(2 * nb + OUT)
    }
    private def countCurrent(nb: Int, dir: Int): Unit = {
      midSum(pair(IN, dir)) -= preNodes(2 * nb + IN)
      midSum(pair(OUT, dir)) -= preNodes(2 * nb + OUT)
      var d1 = 0
      while (d1 < 2) {
        var d2 = 0
        while (d2 < 2) {
          countPre(triple(d1, d2, dir)) += preSum(pair(d1, d2))
          countPost(triple(dir, d1, d2)) += postSum(pair(d1, d2))
          countMid(triple(d1, dir, d2)) += midSum(pair(d1, d2))
          d2 += 1
        }
        d1 += 1
      }
      midSum(pair(dir, IN)) += postNodes(2 * nb + IN)
      midSum(pair(dir, OUT)) += postNodes(2 * nb + OUT)
    }
    private def admitPre(nb: Int, d: Int): Unit = {
      preSum(pair(IN, d)) += preNodes(2 * nb + IN)
      preSum(pair(OUT, d)) += preNodes(2 * nb + OUT)
      preNodes(2 * nb + d) += 1
    }

    /** Consume the node's full incident event stream in (ts, seq) order:
      * (neighbour, dir, ts). One pass, identical hook order to
      * DeltaSweep.sweep over the equivalent arrays. */
    def run(events: Iterator[(Long, Int, Long)]): Unit = {
      val it = events.buffered
      while (jOff < size || it.hasNext) {
        // the j-th event: already buffered, or the next input (end == j)
        val tsJ =
          if (jOff < size) ringTs((head + jOff) % ringTs.length)
          else it.head._3
        // expire pre-window events older than tsJ - delta (start <= j always)
        while (jOff > 0 && satAdd(ringTs(head), delta) < tsJ) {
          expirePre(ringNb(head), ringDir(head))
          head = (head + 1) % ringNb.length; size -= 1; jOff -= 1
        }
        // admit post-window events with ts <= tsJ + delta (incl. j itself)
        while (it.hasNext && it.head._3 <= satAdd(tsJ, delta)) {
          val (nbRaw, d, t) = it.next()
          val nb = idx(nbRaw)
          admitPost(nb, d)
          if (size == ringNb.length) grow()
          val slot = (head + size) % ringNb.length
          ringNb(slot) = nb; ringDir(slot) = d; ringTs(slot) = t; size += 1
        }
        val js = (head + jOff) % ringNb.length
        val nbJ = ringNb(js); val dirJ = ringDir(js)
        retireFromPost(nbJ, dirJ)
        countCurrent(nbJ, dirJ)
        admitPre(nbJ, dirJ)
        jOff += 1
      }
    }

    /** 24 raw star counts in reference layout order: PRE ++ MID ++ POST. */
    def counts24: Array[Long] = countPre ++ countMid ++ countPost
  }

  /** Triangle motif counter, paper §3.4, for ONE triangle's merged event
    * stream. Events are encoded relative to a designated base pair (u, v)
    * and third node w: `onBase(i)` marks u↔v events; for w events,
    * `wPartner(i)` = 0 if the event links w with u, 1 with v; `dirs(i)` =
    * the reference's direction code (w events: 0 = from w, 1 = into w;
    * base events: 1 = u→v, 0 = v→u). The 8 closed motif classes
    * accumulate in `counts` when a base event completes a triple. */
  final class TriangleCounter(onBase: Array[Boolean], wPartner: Array[Int], dirs: Array[Int])
      extends DeltaSweep {
    private val preNodes = new Array[Long](4)
    private val postNodes = new Array[Long](4)
    private val preSum = new Array[Long](8)
    private val midSum = new Array[Long](8)
    private val postSum = new Array[Long](8)
    val counts = new Array[Long](8)

    protected def expirePre(i: Int): Unit = if (!onBase(i)) {
      val w = wPartner(i); val d = dirs(i)
      preNodes(pair(d, w)) -= 1
      preSum(triple(w, d, IN)) -= preNodes(pair(IN, 1 - w))
      preSum(triple(w, d, OUT)) -= preNodes(pair(OUT, 1 - w))
    }
    protected def admitPost(i: Int): Unit = if (!onBase(i)) {
      val w = wPartner(i); val d = dirs(i)
      postSum(triple(1 - w, IN, d)) += postNodes(pair(IN, 1 - w))
      postSum(triple(1 - w, OUT, d)) += postNodes(pair(OUT, 1 - w))
      postNodes(pair(d, w)) += 1
    }
    protected def retireFromPost(j: Int): Unit = if (!onBase(j)) {
      val w = wPartner(j); val d = dirs(j)
      postNodes(pair(d, w)) -= 1
      postSum(triple(w, d, IN)) -= postNodes(pair(IN, 1 - w))
      postSum(triple(w, d, OUT)) -= postNodes(pair(OUT, 1 - w))
    }
    protected def countCurrent(j: Int): Unit = {
      val w = wPartner(j); val d = dirs(j)
      if (!onBase(j)) {
        midSum(triple(1 - w, IN, d)) -= preNodes(pair(IN, 1 - w))
        midSum(triple(1 - w, OUT, d)) -= preNodes(pair(OUT, 1 - w))
        midSum(triple(w, d, IN)) += postNodes(pair(IN, 1 - w))
        midSum(triple(w, d, OUT)) += postNodes(pair(OUT, 1 - w))
      } else {
        // the 8 closed-triangle classes (reference slot order 32..39)
        counts(0) += midSum(triple(d, 0, 0)) + postSum(triple(d, 0, 1)) + preSum(triple(1 - d, 1, 1))
        counts(4) += midSum(triple(d, 1, 0)) + postSum(triple(1 - d, 0, 1)) + preSum(triple(1 - d, 0, 1))
        counts(2) += midSum(triple(1 - d, 0, 0)) + postSum(triple(d, 1, 1)) + preSum(triple(1 - d, 1, 0))
        counts(6) += midSum(triple(1 - d, 1, 0)) + postSum(triple(1 - d, 1, 1)) + preSum(triple(1 - d, 0, 0))
        counts(1) += midSum(triple(d, 0, 1)) + postSum(triple(d, 0, 0)) + preSum(triple(d, 1, 1))
        counts(5) += midSum(triple(d, 1, 1)) + postSum(triple(1 - d, 0, 0)) + preSum(triple(d, 0, 1))
        counts(3) += midSum(triple(1 - d, 0, 1)) + postSum(triple(d, 1, 0)) + preSum(triple(d, 1, 0))
        counts(7) += midSum(triple(1 - d, 1, 1)) + postSum(triple(1 - d, 1, 0)) + preSum(triple(d, 0, 0))
      }
    }
    protected def admitPre(j: Int): Unit = if (!onBase(j)) {
      val w = wPartner(j); val d = dirs(j)
      preSum(triple(1 - w, IN, d)) += preNodes(pair(IN, 1 - w))
      preSum(triple(1 - w, OUT, d)) += preNodes(pair(OUT, 1 - w))
      preNodes(pair(d, w)) += 1
    }
  }
}
