package graft.bsp

import scala.reflect.ClassTag
import graft.graph.{CsrGraph, CsrBlock}

/** The gather primitive of the CSR fast path (SURVEY §4.3): one Spark job
  * per call — broadcast the previous dense state, run a per-block kernel
  * over every CSR block, stitch the returned dense segments on the driver.
  * The superstep loops themselves run on bsp.Superstep.loop; semantics
  * are identical to the shuffle-based DataFrame supersteps, only the
  * physical plan differs. */
object CsrSuperstep {

  /** Broadcasts `state`; for each block, `kernel(block, state, segment)`
    * fills `segment` (a `newArray(hi - lo)` covering the block's dst range
    * [lo, hi)) and returns a per-block count (e.g. changed vertices).
    * Returns the stitched `newArray(n)` result and the summed count. The
    * kernel's inner loops run over primitive arrays, unboxed. */
  def gather[S: ClassTag, T <: AnyRef](csr: CsrGraph, state: S, newArray: Int => T)(
      kernel: (CsrBlock, S, T) => Long): (T, Long) = {
    val bc = csr.blocks.sparkContext.broadcast(state)
    val segments = csr.blocks.map { b =>
      val seg = newArray(b.hi - b.lo)
      val count = kernel(b, bc.value, seg)
      (b.lo, b.hi - b.lo, seg, count)
    }.collect()
    bc.destroy()
    val out = newArray(csr.n)
    var total = 0L
    for ((lo, len, seg, count) <- segments) {
      System.arraycopy(seg, 0, out, lo, len)
      total += count
    }
    (out, total)
  }

  /** The sum kernel PageRank and HITS share: out(i) = Σ s(src) over the
    * in-neighbours of vertex lo + i. */
  val sum: (CsrBlock, Array[Double], Array[Double]) => Long = { (b, s, out) =>
    var i = 0
    while (i < out.length) {
      var acc = 0.0
      var k = b.offsets(i)
      val end = b.offsets(i + 1)
      while (k < end) { acc += s(b.srcs(k)); k += 1 }
      out(i) = acc
      i += 1
    }
    0L
  }
}
