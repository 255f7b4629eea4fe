package graft.rng

/** Scala replication of the exact RNG stream the reference's seeded LPA
  * consumes (raphtory/src/algorithms/community_detection/label_propagation.rs:34-41
  * uses rand 0.8.5 `StdRng::from_seed` + `SliceRandom::shuffle`; Cargo.lock
  * pins rand_chacha 0.3.1, so StdRng = ChaCha12).
  *
  * Everything here is public knowledge: D. J. Bernstein's ChaCha stream
  * cipher (chacha/20080128) and the published rand-crate sampling
  * algorithms (Lemire-style widening-multiply rejection, Fisher–Yates from
  * the top). No reference code is used.
  */
object Rand08 {

  /** ChaCha keystream as sequential u32 words: state = constants ‖ key ‖
    * counter(64) ‖ nonce(64), `rounds` rounds, output = working + state,
    * blocks in counter order, words little-endian. */
  final class ChaChaWords(key: Array[Byte], rounds: Int) {
    require(key.length == 32)
    private val k = new Array[Int](8)
    for (i <- 0 until 8)
      k(i) = (key(4 * i) & 0xff) | ((key(4 * i + 1) & 0xff) << 8) |
        ((key(4 * i + 2) & 0xff) << 16) | ((key(4 * i + 3) & 0xff) << 24)
    private var counter = 0L
    private val buf = new Array[Int](16)
    private var pos = 16

    private def qr(x: Array[Int], a: Int, b: Int, c: Int, d: Int): Unit = {
      x(a) += x(b); x(d) = Integer.rotateLeft(x(d) ^ x(a), 16)
      x(c) += x(d); x(b) = Integer.rotateLeft(x(b) ^ x(c), 12)
      x(a) += x(b); x(d) = Integer.rotateLeft(x(d) ^ x(a), 8)
      x(c) += x(d); x(b) = Integer.rotateLeft(x(b) ^ x(c), 7)
    }

    private def refill(): Unit = {
      val s = new Array[Int](16)
      s(0) = 0x61707865; s(1) = 0x3320646e; s(2) = 0x79622d32; s(3) = 0x6b206574
      System.arraycopy(k, 0, s, 4, 8)
      s(12) = counter.toInt
      s(13) = (counter >>> 32).toInt
      s(14) = 0; s(15) = 0
      val x = s.clone()
      var r = 0
      while (r < rounds / 2) {
        qr(x, 0, 4, 8, 12); qr(x, 1, 5, 9, 13); qr(x, 2, 6, 10, 14); qr(x, 3, 7, 11, 15)
        qr(x, 0, 5, 10, 15); qr(x, 1, 6, 11, 12); qr(x, 2, 7, 8, 13); qr(x, 3, 4, 9, 14)
        r += 1
      }
      var i = 0
      while (i < 16) { buf(i) = x(i) + s(i); i += 1 }
      counter += 1
      pos = 0
    }

    def nextU32(): Int = {
      if (pos >= 16) refill()
      val v = buf(pos); pos += 1; v
    }
  }

  /** StdRng (rand 0.8.5) over a 32-byte seed: ChaCha12 keystream. */
  final class StdRng(seed: Array[Byte]) {
    private val ks = new ChaChaWords(seed, 12)
    def nextU32(): Int = ks.nextU32()

    /** `gen_range(0..ubound)` for u32 bounds — rand 0.8.5
      * UniformInt::sample_single: zone = (range << clz(range)) − 1; draw
      * u32, widening-multiply, reject while lo > zone. */
    private[rng] def genIndexU32(ubound: Int): Int = {
      require(ubound > 0)
      val range = ubound.toLong & 0xffffffffL
      val zone = ((range << java.lang.Long.numberOfLeadingZeros(range) - 32) - 1) & 0xffffffffL
      while (true) {
        val v = nextU32().toLong & 0xffffffffL
        val m = v * range
        val lo = m & 0xffffffffL
        if (lo <= zone) return (m >>> 32).toInt
      }
      0 // unreachable
    }
  }

  /** rand 0.8.5 `SliceRandom::shuffle`: Fisher–Yates from the top;
    * usize bounds ≤ 2^32 take the u32 sampling path. */
  def shuffle[T](xs: Array[T], rng: StdRng): Unit = {
    var i = xs.length - 1
    while (i >= 1) {
      val j = rng.genIndexU32(i + 1)
      val tmp = xs(i); xs(i) = xs(j); xs(j) = tmp
      i -= 1
    }
  }
}
