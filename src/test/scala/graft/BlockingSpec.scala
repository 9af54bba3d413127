package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.block.{BitBandParams, Blocking, MinhashParams}
import graft.core.BitVector

/** Blocking properties transcribed from
  * `/root/reference/tests/test_blocking.py` (continuous guarantees
  * :206-212, bit-blocking :161-169, combinators vs brute force :32-38).
  */
class BlockingSpec extends AnyFunSuite {

  test("continuous: within radius => share a bucket; beyond 2*radius => never") {
    val rnd = new scala.util.Random(21)
    val r = 5.0
    for (_ <- 1 to 2000) {
      val x = rnd.nextDouble() * 1000 - 500
      val close = x + (rnd.nextDouble() * 2 - 1) * r
      val far = x + (if (rnd.nextBoolean()) 1 else -1) * (2 * r + 0.001 + rnd.nextDouble() * 100)
      val kx = Blocking.continuousKeys(x, r)
      val kc = Blocking.continuousKeys(close, r)
      val kf = Blocking.continuousKeys(far, r)
      def share(a: (Long, Long), b: (Long, Long)) =
        a._1 == b._1 || a._2 == b._2
      assert(share(kx, kc), s"x=$x close=$close should share")
      assert(!share(kx, kf), s"x=$x far=$far must not share")
    }
    intercept[IllegalArgumentException](Blocking.continuousKeys(1.0, 0.0))
  }

  test("bit-band: identical CLKs share every table; complement shares none") {
    val p = BitBandParams(g = 16, r = 8)
    val rnd = new scala.util.Random(9)
    for (_ <- 1 to 50) {
      val clk = Array.fill(16)(rnd.nextLong())
      val same = Blocking.bitBandKeys(clk, p)
      assert(same.toSeq == Blocking.bitBandKeys(clk.clone(), p).toSeq)
      assert(same.length == p.g)
      // table disambiguation: key mod g recovers the table index
      same.zipWithIndex.foreach { case (k, t) =>
        assert(java.lang.Math.floorMod(k, p.g.toLong) == t)
      }
      val complement = clk.map(~_)
      val diff = Blocking.bitBandKeys(complement, p)
      assert(same.intersect(diff).isEmpty, "complement cannot share any band")
    }
  }

  test("bit-band: single-bit flips rarely unshare all tables") {
    val p = BitBandParams() // g=48, r=12 defaults
    val rnd = new scala.util.Random(10)
    var shared = 0
    val trials = 100
    for (_ <- 1 to trials) {
      val clk = Array.fill(16)(rnd.nextLong())
      val flipped = clk.clone()
      val bit = rnd.nextInt(1024)
      flipped(bit >>> 6) ^= 1L << (bit & 63)
      if (Blocking.bitBandKeys(clk, p).intersect(Blocking.bitBandKeys(flipped, p)).nonEmpty)
        shared += 1
    }
    assert(shared >= 95, s"1-bit flips should almost always keep a shared band ($shared/$trials)")
  }

  test("and/or combinators match set semantics (ref :32-38)") {
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 500) {
      def keys() = Array.fill(1 + rnd.nextInt(3))(rnd.nextInt(5).toLong)
      val (a1, a2) = (keys(), keys()) // record A's keys under f1, f2
      val (b1, b2) = (keys(), keys()) // record B's keys
      val shareF1 = a1.intersect(b1).nonEmpty
      val shareF2 = a2.intersect(b2).nonEmpty
      val andShared = Blocking.andKeys(a1, a2).intersect(Blocking.andKeys(b1, b2)).nonEmpty
      val orShared = Blocking.orKeys(a1, a2).intersect(Blocking.orKeys(b1, b2)).nonEmpty
      assert(andShared == (shareF1 && shareF2), "AND = conjunction")
      assert(orShared == (shareF1 || shareF2), "OR = disjunction")
    }
  }

  test("minhash band keys: deterministic; equal gram sets => equal keys") {
    val p = MinhashParams()
    val grams = Array.fill(50)(scala.util.Random.nextLong())
    val k1 = Blocking.minhashBandKeys(grams, p)
    val k2 = Blocking.minhashBandKeys(grams.reverse, p) // set semantics: order-free
    assert(k1.toSeq == k2.toSeq)
    assert(k1.length == p.bands)
    assert(Blocking.minhashBandKeys(Array.empty, p).isEmpty)
  }
}
