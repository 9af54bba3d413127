package graft.sim

import graft.core.BitVector
import graft.solve.Candidate

/** S6: Simple Matching Coefficient scorer
  * (`/root/reference/anonlink/similarities/_smc.py:89-123`):
  * `smc = 1 − hamming/bits` via XOR popcount.
  *
  * Top-k semantics differ from Dice: a pair is kept iff it is in the
  * top-k of **both** sides (`pair_counter == 2`, `_smc.py:61-66`),
  * with ties broken by `(-sim, rec0, rec1)`. The distributed form is
  * two rank windows over the scored pairs (see
  * [[graft.ops.Smc.bothSidesTopK]]); this kernel only scores
  * pairs ≥ threshold.
  */
object SmcKernel {

  /** Score all pairs with smc >= threshold in one cell of packed sides
    * (the SMC kernel of [[graft.Linkage.scoreCells]]). Prefilter:
    * xor >= |p0-p1|, so smc <= 1 - |p0-p1|/bits — skip when that bound
    * is below the threshold. */
  def blockSmc(
      a: DiceKernel.Packed,
      b: DiceKernel.Packed,
      threshold: Double,
      bits: Int,
      dset0: Int,
      dset1: Int): Iterator[Candidate] = {
    if (a.n == 0 || b.n == 0) return Iterator.empty
    require(a.width == b.width, s"inconsistent CLK width: ${a.width} vs ${b.width} words")
    val width = a.width
    val w16 = width == 16
    val out = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    val left = new Array[Long](width)
    val bflat = b.flat
    val bpops = b.pops
    // max hamming distance allowed (conservative by 1e-9)
    val maxXor = math.floor((1.0 - threshold) * bits + 1e-9).toInt
    var tile = 0
    while (tile < b.n) {
      val tileEnd = math.min(b.n, tile + DiceKernel.TileRows)
      var i = 0
      while (i < a.n) {
        val p0 = a.pops(i)
        if (w16) {
          val base = i << 4
          val l0 = a.flat(base); val l1 = a.flat(base + 1); val l2 = a.flat(base + 2); val l3 = a.flat(base + 3)
          val l4 = a.flat(base + 4); val l5 = a.flat(base + 5); val l6 = a.flat(base + 6); val l7 = a.flat(base + 7)
          val l8 = a.flat(base + 8); val l9 = a.flat(base + 9); val l10 = a.flat(base + 10); val l11 = a.flat(base + 11)
          val l12 = a.flat(base + 12); val l13 = a.flat(base + 13); val l14 = a.flat(base + 14); val l15 = a.flat(base + 15)
          var j = tile
          while (j < tileEnd) {
            if (math.abs(p0 - bpops(j)) <= maxXor) {
              val o = j << 4
              val xor =
                java.lang.Long.bitCount(l0 ^ bflat(o)) +
                java.lang.Long.bitCount(l1 ^ bflat(o + 1)) +
                java.lang.Long.bitCount(l2 ^ bflat(o + 2)) +
                java.lang.Long.bitCount(l3 ^ bflat(o + 3)) +
                java.lang.Long.bitCount(l4 ^ bflat(o + 4)) +
                java.lang.Long.bitCount(l5 ^ bflat(o + 5)) +
                java.lang.Long.bitCount(l6 ^ bflat(o + 6)) +
                java.lang.Long.bitCount(l7 ^ bflat(o + 7)) +
                java.lang.Long.bitCount(l8 ^ bflat(o + 8)) +
                java.lang.Long.bitCount(l9 ^ bflat(o + 9)) +
                java.lang.Long.bitCount(l10 ^ bflat(o + 10)) +
                java.lang.Long.bitCount(l11 ^ bflat(o + 11)) +
                java.lang.Long.bitCount(l12 ^ bflat(o + 12)) +
                java.lang.Long.bitCount(l13 ^ bflat(o + 13)) +
                java.lang.Long.bitCount(l14 ^ bflat(o + 14)) +
                java.lang.Long.bitCount(l15 ^ bflat(o + 15))
              if (xor <= maxXor) {
                val sim = 1.0 - xor.toDouble / bits
                if (sim >= threshold)
                  out += Candidate(sim, dset0, dset1, a.recIds(i), b.recIds(j))
              }
            }
            j += 1
          }
        } else {
          System.arraycopy(a.flat, i * width, left, 0, width)
          var j = tile
          while (j < tileEnd) {
            // popcount prefilter: xor >= |p0 - p1|
            if (math.abs(p0 - bpops(j)) <= maxXor) {
              val xor = BitVector.xorPopcountFlat(left, bflat, j * width, width)
              if (xor <= maxXor) {
                val sim = 1.0 - xor.toDouble / bits
                if (sim >= threshold)
                  out += Candidate(sim, dset0, dset1, a.recIds(i), b.recIds(j))
              }
            }
            j += 1
          }
        }
        i += 1
      }
      tile = tileEnd
    }
    out.iterator
  }

  /** Naive oracle for differential tests. */
  def naiveSmc(
      aRows: Seq[(Long, Array[Long])],
      bRows: Seq[(Long, Array[Long])],
      threshold: Double,
      bits: Int,
      dset0: Int = 0,
      dset1: Int = 1): Seq[Candidate] =
    for {
      (r0, ca) <- aRows.sortBy(_._1)
      (r1, cb) <- bRows.sortBy(_._1)
      sim = BitVector.smc(ca, cb, bits)
      if sim >= threshold
    } yield Candidate(sim, dset0, dset1, r0, r1)
}
