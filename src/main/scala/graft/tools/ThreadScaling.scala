package graft.tools

/** Pure-kernel thread-scaling probe (no Spark): T JVM threads each run
  * the packed Dice kernel over a slice of side A against a shared
  * packed side B. Isolates the MACHINE's parallel-scaling behavior
  * (host frequency scaling + shared-cache/bandwidth contention) from
  * Spark overheads — used to pick the honest N→4N pair for Bench and
  * to document the platform confound in BASELINE.md. */
object ThreadScaling {

  /** One probe series: for each thread count T, T JVM threads each run
    * the packed kernel over an n/T slice of A against all of B;
    * returns (threads, total cmp/s, best-of-`reps` wall). Shared by the
    * CLI main and [[graft.Bench]] (which embeds the series in
    * bench.json so the host-ceiling evidence is self-contained). */
  def probe(n: Int, threadCounts: Seq[Int], reps: Int = 3): Seq[(Int, Double)] = {
    import graft.core.BitVector
    import graft.gen.RandomClks
    import graft.sim.{ClkRow, DiceKernel}
    def rows(seed: Long) = (0 until n).map { i =>
      val w = RandomClks.clkFor(i.toLong, 16, seed)
      ClkRow(i.toLong, BitVector.toBytes(w), BitVector.popcount(w))
    }.toArray
    val a = new DiceKernel.Packed(rows(0xaaL))
    val b = new DiceKernel.Packed(rows(0xbbL))
    // slice a's rows into per-thread Packed views
    def slices(t: Int): Array[DiceKernel.Packed] = {
      val all = rows(0xaaL)
      (0 until t).map { i =>
        val lo = (n.toLong * i / t).toInt; val hi = (n.toLong * (i + 1) / t).toInt
        new DiceKernel.Packed(all.slice(lo, hi))
      }.toArray
    }
    // warmup
    DiceKernel.blockDiceTopKPacked(a, b, 0.7, None, 0, 1).size
    threadCounts.map { t =>
      val sl = slices(t)
      var best = Double.MaxValue
      for (_ <- 1 to reps) {
        val threads = sl.map { s =>
          new Thread(() => { DiceKernel.blockDiceTopKPacked(s, b, 0.7, None, 0, 1).size; () })
        }
        val t0 = System.nanoTime()
        threads.foreach(_.start()); threads.foreach(_.join())
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (t, n.toDouble * n / best)
    }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 20000
    // optional second arg: comma-separated thread counts (a 2-element
    // list is a ~3 s window probe, e.g. "1,8" for the submit-scaling
    // script's dedicated-core gate)
    val counts =
      if (args.length > 1) args(1).split(",").toSeq.map(_.trim.toInt)
      else Seq(1, 2, 4, 8, 16, 32)
    probe(n, counts).foreach { case (t, cps) =>
      println(f"[scal] threads=$t%2d total=${cps / 1e6}%8.1f M cmp/s  per-thread=${cps / t / 1e6}%7.1f M")
    }
  }
}
