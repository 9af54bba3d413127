package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Optimization-round measurement harness (guide §1) — SEPARATE from the
  * frozen graft.Bench: per-query wall seconds PLUS Spark job/stage/task
  * counts and shuffle bytes written (host-noise-free plan-shape
  * signals) and optional `.explain("formatted")` dumps.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     local[N] cores (default 32)
  *   GRAFT_BENCH_QUERIES  comma-separated query-name filter (default all)
  *   GRAFT_BENCH_REPS     samples per query; min, median and max
  *                        reported, counts from the min (default 1)
  *   GRAFT_BENCH_PLANS    when set, a dir to write <query>.txt formatted
  *                        plans of the RETURNED frame (eager operators
  *                        return their cached result — the interesting
  *                        interior plans are dumped by the operators'
  *                        own explain paths instead)
  */
object BenchExtra {

  private final class Counts extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(t.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      ()
    }
  }

  private def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Single-thread Dice-kernel host canary (same construction as
    * graft.Bench's): ~0.25 s on a healthy window, rate in M cmp/s.
    * Printed next to each sample so a degraded shared-host window is
    * distinguishable from a slow plan. */
  private lazy val canaryInputs = {
    import graft.core.BitVector
    import graft.gen.RandomClks
    import graft.sim.{ClkRow, DiceKernel}
    def rows(n: Int, seed: Long) = (0 until n).map { i =>
      val w = RandomClks.clkFor(i.toLong, 16, seed)
      ClkRow(0L, BitVector.toBytes(w), BitVector.popcount(w))
    }.toArray
    val r = (rows(6000, 0xccL), rows(6000, 0xddL))
    graft.sim.DiceKernel.blockDiceTopK(r._1.take(1000), r._2.take(1000), 0.7, None, 0, 1).size
    r
  }

  private def hostCanaryMcps(): Double = {
    val (a, b) = canaryInputs
    val t0 = System.nanoTime()
    graft.sim.DiceKernel.blockDiceTopK(a, b, 0.7, None, 0, 1).size
    a.length.toDouble * b.length / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = math.max(1, sys.env.getOrElse("GRAFT_BENCH_REPS", "1").toInt)
    val planDir = sys.env.get("GRAFT_BENCH_PLANS")
    val filter = sys.env.get("GRAFT_BENCH_QUERIES").map(_.split(",").map(_.trim).toSet)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", math.max(cpus * 2, 8))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // neutral warmup (same shape as Bench.warmup)
    try {
      import org.apache.spark.sql.expressions.Window
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "lang").limit(4000).cache()
      d.count()
      d.groupBy("lang").count().count()
      d.withColumn("rn", row_number().over(Window.partitionBy("lang").orderBy("doc_id")))
        .where(col("rn") <= 3)
        .join(d.select(col("doc_id").as("k")), col("doc_id") === col("k")).count()
      d.unpersist()
      ()
    } catch { case e: Throwable => System.err.println(s"[bench-extra] warmup skipped: $e") }
    reset(spark)

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.contains(n)) }
    val results = qs.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      var best = Double.MaxValue
      var bestJobs = 0; var bestStages = 0; var bestTasks = 0; var bestShuffleMb = 0.0
      var bestCanary = 0.0
      val secs = (1 to reps).map { _ =>
        reset(spark)
        val canary = hostCanaryMcps()
        val c = new Counts
        spark.sparkContext.addSparkListener(c)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"[bench-extra] $name FAILED: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        // drain listener events so counts are complete
        org.apache.spark.graftlistener.drainListenerBus(spark.sparkContext, 30000L)
        spark.sparkContext.removeSparkListener(c)
        if (sec < best) {
          best = sec; bestJobs = c.jobs.get; bestStages = c.stages.get
          bestTasks = c.tasks.get; bestShuffleMb = c.shuffleBytes.get / 1e6; bestCanary = canary
        }
        sec
      }.sorted
      val median = (secs((reps - 1) / 2) + secs(reps / 2)) / 2
      planDir.foreach { pd =>
        try {
          reset(spark)
          val df = fn(spark, sfDir)
          val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pd))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(pd, s"$name.txt"), p)
        } catch { case e: Throwable => System.err.println(s"[bench-extra] plan $name failed: $e") }
      }
      println(f"$name%-26s ${best}%8.2f s  med=$median%.2f max=${secs.last}%.2f  " +
        f"jobs=$bestJobs%-4d stages=$bestStages%-4d " +
        f"tasks=$bestTasks%-6d shuffle=$bestShuffleMb%.2fMB canary=$bestCanary%.0f")
      (name, best, bestJobs, bestStages, bestTasks, bestShuffleMb)
    }
    spark.sparkContext.setJobDescription(null)
    val total = results.map(_._2).sum
    println(f"TOTAL ${total}%.2f s over ${results.size} queries; " +
      s"jobs=${results.map(_._3).sum} stages=${results.map(_._4).sum} tasks=${results.map(_._5).sum} " +
      f"shuffle=${results.map(_._6).sum}%.2fMB")
    spark.stop()
  }
}
