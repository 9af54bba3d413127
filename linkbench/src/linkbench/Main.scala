package linkbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.BitVector
import graft.gen.RandomClks
import graft.sim.{ClkRow, DiceKernel}
import java.io.File
import scala.collection.mutable

/** Linkage benchmark driver:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir> [--size full|tiny]
  * }}}
  *
  * One process, `local[N]` with N = available processors, a fixed 8 shuffle
  * partitions, one client in a closed loop. Set-up generates the inputs from
  * the seed (three times, the median counts) and makes the first, cold run.
  * Untimed runs then let the JIT settle for `seconds`, and the timed loop
  * runs the workload through its public entry point for another `seconds`,
  * with a host canary before and the output checks after every run.
  * `--trace 1` adds one traced run that re-composes the job from each layer's
  * public call and prints the per-layer metrics instead of the end-to-end
  * ones. The last stdout line is the JSON result.
  */
object Main {

  private val t0Ns = System.nanoTime()
  private def since(ns: Long): Double = (System.nanoTime() - ns) / 1e9

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU seconds of the calling (driver) thread. */
  private def driverCpuSec: Double = threads.getCurrentThreadCpuTime / 1e9

  val shufflePartitions = 8

  /** End-to-end metrics (`--trace 0`): name → unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "records_per_s" -> "1/s", "cpu_s" -> "s",
    "shuffle_mb" -> "MB", "exec_mem_mb" -> "MB", "pair_precision" -> "ratio",
    "pair_recall" -> "ratio", "pair_f1" -> "ratio", "ok_ops" -> "ratio")

  val layers: Seq[String] =
    Seq("io.read", "encode", "block", "sim", "cand", "solve", "io.write", "ops.dedup")

  private val layerMetrics: Seq[(String, String)] = Seq(
    "s" -> "s", "cpu_s" -> "s", "rows_out" -> "count", "shuffle_mb" -> "MB",
    "fetch_wait_s" -> "s", "spill_mb" -> "MB", "peak_exec_mb" -> "MB", "task_skew" -> "ratio",
    "jobs" -> "count", "tasks" -> "count", "failed_tasks" -> "count")

  /** Layer-specific per-layer metrics: name → unit. */
  val layerCounts: Seq[(String, String)] = Seq(
    "encode.band_keys" -> "count",
    "block.rows_exploded" -> "count", "block.active_keys" -> "count", "block.hot_keys" -> "count",
    "block.cells" -> "count", "block.max_cell_cmp" -> "count", "block.replication" -> "ratio",
    "sim.comparisons" -> "count", "sim.comparisons_reported" -> "count",
    "sim.cmp_per_cpu_s" -> "1/s", "sim.pairs_raw" -> "count", "sim.hit_ratio" -> "ratio",
    "cand.pairs_distinct" -> "count", "cand.redundancy" -> "ratio", "cand.topk_keep" -> "ratio",
    "solve.clusters" -> "count", "solve.clustered_records" -> "count",
    "host.canary_mcps" -> "Mcmp/s", "trace.overhead_s" -> "s")

  /** Per-layer metrics (`--trace 1`): name → unit. */
  val perLayer: Seq[(String, String)] =
    (for (l <- layers; (m, u) <- layerMetrics) yield s"$l.$m" -> u) ++ layerCounts

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: String, size: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("root"), m.getOrElse("size", "full"))
    require(a.seconds > 0, "--seconds must be positive")
    require(Set("full", "tiny")(a.size), "--size must be full or tiny")
    a
  }

  /** Single-thread Dice kernel pass built like the frozen Bench's host canary
    * (4000 × 4000 random 1024-bit CLKs, t = 0.7, no k): it flags windows in
    * which the host itself is slow. Returns million comparisons per second. */
  private lazy val canaryInputs: (Array[ClkRow], Array[ClkRow]) = {
    def rows(n: Int, seed: Long) = Array.tabulate(n) { i =>
      val w = RandomClks.clkFor(i.toLong, 16, seed)
      ClkRow(0L, BitVector.toBytes(w), BitVector.popcount(w))
    }
    val r = (rows(4000, 0xccL), rows(4000, 0xddL))
    DiceKernel.blockDiceTopK(r._1.take(1000), r._2.take(1000), 0.7, None, 0, 1).size
    r
  }

  def canaryMcps(): Double = {
    val (a, b) = canaryInputs
    val t = System.nanoTime()
    DiceKernel.blockDiceTopK(a, b, 0.7, None, 0, 1).size
    a.length.toDouble * b.length / since(t) / 1e6
  }

  private def session(root: String): SparkSession = {
    val scratch = new File(root, ".bench_build/linkbench").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("linkbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def log(msg: String): Unit = System.err.println(f"[linkbench ${since(t0Ns)}%6.1f] $msg")

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException => log(e.getMessage); sys.exit(2)
    }
    val wl = Workloads(a.workload, a.size)
    val work = new File(a.root,
      s".bench_build/linkbench/work/${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    deleteTree(work)
    work.mkdirs()
    val spark = session(a.root)
    val code = try { new Session(spark, wl, a, work).bench(); 0 }
    catch { case e: Throwable => log(s"benchmark failed: $e"); e.printStackTrace(); 1 }
    finally { spark.stop(); deleteTree(work) }
    sys.exit(code)
  }

  private final case class Sample(runS: Double, cpuS: Double, shuffleMb: Double, execMemMb: Double,
      gcS: Double, jobs: Int, tasks: Int, driverS: Double)

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcSec: Double = {
    var ms = 0L
    gcBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }

  /** One benchmark process: set-up, the timed loop, the optional traced run,
    * and the run accounting the result line reports. */
  private final class Session(spark: SparkSession, wl: Workload, a: Args, work: File) {
    private val sessionS = since(t0Ns)
    private val sc = spark.sparkContext
    private val listener = new GroupListener(sc)
    sc.addSparkListener(listener)
    private val in = new File(work, "in").getAbsolutePath

    private var runNo = 0
    private var attempted = 0
    private var failed = 0
    private var reference: Option[Long] = None
    private var quality: Quality = null
    private val reported = mutable.ArrayBuffer.empty[Long]
    private lazy val checks = new Checks(
      spark.read.parquet(s"$in/truth").select("dsetId", "recId", "entityId").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap)

    /** Checks one result against the invariants and the first result's
      * digest; counts a failure and returns false when any check fails. */
    private def check(label: String, result: DataFrame): Boolean = {
      val rows = checks.collect(result)
      val d = checks.digest(rows)
      val broken = checks.invariants(rows) ++
        reference.filter(_ != d).map(r => f"digest $d%016x differs from $r%016x")
      if (broken.nonEmpty) {
        log(s"$label FAILED: ${broken.mkString("; ")}")
        failed += 1
        false
      } else {
        if (reference.isEmpty) {
          reference = Some(d)
          quality = checks.quality(rows)
        }
        true
      }
    }

    /** One untraced run in its own job group, checked; None when it failed. */
    private def untraced(): Option[Sample] = {
      runNo += 1
      attempted += 1
      val group = s"run-$runNo"
      val out = new File(work, s"out-$runNo").getAbsolutePath
      val ckpt = new File(work, s"ckpt-$runNo").getAbsolutePath
      try {
        sc.setJobGroup(group, group, interruptOnCancel = false)
        val c0 = driverCpuSec
        val gc0 = gcSec
        val t = System.nanoTime()
        val r = try wl.run(spark, in, out, ckpt) finally sc.clearJobGroup()
        val runS = since(t)
        val driverS = driverCpuSec - c0
        val gcS = gcSec - gc0
        r.summaryComparisons.foreach(reported += _)
        val ok = try check(group, r.result) finally r.release()
        val g = listener.stats(group)
        val cpuS = driverS + g.cpuNs / 1e9
        if (ok) Some(Sample(runS, cpuS, g.shuffleWriteBytes / 1e6, g.sumPeakExecBytes / 1e6,
          gcS, g.jobs, g.tasks, driverS)) else None
      } catch {
        case e: Exception =>
          log(s"$group threw: $e")
          failed += 1
          None
      } finally {
        deleteTree(new File(out)); deleteTree(new File(ckpt))
      }
    }

    def bench(): Unit = {
      // ---- set-up: input synthesis (median of three) and the first run
      val synth = (1 to 3).map { _ =>
        val t = System.nanoTime(); wl.generate(spark, in, a.seed); since(t)
      }
      val synthS = Stats.median(synth)
      val coldT = System.nanoTime()
      untraced()
      val setupS = sessionS + synthS + since(coldT)
      // the JIT keeps speeding runs up for several more runs: settle for as
      // long as the timed window lasts before measuring
      val settleT = System.nanoTime()
      var settle = 0
      while (since(settleT) < a.seconds) { untraced(); settle += 1 }
      log(f"set-up $setupS%.3f s (session $sessionS%.3f s, synthesis " +
        synth.map(x => f"$x%.3f").mkString(" ") + f" s, median $synthS%.3f s; first run), " +
        s"then $settle settling runs")

      // ---- timed closed loop: canary, run, checks, until the window closes
      val samples = mutable.ArrayBuffer.empty[Sample]
      val canaries = mutable.ArrayBuffer.empty[Double]
      val loopT = System.nanoTime()
      var timed = 0
      while (timed == 0 || since(loopT) < a.seconds) {
        canaries += canaryMcps()
        untraced().foreach { smp =>
          samples += smp
          log(f"run $runNo: ${smp.runS}%.3f s, cpu ${smp.cpuS}%.2f s (driver ${smp.driverS}%.2f), gc ${smp.gcS}%.2f s, " +
            f"shuffle ${smp.shuffleMb}%.2f MB, ${smp.jobs} jobs, ${smp.tasks} tasks, " +
            f"canary ${canaries.last}%.1f Mcmp/s")
        }
        timed += 1
      }
      if (samples.isEmpty) throw new IllegalStateException("no run succeeded")
      val runS = Stats.median(samples.map(_.runS).toSeq)
      // a tail percentile needs ten samples beyond it; below 20 samples
      // that is the median itself
      log(s"${samples.length} of $timed timed runs passed their checks")

      val metrics: Seq[(String, String, Double)] =
        if (!a.trace) {
          def med(f: Sample => Double) = Stats.median(samples.map(f).toSeq)
          val values = Map(
            "setup_s" -> setupS, "run_s" -> runS, "records_per_s" -> wl.records / runS,
            "cpu_s" -> med(_.cpuS), "shuffle_mb" -> med(_.shuffleMb),
            "exec_mem_mb" -> med(_.execMemMb), "pair_precision" -> quality.precision,
            "pair_recall" -> quality.recall, "pair_f1" -> quality.f1,
            "ok_ops" -> (attempted - failed).toDouble / attempted)
          endToEnd.map { case (n, u) => (n, u, values(n)) }
        } else {
          val values = tracedRun(runS, canaries.toSeq)
          perLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
        }

      val body = metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${body.mkString(", ")}}}""")
    }

    /** The traced run: one span per layer call under a root span, task
      * metrics per span from the job-group listener, and the layer counts
      * measured after the root span closes. Writes the spans as JSON lines. */
    private def tracedRun(runS: Double, canaries: Seq[Double]): Map[String, Double] = {
      val runId = s"${wl.name}-seed${a.seed}-traced"
      val tracer = new Tracer(sc, runId, t0Ns)
      val calls = new TracedCalls(tracer)
      val out = new File(work, "out-traced").getAbsolutePath
      val ckpt = new File(work, "ckpt-traced").getAbsolutePath
      attempted += 1
      val r = tracer.span("run")(wl.traced(spark, in, out, ckpt, calls))
      val counts = r.counts()
      check("traced run", r.result)
      calls.release()

      val values = mutable.LinkedHashMap.empty[String, Double]
      for (l <- layers) {
        val ss = tracer.spans.filter(_.name == l)
        val g = new GroupStats
        ss.foreach(s => g.add(listener.stats(s.id)))
        val sec = ss.map(_.seconds).sum
        val rows = r.rowsOut.getOrElse(l, 0L)
        values ++= Seq(
          s"$l.s" -> sec, s"$l.cpu_s" -> g.cpuNs / 1e9, s"$l.rows_out" -> rows.toDouble,
          s"$l.shuffle_mb" -> g.shuffleWriteBytes / 1e6, s"$l.fetch_wait_s" -> g.fetchWaitMs / 1e3,
          s"$l.spill_mb" -> g.spillBytes / 1e6, s"$l.peak_exec_mb" -> g.peakExecBytes / 1e6,
          s"$l.task_skew" -> (if (ss.isEmpty) 0.0 else g.taskSkew), s"$l.jobs" -> g.jobs.toDouble,
          s"$l.tasks" -> g.tasks.toDouble, s"$l.failed_tasks" -> g.failedTasks.toDouble)
        if (ss.nonEmpty) log(f"trace $l%-9s $sec%7.3f s  cpu ${g.cpuNs / 1e9}%7.3f s  " +
          f"rows $rows%9d  shuffle ${g.shuffleWriteBytes / 1e6}%7.2f MB  " +
          f"skew ${g.taskSkew}%5.2f  jobs ${g.jobs}%3d  tasks ${g.tasks}%5d")
      }
      values ++= counts
      val cmp = counts.getOrElse("sim.comparisons", 0.0)
      if (values("sim.cpu_s") > 0) values("sim.cmp_per_cpu_s") = cmp / values("sim.cpu_s")
      if (reported.nonEmpty) {
        val rep = Stats.median(reported.map(_.toDouble).toSeq)
        values("sim.comparisons_reported") = rep
        if (reported.exists(_ != cmp)) log(f"comparisons DISAGREE: $cmp%.0f counted from the " +
          s"blocked rows, the program reported ${reported.distinct.mkString(", ")}")
      }
      values("host.canary_mcps") = Stats.median(canaries)
      val root = tracer.spans.find(_.name == "run").get
      values("trace.overhead_s") = root.seconds - runS
      log(f"traced total ${root.seconds}%.3f s, untraced median $runS%.3f s")

      val spansDir = new File(a.root, ".bench_build/linkbench/spans")
      spansDir.mkdirs()
      val w = new java.io.PrintWriter(new File(spansDir, s"$runId.jsonl"), "UTF-8")
      try tracer.spans.foreach { s =>
        val g = listener.stats(s.id)
        w.println(s"""{"run_id": "${s.runId}", "span_id": "${s.id}", "parent": "${s.parent}", """ +
          s""""name": "${s.name}", "start_s": ${s.start}, "end_s": ${s.end}, "jobs": ${g.jobs}, """ +
          s""""tasks": ${g.tasks}, "cpu_s": ${g.cpuNs / 1e9}, "shuffle_bytes": ${g.shuffleWriteBytes}}""")
      } finally w.close()
      deleteTree(new File(out)); deleteTree(new File(ckpt))
      values.toMap
    }
  }
}
