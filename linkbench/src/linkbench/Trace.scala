package linkbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** Task metrics summed over every job submitted under one Spark job group. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var sumPeakExecBytes = 0L
  /** Task durations (ms) per stage, for the skew of the heaviest stage. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Slowest ÷ median task of the stage with the most task time: the stage
    * most likely to set the layer's wall time. 1.0 when no stage ran. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ds = stageTaskMs.values.maxBy(_.sum).sorted
      val med = Stats.median(ds.map(_.toDouble).toSeq)
      if (med <= 0.0) ds.last.toDouble max 1.0 else ds.last / med
    }

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    peakExecBytes = peakExecBytes max o.peakExecBytes
    sumPeakExecBytes += o.sumPeakExecBytes
    o.stageTaskMs.foreach { case (s, ds) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ds }
  }
}

/** Sums task metrics per job group. The benchmark sets a job group before
  * each call it measures; the listener maps each job's stages to that group
  * at job start and folds every task end into the group's totals. */
final class GroupListener(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val s = groups.getOrElseUpdate(g, new GroupStats)
        s.jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = groups.getOrElseUpdate(g, new GroupStats)
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      if (e.taskInfo != null)
        s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.peakExecBytes = s.peakExecBytes max m.peakExecutionMemory
        s.sumPeakExecBytes += m.peakExecutionMemory
      }
    }
  }

  /** Totals of `group` once every queued event has been delivered. */
  def stats(group: String): GroupStats = {
    org.apache.spark.graftlistener.drainListenerBus(sc)
    synchronized { groups.getOrElse(group, new GroupStats) }
  }
}

/** One timed call: its layer name, the enclosing span, and the traced run it
  * belongs to. Times are seconds since the benchmark process started. */
final case class Span(id: String, name: String, parent: String, runId: String,
    start: Double, end: Double) {
  def seconds: Double = end - start
}

/** Records spans in memory around calls into the program. Each span runs
  * under its own Spark job group, so the listener attributes task metrics to
  * exactly the span that submitted the jobs. */
final class Tracer(sc: SparkContext, val runId: String, t0Ns: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current: String = ""
  private var next = 0

  private def now: Double = (System.nanoTime() - t0Ns) / 1e9

  def span[T](name: String)(body: => T): T = {
    val id = s"$runId/$next:$name"
    next += 1
    val parent = current
    current = id
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val start = now
    try body
    finally {
      spans += Span(id, name, parent, runId, start, now)
      current = parent
      if (parent.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(parent, parent, interruptOnCancel = false)
    }
  }
}
