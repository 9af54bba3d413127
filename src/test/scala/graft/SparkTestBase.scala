package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.solve.{Candidate, Greedy, Rec}

object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Count root SQL executions (= actions) during `body`. AQE re-posts
    * nested executions with a rootExecutionId pointing at the parent;
    * only roots are counted. Shared by the action-count contract specs
    * (OpsSpec, ConnectedComponentsSpec, EvaluationSpec-style). */
  def countRootActions(body: => Unit): Int = {
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.rootExecutionId.forall(_ == s.executionId) =>
            execs.incrementAndGet(); ()
          case _ => ()
        }
    })(body)
    execs.get()
  }

  /** Count Spark jobs started during `body`. Unlike
    * [[countRootActions]] this also sees jobs that run outside a SQL
    * execution, such as a Parquet read's schema inference. */
  def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })(body)
    jobs.get()
  }

  /** Run `body` with `listener` registered, draining the listener bus
    * on both sides so it sees exactly the events of `body`. */
  private def listening(listener: org.apache.spark.scheduler.SparkListener)(body: => Unit): Unit = {
    org.apache.spark.graftlistener.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftlistener.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The sequential greedy solve (the reference's `greedy_solve`) over
    * a candidate-pair frame collected to the driver: the oracle the
    * cluster specs compare distributed solvers against. */
  def greedyOracle(pairs: DataFrame): Seq[Seq[Rec]] =
    Greedy.greedySolve(pairs.select("sim", "dset0", "dset1", "rec0", "rec1").collect()
      .map(r => Candidate(r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSeq)
}
