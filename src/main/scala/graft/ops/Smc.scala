package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{BlockedRow, Linkage}
import graft.sim.SmcKernel

/** SMC similarity as a pipeline operator (S6 in SURVEY §2.3). */
object Smc {

  /** Score blocked rows with SMC ≥ threshold through the Dice path's
    * cell scorer ([[graft.Linkage.scoreCells]]). Two-party only, like
    * the reference, which raises NotImplementedError for other dataset
    * counts (`/root/reference/anonlink/similarities/_smc.py:109-112`):
    * a `dsetId` outside {0, 1} fails the query instead of being scored
    * as if it were one of the two sides. The check is a row filter, so
    * it keeps the blocking's partitioning for the cell grouping. */
  def scorePairs(blocked: Dataset[BlockedRow], threshold: Double, bits: Int): DataFrame = {
    val twoParty = blocked.where(assert_true(col("dsetId").between(0, 1),
      lit("SMC supports exactly 2 datasets (dsetId 0 and 1)")).isNull)
    Linkage.scoreCells(twoParty, SmcKernel.blockSmc(_, _, threshold, bits, _, _)).drop("key")
  }

  /** SMC's top-k rule: keep a pair iff it ranks ≤ k on **both** sides,
    * ties broken by `(-sim, rec0, rec1)`
    * (`/root/reference/anonlink/similarities/_smc.py:51-66` —
    * `pair_counter == 2`). Unlike Dice's `_enforce_k`, ranks here do
    * not count suppressed pairs; two plain windows express it. */
  def bothSidesTopK(pairs: DataFrame, k: Int): DataFrame = {
    val order = Seq(desc("sim"), asc("rec0"), asc("rec1"))
    val wLeft = Window.partitionBy("dset0", "dset1", "rec0").orderBy(order: _*)
    val wRight = Window.partitionBy("dset0", "dset1", "rec1").orderBy(order: _*)
    pairs
      .withColumn("rank_l", row_number().over(wLeft))
      .withColumn("rank_r", row_number().over(wRight))
      .where(col("rank_l") <= k && col("rank_r") <= k)
      .drop("rank_l", "rank_r")
  }
}
