package graft.solve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed pairwise clustering evaluation — the north-rule metric
  * (pairwise F1 vs labeled entities) as a first-class operator instead
  * of a test-only helper ([[Greedy.pairwiseF1]] materializes pair
  * sets on the driver; fine for specs, unusable at corpus scale).
  *
  * Pairwise counts are computed from GROUP SIZES only, never from
  * materialized pairs: with n_c records in predicted cluster c, n_e in
  * truth entity e, and n_ce in their intersection cell,
  *
  *   predicted pairs P  = Σ_c  C(n_c, 2)
  *   truth pairs     T  = Σ_e  C(n_e, 2)
  *   true positives  TP = Σ_ce C(n_ce, 2)
  *
  * (every within-cell pair is within one cluster AND one entity, and
  * intersection cells partition both sides). A SINGLE record-level
  * hash aggregation with map-side partial combine produces the cell
  * counts; both marginals derive from the cells (n_c = Σ_e n_ce,
  * n_e = Σ_c n_ce), so a 10^12-record corpus is scanned once, the
  * shuffle carries one row per cell, and no pairs are ever
  * materialized. This is the standard pair-counting identity behind
  * the Rand index family.
  *
  * Records the matcher left unclustered count as singletons (zero
  * pairs on the predicted side, but their truth pairs still count as
  * misses — dropping them would inflate recall).
  */
object Evaluation {

  /** Pairwise precision/recall/F1 of a cluster assignment vs truth.
    *
    * Evaluates EAGERLY in ONE Spark action: the three pair sums (tp /
    * predicted / truth) come from a single GROUPING SETS aggregation
    * over the record-level join — grouping set (cid, entityId) yields
    * the intersection cells, (cid) and (entityId) the two marginals —
    * chained into one final one-row aggregate. One
    * scan, one shuffle (the Expand triples rows, but map-side partial
    * aggregation collapses them to ~3× the cell count before the
    * exchange), one collect; nothing cached, so nothing can leak
    * across calls, and the stall surface of a bench run is a single
    * action instead of three.
    *
    * @param truth (dsetId, recId, entityId) — every record in scope
    * @param clusters (dsetId, recId, clusterId) — matcher output;
    *                 records absent here count as singletons
    * @return one row: (tp, pred_pairs, truth_pairs, precision, recall, f1)
    */
  def pairwise(truth: DataFrame, clusters: DataFrame): DataFrame = {
    // C(n,2) in pure integer math: n*(n-1) is even, so a right shift is
    // exact while the product fits a Long — i.e. to n ≈ 3.0e9 members
    // in ONE cluster/entity/cell, vs n ≈ 9.5e7 where Spark's
    // double-division `/` starts rounding (a hot boilerplate cluster
    // of 10^8 already crosses that). Beyond 3e9 ANSI mode fails loudly
    // with an overflow error rather than returning a rounded count.
    val c2 = (n: org.apache.spark.sql.Column) => shiftright(n * (n - 1), 1)
    // Unmatched records become singleton clusters keyed by their own
    // node id. Cluster ids are node ids of MEMBER records (CC minima /
    // greedy rec0), so a non-member's node id cannot collide with a
    // real cluster's id.
    val joined = truth
      .join(clusters, Seq("dsetId", "recId"), "left")
      .withColumn("cid", coalesce(col("clusterId"),
        ConnectedComponents.Encoding.nodeIdCol(col("dsetId"), col("recId"))))
    // ONE record-level GROUPING SETS aggregation: set (cid, entityId)
    // produces the intersection-cell counts (→ tp), set (cid) the
    // predicted-cluster sizes (→ pred_pairs), set (entityId) the truth
    // sizes (→ truth_pairs). grouping_id() disambiguates: with group
    // columns (cid, entityId), gid = 0 keeps both, 1 aggregates
    // entityId away (per-cid marginal), 2 aggregates cid away
    // (per-entity marginal). The chained one-row aggregate folds the
    // three C(n,2) sums in the same single job — no cache, no second
    // scan, one collect.
    val r = joined
      .groupingSets(
        Seq(Seq(col("cid"), col("entityId")), Seq(col("cid")), Seq(col("entityId"))),
        col("cid"), col("entityId"))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      .agg(
        coalesce(sum(when(col("gid") === 0, c2(col("n")))), lit(0L)).as("tp"),
        coalesce(sum(when(col("gid") === 1, c2(col("n")))), lit(0L)).as("pred_pairs"),
        coalesce(sum(when(col("gid") === 2, c2(col("n")))), lit(0L)).as("truth_pairs"))
      .collect().head
    val (tp, predPairs, truthPairs) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // same IEEE op order as the DuckDB oracle's CASE/CAST arithmetic
    val precision = if (predPairs == 0) 0.0 else tp.toDouble / predPairs
    val recall = if (truthPairs == 0) 0.0 else tp.toDouble / truthPairs
    val f1 = if (precision + recall == 0.0) 0.0
      else 2.0 * precision * recall / (precision + recall)
    val spark = truth.sparkSession
    import spark.implicits._
    Seq((tp, predPairs, truthPairs, precision, recall, f1))
      .toDF("tp", "pred_pairs", "truth_pairs", "precision", "recall", "f1")
  }
}
