package graft.solve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed EXACT multiparty probabilistic greedy solving
  * (merge_threshold ≤ 1, deduplicated or not) — the one solver
  * configuration the reference can only run single-threaded
  * (`/root/reference/anonlink/solving/_multiparty_solving_python.py:8-190`,
  * exercised by `tests/test_solving.py:422-459`).
  *
  * '''Why this is exact, not approximate.''' The sequential solver
  * streams candidates in the global total order `(-sim, dset0, dset1,
  * rec0, rec1)` and mutates only: (a) the group containing each seen
  * record, and (b) the matchable-pair counter between two groups. Both
  * are touched exclusively when an EDGE between their members arrives.
  * Therefore the solver's state decomposes over the connected
  * components of the candidate graph: records in different components
  * can never share a group (groups grow only by merging along edges)
  * and never share a counter (counters are created only by edges
  * between existing groups). Restricting the globally-sorted stream to
  * one component preserves the relative order of exactly the edges
  * that component's state transitions depend on — so solving each
  * component independently with the bit-exact sequential port
  * ([[Greedy.probabilisticGreedySolve]]) and unioning the group lists
  * IS the sequential result, record for record.
  *
  * '''Scale shape.''' One distributed CC over the candidate edges
  * (O(log n) rounds, [[ConnectedComponents.run]]), one shuffle keying
  * candidates by component, then per-component sequential solving in
  * parallel across executors via `flatMapGroups`. With a linkage-grade
  * threshold + top-k upstream, components are entity-sized (handfuls
  * of records), so per-task memory is bounded by the largest
  * component's candidate count; a pathological giant component runs
  * sequentially in one task — which is precisely the reference's
  * behavior for the whole input, i.e. the worst case is parity, the
  * common case is cluster-parallel.
  */
object DistributedProbGreedy {

  /** Solve and return the nontrivial groups as a cluster table
    * (dsetId, recId, clusterId); clusterId = min member node id
    * ([[ConnectedComponents.Encoding]]), deterministic.
    *
    * @param pairs candidate pairs (sim, dset0, dset1, rec0, rec1) —
    *              the same shape [[graft.cand.Candidates]] emits.
    * @param mergeThreshold reference `merge_threshold` (:24-66).
    * @param deduplicated reference `deduplicated` — forbid merges that
    *                     put two same-dataset records in one group.
    */
  def clusters(
      pairs: DataFrame,
      mergeThreshold: Double,
      deduplicated: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(mergeThreshold >= 0 && mergeThreshold <= 1,
      s"merge_threshold must be between 0 and 1 (got $mergeThreshold)")
    val spark = pairs.sparkSession
    import spark.implicits._
    // respect a caller's existing persist (Linkage.candidatePairs
    // returns a cached frame on the no-checkpoint path): the projection
    // below reads the parent cache, so a second copy buys nothing
    val ownCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p0 = pairs.select(col("sim").cast("double").as("sim"),
      col("dset0").cast("int").as("dset0"), col("dset1").cast("int").as("dset1"),
      col("rec0").cast("long").as("rec0"), col("rec1").cast("long").as("rec1"))
    val p = if (ownCache) p0.cache() else p0
    val n0 = ConnectedComponents.Encoding.nodeIdCol(col("dset0"), col("rec0"))
    val n1 = ConnectedComponents.Encoding.nodeIdCol(col("dset1"), col("rec1"))
    // CC drops self-loop candidates (i0 == i1) — the sequential solver
    // skips them too (:69 `if i0 != i1`), so losing their rows to the
    // inner join below is semantics-preserving: a node with ONLY
    // self-edges forms no group.
    val comps = ConnectedComponents.run(
      p.select(n0.as("src"), n1.as("dst")), checkpointDir = checkpointDir)
    val out = p.withColumn("node0", n0)
      .join(comps.withColumnRenamed("node", "node0")
        .withColumnRenamed("component", "comp"), "node0")
      .select($"comp", $"sim", $"dset0", $"dset1", $"rec0", $"rec1")
      .as[(Long, Double, Int, Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val cands = it.map(t => Candidate(t._2, t._3, t._4, t._5, t._6)).toSeq
        Greedy.probabilisticGreedySolve(cands, mergeThreshold, deduplicated)
          .iterator.flatMap { g =>
            val cid = g.iterator
              .map(r => ConnectedComponents.Encoding.nodeId(r.dset, r.rec)).min
            g.iterator.map(m => (m.dset, m.rec, cid))
          }
      }
      .toDF("dsetId", "recId", "clusterId")
      .cache()
    out.count()
    if (ownCache) p.unpersist()
    out
  }
}
