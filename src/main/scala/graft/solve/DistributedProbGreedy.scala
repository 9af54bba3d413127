package graft.solve

import org.apache.spark.sql.DataFrame

/** Distributed EXACT multiparty probabilistic greedy solving
  * (merge_threshold ≤ 1, deduplicated or not) — the one solver
  * configuration the reference can only run single-threaded
  * (`/root/reference/anonlink/solving/_multiparty_solving_python.py:8-190`,
  * exercised by `tests/test_solving.py:422-459`). The reference's
  * `greedy_solve` is the same function at `merge_threshold = 1`,
  * `deduplicated = false` (:193-218), so [[greedyClusters]] runs the
  * same routine: one distributed greedy solver for both.
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
  * common case is cluster-parallel. An input small enough for the
  * driver skips all of that and is solved there in one pass — the
  * solve skeleton [[ConnectedComponents.solvePairs]] that the
  * `components` solver runs too.
  */
object DistributedProbGreedy {

  /** Solve and return the nontrivial groups as a cluster table
    * (dsetId, recId, clusterId); clusterId = min member node id
    * ([[ConnectedComponents.Encoding]]), deterministic. Small inputs
    * come back as a driver-built local relation, bigger ones cached and
    * materialized ([[ConnectedComponents.solvePairs]]).
    *
    * @param pairs candidate pairs (sim, dset0, dset1, rec0, rec1) —
    *              the same shape [[graft.cand.Candidates]] emits.
    * @param mergeThreshold reference `merge_threshold` (:24-66).
    * @param deduplicated reference `deduplicated` — forbid merges that
    *                     put two same-dataset records in one group.
    * @param driverFinishThreshold inputs of at most this many pairs are
    *                     solved on the driver (0 forces the component
    *                     path, for specs).
    */
  def clusters(
      pairs: DataFrame,
      mergeThreshold: Double,
      deduplicated: Boolean = true,
      checkpointDir: Option[String] = None,
      driverFinishThreshold: Long = ConnectedComponents.DriverFinishPairs): DataFrame = {
    require(mergeThreshold >= 0 && mergeThreshold <= 1,
      s"merge_threshold must be between 0 and 1 (got $mergeThreshold)")
    solve(pairs, mergeThreshold, deduplicated, minLabel = true, checkpointDir,
      driverFinishThreshold)
  }

  /** The reference `greedy_solve` (`_multiparty_solving_python.py:193-218`)
    * for any number of parties: probabilistic greedy at
    * `merge_threshold = 1`, `deduplicated = false`, as
    * [[Greedy.greedySolve]]. clusterId = the node id of the group's
    * FIRST member: a group is founded by the pair that creates it with
    * its `(dset0, rec0)` endpoint first, and a merge appends to the
    * bigger group, so on 2-party deduplicated pairs (groups never grow
    * past the founding pair) the label is that pair's rec0 endpoint.
    */
  def greedyClusters(
      pairs: DataFrame,
      checkpointDir: Option[String] = None,
      driverFinishThreshold: Long = ConnectedComponents.DriverFinishPairs): DataFrame =
    solve(pairs, 1.0, deduplicated = false, minLabel = false, checkpointDir,
      driverFinishThreshold)

  /** [[ConnectedComponents.solvePairs]] with the sequential solve
    * ([[Greedy.probabilisticGreedySolve]]) on the driver for small
    * inputs, and per component, after one shuffle keying candidates by
    * component, otherwise. */
  private def solve(
      pairs: DataFrame,
      mergeThreshold: Double,
      deduplicated: Boolean,
      minLabel: Boolean,
      checkpointDir: Option[String],
      driverFinishThreshold: Long): DataFrame = {
    import pairs.sparkSession.implicits._
    // a function value, not a local def: the per-component lambda ships
    // it to executors, and a lifted local def would capture this object
    val solveGroups = (cands: Seq[Candidate]) =>
      groupRows(Greedy.probabilisticGreedySolve(cands, mergeThreshold, deduplicated), minLabel)
    ConnectedComponents.solvePairs(pairs, driverFinishThreshold, checkpointDir)(solveGroups,
      // CC drops self-loop candidates (i0 == i1) — the sequential solver
      // skips them too (:69 `if i0 != i1`), so losing their rows to the
      // inner join is semantics-preserving: a node with ONLY self-edges
      // forms no group.
      (p, comps) => p.withColumn("node0", ConnectedComponents.Encoding.nodeIdCol($"dset0", $"rec0"))
        .join(comps.withColumnRenamed("node", "node0")
          .withColumnRenamed("component", "comp"), "node0")
        .select($"comp", $"sim", $"dset0", $"dset1", $"rec0", $"rec1")
        .as[(Long, Double, Int, Int, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups((_, it) =>
          solveGroups(it.map(t => Candidate(t._2, t._3, t._4, t._5, t._6)).toSeq))
        .toDF())
  }

  /** Groups → (dsetId, recId, clusterId) rows, labelled with the min
    * member node id or the first member's. */
  private def groupRows(groups: Seq[Seq[Rec]], minLabel: Boolean): Iterator[(Int, Long, Long)] =
    groups.iterator.flatMap { g =>
      val ids = g.iterator.map(r => ConnectedComponents.Encoding.nodeId(r.dset, r.rec))
      val cid = if (minLabel) ids.min else ids.next()
      g.iterator.map(m => (m.dset, m.rec, cid))
    }
}
