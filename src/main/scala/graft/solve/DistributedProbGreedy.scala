package graft.solve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * driver skips all of that and is solved there in one pass.
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

  /** Small inputs (at most `driverFinishThreshold` pairs) are solved on
    * the driver: ONE limited collect of the five candidate columns, the
    * sequential solve, and a table built on the driver (a local
    * relation — no cache, no materializing job). Bigger inputs take the
    * per-component path and come back cached and materialized. */
  private def solve(
      pairs: DataFrame,
      mergeThreshold: Double,
      deduplicated: Boolean,
      minLabel: Boolean,
      checkpointDir: Option[String],
      driverFinishThreshold: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p0 = pairs.select(col("sim").cast("double").as("sim"),
      col("dset0").cast("int").as("dset0"), col("dset1").cast("int").as("dset1"),
      col("rec0").cast("long").as("rec0"), col("rec1").cast("long").as("rec1"))
    // clamp BEFORE adding one: threshold = Long.MaxValue must mean
    // "always driver-finish", not wrap to a gate that never fires
    val gateLimit = math.min(driverFinishThreshold, (Int.MaxValue - 2).toLong).toInt + 1
    val gathered = p0.as[(Double, Int, Int, Long, Long)].limit(gateLimit).collect()
    if (gathered.length < gateLimit) {
      val cands = gathered.toSeq.map(t => Candidate(t._1, t._2, t._3, t._4, t._5))
      return groupRows(Greedy.probabilisticGreedySolve(cands, mergeThreshold, deduplicated),
        minLabel).toSeq.toDF("dsetId", "recId", "clusterId")
    }
    // respect a caller's existing persist (Linkage.candidatePairs
    // returns a cached frame on the no-checkpoint path): the projection
    // reads the parent cache, so a second copy buys nothing
    val ownCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p = if (ownCache) p0.cache() else p0
    val n0 = ConnectedComponents.Encoding.nodeIdCol(col("dset0"), col("rec0"))
    val n1 = ConnectedComponents.Encoding.nodeIdCol(col("dset1"), col("rec1"))
    // CC drops self-loop candidates (i0 == i1) — the sequential solver
    // skips them too (:69 `if i0 != i1`), so losing their rows to the
    // inner join below is semantics-preserving: a node with ONLY
    // self-edges forms no group.
    val comps = ConnectedComponents.run(p.select(n0.as("src"), n1.as("dst")),
      driverFinishThreshold = driverFinishThreshold, checkpointDir = checkpointDir)
    val out = p.withColumn("node0", n0)
      .join(comps.withColumnRenamed("node", "node0")
        .withColumnRenamed("component", "comp"), "node0")
      .select($"comp", $"sim", $"dset0", $"dset1", $"rec0", $"rec1")
      .as[(Long, Double, Int, Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val cands = it.map(t => Candidate(t._2, t._3, t._4, t._5, t._6)).toSeq
        groupRows(Greedy.probabilisticGreedySolve(cands, mergeThreshold, deduplicated),
          minLabel)
      }
      .toDF("dsetId", "recId", "clusterId")
      .cache()
    out.count()
    if (ownCache) p.unpersist()
    out
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
