package graft.solve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed transitive-closure clustering: alternating
  * large-star / small-star connected components (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) over the
  * thresholded candidate-pair graph.
  *
  * This is the `components` solver: with a high threshold + top-k
  * upstream, the reference's greedy solver (anonlink
  * `solving/_multiparty_solving_python.py`) approaches the transitive
  * closure of mutual-best edges, and the BASELINE.json F1 ≥ 0.99
  * budget absorbs the residual semantic gap (SURVEY §2.5 V2). The
  * exact greedy solvers ([[DistributedProbGreedy]]) run it to split
  * their input into components.
  *
  * Converges in O(log n) rounds on any graph (no diameter dependence —
  * a chain of length n labels in ~log n rounds, unlike naive label
  * propagation). Each round is two self-joins; intermediate results are
  * checkpointed to truncate lineage.
  */
object ConnectedComponents {

  /** @param edges DataFrame with two Long columns `src`, `dst`
    *              (node ids; self-loops/duplicates tolerated).
    * @param maxIterations safety bound (log2(n) rounds expected).
    * @return DataFrame (node long, component long) where component is
    *         the minimum node id in the node's component. Includes
    *         every node that appears in any edge.
    */
  def run(
      edges: DataFrame,
      maxIterations: Int = 50,
      /** once the (deduped) edge set fits comfortably on the driver,
        * label it with a sequential union-find instead of iterating
        * Spark rounds — each distributed round costs two self-joins +
        * checkpoints, pure overhead on a small tail. Same concession
        * the reference makes by solving single-threaded post-top-k. */
      driverFinishThreshold: Long = 100000L,
      /** round snapshots go to stable storage when set (executor-loss-
        * safe — see [[graft.io.Snapshots.RoundCheckpointer]]); None →
        * localCheckpoint, the local-mode fast path. */
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ckpt = new graft.io.Snapshots.RoundCheckpointer(checkpointDir)

    // the driver-finish gate runs BEFORE the first round snapshot: the
    // small-tail path collects immediately, so a stable-storage write
    // here would be pure overhead AND an orphan (its run never reaches
    // finish()); the iterative path snapshots right after the gate
    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))
      .distinct()

    // ONE action for the gate: collect up to threshold+1 edges instead
    // of count()-then-collect() — the count would execute the caller's
    // full (uncached) upstream pipeline a second time just to learn the
    // size the collect is about to reveal anyway. If the limit comes
    // back full, the edge set is big: fall through to the iterative
    // path (which re-scans, exactly as the old count-gated path did).
    // clamp BEFORE adding one: threshold = Long.MaxValue must mean
    // "always driver-finish", not wrap to a gate that never fires
    val gateLimit = math.min(driverFinishThreshold, (Int.MaxValue - 2).toLong).toInt + 1
    val gathered = e.as[(Long, Long)].limit(gateLimit).collect()
    // driver-finish only when the limited collect came back NOT full: a
    // full collect means more edges exist beyond the limit (including
    // the clamped case driverFinishThreshold + 1 > Int.MaxValue - 1,
    // where length <= threshold would hold on a TRUNCATED edge set and
    // label components from incomplete data)
    if (gathered.length < gateLimit)
      return minRootLabels(gathered.iterator).toSeq.toDF("node", "component")

    e = ckpt(e)

    // convergence signature helper: edge set compared via (count,
    // hash-sum) in ONE aggregate instead of an exceptAll join. The edge
    // sets are distinct, so equal count + equal 64-bit hash-sum means
    // equal sets (collision odds ~2^-64 per round).
    def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal sum: exact and overflow-free under ANSI mode
      val r = df.agg(count(lit(1)),
        sum(xxhash64($"src", $"dst").cast("decimal(38,0)"))).head
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }

    // one large-star + small-star alternation (Kiveris et al.)
    def round(cur: DataFrame): DataFrame = {
      // --- large-star: for each node u, connect every strictly-larger
      // neighbor to the minimum of Γ(u) ∪ {u}.
      val sym = cur.select($"src".as("u"), $"dst".as("v"))
        .union(cur.select($"dst".as("u"), $"src".as("v")))
      val mins = sym.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val large = sym.join(mins, "u")
        .where($"v" > $"u")
        .select(least($"v", $"m").as("src"), greatest($"v", $"m").as("dst"))
        .where($"src" =!= $"dst")
        .distinct()

      // --- small-star: orient edges to the smaller endpoint; for each
      // node u, connect all not-larger neighbors (and u) to the min.
      val smallSym = large.select($"dst".as("u"), $"src".as("v")) // v <= u by construction
      val minsS = smallSym.groupBy($"u").agg(min($"v").as("m"))
      ckpt(smallSym.join(minsS, "u")
        .select($"v", $"u", $"m")
        .flatMap { row =>
          val v = row.getLong(0); val u = row.getLong(1); val m = row.getLong(2)
          // connect v→m for all neighbors v, and u→m
          if (v == m) Iterator((u, m)) else Iterator((v, m), (u, m))
        }
        .toDF("a", "b")
        .select(least($"a", $"b").as("src"), greatest($"a", $"b").as("dst"))
        .where($"src" =!= $"dst")
        .distinct())
    }

    var converged = false
    var iter = 0
    // carry the previous round's signature instead of recomputing
    // sig(e) every round — halves the per-round aggregate count
    var prevSig = sig(e)
    while (!converged && iter < maxIterations) {
      val small = round(e)
      // convergence: edge set unchanged vs the carried previous signature
      val after = sig(small)
      val changed = after != prevSig
      prevSig = after
      e = small
      converged = !changed
      iter += 1
    }

    // the (root, member) extraction below is only valid on a CONVERGED
    // edge set — on an intermediate graph it emits conflicting
    // component labels per node. The signature check observes stability
    // one round AFTER the fixpoint-producing round, so a graph that
    // contracts to its star in exactly maxIterations rounds exits with
    // converged == false on a correct result: probe with one more
    // (uncounted) round before failing, and fail only if the edge set
    // is still moving (large-star/small-star converges in O(log² n)
    // rounds, so a genuine miss means the bound is undersized).
    if (!converged && sig(round(e)) != prevSig) throw new IllegalStateException(
      s"connected components did not converge within $maxIterations " +
        "rounds — raise maxIterations (expected O(log n) rounds)")

    // After convergence each edge is (root, member); roots self-map.
    // finish(): snapshot the result, prune the per-round snapshots —
    // the checkpoint dir keeps exactly one snapshot per solver run.
    val members = e.select($"dst".as("node"), $"src".as("component"))
    val roots = e.select($"src".as("node"), $"src".as("component")).distinct()
    ckpt.finish(members.union(roots).distinct())
  }

  /** Convenience: cluster candidate pairs (dset0,dset1,rec0,rec1) into
    * (dsetId, recId, clusterId). Node ids are packed via a mixing of
    * (dsetId, recId) ([[Encoding.nodeIdCol]]); clusterId is the minimum
    * node id of the cluster, so it is always one member's node id.
    *
    * Small graphs (at most 100 000 pairs, [[run]]'s default
    * driver-finish threshold) are labelled on the driver: the gate collects the pair
    * endpoints themselves in ONE limited action, labels them with a
    * union-find, and returns the table built on the driver — no vertex
    * `distinct` and no join of driver labels back through Spark. The
    * result is row-identical to [[run]]'s distributed path joined with
    * the vertex table: self-loop-only nodes are dropped there by the
    * inner join and here by labelling only non-self-loop endpoints.
    *
    * Eager-and-released like the near-dup ops: the RESULT comes back
    * cached and materialized, and the internal input cache (taken only
    * on the distributed path, when the caller passed an unpersisted
    * frame) is released before returning — repeated calls in one
    * session must not accumulate pinned copies of the whole upstream
    * scoring pipeline. Callers `unpersist()` the returned frame when
    * done. */
  def clusterPairs(pairs0: DataFrame, maxIterations: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs0.sparkSession
    import spark.implicits._
    val gateLimit = DriverFinishPairs.toInt + 1
    val ends = pairs0
      .select(col("dset0").cast("int"), col("rec0").cast("long"),
        col("dset1").cast("int"), col("rec1").cast("long"))
      .as[(Int, Long, Int, Long)]
      .limit(gateLimit).collect()
    if (ends.length < gateLimit) {
      import Encoding.{nodeId => node}
      val labels = minRootLabels(ends.iterator.map { case (d0, r0, d1, r1) =>
        (node(d0, r0), node(d1, r1)) })
      // every distinct endpoint whose node lies on a non-self-loop edge
      val out = ends.iterator
        .flatMap { case (d0, r0, d1, r1) => Iterator((d0, r0), (d1, r1)) }
        .distinct
        .flatMap { case (d, r) => labels.get(node(d, r)).map((d, r, _)) }
        .toSeq.toDF("dsetId", "recId", "clusterId").cache()
      // materialize with one job: count() would add an aggregate exchange
      out.foreach((_: org.apache.spark.sql.Row) => ())
      return out
    }
    // cache: the pair stream is scanned by BOTH vertex projections, the
    // edge projection, and CC's initial distinct+count — without this a
    // lazily-derived input (the whole scoring pipeline) recomputes 3-4×.
    // Respect a caller's existing persist (Linkage.run caches the same
    // frame) instead of triggering the double-cache warning.
    // cache() returns `this`, so track ownership with a flag — a
    // reference comparison of pairs vs pairs0 would never detect it
    val ownCache = pairs0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val pairs = if (ownCache) pairs0.cache() else pairs0
    val nodeId0 = Encoding.nodeIdCol(col("dset0"), col("rec0"))
    val nodeId1 = Encoding.nodeIdCol(col("dset1"), col("rec1"))
    val vertices = pairs.select(col("dset0").as("dsetId"), col("rec0").as("recId"))
      .union(pairs.select(col("dset1"), col("rec1")))
      .distinct()
      .withColumn("node", Encoding.nodeIdCol($"dsetId", $"recId"))
    val edges = pairs.select(nodeId0.as("src"), nodeId1.as("dst"))
    try {
      val comps = run(edges, maxIterations, checkpointDir = checkpointDir)
      val out = vertices.join(comps, "node")
        .select($"dsetId", $"recId", $"component".as("clusterId"))
        .cache()
      out.count()
      out
    } finally { if (ownCache) pairs.unpersist(blocking = true) }
  }

  /** [[clusterPairs]]' pair-count gate: [[run]]'s default edge threshold,
    * and the default driver finish of [[DistributedProbGreedy]]. */
  private[solve] val DriverFinishPairs = 100000L

  /** Sequential min-root union-find over a small edge list: maps every
    * endpoint of a non-self-loop edge to the smallest node id in its
    * component. The driver finish of both [[run]] and [[clusterPairs]]. */
  private def minRootLabels(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges if a != b) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.map(n => n -> find(n)).toMap
  }

  object Encoding {
    import org.apache.spark.sql.Column
    /** node id = (dsetId << 56) XOR mix of recId — dsetId is tiny
      * (2-party scope) while recId is a 64-bit hash; xor keeps ids
      * distinct across datasets with negligible collision odds. The
      * same expression must be used everywhere (pure Column arithmetic,
      * codegen'd). */
    def nodeIdCol(dset: Column, rec: Column): Column =
      shiftleft(dset.cast("long") + 1, 56).bitwiseXOR(rec)
    /** [[nodeIdCol]] on the driver, for solvers that label there. */
    def nodeId(dset: Int, rec: Long): Long = ((dset.toLong + 1) << 56) ^ rec
  }
}
