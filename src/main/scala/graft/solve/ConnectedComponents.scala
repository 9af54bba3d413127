package graft.solve

import org.apache.spark.sql.{DataFrame, Dataset}
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
  * budget absorbs the residual semantic gap (SURVEY §2.5 V2). It and
  * the exact greedy solvers ([[DistributedProbGreedy]]) run one solve
  * skeleton ([[solvePairs]]): one gate, a driver solve for small
  * inputs, and otherwise [[run]] to split the input into components.
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
        * the reference makes by solving single-threaded post-top-k.
        * 0 skips the gate and always iterates. */
      driverFinishThreshold: Long = DriverFinishPairs,
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

    // 0 runs no gate action: the solve skeleton has already gated the
    // same pairs and found them too big
    val small = if (driverFinishThreshold > 0) fitting(e.as[(Long, Long)], driverFinishThreshold)
      else None
    if (small.isDefined)
      return minRootLabels(small.get.iterator).toSeq.toDF("node", "component")

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

  /** Cluster candidate pairs (sim, dset0, dset1, rec0, rec1) into
    * (dsetId, recId, clusterId). Node ids are packed via a mixing of
    * (dsetId, recId) ([[Encoding.nodeIdCol]]); clusterId is the minimum
    * node id of the cluster, so it is always one member's node id.
    * Self-loop-only records are dropped on both paths of [[solvePairs]]:
    * the driver labels only non-self-loop endpoints, and the
    * distributed path joins the vertex table with [[run]]'s labels.
    * Small inputs come back as a driver-built local relation, bigger
    * ones cached and materialized ([[solvePairs]]).
    *
    * @param driverFinishThreshold inputs of at most this many pairs are
    *                     labelled on the driver (0 forces the component
    *                     path, for specs). */
  def clusterPairs(pairs: DataFrame,
      driverFinishThreshold: Long = DriverFinishPairs,
      checkpointDir: Option[String] = None): DataFrame = {
    import pairs.sparkSession.implicits._
    import Encoding.{nodeId => node}
    solvePairs(pairs, driverFinishThreshold, checkpointDir)(
      cands => {
        val labels = minRootLabels(cands.iterator.map(c =>
          (node(c.dset0, c.rec0), node(c.dset1, c.rec1))))
        cands.iterator.flatMap(c => Iterator((c.dset0, c.rec0), (c.dset1, c.rec1)))
          .distinct
          .flatMap { case (d, r) => labels.get(node(d, r)).map((d, r, _)) }
      },
      (p, comps) => p.select($"dset0".as("dsetId"), $"rec0".as("recId"))
        .union(p.select($"dset1", $"rec1"))
        .distinct()
        .withColumn("node", Encoding.nodeIdCol($"dsetId", $"recId"))
        .join(comps, "node")
        .select($"dsetId", $"recId", $"component".as("clusterId")))
  }

  /** The one solve skeleton of [[clusterPairs]] and
    * [[DistributedProbGreedy]]. ONE limited collect of the five
    * candidate columns decides the path:
    *  - at most `driverFinishThreshold` pairs: `sequential` solves them
    *    on the driver and its rows come back as a local relation — no
    *    cache, no job;
    *  - more: the pairs are cached unless the caller persisted them,
    *    split by [[run]] (its own gate off: this one already ran), and
    *    `perComponents(pairs, (node, component))` solves the split. That
    *    result comes back cached and materialized (callers `unpersist()`
    *    it when done), and the skeleton's own input cache is released
    *    first, so repeated calls in one session pin no copies of the
    *    upstream scoring pipeline. */
  private[solve] def solvePairs(pairs: DataFrame, driverFinishThreshold: Long,
      checkpointDir: Option[String])(
      sequential: Seq[Candidate] => Iterator[(Int, Long, Long)],
      perComponents: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p0 = pairs.select(col("sim").cast("double").as("sim"),
      col("dset0").cast("int").as("dset0"), col("dset1").cast("int").as("dset1"),
      col("rec0").cast("long").as("rec0"), col("rec1").cast("long").as("rec1"))
    val small = fitting(p0.as[Candidate], driverFinishThreshold)
    if (small.isDefined)
      return sequential(small.get.toSeq).toSeq.toDF("dsetId", "recId", "clusterId")
    // the pairs are scanned by the edge projection and by perComponents:
    // without a cache a lazily-derived input (the whole scoring
    // pipeline) recomputes. A caller's persist (Linkage.run) already
    // serves both, and a second copy buys nothing.
    val ownCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p = if (ownCache) p0.cache() else p0
    try {
      val comps = run(p.select(Encoding.nodeIdCol($"dset0", $"rec0").as("src"),
        Encoding.nodeIdCol($"dset1", $"rec1").as("dst")),
        driverFinishThreshold = 0L, checkpointDir = checkpointDir)
      val out = perComponents(p, comps).toDF("dsetId", "recId", "clusterId").cache()
      out.count()
      out
    } finally { if (ownCache) p.unpersist(blocking = true) }
  }

  /** The driver-finish gate of [[run]] and [[solvePairs]]: ONE action,
    * a collect of up to `threshold + 1` rows, instead of
    * count()-then-collect() — the count would execute the caller's full
    * (uncached) upstream pipeline a second time just to learn the size
    * the collect is about to reveal anyway. Some(rows) when they all
    * fit; None when the limit came back full, i.e. more rows exist
    * beyond it (including the clamped case threshold + 1 >
    * Int.MaxValue - 1, where rows <= threshold would hold on a
    * TRUNCATED input and solve it from incomplete data). The clamp
    * comes BEFORE adding one: threshold = Long.MaxValue must mean
    * "always driver-finish", not wrap to a gate that never fires. */
  private def fitting[T](rows: Dataset[T], threshold: Long): Option[Array[T]] = {
    val limit = math.min(threshold, (Int.MaxValue - 2).toLong).toInt + 1
    val got = rows.limit(limit).collect()
    if (got.length < limit) Some(got) else None
  }

  /** The default driver-finish threshold of every solver, in pairs (or,
    * for [[run]], distinct edges). */
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
