package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.solve.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Driver-side union-find oracle. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label: min node in component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  /** driverFinishThreshold = 0 forces the DISTRIBUTED large-star/
    * small-star path — these tests must exercise the iteration, not the
    * small-graph union-find shortcut. */
  private def runCC(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"), driverFinishThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def runCCDriver(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("long chain labels to the minimum (diameter >> rounds)") {
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = runCC(chain)
    assert(got.size == 200)
    assert(got.values.toSet == Set(0L))
  }

  test("two components + self-loops + duplicate edges") {
    val edges = Seq((5L, 3L), (3L, 5L), (7L, 7L), (3L, 9L), (20L, 30L), (30L, 25L), (25L, 20L))
    val got = runCC(edges)
    assert(got(5L) == 3L && got(9L) == 3L && got(3L) == 3L)
    assert(got(20L) == 20L && got(25L) == 20L && got(30L) == 20L)
    // 7 had only a self-loop: dropped from the edge set entirely
    assert(!got.contains(7L))
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 5) {
      val n = 60
      val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val got = runCC(edges)
      val want = unionFind(edges)
      assert(got == want, s"trial $trial")
    }
  }

  test("driver-finish shortcut == distributed path on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val edges = (1 to 100).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(e => e._1 != e._2)
      assert(runCCDriver(edges) == runCC(edges), s"trial $trial")
    }
  }

  test("reliable checkpointing: stable-storage rounds == localCheckpoint rounds") {
    // the distributed path with a checkpoint dir must produce the same
    // components AND leave replayable round snapshots on stable storage
    // (executor-loss safety: lineage replays from Parquet, not from a
    // dead executor's block store)
    val rnd = new scala.util.Random(99)
    val edges = Seq.fill(300)((rnd.nextLong(80), rnd.nextLong(80)))
    val dir = java.nio.file.Files.createTempDirectory("ccckpt").toString
    val withCkpt = ConnectedComponents.run(edges.toDF("src", "dst"),
      driverFinishThreshold = 0L, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withCkpt === runCC(edges))
    // round snapshots exist under the per-run subdir — and finish()
    // pruned all but the final (result) snapshot
    val roundDirs = new java.io.File(dir).listFiles()
    assert(roundDirs != null && roundDirs.nonEmpty)
    val rounds = roundDirs.head.listFiles().map(_.getName).filter(_.startsWith("r")).toSeq
    assert(rounds.size === 1, s"expected exactly one kept snapshot, got $rounds")
    // the result DataFrame itself survives a full re-read (its lineage
    // bottoms out in the snapshot files, not executor memory)
    val again = ConnectedComponents.run(edges.toDF("src", "dst"),
      driverFinishThreshold = 0L, checkpointDir = Some(dir))
    assert(again.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === withCkpt)
  }

  test("clusterPairs maps (dset, rec) nodes back correctly") {
    val pairs = Seq(
      (0.9, 0, 1, 10L, 20L),
      (0.8, 0, 1, 11L, 20L),
      (0.7, 0, 1, 30L, 40L))
      .toDF("sim", "dset0", "dset1", "rec0", "rec1")
    val cl = ConnectedComponents.clusterPairs(pairs)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cl.size == 5)
    // {(0,10),(0,11),(1,20)} together; {(0,30),(1,40)} together
    assert(cl((0, 10L)) == cl((1, 20L)) && cl((0, 11L)) == cl((1, 20L)))
    assert(cl((0, 30L)) == cl((1, 40L)))
    assert(cl((0, 10L)) != cl((0, 30L)))
  }

  test("driver-finish gate is ONE root action (fused limit-collect, no count-then-collect)") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    var res: org.apache.spark.sql.DataFrame = null
    val n = SparkTestBase.countRootActions { res = ConnectedComponents.run(edges) }
    assert(n == 1,
      s"small-graph CC must execute its upstream ONCE (saw $n root actions) — " +
        "a count()-then-collect() gate runs the caller's whole uncached pipeline twice")
    val cl = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(1L) == 1L && cl(2L) == 1L && cl(3L) == 1L && cl(10L) == 10L && cl(11L) == 10L)
  }

  test("non-convergence at the round bound raises — never intermediate labels") {
    // an 8-node chain needs more than one large-star/small-star round;
    // the old behavior extracted (root, member) from the half-contracted
    // graph, emitting conflicting component labels with no signal
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(edges, maxIterations = 1, driverFinishThreshold = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
    // same input under a sane bound still solves exactly
    val ok = ConnectedComponents.run(edges, driverFinishThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 8L).forall(ok(_) == 1L))
    // boundary: a graph whose star appears in EXACTLY maxIterations
    // rounds is converged — the signature check observes stability one
    // round late, so the bound-exhaustion path must probe before failing
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val atBound = ConnectedComponents.run(tri, maxIterations = 1, driverFinishThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 3L).forall(atBound(_) == 1L))
  }

  test("clusterPairs is eager-and-released: internal input cache freed, " +
      "only the returned frame's cache survives") {
    val pairs = Seq(
      (0.9, 0, 1, 10L, 20L),
      (0.7, 0, 1, 30L, 40L))
      .toDF("sim", "dset0", "dset1", "rec0", "rec1")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the driver-built table of a small input is a local relation: no cache
    val small = ConnectedComponents.clusterPairs(pairs)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the small-input path must persist nothing")
    assert(small.count() == 4)
    // the component path caches its input and its result; its rounds
    // snapshot to a directory here, because localCheckpoint rounds
    // persist blocks that the result's lineage keeps
    val dir = Some(java.nio.file.Files.createTempDirectory("ccrel").toString)
    val out = ConnectedComponents.clusterPairs(pairs, driverFinishThreshold = 0L,
      checkpointDir = dir)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size == 1,
      s"exactly the returned frame's cache may survive the call; leaked: $leaked")
    assert(out.count() == 4)
    out.unpersist(blocking = true)
    // a caller-cached input stays the CALLER's to release
    val mine = pairs.cache()
    try {
      val out2 = ConnectedComponents.clusterPairs(mine, driverFinishThreshold = 0L,
        checkpointDir = dir)
      assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "clusterPairs must not unpersist a cache it does not own")
      out2.unpersist(blocking = true)
    } finally mine.unpersist(blocking = true)
  }

  test("clusterPairs' driver-built table == distributed CC through the " +
      "vertex table, on random multi-dataset pair sets") {
    val rnd = new scala.util.Random(2024)
    for (trial <- 1 to 4) {
      // three datasets, few records each: records recur across pairs,
      // components span datasets, and self-loops/duplicates occur
      val rows = (1 to 120).map { _ =>
        (rnd.nextDouble(), rnd.nextInt(3), rnd.nextInt(3),
          rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)
      } ++ Seq((1.0, 0, 0, 7L, 7L), (1.0, 2, 2, 99L, 99L)) // a self-loop-only node
      val pairs = rows.toDF("sim", "dset0", "dset1", "rec0", "rec1")
      var small: org.apache.spark.sql.DataFrame = null
      val actions = SparkTestBase.countRootActions {
        small = ConnectedComponents.clusterPairs(pairs)
      }
      assert(actions == 1, s"trial $trial: the small-graph path is one gate " +
        s"collect and nothing else (saw $actions root actions)")
      val nodeId0 = ConnectedComponents.Encoding.nodeIdCol($"dset0", $"rec0")
      val nodeId1 = ConnectedComponents.Encoding.nodeIdCol($"dset1", $"rec1")
      val vertices = pairs.select($"dset0".as("dsetId"), $"rec0".as("recId"))
        .union(pairs.select($"dset1", $"rec1")).distinct()
        .withColumn("node", ConnectedComponents.Encoding.nodeIdCol($"dsetId", $"recId"))
      val comps = ConnectedComponents.run(pairs.select(nodeId0.as("src"), nodeId1.as("dst")),
        driverFinishThreshold = 0L)
      val distributed = vertices.join(comps, "node")
        .select($"dsetId", $"recId", $"component".as("clusterId"))
      def sortedRows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Int, Long, Long)].collect().toSeq.sorted
      val viaComponents = ConnectedComponents.clusterPairs(pairs, driverFinishThreshold = 0L)
      val got = sortedRows(small)
      assert(got == sortedRows(distributed), s"trial $trial")
      assert(got == sortedRows(viaComponents), s"trial $trial: clusterPairs' component path")
      assert(got.nonEmpty && !got.exists(r => r._2 == 99L), s"trial $trial")
      viaComponents.unpersist(blocking = true)
    }
  }

  test("every solver labels a cluster with exactly one member's node id") {
    val rnd = new scala.util.Random(77)
    // two-party, pair-deduplicated candidates (the pipeline's shape)
    val pairs = (1 to 150)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .distinct
      .map { case (r0, r1) => (rnd.nextInt(1000) / 1000.0, 0, 1, r0, r1) }
      .toDF("sim", "dset0", "dset1", "rec0", "rec1")
    val solved = Seq(
      "components" -> ConnectedComponents.clusterPairs(pairs),
      "greedy" -> graft.solve.DistributedProbGreedy.greedyClusters(pairs),
      "probabilistic" -> graft.solve.DistributedProbGreedy.clusters(pairs, 0.5))
    for ((name, clusters) <- solved) {
      val rows = clusters.as[(Int, Long, Long)].collect().toSeq
      assert(rows.nonEmpty, name)
      for ((cid, members) <- rows.groupBy(_._3))
        assert(members.count { case (d, r, _) =>
          ConnectedComponents.Encoding.nodeId(d, r) == cid } == 1,
          s"$name: cluster $cid is not labelled by exactly one member's node id")
    }
    solved.foreach(_._2.unpersist())
  }
}
