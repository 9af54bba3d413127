package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.gen.Corpus
import graft.solve.Rec

/** The reference's E2E accuracy contract
  * (`/root/reference/tests/test_e2e.py:16-57`): two datasets sharing a
  * known `proportion` of entities; the produced mapping must have ≤2%
  * false matches and approximately `samples × proportion` matches.
  */
class E2EAccuracySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def overlapCorpus(samples: Int, proportion: Double, seed: Long) =
    Corpus.overlapLabeled(spark, samples.toLong, proportion, seed)

  /** (matches, false matches) of a 2-party greedy cluster table: the
    * matched pairs are its 2-member clusters, judged by JOIN against the
    * planted entity labels (no driver collect). */
  private def matchCounts(clusters: org.apache.spark.sql.DataFrame,
      pages: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val truth = pages.select(col("dsetId"),
      Linkage.recIdCol(col("url")).as("recId"), col("entityId"))
    val matched = clusters.join(truth, Seq("dsetId", "recId"))
      .groupBy(col("clusterId"))
      .agg(count(lit(1)).as("n"), countDistinct(col("entityId")).as("entities"))
      .where(col("n") === 2)
      .cache()
    val counts = (matched.count(), matched.where(col("entities") > 1).count())
    matched.unpersist(); clusters.unpersist()
    counts
  }

  test("accuracy: <=2% false matches; expected match count (ref test_e2e.py:36-57)") {
    val samples = 400
    val proportion = 0.75
    val pages = overlapCorpus(samples, proportion, seed = 97L).cache()
    // both datasets have exactly `samples` records
    val sizes = pages.groupBy("dsetId").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0 -> samples.toLong, 1 -> samples.toLong))

    val params = LinkageParams(blocking = MinhashBlocking(), threshold = 0.8, k = Some(5))
    val pairs = Linkage.candidatePairs(pages, params, col("dsetId")).cache()
    val mapping = SparkTestBase.greedyOracle(pairs) // exact greedy, like the reference

    // ground truth: recId -> entityId
    val entityOf = pages
      .select(Linkage.recIdCol(col("url")).as("recId"), col("entityId"), col("dsetId"))
      .collect().map(r => (r.getInt(2), r.getLong(0)) -> r.getLong(1)).toMap

    var falseMatches = 0
    var trueMatches = 0
    mapping.foreach { group =>
      assert(group.size == 2)
      val es = group.map(r => entityOf((r.dset, r.rec)))
      if (es.distinct.size == 1) trueMatches += 1 else falseMatches += 1
    }
    val numMatches = trueMatches + falseMatches
    val allowedFalse = math.ceil(numMatches * 0.02).toInt
    assert(numMatches <= trueMatches + allowedFalse,
      s"false=$falseMatches of $numMatches")
    assert(math.abs(samples * proportion - numMatches) <= allowedFalse,
      s"expected ~${samples * proportion} matches, got $numMatches")
  }

  test("env-gated BIG E2E (GRAFT_BIG_E2E=1): 40k pages, fully distributed " +
    "matching + distributed evaluation (ref's env-gated sizes, test_e2e.py:128-147)") {
    assume(sys.env.get("GRAFT_BIG_E2E").contains("1"), "set GRAFT_BIG_E2E=1 to run")
    val samples = 20000
    val proportion = 0.75
    val pages = overlapCorpus(samples, proportion, seed = 101L).cache()
    val params = LinkageParams(blocking = MinhashBlocking(), threshold = 0.8, k = Some(5))
    val pairs = Linkage.candidatePairs(pages, params, col("dsetId")).cache()
    // distributed exact greedy with the driver-finish shortcut DISABLED
    // (threshold 0) so the per-component path is what's exercised;
    // evaluation by JOIN against ground truth (no driver collect)
    val clusters = graft.solve.DistributedProbGreedy.greedyClusters(pairs,
      driverFinishThreshold = 0L)
    val (total, falseM) = matchCounts(clusters, pages)
    val allowedFalse = math.ceil(total * 0.02).toLong
    assert(falseM <= allowedFalse, s"false=$falseM of $total")
    assert(math.abs(samples * proportion - total) <= allowedFalse,
      s"expected ~${samples * proportion} matches, got $total")
  }

  test("env-gated HUGE E2E (GRAFT_HUGE_E2E=1): 500k pages through the " +
    "SHUFFLE_HASH active-key pruning + salting scoring path at real scale") {
    // pins the 500k-scale claims in Linkage.scala (the active-key
    // left-semi SHUFFLE_HASH hint exists because broadcast planning of
    // that join OOMs at this size; salting + the kernel must hold the
    // candidate volume) with runtime + pair-count + accuracy assertions
    assume(sys.env.get("GRAFT_HUGE_E2E").contains("1"), "set GRAFT_HUGE_E2E=1 to run")
    val samples = 250000
    val proportion = 0.75
    val t0 = System.nanoTime()
    val pages = overlapCorpus(samples, proportion, seed = 211L).cache()
    val params = LinkageParams(blocking = MinhashBlocking(), threshold = 0.8, k = Some(5))
    val pairs = Linkage.candidatePairs(pages, params, col("dsetId")).cache()
    val nPairs = pairs.count()
    val expected = (samples * proportion).toLong
    // recall: nearly every true overlap pair must surface as a candidate
    // (same low perturbation as the smaller E2Es); volume: both-sides
    // top-k bounds the stream at ~k per record per side
    assert(nPairs >= expected * 95L / 100L,
      s"candidate pairs $nPairs < 95% of expected $expected")
    assert(nPairs <= 2L * params.k.get * samples,
      s"candidate pairs $nPairs exceed the top-k volume bound")
    val (total, falseM) = matchCounts(
      graft.solve.DistributedProbGreedy.greedyClusters(pairs), pages)
    val allowedFalse = math.ceil(total * 0.02).toLong
    assert(falseM <= allowedFalse, s"false=$falseM of $total")
    assert(math.abs(samples * proportion - total) <= allowedFalse,
      s"expected ~${samples * proportion} matches, got $total")
    val wallMin = (System.nanoTime() - t0) / 6e10
    assert(wallMin < 25.0, f"HUGE E2E took $wallMin%.1f min — scale regression")
    pages.unpersist(); pairs.unpersist()
    ()
  }
}
