package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.BitVector
import graft.functions.BitFunctions
import graft.solve.{Candidate, DistributedProbGreedy, Greedy}

class SolverDistSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def toDf(cands: Seq[Candidate]) =
    cands.map(c => (c.sim, c.dset0, c.dset1, c.rec0, c.rec1))
      .toDF("sim", "dset0", "dset1", "rec0", "rec1")

  /** A cluster table as a set of groups; releases the table. */
  private def groupsOf(out: org.apache.spark.sql.DataFrame): Set[Set[(Int, Long)]] = {
    val groups = out.collect()
      .groupBy(_.getLong(2))
      .values.map(_.map(r => (r.getInt(0), r.getLong(1))).toSet).toSet
    out.unpersist()
    groups
  }

  private def greedyGroups(cands: Seq[Candidate]): Set[Set[(Int, Long)]] =
    Greedy.greedySolve(cands).map(_.map(r => (r.dset, r.rec)).toSet).toSet

  test("distributed greedy matching == sequential greedy oracle (random bipartite)") {
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 10) {
      val n = 50 + rnd.nextInt(100)
      // repeated (rec0, rec1) pairs at different sims included: the
      // per-component solve is the sequential solver, exact on any input
      val cands = (0 until n).map { _ =>
        Candidate(rnd.nextDouble(), 0, 1, rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      }
      val want = greedyGroups(cands)
      val got = groupsOf(DistributedProbGreedy.greedyClusters(toDf(cands)))
      assert(got == want, s"trial $trial: ${got.size} vs ${want.size}")
    }
  }

  private def seqGroups(cands: Seq[Candidate], mt: Double, dd: Boolean): Set[Set[(Int, Long)]] =
    Greedy.probabilisticGreedySolve(cands, mt, dd)
      .map(_.map(r => (r.dset, r.rec)).toSet).toSet

  private def distGroups(cands: Seq[Candidate], mt: Double, dd: Boolean,
      driverFinishThreshold: Long = 100000L): Set[Set[(Int, Long)]] =
    groupsOf(DistributedProbGreedy.clusters(toDf(cands), mt, dd,
      driverFinishThreshold = driverFinishThreshold))

  test("distributed probabilistic greedy == sequential port on the .75/.76 boundary goldens " +
    "(test_solving.py:422-459)") {
    def c(sim: Double, a: (Int, Int), b: (Int, Int)) =
      Candidate(sim, a._1, b._1, a._2.toLong, b._2.toLong)
    val cands = Seq(
      c(.9, (0, 0), (0, 1)),
      c(.8, (1, 0), (1, 1)),
      c(.7, (0, 0), (1, 0)),
      c(.6, (0, 0), (1, 1)),
      c(.5, (0, 1), (1, 0)))
    for (mt <- Seq(0.0, 0.5, 0.75, 0.76, 1.0); dd <- Seq(true, false);
         threshold <- Seq(100000L, 0L)) {
      assert(distGroups(cands, mt, dd, threshold) == seqGroups(cands, mt, dd),
        s"mergeThreshold=$mt deduplicated=$dd driverFinishThreshold=$threshold")
    }
  }

  test("distributed probabilistic greedy == sequential port (random multiparty, " +
    "ties + duplicate pairs + self-edges)") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 6) {
      // 3 datasets × small id space: heavy group collisions, sim ties
      // (9-value grid), duplicate (pair, different sim) entries, and
      // occasional self-candidates the solver must skip
      val cands = (0 until 250).map { _ =>
        Candidate((rnd.nextInt(9) + 1) / 10.0,
          rnd.nextInt(3), rnd.nextInt(3), rnd.nextInt(10).toLong, rnd.nextInt(10).toLong)
      }
      val mt = Seq(0.3, 0.5, 0.76, 1.0)(trial % 4)
      val dd = trial % 2 == 0
      val want = seqGroups(cands, mt, dd)
      val got = distGroups(cands, mt, dd, driverFinishThreshold = 0L)
      assert(got == want, s"trial $trial mt=$mt dd=$dd: ${got.size} vs ${want.size} groups")
      assert(want.nonEmpty, s"trial $trial degenerate (no groups) — weak test input")
    }
  }

  test("distributed greedy with stable-storage checkpointing is unchanged") {
    val rnd = new scala.util.Random(5)
    val pairs = (1 to 400).map { _ =>
      (math.rint(rnd.nextDouble() * 16) / 16, 0, 1, rnd.nextLong(60), rnd.nextLong(60))
    }.distinct
    val df = pairs.toDF("sim", "dset0", "dset1", "rec0", "rec1")
    val deduped = graft.cand.Candidates.dedup(df)
    val dir = java.nio.file.Files.createTempDirectory("dgckpt").toString
    val base = groupsOf(DistributedProbGreedy.greedyClusters(deduped,
      driverFinishThreshold = 0L))
    val ck = groupsOf(DistributedProbGreedy.greedyClusters(deduped,
      checkpointDir = Some(dir), driverFinishThreshold = 0L))
    assert(ck === base)
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("adversarial staircase preferences: cascaded matching stays exact") {
    // sims descending along a chain a1-b1 > a2-b1 > a2-b2 > a3-b2 ...:
    // one connected component whose greedy cascade takes every other
    // edge — iterated mutual-best rounds would need O(n) of them
    val n = 300
    val cands = (0 until n).flatMap { i =>
      Seq(
        Candidate(1.0 - (2 * i) * 1e-3, 0, 1, i.toLong, i.toLong),
        Candidate(1.0 - (2 * i + 1) * 1e-3, 0, 1, (i + 1).toLong, i.toLong))
    }
    val want = greedyGroups(cands)
    for (threshold <- Seq(100000L, 0L)) {
      val got = groupsOf(DistributedProbGreedy.greedyClusters(toDf(cands),
        driverFinishThreshold = threshold))
      assert(got == want && got.size == n, s"driverFinishThreshold=$threshold")
    }
  }

  test("distributed greedy on pipeline candidates == oracle (E2E)") {
    val pages = gen.Corpus.labeledPages(spark,
      gen.Corpus.Params(entities = 150L, seed = 31L, minVariants = 2, maxVariants = 2))
    val params = LinkageParams(blocking = MinhashBlocking(), threshold = 0.7, k = Some(5))
    val pairs = Linkage.candidatePairs(pages, params, col("dsetId")).cache()
    val want = greedyGroups(
      pairs.collect().map(r => Candidate(r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSeq)
    val got = groupsOf(DistributedProbGreedy.greedyClusters(pairs))
    assert(got == want && got.nonEmpty)
    pairs.unpersist()
  }

  test("property: greedyClusters == greedySolve and clusters(mt, dd) == " +
      "probabilisticGreedySolve, on the driver and per component (2-3 datasets, " +
      "sim ties, duplicate pairs, self-edges)") {
    import org.scalacheck.{Gen, Prop, Test}
    val cases = for {
      nDsets <- Gen.choose(2, 3)
      nRecs <- Gen.choose(2, 8)
      n <- Gen.choose(0, 40)
      // a 5-value sim grid makes ties common; equal endpoints give
      // self-edges, repeated endpoints give duplicate pairs
      cands <- Gen.listOfN(n, for {
        sim <- Gen.choose(1, 5)
        d0 <- Gen.choose(0, nDsets - 1); d1 <- Gen.choose(0, nDsets - 1)
        r0 <- Gen.choose(0, nRecs - 1); r1 <- Gen.choose(0, nRecs - 1)
      } yield Candidate(sim / 5.0, d0, d1, r0.toLong, r1.toLong))
      mt <- Gen.oneOf(0.0, 0.5, 0.76, 1.0)
      dd <- Gen.oneOf(true, false)
    } yield (cands, mt, dd)
    val prop = Prop.forAllNoShrink(cases) { case (cands, mt, dd) =>
      Seq(100000L, 0L).forall { threshold =>
        groupsOf(DistributedProbGreedy.greedyClusters(toDf(cands),
          driverFinishThreshold = threshold)) == greedyGroups(cands) &&
          distGroups(cands, mt, dd, threshold) == seqGroups(cands, mt, dd)
      }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(17L), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("multiparty scoring: 3 datasets produce all ordered dataset pairs like the reference") {
    // 3-way split of a bipartite-ish corpus; compare against per-pair
    // naive scoring like _block_similarities over combinations(3, 2)
    val pages = gen.Corpus.labeledPages(spark,
      gen.Corpus.Params(entities = 60L, seed = 41L, minVariants = 3, maxVariants = 3))
    val params = LinkageParams(blocking = NoBlocking, threshold = 0.7, k = None)
    val threeWay = pages.withColumn("dset3",
      pmod(xxhash64(col("url")), lit(3)).cast("int"))
    val got = Linkage.candidatePairs(threeWay, params, col("dset3"))
      .collect().map(r => Candidate(r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted(Candidate.globalOrdering)
    assert(got.map(c => (c.dset0, c.dset1)).distinct.sorted == Seq((0, 1), (0, 2), (1, 2)))

    // oracle: naive per dataset pair
    val rows = threeWay.select(col("url"), col("text"), col("dset3")).collect().map { r =>
      (r.getInt(2), Linkage.recId(r.getString(0)),
        graft.encode.ClkEncoder.encode(r.getString(1), params.clk))
    }
    val byDset = rows.groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    val want = (for {
      d0 <- 0 to 2; d1 <- (d0 + 1) to 2
    } yield graft.sim.DiceKernel.naiveDice(byDset(d0), byDset(d1), 0.7, None, d0, d1))
      .flatten.sorted(Candidate.globalOrdering)
    assert(got == want && got.nonEmpty)
  }

  test("multiparty + tiny pair budget: salting never drops cross-dataset pairs") {
    val pages = gen.Corpus.labeledPages(spark,
      gen.Corpus.Params(entities = 40L, seed = 43L, minVariants = 3, maxVariants = 3))
      .withColumn("dset3", pmod(xxhash64(col("url")), lit(3)).cast("int"))
    val base = LinkageParams(blocking = NoBlocking, threshold = 0.7, k = None)
    val tiny = base.copy(pairBudget = 50L) // would force salting of the single key
    def run(p: LinkageParams) =
      Linkage.candidatePairs(pages, p, col("dset3"))
        .collect().map(r => (r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val a = run(base)
    val b = run(tiny)
    assert(a == b && a.map(x => (x._2, x._3)) == Set((0, 1), (0, 2), (1, 2)))
  }

  test("signed dsetIdExpr ({-1,0,1}) never loses cross pairs to bipartite salting") {
    // hash % 2 in Spark is SIGNED (→ {-1,0,1}); a hot key spanning all
    // three must NOT be salted as bipartite (dset -1 and 1 would land
    // on the same salt side and lose their cross pairs) — the guard is
    // dmin >= 0 && dmax <= 1
    val pages = gen.Corpus.labeledPages(spark,
      gen.Corpus.Params(entities = 40L, seed = 47L, minVariants = 3, maxVariants = 3))
      .withColumn("dsetSigned", (xxhash64(col("url")) % 3).cast("int")) // {-2..2} incl. negatives
    val base = LinkageParams(blocking = NoBlocking, threshold = 0.7, k = None)
    val tiny = base.copy(pairBudget = 50L) // would salt the single key if allowed
    def run(p: LinkageParams) =
      Linkage.candidatePairs(pages, p, col("dsetSigned"))
        .collect().map(r => (r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val a = run(base)
    val b = run(tiny)
    assert(a == b && a.nonEmpty)
    assert(a.exists { case (_, d0, d1, _, _) => d0 < 0 || d1 < 0 })
  }

  test("native bit expressions match BitVector; null-safe; SQL-registered") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 50).map { i =>
      val a = Array.fill(16)(rnd.nextLong())
      val b = Array.fill(16)(rnd.nextLong())
      (i.toLong, BitVector.toBytes(a), BitVector.toBytes(b))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      BitFunctions.popcount_bin(col("a")).as("pop"),
      BitFunctions.dice_bin(col("a"), col("b")).as("dice"),
      BitFunctions.smc_bin(col("a"), col("b"), 1024).as("smc"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    rows.foreach { case (id, ab, bb) =>
      val a = BitVector.fromBytes(ab); val b = BitVector.fromBytes(bb)
      val (p, d, s) = got(id)
      assert(p == BitVector.popcount(a))
      assert(d == BitVector.dice(a, b))
      assert(s == BitVector.smc(a, b, 1024))
    }
    // nulls propagate as null, not NPE
    val withNull = Seq((1L, null.asInstanceOf[Array[Byte]])).toDF("id", "a")
    assert(withNull.select(BitFunctions.popcount_bin(col("a"))).head.isNullAt(0))
    // SQL registration
    BitFunctions.register(spark)
    df.createOrReplaceTempView("clks")
    val viaSql = spark.sql(
      "SELECT id, popcount_bin(a) AS p, dice_bin(a, b) AS d, smc_bin(a, b, 1024) AS s FROM clks")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    rows.foreach { case (id, ab, bb) =>
      assert(viaSql(id)._1 == BitVector.popcount(BitVector.fromBytes(ab)))
      assert(viaSql(id)._3 ==
        BitVector.smc(BitVector.fromBytes(ab), BitVector.fromBytes(bb), 1024))
    }
    // smc_bin demands a LITERAL width: a column there must fail at plan
    // time with a clear message, not generate wrong code
    val err = intercept[Exception] {
      spark.sql("SELECT smc_bin(a, b, id) FROM clks").collect()
    }
    assert(err.getMessage.contains("literal"))
  }
}
