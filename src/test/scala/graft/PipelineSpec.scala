package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.core.BitVector
import graft.encode.ClkEncoder
import graft.gen.Corpus
import graft.sim.DiceKernel
import graft.solve.{Candidate, Greedy, Rec}

/** End-to-end pipeline tests: exact parity against the naive oracle
  * under NoBlocking (the analogue of the reference's chunked ≡
  * monolithic invariant, `/root/reference/tests/test_e2e.py:220-273`),
  * blocking recall, partitioning invariance, cluster F1, resume.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val corpusParams = Corpus.Params(entities = 120L, seed = 7L)
  private lazy val labeled = Corpus.labeledPages(spark, corpusParams).cache()
  private lazy val pagesDf = labeled.select("url", "warc_ts", "html", "text", "lang").cache()
  private val dsetExpr = xxhash64(col("url")).bitwiseAND(lit(1L)).cast("int")

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Seq[Candidate] =
    df.select("sim", "dset0", "dset1", "rec0", "rec1").collect()
      .map(r => Candidate(r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted(Candidate.globalOrdering)

  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** A record with `words` as its CLK. */
  private def record(dsetId: Int, recId: Long, words: Array[Long], keys: Array[Long]) =
    EncodedRecord(dsetId, recId, "", BitVector.toBytes(words), BitVector.popcount(words), keys)

  /** A sparse random bit flip of `proto`: variants of one prototype
    * score ≈ 0.8 Dice, unrelated 128-bit CLKs ≈ 0.5. */
  private def variant(rnd: scala.util.Random, proto: Array[Long]): Array[Long] =
    proto.map(_ ^ (rnd.nextLong() & rnd.nextLong() & rnd.nextLong()))

  /** `DiceKernel.naiveDice` on every dataset pair d0 < d1 of `recs`,
    * then `Candidates.finalize` — the pipeline's semantics for one
    * block holding every record. */
  private def naiveFinalized(recs: Seq[EncodedRecord], params: LinkageParams): Seq[Candidate] = {
    val sides = recs.groupBy(_.dsetId).toSeq.sortBy(_._1)
      .map { case (d, rs) => (d, rs.map(r => (r.recId, BitVector.fromBytes(r.clk)))) }
    val raw = for {
      i <- sides.indices; j <- i + 1 until sides.size
      c <- DiceKernel.naiveDice(sides(i)._2, sides(j)._2, params.threshold, params.k,
        sides(i)._1, sides(j)._1)
    } yield c
    collectPairs(graft.cand.Candidates.finalize(raw.toDF(), params.k))
  }

  /** Driver-side oracle: same encoding, all-pairs naive Dice, same
    * dedup/top-k semantics via the reference-shaped naive path. */
  private def oraclePairs(params: LinkageParams): Seq[Candidate] = {
    val rows = pagesDf.select(col("url"), col("text"), dsetExpr.as("dsetId")).collect().map { r =>
      val url = r.getString(0); val text = r.getString(1)
      (r.getInt(2), graft.core.Hashing.str(url, Linkage.RecIdSeed), ClkEncoder.encode(text, params.clk))
    }
    val a = rows.filter(_._1 == 0).map(r => (r._2, r._3)).toSeq
    val b = rows.filter(_._1 == 1).map(r => (r._2, r._3)).toSeq
    val all = DiceKernel.naiveDice(a, b, params.threshold, None)
    // apply global k-enforcement like _enforce_k
    params.k match {
      case None => all.sorted(Candidate.globalOrdering)
      case Some(k) =>
        val sorted = all.sorted(Candidate.globalOrdering)
        val counter = scala.collection.mutable.Map.empty[(Int, Int, Long), Int]
        sorted.filter { c =>
          val i0 = (c.dset0, c.dset1, c.rec1)
          val i1 = (c.dset1, c.dset0, c.rec0)
          counter(i0) = counter.getOrElse(i0, 0) + 1
          counter(i1) = counter.getOrElse(i1, 0) + 1
          counter(i0) <= k && counter(i1) <= k
        }
    }
  }

  test("NoBlocking pipeline == naive oracle, k=None and k=5") {
    for (k <- Seq(None, Some(5))) {
      val params = LinkageParams(blocking = NoBlocking, threshold = 0.7, k = k)
      val got = collectPairs(Linkage.candidatePairs(pagesDf, params, dsetExpr))
      val want = oraclePairs(params)
      assert(got.nonEmpty, "no candidate pairs found")
      assert(got == want, s"k=$k got=${got.size} want=${want.size}")
    }
  }

  test("minhash blocking achieves >= 0.98 recall vs exhaustive at t=0.8") {
    val exhaustive = LinkageParams(blocking = NoBlocking, threshold = 0.8, k = Some(10))
    val blocked = LinkageParams(blocking = MinhashBlocking(), threshold = 0.8, k = Some(10))
    val want = collectPairs(Linkage.candidatePairs(pagesDf, exhaustive, dsetExpr)).toSet
    val got = collectPairs(Linkage.candidatePairs(pagesDf, blocked, dsetExpr)).toSet
    assert(want.nonEmpty)
    val recall = got.count(want.contains).toDouble / want.size
    assert(recall >= 0.98, s"recall=$recall (${got.size} vs ${want.size})")
    // blocking may only *lower* recall, never add pairs below threshold
    assert(got.forall(_.sim >= 0.8))
  }

  test("bit-band blocking also recalls matches (B1)") {
    val blocked = LinkageParams(blocking = BitBandBlocking(), threshold = 0.8, k = Some(10))
    val exhaustive = LinkageParams(blocking = NoBlocking, threshold = 0.8, k = Some(10))
    val want = collectPairs(Linkage.candidatePairs(pagesDf, exhaustive, dsetExpr)).toSet
    val got = collectPairs(Linkage.candidatePairs(pagesDf, blocked, dsetExpr)).toSet
    val recall = got.count(want.contains).toDouble / want.size
    // bit-sampling LSH trades recall for cost by design (the reference
    // documents it "may decrease recall", blocking.py:128-131); minhash
    // banding is our default. Assert it stays a usable secondary.
    assert(recall >= 0.85, s"bit-band recall=$recall")
  }

  test("partitioning invariance: identical pairs at different parallelism (ref test_e2e.py:220-273)") {
    val params = LinkageParams(blocking = MinhashBlocking(), threshold = 0.75, k = Some(5))
    val a = withShufflePartitions(3)(
      collectPairs(Linkage.candidatePairs(pagesDf.repartition(2), params, dsetExpr)))
    val b = withShufflePartitions(17)(
      collectPairs(Linkage.candidatePairs(pagesDf.repartition(13), params, dsetExpr)))
    assert(a.nonEmpty && a == b)
  }

  test("salting leaves results unchanged (split_to_chunks invariant)") {
    val base = LinkageParams(blocking = MinhashBlocking(), threshold = 0.75, k = Some(5))
    val salted = base.copy(pairBudget = 50L) // force heavy salting on tiny blocks
    val a = collectPairs(Linkage.candidatePairs(pagesDf, base, dsetExpr))
    val b = collectPairs(Linkage.candidatePairs(pagesDf, salted, dsetExpr))
    assert(a.nonEmpty && a == b)
  }

  test("clusters: CC matches greedy oracle at F1 >= 0.99; planted entities recovered") {
    // Bipartite corpus: one variant per dataset per entity — the shape
    // of the reference's own e2e corpora (two datasets with a known
    // overlap, test_e2e.py:16-26). In this regime greedy solving is
    // near-transitive closure of mutual-best edges, which is what the
    // distributed CC path computes (SURVEY §2.5 V2).
    val bip = Corpus.labeledPages(spark,
      Corpus.Params(entities = 300L, seed = 11L, minVariants = 2, maxVariants = 2)).cache()
    val params = LinkageParams(blocking = MinhashBlocking(), threshold = 0.75, k = Some(5))
    val pairs = Linkage.candidatePairs(bip, params, col("dsetId")).cache()
    val ccDf = Linkage.clusters(pairs, params)
    val ccClusters = ccDf.collect().map(r => (Rec(r.getInt(0), r.getLong(1)), r.getLong(2)))
    ccDf.unpersist()
    val ccPairs = Greedy.groupPairs(
      ccClusters.groupBy(_._2).values.map(_.map(_._1).toSeq).filter(_.size > 1).toSeq)
    val greedyPairs = Greedy.groupPairs(SparkTestBase.greedyOracle(pairs))
    val f1 = Greedy.pairwiseF1(ccPairs, greedyPairs)
    assert(greedyPairs.nonEmpty)
    assert(f1 >= 0.99, s"pairwise F1 vs greedy oracle = $f1")

    // planted-label sanity: within-entity cross-dataset pairs recovered
    val truth = bip.select(col("entityId"), col("dsetId"), Linkage.recIdCol(col("url")).as("recId"))
      .collect().map(r => (r.getLong(0), Rec(r.getInt(1), r.getLong(2))))
      .groupBy(_._1).values.filter(_.length == 2)
      .map { vs =>
        val Seq(a, b) = vs.map(_._2).sortBy(x => (x.dset, x.rec)).toSeq
        (a, b)
      }.toSet
    val plantedF1 = Greedy.pairwiseF1(ccPairs, truth)
    assert(plantedF1 >= 0.9, s"planted-entity pairwise F1 = $plantedF1")
  }

  test("plan hygiene: encode scan prunes html/warc_ts/lang; filters push to parquet") {
    // write pages as parquet so scan pruning is observable in the plan
    val dir = java.nio.file.Files.createTempDirectory("graft-pages").toString
    labeled.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val enc = Linkage.encode(onDisk, LinkageParams(), col("dsetId"))
    val plan = enc.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("html"), "html must be pruned from the scan")
    assert(!plan.contains("warc_ts"), "warc_ts must be pruned from the scan")
    // a pushable filter reaches the parquet scan
    val filtered = onDisk.where(col("lang") === "en").select("url")
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters") && fplan.contains("EqualTo(lang,en)"), fplan)
  }

  test("adversarial salting: k=1 on a hot tie-heavy block is exactly invariant") {
    // k=1 maximizes the cell-vs-block top-k gap: per block each left
    // record keeps ONE pair, but a salted cell would emit one per CELL —
    // without Candidates.perBlockTopK a cell's rank-2 pair leaks into
    // the global _enforce_k stream and can displace another block's
    // pair in a shared right-record window (the chunked-semantics trap).
    // (i % 7) text variants plant many sim-1.0 ties across datasets, so
    // the tie-break path is exercised too.
    val boiler = (0 until 300).map { i =>
      (s"http://hot.example/$i",
        "boilerplate terms of service page with common shared text v" + (i % 7),
        i % 2)
    }
    val pages = boiler.toDF("url", "text", "dsetId")
    val base = LinkageParams(blocking = MinhashBlocking(), threshold = 0.7, k = Some(1))
    val salted = base.copy(pairBudget = 200L)
    val a = collectPairs(Linkage.candidatePairs(pages, base, col("dsetId")))
    val b = collectPairs(Linkage.candidatePairs(pages, salted, col("dsetId")))
    assert(a.nonEmpty && a == b)
  }

  test("real skew: boilerplate duplicated 400x triggers hot-block salting, results exact") {
    // 400 near-identical boilerplate pages (one hot band cluster) + the
    // normal corpus. |A|x|B| for the boilerplate bands ~ 200*200 per
    // band, above a 5k pair budget -> the hot-key path engages.
    val boiler = (0 until 400).map { i =>
      val url = s"https://boiler.example/p$i"
      // identical text -> identical CLK and band keys
      (url, "terms of service page copyright two thousand all rights reserved contact webmaster today", i % 2)
    }
    import spark.implicits._
    val boilerDf = boiler.toDF("url", "text", "dsetId")
    val normal = labeled.select("url", "text", "dsetId")
    val pages = normal.union(boilerDf)
    val base = LinkageParams(blocking = MinhashBlocking(), threshold = 0.8, k = Some(10))
    val salted = base.copy(pairBudget = 5000L)
    val a = collectPairs(Linkage.candidatePairs(pages, base, col("dsetId")))
    val b = collectPairs(Linkage.candidatePairs(pages, salted, col("dsetId")))
    assert(a == b)
    // the boilerplate clique survives global k-enforcement as exactly
    // the 10x10 top submatrix under the total order (rank <= k on BOTH
    // sides, counting suppressed pairs — _enforce_k semantics)
    val boilerIds = boiler.map(r => Linkage.recId(r._1)).toSet
    val boilerPairs = a.filter(c => boilerIds.contains(c.rec0) && boilerIds.contains(c.rec1))
    assert(boilerPairs.size == 100, s"got ${boilerPairs.size}")
    assert(boilerPairs.forall(_.sim == 1.0))
  }

  test("checkpoint resume: second run reads the snapshot and matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val params = LinkageParams(blocking = MinhashBlocking(), threshold = 0.8, k = Some(5),
      checkpointDir = Some(dir))
    val first = collectPairs(Linkage.candidatePairs(pagesDf, params, dsetExpr))
    val stageDir = graft.io.Snapshots.stageDir(dir, "candidates",
      params.toString + "/" + dsetExpr.toString)
    assert(graft.io.Snapshots.exists(stageDir))
    // resumed run must not recompute: poison the input — resume still works
    val poisoned = pagesDf.limit(0)
    val second = collectPairs(Linkage.candidatePairs(poisoned, params, dsetExpr))
    assert(first.nonEmpty && first == second)
    val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$stageDir/_MANIFEST.json"))
    assert(manifest.contains("snapshot_id") && manifest.contains("partitions"))
    // changed scoring params must NOT resume the stale CANDIDATES
    // snapshot — but must still reuse the (expensive) ENCODE snapshot,
    // whose content key excludes threshold/k. With poisoned input the
    // only way to produce the correct threshold-0.9 pairs is: encode
    // resumed from snapshot + candidates recomputed at 0.9.
    val changed = params.copy(threshold = 0.9)
    val third = collectPairs(Linkage.candidatePairs(poisoned, changed, dsetExpr))
    val expected = collectPairs(Linkage.candidatePairs(
      pagesDf, changed.copy(checkpointDir = None), dsetExpr))
    assert(third == expected && third != first)
    // a snapshot without its recorded schema fails loudly on resume
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$stageDir/_SCHEMA.json"))
    val e = intercept[IllegalStateException](Linkage.candidatePairs(poisoned, params, dsetExpr))
    assert(e.getMessage.contains("_SCHEMA.json"))
  }

  test("snapshot manifests are exact: row_count and per-file rows equal a " +
      "re-scan, and the returned schema equals an inferred read") {
    val base = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val params = LinkageParams(blocking = MinhashBlocking())
    val encoded = Linkage.encode(pagesDf, params, dsetExpr).toDF()
    for ((name, df) <- Seq("encoded" -> encoded.repartition(3),
        "empty" -> encoded.limit(0))) {
      val dir = s"$base/$name"
      val back = graft.io.Snapshots.write(df, dir)
      val manifest = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new java.io.File(s"$dir/_MANIFEST.json"))
      val rescan = spark.read.parquet(dir)
      assert(manifest.get("row_count").asLong == rescan.count(), name)
      assert(graft.io.Snapshots.rowCount(dir) == rescan.count(), name)
      val perFile = (0 until manifest.get("partitions").size).map { i =>
        val e = manifest.get("partitions").get(i)
        e.get("file").asText -> e.get("rows").asLong
      }
      val dataFiles = new java.io.File(dir).listFiles().map(_.getName)
        .filter(f => !f.startsWith("_") && !f.startsWith(".")).sorted.toSeq
      assert(perFile.map(_._1) == dataFiles, name)
      for ((f, rows) <- perFile)
        assert(spark.read.parquet(s"$dir/$f").count() == rows, s"$name/$f")
      assert(perFile.map(_._2).sum == manifest.get("row_count").asLong, name)
      assert(back.schema == rescan.schema, name)
      assert(back.count() == rescan.count(), name)
    }
  }

  test("property: candidatePairsFromEncoded is invariant to pairBudget (forced salting) and " +
      "shuffle partitions, and under NoBlocking equals naiveDice + Candidates.finalize " +
      "(2 datasets, 3 datasets, signed {-1,0,1} ids; k None or 1..5)") {
    import org.scalacheck.{Gen, Prop, Test}
    // a budget of 1..3 salts every bipartite key with ≥ 2 rows a side
    // (each dataset gets ≥ 2 of the ≥ 6 records); band keys come from
    // 3 prototype keys and 3 noise keys, so blocks overlap. Each case
    // runs the default budget and the tiny one at two drawn partition
    // counts: two pipeline runs a case, three cases per dataset coding,
    // keep the property under 20 s.
    val cases = for {
      n <- Gen.choose(6, 24)
      noBlocking <- Gen.oneOf(true, false)
      k <- Gen.oneOf(None +: (1 to 5).map(Some(_)))
      budget <- Gen.choose(1L, 3L)
      parts <- Gen.listOfN(2, Gen.oneOf(1, 4, 7))
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (n, noBlocking, k, budget, parts, seed)
    def prop(dsets: Seq[Int]) = Prop.forAllNoShrink(cases) {
        case (n, noBlocking, k, budget, parts, seed) =>
      val rnd = new scala.util.Random(seed)
      val protos = Seq.fill(3)(Array.fill(2)(rnd.nextLong()))
      val recs = (0 until n).map { i =>
        val p = rnd.nextInt(protos.size)
        record(dsets(i % dsets.size), rnd.nextLong(), variant(rnd, protos(p)),
          if (noBlocking) Array(0L) else Array(p.toLong, 3L + rnd.nextInt(3)))
      }
      val params = LinkageParams(threshold = 0.6, k = k)
      def run(p: LinkageParams, parts: Int) = withShufflePartitions(parts)(
        collectPairs(Linkage.candidatePairsFromEncoded(recs.toDS(), p)))
      val want = run(params, parts(0))
      run(params.copy(pairBudget = budget), parts(1)) == want &&
        (!noBlocking || want == naiveFinalized(recs, params))
    }
    for ((dsets, i) <- Seq(Seq(0, 1), Seq(0, 1, 2), Seq(-1, 0, 1)).zipWithIndex) {
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(3)
        .withWorkers(1).withInitialSeed(13L + i), prop(dsets))
      assert(result.passed, s"datasets $dsets: " + org.scalacheck.util.Pretty.pretty(result))
    }
  }

  test("blocking stage plan: one root action; unsalted, one payload exchange into the kernel " +
      "and no broadcast; salted, the kernel reads hashpartitioning(key, salt) over several partitions") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapGroupsExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import SparkTestBase.Plans
    val rnd = new scala.util.Random(3)
    // key 7 holds 20 × 20 records; keys 8..10 a third of them each
    val enc = (0 until 40).map(i =>
      record(i % 2, rnd.nextLong(), Array.fill(2)(rnd.nextLong()), Array(7L, 8L + i % 3))).toDS()
    for (budget <- Seq(LinkageParams().pairBudget, 10L)) {
      val params = LinkageParams(threshold = 0.6, pairBudget = budget)
      var blocked: Dataset[BlockedRow] = null
      var salted = false
      val actions = SparkTestBase.countRootActions {
        val (b, s) = Linkage.blockAndSaltWithStats(enc, params)
        blocked = b; salted = s
      }
      assert(actions == 1, s"pairBudget=$budget: $actions root actions")
      assert(salted == (budget == 10L))
      val scored = Linkage.scorePairs(blocked, params)
      scored.collect()
      val plan = scored.queryExecution.executedPlan
      val kernel = Plans.collect(plan) { case m: MapGroupsExec => m }
      assert(kernel.size == 1, plan)
      // pre-order: the first payload exchange is the kernel's input
      val payload = Plans.collect(kernel.head) {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "clk") => e
      }
      assert(Plans.collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
      if (!salted) assert(payload.size == 1, s"unsalted needs one payload exchange:\n$plan")
      else {
        assert(payload.size == 2, s"salted adds one payload exchange:\n$plan")
        val cols = payload.head.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
          case other => Seq(other.toString)
        }
        assert(cols == Seq("key", "salt"), s"kernel input partitioning: $cols\n$plan")
        // AQE would merge these few tiny partitions into one task; the
        // spread of a hot key's cells is the hash partitioning's
        val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
        spark.conf.set(coalesce, "false")
        val parts = try blocked.toDF().where($"key" === 7L)
          .select(spark_partition_id()).distinct().count()
        finally spark.conf.unset(coalesce)
        assert(parts >= 2, s"the hot key's cells ran in $parts partition(s)")
      }
    }
  }

  test("200+ hot bipartite keys at a tiny pairBudget: salted == unsalted == naive scoring") {
    // 20 groups of 4 + 4 variants of one prototype; each group's
    // records carry the group's 12 keys: 240 keys of 4 × 4 = 16 pairs,
    // every one hot at a budget of 4 (a 2 × 2 grid of 2 × 2 cells)
    val rnd = new scala.util.Random(17)
    val groups = (0 until 20).map { g =>
      val proto = Array.fill(2)(rnd.nextLong())
      (0 until 8).map(i =>
        record(i % 2, rnd.nextLong(), variant(rnd, proto), Array.tabulate(12)(j => g * 12L + j)))
    }
    val recs = groups.flatten
    val hot = recs.flatMap(r => r.bandKeys.map(_ -> r.dsetId)).groupBy(_._1).count { case (_, rs) =>
      rs.count(_._2 == 0).toLong * rs.count(_._2 == 1) > 4L
    }
    assert(hot >= 200, s"$hot hot keys")
    val base = LinkageParams(threshold = 0.6, k = Some(2))
    val salted = collectPairs(Linkage.candidatePairsFromEncoded(recs.toDS(), base.copy(pairBudget = 4L)))
    val unsalted = collectPairs(Linkage.candidatePairsFromEncoded(recs.toDS(), base))
    // blocks never span groups, so naive scoring is per group
    val naive = collectPairs(graft.cand.Candidates.finalize(groups.flatMap { g =>
      def side(d: Int) = g.filter(_.dsetId == d).map(r => (r.recId, BitVector.fromBytes(r.clk)))
      DiceKernel.naiveDice(side(0), side(1), base.threshold, base.k)
    }.toDF(), base.k))
    assert(naive.nonEmpty && salted == unsalted && unsalted == naive)
  }
}
