package graft

import org.scalatest.funsuite.AnyFunSuite
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
    val p1 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = collectPairs(Linkage.candidatePairs(pagesDf.repartition(2), params, dsetExpr))
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      val b = collectPairs(Linkage.candidatePairs(pagesDf.repartition(13), params, dsetExpr))
      assert(a.nonEmpty && a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", p1)
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
}
