package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.gen.Corpus

/** The spark-submit deployment entry ([[RunPipeline]]): arg parsing,
  * input-shape validation, and end-to-end equivalence of the CLI code
  * path with the direct library API it wraps. */
class RunPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val corpusDirs: (String, String, String) = {
    val base = java.nio.file.Files.createTempDirectory("runpipe").toString
    val labeled = Corpus.labeledPages(spark, Corpus.Params(entities = 120L, seed = 11L))
    labeled.where(col("dsetId") === 0)
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(s"$base/a")
    labeled.where(col("dsetId") === 1)
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(s"$base/b")
    // the combined single-table form with an explicit dataset column
    labeled.select("url", "warc_ts", "html", "text", "lang", "dsetId")
      .write.mode("overwrite").parquet(s"$base/all")
    (base, s"$base/a", s"$base/b")
  }

  private def clusterSet(df: org.apache.spark.sql.DataFrame): Set[Set[(Int, Long)]] =
    df.select(col("clusterId").cast("long"), col("dsetId").cast("int"),
        col("recId").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .values.map(_.map(r => (r.getInt(1), r.getLong(2))).toSet)
      .toSet

  test("parse: full flag set round-trips into Config") {
    val c = RunPipeline.parse(Array(
      "--input", "/x/a,/x/b", "--out", "/x/out", "--pairs-out", "/x/pairs",
      "--threshold", "0.85", "--k", "none", "--blocking", "bitband",
      "--pair-budget", "1000", "--solver", "probabilistic",
      "--merge-threshold", "0.6", "--allow-same-dataset",
      "--checkpoint", "/x/ckpt", "--urls"))
    assert(c == RunPipeline.Config(
      inputs = Seq("/x/a", "/x/b"), out = "/x/out",
      pairsOut = Some("/x/pairs"), threshold = 0.85, k = None,
      blocking = "bitband", pairBudget = 1000L, solver = "probabilistic",
      mergeThreshold = Some(0.6), allowSameDataset = true,
      checkpointDir = Some("/x/ckpt"), urls = true))
  }

  test("parse: invalid configurations fail loudly") {
    def bad(args: String*): Unit =
      intercept[IllegalArgumentException](RunPipeline.parse(args.toArray))
    bad("--out", "/x") // no input
    bad("--input", "/a,/b") // no out
    bad("--input", "/a,/b", "--out", "/x", "--format", "csv")
    bad("--input", "/a,/b", "--out", "/x", "--solver", "exact")
    bad("--input", "/a,/b", "--out", "/x", "--blocking", "lsh")
    bad("--input", "/a", "--out", "/x") // one dataset, no dset-col
    bad("--input", "/a,/b", "--out", "/x", "--dset-col", "d") // dset-col + 2 inputs
    // CLK files carry no gram sets: minhash (the default) must be
    // rejected, not silently substituted
    bad("--input", "/a,/b", "--out", "/x", "--format", "clk-jsonl")
    bad("--input", "/a,/b", "--out", "/x", "--format", "clk-jsonl", "--urls",
      "--blocking", "bitband")
    bad("--input", "/a,/b", "--out", "/x", "--threshold") // missing value
    bad("--input", "/a,/b", "--out", "/x", "--frobnicate", "1")
    // numeric ranges: typos must die in parse, not run the pipeline
    bad("--input", "/a,/b", "--out", "/x", "--threshold", "8.5")
    bad("--input", "/a,/b", "--out", "/x", "--threshold", "-0.1")
    bad("--input", "/a,/b", "--out", "/x", "--k", "0")
    bad("--input", "/a,/b", "--out", "/x", "--pair-budget", "0")
    bad("--input", "/a,/b", "--out", "/x", "--solver", "probabilistic",
      "--merge-threshold", "1.5")
    bad("--input", "/a,/b", "--out", "/x", "--solver", "probabilistic",
      "--merge-threshold", "0")
    // solver-specific flags under a solver that would silently ignore
    // them must be rejected, not dropped
    bad("--input", "/a,/b", "--out", "/x", "--merge-threshold", "0.6")
    bad("--input", "/a,/b", "--out", "/x", "--solver", "greedy",
      "--allow-same-dataset")
  }

  test("run() validates programmatic configs too (typo'd solver dies " +
      "before any kernel work, not as a MatchError after it)") {
    val e = intercept[IllegalArgumentException] {
      RunPipeline.run(spark, RunPipeline.Config(
        inputs = Seq("/a", "/b"), out = "/x", solver = "greddy"))
    }
    assert(e.getMessage.contains("unknown --solver"))
  }

  test("summary JSON is locale-independent (decimal POINT under a " +
      "comma-separator default locale)") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val j = RunPipeline.Summary(1, 2, 3, 4, 5, 1.5, 2.25, 0.125).json
      assert(j.contains(""""pairs_sec":1.50"""), j)
      assert(j.contains(""""solve_sec":2.25"""), j)
      assert(!j.contains(","+"5"), j) // no 1,50-style comma decimals
    } finally java.util.Locale.setDefault(prev)
  }

  test("pages inputs through the CLI path == direct library API " +
      "(components solver), and the summary/output artifacts are written") {
    val (base, a, b) = corpusDirs
    val out = s"$base/out_components"
    val summary = RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(a, b), out = out, pairsOut = Some(s"$base/pairs"),
      threshold = 0.8, urls = true))

    // direct API on the same inputs
    val pages = spark.read.parquet(a).select(col("url"), col("text"))
      .withColumn("graft_dset", lit(0))
      .unionByName(spark.read.parquet(b).select(col("url"), col("text"))
        .withColumn("graft_dset", lit(1)))
    val params = LinkageParams(threshold = 0.8)
    val pairs = Linkage.candidatePairs(pages, params, col("graft_dset")).cache()
    val expected = Linkage.clusters(pairs, params, "spec")

    val got = spark.read.parquet(out)
    assert(clusterSet(got) == clusterSet(expected))
    assert(summary.records == pages.count())
    assert(summary.pairs == pairs.count())
    assert(summary.pairs == spark.read.parquet(s"$base/pairs").count())
    assert(summary.clusteredRecords == expected.count())
    assert(summary.clusters == clusterSet(expected).size)
    assert(summary.comparisons > 0L)
    // every clustered record carries its url (identity attached from
    // the input pages; left join must not have dropped or duplicated)
    assert(got.where(col("url").isNull).count() == 0)
    assert(got.count() == summary.clusteredRecords)
    // the summary is persisted next to the data for cluster runs
    val persisted = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_SUMMARY.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(persisted.trim == summary.json)
    pairs.unpersist(); expected.unpersist()
  }

  test("single combined input with --dset-col == two-input run") {
    val (base, a, b) = corpusDirs
    val out1 = s"$base/out_two"; val out2 = s"$base/out_dsetcol"
    RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(a, b), out = out1))
    RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(s"$base/all"), dsetCol = Some("dsetId"), out = out2))
    assert(clusterSet(spark.read.parquet(out1)) ==
      clusterSet(spark.read.parquet(out2)))
  }

  test("greedy solver: CLI run == DistributedProbGreedy.greedyClusters; " +
      "probabilistic run == DistributedProbGreedy.clusters") {
    val (base, a, b) = corpusDirs
    val outG = s"$base/out_greedy"; val outP = s"$base/out_prob"
    RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(a, b), out = outG, solver = "greedy"))
    RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(a, b), out = outP, solver = "probabilistic",
      mergeThreshold = Some(0.5)))

    val pages = spark.read.parquet(a).select(col("url"), col("text"))
      .withColumn("graft_dset", lit(0))
      .unionByName(spark.read.parquet(b).select(col("url"), col("text"))
        .withColumn("graft_dset", lit(1)))
    val params = LinkageParams(threshold = 0.8)
    val pairs = Linkage.candidatePairs(pages, params, col("graft_dset")).cache()
    val expG = graft.solve.DistributedProbGreedy.greedyClusters(pairs)
    assert(clusterSet(spark.read.parquet(outG)) == clusterSet(expG))
    val expP = graft.solve.DistributedProbGreedy.clusters(pairs, 0.5)
    assert(clusterSet(spark.read.parquet(outP)) == clusterSet(expP))
    pairs.unpersist(); expP.unpersist()
  }

  test("3-party greedy run == Greedy.greedySolve over the same pairs; " +
      "a failed run releases its caches") {
    val base = corpusDirs._1
    val labeled = Corpus.labeledPages(spark, Corpus.Params(
      entities = 40L, seed = 13L, minVariants = 3, maxVariants = 3))
    labeled.select(col("url"), col("warc_ts"), col("html"), col("text"),
        col("lang"), (col("variantId") % 3).as("party"))
      .write.mode("overwrite").parquet(s"$base/three")
    val cfg = RunPipeline.Config(inputs = Seq(s"$base/three"),
      dsetCol = Some("party"), out = s"$base/out_three", solver = "greedy",
      pairsOut = Some(s"$base/pairs_three"))
    RunPipeline.run(spark, cfg)
    val pairs = spark.read.parquet(s"$base/pairs_three")
    assert(pairs.select(col("dset0"), col("dset1")).distinct().count() == 3L)
    val want = SparkTestBase.greedyOracle(pairs)
      .map(_.map(r => (r.dset, r.rec)).toSet).toSet
    assert(clusterSet(spark.read.parquet(s"$base/out_three")) == want)
    assert(want.exists(_.size > 2), "no multiparty group — weak test input")

    // --pairs-out under a regular file fails AFTER the candidate pairs
    // were cached and materialized — the failure path must not pin them
    // in the session
    val blocker = java.nio.file.Files.createTempFile("runpipe", ".blocker").toString
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      RunPipeline.run(spark, cfg.copy(pairsOut = Some(s"$blocker/pairs")))
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"failed run leaked cached RDDs: $leaked")
  }

  test("clk-jsonl inputs: CLI run == ClkJsonSource pipeline tail") {
    val (base, a, b) = corpusDirs
    // hand the corpus off through the interop format, then link the files
    val params = LinkageParams(blocking = BitBandBlocking(), threshold = 0.8)
    val pages = spark.read.parquet(a).select(col("url"), col("text"))
      .withColumn("graft_dset", lit(0))
      .unionByName(spark.read.parquet(b).select(col("url"), col("text"))
        .withColumn("graft_dset", lit(1)))
    val enc = Linkage.encode(pages, params, col("graft_dset"))
    for (d <- Seq(0, 1))
      graft.io.ClkJsonSource.writeJsonl(
        enc.toDF().where(col("dsetId") === d).select(col("recId"), col("clk")),
        s"$base/clks_$d")

    val out = s"$base/out_clk"
    val summary = RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(s"$base/clks_0", s"$base/clks_1"), format = "clk-jsonl",
      blocking = "bitband", out = out))

    val expPairs = graft.io.ClkJsonSource.toEncoded(
        graft.io.ClkJsonSource.readJsonl(spark, s"$base/clks_0"), 0, params.blocking)
      .union(graft.io.ClkJsonSource.toEncoded(
        graft.io.ClkJsonSource.readJsonl(spark, s"$base/clks_1"), 1, params.blocking))
    val pairs = Linkage.candidatePairsFromEncoded(expPairs, params).cache()
    val expected = Linkage.clusters(pairs, params, "spec-clk")
    assert(clusterSet(spark.read.parquet(out)) == clusterSet(expected))
    assert(summary.records == pages.count())
    pairs.unpersist(); expected.unpersist()
  }

  test("greedy solver accepts a 1-based two-party --dset-col coding " +
      "({1,2}, not {0,1})") {
    val (base, a, b) = corpusDirs
    val labeled = Corpus.labeledPages(spark, Corpus.Params(entities = 120L, seed = 11L))
    labeled.select(col("url"), col("warc_ts"), col("html"), col("text"),
        col("lang"), (col("dsetId") + 1).as("party"))
      .write.mode("overwrite").parquet(s"$base/all12")
    val out = s"$base/out_greedy12"
    RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(s"$base/all12"), dsetCol = Some("party"), out = out,
      solver = "greedy"))
    // same matching as the {0,1}-coded two-input greedy run, modulo ids
    val outG = s"$base/out_greedy_ref"
    RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(a, b), out = outG, solver = "greedy"))
    def shifted(df: org.apache.spark.sql.DataFrame, by: Int) =
      df.withColumn("dsetId", col("dsetId") + by)
    assert(clusterSet(spark.read.parquet(out)) ==
      clusterSet(shifted(spark.read.parquet(outG), 1)))
  }

  test("checkpoint dir is input-scoped: re-submitting with different " +
      "--input does not resume the old corpus's candidates") {
    val (base, a, b) = corpusDirs
    val out = s"$base/out_swap"; val ckpt = s"$base/ckpt_swap"
    // a second, disjoint corpus written to different paths
    val other = Corpus.labeledPages(spark, Corpus.Params(entities = 60L, seed = 47L))
    for (d <- Seq(0, 1))
      other.where(col("dsetId") === d)
        .select("url", "warc_ts", "html", "text", "lang")
        .write.mode("overwrite").parquet(s"$base/other_$d")
    val s1 = RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(a, b), out = out, checkpointDir = Some(ckpt)))
    val s2 = RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(s"$base/other_0", s"$base/other_1"), out = out,
      checkpointDir = Some(ckpt)))
    // the second run scored its own corpus (kernel ran; record/cluster
    // counts are the other corpus's, not a stale reuse of run 1's)
    assert(s2.comparisons > 0L)
    assert(s2.records != s1.records)
    val direct = RunPipeline.run(spark, RunPipeline.Config(
      inputs = Seq(s"$base/other_0", s"$base/other_1"), out = s"$base/out_swap2"))
    assert(clusterSet(spark.read.parquet(out)) ==
      clusterSet(spark.read.parquet(s"$base/out_swap2")))
    assert(s2.pairs == direct.pairs && s2.clusters == direct.clusters)
  }

  test("clk-jsonl + checkpoint: the candidates stage snapshots and a " +
      "re-run resumes with no kernel work") {
    val (base, a, b) = corpusDirs
    val params = LinkageParams(blocking = BitBandBlocking(), threshold = 0.8)
    val pages = spark.read.parquet(a).select(col("url"), col("text"))
      .withColumn("graft_dset", lit(0))
      .unionByName(spark.read.parquet(b).select(col("url"), col("text"))
        .withColumn("graft_dset", lit(1)))
    val enc = Linkage.encode(pages, params, col("graft_dset"))
    for (d <- Seq(0, 1))
      graft.io.ClkJsonSource.writeJsonl(
        enc.toDF().where(col("dsetId") === d).select(col("recId"), col("clk")),
        s"$base/ckclks_$d")
    val out = s"$base/out_clk_ckpt"
    val cfg = RunPipeline.Config(
      inputs = Seq(s"$base/ckclks_0", s"$base/ckclks_1"), format = "clk-jsonl",
      blocking = "bitband", out = out, checkpointDir = Some(s"$base/ckpt_clk"))
    val first = RunPipeline.run(spark, cfg)
    assert(first.comparisons > 0L)
    val firstClusters = clusterSet(spark.read.parquet(out))
    val second = RunPipeline.run(spark, cfg)
    assert(second.comparisons == 0L)
    assert(second.pairs == first.pairs)
    assert(clusterSet(spark.read.parquet(out)) == firstClusters)
  }

  test("checkpoint resume: a re-run with the same args reloads snapshots " +
      "(no kernel work) and reproduces the output") {
    val (base, a, b) = corpusDirs
    val out = s"$base/out_ckpt"; val ckpt = s"$base/ckpt"
    val cfg = RunPipeline.Config(
      inputs = Seq(a, b), out = out, checkpointDir = Some(ckpt))
    val first = RunPipeline.run(spark, cfg)
    assert(first.comparisons > 0L)
    val firstClusters = clusterSet(spark.read.parquet(out))
    var second: RunPipeline.Summary = null
    val jobs = SparkTestBase.countJobs { second = RunPipeline.run(spark, cfg) }
    // the resumed stages are read back with their recorded schema, so no
    // Parquet schema-inference job runs
    assert(jobs == 3, s"the resumed run started $jobs Spark jobs (pinned: 3)")
    // snapshots owned the candidates: the kernel never ran again
    assert(second.comparisons == 0L)
    assert(second.pairs == first.pairs)
    assert(second.clusters == first.clusters)
    assert(clusterSet(spark.read.parquet(out)) == firstClusters)
  }

  test("greedy + checkpoint: per-run solver round snapshots are pruned " +
      "once the output is written (re-submits must not leak them)") {
    val (base, a, b) = corpusDirs
    val ckpt = s"$base/ckpt_greedy"
    val cfg = RunPipeline.Config(
      inputs = Seq(a, b), out = s"$base/out_greedy_ck", solver = "greedy",
      checkpointDir = Some(ckpt))
    RunPipeline.run(spark, cfg)
    RunPipeline.run(spark, cfg) // resume path must also stay clean
    def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }
    val leaked = walk(java.nio.file.Paths.get(ckpt))
      .filter(p => p.getFileName.toString == "greedy")
    assert(leaked.isEmpty, s"leaked solver snapshot dirs: $leaked")
  }

  test("checkpointed summaries equal explicit counts for every solver, " +
      "and a resumed run reports the fresh run's numbers") {
    val (base, a, b) = corpusDirs
    val inputRecords = spark.read.parquet(a).count() + spark.read.parquet(b).count()
    for (solver <- Seq("components", "greedy", "probabilistic")) {
      val out = s"$base/out_counts_$solver"; val pairsOut = s"$base/pairs_counts_$solver"
      val cfg = RunPipeline.Config(inputs = Seq(a, b), out = out,
        pairsOut = Some(pairsOut), solver = solver,
        checkpointDir = Some(s"$base/ckpt_counts_$solver"))
      def counted(s: RunPipeline.Summary): Seq[Long] = {
        val got = spark.read.parquet(out)
        assert(s.records == inputRecords, solver)
        assert(s.pairs == spark.read.parquet(pairsOut).count(), solver)
        assert(s.clusteredRecords == got.count(), solver)
        assert(s.clusters == got.select("clusterId").distinct().count(), solver)
        Seq(s.records, s.pairs, s.clusteredRecords, s.clusters)
      }
      val fresh = RunPipeline.run(spark, cfg)
      assert(fresh.comparisons > 0L && fresh.clusters > 0L, solver)
      val freshCounts = counted(fresh)
      val resumed = RunPipeline.run(spark, cfg)
      assert(resumed.comparisons == 0L, s"$solver: the resumed run scored again")
      assert(counted(resumed) == freshCounts, solver)
    }
  }

  test("a run that finds no candidate pairs reports zero counts, " +
      "checkpointed or not") {
    val base = corpusDirs._1
    for ((d, words) <- Seq(0 -> "alpha beta gamma delta", 1 -> "kappa lambda sigma omega"))
      Seq((s"http://x$d/1", words), (s"http://x$d/2", words.reverse))
        .toDF("url", "text").write.mode("overwrite").parquet(s"$base/nopairs_$d")
    for (ckpt <- Seq(None, Some(s"$base/ckpt_nopairs"))) {
      val s = RunPipeline.run(spark, RunPipeline.Config(
        inputs = Seq(s"$base/nopairs_0", s"$base/nopairs_1"),
        out = s"$base/out_nopairs", checkpointDir = ckpt))
      assert((s.records, s.pairs, s.clusteredRecords, s.clusters) == ((4L, 0L, 0L, 0L)),
        s"checkpoint $ckpt")
    }
  }

  test("a checkpointed run's Spark actions are pinned: counts come from " +
      "the writes, not from extra passes") {
    val base = corpusDirs._1
    val cfg = RunPipeline.Config(inputs = Seq(s"$base/all"), dsetCol = Some("dsetId"),
      out = s"$base/out_actions", checkpointDir = Some(s"$base/ckpt_actions"))
    val n = SparkTestBase.countRootActions { RunPipeline.run(spark, cfg) }
    // encode snapshot write, hot-key census, candidates snapshot write,
    // the clustering gate collect, clusters snapshot write, output write
    // (the input rebalance reads plan statistics first: this small scan
    // is under its size gate, so its partition count is never probed;
    // the driver-built cluster table is a local relation, no job)
    assert(n == 6, s"a checkpointed run executed $n root actions (pinned: 6) — " +
      "a count-only pass over a stage that was just written came back")
  }
}
