package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The spark-submit deployment entry for the full linkage pipeline:
  *
  * {{{
  * /opt/spark/bin/spark-submit --master <cluster> --class graft.RunPipeline \
  *   target/scala-2.13/anonlinkspark_2.13-0.1.0.jar \
  *   --input /data/pages_a,/data/pages_b --out /data/clusters \
  *   --threshold 0.85 --k 10 --solver greedy --checkpoint /data/ckpt
  * }}}
  *
  * Reads one or more page tables (the `input_hint` shape: url,
  * warc_ts, html, text, lang — extra columns are ignored) or CLK
  * interop files, runs encode → block/salt → Dice kernel → candidate
  * finalize → the chosen solver, writes the cluster table (and
  * optionally the candidate pairs) as Parquet, and prints ONE compact
  * JSON summary line (also written to `<out>/_SUMMARY.json` so cluster
  * runs keep it next to the data when driver stdout is discarded).
  *
  * This is the operational wrapper over the library API
  * ([[Linkage.candidatePairs]] / the solvers) — the same code path the
  * specs and Bench exercise, with arg parsing, multi-input dataset
  * assignment, snapshot-resume plumbing and metrics reporting. The
  * reference ships this lifecycle as a library call chain
  * (`find_candidate_pairs` + a solver,
  * `/root/reference/anonlink/candidate_generation.py:94-153`,
  * `solving.py`); at cluster scale the missing piece is a submittable
  * main, which this provides.
  *
  * Formats:
  *  - `pages` (default): each `--input` path is one Parquet dataset;
  *    dataset id = position in the list. With a single input holding
  *    all parties, `--dset-col <name>` names the dataset-id column.
  *  - `clk-json`: each input is one reference-interop `{"clks":[...]}`
  *    file ([[graft.io.ClkJsonSource.readJson]]); dataset id = position.
  *  - `clk-jsonl`: same, for the JSONL `{recId, clk}` layout.
  *    CLK formats carry no gram sets, so `--blocking` must be
  *    `bitband` or `none` (loud failure otherwise, see
  *    [[graft.io.ClkJsonSource.toEncoded]]).
  *
  * Solvers: `components` (transitive closure, V2′), `greedy`
  * (the reference `greedy_solve`, exact for any number of datasets,
  * V2″), `probabilistic` (distributed probabilistic greedy, V2‴;
  * `--merge-threshold`, `--allow-same-dataset`). Both greedy solvers
  * run [[graft.solve.DistributedProbGreedy]].
  *
  * `--checkpoint <dir>` makes every stage resumable from Parquet
  * snapshots with per-file lineage manifests
  * ([[graft.io.Snapshots]]); a killed run re-submitted with the same
  * args resumes after the last completed stage. Snapshots live under a
  * per-input subdirectory (hash of the --input/--format/--dset-col
  * args), so a re-submit with DIFFERENT inputs cannot silently resume
  * another run's candidates; the content keys additionally identify
  * parameters. The one remaining caveat: keys see args, not DATA —
  * after rewriting the input files in place under the same paths, pass
  * a fresh checkpoint dir.
  */
object RunPipeline {

  final case class Config(
      inputs: Seq[String] = Nil,
      format: String = "pages",
      out: String = "",
      pairsOut: Option[String] = None,
      dsetCol: Option[String] = None,
      threshold: Double = 0.8,
      k: Option[Int] = Some(10),
      blocking: String = "minhash",
      pairBudget: Long = 4L * 1000 * 1000,
      solver: String = "components",
      /** None = the solver default (0.5); Some only when explicitly
        * given, so validate can reject it under a solver that would
        * silently ignore it */
      mergeThreshold: Option[Double] = None,
      allowSameDataset: Boolean = false,
      checkpointDir: Option[String] = None,
      urls: Boolean = false)

  /** One row of run metrics; rendered as the JSON summary. A resumed
    * run reports `comparisons = 0` for stages that loaded from
    * snapshots (the accumulator only counts kernel work actually
    * executed — see [[Linkage.candidatePairsFromEncoded]]). */
  final case class Summary(
      records: Long, comparisons: Long, pairs: Long,
      clusteredRecords: Long, clusters: Long,
      pairsSec: Double, solveSec: Double, writeSec: Double) {
    def json: String =
      s"""{"records":$records,"comparisons":$comparisons,"pairs":$pairs,""" +
        s""""clustered_records":$clusteredRecords,"clusters":$clusters,""" +
        // Locale.ROOT: the default locale's decimal separator (e.g. a
        // comma under de_DE) would make the emitted JSON unparseable
        String.format(java.util.Locale.ROOT,
          """"pairs_sec":%.2f,"solve_sec":%.2f,"write_sec":%.2f}""",
          Double.box(pairsSec), Double.box(solveSec), Double.box(writeSec))
  }

  def parse(args: Array[String]): Config = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      msg + "\n" + usage)
    var c = Config()
    var i = 0
    def next(flag: String): String = {
      if (i + 1 >= args.length) fail(s"$flag needs a value")
      i += 1; args(i)
    }
    while (i < args.length) {
      args(i) match {
        case "--input" => c = c.copy(inputs = c.inputs ++ next("--input").split(",").filter(_.nonEmpty))
        case "--format" => c = c.copy(format = next("--format"))
        case "--out" => c = c.copy(out = next("--out"))
        case "--pairs-out" => c = c.copy(pairsOut = Some(next("--pairs-out")))
        case "--dset-col" => c = c.copy(dsetCol = Some(next("--dset-col")))
        case "--threshold" => c = c.copy(threshold = next("--threshold").toDouble)
        case "--k" =>
          val v = next("--k")
          c = c.copy(k = if (v.equalsIgnoreCase("none")) None else Some(v.toInt))
        case "--blocking" => c = c.copy(blocking = next("--blocking"))
        case "--pair-budget" => c = c.copy(pairBudget = next("--pair-budget").toLong)
        case "--solver" => c = c.copy(solver = next("--solver"))
        case "--merge-threshold" => c = c.copy(mergeThreshold = Some(next("--merge-threshold").toDouble))
        case "--allow-same-dataset" => c = c.copy(allowSameDataset = true)
        case "--checkpoint" => c = c.copy(checkpointDir = Some(next("--checkpoint")))
        case "--urls" => c = c.copy(urls = true)
        case other => fail(s"unknown argument: $other")
      }
      i += 1
    }
    validate(c)
  }

  private[graft] def validate(c: Config): Config = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      msg + "\n" + usage)
    if (c.inputs.isEmpty) fail("--input is required")
    if (c.out.isEmpty) fail("--out is required")
    if (!Set("pages", "clk-json", "clk-jsonl").contains(c.format))
      fail(s"unknown --format ${c.format} (pages | clk-json | clk-jsonl)")
    if (!Set("minhash", "bitband", "none").contains(c.blocking))
      fail(s"unknown --blocking ${c.blocking} (minhash | bitband | none)")
    if (!Set("components", "greedy", "probabilistic").contains(c.solver))
      fail(s"unknown --solver ${c.solver} (components | greedy | probabilistic)")
    if (c.format != "pages" && c.dsetCol.isDefined)
      fail("--dset-col only applies to --format pages")
    if (c.format != "pages" && c.blocking == "minhash")
      fail("CLK files carry no gram sets: use --blocking bitband or none " +
        "(minhash banding needs the raw text)")
    if (c.dsetCol.isEmpty && c.inputs.length < 2)
      fail("need >= 2 --input datasets, or one input with --dset-col")
    if (c.dsetCol.isDefined && c.inputs.length != 1)
      fail("--dset-col takes exactly one --input (the combined table)")
    if (c.urls && c.format != "pages")
      fail("--urls only applies to --format pages (CLK files carry no urls)")
    // solver-specific flags under the wrong solver would be silently
    // ignored — the same misconfiguration class as the checks above
    if (c.mergeThreshold.isDefined && c.solver != "probabilistic")
      fail("--merge-threshold only applies to --solver probabilistic")
    if (c.allowSameDataset && c.solver != "probabilistic")
      fail("--allow-same-dataset only applies to --solver probabilistic")
    // numeric ranges: a typo'd --threshold 8.5 or --k 0 must fail here,
    // not run the whole pipeline and exit 0 with an empty cluster table
    if (c.threshold.isNaN || c.threshold < 0.0 || c.threshold > 1.0)
      fail(s"--threshold must be in [0, 1] (got ${c.threshold})")
    if (c.k.exists(_ < 1))
      fail(s"--k must be >= 1 or none (got ${c.k.get})")
    if (c.pairBudget < 1L)
      fail(s"--pair-budget must be >= 1 (got ${c.pairBudget})")
    if (c.mergeThreshold.exists(m => m.isNaN || m <= 0.0 || m > 1.0))
      fail(s"--merge-threshold must be in (0, 1] (got ${c.mergeThreshold.get})")
    c
  }

  val usage: String =
    """usage: spark-submit --class graft.RunPipeline <jar>
      |  --input <paths>            comma-separated (or repeated); one dataset per
      |                             path, dataset id = list position
      |  --out <dir>                cluster table output (parquet)
      |  [--format pages|clk-json|clk-jsonl]   input shape (default pages)
      |  [--dset-col <name>]        single pages input: dataset-id column
      |  [--pairs-out <dir>]        also write candidate pairs (parquet)
      |  [--threshold 0.8]          Dice similarity threshold
      |  [--k 10|none]              per-record candidate cap (_enforce_k)
      |  [--blocking minhash|bitband|none]     (default minhash; CLK formats
      |                             require bitband or none)
      |  [--pair-budget N]          max comparisons per block cell before salting
      |  [--solver components|greedy|probabilistic]  (default components;
      |                             greedy = reference greedy_solve, any number
      |                             of datasets)
      |  [--merge-threshold 0.5]    probabilistic solver group-merge fraction
      |  [--allow-same-dataset]     probabilistic: allow same-dataset co-clustering
      |  [--checkpoint <dir>]       stage snapshots; re-submit with same args resumes
      |  [--urls]                   attach url to each clustered record (pages only)
      |""".stripMargin

  private def blockingOf(c: Config): BlockingStrategy = c.blocking match {
    case "minhash" => MinhashBlocking()
    case "bitband" => BitBandBlocking()
    case "none" => NoBlocking
  }

  /** Run the configured pipeline; returns the summary after all
    * outputs are written. Separated from [[main]] so specs drive the
    * exact deployment code path on the shared test session. */
  def run(spark: SparkSession, c0: Config): Summary = {
    // programmatic callers (SubmitScaling, specs) get the same loud
    // guards as the CLI: a typo'd solver must die here, not MatchError
    // after minutes of kernel work
    val c = validate(c0)
    // snapshots are scoped to THIS input set: a re-submit with the same
    // checkpoint dir but different --input lands in a different subdir
    // instead of silently resuming another corpus's candidates (the
    // library-level content keys identify parameters, not inputs)
    val inputKey = c.inputs.mkString(",") + "/" + c.format + "/" + c.dsetCol
    val ckptEff = c.checkpointDir.map(d =>
      graft.io.Snapshots.stageDir(d, "run", inputKey))
    val params = LinkageParams(
      blocking = blockingOf(c),
      threshold = c.threshold,
      k = c.k,
      pairBudget = c.pairBudget,
      checkpointDir = ckptEff)
    val comparisons = spark.sparkContext.longAccumulator("graft.comparisons")

    var t0 = System.nanoTime()
    def lap(): Double = {
      val t1 = System.nanoTime(); val s = (t1 - t0) / 1e9; t0 = t1; s
    }

    // ---- candidate generation ------------------------------------
    // candidatesKey: content key of the candidates snapshot stage
    val (pairs0, records, pagesWithDset, encCache, candidatesKey) = c.format match {
      case "pages" =>
        val withDset0 = c.dsetCol match {
          case Some(dc) =>
            val df = spark.read.parquet(c.inputs.head)
            require(df.columns.contains(dc),
              s"--dset-col $dc not found in ${c.inputs.head} " +
                s"(columns: ${df.columns.mkString(", ")})")
            df.withColumn("graft_dset", col(dc).cast("int"))
          case None =>
            c.inputs.zipWithIndex
              .map { case (p, ix) =>
                spark.read.parquet(p)
                  .select(col("url"), col("text"))
                  .withColumn("graft_dset", lit(ix))
              }
              .reduce(_ unionByName _)
        }
        // prune to the scored columns, THEN rebalance (only url+text+
        // dset ever shuffle); the records count and the --urls identity
        // join read the un-rebalanced scan — a count must not pay the
        // shuffle the scoring path needs
        val pruned = withDset0.select(col("url"), col("text"), col("graft_dset"))
        val pairs = Linkage.candidatePairs(graft.ops.Dedup.rebalanced(pruned), params,
          col("graft_dset"), comparisons = Some(comparisons))
        // checkpointed: encode emits one row per input page, so the
        // encode snapshot's manifest holds the records count
        val records = ckptEff match {
          case Some(d) => graft.io.Snapshots.rowCount(graft.io.Snapshots.stageDir(d,
            "encoded", Linkage.encodeKey(params, col("graft_dset"))), spark)
          case None => pruned.count()
        }
        (pairs, records, Some(pruned), None: Option[DataFrame],
          Linkage.candidatesKey(params, col("graft_dset")))
      case _ =>
        val read: String => DataFrame =
          if (c.format == "clk-json") graft.io.ClkJsonSource.readJson(spark, _)
          else graft.io.ClkJsonSource.readJsonl(spark, _)
        // cached: the decode pass feeds both the records count and the
        // scoring pipeline — without the cache every downstream action
        // re-reads and re-validates the interop files
        val enc = graft.ops.Dedup.rebalanced(c.inputs.zipWithIndex
          .map { case (p, ix) =>
            graft.io.ClkJsonSource.toEncoded(read(p), ix, params.blocking)
          }
          .reduce(_ union _))
          .cache()
        val records = enc.count()
        // same snapshot stage the pages path gets inside
        // Linkage.candidatePairs: a killed CLK run resumes here too
        val key = params.toString + "/clk"
        val pairs = graft.io.Snapshots.resumeOrCompute(spark, ckptEff,
            "candidates", key) {
          Linkage.candidatePairsFromEncoded(enc, params,
            comparisons = Some(comparisons))
        }
        (pairs, records, None, Some(enc), key)
    }
    // one materialization serves the pair count, the optional pairs
    // write and the solver (snapshot-backed when checkpointing)
    val pairs = if (ckptEff.isDefined) pairs0 else pairs0.cache()
    // everything below can throw (convergence guards, write failures):
    // the finally releases whatever this run cached, so a failed submit
    // in a long-lived session leaks nothing
    var clustersRef: Option[DataFrame] = None
    try {
    // checkpointed: the candidates snapshot's manifest; otherwise the
    // count is the action that materializes the pairs cache
    val nPairs = ckptEff match {
      case Some(d) => graft.io.Snapshots.rowCount(
        graft.io.Snapshots.stageDir(d, "candidates", candidatesKey), spark)
      case None => pairs.count()
    }
    encCache.foreach(_.unpersist()) // scoring materialized: release early
    val pairsSec = lap()

    // ---- solve ---------------------------------------------------
    val clusters = c.solver match {
      case "components" => Linkage.clusters(pairs, params, inputKey)
      case "greedy" =>
        graft.solve.DistributedProbGreedy.greedyClusters(pairs,
          checkpointDir = ckptEff.map(d => s"$d/greedy"))
      case "probabilistic" =>
        graft.solve.DistributedProbGreedy.clusters(pairs,
          c.mergeThreshold.getOrElse(0.5),
          deduplicated = !c.allowSameDataset,
          checkpointDir = ckptEff.map(d => s"$d/prob"))
    }
    clustersRef = Some(clusters)
    val withUrls =
      if (!c.urls) clusters
      else {
        // recId is the url hash (Linkage.recIdCol) — recompute it on the
        // input pages and join identity back onto the cluster rows
        val ident = pagesWithDset.get
          .select(col("graft_dset").as("dsetId"),
            Linkage.recIdCol(col("url")).as("recId"), col("url"))
          .dropDuplicates("dsetId", "recId")
        // a plain left join: the identity map is small next to the
        // corpus but unbounded, so AQE picks broadcast or shuffle
        clusters.join(ident, Seq("dsetId", "recId"), "left")
      }
    val solveSec = lap()

    // ---- write ---------------------------------------------------
    c.pairsOut.foreach(d => pairs.write.mode("overwrite").parquet(d))
    // both result metrics are observed on the output write itself.
    // Every solver labels a cluster with one member's node id, so the
    // clusters are the rows that carry their own node id
    val written = org.apache.spark.sql.Observation("graft.output")
    withUrls
      .observe(written, count(lit(1)).as("rows"),
        count(when(graft.solve.ConnectedComponents.Encoding.nodeIdCol(
          col("dsetId"), col("recId")) === col("clusterId"), 1)).as("clusters"))
      .write.mode("overwrite").parquet(c.out)
    val clusteredRecords = written.get("rows").asInstanceOf[Long]
    val nClusters = written.get("clusters").asInstanceOf[Long]
    // the output now owns the result: drop the solver round snapshots
    // (they live in per-run UUID subdirs a re-submit never reuses —
    // without this every submit leaks one matched-set snapshot; the
    // keyed candidates/clusters snapshots stay, they ARE the resume)
    for (d <- ckptEff; sub <- Seq("greedy", "prob")) {
      val p = new org.apache.hadoop.fs.Path(s"$d/$sub")
      scala.util.Try(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
    }
    val writeSec = lap()

    val s = Summary(records, comparisons.value, nPairs, clusteredRecords,
      nClusters, pairsSec, solveSec, writeSec)
    writeSummary(spark, c.out, s)
    s
    } finally {
      // idempotent re-release of the early unpersists on the success
      // path; the only release at all on a failure path
      encCache.foreach(_.unpersist())
      if (ckptEff.isEmpty) {
        pairs.unpersist()
        clustersRef.foreach(_.unpersist())
      }
    }
  }

  private def writeSummary(spark: SparkSession, outDir: String, s: Summary): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir, "_SUMMARY.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write((s.json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Session builder for ALL submittable graft mains ([[main]],
    * [[graft.tools.MakeCorpus]], [[graft.tools.SubmitScaling]]): TRUE
    * fallbacks only. builder.config() would override a spark-submit
    * `--conf` / spark-defaults.conf value (submit delivers those as
    * spark.* system properties, which the builder's explicit options
    * take precedence over) — so only fill keys the submit left unset;
    * the `local[*]` master lets `sbt runMain` start a main directly. */
  def buildSession(appName: String): SparkSession = {
    val submitted = new org.apache.spark.SparkConf() // loads spark.* sys props
    var builder = SparkSession.builder().appName(appName)
    if (!submitted.contains("spark.master"))
      builder = builder.master("local[*]")
    if (!submitted.contains("spark.sql.shuffle.partitions"))
      builder = builder.config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
    if (!submitted.contains("spark.sql.session.timeZone"))
      builder = builder.config("spark.sql.session.timeZone", "UTC")
    builder.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val c =
      try parse(args)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage); sys.exit(2)
      }
    val spark = buildSession("graft-linkage")
    try println(run(spark, c).json)
    finally spark.stop()
  }
}
