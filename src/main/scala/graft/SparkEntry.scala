package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gen.Corpus

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers the operator inventory of SURVEY.md §2 re-expressed
  * Spark-first, over (a) the driver's parquet tables for everything a
  * DuckDB oracle can replicate, and (b) the deterministic synthesized
  * web-page corpus (BASELINE.json input_hint) for the linkage-native
  * operators whose kernels SQL cannot express (those get the driver's
  * rows-only check).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Differential-oracle aux dumps. Several operators' kernels are not
    * SQL-expressible (custom 64-bit hash chains, typed kernels), but
    * their PIPELINE TAILS are (windows, joins, CC, histograms, bit
    * math). When `graft.oracle.aux=1` (set by [[Verify]] only — never
    * by Bench), the query dumps a deterministic intermediate to this
    * fixed absolute dir and the oracle SQL recomputes the tail from it
    * with `read_parquet`, turning a rows-only check into a hash-exact
    * differential one on REAL pipeline data. The dumped frame is read
    * BACK and fed downstream, so oracle and engine consume byte-
    * identical inputs. Without the property the tap is free (identity). */
  val oracleAuxDir = "/tmp/graft_oracle_aux"
  private def dumpAux(name: String, df: DataFrame): DataFrame =
    if (!sys.props.get("graft.oracle.aux").contains("1")) df
    else {
      val p = s"$oracleAuxDir/$name"
      df.coalesce(1).write.mode("overwrite").parquet(p)
      df.sparkSession.read.parquet(p)
    }
  private def auxTap(prefix: String): ops.Dedup.Tap =
    (stage, df) => dumpAux(s"${prefix}_$stage", df)

  /** Oracle-parity guard: the DuckDB oracles for the text queries
    * compare codepoint math against Scala's UTF-16/UTF-8 handling —
    * identical only on pure-ASCII text. Asserted per row, but ONLY
    * when the oracle will actually be compared (graft.Verify sets
    * `graft.oracle.aux=1`): a non-ASCII corpus must fail the verify
    * run with this message instead of a confusing hash mismatch, while
    * Bench and library callers keep full UTF-16-correct behavior and
    * pay no per-row encode. `allowNull = false` also rejects NULL text
    * (the typed kernels downstream would NPE with a far worse message);
    * multimodal passes `allowNull = true` because its engine and
    * NULL-proofed oracle agree on NULL media. */
  private def asciiAsserted(df: DataFrame, query: String,
      allowNull: Boolean = false): DataFrame =
    if (!sys.props.get("graft.oracle.aux").contains("1")) df
    else {
      val ascii = length(col("text")) === octet_length(encode(col("text"), "UTF-8"))
      val pred = if (allowNull) col("text").isNull || ascii else col("text").isNotNull && ascii
      val msg = s"$query oracle parity requires a" +
        (if (allowNull) "" else " non-null") + " pure-ASCII corpus"
      df.where(assert_true(pred, lit(msg)).isNull)
    }

  /** Deterministic bipartite linkage corpus (fixed across sf dirs: the
    * linkage pipeline's input is synthesized per BASELINE.json, not the
    * TPC-H-ish harness tables). Materialized once per process into a
    * tmp Parquet ([[materializedOnce]]): the blocking stage alone scans
    * its input three times (census, active build side, kernel feed) and
    * seven queries start from this corpus, so uncached each scan re-ran
    * the synthesizer inside the timed region. Synthesis is
    * deterministic (fixed seed) — the rows, and every downstream
    * result, are identical to the inline form. */
  private def corpus(s: SparkSession) =
    materializedOnce(s, linkCorpusDir, "graft_link_corpus") {
      Corpus.labeledPages(s, Corpus.Params(entities = 500L, seed = 11L,
        minVariants = 2, maxVariants = 2))
    }

  /** dedup_scale input: 25k entities × 2 near-dup variants = 50k docs,
    * synthesized ONCE PER PROCESS into a fresh tmp Parquet dir and read
    * back by every subsequent evaluation. Round-5 verdict item: the
    * bench re-synthesized this corpus inside every sample, so generator
    * time and pipeline time were indistinguishable (its two samples
    * disagreed 1.44×) — materializing the INPUT once makes each sample
    * measure the dedup pipeline. The dir is created fresh per JVM
    * (never reused across runs — every bench/verify invocation still
    * synthesizes from scratch exactly once) and removed on exit; the
    * synthesis is deterministic (fixed seed), so the rows — and every
    * downstream result — are identical to the inline form. */
  private val scaleCorpusDir = new java.util.concurrent.atomic.AtomicReference[String]()
  private val linkCorpusDir = new java.util.concurrent.atomic.AtomicReference[String]()
  private def materializedOnce(s: SparkSession,
      ref: java.util.concurrent.atomic.AtomicReference[String], prefix: String)(
      gen: => DataFrame): DataFrame = {
    if (ref.get() == null) ref.synchronized {
      if (ref.get() == null) {
        val d = java.nio.file.Files.createTempDirectory(prefix).toString
        gen.write.mode("overwrite").parquet(d)
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def rec(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rec)
            f.delete(); ()
          }
          try rec(new java.io.File(d)) catch { case _: Throwable => () }
        }))
        ref.set(d)
      }
    }
    s.read.parquet(ref.get())
  }
  private def scaleCorpus(s: SparkSession): DataFrame =
    materializedOnce(s, scaleCorpusDir, "graft_scale_corpus") {
      Corpus.labeledPages(s, Corpus.Params(entities = 25000L,
          seed = 307L, minVariants = 2, maxVariants = 2, perturbation = 0.03))
        .select(Linkage.recIdCol(col("url")).as("doc_id"), col("text"))
    }

  private val linkParams = LinkageParams(
    blocking = MinhashBlocking(), threshold = 0.75, k = Some(5))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0:
    * full linkage — synthesize pages, encode CLKs, block, score, solve. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = corpus(spark)
    val (_, clusters) = Linkage.run(pages, linkParams, col("dsetId"))
    clusters
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- linkage-native operators (no SQL equivalent → rows-only) ----
    "linkage_candidates" -> ((s, _) => {
      // the REAL pipeline with its pre-finalize stream tapped, so the
      // DuckDB oracle hard-verifies the C3 dedup + C4 _enforce_k tail
      // on real kernel output (the kernel itself is sbt-verified
      // against the naive oracle — see PipelineSpec)
      Linkage.candidatePairs(corpus(s), linkParams, col("dsetId"),
        tap = auxTap("linkage_candidates"))
    }),
    "linkage_clusters" -> ((s, _) => {
      // pairs tapped so the oracle recomputes the V2 transitive closure
      // (recursive min-label CC in SQL) from the same edges
      Linkage.clusters(
        dumpAux("linkage_cluster_pairs",
          Linkage.candidatePairs(corpus(s), linkParams, col("dsetId"))), linkParams)
    }),
    "clk_popcounts" -> ((s, dir) => {
      // E1/S4: CLK encode + popcount over the documents table. The CLK
      // bytes are tapped so DuckDB independently popcounts the SAME
      // bitmaps (blob→BIT bit_count) — a differential check of the
      // native popcount_bin Catalyst expression on real CLKs.
      import s.implicits._
      val p = graft.encode.ClkParams()
      val clks = t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) => (id, graft.encode.ClkEncoder.encodeBytes(text, p)) }
        .toDF("doc_id", "clk")
      dumpAux("clk_popcounts_clks", clks)
        .select($"doc_id", functions.BitFunctions.popcount_bin($"clk").as("pop"))
    }),
    "minhash_bands" -> ((s, dir) => {
      // B1-analogue: minhash band keys per document (UDTF-style explode).
      // ASCII asserted: the DuckDB oracle (OracleSqlGen.minhashBandsSql)
      // re-derives the word-gram hashes from codepoints while Scala
      // hashes UTF-16 code units — identical only on ASCII text.
      import s.implicits._
      val mh = block.MinhashParams()
      val p = graft.encode.ClkParams()
      asciiAsserted(t(s, dir, "documents"), "minhash_bands")
        .select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          block.Blocking.minhashBandKeys(graft.encode.ClkEncoder.ngramHashes(text, p), mh)
            .map(k => (id, k))
        }.toDF("doc_id", "band_key")
    }),
    "dice_pairs_scalar" -> ((s, dir) => {
      // S5: re-score an explicit pair list (docs i and i+1) with the
      // scalar Dice — used by the F1 evaluator path
      import s.implicits._
      val p = graft.encode.ClkParams()
      val docs = t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, txt) => (id, graft.encode.ClkEncoder.encodeBytes(txt, p)) }
        .toDF("doc_id", "clk")
      val a = docs.select($"doc_id".as("id0"), $"clk".as("clk0"))
      val b = docs.select(($"doc_id" - 1).as("id0"), $"doc_id".as("id1"), $"clk".as("clk1"))
      // tapped so DuckDB recomputes the Dice from the same CLK bytes
      // (bit_count over blob→BIT AND) — differential check of dice_bin
      dumpAux("dice_pairs_clks",
        a.join(b, "id0").select($"id0", $"id1", $"clk0", $"clk1"))
        .select($"id0", $"id1",
          functions.BitFunctions.dice_bin($"clk0", $"clk1").as("dice"))
    }),
    "linkage_greedy_clusters" -> ((s, _) => {
      // the reference greedy_solve, exact for any input
      // (solve.DistributedProbGreedy at merge_threshold = 1, not
      // deduplicated; clusters labelled by the founding pair's rec0
      // endpoint); pairs tapped so the oracle replays the same greedy
      // sweep as unrolled mutual-best rounds, which equal it on these
      // deduped bipartite pairs (OracleSqlGen.greedyClustersSql)
      graft.solve.DistributedProbGreedy.greedyClusters(
        dumpAux("linkage_greedy_pairs",
          Linkage.candidatePairs(corpus(s), linkParams, col("dsetId"))))
    }),
    "linkage_prob_clusters" -> ((s, _) => {
      // V2‴: distributed EXACT multiparty probabilistic greedy
      // (solve.DistributedProbGreedy — solved on the driver when small,
      // component-parallel otherwise; bit-exact vs the sequential
      // reference port either way). At merge_threshold = 1.0 on
      // the pipeline's deduped BIPARTITE pairs it coincides with
      // greedy matching: a group's only cross-edges to a lone record
      // come from its single opposite-dataset member, so the overlap
      // counter can never reach |g0|·|g1| past 1×1 groups. (With ≥3
      // datasets unique pairs CAN merge 3-groups — e.g. {a0,b1} + c2
      // via (a0,c2)+(b1,c2) — so this oracle is valid ONLY while the
      // corpus is 2-party; the multiparty semantics are differential-
      // tested in SolverDistSpec instead.) The unrolled mutual-best
      // oracle replays the sweep; it relabels clusters to the solver's
      // min-member-node-id convention.
      graft.solve.DistributedProbGreedy.clusters(
        dumpAux("linkage_prob_pairs",
          Linkage.candidatePairs(corpus(s), linkParams, col("dsetId"))),
        mergeThreshold = 1.0, deduplicated = true)
    }),
    "linkage_eval" -> ((s, _) => {
      // the north-rule metric as an operator: pairwise precision/
      // recall/F1 of the full pipeline's clusters vs the corpus's
      // planted entity labels, computed from group sizes only (no pair
      // materialization — see solve.Evaluation). Truth and clusters
      // are tapped so the oracle recomputes the same pair-counting
      // identity in SQL.
      val pages = corpus(s)
      val truth = dumpAux("linkage_eval_truth", pages.select(
        col("dsetId"), Linkage.recIdCol(col("url")).as("recId"), col("entityId")))
      val clusters = dumpAux("linkage_eval_clusters",
        Linkage.clusters(Linkage.candidatePairs(pages, linkParams, col("dsetId")), linkParams))
      graft.solve.Evaluation.pairwise(truth, clusters)
    }),

    // ---- engine surface with DuckDB oracles (SURVEY §2.8 checklist) ----
    "q_agg" -> ((s, dir) => {
      // aggregation + exact sums (integral doubles)
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          countDistinct("l_orderkey").as("n_orders"))
    }),
    "q_filter_project" -> ((s, dir) => {
      // predicate + projection pushdown to the scan
      t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R" && col("l_quantity") >= 25)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),
    "q_topk_window" -> ((s, dir) => {
      // C4 k-enforcement shape: rank ≤ k per group under a total order
      val w = Window.partitionBy("l_suppkey")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    }),
    "q_join_agg" -> ((s, dir) => {
      // equi-join (broadcast-able dim) + aggregation
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), countDistinct("c_custkey").as("n_customers"))
    }),
    "q_continuous_block" -> ((s, dir) => {
      // B2 continuous blocking keys as pure Column arithmetic
      val li = t(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
        block.Blocking.continuousKeyCols(col("l_extendedprice"), 100.0).getItem(0).as("bucket_lo"),
        block.Blocking.continuousKeyCols(col("l_extendedprice"), 100.0).getItem(1).as("bucket_hi"))
    }),
    "q_hist" -> ((s, dir) => {
      // T1 similarities_hist shape: fixed-width histogram
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_discount") * 20).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_set_ops" -> ((s, dir) => {
      // set semantics: distinct + except
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      cn.except(sn)
    }),
    "q_sort_limit" -> ((s, dir) => {
      // boundary sort + limit under a total order
      t(s, dir, "lineitem")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(50)
    }),
    "q_dedup_exact" -> ((s, dir) => {
      // exact deduplication: canonical keeper per identical text
      t(s, dir, "documents").groupBy("text")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .where(col("n_copies") >= 1)
        .select("keeper", "n_copies")
    }),
    "q_token_count" -> ((s, dir) => {
      // text analysis: token counting via identical arithmetic both sides
      t(s, dir, "documents").select(col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("n_tokens"))
    }),
    "q_lang_stats" -> ((s, dir) => {
      t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),
    "q_window_hourly" -> ((s, dir) => {
      // tumbling-window aggregation over the events stream table
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      // exact n-gram Jaccard near-dup pairs via a gram inverted index —
      // pure Column ops (split/transform/explode), codegen'd end to end.
      // Stop-grams (document frequency > 200) leave the gram sets before
      // sizes are taken — same guard + bound as Dedup.ngramJaccardPairs,
      // mirrored exactly in the DuckDB oracle. The cap is a hash-
      // aggregate census + broadcast anti-join (the stop SET is tiny by
      // definition), not a window — no sort of the gram index.
      // grams0 cached: the stop-gram census AND the filtered-index cache
      // fill both scan it — uncached, the split+transform+explode over
      // every document text ran twice (released in the finally below
      // with the same eager-and-release contract as the gram index)
      val grams0 = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .where(size(col("w")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))).as("g"))
        .cache()
      val stopGrams = grams0.groupBy("g").agg(count(lit(1)).as("df"))
        .where(col("df") > 200).select("g")
      val grams = grams0.join(broadcast(stopGrams), Seq("g"), "left_anti").cache()
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // direct capped join — measured faster than PPJoin prefix
      // filtering at this threshold/corpus (see the measurement note
      // in CHANGES.md)
      val inter = grams.as("a").join(grams.as("b"), "g")
        .where(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id0"), col("b.doc_id").as("id1"))
        .agg(count(lit(1)).as("inter"))
      // eager-and-release, same contract as Dedup.ngramJaccardPairs:
      // materialize the result, then drop the internal caches (in
      // finally — a failed materialization must not pin them) so no
      // cache survives the call
      try {
        val out = inter
          .join(sizes.select(col("doc_id").as("id0"), col("n").as("n0")), "id0")
          .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
          .withColumn("jaccard", col("inter") * 1.0 / (col("n0") + col("n1") - col("inter")))
          .where(col("jaccard") >= 0.3)
          .select("id0", "id1", "jaccard")
          .cache()
        out.count()
        out
      } finally { grams.unpersist(); grams0.unpersist() }
    }),
    "q_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        ops.TextOps.qualityScore(col("text")).as("quality"))
    }),
    "q_subword_count" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        ops.TextOps.subwordCountApproxCol(col("text")).as("n_subwords"))
    }),
    "q_embed_norm" -> ((s, dir) =>
      // vector math as pure Column ops (codegen'd higher-order
      // aggregate — left fold preserves the naive accumulation order,
      // so the double norm is bit-exact against the DuckDB oracle)
      t(s, dir, "embeddings").select(col("vec_id"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))).as("norm"))),
    "q_cumul_hist" -> ((s, dir) => {
      // T3: reverse cumulative counts vs threshold (window over T1 hist)
      val hist = t(s, dir, "lineitem")
        .groupBy(floor(col("l_discount") * 20).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
      hist.withColumn("cumul", sum("n").over(
        Window.orderBy(desc("bucket")).rowsBetween(Window.unboundedPreceding, 0)))
    }),

    // ---- training-data ops over documents/embeddings (rows-only) ----
    "dedup_minhash" -> ((s, dir) =>
      // withrep + verified-edge taps: the oracle recomputes the CC +
      // member-re-expansion + keeper tail from the same edges
      ops.Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        jaccardThreshold = 0.3, tap = auxTap("dedup_minhash"))),
    "dedup_simhash" -> ((s, dir) =>
      ops.Dedup.simhash(t(s, dir, "documents"), "doc_id", "text",
        tap = auxTap("dedup_simhash"))),
    "dedup_scale" -> ((s, dir) => {
      // driver-visible SCALE sample: 25k entities × 2 near-dup variants
      // = 50k synthesized docs through the full minhash-LSH pipeline
      // with the star-fanout default ON — the every-round, driver-
      // checked form of the env-gated 500k run (GRAFT_HUGE_DEDUP),
      // so the hot-bucket guards and the distributed CC tail are
      // exercised by the official artifact, not only by sbt flags.
      // Input is synthesized deterministically (fixed seed, independent
      // of sf dir, per BASELINE.json's input hint) and materialized
      // once per process (see [[scaleCorpus]] — bench samples measure
      // the pipeline, not the generator); the oracle recomputes the
      // CC + re-expansion + keeper tail from the dumped verified
      // edges — hash-exact over all 50k rows.
      ops.Dedup.minhashLsh(scaleCorpus(s), "doc_id", "text", jaccardThreshold = 0.3,
        tap = auxTap("dedup_scale"))
    }),
    "embed_neardup" -> ((s, dir) =>
      // the driver's embeddings table has no true near-identical pairs
      // (max pairwise cosine ≈ 0.48) — 0.3 exercises the operator on
      // the top of its similarity distribution
      ops.Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        cosineThreshold = 0.3, planes = 2, tap = auxTap("embed_neardup"))),
    "ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      // candidate (query, id, vectors) tap: the oracle recomputes the
      // exact-cosine + rank-window tail from the same candidates
      val emb = t(s, dir, "embeddings")
      ops.Ann.lshTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, tap = auxTap("ann_lsh"))
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      // quantizer persisted per sf dir (fit once, reused across calls —
      // the IVF default at scale); keyed by path + a cheap FS content
      // signature (file names/sizes/mtimes — metadata only, no data
      // pass), so a regenerated corpus refits instead of silently
      // reusing stale centroids
      val emb = t(s, dir, "embeddings")
      val sigSrc = new java.io.File(s"$dir/embeddings.parquet") match {
        case f if f.isDirectory =>
          f.listFiles().sortBy(_.getName)
            .map(x => s"${x.getName}:${x.length}:${x.lastModified}").mkString(";")
        case f => s"${f.length}:${f.lastModified}"
      }
      val cdir = s"${sys.props("java.io.tmpdir")}/graft_ivf/" +
        java.lang.Long.toHexString(core.Hashing.str(dir + "|" + sigSrc, 0x1eefL))
      ops.Ann.ivfTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, centroidsDir = Some(cdir), tap = auxTap("ann_ivf"))
    }),
    "text_langid" -> ((s, dir) =>
      // ASCII assertion, same reason as multimodal_features: the oracle
      // compares Scala UTF-16 length against DuckDB codepoint length —
      // identical only while the corpus is ASCII (astral/CJK text must
      // fail loudly here rather than silently skew the score parity)
      ops.TextOps.withLangId(
        asciiAsserted(t(s, dir, "documents"), "text_langid"), "text")
        .select("doc_id", "lang_pred", "lang_score")),
    "text_fingerprint" -> ((s, dir) => {
      // ASCII asserted: the oracle (OracleSqlGen.textFingerprintSql)
      // recomputes the token FNV folds from codepoints — parity with
      // the Scala UTF-16 code-unit hashing holds only on ASCII text
      import s.implicits._
      asciiAsserted(t(s, dir, "documents"), "text_fingerprint")
        .select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, txt) =>
          (id, ops.TextOps.docFingerprint(txt), ops.TextOps.simhash(txt))
        }.toDF("doc_id", "fingerprint", "simhash")
    }),
    "text_sketch" -> ((s, dir) => {
      // bottom-k sketch of the word-3-gram hashes (containment-check
      // signature), exploded to scalar rows; oracle recomputes the
      // gram hashes in SQL (OracleSqlGen.textSketchSql) — same ASCII
      // parity caveat as text_fingerprint
      import s.implicits._
      asciiAsserted(t(s, dir, "documents"), "text_sketch")
        .select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, txt) => (id, ops.TextOps.bottomKSketch(txt)) }
        .toDF("doc_id", "sketch")
        .select(col("doc_id"), posexplode(col("sketch")).as(Seq("idx", "gram_hash")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"), col("gram_hash"))
    }),
    "multimodal_features" -> ((s, dir) => {
      // binary media column derived from text bytes (no codecs in this
      // sandbox — decode is stubbed, plumbing is real; see ops.Multimodal)
      // ASCII-ness is ASSERTED per row: the DuckDB oracle compares
      // ord(codepoint) against the Scala side's UTF-8 bytes, which only
      // agree on ASCII — a future non-ASCII corpus must fail loudly
      // here, not as a confusing oracle hash mismatch.
      val media = asciiAsserted(t(s, dir, "documents"), "multimodal_features",
          allowNull = true)
        .select(col("doc_id").as("id"),
          encode(col("text"), "UTF-8").as("media"), lit("text/html").as("mime"))
      // exploded to one scalar row per (id, dim) — the raw array<float>
      // column is unsortable by the driver's rows-only comparator. The
      // value stays raw float32: the stub's byte-histogram arithmetic
      // (float count × float32 reciprocal) is reproduced bit-exactly by
      // the DuckDB oracle's FLOAT arithmetic over the UTF-8 bytes.
      ops.Multimodal.extractFeatures(ops.Multimodal.asMedia(media, "id", "media", "mime")).toDF()
        .select(col("id"), col("mime"), col("n_bytes"),
          posexplode(col("features")).as(Seq("dim", "value")))
        .select(col("id"), col("mime"), col("n_bytes"),
          col("dim").cast("long").as("dim"), col("value"))
    }),
    "smc_pairs" -> ((s, _) => {
      // S6: SMC similarity with both-sides top-k over the linkage corpus
      val enc = Linkage.encode(corpus(s), linkParams, col("dsetId"))
      val blocked = Linkage.blockAndSaltWithStats(enc, linkParams)._1
      // dedup multi-band duplicates BEFORE ranking: the same pair found
      // via two shared bands must not double-count in the both-sides
      // windows (the reference scores each pair once — no blocking there)
      ops.Smc.bothSidesTopK(
        dumpAux("smc_pairs_scored",
          graft.cand.Candidates.dedup(ops.Smc.scorePairs(blocked, 0.75, 1024))), 5)
    }),
    "linkage_hist" -> ((s, _) => {
      // T1 similarity histogram over the pipeline's candidate pairs;
      // pairs tapped so the oracle rebins the same sims (np.histogram
      // semantics: last bin closed, dense bins)
      val pairs = dumpAux("linkage_hist_pairs",
        Linkage.candidatePairs(corpus(s), linkParams, col("dsetId")))
      ops.Stats.similaritiesHist(pairs, bins = 20, lo = 0.75, hi = 1.0)
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for the linkage-native kernels
    * (custom hashing/bit math) → driver records a rows-only check. */
  def oracleSql: Map[String, String] = Map(
    // ---- differential oracles over aux dumps (see dumpAux scaladoc):
    // the kernel-side hashing is Scala-native, but each pipeline TAIL
    // (bit math, windows, CC, histogram, joins) is recomputed by DuckDB
    // from the dumped deterministic intermediates and compared
    // hash-exactly ----
    "clk_popcounts" ->
      s"""SELECT doc_id, CAST(bit_count(clk::BIT) AS INT) AS pop
        | FROM read_parquet('$oracleAuxDir/clk_popcounts_clks/*.parquet')""".stripMargin,
    "dice_pairs_scalar" ->
      s"""WITH p AS (SELECT * FROM read_parquet('$oracleAuxDir/dice_pairs_clks/*.parquet')),
        | c AS (SELECT id0, id1, bit_count(clk0::BIT) AS p0, bit_count(clk1::BIT) AS p1,
        |         bit_count(clk0::BIT & clk1::BIT) AS i FROM p)
        | SELECT id0, id1,
        |   CASE WHEN p0 + p1 = 0 THEN CAST(0.0 AS DOUBLE)
        |        ELSE CAST(2.0 AS DOUBLE) * i / (p0 + p1) END AS dice
        | FROM c""".stripMargin,
    "smc_pairs" ->
      s"""WITH p AS (SELECT * FROM read_parquet('$oracleAuxDir/smc_pairs_scored/*.parquet')),
        | r AS (SELECT *,
        |   row_number() OVER (PARTITION BY dset0, dset1, rec0 ORDER BY sim DESC, rec0, rec1) AS rl,
        |   row_number() OVER (PARTITION BY dset0, dset1, rec1 ORDER BY sim DESC, rec0, rec1) AS rr
        |   FROM p)
        | SELECT sim, dset0, dset1, rec0, rec1 FROM r WHERE rl <= 5 AND rr <= 5""".stripMargin,
    "linkage_candidates" ->
      s"""WITH raw AS (SELECT * FROM read_parquet('$oracleAuxDir/linkage_candidates_raw/*.parquet')),
        | d AS (SELECT DISTINCT sim, dset0, dset1, rec0, rec1 FROM raw),
        | r AS (SELECT *,
        |   row_number() OVER (PARTITION BY dset0, dset1, rec1
        |     ORDER BY sim DESC, dset0, dset1, rec0, rec1) AS rr,
        |   row_number() OVER (PARTITION BY dset1, dset0, rec0
        |     ORDER BY sim DESC, dset0, dset1, rec0, rec1) AS rl
        |   FROM d)
        | SELECT sim, dset0, dset1, rec0, rec1 FROM r WHERE rr <= 5 AND rl <= 5""".stripMargin,
    "linkage_clusters" ->
      s"""WITH RECURSIVE
        | p AS (SELECT DISTINCT dset0, dset1, rec0, rec1
        |       FROM read_parquet('$oracleAuxDir/linkage_cluster_pairs/*.parquet')),
        | e AS (SELECT xor((CAST(dset0 AS BIGINT) + 1) << 56, rec0) AS a,
        |              xor((CAST(dset1 AS BIGINT) + 1) << 56, rec1) AS b,
        |              dset0, dset1, rec0, rec1 FROM p),
        | verts AS (SELECT DISTINCT dset0 AS d, rec0 AS rec, a AS node FROM e
        |           UNION SELECT DISTINCT dset1, rec1, b FROM e),
        | sym AS (SELECT a, b FROM e WHERE a <> b UNION SELECT b, a FROM e WHERE a <> b),
        | nodes AS (SELECT DISTINCT a AS n FROM sym),
        | rch AS (SELECT n, n AS comp FROM nodes
        |         UNION SELECT s.b, rch.comp FROM rch JOIN sym s ON s.a = rch.n AND rch.comp < s.b),
        | comp AS (SELECT n, min(comp) AS comp FROM rch GROUP BY n)
        | SELECT v.d AS "dsetId", v.rec AS "recId", c.comp AS "clusterId"
        | FROM verts v JOIN comp c ON v.node = c.n""".stripMargin,
    "linkage_hist" ->
      s"""WITH p AS (SELECT sim FROM read_parquet('$oracleAuxDir/linkage_hist_pairs/*.parquet')
        |           WHERE sim >= CAST(0.75 AS DOUBLE) AND sim <= CAST(1.0 AS DOUBLE)),
        | c AS (SELECT LEAST(CAST(floor((sim - CAST(0.75 AS DOUBLE))
        |         / ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) / 20)) AS BIGINT), 19) AS bucket,
        |       count(*) AS n FROM p GROUP BY 1),
        | bins AS (SELECT unnest(range(0, 20)) AS bucket)
        | SELECT bins.bucket, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        | FROM bins LEFT JOIN c ON bins.bucket = c.bucket""".stripMargin,
    "dedup_minhash" ->
      s"""WITH RECURSIVE
        | w AS (SELECT id, rep FROM read_parquet('$oracleAuxDir/dedup_minhash_withrep/*.parquet')),
        | e AS (SELECT id0 AS a, id1 AS b
        |       FROM read_parquet('$oracleAuxDir/dedup_minhash_verified/*.parquet')
        |       WHERE id0 <> id1),
        | sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        | nodes AS (SELECT DISTINCT a AS n FROM sym),
        | rch AS (SELECT n, n AS comp FROM nodes
        |         UNION SELECT s.b, rch.comp FROM rch JOIN sym s ON s.a = rch.n AND rch.comp < s.b),
        | comp AS (SELECT n, min(comp) AS comp FROM rch GROUP BY n),
        | cl AS (SELECT w.id, coalesce(c.comp, w.rep) AS cid FROM w LEFT JOIN comp c ON w.rep = c.n)
        | SELECT id, cid AS "clusterId", min(id) OVER (PARTITION BY cid) AS keeper FROM cl""".stripMargin,
    "dedup_scale" ->
      s"""WITH RECURSIVE
        | w AS (SELECT id, rep FROM read_parquet('$oracleAuxDir/dedup_scale_withrep/*.parquet')),
        | e AS (SELECT id0 AS a, id1 AS b
        |       FROM read_parquet('$oracleAuxDir/dedup_scale_verified/*.parquet')
        |       WHERE id0 <> id1),
        | sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        | nodes AS (SELECT DISTINCT a AS n FROM sym),
        | rch AS (SELECT n, n AS comp FROM nodes
        |         UNION SELECT s.b, rch.comp FROM rch JOIN sym s ON s.a = rch.n AND rch.comp < s.b),
        | comp AS (SELECT n, min(comp) AS comp FROM rch GROUP BY n),
        | cl AS (SELECT w.id, coalesce(c.comp, w.rep) AS cid FROM w LEFT JOIN comp c ON w.rep = c.n)
        | SELECT id, cid AS "clusterId", min(id) OVER (PARTITION BY cid) AS keeper FROM cl""".stripMargin,
    "dedup_simhash" ->
      s"""WITH RECURSIVE
        | w AS (SELECT id, rep FROM read_parquet('$oracleAuxDir/dedup_simhash_withrep/*.parquet')),
        | e AS (SELECT id0 AS a, id1 AS b
        |       FROM read_parquet('$oracleAuxDir/dedup_simhash_verified/*.parquet')
        |       WHERE id0 <> id1),
        | sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        | nodes AS (SELECT DISTINCT a AS n FROM sym),
        | rch AS (SELECT n, n AS comp FROM nodes
        |         UNION SELECT s.b, rch.comp FROM rch JOIN sym s ON s.a = rch.n AND rch.comp < s.b),
        | comp AS (SELECT n, min(comp) AS comp FROM rch GROUP BY n),
        | cl AS (SELECT w.id, coalesce(c.comp, w.rep) AS cid FROM w LEFT JOIN comp c ON w.rep = c.n)
        | SELECT id, cid AS "clusterId", min(id) OVER (PARTITION BY cid) AS keeper FROM cl""".stripMargin,
    "embed_neardup" ->
      s"""WITH v AS (SELECT id, unit FROM read_parquet('$oracleAuxDir/embed_neardup_units/*.parquet')),
        | c AS (SELECT id0, id1 FROM read_parquet('$oracleAuxDir/embed_neardup_cands/*.parquet')),
        | s AS (SELECT c.id0, c.id1,
        |         list_dot_product(CAST(v0.unit AS DOUBLE[]), CAST(v1.unit AS DOUBLE[])) AS cosine
        |       FROM c JOIN v v0 ON c.id0 = v0.id JOIN v v1 ON c.id1 = v1.id)
        | SELECT id0, id1, cosine FROM s WHERE cosine >= CAST(0.3 AS DOUBLE)""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH c AS (SELECT query_id, id,
        |     list_dot_product(CAST(qunit AS DOUBLE[]), CAST(unit AS DOUBLE[])) AS cosine
        |   FROM read_parquet('$oracleAuxDir/ann_lsh_cands/*.parquet')),
        | r AS (SELECT query_id, id, cosine,
        |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rank FROM c)
        | SELECT query_id, id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH c AS (SELECT query_id, id,
        |     list_dot_product(CAST(qunit AS DOUBLE[]), CAST(unit AS DOUBLE[])) AS cosine
        |   FROM read_parquet('$oracleAuxDir/ann_ivf_cands/*.parquet')),
        | r AS (SELECT query_id, id, cosine,
        |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rank FROM c)
        | SELECT query_id, id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin,

    "q_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders
        | FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        | WHERE l_returnflag = 'R' AND l_quantity >= 25""".stripMargin,
    "q_topk_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        |   SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |     row_number() OVER (PARTITION BY l_suppkey
        |       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |   FROM lineitem) WHERE rn <= 3""".stripMargin,
    "q_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | count(DISTINCT c_custkey) AS n_customers
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment""".stripMargin,
    "q_continuous_block" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(floor(l_extendedprice / 200.0) AS BIGINT) * 2 AS bucket_lo,
        | CAST(floor((l_extendedprice + 100.0) / 200.0) AS BIGINT) * 2 + 1 AS bucket_hi
        | FROM lineitem""".stripMargin,
    "q_hist" ->
      """SELECT CAST(floor(l_discount * 20) AS BIGINT) AS bucket, count(*) AS n
        | FROM lineitem GROUP BY 1""".stripMargin,
    "q_set_ops" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        | EXCEPT SELECT DISTINCT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        | ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_copies
        | FROM documents GROUP BY text HAVING count(*) >= 1""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        | length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
        | FROM documents""".stripMargin,
    "q_lang_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        | FROM documents GROUP BY lang""".stripMargin,
    "q_window_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        | FROM events GROUP BY 1, 2""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | d3 AS (SELECT doc_id, w FROM d WHERE len(w) >= 3),
        | grams0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |           FROM d3, unnest(range(1, len(w) - 1)) AS t(i)),
        | keep AS (SELECT g FROM grams0 GROUP BY g HAVING count(*) <= 200),
        | grams AS (SELECT grams0.* FROM grams0 JOIN keep USING (g)),
        | sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        | inter AS (SELECT a.doc_id AS id0, b.doc_id AS id1, count(*) AS inter
        |           FROM grams a JOIN grams b USING (g)
        |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        | SELECT id0, id1, inter * 1.0 / (s0.n + s1.n - inter) AS jaccard
        | FROM inter JOIN sizes s0 ON id0 = s0.doc_id JOIN sizes s1 ON id1 = s1.doc_id
        | WHERE inter * 1.0 / (s0.n + s1.n - inter) >= 0.3""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id, round(
        |   least((length(text) - length(replace(text, ' ', '')) + 1) / 50.0, 1.0)
        |   * greatest(0.0, 1.0 - (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
        |       / greatest(length(text), 1)) * 5.0)
        |   * greatest(0.0, 1.0 - (length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
        |       / greatest(length(text), 1)) * 5.0), 6) AS quality
        | FROM documents""".stripMargin,
    "q_subword_count" ->
      """SELECT doc_id,
        |  (length(text) - length(replace(text, ' ', '')) + 1)
        |  + greatest(0, ((length(text) - (length(text) - length(replace(text, ' ', '')))) -
        |     (length(text) - length(replace(text, ' ', '')) + 1) * 6) // 6) AS n_subwords
        | FROM documents""".stripMargin,
    "q_cumul_hist" ->
      """SELECT bucket, n, CAST(sum(n) OVER (ORDER BY bucket DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumul
        | FROM (SELECT CAST(floor(l_discount * 20) AS BIGINT) AS bucket, count(*) AS n
        |       FROM lineitem GROUP BY 1)""".stripMargin,
    // DuckDB's list_cosine_similarity over DOUBLE[] is a naive
    // left-to-right double accumulation with dot/(sqrt(na)*sqrt(nb)) —
    // Ann.bruteForceTopK computes exactly that, so this is a hash-exact
    // differential check (the Spark analogue of the reference's
    // Python-vs-C++ suite, `tests/test_similarity_dice.py:51-66`).
    "ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        | s AS (SELECT query_id, e.vec_id AS id,
        |         list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) AS cosine
        |       FROM q CROSS JOIN embeddings e),
        | r AS (SELECT query_id, id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rank
        |       FROM s)
        | SELECT query_id, id, cosine, CAST(rank AS BIGINT) AS rank FROM r
        | WHERE rank <= 5""".stripMargin,
    "q_embed_norm" ->
      """SELECT vec_id, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |   CAST(embedding AS DOUBLE[]))) AS norm FROM embeddings""".stripMargin,
    // the Multimodal decode STUB is a byte histogram over the UTF-8
    // bytes (mod 16) normalized in float32; the test corpus is pure
    // ASCII (verified per sf dir), so ord(char) == byte and DuckDB's
    // FLOAT arithmetic reproduces the values bit-exactly. This hard-
    // verifies the multimodal PLUMBING (schema, batching, explode) —
    // the decode itself remains a stub (no codecs in this sandbox).
    "multimodal_features" ->
      """WITH d AS (SELECT doc_id AS id, coalesce(text, '') AS text,
        |     octet_length(CAST(coalesce(text, '') AS BLOB)) AS n_bytes
        |     FROM documents),
        | chars AS (SELECT id, ord(substr(text, CAST(i AS INT), 1)) % 16 AS dim
        |           FROM d, unnest(range(1, length(text) + 1)) AS t(i)),
        | cnt AS (SELECT id, dim, count(*) AS c FROM chars GROUP BY 1, 2),
        | dims AS (SELECT unnest(range(0, 16)) AS dim),
        | grid AS (SELECT d.id, d.n_bytes, dims.dim FROM d CROSS JOIN dims)
        | SELECT grid.id, 'text/html' AS mime, CAST(grid.n_bytes AS BIGINT) AS n_bytes,
        |   CAST(grid.dim AS BIGINT) AS dim,
        |   CASE WHEN grid.n_bytes = 0 THEN CAST(0.0 AS FLOAT)
        |        ELSE CAST(coalesce(cnt.c, 0) AS FLOAT)
        |             * (CAST(1.0 AS FLOAT) / CAST(grid.n_bytes AS FLOAT)) END AS value
        | FROM grid LEFT JOIN cnt ON grid.id = cnt.id AND grid.dim = cnt.dim""".stripMargin,
    "text_langid" ->
      """WITH b0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
        | b AS (SELECT doc_id, text,
        |   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |   FROM b0),
        | c AS (SELECT doc_id, text, greatest(len(toks), 1) AS n,
        |   len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','with'))) AS c_en,
        |   len(list_filter(toks, t -> t IN ('le','la','les','et','de','des','un','une','est'))) AS c_fr,
        |   len(list_filter(toks, t -> t IN ('el','los','las','de','y','que','en','una','es'))) AS c_es,
        |   len(list_filter(toks, t -> t IN ('der','die','das','und','ist','von','mit','ein'))) AS c_de,
        |   length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
        |   length(text) AS tl
        |  FROM b),
        | s AS (SELECT doc_id, cjk, tl,
        |   CAST(c_en AS DOUBLE)/n AS s_en, CAST(c_fr AS DOUBLE)/n AS s_fr,
        |   CAST(c_es AS DOUBLE)/n AS s_es, CAST(c_de AS DOUBLE)/n AS s_de FROM c),
        | g AS (SELECT *, greatest(s_en, s_fr, s_es, s_de) AS best FROM s)
        | SELECT doc_id,
        |  CASE WHEN tl > 0 AND cjk*3 >= tl THEN 'zh'
        |       WHEN best = 0 THEN 'und'
        |       WHEN s_en = best THEN 'en' WHEN s_fr = best THEN 'fr'
        |       WHEN s_es = best THEN 'es' ELSE 'de' END AS lang_pred,
        |  CASE WHEN tl > 0 AND cjk*3 >= tl THEN CAST(cjk AS DOUBLE)/tl
        |       WHEN best = 0 THEN 0.0 ELSE best END AS lang_score
        | FROM g""".stripMargin,
    // bit-exact SQL reimplementations of the 64-bit hash kernels
    // (FNV-1a + splitmix64 over HUGEINT limb arithmetic) — see
    // graft.oracle.OracleSqlGen for the technique and parity caveats
    "text_fingerprint" -> graft.oracle.OracleSqlGen.textFingerprintSql(),
    "text_sketch" -> graft.oracle.OracleSqlGen.textSketchSql(),
    "minhash_bands" -> graft.oracle.OracleSqlGen.minhashBandsSql(
      block.MinhashParams(), graft.encode.ClkParams()),
    "linkage_greedy_clusters" -> graft.oracle.OracleSqlGen.greedyClustersSql(
      s"$oracleAuxDir/linkage_greedy_pairs/*.parquet"),
    "linkage_prob_clusters" -> graft.oracle.OracleSqlGen.greedyClustersSql(
      s"$oracleAuxDir/linkage_prob_pairs/*.parquet", minLabelCluster = true),
    "linkage_eval" ->
      s"""WITH t AS (SELECT * FROM read_parquet('$oracleAuxDir/linkage_eval_truth/*.parquet')),
        | c AS (SELECT * FROM read_parquet('$oracleAuxDir/linkage_eval_clusters/*.parquet')),
        | j AS (SELECT t."dsetId", t."recId", t."entityId",
        |   coalesce(c."clusterId",
        |     xor((CAST(t."dsetId" AS BIGINT) + 1) << 56, t."recId")) AS cid
        |   FROM t LEFT JOIN c ON t."dsetId" = c."dsetId" AND t."recId" = c."recId"),
        | p AS (SELECT coalesce(sum((n * (n - 1)) // 2), 0) AS pred_pairs
        |   FROM (SELECT count(*) AS n FROM j GROUP BY cid)),
        | tr AS (SELECT coalesce(sum((n * (n - 1)) // 2), 0) AS truth_pairs
        |   FROM (SELECT count(*) AS n FROM j GROUP BY "entityId")),
        | tpc AS (SELECT coalesce(sum((n * (n - 1)) // 2), 0) AS tp
        |   FROM (SELECT count(*) AS n FROM j GROUP BY cid, "entityId")),
        | m AS (SELECT CAST(tp AS BIGINT) AS tp, CAST(pred_pairs AS BIGINT) AS pred_pairs,
        |   CAST(truth_pairs AS BIGINT) AS truth_pairs FROM tpc, p, tr),
        | r AS (SELECT *,
        |   CASE WHEN pred_pairs = 0 THEN CAST(0 AS DOUBLE)
        |        ELSE CAST(tp AS DOUBLE) / pred_pairs END AS "precision",
        |   CASE WHEN truth_pairs = 0 THEN CAST(0 AS DOUBLE)
        |        ELSE CAST(tp AS DOUBLE) / truth_pairs END AS "recall" FROM m)
        | SELECT tp, pred_pairs, truth_pairs, "precision", "recall",
        |   CASE WHEN "precision" + "recall" = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
        |        ELSE CAST(2 AS DOUBLE) * "precision" * "recall" / ("precision" + "recall") END AS f1
        | FROM r""".stripMargin
  )
}
