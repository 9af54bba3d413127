package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.block.{BitBandParams, Blocking, MinhashParams}
import graft.cand.Candidates
import graft.core.{BitVector, Hashing}
import graft.encode.{ClkEncoder, ClkParams}
import graft.sim.{ClkRow, DiceKernel}
import graft.solve.{Candidate, ConnectedComponents}

/** One encoded record: identity + CLK + its blocking keys. */
final case class EncodedRecord(
    dsetId: Int,
    recId: Long,
    url: String,
    clk: Array[Byte],
    pop: Int,
    bandKeys: Array[Long])

/** An exploded + salted blocked row bound for the kernel. */
final case class BlockedRow(
    key: Long,
    salt: Int,
    dsetId: Int,
    recId: Long,
    clk: Array[Byte],
    pop: Int)

/** Blocking strategy for the pipeline. */
sealed trait BlockingStrategy
case class MinhashBlocking(p: MinhashParams = MinhashParams()) extends BlockingStrategy
case class BitBandBlocking(p: BitBandParams = BitBandParams()) extends BlockingStrategy
/** Single block — every record compared to every record (the
  * reference's default when no blocking_f is given,
  * `/root/reference/anonlink/candidate_generation.py:132-136`).
  * Quadratic; only for small inputs/tests. */
case object NoBlocking extends BlockingStrategy

case class LinkageParams(
    clk: ClkParams = ClkParams(),
    blocking: BlockingStrategy = MinhashBlocking(),
    threshold: Double = 0.8,
    k: Option[Int] = Some(10),
    /** Max |A|·|B| comparisons per (block, salt) cell before the block
      * is salted into sub-rectangles — the Spark recast of the
      * reference's √-tiling `split_to_chunks`
      * (`/root/reference/anonlink/concurrency.py:39-86`). */
    pairBudget: Long = 4L * 1000 * 1000,
    /** Stage-boundary snapshot dir (None → no checkpointing). */
    checkpointDir: Option[String] = None)

/** The end-to-end linkage pipeline:
  *
  * pages → encode (CLK + band keys) → explode band keys → salt skewed
  * blocks → per-block Dice kernel → dedup + global top-k → candidate
  * pairs → connected components → clusters.
  *
  * The Spark shape of the reference's
  * `find_candidate_pairs` + `greedy_solve` lifecycle
  * (`/root/reference/anonlink/candidate_generation.py:94-153`,
  * SURVEY §3.1).
  */
object Linkage {

  /** Deterministic record id from the url (the reference identifies
    * records by positional index, `typechecking.py:9-11`; Spark has no
    * stable row order, so identity must be content-derived). */
  val RecIdSeed = 0x4ec1dL
  def recId(url: String): Long = Hashing.str(url, RecIdSeed)
  /** Column form of [[recId]] (UDF — used at boundaries/joins only,
    * never in the hot scoring path). */
  private val recIdUdf = udf((u: String) => recId(u))
  def recIdCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    recIdUdf(url)

  /** E1: encode pages into CLKs + blocking keys. One pass over the
    * text: n-gram hashes feed both the Bloom filter and the minhash
    * signature. `dsetIdExpr` assigns each page to a dataset (e.g. a
    * parity split for tests, or a source tag in production). */
  def encode(
      pages: DataFrame,
      params: LinkageParams,
      dsetIdExpr: org.apache.spark.sql.Column): Dataset[EncodedRecord] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val clkParams = params.clk
    val blocking = params.blocking
    // column-pruned input: only url + text (+ dsetId) are read — html
    // is never touched (scan prunes it from the Parquet read schema).
    pages
      // crawl extracts carry NULL texts routinely — encode them as ""
      // (empty CLK) instead of NPEing in the hot map; a NULL url has no
      // identity, so fail loudly per row rather than hash a null
      .select(
        col("url"),
        coalesce(col("text"), lit("")).as("text"),
        dsetIdExpr.cast("int").as("dsetId"))
      .where(assert_true(col("url").isNotNull,
        lit("encode: url must not be null (record identity is url-derived)")).isNull)
      .as[(String, String, Int)]
      .mapPartitions { it =>
        it.map { case (url, text, dsetId) =>
          val grams = ClkEncoder.ngramHashes(text, clkParams)
          val clk = ClkEncoder.encodeFromGrams(grams, clkParams)
          val pop = BitVector.popcount(clk)
          val keys = blocking match {
            case MinhashBlocking(p) => Blocking.minhashBandKeys(grams, p)
            // empty CLKs can never match at threshold > 0 (Dice 0/0 → 0,
            // reference _dice_python.py:113-116) but WOULD all collide
            // on identical bit-band keys and become the hottest block in
            // the pipeline — drop their keys like minhashBandKeys does
            // for empty gram sets. NoBlocking keeps them: its semantics
            // are "compare everything" (naive-parity tests rely on it).
            case BitBandBlocking(p) =>
              if (pop == 0) Array.empty[Long] else Blocking.bitBandKeys(clk, p)
            case NoBlocking => Array(0L)
          }
          EncodedRecord(dsetId, recId(url), url,
            BitVector.toBytes(clk), pop, keys)
        }
      }
  }

  /** B3 `list_blocking` (`/root/reference/anonlink/blocking.py:220-240`):
    * block ids supplied by an external `(dsetId, recId, key)` table —
    * a plain equi-join replacing the content-derived band keys. The
    * result feeds [[saltExplodedWithStats]]/[[scorePairs]] like any
    * other blocking. */
  def listBlocked(encoded: Dataset[EncodedRecord], keys: DataFrame): DataFrame = {
    encoded.toDF()
      .join(keys, Seq("dsetId", "recId"))
      .select(col("key"), col("dsetId"), col("recId"), col("clk"), col("pop"))
  }

  /** Explode band keys and salt skewed blocks
    * ([[saltExplodedWithStats]]), also reporting whether ANY block was
    * salted — callers use it to skip the per-block top-k restoration
    * window when every cell is already a whole block. */
  def blockAndSaltWithStats(
      encoded: Dataset[EncodedRecord],
      params: LinkageParams): (Dataset[BlockedRow], Boolean) = {
    val exploded = encoded
      .withColumn("key", explode(col("bandKeys")))
      .select(col("key"), col("dsetId"), col("recId"), col("clk"), col("pop"))
    saltExplodedWithStats(exploded, params)
  }

  /** Salt an exploded `(key, dsetId, recId, clk, pop)` table — shared
    * by band blocking ([[blockAndSaltWithStats]]) and external-key
    * blocking ([[listBlocked]]) — returning also whether any key was
    * salted.
    *
    * One relational plan around the key census. The census keeps the
    * ACTIVE keys — a band shared by ≥2 datasets; every other band is a
    * singleton that can never produce a pair — each with its salt grid
    * sA×sB. A hot key (|A|·|B| above `pairBudget`) has its rectangle
    * tiled into cells of about √budget × √budget; every other key is
    * one 1×1 cell. The rows join the grid (which also drops the
    * inactive keys) and a relational explode assigns the salts: an
    * A-side row picks a deterministic grid row and replicates across
    * the sB columns, a B-side row the mirror. Translation of
    * `split_to_chunks`'s bounded-task guarantee (`concurrency.py:74-86`)
    * into key-space salting; nothing per key reaches the driver.
    */
  def saltExplodedWithStats(
      exploded: DataFrame, params: LinkageParams): (Dataset[BlockedRow], Boolean) = {
    val spark = exploded.sparkSession
    import spark.implicits._

    val budget = params.pairBudget
    val side = math.sqrt(budget.toDouble).toLong max 1L
    // Salting assumes a bipartite cell (A replicated over B's salts and
    // vice versa); a key spanning >2 datasets would lose pairs between
    // the non-A datasets, so only pure {0,1} keys are salted — a
    // multiparty-spanning hot key stays one (large) cell. Two-party —
    // the reference's similarity scope — is always fully salted.
    // dmin >= 0 matters: a signed dsetIdExpr (e.g. hash % 2 → {-1,0,1})
    // must NOT pass as bipartite — dset -1 and dset 1 would both land
    // on the B side and never share a salt cell, silently losing their
    // cross pairs.
    val hot = $"n0" * $"n1" > budget && $"dmin" >= 0 && $"dmax" <= 1
    def tiles(n: Column) = when(hot, ceil(n / side)).otherwise(1).cast("int")
    // ≥2 distinct datasets ⇔ min ≠ max (cheaper than countDistinct's
    // aggregate expand; correct for multiparty too)
    val grid = exploded.groupBy($"key")
      .agg(
        sum(when($"dsetId" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"dsetId" =!= 0, 1L).otherwise(0L)).as("n1"),
        min($"dsetId").as("dmin"),
        max($"dsetId").as("dmax"))
      .where($"dmin" =!= $"dmax")
      .select($"key", tiles($"n0").as("sA"), tiles($"n1").as("sB"))
    val salted = anyRow(grid.where($"sA" * $"sB" > 1))

    // The grid grows with the corpus (≈ bands × matched docs) — at 500k
    // pages a broadcast build of the active set already OOMed — so
    // force a shuffle-hash join: scale-safe at any size, and the
    // per-partition hash build is tiny. The explode keeps the join's
    // HashPartitioning(key), so unsalted the kernel's groupBy(key, salt)
    // reads the join's exchange with no second one; salted, that would
    // put every cell of a hot key in one task, hence the repartition by
    // (key, salt). Unsalted, every cell is 1×1: constant tiles let the
    // planner prune n0 and n1 from the join's census, which then
    // shuffles what the active-key test needs and no more.
    val cells = if (salted) grid else grid.select($"key", lit(1).as("sA"), lit(1).as("sB"))
    val isA = $"dsetId" === 0
    // key last, the order the band explode emits: the join's exchange
    // then ships the explode's rows with no re-ordering projection
    // (key-first rows compressed to 1.4% more bytes on link-pages)
    val blocked = exploded.select($"dsetId", $"recId", $"clk", $"pop", $"key")
      .join(cells.hint("SHUFFLE_HASH"), Seq("key"))
      .withColumn("own", pmod(xxhash64($"recId", $"key"), when(isA, $"sA").otherwise($"sB")))
      .withColumn("i", explode(sequence(lit(0), when(isA, $"sB").otherwise($"sA") - 1)))
      .select($"key",
        when(isA, $"own" * $"sB" + $"i").otherwise($"i" * $"sB" + $"own").cast("int").as("salt"),
        $"dsetId", $"recId", $"clk", $"pop")
    ((if (salted) blocked.repartition($"key", $"salt") else blocked).as[BlockedRow], salted)
  }

  /** Whether `df` has a row, from one boolean per partition: a
    * `limit(1)` probe runs more jobs while the leading partitions are
    * empty, and a global aggregate adds a stage and a job under AQE. */
  private def anyRow(df: DataFrame): Boolean = {
    import df.sparkSession.implicits._
    df.mapPartitions(it => Iterator(it.hasNext)).collect().contains(true)
  }

  /** C1/C2/S2: per-(key,salt) cell, run the packed Dice kernel for
    * every ordered dataset pair `(i0 < i1)` present in the cell
    * ([[scoreCells]]). `comparisons`, when given, counts Σ|A_i|·|B_j|
    * per cell — the same "comparisons" metric the reference benchmark
    * reports (`/root/reference/anonlink/benchmark.py:66`). */
  def scorePairs(blocked: Dataset[BlockedRow], params: LinkageParams,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    scorePairsWithKey(blocked, params, comparisons).drop("key")

  /** As [[scorePairs]] but keeps the block key on every emitted pair,
    * so per-BLOCK semantics (e.g. [[graft.cand.Candidates.perBlockTopK]])
    * can be restored after salting split a block into cells. */
  def scorePairsWithKey(blocked: Dataset[BlockedRow], params: LinkageParams,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val threshold = params.threshold
    val k = params.k
    scoreCells(blocked, DiceKernel.blockDiceTopKPacked(_, _, threshold, k, _, _), comparisons)
  }

  /** The one cell scorer behind Dice ([[scorePairsWithKey]]) and SMC
    * ([[graft.ops.Smc.scorePairs]]), the shape of the reference's
    * `_block_similarities` (`candidate_generation.py:28-40`): per
    * (key, salt) cell, pack each dataset's rows once and call `kernel`
    * on every dataset pair `d0 < d1` (`itertools.combinations`).
    * `comparisons`, when given, counts Σ|A|·|B| over those pairs.
    * Emits (key, sim, dset0, dset1, rec0, rec1). */
  private[graft] def scoreCells(blocked: Dataset[BlockedRow],
      kernel: (DiceKernel.Packed, DiceKernel.Packed, Int, Int) => Iterator[Candidate],
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = blocked.sparkSession
    import spark.implicits._
    // relational groupBy on the (key, salt) COLUMNS, not a typed
    // groupByKey on a lambda: the planner can see the grouping key, so
    // when the upstream grid join already hash-partitioned the stream
    // by `key` (the unsalted path preserves it), ClusteredDistribution
    // (key, salt) is satisfied by HashPartitioning(key) and the extra
    // exchange of the clk payloads is elided — the kernel reads the
    // grid join's shuffle output directly.
    blocked.toDF()
      .groupBy(col("key"), col("salt")).as[(Long, Int), BlockedRow]
      .flatMapGroups { (keySalt, rows) =>
        val byDset = scala.collection.mutable.TreeMap
          .empty[Int, scala.collection.mutable.ArrayBuffer[ClkRow]]
        rows.foreach { r =>
          byDset.getOrElseUpdate(r.dsetId, scala.collection.mutable.ArrayBuffer.empty) +=
            ClkRow(r.recId, r.clk, r.pop)
        }
        val sides = byDset.iterator
          .map { case (d, rs) => (d, new DiceKernel.Packed(rs.toArray)) }.toArray
        sides.indices.iterator.flatMap { i =>
          (i + 1 until sides.length).iterator.flatMap { j =>
            val (d0, a) = sides(i); val (d1, b) = sides(j)
            comparisons.foreach(_.add(a.n.toLong * b.n))
            kernel(a, b, d0, d1)
          }
        }.map(c => (keySalt._1, c.sim, c.dset0, c.dset1, c.rec0, c.rec1))
      }
      .toDF("key", "sim", "dset0", "dset1", "rec0", "rec1")
  }

  /** Shuffle-free all-pairs scoring: pack + broadcast the small side,
    * stream the big side through `mapPartitions` — the Spark-idiomatic
    * plan when one side fits in executor memory (broadcast nested-loop
    * with the Dice kernel as the theta-predicate). Per-left top-k here
    * spans the WHOLE right side, exactly like the reference's
    * one-against-many kernel (`dice.cpp:518`).
    *
    * NOTE: `comparisons` is updated inside a transformation — Spark
    * only guarantees exactly-once accumulator updates inside ACTIONS,
    * so task retries / multiple actions on the uncached result inflate
    * it (instrumentation, not bookkeeping; Bench's `require(acc == n²)`
    * doubles as a no-retry sanity check). Each call broadcasts a fresh
    * packed copy of `bRows`; in a tight loop reuse one call per input
    * or expect ContextCleaner to reap old broadcasts lazily. */
  def scoreAgainstBroadcast(
      a: Dataset[ClkRow],
      bRows: Array[ClkRow],
      params: LinkageParams,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val threshold = params.threshold
    val k = params.k
    val bc = spark.sparkContext.broadcast(new DiceKernel.Packed(bRows))
    a.mapPartitions { it =>
      val aArr = it.toArray
      if (aArr.isEmpty) Iterator.empty
      else {
        val b = bc.value
        comparisons.foreach(_.add(aArr.length.toLong * b.n))
        DiceKernel.blockDiceTopKPacked(new DiceKernel.Packed(aArr), b, threshold, k, 0, 1)
      }
    }.toDF("sim", "dset0", "dset1", "rec0", "rec1")
  }

  /** Full candidate generation: encode → block/salt → score → dedup +
    * global k-enforcement. Returns the candidate-pair DataFrame
    * (sim, dset0, dset1, rec0, rec1), unsorted (sort is a
    * presentation property — use Candidates.sorted at boundaries). */
  def candidatePairs(pages: DataFrame, params: LinkageParams,
      dsetIdExpr: org.apache.spark.sql.Column,
      /** instrumentation hook (identity by default): receives the
        * pre-finalize scored stream as ("raw", df) — used by the
        * driver contract's differential oracle (SparkEntry.dumpAux). */
      tap: graft.ops.Dedup.Tap = graft.ops.Dedup.noTap,
      /** see [[candidatePairsFromEncoded]]; additionally stays 0 when a
        * candidates snapshot is resumed (no scoring runs). */
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    graft.io.Snapshots.resumeOrCompute(spark, params.checkpointDir, "candidates",
        candidatesKey(params, dsetIdExpr)) {
      // The blocking stage scans the exploded records three times (the
      // key census for the "any key salted?" action, the same census as
      // the salt grid's join build side, and the kernel feed).
      // With a checkpoint dir the encode stage is snapshotted so every
      // pass reads Parquet instead of re-encoding; without one
      // (tests/small runs) the re-encode is accepted — measured cheaper
      // than caching (see candidatePairsFromEncoded).
      val encoded = graft.io.Snapshots
        .resumeOrCompute(spark, params.checkpointDir, "encoded", encodeKey(params, dsetIdExpr)) {
          encode(pages, params, dsetIdExpr).toDF()
        }
        .as[EncodedRecord]
      candidatePairsFromEncoded(encoded, params, tap, comparisons)
    }
  }

  /** Snapshot content keys of [[candidatePairs]]' two stages: changed
    * params (or dataset-assignment expression) must not silently resume
    * a stale snapshot. The encode stage keys on only what encoding
    * depends on (clk, blocking, dsetIdExpr) — a threshold/k change must
    * NOT discard the expensive encode snapshot, just the candidates one. */
  private[graft] def candidatesKey(params: LinkageParams,
      dsetIdExpr: org.apache.spark.sql.Column): String =
    params.toString + "/" + dsetIdExpr.toString
  private[graft] def encodeKey(params: LinkageParams,
      dsetIdExpr: org.apache.spark.sql.Column): String =
    params.clk.toString + "/" + params.blocking.toString + "/" + dsetIdExpr.toString

  /** The scoring tail from already-encoded records: explode + salt →
    * kernel → per-block top-k restoration when salting split a block →
    * dedup + global `_enforce_k`. Shared by [[candidatePairs]] and
    * external-CLK entry points ([[graft.io.ClkJsonSource]]) so every
    * path gets the exact salting-invariance semantics. */
  def candidatePairsFromEncoded(encoded: Dataset[EncodedRecord], params: LinkageParams,
      tap: graft.ops.Dedup.Tap = graft.ops.Dedup.noTap,
      /** optional kernel-comparison counter (instrumentation, not
        * bookkeeping — see the accumulator note above
        * [[scoreAgainstBroadcast]]: exact only when the result stream
        * materializes exactly once). */
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    // NOTE on the triple scan: the blocking stage reads the exploded
    // stream three times (the census behind the "any key salted?"
    // action, the same census as the grid join's build side, the kernel
    // feed). Measured at bench scale the re-encode is noise
    // (~0.1 s warm) and an internal cache + eager materialization COST
    // more than it saved on single-pass consumers (+1.1 s on
    // linkage_hist), so the frame stays lazy; at real scale the
    // checkpointDir snapshot (candidatePairs) provides the reuse.
    val (blocked, anySalted) = blockAndSaltWithStats(encoded, params)
    val raw = params.k match {
      case Some(kk) if anySalted =>
        // keep the block key through scoring so per-block top-k can
        // be restored after salting (exact salting invariance —
        // without this, a salted cell's rank-(k+1) pair could leak
        // into the global `_enforce_k` stream)
        Candidates.perBlockTopK(scorePairsWithKey(blocked, params, comparisons), kk).drop("key")
      case _ =>
        // nothing salted (every cell is a whole block — the kernel's
        // per-cell top-k already IS per-block) or no k at all (cells
        // partition the comparison rectangle): skip the restoration
        // window, the stream is already exact
        scorePairs(blocked, params, comparisons)
    }
    Candidates.finalize(tap("raw", raw), params.k)
  }

  /** V2: transitive clustering of the candidate pairs. Returns
    * (dsetId, recId, clusterId).
    *
    * Without a checkpointDir the returned frame is clusterPairs'
    * result: a driver-built local relation for small pair sets, cached
    * and materialized otherwise — `unpersist()` it when done (a no-op
    * on the local relation); with a checkpointDir the result reads from
    * its snapshot and holds no cache.
    *
    * `inputKey` feeds the snapshot content key alongside params — pass
    * anything that identifies the PAIRS' provenance (run() passes the
    * dsetIdExpr, mirroring candidatePairs' key) so a re-run over a
    * different dataset split cannot silently resume a stale clusters
    * snapshot. NOTE (applies to every snapshot stage): the content key
    * identifies parameters, not input DATA — reusing a checkpointDir
    * after the input corpus itself changes requires a fresh dir (or a
    * caller-supplied corpus fingerprint in `inputKey`). */
  def clusters(pairs: DataFrame, params: LinkageParams,
      inputKey: String = ""): DataFrame = {
    val spark = pairs.sparkSession
    var computed: DataFrame = null
    val out = graft.io.Snapshots.resumeOrCompute(spark, params.checkpointDir, "clusters",
      params.toString + "/" + inputKey) {
      // with a checkpoint dir the CC rounds snapshot to stable storage
      // (executor-loss-safe) instead of localCheckpoint
      computed = ConnectedComponents.clusterPairs(pairs,
        checkpointDir = params.checkpointDir.map(d => s"$d/cc"))
      computed
    }
    // clusterPairs returns a big result cached; once a snapshot
    // supersedes it, the cache is dead weight — release it. Without a
    // checkpointDir, out EQ computed and the cache IS the returned
    // value (caller unpersists).
    if (computed != null && !(out eq computed)) computed.unpersist()
    // the clusters snapshot (or localCheckpoint) now owns the result —
    // the CC round snapshots under cc/ are dead weight; drop them
    params.checkpointDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$d/cc")
      scala.util.Try(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
    }
    out
  }

  /** End-to-end: pages → clusters (with url identity attached). The
    * candidate pairs are cached (or snapshotted, with a checkpointDir)
    * so the clustering iterations don't re-run the scoring pipeline.
    * Without a checkpointDir the pairs come back cached and the clusters
    * as [[clusters]] returns them — the caller unpersists both when
    * done. */
  def run(pages: DataFrame, params: LinkageParams,
      dsetIdExpr: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val pairs = candidatePairs(pages, params, dsetIdExpr)
    // don't re-cache a frame a caller (or a future candidatePairs
    // variant) already persisted — avoids the double-cache warning
    val reusable =
      if (params.checkpointDir.isDefined ||
        pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE) pairs
      else pairs.cache()
    (reusable, clusters(reusable, params, dsetIdExpr.toString))
  }
}
