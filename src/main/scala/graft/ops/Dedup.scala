package graft.ops

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.block.{Blocking, MinhashParams}
import graft.core.Hashing
import graft.encode.ClkEncoder
import graft.solve.ConnectedComponents

/** Deduplication operators for a training-data pipeline, each scaled
  * the Spark way: exact = hash groupBy; near-dup = signature → band
  * bucket → bounded-task same-bucket pairs → verify → connected
  * components → canonical keeper.
  *
  * All candidate generation is *within one table* (self-dedup), unlike
  * the bipartite linkage pipeline; pairs are canonicalized `id0 < id1`.
  *
  * Two guards make the bucket self-joins web-scale-safe (a raw
  * `banded.join(banded, "band")` is quadratic in the hottest bucket —
  * 100k identical boilerplate pages would put ~10^10 pairs in one
  * task):
  *
  *  1. '''exact pre-collapse''' — identical texts enter LSH once, as
  *     their min-id representative; members are re-attached to the
  *     representative's cluster afterwards. Output-preserving: copies
  *     share all signatures, so un-collapsed they'd always land in one
  *     component whose min id IS the representative.
  *  2. '''star pairing''' ([[bucketPairs]]) — a still-hot bucket
  *     (many *distinct* near-identical docs) pairs every member with
  *     m deterministic anchors instead of enumerating its n²/2
  *     triangle: n·m pairs, O(m) per record, the bucket kept
  *     connected through the anchors.
  *
  * [[minhashLsh]] and [[simhash]] are one pipeline ([[nearDupClusters]])
  * taking the signature and the verify predicate as parameters, as
  * anonlink's `find_candidate_pairs` takes its similarity function;
  * they and [[embeddingNearDup]] verify through one join rule
  * ([[attachPayloads]]).
  */
object Dedup {

  /** Instrumentation hook type for the near-dup pipelines: called with
    * a stage name and the stage's DataFrame; whatever it returns feeds
    * the next stage. Identity by default — [[graft.SparkEntry]] uses it
    * to dump deterministic intermediates for differential DuckDB
    * oracles (the SQL-expressible tail of each pipeline is then
    * hash-verified on REAL pipeline data instead of rows-only). */
  type Tap = (String, DataFrame) => DataFrame
  val noTap: Tap = (_, df) => df

  /** Exact dedup: one keeper (min id) per identical text. A shuffle on
    * a 64-bit text hash, not the text itself — at 100 TB you group by
    * the digest and keep the full text only in the payload. Digest
    * equality stands in for text equality (collision odds ~2^-64 per
    * pair; group on (digest, length) or re-verify within groups if that
    * is not acceptable for a given corpus). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // NULL text hashes as "" so exact and near-dup agree on the null ==
    // empty crawl convention (xxhash64 skips null inputs, which would
    // otherwise give nulls their own group distinct from empty texts)
    docs.groupBy(xxhash64(coalesce(col(textCol), lit(""))).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** All unordered same-bucket pairs `(id0 < id1)` from a `(bucket,
    * id)` table, under ONE hot-bucket rule: a bucket with n rows takes
    * the '''star path''' iff its full triangle exceeds the budget
    * (n·(n−1)/2 > `pairBudget`) AND the star is smaller than the
    * triangle (n > 2m+1, m = `starFanout`); every other bucket emits
    * its full triangle from one `collect_list` row.
    *
    * Star path: m anchors are chosen deterministically per bucket
    * (the m smallest `(mix64(id ^ mix64(bucket)), id)`, a total order)
    * and every member is paired with every anchor — n·m pairs total,
    * O(m) per record, where the triangle of a boilerplate-template
    * cluster of 10^6 *distinct* near-identical pages (exact
    * pre-collapse can't fire) would be ~5·10^11 verification pairs.
    *
    * Recall semantics of the star: two non-anchor members are never
    * verified directly — they end up in one cluster iff both verify
    * against a common anchor, so per-bucket CONNECTIVITY through the
    * anchors is preserved (a genuinely near-identical cluster stays
    * one component: every member matches every anchor), but an
    * individual non-anchor/non-anchor pair below-threshold-to-all-
    * anchors is missed. Dedup needs the cluster connected, not every
    * pair enumerated — the same trade the linkage path makes with
    * per-left top-k inside the Dice kernel. A `pairBudget` above the
    * largest bucket's triangle makes every bucket cold, i.e. pairing
    * exhaustive. Within one bucket every pair is emitted exactly once
    * (anchor-anchor pairs only from the smaller anchor's row).
    *
    * The star bucket ids are collected to the driver: star buckets are
    * few by construction — each carries > √(2·pairBudget) rows.
    *
    * Pairs are NOT deduplicated across buckets — callers `.distinct()`.
    */
  def bucketPairs(bucketed: DataFrame, pairBudget: Long = 4L * 1000 * 1000,
      starFanout: Int = 64): DataFrame = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    require(pairBudget >= 2, s"pairBudget must be >= 2, got $pairBudget")
    val m = starFanout
    require(m >= 1, s"starFanout must be >= 1, got $m")
    val base = bucketed.select(col("bucket").cast("long").as("bucket"),
      col("id").cast("long").as("id"))
    // one census action: per-bucket counts, then the star buckets as a
    // filtered collect_list (it drops the nulls the `when` leaves for
    // cold buckets), so only star bucket ids reach the driver
    val starBuckets = base.groupBy($"bucket").agg(count(lit(1)).as("n"))
      .agg(collect_list(when($"n" * ($"n" - 1) / 2 > pairBudget && $"n" > 2L * m + 1,
        $"bucket")))
      .head().getSeq[Long](0)
    // Cold buckets: group each bucket's ids into ONE list and expand
    // the triangle with a codegen'd nested transform — a single
    // exchange (the aggregate), versus the previous equi-self-join's
    // TWO exchanges of the full (bucket, id) stream plus a hash build
    // (or, pre-hint, two sorts). Measured ~2× faster on the 50k-doc
    // scale corpus (1.6 s vs 3.4 s for the census+join+distinct
    // stretch) and set-identical: pairs are normalized (least,
    // greatest) with i<j enumeration, exactly the a.id < b.id join
    // output. Safe to group: this stream holds ONLY cold buckets, so a
    // list row is ≤ max(√(2·pairBudget) + 1, 2m+1) ids (~23 KB at the
    // defaults) — the skewed giants that make collect_list dangerous
    // were already routed to the star path by the census above.
    def coldPairs(d: DataFrame): DataFrame =
      d.groupBy($"bucket").agg(collect_list($"id").as("ids"))
        .where(size($"ids") >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(0, size(ids)-2), i -> " +
            "transform(sequence(i+1, size(ids)-1), j -> " +
            "struct(least(ids[i], ids[j]) as id0, greatest(ids[i], ids[j]) as id1))))"))
          .as("p"))
        .select(col("p.id0").as("id0"), col("p.id1").as("id1"))
        // strict inequality like the join's a.id < b.id: duplicate
        // (bucket, id) rows must not yield self-pairs
        .where(col("id0") =!= col("id1"))
    if (starBuckets.isEmpty) return coldPairs(base)
    val cold = coldPairs(base.where(!col("bucket").isInCollection(starBuckets)))
    val starRows = base.where(col("bucket").isInCollection(starBuckets))
    // deterministic anchors: the m smallest (mix64(id ^ mix64(b)), id)
    // per bucket. NOT a window — a window sort would concentrate the
    // motivating 10^6-member hot bucket into one sort task, the exact
    // skew this machinery exists to avoid. Instead: per-partition
    // bounded heaps (linear, no shuffle) → driver merge of
    // ≤ m × #star-buckets candidates per partition — same collect
    // shape as the census above.
    def anchorKey(b: Long, id: Long): Long = Hashing.mix64(id ^ Hashing.mix64(b))
    val partTop = starRows.as[(Long, Long)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long)]]
        it.foreach { case (b, id) =>
          val k = (anchorKey(b, id), id)
          val pq = heaps.getOrElseUpdate(b,
            scala.collection.mutable.PriorityQueue.empty[(Long, Long)]) // max on top
          if (pq.size < m) pq.enqueue(k)
          else if (Ordering[(Long, Long)].lt(k, pq.head)) { pq.dequeue(); pq.enqueue(k) }
        }
        heaps.iterator.flatMap { case (b, pq) =>
          pq.iterator.map { case (h, id) => (b, h, id) }
        }
      }
    // second-level reduce BEFORE the driver: per-partition tops are
    // m × #buckets × #partitions rows — merge to the global per-
    // bucket top-m distributively so the collect is exactly
    // m × #star-buckets (the census collect times m, never scaled by
    // partition count)
    val anchors: Map[Long, Array[Long]] = partTop
      .groupByKey(_._1)
      .mapGroups { (b, it) =>
        val top = it.map(t => (t._2, t._3)).toArray.sorted.take(m).map(_._2).sorted
        (b, top)
      }
      .collect()
      .toMap
    val anchorsB = spark.sparkContext.broadcast(anchors)
    // each unordered pair exactly ONCE: a member row pairs with every
    // anchor (members are not anchors), an ANCHOR row pairs only with
    // strictly-larger anchors — without the guard every anchor-anchor
    // pair would be emitted twice (once from each anchor's row),
    // which embeddingNearDup's no-distinct contract would surface as
    // duplicate output rows
    val starPairs = starRows.as[(Long, Long)]
      .mapPartitions { it =>
        val a = anchorsB.value
        it.flatMap { case (b, id) =>
          val as = a(b)
          val isAnchor = java.util.Arrays.binarySearch(as, id) >= 0
          as.iterator
            .filter(x => if (isAnchor) x > id else x != id)
            .map(x => (math.min(x, id), math.max(x, id)))
        }
      }
      .toDF("id0", "id1")
    cold.unionByName(starPairs)
  }

  /** Rebalance an under-partitioned input scan: the CPU-heavy typed
    * stages downstream (shingling, minhash, normalization) inherit the
    * SCAN's partitioning, and a small corpus packs into 1-2 scan splits
    * (openCostInBytes file packing) — serializing those stages
    * regardless of available cores. The one input rebalance rule: these
    * operators and [[graft.RunPipeline]]'s encode input share it.
    * A 100 TB scan has thousands of partitions, so this never fires at
    * scale and large runs keep the shuffle-free scan→signature path.
    * Call with scan-shaped inputs (the operators' documented input
    * contract) — partition-count inspection of an exchange-bearing
    * plan could trigger upstream work. */
  private[graft] def rebalanced[T](ds: Dataset[T]): Dataset[T] = {
    val minParts = ds.sparkSession.sparkContext.defaultParallelism
    // size gate: only rebalance when there is enough data for the extra
    // exchange to pay for itself (measured: repartitioning a ~600 KB
    // 5k-doc table into 64 partitions of ~80 rows DOUBLED its dedup
    // query time in task overhead, while the ~15 MB 50k-doc scale
    // corpus gained ~10%). Plan statistics are free for scans; the
    // partition count (`ds.rdd` posts an execution) is read only past it.
    val bytes = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes > 8L * 1024 * 1024 && ds.rdd.getNumPartitions < minParts)
      ds.repartition(2 * minParts)
    else ds
  }

  /** Collapse identical texts to their min-id representative.
    * Returns (id, rep, text) where `rep == id` marks representatives.
    * Grouping is by (64-bit text digest, text length) — like
    * [[exact]], hash equality stands in for text equality (an xxhash64
    * collision would merge two distinct documents unverified; the
    * length component shrinks that surface to same-length collisions,
    * ~2^-64 per same-length pair). */
  private def withTextRep(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // crawl extracts carry NULL texts routinely (same convention as
    // Linkage.encode): treat as "" — empty gram set, can never near-dup
    // — instead of NPEing inside the executor-side shingling map.
    //
    // rep = min(id) per (digest, length) group, attached via an
    // aggregate + equi-join on the 64-bit digest instead of a window:
    // the window shuffled AND sorted every full text by digest; the
    // aggregate's shuffle carries only (digest, length, id) — 24
    // bytes/row with map-side partial aggregation (guide §2.3 "shuffle
    // keys and metadata instead of payloads") — and the join back
    // attaches rep without the per-partition sort (locally the small
    // aggregated side broadcasts; at scale both forms are one wide
    // exchange, minus the window's sort).
    val base = docs.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("text"))
      .withColumn("th", xxhash64(col("text")))
      .withColumn("tl", length(col("text")))
    val reps = base.groupBy(col("th"), col("tl")).agg(min("id").as("rep"))
    base.join(reps, Seq("th", "tl")).select(col("id"), col("text"), col("rep"))
  }

  /** Re-attach collapsed members to their representative's component:
    * (id, clusterId, keeper); singleton representatives keep their own
    * id as clusterId. Output matches the un-collapsed computation: the
    * min id of any mixed component is itself a representative.
    *
    * keeper = min(id) per cluster ≡ clusterId, provably, so no window
    * (previously a full exchange + sort of the member table) and no
    * aggregate are needed:
    *  - every member id ≥ its rep ([[withTextRep]]: rep is the MIN id
    *    of its identical-text group);
    *  - a CC component's label is the MIN node id in the component
    *    ([[ConnectedComponents.run]]'s contract), and its nodes are
    *    exactly the reps wired by verified edges;
    *  - hence min over a CC cluster's members = min over its reps =
    *    component = clusterId, and for a singleton rep group
    *    min = rep = clusterId.
    * The identity is cross-checked every round by the driver's DuckDB
    * oracle, which still computes keeper as min(id) OVER (PARTITION BY
    * cluster) from the dumped intermediates, and by OpsSpec. */
  private def expandReps(withRep: DataFrame, repComps: DataFrame): DataFrame = {
    withRep.select(col("id"), col("rep"))
      .join(repComps.withColumnRenamed("node", "rep"), Seq("rep"), "left")
      .withColumn("clusterId", coalesce(col("component"), col("rep")))
      .withColumn("keeper", col("clusterId"))
      .select("id", "clusterId", "keeper")
  }

  /** Runs `body` with a `cache` function that caches a frame and
    * registers it; every registered frame is unpersisted when `body`
    * returns OR throws, so a failed action inside the operator (the
    * census, the star-anchor collect, a materialize, CC) leaves nothing
    * pinned in the session. A frame `body` returns cached is its own
    * `.cache()`, not registered. */
  private def releasing[A](body: (DataFrame => DataFrame) => A): A = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => cached += df.cache(); df }
    finally cached.foreach(_.unpersist())
  }

  /** The one verify join of the near-dup operators: `(id0, id1)` pairs
    * ⋈ an `(id, payload)` frame on both ends → `(id0, id1, p0, p1)`.
    *
    * When the (cached, already materialized) payload side is within
    * `spark.sql.autoBroadcastJoinThreshold` it is broadcast to both
    * attaches and the pairs stream with no exchange, no cache and no
    * extra action — `embed_neardup` at sf0.1 pairs 2 000 vectors into
    * ~500k candidates, and caching that pair side (one 64-float vector
    * per pair) to count it doubled the operator's time for nothing.
    *
    * Otherwise the pair side (pairs ⋈ `p0`) is cached through `cache`
    * and counted once, so it carries its real size and the `p1` attach
    * is planned from it: within the threshold the pair side is
    * broadcast and the payloads stream with no exchange; over it (the
    * 50k-doc scale corpus, or a threshold of -1) SHUFFLE_HASH — unhinted
    * it planned as sort-merge, sorting ARRAY payloads on both sides.
    *
    * Where the bytes go (dedup-pages, 12k docs, seed 1, [[minhashLsh]]:
    * the gram side's plan estimate is 10.6–10.8 MB, over the 10 MB
    * default): with both attaches planned off estimates the run
    * shuffled 26.5 MB, 16.07 MB of it in the `p1` attach — AQE
    * exchanged all 11 573 gram arrays (10.57 MB) and the pair side
    * (5.50 MB) before broadcasting that side. Counted first, the pair
    * side (5.5 MB; the grams are 14.4 MB) broadcasts and the run
    * shuffles 10.4 MB. The `p0` attach is still planned from
    * estimates: at 50k docs AQE exchanges every payload before it
    * broadcasts the pairs. */
  private def attachPayloads(cache: DataFrame => DataFrame, pairs: DataFrame,
      payload: DataFrame): DataFrame = {
    val p0 = payload.select(col("id").as("id0"), col("payload").as("p0"))
    val p1 = payload.select(col("id").as("id1"), col("payload").as("p1"))
    def broadcastable(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (broadcastable(p1)) pairs.join(broadcast(p0), "id0").join(broadcast(p1), "id1")
    else {
      val pairSide = cache(pairs.join(p0, "id0"))
      pairSide.count()
      pairSide.join(if (broadcastable(pairSide)) p1 else p1.hint("SHUFFLE_HASH"), "id1")
    }
  }

  /** The near-dup cluster pipeline of [[minhashLsh]] and [[simhash]]:
    * exact pre-collapse (tapped `withrep`) → `signature(text)` per
    * representative, giving its bucket keys and verify payload →
    * same-bucket pairs ([[bucketPairs]]), distinct → [[attachPayloads]]
    * → `matches(p0, p1)` (tapped `verified`) → CC → member
    * re-expansion → (id, clusterId, keeper).
    *
    * The returned frame is CACHED and already materialized (eager, so
    * the internal caches — rep collapse, signatures, bucket table, pair
    * side — are unpersisted before returning, also when an action
    * fails); callers `unpersist()` it when done. Three root actions —
    * the star census, CC's gate and the result's materialize — plus
    * [[attachPayloads]]' pair-side count when the payload side is over
    * the broadcast threshold. */
  private def nearDupClusters[P: TypeTag](
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairBudget: Long,
      starFanout: Int,
      tap: Tap)(
      signature: String => (Array[Long], P),
      matches: (Column, Column) => Column): DataFrame = releasing { cache =>
    val spark = docs.sparkSession
    import spark.implicits._

    val withRep = cache(tap("withrep", withTextRep(rebalanced(docs), idCol, textCol)))
    val sigs = cache(withRep.where($"id" === $"rep").select($"id", $"text")
      .as[(Long, String)]
      .map { case (id, text) =>
        val (keys, payload) = signature(text)
        (id, keys, payload)
      }
      .toDF("id", "keys", "payload"))
    // cached: the exploded bucket table is scanned by the census AND the
    // pair generation — uncached each scan re-explodes (and
    // re-deserializes the key arrays from) the signature cache
    val bucketed = cache(sigs.select(explode($"keys").as("bucket"), $"id"))
    val verified = attachPayloads(cache,
        bucketPairs(bucketed, pairBudget, starFanout).distinct(), sigs.select($"id", $"payload"))
      .where(matches($"p0", $"p1"))
      .select($"id0", $"id1")

    // CC is eager (iterative jobs / driver finish), so by the time it
    // returns, the signatures and the pair side are fully consumed; the
    // result is then cached + materialized so withRep can be released
    // too — nothing internal outlives the call
    val comps = ConnectedComponents.run(
      tap("verified", verified).select($"id0".as("src"), $"id1".as("dst")))
    val out = expandReps(withRep, comps).cache()
    out.count()
    out
  }

  /** MinHash + LSH near-dup clusters ([[nearDupClusters]]): word
    * n-gram minhash band keys as buckets, verified by exact n-gram
    * Jaccard of the distinct gram sets. Cached and materialized on
    * return; callers `unpersist()` it.
    *
    * @param jaccardThreshold verified n-gram Jaccard to call a dup.
    * @param pairBudget max unordered pairs a band bucket may emit as
    *                   its full triangle; a bucket above it with more
    *                   than 2·m+1 members takes the star path
    *                   ([[bucketPairs]]). A budget above the largest
    *                   bucket's triangle gives exhaustive pairing.
    * @param starFanout m, the per-record candidate cap for hot buckets
    *                   of DISTINCT near-identical texts (the exact
    *                   pre-collapse only absorbs byte-identical
    *                   copies): such a bucket emits anchor/star pairs
    *                   (n·m total) instead of the full n²/2 triangle —
    *                   see [[bucketPairs]] for the
    *                   connectivity-preserving recall semantics.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      params: MinhashParams = MinhashParams(),
      ngramN: Int = 3,
      jaccardThreshold: Double = 0.5,
      seed: Long = 0xded0bL,
      pairBudget: Long = 4L * 1000 * 1000,
      starFanout: Int = 64,
      tap: Tap = noTap): DataFrame =
    nearDupClusters(docs, idCol, textCol, pairBudget, starFanout, tap)(
      text => {
        val grams = ClkEncoder.wordNgramHashes(text, ngramN, seed).distinct
        (Blocking.minhashBandKeys(grams, params), grams)
      },
      // the two distinct gram ARRAYS intersected in one codegen'd
      // expression (a gram-inverted-index join cost ~5-8 s on the
      // 50k-doc scale corpus against <1 s here, bit-identical edges);
      // union == 0 ⇔ both gram sets empty ⇔ identical-as-shingled → 1.0
      (g0, g1) => {
        val inter = size(array_intersect(g0, g1)).cast("long")
        val union = size(g0).cast("long") + size(g1).cast("long") - inter
        when(union === 0, lit(1.0)).otherwise(inter / union) >= jaccardThreshold
      })

  /** SimHash near-dup: [[nearDupClusters]] with a 64-bit simhash as
    * payload, banded into 4×16-bit chunks as buckets (pigeonhole:
    * hamming ≤ 3 ⇒ at least one chunk identical), verified by exact
    * hamming ≤ maxHamming.
    *
    * Same return contract, root actions and `starFanout` semantics as
    * [[minhashLsh]] (chunk buckets are just as exposed to
    * distinct-near-identical boilerplate clusters). */
  def simhash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      seed: Long = 0x51a54L,
      pairBudget: Long = 4L * 1000 * 1000,
      starFanout: Int = 64,
      tap: Tap = noTap): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for hamming <= 3")
    nearDupClusters(docs, idCol, textCol, pairBudget, starFanout, tap)(
      text => {
        val sig = TextOps.simhash(text, seed)
        // bucket = (chunk index, 16-bit chunk value) packed into one long
        (Array.tabulate(4)(c => ((sig >>> (c * 16)) & 0xffffL) + (c.toLong << 16)), sig)
      },
      (s0, s1) => bit_count(s0.bitwiseXOR(s1)) <= maxHamming)
  }

  /** Direct exact n-gram Jaccard pairs via gram-inverted-index
    * equi-join: docs → (gram, id) → candidate pairs → per-pair
    * intersection counts → Jaccard.
    *
    * Grams with document frequency above `maxDf` are treated as
    * stop-grams and removed from the gram sets entirely (both the
    * index AND the set sizes), so the Jaccard stays exact over the
    * filtered sets — a well-defined semantic, not an approximation
    * error. Without the cap one boilerplate gram with df=10^6 yields
    * 10^12 join rows in a single task; with it the join work is
    * bounded by Σ min(df, maxDf)² per gram. A stop-gram shared by both
    * docs lowers inter and union by one each, so filtered Jaccard ≤
    * unfiltered for j < 1 — the cap only ever tightens membership.
    *
    * Cache contract: SAME eager-and-release convention as the other
    * near-dup ops ([[minhashLsh]] etc.) — the filtered gram index is
    * cached for the three scans inside the plan (sizes + both join
    * sides), the RESULT is cached and materialized, and the gram index
    * is unpersisted before returning, so nothing internal outlives the
    * call; callers `unpersist()` the returned frame when done. The
    * result is the thresholded pair set — the same cardinality class
    * the eager embedding near-dup op already returns cached. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ngramN: Int = 3,
      threshold: Double = 0.5,
      seed: Long = 0x9a33L,
      maxDf: Long = 100000L): DataFrame = releasing { cache =>
    val spark = docs.sparkSession
    import spark.implicits._
    // df-cap via a hash-aggregate census + broadcast anti-join — no
    // sort: a `count() over (partition by gram)` window sorts the whole
    // gram index by gram; the stop-gram SET (df > maxDf) is tiny by
    // definition (each member is a near-universal boilerplate gram), so
    // it broadcasts, and the index re-derivation (n-gram hashing runs
    // twice: census pass + filtered pass) is cheap linear CPU against
    // the sort it replaces. Cached: the filtered index feeds the sizes
    // aggregate and both sides of the self-join.
    // NULL text → "" (empty gram set, no pairs) — see withTextRep
    // grams0 cached: the stop-gram census and the filtered-index cache
    // fill both scan it — uncached, the shingling flatMap over every
    // text ran twice
    val grams0 = cache(rebalanced(docs).select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        ClkEncoder.wordNgramHashes(text, ngramN, seed).distinct.map(g => (id, g))
      }
      .toDF("id", "gram"))
    val stopGrams = grams0.groupBy($"gram").agg(count(lit(1)).as("df"))
      .where($"df" > maxDf).select($"gram")
    val grams = cache(grams0.join(broadcast(stopGrams), Seq("gram"), "left_anti"))
    val sizes = grams.groupBy($"id").agg(count(lit(1)).as("n"))
    // direct self-join count: every gram-sharing pair gets its
    // intersection size in one aggregation
    val inter = grams.as("a").join(grams.as("b"), "gram")
      .where($"a.id" < $"b.id")
      .groupBy($"a.id".as("id0"), $"b.id".as("id1"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.select($"id".as("id0"), $"n".as("n0")), "id0")
      .join(sizes.select($"id".as("id1"), $"n".as("n1")), "id1")
      .withColumn("jaccard", $"inter" / ($"n0" + $"n1" - $"inter"))
      .where($"jaccard" >= threshold)
      .select($"id0", $"id1", $"jaccard")
      .cache()
    out.count()
    out
  }

  /** Embedding-cosine near-dup PAIRS: normalized vectors, LSH-bucketed
    * by random-hyperplane sign bits, bounded same-bucket pairs
    * ([[bucketPairs]] — identical boilerplate embeddings share every
    * bucket, so the guard matters here too), verified by exact cosine.
    * `planes` must grow with corpus size (buckets ≈ 2^planes); the
    * star path bounds a hot bucket's pairs at any setting.
    *
    * Same eager-and-cached return contract, verify-join rule
    * ([[attachPayloads]]) and `starFanout` semantics as [[minhashLsh]]
    * (a template cluster of near-identical embeddings lands in one
    * hyperplane bucket). Two root actions, the star census and the
    * result's materialize, plus [[attachPayloads]]' pair-side count
    * when the vectors are over the broadcast threshold. */
  def embeddingNearDup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      cosineThreshold: Double = 0.95,
      planes: Int = 8,
      seed: Long = 0xe3bedL,
      pairBudget: Long = 4L * 1000 * 1000,
      starFanout: Int = 64,
      tap: Tap = noTap): DataFrame = releasing { cache =>
    val spark = embeddings.sparkSession
    import spark.implicits._
    // a NULL embedding cannot pair with anything (and unlike NULL text
    // there is no natural zero encoding — an all-zero "unit" vector
    // would still land every null row in one artificial hot bucket):
    // exclude such rows, which yields the same pair set a zero vector
    // would (cosine 0 < any positive threshold) without the bucket skew
    val vecs = cache(rebalanced(embeddings)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .where(col("vec").isNotNull)
      .as[(Long, Seq[Float])]
      .map { case (id, v) =>
        val unit = Ann.unit(v)
        (id, unit, Ann.hyperplaneKey(unit, planes, seed))
      }
      .toDF("id", "unit", "bucket"))
    // tap("units") is pass-through by default; with a dump tap the
    // verification reads the SAME unit vectors the oracle sees
    val units = tap("units", vecs.select($"id", $"unit"))
    // no .distinct(): each id has exactly ONE bucket, and bucketPairs
    // emits each unordered pair of a bucket exactly once, on the cold
    // and the star path alike
    val cand = tap("cands", bucketPairs(vecs.select($"bucket", $"id"), pairBudget, starFanout))
    val out = attachPayloads(cache, cand, units.select($"id", $"unit".as("payload")))
      .withColumn("cosine", Ann.dot($"p0", $"p1"))
      .where($"cosine" >= cosineThreshold)
      .select($"id0", $"id1", $"cosine")
      .cache()
    out.count()
    out
  }
}
