package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators.
  *
  * The reference has no streaming surface at all (SURVEY §2.8) — these
  * exist because a production linkage/training-data pipeline ingests
  * pages continuously: the same encode/block stages run incrementally,
  * with watermarked windows for monitoring and stateful dedup-on-entry.
  */
object StreamOps {

  /** Watermarked tumbling-window counts over an event stream —
    * the incremental form of the T1 histogram/monitoring queries. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn(tsCol, col(tsCol).cast("timestamp")) // NTZ → instant (watermarks require TIMESTAMP)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Incremental linkage: match STREAMING pages against a packed
    * reference set (the production shape — a continuously-ingested
    * crawl matched against yesterday's entity table). Each micro-batch
    * is encoded with the SAME deterministic batch encoder and scored
    * with the SAME broadcast kernel as [[graft.Linkage
    * .scoreAgainstBroadcast]], so stream results equal batch results on
    * the same rows. `k` top-k applies per micro-batch partition —
    * enforce a global k downstream with [[graft.cand.Candidates
    * .enforceK]] over the sink if cross-batch top-k is required. */
  def matchAgainstReference(
      pages: DataFrame,
      reference: Array[graft.sim.ClkRow],
      params: graft.LinkageParams): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val clks = graft.Linkage.encode(pages, params, lit(0))
      .map(r => graft.sim.ClkRow(r.recId, r.clk, r.pop))
    graft.Linkage.scoreAgainstBroadcast(clks, reference, params)
  }

  /** Incremental linkage from a STREAM of already-encoded CLKs — the
    * CLK-interop twin of [[matchAgainstReference]] for handoff files
    * arriving on a directory ([[graft.io.ClkJsonSource
    * .readJsonlStream]]'s `(recId, clk, pop)` shape). Each micro-batch
    * is scored against the packed reference with the same broadcast
    * kernel as the batch path, so stream results equal batch results
    * on the same rows. */
  def matchClkStreamAgainstReference(
      clks: DataFrame,
      reference: Array[graft.sim.ClkRow],
      params: graft.LinkageParams): DataFrame = {
    val spark = clks.sparkSession
    import spark.implicits._
    val rows = clks.select(col("recId").cast("long"), col("clk"), col("pop").cast("int"))
      .as[(Long, Array[Byte], Int)]
      .map { case (id, clk, pop) => graft.sim.ClkRow(id, clk, pop) }
    graft.Linkage.scoreAgainstBroadcast(rows, reference, params)
  }

  /** Pack a batch reference table for [[matchAgainstReference]]:
    * encode + collect. Broadcast-sized by contract — the guard keeps a
    * fat reference from silently OOMing the driver (1024-bit CLKs ≈
    * 150 B/row ⇒ the default cap ≈ 300 MB, a reasonable broadcast). */
  def packReference(
      pages: DataFrame,
      params: graft.LinkageParams,
      maxRows: Long = 2000000L): Array[graft.sim.ClkRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    require(maxRows >= 1 && maxRows < Int.MaxValue - 1,
      s"maxRows must be in [1, Int.MaxValue - 1), got $maxRows")
    val enc = graft.Linkage.encode(pages, params, lit(1))
    // ONE action: collect up to cap+1 — a count()-then-collect() gate
    // would run the whole (uncached) encode pipeline twice; a full
    // limited collect means the reference exceeds the cap
    val rows = enc.map(r => graft.sim.ClkRow(r.recId, r.clk, r.pop))
      .limit(maxRows.toInt + 1).collect()
    require(rows.length <= maxRows,
      s"reference exceeds $maxRows rows — too big to broadcast; " +
        "use the batch blocked pipeline (Linkage.candidatePairs) instead")
    rows
  }

  case class BandEntry(bandKey: Long, docId: Long)
  case class BucketState(ids: Array[Long], overflow: Long)
  case class NearDupHit(docId: Long, priorId: Long, bandKey: Long)

  /** Stateful NEAR-dup-on-entry: streaming minhash-LSH banding — the
    * ingestion-time analogue of [[graft.ops.Dedup.minhashLsh]]'s
    * banding stage. Each arriving document's band keys are matched
    * against the per-band bucket state; every (new doc, retained prior
    * member) pair is emitted as a candidate. Downstream, candidates
    * get the SAME exact-Jaccard verification as the batch path (the
    * emitted pair stream is exactly the batch `bucketPairs` pair set
    * while buckets stay under `maxPerBucket` — proven by parity spec).
    *
    * State is BOUNDED by contract: a bucket retains at most
    * `maxPerBucket` member ids; later members of an overflowing bucket
    * (a boilerplate cluster at web scale) still emit pairs against the
    * retained sample — enough to route them into the same cluster via
    * the transitive-closure tail — and an overflow count is kept in
    * state for observability. The counter counts band-entry ARRIVALS
    * beyond the retained sample (a doc re-arriving, or reaching one
    * bucket via several colliding bands, counts each time), not
    * distinct documents — counting distinct docs would need unbounded
    * per-bucket id state, the exact thing the cap exists to avoid. The
    * batch path's hot-bucket star pairing needs each bucket's
    * deterministic anchors, which a stream cannot know until the bucket
    * is complete; the retained-sample semantics is the honest streaming
    * trade and is documented here rather than hidden.
    *
    * Same-key duplicates: one doc can land in a bucket via two bands
    * whose keys collide; pairs may then be emitted once per shared
    * band, matching batch banding — callers `.distinct()` before
    * verification exactly as the batch callers do. */
  def nearDupCandidatesOnEntry(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      mh: graft.block.MinhashParams = graft.block.MinhashParams(),
      clk: graft.encode.ClkParams = graft.encode.ClkParams(),
      maxPerBucket: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxPerBucket >= 1)
    val entries = docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.block.Blocking
          .minhashBandKeys(graft.encode.ClkEncoder.ngramHashes(text, clk), mh)
          .map(k => BandEntry(k, id))
      }
    entries.groupByKey(_.bandKey)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (band: Long, rows: Iterator[BandEntry], state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(BucketState(Array.empty, 0L))
          var ids = st.ids
          var overflow = st.overflow
          val out = List.newBuilder[NearDupHit]
          rows.foreach { e =>
            var i = 0
            var known = false
            while (i < ids.length) {
              if (ids(i) == e.docId) known = true
              else out += NearDupHit(e.docId, ids(i), band)
              i += 1
            }
            if (!known) {
              if (ids.length < maxPerBucket) ids = ids :+ e.docId
              else overflow += 1
            }
          }
          state.update(BucketState(ids, overflow))
          out.result().iterator
      }.toDF()
  }

  case class SeenState(count: Long)
  case class SeenOut(fingerprint: Long, occurrence: Long, firstSeen: Boolean)

  /** Stateful exact-dedup-on-entry: tracks per-fingerprint occurrence
    * counts with `mapGroupsWithState`; emits whether each micro-batch's
    * fingerprint was new. The streaming analogue of Dedup.exact. */
  def dedupOnEntry(fingerprints: DataFrame): DataFrame = {
    val spark = fingerprints.sparkSession
    import spark.implicits._
    fingerprints.select(col("fingerprint").cast("long")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (fp: Long, rows: Iterator[Long], state: GroupState[SeenState]) =>
          val prior = state.getOption.map(_.count).getOrElse(0L)
          val n = rows.size
          state.update(SeenState(prior + n))
          SeenOut(fp, prior + n, firstSeen = prior == 0)
      }
      .toDF()
  }
}
