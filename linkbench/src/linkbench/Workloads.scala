package linkbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BlockedRow, EncodedRecord, Linkage, LinkageParams, MinhashBlocking, RunPipeline}
import graft.cand.Candidates
import graft.gen.Corpus
import graft.io.Snapshots
import graft.ops.Dedup
import scala.collection.mutable

/** An untraced run's outcome: the result table (dsetId, recId, clusterId)
  * and the comparison count the program reported, where it reports one.
  * `release` drops whatever the run left cached once the checks are done. */
final case class RunResult(result: DataFrame, summaryComparisons: Option[Long],
    release: () => Unit = () => ())

/** The traced run's outcome: the result table, the rows each layer's calls
  * produced, and the layer-specific counts measured from outside — taken
  * when `counts` is called, after the traced run's root span has closed. */
final case class TracedResult(result: DataFrame, rowsOut: Map[String, Long],
    counts: () => Map[String, Double])

/** One linkage or dedup job over inputs generated from a seed. `in` holds the
  * inputs and the `truth` side file; `out` and `ckpt` are fresh per run. */
trait Workload {
  def name: String
  /** Input records one run reads. */
  def records: Long
  def generate(spark: SparkSession, in: String, seed: Long): Unit
  def run(spark: SparkSession, in: String, out: String, ckpt: String): RunResult
  /** The same job, re-composed from each layer's public call, one span per call. */
  def traced(spark: SparkSession, in: String, out: String, ckpt: String, t: TracedCalls): TracedResult
}

/** Span helpers for a traced run. Each layer's output is cached and counted
  * inside its span, so the next layer starts from materialized input and the
  * span holds only its own layer's work. */
final class TracedCalls(val tracer: Tracer) {
  val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  def layer(name: String)(body: => DataFrame): DataFrame = tracer.span(name) {
    val out = body
    val df = if (out.storageLevel == org.apache.spark.storage.StorageLevel.NONE) out.cache() else out
    cached += df
    rowsOut(name) += df.count()
    df
  }

  /** A write call; `rows` is the row count of the frame it writes. */
  def write[T](rows: Long)(body: => T): T = {
    val r = tracer.span("io.write")(body)
    rowsOut("io.write") += rows
    r
  }

  def release(): Unit = cached.foreach(_.unpersist())
}

object Workloads {

  /** Input sizes in entities, two records each; `tiny` is the self-check size. */
  def apply(name: String, size: String): Workload = {
    val tiny = size == "tiny"
    name match {
      case "link-pages" => new LinkPages(if (tiny) 150L else 2500L)
      case "dedup-pages" => new DedupPages(if (tiny) 150L else 6000L)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (link-pages | dedup-pages)")
    }
  }

  private def writeTruth(labelled: DataFrame, dsetId: org.apache.spark.sql.Column, in: String): Unit =
    labelled.select(dsetId.cast("int").as("dsetId"), Linkage.recIdCol(col("url")).as("recId"),
        col("entityId"))
      .write.mode("overwrite").parquet(s"$in/truth")

  /** Counts measured from outside the program on the block layer's output:
    * one aggregate over the blocked rows per (key, salt) cell gives the exact
    * kernel comparisons Σ over cells of Σ_{i<j} |D_i|·|D_j|. */
  private def blockCounts(spark: SparkSession, encoded: DataFrame, blocked: DataFrame): Map[String, Double] = {
    import spark.implicits._
    val keys = encoded.select(explode($"bandKeys").as("key"), $"dsetId")
      .groupBy($"key").agg(count(lit(1)).as("n"), min($"dsetId").as("dmin"), max($"dsetId").as("dmax"))
      .agg(
        count(lit(1)).as("keys"),
        coalesce(sum($"n"), lit(0L)).as("exploded"),
        count(when($"dmin" =!= $"dmax", 1)).as("active"),
        coalesce(sum(when($"dmin" =!= $"dmax", $"n")), lit(0L)).as("semi"))
      .head()
    val cells = blocked.groupBy($"key", $"salt", $"dsetId").count()
      .groupBy($"key", $"salt")
      .agg(sum($"count").as("n"), sum($"count" * $"count").as("q"))
      .withColumn("cmp", ($"n" * $"n" - $"q") / 2)
      .agg(count(lit(1)).as("cells"), coalesce(sum($"cmp"), lit(0.0)).as("cmp"),
        coalesce(max($"cmp"), lit(0.0)).as("max_cmp"), coalesce(sum($"n"), lit(0L)).as("rows"))
      .head()
    val hot = blocked.where($"salt" > 0).select($"key").distinct().count()
    val semi = keys.getAs[Long]("semi")
    Map(
      "encode.band_keys" -> keys.getAs[Long]("keys").toDouble,
      "block.rows_exploded" -> keys.getAs[Long]("exploded").toDouble,
      "block.active_keys" -> keys.getAs[Long]("active").toDouble,
      "block.hot_keys" -> hot.toDouble,
      "block.cells" -> cells.getAs[Long]("cells").toDouble,
      "block.max_cell_cmp" -> cells.getAs[Double]("max_cmp"),
      "block.replication" -> (if (semi == 0) 0.0 else cells.getAs[Long]("rows").toDouble / semi),
      "sim.comparisons" -> cells.getAs[Double]("cmp"))
  }

  private def clusterTable(out: String, spark: SparkSession): DataFrame =
    spark.read.parquet(out).select(col("dsetId"), col("recId"), col("clusterId"))

  /** The documented deployment: one Parquet page table with a dataset column,
    * minhash blocking, components solver, stage snapshots on. */
  final class LinkPages(entities: Long) extends Workload {
    val name = "link-pages"
    val records: Long = 2 * entities
    private val threshold = 0.75
    private val k = Some(5)

    def generate(spark: SparkSession, in: String, seed: Long): Unit = {
      val pages = Corpus.labeledPages(spark, Corpus.Params(entities = entities, seed = seed,
        minVariants = 2, maxVariants = 2)).cache()
      pages.select("url", "warc_ts", "html", "text", "lang", "dsetId")
        .write.mode("overwrite").parquet(s"$in/pages")
      writeTruth(pages, col("dsetId"), in)
      pages.unpersist()
    }

    private def config(in: String, out: String, ckpt: String) = RunPipeline.Config(
      inputs = Seq(s"$in/pages"), out = out, dsetCol = Some("dsetId"), threshold = threshold,
      k = k, blocking = "minhash", solver = "components", checkpointDir = Some(ckpt))

    def run(spark: SparkSession, in: String, out: String, ckpt: String): RunResult = {
      val s = RunPipeline.run(spark, config(in, out, ckpt))
      RunResult(clusterTable(out, spark), Some(s.comparisons))
    }

    def traced(spark: SparkSession, in: String, out: String, ckpt: String, t: TracedCalls): TracedResult = {
      import spark.implicits._
      val c = config(in, out, ckpt)
      // the snapshot layout RunPipeline.run and Linkage.candidatePairs use
      val inputKey = c.inputs.mkString(",") + "/" + c.format + "/" + c.dsetCol
      val stages = Snapshots.stageDir(ckpt, "run", inputKey)
      val dset = col("graft_dset")
      val params = LinkageParams(blocking = MinhashBlocking(), threshold = threshold, k = k,
        pairBudget = c.pairBudget, checkpointDir = Some(stages))
      val pages = t.layer("io.read") {
        spark.read.parquet(c.inputs.head).withColumn("graft_dset", col("dsetId").cast("int"))
          .select(col("url"), col("text"), dset)
      }
      val encoded = t.layer("encode") {
        // RunPipeline's input rebalance: a scan with fewer partitions than
        // cores is spread over twice the default parallelism
        val minParts = spark.sparkContext.defaultParallelism
        val input = if (pages.rdd.getNumPartitions < minParts) pages.repartition(2 * minParts) else pages
        Linkage.encode(input, params, dset).toDF()
      }
      val encSnap = t.write(t.rowsOut("encode")) {
        Snapshots.write(encoded, Snapshots.stageDir(stages, "encoded",
          params.clk.toString + "/" + params.blocking.toString + "/" + dset.toString))
      }
      // the scoring tail as Linkage.candidatePairsFromEncoded composes it
      var salted = false
      val blocked = t.layer("block") {
        val (b, s) = Linkage.blockAndSaltWithStats(encSnap.as[EncodedRecord], params)
        salted = s
        b.toDF()
      }
      val withKey = params.k.isDefined && salted
      val raw = t.layer("sim") {
        val b = blocked.as[BlockedRow]
        if (withKey) Linkage.scorePairsWithKey(b, params) else Linkage.scorePairs(b, params)
      }
      val pairs = t.layer("cand") {
        val restored = if (withKey) Candidates.perBlockTopK(raw, params.k.get).drop("key") else raw
        Candidates.finalize(restored, params.k)
      }
      val pairSnap = t.write(t.rowsOut("cand")) {
        Snapshots.write(pairs, Snapshots.stageDir(stages, "candidates",
          params.toString + "/" + dset.toString))
      }
      val clusters = t.layer("solve")(Linkage.clusters(pairSnap, params, inputKey))
      t.write(t.rowsOut("solve"))(clusters.write.mode("overwrite").parquet(out))

      def counts(): Map[String, Double] = {
        val bc = blockCounts(spark, encSnap, blocked)
        val cmp = bc("sim.comparisons")
        val rawRows = t.rowsOut("sim").toDouble
        val distinct = Candidates.dedup(raw).count().toDouble
        val ratio = (n: Double, d: Double) => if (d == 0) 0.0 else n / d
        bc ++ Map(
          "sim.pairs_raw" -> rawRows,
          "sim.hit_ratio" -> ratio(rawRows, cmp),
          "cand.pairs_distinct" -> distinct,
          "cand.redundancy" -> ratio(rawRows, distinct),
          "cand.topk_keep" -> ratio(t.rowsOut("cand").toDouble, distinct),
          "solve.clustered_records" -> t.rowsOut("solve").toDouble,
          "solve.clusters" -> clusters.select("clusterId").distinct().count().toDouble)
      }
      TracedResult(clusterTable(out, spark), t.rowsOut.toMap, () => counts())
    }
  }

  /** The training-data near-dup operator on one dataset of documents. */
  final class DedupPages(entities: Long) extends Workload {
    val name = "dedup-pages"
    val records: Long = 2 * entities
    private val jaccard = 0.3

    def generate(spark: SparkSession, in: String, seed: Long): Unit = {
      val pages = Corpus.labeledPages(spark, Corpus.Params(entities = entities, seed = seed,
        minVariants = 2, maxVariants = 2, perturbation = 0.03)).cache()
      pages.select(Linkage.recIdCol(col("url")).as("id"), col("text"))
        .write.mode("overwrite").parquet(s"$in/docs")
      writeTruth(pages, lit(0), in)
      pages.unpersist()
    }

    private def docs(spark: SparkSession, in: String): DataFrame =
      spark.read.parquet(s"$in/docs").select("id", "text")

    private def asResult(clusters: DataFrame): DataFrame =
      clusters.select(lit(0).as("dsetId"), col("id").as("recId"), col("clusterId"))

    def run(spark: SparkSession, in: String, out: String, ckpt: String): RunResult = {
      val clusters = Dedup.minhashLsh(docs(spark, in), "id", "text", jaccardThreshold = jaccard)
      RunResult(asResult(clusters), None, () => clusters.unpersist())
    }

    def traced(spark: SparkSession, in: String, out: String, ckpt: String, t: TracedCalls): TracedResult = {
      // minhashLsh sizes its own input rebalance from the scan's plan
      // statistics, which a cached input would change; so io.read times a
      // full scan and the operator gets the same uncached scan as the
      // untraced run (its span therefore includes one more scan)
      val scan = docs(spark, in)
      t.tracer.span("io.read")(scan.write.format("noop").mode("overwrite").save())
      t.rowsOut("io.read") += scan.count()
      val clusters = t.layer("ops.dedup") {
        Dedup.minhashLsh(scan, "id", "text", jaccardThreshold = jaccard)
      }
      TracedResult(asResult(clusters), t.rowsOut.toMap, () => Map.empty)
    }
  }
}
