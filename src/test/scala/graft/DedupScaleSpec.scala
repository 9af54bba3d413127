package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Env-gated dedup-at-scale evidence (the dedup twin of the HUGE
  * linkage E2E): half a million near-duplicate web pages through the
  * full minhash-LSH pipeline — exact pre-collapse, banding,
  * the hot-bucket star guard, inverted-index Jaccard verify, CC,
  * member re-expansion — scored against the planted entity labels with
  * the distributed pairwise evaluator (no pair materialization).
  *
  * `GRAFT_HUGE_DEDUP=1` runs 250k entities × 2 variants = 500k docs;
  * `GRAFT_HUGE_DEDUP_ENTITIES` overrides the entity count (useful for
  * a quick smoke at 10k). */
class DedupScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("env-gated HUGE dedup (GRAFT_HUGE_DEDUP=1): 500k near-dup pages, " +
    "minhash-LSH clusters recover the planted entities") {
    assume(sys.env.get("GRAFT_HUGE_DEDUP").contains("1"), "set GRAFT_HUGE_DEDUP=1 to run")
    val entities = sys.env.get("GRAFT_HUGE_DEDUP_ENTITIES").map(_.toLong).getOrElse(250000L)
    val t0 = System.nanoTime()
    // 2 variants per entity at low perturbation: within-entity trigram
    // Jaccard is high, cross-entity low — the planted near-dup truth
    val pages = gen.Corpus.labeledPages(spark, gen.Corpus.Params(
      entities = entities, seed = 307L, minVariants = 2, maxVariants = 2,
      perturbation = 0.03))
      .select(Linkage.recIdCol(col("url")).as("doc_id"), col("text"), col("entityId"))
      .cache()
    val n = pages.count()
    assert(n == 2 * entities, s"corpus size $n != ${2 * entities}")
    val clusters = Dedup.minhashLsh(pages, "doc_id", "text", jaccardThreshold = 0.3)
    // distributed pairwise F1 vs the planted entities — group sizes
    // only, no pair materialization (solve.Evaluation)
    val truth = pages.select(lit(0).as("dsetId"), col("doc_id").as("recId"), col("entityId"))
    val pred = clusters.select(lit(0).as("dsetId"), col("id").as("recId"), col("clusterId"))
    val row = solve.Evaluation.pairwise(truth, pred).collect().head
    val (precision, recall, f1) = (row.getDouble(3), row.getDouble(4), row.getDouble(5))
    clusters.unpersist(); pages.unpersist()
    val wallMin = (System.nanoTime() - t0) / 6e10
    info(f"entities=$entities docs=$n P=$precision%.4f R=$recall%.4f F1=$f1%.4f wall=$wallMin%.1f min")
    assert(f1 >= 0.95, f"pairwise F1 $f1%.4f < 0.95 (P=$precision%.4f R=$recall%.4f)")
    assert(wallMin < 25.0, f"HUGE dedup took $wallMin%.1f min — scale regression")
  }

  test("driver-scale corpus (dedup_scale, 50k docs): minhash-LSH recovers the " +
      "planted entities at pairwise F1 >= 0.99 — ungated, every run") {
    // EXACTLY the corpus SparkEntry's `dedup_scale` query synthesizes
    // (same seed + params): the driver hash-checks that query's cluster
    // table against the DuckDB CC-tail oracle; this spec adds the
    // SEMANTIC claim — those clusters recover the planted near-dup
    // entities — without an env flag, so it runs every round.
    val pages = gen.Corpus.labeledPages(spark, gen.Corpus.Params(
      entities = 25000L, seed = 307L, minVariants = 2, maxVariants = 2,
      perturbation = 0.03))
      .select(Linkage.recIdCol(col("url")).as("doc_id"), col("text"), col("entityId"))
      .cache()
    assert(pages.count() == 50000L)
    val clusters = Dedup.minhashLsh(pages, "doc_id", "text", jaccardThreshold = 0.3)
    val truth = pages.select(lit(0).as("dsetId"), col("doc_id").as("recId"), col("entityId"))
    val pred = clusters.select(lit(0).as("dsetId"), col("id").as("recId"), col("clusterId"))
    val row = solve.Evaluation.pairwise(truth, pred).collect().head
    val (precision, recall, f1) = (row.getDouble(3), row.getDouble(4), row.getDouble(5))
    clusters.unpersist(); pages.unpersist()
    info(f"P=$precision%.4f R=$recall%.4f F1=$f1%.4f")
    assert(f1 >= 0.99, f"pairwise F1 $f1%.4f < 0.99 (P=$precision%.4f R=$recall%.4f)")
  }
}
