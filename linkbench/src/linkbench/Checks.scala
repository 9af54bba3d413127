package linkbench

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Pairwise clustering quality against the planted entity labels. */
final case class Quality(precision: Double, recall: Double, f1: Double)

/** Output checks that use only the result table and the truth side file —
  * never the program's own evaluation code. Results are small (one row per
  * clustered record), so they are collected once and checked on the driver.
  *
  * @param truth entity id of every input record, keyed by (dsetId, recId)
  */
final class Checks(truth: Map[(Int, Long), Long]) {

  /** Pairs of records that share an entity: Σ over entities of C(size, 2). */
  val truePairs: Long = pairsIn(truth.values.groupBy(identity).values.map(_.size))

  private def pairsIn(sizes: Iterable[Int]): Long = sizes.map(n => n.toLong * (n - 1) / 2).sum

  /** Collects a result table (dsetId int, recId long, clusterId long). */
  def collect(result: DataFrame): Array[(Int, Long, Long)] =
    result.select("dsetId", "recId", "clusterId").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))

  /** Order-independent digest of the clustering: each cluster hashes the
    * sorted hashes of its members, and the cluster hashes are summed with
    * wrap-around. Cluster labels do not enter, so two runs agree exactly when
    * they partition the same records the same way. */
  def digest(rows: Array[(Int, Long, Long)]): Long =
    rows.groupBy(_._3).values.iterator.map { members =>
      members.map { case (d, r, _) => mix(mix(d.toLong) ^ r) }.sorted
        .foldLeft(0x6c62272e07bb0142L)((h, m) => mix(h ^ m))
    }.sum

  /** The invariants every run must keep; returns the violated ones. */
  def invariants(rows: Array[(Int, Long, Long)]): Seq[String] = {
    val unknown = rows.count { case (d, r, _) => !truth.contains((d, r)) }
    val multi = rows.groupBy(r => (r._1, r._2)).count(_._2.length > 1)
    Seq(
      (unknown, "records not in the input"),
      (multi, "records in more than one cluster")
    ).collect { case (n, what) if n > 0 => s"$n $what" }
  }

  /** Pairwise precision, recall and F1 by group-size pair counting. Records
    * missing from the result are singletons and contribute no pair. */
  def quality(rows: Array[(Int, Long, Long)]): Quality = {
    val predicted = pairsIn(rows.groupBy(_._3).values.map(_.length))
    val both = mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    rows.foreach { case (d, r, c) => truth.get((d, r)).foreach(e => both((c, e)) += 1) }
    val hits = pairsIn(both.values)
    val p = if (predicted == 0) 0.0 else hits.toDouble / predicted
    val r = if (truePairs == 0) 0.0 else hits.toDouble / truePairs
    Quality(p, r, if (p + r == 0) 0.0 else 2 * p * r / (p + r))
  }

  /** SplitMix64 finalizer. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}
