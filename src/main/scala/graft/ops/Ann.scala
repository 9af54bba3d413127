package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.Hashing

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the queries,
  *    stream the corpus through `mapPartitions`, per-query bounded
  *    heap merged across partitions by a rank window. The baseline.
  *  - [[lshTopK]]: random-hyperplane LSH buckets (sign-bit sketch);
  *    probes only the query's bucket — the scale path, with recall
  *    measured against brute force in the test suite.
  */
object Ann {

  /** Deterministic random hyperplanes: plane p, dim d → N(0,1)-ish via
    * a pair of uniform hashes (Box-Muller is overkill; a sum of 4
    * uniforms is symmetric and plenty for sign-bucketing). */
  def planeComponent(plane: Int, dim: Int, seed: Long): Double = {
    var s = 0.0
    var t = 0
    while (t < 4) {
      s += Hashing.toUnitDouble(Hashing.mix64(Hashing.combine(Hashing.combine(seed, plane.toLong), dim.toLong * 4 + t))) - 0.5
      t += 1
    }
    s
  }

  /** Per-JVM memo of the (deterministic) hyperplane matrices: the
    * components are pure functions of (planes, dim, seed), but deriving
    * each one costs 4 hash mixes — recomputing the full planes×dim
    * matrix for EVERY vector multiplied the bucketing stage's CPU by
    * ~5× over the dot products it feeds (measured on the lshTopK path:
    * tables × planes × dim × 4 mixes per corpus vector). Constants, not
    * results — same memo class as BitBandParams.positions. */
  private val planeMatrixCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()

  private def planeMatrix(planes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    planeMatrixCache.computeIfAbsent((planes, dim, seed),
      _ => Array.tabulate(planes)(p => Array.tabulate(dim)(d => planeComponent(p, d, seed))))

  /** Sign-bit bucket key of a vector under `planes` hyperplanes.
    * planes is capped at 64 (bits 0..63 of the Long key): `1L << p`
    * wraps modulo 64 from p = 64 on, silently aliasing plane p onto
    * plane p − 64 (buckets collide, hot-bucket machinery does
    * quadratic extra work with no signal). */
  def hyperplaneKey(vec: Array[Float], planes: Int, seed: Long): Long = {
    require(planes >= 1 && planes <= 64,
      s"planes must be in [1, 64] (got $planes): keys are single-Long " +
        "sign bitmaps; grow recall with more tables, not more planes")
    val m = planeMatrix(planes, vec.length, seed)
    var key = 0L
    var p = 0
    while (p < planes) {
      val row = m(p)
      var dot = 0.0
      var d = 0
      // same accumulation order as the inline derivation it replaces —
      // the sign (and so the bucket key) is bit-identical
      while (d < vec.length) { dot += vec(d) * row(d); d += 1 }
      if (dot > 0) key |= 1L << p
      p += 1
    }
    key
  }

  /** Exact dot product of two float-vector columns, accumulated in
    * double left-to-right (deterministic) — a native codegen
    * expression ([[graft.functions.DotProductFloat]]), not a UDF, so
    * the candidate-verify joins stay inside whole-stage codegen with
    * no per-row Seq[Float] serde. */
  def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.BitFunctions.dot_float(a, b)

  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (id, unit(v)) }
      .toDF("id", "unit")
  }

  /** `v` scaled to unit length; the norm accumulates in double
    * left-to-right, and a zero vector stays zero. The one
    * normalization of the ANN and embedding near-dup operators. */
  private[ops] def unit(v: Seq[Float]): Array[Float] = {
    val arr = v.toArray
    var norm = 0.0
    var i = 0
    while (i < arr.length) { norm += arr(i).toDouble * arr(i); i += 1 }
    val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
    arr.map(x => (x * inv).toFloat)
  }

  /** Euclidean norm accumulated left-to-right in double — the naive
    * order, deliberately: `cosine = dot / (sqrt(na) * sqrt(nb))` with
    * naive double accumulation is bit-identical to DuckDB's
    * `list_cosine_similarity(DOUBLE[])`, which makes the brute-force
    * path hash-exactly oracle-checkable (verified on 190/190 pairs of
    * the test embeddings). */
  def norm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Exact cosine top-k of every query against the corpus.
    * Queries are collected + broadcast (top-k search is almost always
    * few-queries-vs-huge-corpus; for corpus×corpus use
    * [[Dedup.embeddingNearDup]]). Corpus vectors stay raw with a
    * precomputed norm (same flops as normalize-at-ingest, but the
    * cosine is the exact double `dot/(|a||b|)`).
    * Returns (query_id, id, cosine, rank). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => val a = v.toArray; (id, a, norm(a)) }
    val bc = spark.sparkContext.broadcast(qRows)
    val partTopK = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        // per-query bounded heap over this partition's corpus slice
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.by { case (c, id) => (-c, id) })) // worst on top
        it.foreach { case (id, vec) =>
          val v = vec.toArray
          val nv = norm(v)
          var qi = 0
          while (qi < qs.length) {
            val q = qs(qi)._2
            // mixed embedding models/tables must fail loudly: a
            // truncated dot over min(dims) with full-norm denominators
            // yields systematically deflated, meaningless cosines (the
            // IVF path and the DuckDB oracle both reject mismatched
            // dimensions — this path must not silently differ)
            if (q.length != v.length) throw new IllegalArgumentException(
              s"embedding dimension mismatch: query ${qs(qi)._1} has " +
                s"${q.length} dims, corpus id $id has ${v.length}")
            var dot = 0.0
            var d = 0
            val n = q.length
            while (d < n) { dot += q(d).toDouble * v(d); d += 1 }
            // clamp to [-1, 1]: the naive self-dot can land 1 ULP above
            // 1.0; DuckDB's list_cosine_similarity clamps the same way,
            // and maps a zero-norm (0/0 = NaN) cosine to -1.0 — without
            // that, NaN sorts ABOVE every real cosine in the rank
            // window and a zero vector would displace true neighbors
            val raw = dot / (qs(qi)._3 * nv)
            val cos =
              if (raw.isNaN || raw < -1.0) -1.0 else if (raw > 1.0) 1.0 else raw
            val h = heaps(qi)
            if (h.size < k) h.enqueue((cos, id))
            else if (cos > h.head._1 || (cos == h.head._1 && id < h.head._2)) {
              h.dequeue(); h.enqueue((cos, id))
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (c, id) => (qs(qi)._1, id, c) }
        }
      }
      .toDF("query_id", "id", "cosine")
    // merge partition-local top-k into global top-k per query
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), asc("id"))
    partTopK.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Fit the IVF coarse quantizer (seeded KMeans) on a bounded sample
    * of the unit vectors. At 100 TB the quantizer is fit ONCE on a
    * sample and the centroids persisted (and the corpus bucketed by
    * cell id so probes are partition-pruned scans) — re-fitting KMeans
    * over the full corpus per query batch is a full scan per iteration. */
  def fitCentroids(
      corpusUnit: DataFrame,
      nLists: Int,
      seed: Long,
      maxFitRows: Long = 50000L): Array[Array[Float]] = {
    val n = corpusUnit.count()
    val sampled =
      if (n > maxFitRows)
        corpusUnit.sample(withReplacement = false, maxFitRows.toDouble / n, seed)
      else corpusUnit
    val toVec = udf((v: Seq[Float]) =>
      org.apache.spark.ml.linalg.Vectors.dense(v.map(_.toDouble).toArray))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
    km.fit(sampled.withColumn("features", toVec(col("unit"))))
      .clusterCenters.map(_.toArray.map(_.toFloat))
  }

  /** Fit-once-and-persist quantizer: load centroids from `dir` if a
    * matching (version, nLists, seed) snapshot exists, else fit on the
    * bounded sample and persist. This is the DEFAULT path for repeated
    * IVF queries — the fit (with its corpus `count()` + sample + KMeans
    * passes) runs once per corpus, not once per query batch; at 100 TB
    * the centroids live next to the corpus like any other index
    * artifact. The key carries no corpus digest — callers going
    * through [[ivfTopK]] get content verification (`verifyStore`)
    * layered on top; direct users of this function regenerate (delete
    * the dir) when the corpus changes. */
  def fitOrLoadCentroids(
      corpusUnit: DataFrame,
      nLists: Int,
      seed: Long,
      dir: String,
      maxFitRows: Long = 50000L): Array[Array[Float]] = {
    val spark = corpusUnit.sparkSession
    import spark.implicits._
    val path = s"$dir/ivf-centroids-v1-k$nLists-s${java.lang.Long.toHexString(seed)}.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
      spark.read.parquet(path).as[(Int, Seq[Float])].collect()
        .sortBy(_._1).map(_._2.toArray)
    } else {
      val cents = fitCentroids(corpusUnit, nLists, seed, maxFitRows)
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid").coalesce(1).write.mode("overwrite").parquet(path)
      cents
    }
  }

  /** Corpus content signature for persisted-store staleness detection:
    * (row count, order-independent sum of per-row (id, vec) content
    * hashes) — ONE aggregate, decimal sum so it is overflow-exact.
    * EVERY row's vector content is hashed (no sampling: the aggregate
    * scans every row anyway, hashing is cheap next to the IO, and a
    * sampled digest would miss re-embedded rows on corpora smaller
    * than the sample stride). Catches the silent-staleness cases
    * metadata keys miss: a corpus rewritten in-place with preserved
    * file names/sizes/mtimes, and regenerated embeddings under
    * unchanged ids. Cost: one two-column aggregate scan per verified
    * call — far cheaper than the refit + partitioned rewrite it
    * guards, but not free; at true 100 TB scale callers who version
    * their corpus paths can opt out (`verifyStore = false` keeps the
    * bare metadata-key behavior). */
  def corpusSignature(corpus: DataFrame, idCol: String, vecCol: String): String = {
    val r = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .agg(
        count(lit(1)),
        sum(xxhash64(col("id"), col("vec")).cast("decimal(38,0)")))
      .head()
    def d(i: Int) = if (r.isNullAt(i)) "0" else r.getDecimal(i).toBigInteger.toString
    s"v2:${r.getLong(0)}:${d(1)}"
  }

  private def readSmallText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeSmallText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** IVF-Flat top-k.
    *
    * With `centroidsDir` set (the at-scale default), BOTH index
    * artifacts persist there: the centroids ([[fitOrLoadCentroids]])
    * AND the corpus itself, written once as Parquet '''partitioned by
    * cell id''' — so a probe reads ONLY the `nProbe` probed cells'
    * partition directories (partition pruning by construction: the
    * probed dirs are enumerated, nothing else is listed or opened).
    * At 100 TB that turns each query batch from a full corpus scan +
    * shuffle into a pruned scan of ~nProbe/nLists of the data with a
    * broadcast-able query side. The cell layout is keyed like the
    * centroids (version, nLists, seed) AND stamped with a
    * [[corpusSignature]] at build time; with `verifyStore` (the
    * default) the warm path recomputes the signature and REBUILDS the
    * whole store (centroids + cells) on mismatch — a corpus rewritten
    * in place with preserved mtimes, or re-embedded under unchanged
    * ids, refits instead of silently serving stale cells. A
    * pre-signature store (no stamp file) is treated as stale once.
    * `verifyStore = false` restores the bare metadata-key behavior
    * (zero corpus scans on the warm path) for callers who version
    * their corpus paths externally.
    *
    * Without a dir, assignment happens in-flight (small/ad-hoc
    * corpora). Either way the call evaluates eagerly and releases its
    * internal caches before returning (returned frame is cached —
    * callers unpersist when done). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      seed: Long = 0x1ffL,
      centroids: Option[Array[Array[Float]]] = None,
      /** persisted-index dir — see scaladoc; ignored when `centroids`
        * is supplied directly (no cell store without a dir). */
      centroidsDir: Option[String] = None,
      /** content-verify the persisted store against the passed corpus
        * (see scaladoc); ignored without `centroidsDir`. */
      verifyStore: Boolean = true,
      tap: Dedup.Tap = Dedup.noTap): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val useStore = centroids.isEmpty && centroidsDir.isDefined
    // store layout resolved up front so the corpus normalization is
    // cached exactly when something will scan it more than once: the
    // in-flight path (fit + assignment) and the one-time store BUILD
    // (fit + partitioned write); the warm store path never normalizes
    // the corpus at all (and with verifyStore pays exactly one
    // signature aggregate)
    var sigNow: Option[String] = None // computed at most once per call
    def signature(): String = {
      if (sigNow.isEmpty) sigNow = Some(corpusSignature(corpus, idCol, vecCol))
      sigNow.get
    }
    val storeInfo: Option[(String, String, org.apache.hadoop.fs.FileSystem, Boolean)] =
      if (!useStore) None
      else {
        val suffix = s"-v1-k$nLists-s${java.lang.Long.toHexString(seed)}"
        val cellsPath = s"${centroidsDir.get}/ivf-cells$suffix.parquet"
        val sigFile = s"${centroidsDir.get}/ivf-signature$suffix.txt"
        val fs = new org.apache.hadoop.fs.Path(cellsPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        var exists = fs.exists(new org.apache.hadoop.fs.Path(cellsPath, "_SUCCESS"))
        val centsPath = new org.apache.hadoop.fs.Path(
          s"${centroidsDir.get}/ivf-centroids$suffix.parquet")
        if (verifyStore) {
          if (exists) {
            val sigPath = new org.apache.hadoop.fs.Path(sigFile)
            val stored = if (fs.exists(sigPath)) Some(readSmallText(fs, sigPath)) else None
            if (!stored.contains(signature())) {
              // stale (or unstamped) store: drop BOTH artifacts so the
              // build path below refits the quantizer and relays the
              // cells — never serve cells from a corpus this call did
              // not receive
              fs.delete(new org.apache.hadoop.fs.Path(cellsPath), true)
              fs.delete(centsPath, true)
              exists = false
            }
          } else {
            // no committed cells but a centroids snapshot may exist (a
            // crashed earlier build, or a fitOrLoadCentroids-only dir):
            // those centroids were fit on a corpus nobody verified —
            // delete them so the build below refits from THIS corpus
            // instead of stamping a foreign quantizer as verified
            fs.delete(centsPath, true)
            fs.delete(new org.apache.hadoop.fs.Path(sigFile), false)
          }
        }
        Some((cellsPath, sigFile, fs, exists))
      }
    val needCorpusN = !useStore || storeInfo.exists(!_._4)
    val corpusN = if (needCorpusN) Some(normalized(corpus, idCol, vecCol).cache()) else None
    // coarse quantizer: precomputed centroids > persisted fit > fresh fit
    val cents = centroids.getOrElse(
      centroidsDir match {
        // the lazily-built normalization is only SCANNED when no
        // persisted snapshot exists (fit-once semantics)
        case Some(d) => fitOrLoadCentroids(
          corpusN.getOrElse(normalized(corpus, idCol, vecCol)), nLists, seed, d)
        case None => fitCentroids(corpusN.get, nLists, seed)
      })
    val cBc = spark.sparkContext.broadcast(cents)

    def nearestCells(v: Array[Float], n: Int): Seq[Int] = {
      val cs = cBc.value
      cs.indices.map { c =>
        val cc = cs(c)
        // stale/foreign centroids must fail loudly, not silently
        // truncate the dot product over mismatched dimensions
        require(cc.length == v.length,
          s"centroid dim ${cc.length} != vector dim ${v.length} — " +
            "stale persisted centroids? delete the centroids dir to refit")
        var dot = 0.0
        var d = 0
        while (d < cc.length) { dot += cc(d) * v(d); d += 1 }
        (c, dot)
      }.sortBy { case (c, dot) => (-dot, c) }.take(n).map(_._1)
    }

    // cached: the query side is scanned by the probed-cells collect
    // (store path) AND the candidate join — tiny (queries × nProbe)
    val qAssigned = normalized(queries, idCol, vecCol).as[(Long, Seq[Float])]
      .flatMap { case (id, v) => nearestCells(v.toArray, nProbe).map(c => (id, v, c)) }
      .toDF("query_id", "qunit", "cell")
      .cache()

    val assigned: DataFrame = storeInfo match {
      case Some((cellsPath, sigFile, fs, exists)) =>
        if (!exists) {
          // build once: assign every corpus vector to its cell and lay
          // the corpus out cell-partitioned next to the centroids (the
          // cached corpusN fed the fit above — one normalization total)
          corpusN.get.as[(Long, Seq[Float])]
            .map { case (id, v) => (id, v, nearestCells(v.toArray, 1).head) }
            .toDF("id", "unit", "cell")
            .write.mode("overwrite").partitionBy("cell").parquet(cellsPath)
          // stamp the store with the corpus content signature so the
          // next warm call can verify it (written last — a failed
          // build leaves no stamp and is rebuilt)
          writeSmallText(fs, new org.apache.hadoop.fs.Path(sigFile), signature())
        }
        // probe set: ≤ nLists distinct cells — enumerate exactly those
        // partition dirs (a probed cell can be corpus-empty → no dir)
        val probed = qAssigned.select($"cell").distinct().as[Int].collect().sorted
        val dirs = probed.map(c => s"$cellsPath/cell=$c")
          .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
        if (dirs.isEmpty)
          Seq.empty[(Long, Seq[Float], Int)].toDF("id", "unit", "cell")
        else
          spark.read.option("basePath", cellsPath).parquet(dirs.toIndexedSeq: _*)
            .select($"id", $"unit", $"cell")
      case None =>
        corpusN.get.as[(Long, Seq[Float])]
          .map { case (id, v) => (id, v, nearestCells(v.toArray, 1).head) }
          .toDF("id", "unit", "cell")
    }

    val scored = tap("cands",
      qAssigned.join(assigned, "cell").select($"query_id", $"id", $"qunit", $"unit"))
      .withColumn("cosine", dot(col("qunit"), col("unit")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), asc("id"))
    // uniform eager contract: materialize the (small) top-k result so
    // every internal cache can be released before returning (in
    // finally — a failed materialization must not pin them)
    try {
      val out = scored.select("query_id", "id", "cosine")
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .cache()
      out.count()
      out
    } finally {
      corpusN.foreach(_.unpersist())
      qAssigned.unpersist()
    }
  }

  /** LSH-bucketed top-k: `tables` independent hyperplane tables; probe
    * the union of the query's buckets. Each table touches
    * ~1/2^planes of the corpus; recall grows with tables (the classic
    * storage-vs-recall LSH tradeoff). */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 6,
      tables: Int = 4,
      seed: Long = 0xa55eedL,
      tap: Dedup.Tap = Dedup.noTap): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def keysOf(v: Array[Float]): Seq[(Int, Long)] =
      (0 until tables).map(t => (t, hyperplaneKey(v, planes, Hashing.combine(seed, t.toLong))))
    val keyed = normalized(corpus, idCol, vecCol).as[(Long, Seq[Float])]
      .flatMap { case (id, v) => keysOf(v.toArray).map { case (t, b) => (id, v, t, b) } }
      .toDF("id", "unit", "table", "bucket")
    val qKeyed = normalized(queries, idCol, vecCol).as[(Long, Seq[Float])]
      .flatMap { case (id, v) => keysOf(v.toArray).map { case (t, b) => (id, v, t, b) } }
      .toDF("query_id", "qunit", "table", "bucket")
    val scored = tap("cands",
      qKeyed.join(keyed, Seq("table", "bucket"))
        .select(col("query_id"), col("id"), col("qunit"), col("unit"))
        .dropDuplicates("query_id", "id")) // same pair can collide in many tables
      .withColumn("cosine", dot(col("qunit"), col("unit")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), asc("id"))
    scored.select("query_id", "id", "cosine")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }
}
