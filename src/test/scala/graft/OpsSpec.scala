package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{BitVector, Hashing}
import graft.ops._
import graft.sim.{ClkRow, DiceKernel, SmcKernel}

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // ---------------- SMC ----------------

  test("smc 2-bit truth table (ref test_similarity_smc.py:14-37)") {
    // bitarray('01') = bit0 unset, bit1 set (big-endian strings); only
    // XOR counts matter so we model via explicit words.
    def ba(s: String): Array[Long] = {
      val arr = new Array[Long](1)
      s.zipWithIndex.foreach { case (c, i) => if (c == '1') BitVector.setBit(arr, i) }
      arr
    }
    val bits2 = Seq("00", "01", "10", "11")
    for (x <- bits2; y <- bits2) {
      val expected = 1.0 - x.zip(y).count { case (a, b) => a != b }.toDouble / 2
      assert(BitVector.smc(ba(x), ba(y), 2) == expected, s"$x vs $y")
    }
  }

  test("smc kernel == naive oracle") {
    val rnd = new scala.util.Random(5)
    def mk(n: Int) = (0 until n).map { _ =>
      val arr = Array.fill(16)(rnd.nextLong())
      (rnd.nextLong(), arr)
    }
    val a = mk(30); val b = mk(40)
    for (t <- Seq(0.0, 0.45, 0.55, 1.0)) {
      val got = SmcKernel.blockSmc(
        new DiceKernel.Packed(a.map { case (id, w) => ClkRow(id, BitVector.toBytes(w), BitVector.popcount(w)) }.toArray),
        new DiceKernel.Packed(b.map { case (id, w) => ClkRow(id, BitVector.toBytes(w), BitVector.popcount(w)) }.toArray),
        t, 1024, 0, 1).toSeq.sorted(graft.solve.Candidate.globalOrdering)
      val want = SmcKernel.naiveSmc(a, b, t, 1024).sorted(graft.solve.Candidate.globalOrdering)
      assert(got == want, s"t=$t")
    }
  }

  test("smc operator == naive oracle under NoBlocking, salted or not; other dsetIds fail loudly") {
    val rnd = new scala.util.Random(11)
    def mk(dsetId: Int, n: Int) = (0 until n).map { _ =>
      val w = Array.fill(16)(rnd.nextLong())
      EncodedRecord(dsetId, rnd.nextLong(), "", BitVector.toBytes(w), BitVector.popcount(w), Array(0L))
    }
    val a = mk(0, 20); val b = mk(1, 25)
    def words(rs: Seq[EncodedRecord]) = rs.map(r => (r.recId, BitVector.fromBytes(r.clk)))
    val want = SmcKernel.naiveSmc(words(a), words(b), 0.5, 1024).sorted(graft.solve.Candidate.globalOrdering)
    assert(want.nonEmpty)
    // 20 × 25 = 500 comparisons: the default budget keeps the one key
    // whole, a budget of 50 salts it into a 3 × 4 grid of cells
    for (budget <- Seq(LinkageParams().pairBudget, 50L)) {
      val (blocked, salted) = Linkage.blockAndSaltWithStats((a ++ b).toDS(),
        LinkageParams(blocking = NoBlocking, pairBudget = budget))
      assert(salted == (budget == 50L))
      val got = Smc.scorePairs(blocked, 0.5, 1024).collect()
        .map(r => graft.solve.Candidate(r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
        .toSeq.sorted(graft.solve.Candidate.globalOrdering)
      assert(got == want, s"pairBudget=$budget")
    }
    // SMC is two-party (ref _smc.py:109-112): a third dataset, or a
    // signed id, must fail instead of being scored as dataset 1
    for (bad <- Seq(2, -1)) {
      val blocked = Linkage.blockAndSaltWithStats((a ++ b ++ mk(bad, 3)).toDS(),
        LinkageParams(blocking = NoBlocking))._1
      val e = intercept[Exception](Smc.scorePairs(blocked, 0.5, 1024).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("SMC supports exactly 2 datasets")), s"dsetId=$bad: $e")
    }
  }

  test("smc both-sides top-k: pair kept iff in top-k of both sides (ref _smc.py:61-66)") {
    // records: left {1,2}, right {10,11}. sims chosen so (2,10) is
    // top-1 for rec0=2 but rank-2 for rec1=10 -> dropped at k=1.
    val pairs = Seq(
      (0.9, 0, 1, 1L, 10L),
      (0.8, 0, 1, 2L, 10L),
      (0.7, 0, 1, 2L, 11L)).toDF("sim", "dset0", "dset1", "rec0", "rec1")
    // hand-traced reference semantics (_smc.py:51-66): top-1 per left =
    // {(.9,1,10),(.8,2,10)}; top-1 per right = {(.9,1,10),(.7,2,11)};
    // pair_counter==2 only for (.9,1,10).
    val k1 = Smc.bothSidesTopK(pairs, 1).collect().map(r => (r.getDouble(0), r.getLong(3), r.getLong(4))).toSet
    assert(k1 == Set((0.9, 1L, 10L)))
    val k2 = Smc.bothSidesTopK(pairs, 2).count()
    assert(k2 == 3)
  }

  // ---------------- dedup ----------------

  private lazy val docs = {
    // planted duplicates: 30 entities x 1-4 variants (perturbed), plus
    // exact copies of entity 0's base text
    val base = graft.gen.Corpus.labeledPages(spark,
      graft.gen.Corpus.Params(entities = 30L, seed = 3L, minVariants = 1, maxVariants = 4))
      .select(monotonically_increasing_id().as("tmp"), col("text"), col("entityId"))
    base.select((xxhash64(col("text")) % 100000).as("salt"), col("text"), col("entityId"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("entityId", "text")).cast("long"))
      .select("id", "text", "entityId")
      .cache()
  }

  test("exact dedup groups identical texts only") {
    val withCopies = docs.select($"id", $"text")
      .union(docs.where($"id" <= 3).select($"id" + 1000, $"text"))
    val res = Dedup.exact(withCopies, "id", "text")
    val dups = res.where($"n_copies" > 1)
    assert(dups.count() == 3)
    assert(dups.agg(max("n_copies")).head.getLong(0) == 2)
    // keepers are the original (min) ids
    assert(dups.select("keeper").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("minhash LSH dedup clusters planted variants; no cross-entity merges") {
    val res = Dedup.minhashLsh(docs, "id", "text", jaccardThreshold = 0.35).cache()
    val joined = res.join(docs.select($"id", $"entityId"), "id")
    // no cluster spans two entities (precision)
    val span = joined.groupBy("clusterId").agg(countDistinct("entityId").as("ents"))
    assert(span.agg(max("ents")).head.getLong(0) == 1L)
    // most multi-variant entities collapse into one cluster (recall);
    // 10% word perturbation => jaccard ~0.45-0.75 between variants
    val entClusters = joined.groupBy("entityId")
      .agg(countDistinct("clusterId").as("nc"), count(lit(1)).as("nv"))
    val multi = entClusters.where($"nv" > 1).collect()
    val collapsed = multi.count(r => r.getLong(1) < r.getLong(2))
    assert(collapsed >= (multi.length * 0.8).toInt,
      s"only $collapsed/${multi.length} multi-variant entities partially collapsed")
  }

  test("simhash dedup finds exact and near-exact copies") {
    val withCopies = docs.select($"id", $"text")
      .union(docs.where($"id" <= 5).select($"id" + 1000, $"text"))
    val res = Dedup.simhash(withCopies, "id", "text", maxHamming = 3)
    val clusters = res.groupBy("clusterId").agg(count(lit(1)).as("n")).where($"n" > 1)
    assert(clusters.count() >= 5) // at least the exact copies cluster
    // exact copies must share a cluster
    val byId = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 5L).foreach(i => assert(byId(i) == byId(i + 1000), s"copy of $i not clustered"))
  }

  test("ngram jaccard pairs match a brute-force oracle") {
    val sample = docs.where($"id" <= 40).cache()
    // brute force on the driver
    val texts = sample.select("id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val gramsById = texts.map { case (id, t) =>
      id -> graft.encode.ClkEncoder.wordNgramHashes(t, 3, 0x9a33L).distinct.toSet
    }.toMap
    for (t <- Seq(0.2, 0.3, 0.4, 0.6, 0.8)) {
      val res = Dedup.ngramJaccardPairs(sample, "id", "text", threshold = t)
      val got = res.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      res.unpersist()
      val want = (for {
        (i, gi) <- gramsById.toSeq
        (j, gj) <- gramsById.toSeq
        if i < j
        inter = gi.intersect(gj).size
        union = gi.size + gj.size - inter
        jac = if (union == 0) 1.0 else inter.toDouble / union
        if jac >= t
      } yield ((i, j), jac)).toMap
      assert(got.keySet == want.keySet, s"pair set differs at t=$t")
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12) }
    }
  }

  test("embedding near-dup finds planted near-identical vectors") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // plant: vec 100+i = tiny perturbation of vec i for i < 5
    val planted = (0 until 5).map(i =>
      (100L + i, base(i)._2.map(x => x + 0.001f * rnd.nextGaussian().toFloat)))
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding", cosineThreshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach(i => assert(pairs.contains((i.toLong, 100L + i)), s"missed planted pair $i"))
  }

  test("embedding near-dup in star mode emits no duplicate pair rows") {
    // one giant cluster of near-identical vectors: all land in one
    // hyperplane bucket, tiny pairBudget + small fanout forces the
    // star path — output rows must stay unique WITHOUT a distinct()
    // (each id has one bucket; the star emits each pair once)
    val rnd = new scala.util.Random(23)
    val proto = Array.fill(16)(rnd.nextGaussian().toFloat)
    val df = (0 until 120).map(i =>
      (i.toLong, proto.map(x => x + 0.0005f * rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      cosineThreshold = 0.99, pairBudget = 50, starFanout = 3)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.toSet.size,
      s"${rows.length - rows.toSet.size} duplicate near-dup pair rows")
    assert(rows.length <= 120L * 3, s"star cap ineffective: ${rows.length} pairs")
    assert(rows.nonEmpty)
    out.unpersist()
    ()
  }

  // ---------------- dedup scale guards ----------------

  test("bucketPairs cold stream (list expansion) matches the naive self-join, " +
    "including duplicate (bucket, id) rows") {
    // round-6 internals change: cold buckets expand pairs from a
    // collect_list instead of an equi-self-join — the emitted MULTISET
    // must match a.id < b.id join semantics exactly, including the
    // duplicate-row edge (two copies of id 10 yield (10,11) twice and
    // never a (10,10) self-pair)
    val rows = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 5L), (2L, 6L), (2L, 7L),
      (3L, 42L)) // singleton bucket emits nothing
    val df = rows.toDF("bucket", "id")
    val got = Dedup.bucketPairs(df, pairBudget = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val naive = df.as("a").join(df.as("b"), "bucket")
      .where(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == naive, s"cold pair multiset diverged: $got vs $naive")
  }

  test("minhashLsh keeper equals an independently computed min(id) per cluster") {
    // round-6 internals change: expandReps emits keeper = clusterId on
    // the proof that min(id) per cluster IS the cluster label (members
    // >= their rep; CC labels by min rep). Check the identity against
    // an independent aggregate over the OUTPUT, on a corpus that has
    // byte-identical copies (collapse groups), a near-dup merge, and a
    // singleton.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val docs = Seq(
      (10L, base), (11L, base), // identical copies -> collapse group
      (12L, base + " near"), // near-dup of the group
      (20L, "one two three four five six seven eight nine ten " * 4),
      (21L, "one two three four five six seven eight nine ten " * 4),
      (30L, "completely different text with its very own words here now " * 4))
      .toDF("id", "text")
    val out = Dedup.minhashLsh(docs, "id", "text", jaccardThreshold = 0.3)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.unpersist()
    assert(rows.map(_._1).toSet == Set(10L, 11L, 12L, 20L, 21L, 30L))
    val minPerCluster = rows.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1).min }
    rows.foreach { case (id, cluster, keeper) =>
      assert(keeper == minPerCluster(cluster),
        s"id $id: keeper $keeper != independent min ${minPerCluster(cluster)}")
    }
    // the corpus above must actually exercise a merged multi-member
    // cluster (10, 11, 12 together) for the check to mean anything
    assert(rows.filter(r => Set(10L, 11L, 12L).contains(r._1)).map(_._2).toSet.size == 1)
  }

  test("bucketPairs starFanout: giant distinct hot bucket emits O(n·m) pairs, stays connected") {
    val n = 2000
    val m = 8
    val rows = (0 until n).map(i => (7L, i.toLong)).toDF("bucket", "id")
    val star = Dedup.bucketPairs(rows, pairBudget = 1000, starFanout = m)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // volume: n·m anchor pairs, nowhere near the n·(n−1)/2 triangle
    assert(star.length <= n.toLong * m, s"pair volume ${star.length} exceeds n*m=${n * m}")
    // within one bucket every pair must be emitted exactly once —
    // anchor-anchor pairs come only from the smaller anchor's row
    // (embeddingNearDup relies on this: it does NOT distinct())
    assert(star.toSet.size == star.length,
      s"${star.length - star.toSet.size} duplicate star pairs emitted")
    star.foreach { case (a, b) => assert(a < b, "canonical order violated") }
    // every emitted pair is a real bucket pair and the bucket stays ONE
    // component through the anchors (the connectivity contract)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    star.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert((0 until n).map(find).toSet.size == 1, "star pairs must keep the bucket connected")
    // a bucket over the budget but at the star break-even (n <= 2m+1)
    // goes cold and emits its full triangle
    val small = (0 until 2 * m + 1).map(i => (9L, i.toLong)).toDF("bucket", "id")
    val exact = Dedup.bucketPairs(small, pairBudget = 10, starFanout = m)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == (for { i <- 0 until 2 * m + 1; j <- i + 1 until 2 * m + 1 }
      yield (i.toLong, j.toLong)).toSet, "buckets with n <= 2m+1 must go cold and stay exact")
  }

  test("property: bucketPairs == driver model (cold triangle / star anchors) " +
    "on random distinct (bucket, id) tables around n = 2m+1 and the budget") {
    import org.scalacheck.{Gen, Prop, Test}
    // most sizes sit around n = 2m+1, and most budgets equal one
    // bucket's triangle n·(n−1)/2 or one less, so both sides of both
    // boundaries come up in a few cases
    val cases = for {
      m <- Gen.choose(1, 6)
      nBuckets <- Gen.choose(1, 6)
      buckets <- Gen.listOfN(nBuckets, for {
        b <- Gen.choose(Long.MinValue, Long.MaxValue)
        n <- Gen.frequency(1 -> Gen.choose(0, 60), 2 -> Gen.choose(2 * m - 1, 2 * m + 3))
        ids <- Gen.pick(n, 0L until 200L)
      } yield ids.map(id => (b, id)))
      budget <- Gen.frequency(1 -> Gen.choose(2L, 300L), 2 -> (for {
        n <- Gen.oneOf(buckets.map(_.size.toLong))
        d <- Gen.choose(0L, 1L)
      } yield math.max(2L, n * (n - 1) / 2 - d)))
    } yield (buckets.flatten.distinct, m, budget)
    // the documented rule, computed on the driver: each bucket's pairs,
    // and whether it takes the star path
    def model(rows: Seq[(Long, Long)], m: Int, budget: Long): Map[Long, (Seq[(Long, Long)], Boolean)] =
      rows.groupBy(_._1).map { case (b, rs) =>
        val ids = rs.map(_._2).sorted
        val n = ids.size.toLong
        val star = n * (n - 1) / 2 > budget && n > 2L * m + 1
        val pairs =
          if (!star) for { i <- ids.indices; j <- i + 1 until ids.length } yield (ids(i), ids(j))
          else {
            val anchors = ids.sortBy(id => (Hashing.mix64(id ^ Hashing.mix64(b)), id)).take(m).sorted
            val members = ids.filterNot(anchors.contains)
            members.flatMap(id => anchors.map(a => (math.min(a, id), math.max(a, id)))) ++
              (for { i <- anchors.indices; j <- i + 1 until anchors.length }
                yield (anchors(i), anchors(j)))
          }
        b -> (pairs, star)
      }
    def connected(ids: Seq[Long], pairs: Seq[(Long, Long)]): Boolean = {
      val parent = scala.collection.mutable.Map(ids.map(id => id -> id): _*)
      def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      ids.map(find).distinct.size == 1
    }
    val prop = Prop.forAllNoShrink(cases) { case (rows, m, budget) =>
      val got = Dedup.bucketPairs(rows.toDF("bucket", "id"), pairBudget = budget, starFanout = m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = model(rows, m, budget)
      got.sorted == want.values.flatMap(_._1).toSeq.sorted &&
        got.forall { case (a, b) => a < b } &&
        want.forall { case (b, (pairs, star)) =>
          !star || connected(rows.filter(_._1 == b).map(_._2), pairs)
        }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withWorkers(1).withInitialSeed(29L), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("minhashLsh starFanout bounds verified-pair volume on a giant distinct " +
    "near-dup cluster; clusters match the unguarded run") {
    // 600 DISTINCT near-identical docs (41 tokens, 1 differing trigram):
    // exact pre-collapse cannot fire, pairwise jaccard = 38/40 = 0.95,
    // so the unguarded candidate set is the full 600·599/2 triangle
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = (1 to 600).map(i => (i.toLong, s"$base tail$i")).toDF("id", "text")
    var cappedPairs = -1L
    var fullPairs = -1L
    val countTap: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (stage, df) => { if (stage == "verified") cappedPairs = df.count(); df }
    val fullTap: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (stage, df) => { if (stage == "verified") fullPairs = df.count(); df }
    val capped = Dedup.minhashLsh(docs, "id", "text", jaccardThreshold = 0.5,
      pairBudget = 200, starFanout = 4, tap = countTap)
    // a budget above every bucket's triangle: nothing is hot, pairing
    // is exhaustive
    val uncapped = Dedup.minhashLsh(docs, "id", "text", jaccardThreshold = 0.5,
      pairBudget = Long.MaxValue / 4, tap = fullTap)
    assert(fullPairs == 600L * 599 / 2, s"unguarded run should verify every pair, got $fullPairs")
    // capped: per record at most bands × m distinct anchor partners
    assert(cappedPairs <= 600L * 32 * 4,
      s"capped volume $cappedPairs exceeds the n·bands·m bound")
    assert(cappedPairs < fullPairs / 2,
      s"cap had no effect: $cappedPairs vs $fullPairs")
    val a = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = uncapped.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b, "starFanout changed the final clusters on a mutually-near-identical cluster")
    capped.unpersist(); uncapped.unpersist()
    ()
  }

  test("minhash LSH survives a planted hot cluster: exact copies collapse, " +
    "near-identical distinct docs take the star path") {
    val boiler = "terms of service apply to all content on this website " +
      "please review our policy before continuing to browse these pages"
    // 300 exact copies of doc 1 (pre-collapse: ONE representative enters
    // LSH) + 200 distinct near-identical docs: at pairBudget=50 and the
    // default m = 64, a band bucket holding more than 2m+1 = 129 of the
    // 201 representatives takes the star path
    val copies = (1 to 300).map(i => (i.toLong, boiler))
    val near = (1 to 200).map(i => (1000L + i, boiler + s" tail$i"))
    val df = (copies ++ near).toDF("id", "text")
    val res = Dedup.minhashLsh(df, "id", "text", jaccardThreshold = 0.5, pairBudget = 50)
      .cache()
    val byId = res.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId.size == 500)
    // all copies AND all near-dups share one cluster whose keeper is
    // the minimum id overall
    val clusters = byId.values.map(_._1).toSet
    assert(clusters.size == 1, s"expected one cluster, got ${clusters.size}")
    assert(byId.values.map(_._2).toSet == Set(1L))
    // pre-collapse really happened: only distinct texts were banded
    // (ONE representative for the 300 copies + 200 near docs)
    val res2 = Dedup.minhashLsh(df, "id", "text", jaccardThreshold = 0.5,
      pairBudget = Long.MaxValue / 4)
    assert(res2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      == res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
      "star pairing changed results")
  }

  test("ngram jaccard df-cap: stop-grams leave the sets; generous cap = uncapped") {
    val shared = "alpha beta gamma" // one trigram shared by every doc
    val df = (1 to 30).map(i => (i.toLong, s"$shared unique$i word$i thing$i extra$i"))
      .toDF("id", "text")
    // 7 words => 5 trigrams/doc; only the shared one intersects:
    // jaccard = 1/(5+5-1) = 0.111...
    val uncapped = Dedup.ngramJaccardPairs(df, "id", "text", threshold = 0.1, maxDf = 1000L)
    assert(uncapped.count() == 30L * 29 / 2)
    // df(shared)=30 > 10 => stop-gram: removed from sets on BOTH sides
    // of the Jaccard, so no pair survives (docs share nothing else)
    val capped = Dedup.ngramJaccardPairs(df, "id", "text", threshold = 0.1, maxDf = 10L)
    assert(capped.count() == 0)
  }

  // ---------------- ANN ----------------

  private lazy val embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("brute-force cosine top-k matches a driver oracle") {
    val queries = embeddings.where($"vec_id" < 3)
    val got = Ann.bruteForceTopK(embeddings, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(x => (-x._3, x._2)).map(_._2)).toMap

    val all = embeddings.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def unit(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val qs = all.filter(_._1 < 3).map { case (id, v) => (id, unit(v)) }
    val corpus = all.map { case (id, v) => (id, unit(v)) }
    val want = qs.map { case (qid, q) =>
      qid -> corpus.map { case (id, v) =>
        (id, q.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum)
      }.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
    }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (qid, ids) => assert(got(qid) == ids, s"query $qid") }
  }

  test("LSH top-k: self is always found; decent recall vs brute force") {
    val queries = embeddings.where($"vec_id" < 20)
    val brute = Ann.bruteForceTopK(embeddings, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(embeddings, queries, "vec_id", "embedding", k = 3, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // self-match must always survive (same bucket by construction)
    (0L until 20L).foreach(q => assert(lsh.contains((q, q)), s"self-match $q missing"))
    val recall = lsh.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall=$recall") // 4 planes, labeled clusters
  }

  test("IVF top-k: self always found; strong recall with nProbe=4/16 lists") {
    val queries = embeddings.where($"vec_id" < 20)
    val brute = Ann.bruteForceTopK(embeddings, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(embeddings, queries, "vec_id", "embedding", k = 3,
      nLists = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 20L).foreach(q => assert(ivf.contains((q, q)), s"self-match $q missing"))
    val recall = ivf.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.7, s"IVF recall=$recall")
    // determinism (seeded quantizer)
    val again = Ann.ivfTopK(embeddings, queries, "vec_id", "embedding", k = 3,
      nLists = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
  }

  test("IVF persisted cell store: identical results, probe scan reads only probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfstore").toString
    val queries = embeddings.where($"vec_id" < 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    // in-flight assignment vs the persisted cell-bucketed store: same
    // seeded quantizer fit => bit-identical top-k
    val inflight = Ann.ivfTopK(embeddings, queries, "vec_id", "embedding",
      k = 3, nLists = 16, nProbe = 2)
    // capture the candidate join's input files through the tap: the
    // RETURNED frame is eagerly cached, so its optimized plan is an
    // InMemoryRelation and inputFiles on it would come back empty
    var storeFiles: Array[String] = Array.empty
    val fileTap: Dedup.Tap = (stage, df) => {
      if (stage == "cands") storeFiles = df.inputFiles.filter(_.contains("ivf-cells"))
      df
    }
    val stored = Ann.ivfTopK(embeddings, queries, "vec_id", "embedding",
      k = 3, nLists = 16, nProbe = 2, centroidsDir = Some(dir), tap = fileTap)
    assert(key(stored) == key(inflight), "cell store changed IVF results")
    inflight.unpersist()
    // partition pruning by construction: the probe plan's input files
    // under the cell store lie ONLY in probed cell=... dirs, a strict
    // subset of the cells present on disk
    assert(storeFiles.nonEmpty, "stored probe plan reads no cell store files?")
    def cellOf(p: String) = p.split("/").find(_.startsWith("cell=")).get
    val touched = storeFiles.map(cellOf).toSet
    val allCells = new java.io.File(dir).listFiles()
      .find(_.getName.startsWith("ivf-cells")).get
      .listFiles().filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    // 3 queries × nProbe=2 probe at most 6 of the 16 cells
    assert(touched.size <= 6, s"probed ${touched.size} cells, expected <= 6")
    assert(touched.subsetOf(allCells) && touched.size < allCells.size,
      s"probe must prune: touched=$touched of ${allCells.size} cells")
    // warm second call reuses the store (still correct)
    val warm = Ann.ivfTopK(embeddings, queries, "vec_id", "embedding",
      k = 3, nLists = 16, nProbe = 2, centroidsDir = Some(dir))
    assert(key(warm) == key(stored))
  }

  // ---------------- text ops ----------------

  test("language ID: marker words and CJK detection") {
    val df = Seq(
      (1L, "the cat and the dog sat in the garden with all of them"),
      (2L, "le chat et le chien sont dans le jardin avec des fleurs"),
      (3L, "中文文本处理测试样例"),
      (4L, "qwerty zxcvb asdfgh")).toDF("doc_id", "text")
    val got = TextOps.withLangId(df, "text").select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "fr")
    assert(got(3L) == "zh")
    assert(got(4L) == "und")
  }

  test("quality score and token counts are deterministic Column math") {
    val df = Seq((1L, "good clean text with many proper words here today"),
      (2L, "1 2 3 4 5 6 7 8 9"), (3L, "x")).toDF("doc_id", "text")
    val asMap = df.select($"doc_id", TextOps.tokenCountCol($"text").as("n"),
      TextOps.qualityScore($"text").as("q")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(asMap(1L)._1 == 9L)
    assert(asMap(2L)._1 == 9L)
    assert(asMap(3L)._1 == 1L)
    assert(asMap(1L)._2 > asMap(2L)._2) // digit-heavy text penalized
  }

  test("fingerprints: exact dups identical, different docs differ; simhash near for near-dups") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappz"
    val c = "totally different content everywhere in this document body"
    assert(TextOps.docFingerprint(a) == TextOps.docFingerprint(a))
    assert(TextOps.docFingerprint(a) != TextOps.docFingerprint(b))
    val hab = java.lang.Long.bitCount(TextOps.simhash(a) ^ TextOps.simhash(b))
    val hac = java.lang.Long.bitCount(TextOps.simhash(a) ^ TextOps.simhash(c))
    assert(hab < hac, s"simhash hamming near=$hab far=$hac")
    assert(TextOps.bottomKSketch(a).toSeq == TextOps.bottomKSketch(a).toSeq)
  }

  // ---------------- multimodal ----------------

  test("multimodal: batched feature extraction + frame sampling plumbing") {
    val media = Seq(
      (1L, "binary image payload one".getBytes, "image/png"),
      (2L, "another longer binary audio payload with more bytes".getBytes, "audio/wav"),
      (3L, Array.empty[Byte], "video/mp4")).toDF("id", "media", "mime")
    val feats = Multimodal.extractFeatures(Multimodal.asMedia(media, "id", "media", "mime"))
    val rows = feats.collect().map(f => f.id -> f).toMap
    assert(rows(1L).features.length == Multimodal.FeatureDim)
    assert(math.abs(rows(1L).features.sum - 1.0f) < 1e-4) // normalized histogram
    assert(rows(3L).n_bytes == 0L && rows(3L).features.forall(_ == 0.0f))
    // determinism
    val again = Multimodal.extractFeatures(Multimodal.asMedia(media, "id", "media", "mime"))
      .collect().map(f => f.id -> f.features.toSeq).toMap
    assert(again(2L) == rows(2L).features.toSeq)
    val frames = Multimodal.sampleFrames(Multimodal.asMedia(media, "id", "media", "mime"), 4)
    assert(frames.where($"id" === 2L).count() == 4)
    assert(frames.where($"id" === 3L).count() == 0) // empty media -> no frames
  }

  // ---------------- stats ----------------

  test("similarities_hist matches manual binning; cumulative is reverse cumsum") {
    val pairs = Seq(0.71, 0.75, 0.80, 0.85, 0.99, 1.0)
      .zipWithIndex.map { case (s, i) => (s, 0, 1, i.toLong, i.toLong + 100) }
      .toDF("sim", "dset0", "dset1", "rec0", "rec1")
    val hist = Stats.similaritiesHist(pairs, bins = 3, lo = 0.7, hi = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(0L -> 2L, 1L -> 2L, 2L -> 2L)) // 1.0 closed into last bin
    val cumul = Stats.cumulativeCounts(pairs, 3, 0.7, 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cumul(2L) == 2L && cumul(1L) == 4L && cumul(0L) == 6L)
  }

  test("matches/nonmatches greedy sweep (T2) and nonmatch index (T4)") {
    import graft.solve.Candidate
    val sorted = Seq(
      Candidate(0.95, 0, 1, 1L, 1L),
      Candidate(0.90, 0, 1, 2L, 2L),
      Candidate(0.85, 0, 1, 1L, 2L), // both endpoints taken -> nonmatch
      Candidate(0.80, 0, 1, 3L, 3L))
    val (m, n) = Stats.matchesNonmatchesHist(sorted, bins = 2, lo = 0.8, hi = 1.0)
    assert(m.sum == 3 && n.sum == 1)
    assert(Stats.nonmatchIndexScore(sorted, 1) == 2)
    assert(Stats.nonmatchIndexScore(sorted, 2) == -1)
  }

  // ---------------- round-5 operational contracts ----------------

  private def countRootActions(body: => Unit): Int =
    SparkTestBase.countRootActions(body)

  test("near-dup operators run in their pinned root actions " +
      "(minhashLsh 4, simhash 4, embeddingNearDup 3)") {
    // minhashLsh/simhash: the bucketPairs census, the pair-side count,
    // CC's gate and the eager materialize; embeddingNearDup has no CC.
    // CC's gate is one limit-collect: a separate count + collect would
    // execute the whole verify pipeline twice on the driver-finish
    // path. The pair-side count is there on purpose: it gives the
    // second payload attach its real size, so a small pair side is
    // broadcast instead of every payload being shuffled. Pinned so
    // neither regresses.
    val ops = Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("minhashLsh", 4, () => Dedup.minhashLsh(docs, "id", "text", jaccardThreshold = 0.35)),
      ("simhash", 4, () => Dedup.simhash(docs, "id", "text")),
      ("embeddingNearDup", 3, () => Dedup.embeddingNearDup(embeddings, "vec_id", "embedding")))
    for ((name, want, op) <- ops) {
      var out: org.apache.spark.sql.DataFrame = null
      val n = countRootActions { out = op() }
      out.unpersist()
      assert(n == want, s"$name took $n root actions, expected $want")
    }
  }

  test("minhashLsh and simhash verify plan: the pair side broadcasts under the threshold, " +
      "shuffle-hash at -1; same clusters") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    object Plans extends AdaptiveSparkPlanHelper
    val ops = Seq[(String, Dedup.Tap => org.apache.spark.sql.DataFrame)](
      "minhashLsh" -> (tap => Dedup.minhashLsh(docs, "id", "text", jaccardThreshold = 0.35, tap = tap)),
      "simhash" -> (tap => Dedup.simhash(docs, "id", "text", tap = tap)))
    for ((name, op) <- ops) {
      // the verified frame's plan, read inside the tap: its pair side
      // and signatures are still cached there
      def run(): (SparkPlan, Seq[(Long, Long, Long)]) = {
        var plan: SparkPlan = null
        val out = op((stage, df) => { if (stage == "verified") plan = df.queryExecution.executedPlan; df })
        val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        out.unpersist()
        (plan, rows)
      }
      val (small, clusters) = run()
      assert(Plans.collect(small) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"$name: a pair side under the threshold must verify without an exchange:\n$small")
      val bhj = Plans.collect(small) { case j: BroadcastHashJoinExec => j }
      assert(bhj.exists(j => (if (j.buildSide == BuildLeft) j.left else j.right)
        .output.map(_.name).contains("p0")),
        s"$name: the pair side (id0, id1, p0) must be the build side:\n$small")
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      val (large, clustersLarge) =
        try run() finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(Plans.collect(large) { case j: ShuffledHashJoinExec => j }.nonEmpty,
        s"$name: with broadcasting off the p1 attach must be shuffle-hash:\n$large")
      assert(clustersLarge == clusters, s"$name: the join strategy changed the cluster table")
    }
  }

  test("near-dup operators release their caches when an action inside them fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft_failing").toString
    docs.select($"id", $"text").write.parquet(s"$dir/docs")
    embeddings.where($"vec_id" < 200).select($"vec_id", $"embedding").write.parquet(s"$dir/vecs")
    // Parquet-backed, so the planted error fires in the first action
    // (the census), not while the optimizer folds a local relation
    val badDocs = spark.read.parquet(s"$dir/docs")
      .withColumn("text", when($"id" === 5L, raise_error(lit("planted failure"))).otherwise($"text"))
    val badVecs = spark.read.parquet(s"$dir/vecs").withColumn("embedding",
      when($"vec_id" === 5L, raise_error(lit("planted failure"))).otherwise($"embedding"))
    val tapped = scala.collection.mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.DataFrame)]
    val tap: Dedup.Tap = (stage, df) => { tapped += stage -> df; df }
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashLsh" -> (() => Dedup.minhashLsh(badDocs, "id", "text", tap = tap)),
      "simhash" -> (() => Dedup.simhash(badDocs, "id", "text", tap = tap)),
      "embeddingNearDup" -> (() => Dedup.embeddingNearDup(badVecs, "vec_id", "embedding", tap = tap)))
    for ((name, op) <- ops) {
      tapped.clear()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Exception](op())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("planted failure")), s"$name: $e")
      assert(tapped.nonEmpty, s"$name tapped no frame before failing")
      val stillCached = tapped.collect {
        case (stage, df) if df.storageLevel != org.apache.spark.storage.StorageLevel.NONE => stage
      }
      assert(stillCached.isEmpty, s"$name left tapped frames cached: $stillCached")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs: $leaked")
    }
  }

  test("ngramJaccardPairs releases its gram-index cache (eager-and-release contract)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val sample = docs.where($"id" <= 40)
    val out = Dedup.ngramJaccardPairs(sample, "id", "text", threshold = 0.3)
    val newIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(out.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "returned frame must be cached (eager contract)")
    assert(newIds.size == 1,
      s"exactly the returned frame's cache may survive the call; leaked RDD ids: $newIds")
    out.unpersist(blocking = true)
  }

  test("IVF store content verification: corpus rewritten under the same dir " +
      "triggers a refit, never stale cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsig").toString
    val freshDir = java.nio.file.Files.createTempDirectory("graft_ivfsig2").toString
    // two corpora with DISJOINT id ranges: any stale-store leak is loud
    // (result ids from the wrong range), independent of vector values
    val corpusA = embeddings.where($"vec_id" < 150)
    val corpusB = embeddings.where($"vec_id" >= 150 && $"vec_id" < 300)
    val queries = embeddings.where($"vec_id" < 3)
    def key(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      df.unpersist(); rows
    }
    // cold build against A, nProbe = nLists so every cell is probed
    val a = key(Ann.ivfTopK(corpusA, queries, "vec_id", "embedding", k = 3,
      nLists = 8, nProbe = 8, centroidsDir = Some(dir)))
    assert(a.nonEmpty && a.forall(_._2 < 150), "build-run results must come from corpus A")
    // warm call with corpus B through the SAME dir: the signature check
    // must detect the swap (same store path, same key, different
    // content — the mtime-style metadata key cannot see this) and
    // rebuild; results must match a from-scratch B store bit-exactly
    val b = key(Ann.ivfTopK(corpusB, queries, "vec_id", "embedding", k = 3,
      nLists = 8, nProbe = 8, centroidsDir = Some(dir)))
    assert(b.nonEmpty && b.forall(t => t._2 >= 150 && t._2 < 300),
      s"stale cells served after corpus rewrite: ${b.filter(_._2 < 150).take(5)}")
    val fresh = key(Ann.ivfTopK(corpusB, queries, "vec_id", "embedding", k = 3,
      nLists = 8, nProbe = 8, centroidsDir = Some(freshDir)))
    assert(b == fresh, "post-refit results differ from a fresh store build")
    // re-embedded under UNCHANGED ids: vectors change, ids and row
    // count do not — only the per-row CONTENT hash can see this
    val reembedded = corpusB.withColumn("embedding", reverse($"embedding"))
    val r1 = key(Ann.ivfTopK(reembedded, queries, "vec_id", "embedding", k = 3,
      nLists = 8, nProbe = 8, centroidsDir = Some(dir)))
    val freshDir2 = java.nio.file.Files.createTempDirectory("graft_ivfsig3").toString
    val r2 = key(Ann.ivfTopK(reembedded, queries, "vec_id", "embedding", k = 3,
      nLists = 8, nProbe = 8, centroidsDir = Some(freshDir2)))
    assert(r1 == r2, "re-embedded corpus under unchanged ids served stale cells")
    // the documented opt-out: verifyStore = false keeps the bare
    // metadata-key behavior and (by design) serves the existing store
    val stale = key(Ann.ivfTopK(corpusA, queries, "vec_id", "embedding", k = 3,
      nLists = 8, nProbe = 8, centroidsDir = Some(dir), verifyStore = false))
    assert(stale.forall(t => t._2 >= 150 && t._2 < 300),
      "verifyStore=false must reuse the persisted store untouched")
  }

  test("ImageDecoder: real PNG pixels decode to golden features; undecodable rows fall back") {
    import Multimodal._
    def png(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, px(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val red = png(8, 4)((_, _) => 0xff0000)
    val checker = png(8, 8)((x, y) => if ((x + y) % 2 == 0) 0xffffff else 0x000000)
    val corrupt = Array[Byte](1, 2, 3)
    val rows = Seq(
      MediaRow(1L, red, "image/png"),
      MediaRow(2L, checker, "image/png"),
      MediaRow(3L, corrupt, "image/png"), // undecodable bytes -> fallback
      MediaRow(4L, red, "application/pdf")) // non-image mime -> fallback
    val out = extractFeatures(spark.createDataset(rows), ImageDecoder)
      .collect().map(r => r.id -> r).toMap

    // all-red 8x4: meanR=1, meanG=meanB=0; red luma 76.245 -> bin 2;
    // zero contrast and zero horizontal gradient; dims + aspect exact
    val fr = out(1L).features
    assert(math.abs(fr(8) - 1.0f) < 1e-3 && fr(9) < 1e-3 && fr(10) < 1e-3)
    assert(fr(2) == 1.0f, s"red luminance bin: ${fr.toSeq}")
    assert(math.abs(fr(11) - 8f / 4096) < 1e-6 && math.abs(fr(12) - 4f / 4096) < 1e-6)
    assert(math.abs(fr(13) - 8f / 12) < 1e-6)
    assert(fr(14) < 1e-6 && fr(15) < 1e-6)

    // black/white checkerboard: half the pixels in luma bin 0, half in
    // bin 7; contrast = 127.5/255 = 0.5; every horizontal step flips
    // 0<->255 so gradient energy = 1.0
    val fc = out(2L).features
    assert(math.abs(fc(0) - 0.5f) < 1e-6 && math.abs(fc(7) - 0.5f) < 1e-6)
    assert(math.abs(fc(14) - 0.5f) < 1e-3)
    assert(math.abs(fc(15) - 1.0f) < 1e-3)

    // fallback rows carry EXACTLY the byte-histogram features (the
    // deterministic total fallback), not zeros and not an exception
    assert(out(3L).features.toSeq ==
      ByteHistogramDecoder.decodeOne(rows(2)).features.toSeq)
    assert(out(4L).features.toSeq ==
      ByteHistogramDecoder.decodeOne(rows(3)).features.toSeq)
    // n_bytes is the raw payload size either way
    assert(out(3L).n_bytes == 3L && out(1L).n_bytes == red.length.toLong)
  }

  test("dot_float: non-float arrays fail at analysis; null elements contribute zero") {
    import graft.functions.BitFunctions
    // array<double> against array<float> must be an ANALYSIS error,
    // not garbage floats silently misread from the double slots
    val mixed = Seq((Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("f", "d")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      mixed.select(BitFunctions.dot_float($"f", $"d")).collect()
    }
    assert(e.getMessage.contains("array<float>"), s"unhelpful error: ${e.getMessage}")
    // null ELEMENTS (legal in parquet-read array<float>) are explicit
    // zero contributions, never misread slots
    val withNulls = Seq((Seq[Option[Float]](Some(1.0f), None, Some(2.0f)),
      Seq[Option[Float]](Some(10.0f), Some(5.0f), Some(3.0f)))).toDF("a", "b")
    val v = withNulls.select(BitFunctions.dot_float($"a", $"b")).head.getDouble(0)
    assert(v == 1.0 * 10 + 2 * 3, s"got $v")
  }

  test("AudioDecoder: golden PCM WAV (440 Hz sine) decodes to closed-form features; " +
      "AutoDecoder dispatches by mime") {
    import Multimodal._
    // hand-build a 1 s mono 8 kHz PCM16 WAV of a 440 Hz sine at half
    // full scale — every asserted feature has a closed form
    val rate = 8000; val n = rate; val amp = 16384.0
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
    (0 until n).foreach { i =>
      bb.putShort(math.round(amp * math.sin(2 * math.Pi * 440 * i / rate)).toShort)
    }
    val wav = bb.array()
    val rows = Seq(
      MediaRow(1L, wav, "audio/wav"),
      MediaRow(2L, wav, "image/png"), // wrong mime family -> image path -> fallback
      MediaRow(3L, Array[Byte](82, 73, 70, 70, 0, 0), "audio/wav")) // truncated RIFF
    val out = extractFeatures(spark.createDataset(rows), AutoDecoder)
      .collect().map(r => r.id -> r.features).toMap

    val f = out(1L)
    // sine RMS = amp/sqrt(2) of full scale = 0.3536; peak = 0.5
    assert(math.abs(f(0) - (amp / 32768 / math.sqrt(2))) < 1e-3, s"rms ${f(0)}")
    assert(math.abs(f(1) - amp / 32768) < 1e-3, s"peak ${f(1)}")
    // zero crossings: 2 per cycle x 440 cycles over 7999 steps
    assert(math.abs(f(2) - 880.0 / 7999) < 1e-3, s"zcr ${f(2)}")
    assert(math.abs(f(3) - 1.0 / 600) < 1e-6, s"duration ${f(3)}")
    assert(math.abs(f(4) - 8000.0 / 48000) < 1e-6 && f(5) == 1.0f / 8)
    // stationary sine: every envelope segment equals the global RMS
    (6 to 13).foreach(s => assert(math.abs(f(s) - f(0)) < 2e-3, s"env seg $s: ${f(s)}"))
    // silence fraction: |sin| < 0.02 of its amplitude ~ 2*asin(.02)/pi
    assert(f(15) < 0.03, s"silence ${f(15)}")

    // wrong mime family and truncated bytes both fall back to the
    // byte-histogram features, never throw
    assert(out(2L).toSeq == ByteHistogramDecoder.decodeOne(rows(1)).features.toSeq)
    assert(out(3L).toSeq == ByteHistogramDecoder.decodeOne(rows(2)).features.toSeq)
  }

  test("dedup ops tolerate NULL text (crawl convention: null == empty, like Linkage.encode)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // minhash: must not NPE in the shingling map; the two null docs are
    // text-identical (both empty) so the exact pre-collapse pairs them
    val mh = Dedup.minhashLsh(docs, "doc_id", "text", jaccardThreshold = 0.3)
    val byId = mh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    mh.unpersist()
    assert(byId(1L) == byId(2L), "identical real texts must cluster")
    assert(byId(3L) == byId(4L), "null texts collapse as empty-identical")
    assert(byId(1L) != byId(3L), "empty must not merge with real text")
    val sh = Dedup.simhash(docs, "doc_id", "text")
    assert(sh.count() == 4); sh.unpersist()
    val nj = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
    val ids = nj.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    nj.unpersist()
    assert(!ids.contains(3L) && !ids.contains(4L),
      "empty gram sets can never reach a positive Jaccard threshold")
    // exact dedup follows the same null == "" convention: the two null
    // docs plus an actual empty-string doc form ONE group
    val withEmpty = docs.select($"doc_id", $"text")
      .union(Seq((5L, "")).toDF("doc_id", "text"))
    val ex = Dedup.exact(withEmpty, "doc_id", "text")
    val nullGroup = ex.where($"keeper" === 3L).collect()
    assert(nullGroup.length == 1 && nullGroup.head.getLong(2) == 3L,
      "null and empty texts must share one exact-dup group (keeper 3, n=3)")
  }

  test("embeddingNearDup skips NULL embeddings instead of NPEing (and emits no pairs for them)") {
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.001f, 0.0f)),
      (3L, null.asInstanceOf[Seq[Float]]),
      (4L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(rows, "vec_id", "embedding", cosineThreshold = 0.9)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out.unpersist()
    assert(got == Set((1L, 2L)), s"expected only the real near-dup pair, got $got")
  }

  test("bruteForceTopK fails loudly on embedding dimension mismatch (no silent truncation)") {
    val corpus = Seq((1L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((9L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("dimension mismatch")),
      s"expected a loud dimension-mismatch failure, got: $e")
  }

  test("hyperplaneKey rejects planes outside [1, 64] (bit 65 would alias bit 1 mod 64)") {
    val v = Array(1.0f, 0.0f)
    intercept[IllegalArgumentException] { Ann.hyperplaneKey(v, 65, 1L) }
    intercept[IllegalArgumentException] { Ann.hyperplaneKey(v, 0, 1L) }
    // 64 is the full Long: bit 63 (sign bit) is a valid, distinct bucket bit
    assert(Ann.hyperplaneKey(v, 64, 1L) == Ann.hyperplaneKey(v, 64, 1L))
  }

  test("similaritiesHist rejects degenerate bins/range (np.histogram parity: raise, " +
      "never an all-zero histogram)") {
    val pairs = Seq(0.5, 0.7).toDF("sim")
    intercept[IllegalArgumentException] { Stats.similaritiesHist(pairs, 0, 0.0, 1.0) }
    intercept[IllegalArgumentException] { Stats.similaritiesHist(pairs, 10, 0.8, 0.8) }
    intercept[IllegalArgumentException] { Stats.similaritiesHist(pairs, 10, 0.9, 0.1) }
  }
}
