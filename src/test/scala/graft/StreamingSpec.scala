package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Stage the driver's events parquet into a directory source. */
  private lazy val eventsDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed counts over a stream equal the batch aggregation") {
    val batch = spark.read.parquet(eventsDir)
    val stream = spark.readStream.schema(batch.schema).parquet(eventsDir)
    val q = StreamOps.windowedCounts(stream, "ts", "event_type")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("win_counts")
      .select(col("window.start").as("start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = batch
      .withColumn("ts", col("ts").cast("timestamp")) // match the stream op's NTZ→instant cast
      .groupBy(window(col("ts"), "1 hour").as("window"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming CLK encode matches the batch encoder row-for-row") {
    val pagesDir = java.nio.file.Files.createTempDirectory("graft-spages").toString
    gen.Corpus.labeledPages(spark, gen.Corpus.Params(entities = 50L, seed = 23L))
      .write.mode("overwrite").parquet(pagesDir)
    val batchPages = spark.read.parquet(pagesDir)
    val params = LinkageParams()
    val stream = spark.readStream.schema(batchPages.schema).parquet(pagesDir)
    val q = Linkage.encode(stream, params, col("dsetId")).toDF()
      .writeStream.outputMode("append").format("memory").queryName("enc_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("recId", "pop").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = canon(spark.table("enc_stream"))
    val want = canon(Linkage.encode(batchPages, params, col("dsetId")).toDF())
    assert(got == want && got.nonEmpty)
  }

  test("streaming CLK JSONL files match against a reference like the batch path") {
    // CLK handoff files arriving on a dir (io.ClkJsonSource JSONL
    // layout) → decode on entry → broadcast-kernel scoring; results
    // must equal batch scoring of the same CLKs
    val clks = (0 until 40).map { i =>
      val w = gen.RandomClks.clkFor(i.toLong, 16, 0xabcdL)
      (i.toLong, core.BitVector.toBytes(w))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-clkstream").toString
    io.ClkJsonSource.writeJsonl(clks.toDF("recId", "clk"), dir)
    // a truncated/partially-written line must not kill the streaming
    // query — corrupt rows are dropped (see ClkJsonSource.decoded)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "corrupt.json"),
      "{\"recId\": 999}\n{\"recId\": 998, \"clk\"")
    // reference shares CLKs 0..9 exactly (self-matches at Dice 1.0)
    val reference = clks.take(10).map { case (id, b) =>
      sim.ClkRow(1000L + id, b, core.BitVector.popcount(core.BitVector.fromBytes(b)))
    }.toArray
    val params = LinkageParams(threshold = 0.99, k = Some(3))
    val stream = io.ClkJsonSource.readJsonlStream(spark, dir)
    val q = StreamOps.matchClkStreamAgainstReference(stream, reference, params)
      .writeStream.outputMode("append").format("memory").queryName("clk_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("rec0", "rec1", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = canon(spark.table("clk_stream"))
    // batch parity on the GOOD files only: the batch reader is STRICT
    // by design (it raises on the corrupt file the streaming reader
    // skips), so parity is computed against the good JSONL parts
    val goodFiles = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".json") && f.getName != "corrupt.json")
      .map(_.toString).toSeq
    val goodBatch = goodFiles.map(f => io.ClkJsonSource.readJsonl(spark, f))
      .reduce(_ unionByName _)
    val want = canon(StreamOps.matchClkStreamAgainstReference(goodBatch, reference, params))
    assert(got == want, "stream != batch on the same CLK files")
    // and the batch reader indeed refuses the corrupt file loudly
    intercept[Exception] {
      io.ClkJsonSource.readJsonl(spark, s"$dir/corrupt.json").collect()
    }
    (0 until 10).foreach { i =>
      assert(got.exists { case (r0, r1, s) => r0 == i && r1 == 1000L + i && s == 1.0 },
        s"self-match for shared CLK $i missing")
    }
  }

  test("streaming match-against-reference equals batch scoring on the same rows") {
    // reference = dataset 1; stream = dataset 0 pages arriving in files
    val all = gen.Corpus.labeledPages(spark, gen.Corpus.Params(entities = 40L, seed = 31L))
    val params = LinkageParams(blocking = NoBlocking, threshold = 0.7, k = None)
    val refPages = all.where(col("dsetId") === 1).cache()
    val streamPages = all.where(col("dsetId") === 0).cache()
    val packed = StreamOps.packReference(refPages, params)
    assert(packed.nonEmpty)

    val dir = java.nio.file.Files.createTempDirectory("graft-mstream").toString
    streamPages.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(streamPages.schema).parquet(dir)
    val q = StreamOps.matchAgainstReference(stream, packed, params)
      .writeStream.outputMode("append").format("memory").queryName("match_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("sim", "rec0", "rec1").collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSet
    val got = canon(spark.table("match_stream"))
    // batch oracle: the same kernel over the same rows (k=None so
    // per-partition top-k cannot differ between stream and batch)
    import spark.implicits._
    val batchClks = Linkage.encode(streamPages, params, lit(0))
      .map(r => graft.sim.ClkRow(r.recId, r.clk, r.pop))
    val want = canon(Linkage.scoreAgainstBroadcast(batchClks, packed, params))
    assert(got == want && got.nonEmpty)
  }

  test("packReference refuses references too big to broadcast") {
    val pages = gen.Corpus.labeledPages(spark, gen.Corpus.Params(entities = 10L, seed = 32L))
    val err = intercept[IllegalArgumentException] {
      StreamOps.packReference(pages, LinkageParams(), maxRows = 1L)
    }
    assert(err.getMessage.contains("too big to broadcast"))
  }

  test("stateful dedup-on-entry counts occurrences across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fps").toString
    // two micro-batch files with overlapping fingerprints
    Seq(1L, 2L, 3L).toDF("fingerprint").write.parquet(s"$dir/batch=0")
    Seq(2L, 3L, 4L).toDF("fingerprint").write.parquet(s"$dir/batch=1")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fingerprint",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/batch=*")
    val q = StreamOps.dedupOnEntry(stream)
      .writeStream.outputMode("update").format("memory").queryName("dedup_entry")
      .start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dedup_entry")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // every fingerprint seen; total occurrences add up to 6
    assert(rows.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    assert(rows.map(_._2).sum >= 6)
    // first occurrence flagged for every fingerprint at least once
    assert(Set(1L, 2L, 3L, 4L).forall(fp => rows.exists(r => r._1 == fp && r._3)))
  }

  test("streaming near-dup-on-entry emits exactly the batch banding pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ndocs").toString
    // corpus with planted 2-variant duplicates, split across two
    // micro-batch files so pairs must cross batch boundaries via state
    val docs = gen.Corpus.labeledPages(spark, gen.Corpus.Params(entities = 30L, seed = 77L))
      .select(xxhash64(col("url")).as("doc_id"), col("text"))
    docs.where(pmod(col("doc_id"), lit(2)) === 0).write.parquet(s"$dir/batch=0")
    docs.where(pmod(col("doc_id"), lit(2)) =!= 0).write.parquet(s"$dir/batch=1")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch=*")
    val q = StreamOps.nearDupCandidatesOnEntry(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory").queryName("neardup_entry")
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardup_entry").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    // batch oracle: same-band-key pairs over the full corpus
    val mh = block.MinhashParams()
    val clk = graft.encode.ClkParams()
    val banded = docs.as[(Long, String)].collect().flatMap { case (id, text) =>
      block.Blocking.minhashBandKeys(graft.encode.ClkEncoder.ngramHashes(text, clk), mh)
        .map(k => (k, id))
    }
    val want = banded.groupBy(_._1).values.flatMap { members =>
      val ids = members.map(_._2).distinct
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
    }.toSet
    assert(got == want, s"stream pairs ${got.size} vs batch ${want.size}")
    assert(want.nonEmpty, "corpus must plant near-dup band collisions")
  }

  test("near-dup-on-entry bounds bucket state and still routes overflow docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hotdocs").toString
    // 10 identical documents: every band bucket is a 10-member hot
    // bucket; cap at 3 retained members
    val hot = (0 until 10).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    hot.write.parquet(s"$dir/batch=0")
    val stream = spark.readStream.schema(hot.schema).parquet(s"$dir/batch=*")
    val q = StreamOps.nearDupCandidatesOnEntry(stream, "doc_id", "text", maxPerBucket = 3)
      .writeStream.outputMode("append").format("memory").queryName("neardup_hot")
      .start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("neardup_hot").select("bandKey", "docId", "priorId")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Per band bucket (WHICH 3 members are retained depends on the
    // unspecified within-group row order, so assert per-band counts,
    // which are order-invariant): 10 identical docs at cap 3 emit
    // 1 + 2 + 7*3 = 24 pairs — the first arrival emits none, the next
    // two pair against the retained prefix, the other seven each pair
    // against exactly the 3 retained members.
    val byBand = rows.groupBy(_._1)
    assert(byBand.nonEmpty)
    byBand.foreach { case (band, ps) =>
      assert(ps.length == 24, s"band $band: ${ps.length} pairs")
      assert(ps.map(_._3).distinct.length == 3, s"band $band retained")
      assert(ps.map(_._2).distinct.length == 9, s"band $band emitters")
      // every doc is reachable in the band's pair graph (CC can merge)
      assert(ps.flatMap(p => Seq(p._2, p._3)).distinct.length == 10)
    }
  }

  test("checkpoint recovery: CLK stream restarts from its offset log with " +
      "no lost and no duplicated match pairs") {
    // phase 1 processes file A, the query stops (the stand-in for a
    // crash — recovery reads only the checkpoint, which a crash also
    // leaves behind); file B arrives while the query is down; phase 2
    // restarts from the SAME checkpoint + sink. Exactly-once: A is not
    // re-emitted, B is picked up, and the file sink's transaction log
    // exposes only committed batches.
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    val clks = (0 until 40).map { i =>
      val w = gen.RandomClks.clkFor(i.toLong, 16, 0xcafeL)
      (i.toLong, core.BitVector.toBytes(w))
    }
    val reference = clks.map { case (id, b) =>
      sim.ClkRow(1000L + id, b, core.BitVector.popcount(core.BitVector.fromBytes(b)))
    }.toArray
    val params = LinkageParams(threshold = 0.99, k = Some(3))
    def writeFile(name: String, rows: Seq[(Long, Array[Byte])]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(inDir, name),
        rows.map { case (id, b) =>
          s"""{"recId": $id, "clk": "${java.util.Base64.getEncoder.encodeToString(b)}"}"""
        }.mkString("\n"))
    def runOnce(): Unit = {
      val q = StreamOps.matchClkStreamAgainstReference(
        io.ClkJsonSource.readJsonlStream(spark, inDir), reference, params)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    writeFile("a.jsonl", clks.take(20))
    runOnce()
    val afterA = spark.read.parquet(outDir)
      .select("rec0", "rec1", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(afterA.map(_._1).toSet == (0L until 20L).toSet, "phase 1 incomplete")
    writeFile("b.jsonl", clks.drop(20))
    runOnce()
    val all = spark.read.parquet(outDir)
      .select("rec0", "rec1", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every CLK self-matches its reference twin exactly ONCE — a
    // restart that re-read file A would duplicate rows 0..19, one that
    // lost the offset log would miss 20..39
    val grouped = all.groupBy(_._1)
    (0L until 40L).foreach { i =>
      val mine = grouped.getOrElse(i, Array.empty[(Long, Long, Double)])
      assert(mine.count(m => m._2 == 1000L + i && m._3 == 1.0) == 1,
        s"recId $i: expected exactly one self-match, got ${mine.toSeq}")
    }
    // full-set parity with the one-shot batch computation
    val want = StreamOps.matchClkStreamAgainstReference(
      io.ClkJsonSource.readJsonl(spark, s"$inDir/a.jsonl")
        .unionByName(io.ClkJsonSource.readJsonl(spark, s"$inDir/b.jsonl")),
      reference, params)
      .select("rec0", "rec1", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(all.toSet == want.toSet && all.length == want.length,
      "restarted stream != one-shot batch on the same files")
  }

  test("checkpoint recovery: near-dup bucket STATE survives a restart " +
      "(cross-restart pairs emitted once, equal to batch banding)") {
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt-nd").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = gen.Corpus.labeledPages(spark, gen.Corpus.Params(entities = 30L, seed = 77L))
      .select(xxhash64(col("url")).as("doc_id"), col("text"))
    docs.where(pmod(col("doc_id"), lit(2)) === 0).write.parquet(s"$inDir/f0")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(s"$inDir/f*")
      val q = StreamOps.nearDupCandidatesOnEntry(stream, "doc_id", "text")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnce() // phase 1: even doc_ids populate the bucket state
    docs.where(pmod(col("doc_id"), lit(2)) =!= 0).write.parquet(s"$inDir/f1")
    runOnce() // phase 2: odd doc_ids arrive after the restart
    val got = spark.read.parquet(outDir).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
    // batch oracle: same-band-key pairs over the full corpus
    val mh = block.MinhashParams()
    val clk = graft.encode.ClkParams()
    val banded = docs.as[(Long, String)].collect().flatMap { case (id, text) =>
      block.Blocking.minhashBandKeys(graft.encode.ClkEncoder.ngramHashes(text, clk), mh)
        .map(k => (k, id))
    }
    val want = banded.groupBy(_._1).values.flatMap { members =>
      val ids = members.map(_._2).distinct
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
    }.toSet
    assert(got.toSet == want, s"restarted stream pairs ${got.toSet.size} vs batch ${want.size}")
    // the load-bearing half: pairs BETWEEN an even (pre-restart) and an
    // odd (post-restart) doc exist — they require the bucket state
    // restored from the checkpoint, not just source offsets
    val crossRestart = got.filter(p => (p._1 % 2 == 0) != (p._2 % 2 == 0))
    assert(crossRestart.nonEmpty, "no cross-restart pairs: bucket state was lost")
  }
}
