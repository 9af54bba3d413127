package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cand.Candidates

/** anonlink's binary candidate-pair wire format — byte-level parity
  * with `/root/reference/anonlink/serialization.py:17-55` so shards
  * produced here interoperate with anonlink / anonlink-entity-service.
  *
  * Layout (all little-endian):
  *  - header, 4 bytes (`<BBBB`): format version (always 1), similarity
  *    float width, dataset-index uint width, record-index uint width;
  *  - entries (`<{f}2{d}2{r}`): similarity, dset0, dset1, rec0, rec1.
  *
  * Widths: floats 2/4/8 both ways (the reference dumps from Python
  * arrays, which have no half type, but its reader AND its merge
  * handle `e` — a merge of width-2 inputs must emit width 2 to stay
  * byte-identical); uints 1/2/4/8. Integers are unsigned — 8-byte
  * record indices round-trip through Long bit patterns and all
  * comparisons are unsigned, so the full u64 range survives a merge.
  *
  * [[merge]] reproduces `merge_streams` (`serialization.py:285-362`):
  * k-way heap merge in the global `(-sim, dset0, dset1, rec0, rec1)`
  * order with field widths promoted to the maximum across inputs.
  *
  * Interop is verified in BOTH directions: the golden-byte tests in
  * `AnonlinkFormatSpec` pin dump/merge output to bytes produced by the
  * reference serializer, and the reference's own
  * `load_candidate_pairs` was run against a file dumped by this code
  * (round-trips exactly, including a 2^64-1 record index).
  *
  * This is the LITERAL wire path (Z1/Z2/Z3) for federating with
  * anonlink shards; inside the engine, candidate pairs travel as
  * Parquet snapshots ([[Snapshots]]). Spark glue: [[dumpShards]] writes
  * one sorted shard per partition (the reference's worker-dump step),
  * [[merge]] recombines, [[loadPairs]] parses shards executor-side via
  * the `binaryFile` source.
  */
object AnonlinkFormat {

  /** Field widths of one wire file. Sim width 2 (IEEE binary16) is
    * reader-legal in the reference and its merge PRESERVES it, so it is
    * a first-class width here too. */
  final case class WireSizes(sim: Int, dset: Int, rec: Int) {
    require(Set(2, 4, 8)(sim), s"floats of $sim bytes are not supported")
    require(Set(1, 2, 4, 8)(dset), s"indices of $dset bytes are not supported")
    require(Set(1, 2, 4, 8)(rec), s"indices of $rec bytes are not supported")
    def entryBytes: Int = sim + 2 * dset + 2 * rec
  }

  /** Engine-native widths: f64 sim, u32 dataset ids, u64 record ids. */
  val DefaultSizes: WireSizes = WireSizes(8, 4, 8)

  /** One candidate pair; integers carry unsigned bit patterns. */
  final case class Entry(sim: Double, dset0: Long, dset1: Long, rec0: Long, rec1: Long)

  /** The reference's merge order: decreasing similarity, then the four
    * indices increasing — UNSIGNED, matching Python's arbitrary-size
    * ints (`serialization.py:330-331`). */
  val ordering: Ordering[Entry] = (a: Entry, b: Entry) => {
    val s = java.lang.Double.compare(b.sim, a.sim)
    if (s != 0) s
    else {
      val d0 = java.lang.Long.compareUnsigned(a.dset0, b.dset0)
      if (d0 != 0) d0
      else {
        val d1 = java.lang.Long.compareUnsigned(a.dset1, b.dset1)
        if (d1 != 0) d1
        else {
          val r0 = java.lang.Long.compareUnsigned(a.rec0, b.rec0)
          if (r0 != 0) r0 else java.lang.Long.compareUnsigned(a.rec1, b.rec1)
        }
      }
    }
  }

  // ---- primitive little-endian codecs ----------------------------------

  private def writeUint(out: OutputStream, v: Long, width: Int): Unit = {
    // value must fit: the reference's struct.pack raises on overflow
    if (width < 8) {
      val max = (1L << (8 * width)) - 1
      require(v >= 0 && v <= max, s"value $v does not fit in $width unsigned bytes")
    }
    var i = 0
    while (i < width) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def writeSim(out: OutputStream, sim: Double, width: Int): Unit = width match {
    case 2 => writeUint(out, doubleToHalfBits(sim).toLong & 0xffffL, 2)
    case 4 => writeUint(out, java.lang.Float.floatToIntBits(sim.toFloat).toLong & 0xffffffffL, 4)
    case 8 => writeUint(out, java.lang.Double.doubleToLongBits(sim), 8)
    case w => throw new IllegalArgumentException(s"floats of $w bytes are not supported")
  }

  /** double → IEEE binary16 bits (JDK 17 lacks Float.floatToFloat16).
    * Values that came FROM a half decode re-encode exactly; for others
    * this rounds half-up at the mantissa cut (only reachable if a
    * caller explicitly dumps at width 2). */
  private def doubleToHalfBits(d: Double): Int = {
    val fbits = java.lang.Float.floatToIntBits(d.toFloat)
    val sign = (fbits >>> 16) & 0x8000
    val v = (fbits & 0x7fffffff) + 0x1000
    if (v >= 0x47800000) {
      if ((fbits & 0x7fffffff) >= 0x47800000) {
        if ((fbits & 0x7fffffff) < 0x7f800000) sign | 0x7c00 // overflow → Inf
        else sign | 0x7c00 | ((fbits & 0x007fffff) >>> 13) | // NaN: keep payload
          (if ((fbits & 0x007fffff) == 0) 0 else 0x200)
      } else sign | 0x7bff
    }
    else if (v >= 0x38800000) sign | ((v - 0x38000000) >>> 13) // normal
    else if ((fbits & 0x7fffffff) < 0x33000000) sign // underflow → ±0
    else { // subnormal half
      val e = (fbits & 0x7fffffff) >>> 23
      sign | ((((fbits & 0x7fffff) | 0x800000) + (0x800000 >>> (e - 102))) >>> (126 - e))
    }
  }

  private def readExact(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) {
        if (off == 0) return null // clean EOF at an entry boundary
        throw new EOFException("ran out of input")
      }
      off += r
    }
    buf
  }

  private def uintAt(b: Array[Byte], off: Int, width: Int): Long = {
    var v = 0L
    var i = 0
    while (i < width) { v |= (b(off + i).toLong & 0xff) << (8 * i); i += 1 }
    v
  }

  /** IEEE 754 binary16 → double (JDK 17 lacks Float.float16ToFloat). */
  private def halfToDouble(bits: Int): Double = {
    val sign = if ((bits & 0x8000) != 0) -1.0 else 1.0
    val exp = (bits >>> 10) & 0x1f
    val frac = bits & 0x3ff
    if (exp == 0) sign * frac * math.pow(2, -24)
    else if (exp == 0x1f) {
      if (frac == 0) sign * Double.PositiveInfinity else Double.NaN
    } else sign * (1.0 + frac / 1024.0) * math.pow(2, exp - 15)
  }

  private def simAt(b: Array[Byte], width: Int): Double = width match {
    case 2 => halfToDouble(uintAt(b, 0, 2).toInt)
    case 4 => java.lang.Float.intBitsToFloat(uintAt(b, 0, 4).toInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(uintAt(b, 0, 8))
    case w => throw new IllegalArgumentException(s"floats of $w bytes are not supported")
  }

  // ---- stream dump / load ----------------------------------------------

  /** Z1 `dump_candidate_pairs`: header + entries to `out`. The caller
    * supplies entries already in the global order (the reference dumps
    * its post-sort struct-of-arrays as-is). */
  def dump(entries: Iterator[Entry], sizes: WireSizes, out: OutputStream): Unit = {
    val o = new BufferedOutputStream(out, 1 << 16)
    o.write(1); o.write(sizes.sim); o.write(sizes.dset); o.write(sizes.rec)
    entries.foreach { e =>
      writeSim(o, e.sim, sizes.sim)
      writeUint(o, e.dset0, sizes.dset); writeUint(o, e.dset1, sizes.dset)
      writeUint(o, e.rec0, sizes.rec); writeUint(o, e.rec1, sizes.rec)
    }
    o.flush()
  }

  /** Z2 `load_candidate_pairs` core: header + lazy entry iterator.
    * The iterator raises on a truncated trailing entry, like the
    * reference's 'ran out of input'. */
  def load(in: InputStream): (WireSizes, Iterator[Entry]) = {
    val i = new BufferedInputStream(in, 1 << 16)
    val header = readExact(i, 4)
    if (header == null) throw new EOFException("ran out of input")
    require(header(0) == 1, "unsupported version of serialized file")
    val simW = header(1) & 0xff
    val sizes = WireSizes(simW, header(2) & 0xff, header(3) & 0xff)
    val entryBytes = sizes.entryBytes
    val it = new Iterator[Entry] {
      private var nextBuf: Array[Byte] = _
      private var eof = false
      private def advance(): Unit =
        if (!eof && nextBuf == null) {
          nextBuf = readExact(i, entryBytes)
          if (nextBuf == null) eof = true
        }
      def hasNext: Boolean = { advance(); !eof }
      def next(): Entry = {
        advance()
        if (eof) throw new NoSuchElementException
        val b = nextBuf; nextBuf = null
        val d0 = simW
        Entry(simAt(b, simW),
          uintAt(b, d0, sizes.dset), uintAt(b, d0 + sizes.dset, sizes.dset),
          uintAt(b, d0 + 2 * sizes.dset, sizes.rec),
          uintAt(b, d0 + 2 * sizes.dset + sizes.rec, sizes.rec))
      }
    }
    (sizes, it)
  }

  /** Z3 `merge_streams`: k-way merge of sorted wire files into one wire
    * file, widths promoted to the max across inputs so no information
    * is lost (`serialization.py:285-362`). Streaming — never holds more
    * than one entry per input in memory. */
  def merge(ins: Seq[InputStream], out: OutputStream): Unit = {
    require(ins.nonEmpty, "no files provided")
    val loaded = ins.map(load)
    val sizes = WireSizes(
      loaded.map(_._1.sim).max, loaded.map(_._1.dset).max, loaded.map(_._1.rec).max)
    // heap keyed by (entry, input index) — the index tiebreak keeps the
    // merge deterministic when two inputs hold byte-identical entries
    implicit val ord: Ordering[(Entry, Int)] =
      Ordering.by[(Entry, Int), Entry](_._1)(ordering).orElseBy(_._2).reverse
    val heap = scala.collection.mutable.PriorityQueue.empty[(Entry, Int)]
    val iters = loaded.map(_._2).toArray
    iters.zipWithIndex.foreach { case (it, ix) => if (it.hasNext) heap.enqueue((it.next(), ix)) }
    val o = new BufferedOutputStream(out, 1 << 16)
    o.write(1); o.write(sizes.sim); o.write(sizes.dset); o.write(sizes.rec)
    while (heap.nonEmpty) {
      val (e, ix) = heap.dequeue()
      writeSim(o, e.sim, sizes.sim)
      writeUint(o, e.dset0, sizes.dset); writeUint(o, e.dset1, sizes.dset)
      writeUint(o, e.rec0, sizes.rec); writeUint(o, e.rec1, sizes.rec)
      if (iters(ix).hasNext) heap.enqueue((iters(ix).next(), ix))
    }
    o.flush()
  }

  // ---- Spark glue -------------------------------------------------------

  private def entryRows(df: DataFrame) =
    df.select(col("sim").cast("double"), col("dset0").cast("long"),
      col("dset1").cast("long"), col("rec0").cast("long"), col("rec1").cast("long"))

  /** The wire order's index comparisons are UNSIGNED (Python ints),
    * but Spark sorts longs signed — flipping the sign bit maps unsigned
    * order onto signed order, so a record id ≥ 2^63 (e.g. a 64-bit hash
    * with the high bit set) sorts where the reference's heapq expects
    * it. [[Candidates.globalSortCols]] is NOT reused here for exactly
    * this reason. */
  private def wireSortCols = Seq(desc("sim"),
    col("dset0").bitwiseXOR(Long.MinValue).asc,
    col("dset1").bitwiseXOR(Long.MinValue).asc,
    col("rec0").bitwiseXOR(Long.MinValue).asc,
    col("rec1").bitwiseXOR(Long.MinValue).asc)

  /** Dump a candidate-pair DataFrame as ONE wire file in the global
    * order. The wire format is an inherently sequential single stream,
    * so rows funnel through the driver (`toLocalIterator` — one
    * partition in memory at a time); for distributed output use
    * [[dumpShards]] + [[mergePaths]]. */
  def dumpPairs(pairs: DataFrame, path: String, sizes: WireSizes = DefaultSizes): Unit = {
    val spark = pairs.sparkSession
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = entryRows(pairs).sort(wireSortCols: _*).toLocalIterator()
    val out = fs.create(p, true)
    try dump(
      new Iterator[Entry] {
        def hasNext = rows.hasNext
        def next() = { val r = rows.next(); Entry(r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) }
      }, sizes, out)
    finally out.close()
  }

  /** Distributed dump: one sorted wire shard per partition under `dir`
    * (the reference's per-worker `dump_candidate_pairs` step;
    * `concurrency.py` workers dump chunks exactly like this). Recombine
    * with [[mergePaths]] or anonlink's own `merge_streams`. */
  def dumpShards(pairs: DataFrame, dir: String, sizes: WireSizes = DefaultSizes): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      pairs.sparkSession.sparkContext.hadoopConfiguration)
    entryRows(pairs).sortWithinPartitions(wireSortCols: _*)
      .foreachPartition { (rows: Iterator[Row]) =>
        if (rows.hasNext) {
          // write-to-temp-then-rename commit: a killed/speculative task
          // attempt must never leave a truncated shard at the final
          // path (a half-written wire file poisons any later merge)
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val fin = new Path(f"$dir/shard-$pid%05d.anonlink")
          val tmp = new Path(f"$dir/.shard-$pid%05d.anonlink.attempt-${tc.taskAttemptId()}%d")
          val fs = fin.getFileSystem(conf.value)
          val out = fs.create(tmp, true)
          try dump(rows.map(r =>
            Entry(r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))),
            sizes, out)
          finally out.close()
          // first completed attempt wins; later attempts discard
          if (!fs.rename(tmp, fin)) fs.delete(tmp, false)
          ()
        }
      }
    // an all-empty input must still round-trip: emit one header-only
    // shard (the reference's dump writes a valid header for the empty
    // set too) so mergePaths/loadPairs over the dir keep working
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    val any = fs.exists(dirPath) &&
      fs.listStatus(dirPath).exists(_.getPath.getName.endsWith(".anonlink"))
    if (!any) {
      val out = fs.create(new Path(dirPath, "shard-00000.anonlink"), true)
      try dump(Iterator.empty, sizes, out) finally out.close()
    }
  }

  /** Merge wire files (paths, any Hadoop FS) into one wire file. */
  def mergePaths(spark: SparkSession, paths: Seq[String], outPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ins = paths.map { s => val p = new Path(s); p.getFileSystem(conf).open(p) }
    val op = new Path(outPath)
    val out = op.getFileSystem(conf).create(op, true)
    try merge(ins, out)
    finally { out.close(); ins.foreach(i => scala.util.Try(i.close())) }
  }

  /** Z2 as a DataFrame: parse wire files executor-side (one task per
    * file via the `binaryFile` source) into the engine's candidate
    * schema. Record/dataset ids arrive as signed Longs carrying the
    * unsigned bit patterns. */
  def loadPairs(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(glob)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        val (_, it) = load(new java.io.ByteArrayInputStream(bytes))
        it.map { e =>
          // the engine schema carries dataset ids as Int; a wire file
          // with wider ids must fail loudly, not truncate silently
          require(e.dset0 >= 0 && e.dset0 <= Int.MaxValue
            && e.dset1 >= 0 && e.dset1 <= Int.MaxValue,
            s"dataset index (${e.dset0}, ${e.dset1}) exceeds Int range; " +
              "load with AnonlinkFormat.load for full u64 ids")
          (e.sim, e.dset0.toInt, e.dset1.toInt, e.rec0, e.rec1)
        }
      }
      .toDF(Candidates.columns: _*)
  }
}
