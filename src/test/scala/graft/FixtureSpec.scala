package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.BitVector

/** Golden fixtures + extension-point wiring. */
class FixtureSpec extends AnyFunSuite {

  // The two hardcoded 1024-bit CLKs from /root/reference/tests/test_e2e.py:94-95
  // (test data, transcribed per FIXTURES.md §2). Expected values computed
  // with an independent pure-python popcount oracle.
  private val vecA = "1111110001110110010010011111011000110011010110111101110101110011011111111001010010111000110011110100011011110111110111110010111001011110111000110101010001011000010110010101111101110100101110100001011101010000011011111111001110001011000000111110111100001010110000010000001000010011111101001101101000100010011001000111000101001011001111010110011111011010000100011111101000111000111111111110100001101010000100110000111001100101011010101000001101001010011111100110001101101110010001110111101111111101000111001001111111010001011011100100101000101000011000010110001001010010000001100100110101011111111001110010000100110100110010010000000001111111010001010011011111111001101000111010100000000101100010010111100010000110010011101111010000100010011011101100001000000101011100111010011100111101111111010100001111111000111101000010100001111000001001101011011001110000000111110110100000110010010100101001010100010010111010001000111100000011011101010010011000111100110101100011100001111110011000010000110011010110110011110111001001110010"
  private val vecB = "1110100001111000010100111000011001010000100010011110100011111100100100111011000000101111001110100000100010001100011011110000101010111100100110000011100001001000010011010001100010100110011011001100011111101111110011011101011100100001010001011000111100001000101111000011110111101101111000111100101111001000011111010011001000001010110011110000010011101000001000110011101010001000111100010110000110101000101010111001110110101010101010001001010010001010100010011101100110100110110010101000111011011000100010001011110110011001110001101101010001001110011011001110110111011010001000101110100000101001111000001000011110011000101110001010100110000010100001111101000101101000101101001001100010111110100110000100100110111110101011100000101100000001101110101011011101011000111111100011000100101110101110101001000110011001110001001011100110001100000110110001101000011010101111011000110101111111010001011110011111010110010111011000100100111010011010001110101001011111010110000000110110011110100111001000100010111001100010111110101011101010"

  private def parse(bits: String): Array[Long] = {
    val arr = new Array[Long](16)
    bits.zipWithIndex.foreach { case (c, i) => if (c == '1') BitVector.setBit(arr, i) }
    arr
  }

  test("golden 1024-bit vectors from the reference e2e suite") {
    val a = parse(vecA)
    val b = parse(vecB)
    assert(BitVector.popcount(a) == 526)
    assert(BitVector.popcount(b) == 504)
    assert(BitVector.andPopcount(a, b) == 273)
    assert(BitVector.dice(a, b) == 0.5300970873786408)
    assert(BitVector.dice(a, a) == 1.0)
    // same values through the BinaryType payload + native expression path
    assert(graft.functions.BitOps.diceBytes(
      BitVector.toBytes(a), BitVector.toBytes(b)) == 0.5300970873786408)
  }

  test("GraftExtensions registers SQL functions at session build") {
    val spark = SparkTestBase.spark
    // apply the extension to the live session's registry (same injection
    // path withExtensions uses at build time)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    graft.functions.BitFunctions.register(spark) // temp-function route
    import spark.implicits._
    val df = Seq((BitVector.toBytes(parse(vecA)), BitVector.toBytes(parse(vecB))))
      .toDF("a", "b")
    df.createOrReplaceTempView("golden_clks")
    val row = spark.sql(
      "SELECT popcount_bin(a) AS p, dice_bin(a, b) AS d FROM golden_clks").head
    assert(row.getInt(0) == 526)
    assert(row.getDouble(1) == 0.5300970873786408)
  }

  test("list blocking: external key table drives the same kernel (B3)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val pages = gen.Corpus.labeledPages(spark,
      gen.Corpus.Params(entities = 40L, seed = 59L, minVariants = 2, maxVariants = 2))
    val params = LinkageParams(threshold = 0.7, k = None)
    val enc = Linkage.encode(pages, params, col("dsetId")).cache()
    // external key table: everyone in block 7 == NoBlocking semantics
    val keys = enc.select($"dsetId", $"recId").withColumn("key", lit(7L))
    val blocked = Linkage.saltExplodedWithStats(Linkage.listBlocked(enc, keys), params)._1
    val got = Linkage.scorePairs(blocked, params).collect()
      .map(r => (r.getDouble(0), r.getLong(3), r.getLong(4))).toSet
    val noBlock = Linkage.candidatePairs(pages, params.copy(blocking = NoBlocking), col("dsetId"))
      .collect().map(r => (r.getDouble(0), r.getLong(3), r.getLong(4))).toSet
    assert(got == noBlock && got.nonEmpty)
  }
}
