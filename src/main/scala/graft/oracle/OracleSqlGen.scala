package graft.oracle

import graft.core.Hashing

/** DuckDB SQL generators that reproduce graft's 64-bit hash kernels
  * (`graft.core.Hashing`: FNV-1a 64 + splitmix64 finalizer) *bit-exactly*
  * in portable SQL, so the driver's DuckDB oracle can hash-verify the
  * queries whose kernels were previously "not SQL-expressible":
  * `text_fingerprint`, `text_sketch`, `minhash_bands` and
  * `linkage_greedy_clusters`.
  *
  * Technique:
  *   - 64-bit *wrapping* multiply/add don't exist in DuckDB (integer
  *     overflow errors out), so they are synthesized over HUGEINT with
  *     32-bit limbs: `lo64(a*b) = (a0*b0 + ((a1*b0 + a0*b1) mod 2^32)
  *     * 2^32) mod 2^64`. XOR and shifts run natively on BIGINT (the
  *     signed bit pattern equals the JVM Long); logical shift right is
  *     arithmetic `>>` plus a mask.
  *   - Naive textual composition of such expressions explodes
  *     exponentially (every helper references its args several times),
  *     so every helper binds its arguments to fresh names first via
  *     single-element `list_transform([expr], v -> body)[1]` lambdas —
  *     SQL's let-binding — keeping generated text LINEAR in formula
  *     size (mix64 ≈ 1 KB instead of ≈ 55 KB inlined).
  *   - Sequential byte folds (FNV-1a over a token's chars) use
  *     `list_reduce`; corpus-sized bulk hashing (minhash: |grams| × 96
  *     seeds) runs vectorized over unnested rows instead.
  *
  * Parity caveats (asserted by the queries, not silently assumed):
  * `Hashing.chars` mixes UTF-16 code units while SQL sees codepoints —
  * identical only on ASCII corpora, so the queries carry the same
  * `assert_true(length = octet_length(UTF-8))` guard as `text_langid`.
  * Scala `Long` comparison is SIGNED, which BIGINT `min()` matches
  * (the minhash signature takes signed minima — easy to get wrong when
  * modelling the hash in unsigned arithmetic).
  */
object OracleSqlGen {

  /** Character.isWhitespace restricted to ASCII — the exact class the
    * Scala tokenizers (`TextOps.docFingerprint`,
    * `ClkEncoder.wordNgramHashes`) split on. RE2 hex escapes survive
    * DuckDB single-quoted strings untouched. */
  private val WsRe = "[\\t\\n\\x0B\\f\\r\\x1C-\\x1F ]+"

  private val W = "18446744073709551616" // 2^64
  private val HALF = "9223372036854775808" // 2^63

  /** Expression builder with a per-build fresh-name counter so each
    * generated SQL string is deterministic. */
  private final class Gen {
    private var ctr = 0
    def fresh(p: String): String = { ctr += 1; s"$p$ctr" }

    /** let-binding via a single-element list_transform lambda. */
    def let(bindings: Seq[(String, String)], body: String): String =
      bindings.foldRight(body) { case ((name, expr), acc) =>
        s"list_transform([$expr], $name -> $acc)[1]"
      }

    private val simple = "[A-Za-z_][A-Za-z_0-9]*(\\[[A-Za-z_0-9+]+\\])?|-?[0-9]+".r
    /** Bind expr to a fresh name unless it is already a name/literal. */
    def bind(expr: String)(f: String => String): String =
      if (simple.matches(expr)) f(expr)
      else { val v = fresh("v"); let(Seq(v -> expr), f(v)) }

    def u64(x: String): String =
      s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $W ELSE CAST($x AS HUGEINT) END)"
    def s64(x: String): String =
      s"(CASE WHEN $x >= CAST($HALF AS HUGEINT) THEN CAST($x - $W AS BIGINT) ELSE CAST($x AS BIGINT) END)"
    def shrl(x: String, n: Int): String = {
      val mask = (1L << (64 - n)) - 1
      s"(($x >> $n) & $mask)"
    }
    def xr(a: String, b: String): String = s"xor($a, $b)"

    /** 64-bit wrapping multiply via 32-bit limbs in HUGEINT. */
    def mulw(a: String, b: String): String =
      bind(a) { an =>
        bind(b) { bn =>
          val ua = fresh("ua"); val ub = fresh("ub")
          val prod = s"($ua % 4294967296) * ($ub % 4294967296) + " +
            s"((($ua // 4294967296) * ($ub % 4294967296) + " +
            s"($ua % 4294967296) * ($ub // 4294967296)) % 4294967296) * 4294967296"
          val body = bind(s"($prod) % $W")(p => s64(p))
          let(Seq(ua -> u64(an), ub -> u64(bn)), body)
        }
      }

    def addw(a: String, b: String): String =
      bind(a)(an => bind(b)(bn => bind(s"(${u64(an)} + ${u64(bn)}) % $W")(p => s64(p))))

    // splitmix64 constants, signed-BIGINT spelling
    private val C0 = "-7046029254386353131" // 0x9e3779b97f4a7c15
    private val C1 = "-4658895280553007687" // 0xbf58476d1ce4e5b9
    private val C2 = "-7723592293110705685" // 0x94d049bb133111eb
    private val P = "1099511628211" // FNV-1a 64 prime

    /** splitmix64 finalizer — Hashing.mix64. */
    def mix64(z: String): String =
      bind(z) { zn =>
        val m1 = fresh("m"); val m2 = fresh("m"); val m3 = fresh("m")
        let(Seq(
          m1 -> addw(zn, C0),
          m2 -> mulw(xr(m1, shrl(m1, 30)), C1),
          m3 -> mulw(xr(m2, shrl(m2, 27)), C2)),
          xr(m3, shrl(m3, 31)))
      }

    /** One ASCII char of Hashing.chars: two FNV byte steps, the UTF-16
      * high byte being zero. */
    def fnvStep(h: String, c: String): String =
      bind(mulw(xr(h, c), P))(t => mulw(t, P))

    /** Hashing.combine(a, b) = mix64(a ^ b*FnvPrime). */
    def combine(a: String, b: String): String =
      bind(mulw(b, P))(t => bind(a)(an => mix64(xr(an, t))))

    /** Hashing.chars(tok, 0, len, seed) for a bound token name. */
    def tokenHash(tok: String, seed: Long): String = {
      val h0 = Hashing.FnvOffset ^ Hashing.mix64(seed)
      val codes = s"list_prepend(CAST($h0 AS BIGINT), " +
        s"list_transform(range(1, length($tok)+1), i -> ascii($tok[i])))"
      mix64(s"list_reduce($codes, (h, c) -> ${fnvStep("h", "c")})")
    }

    /** Non-empty whitespace-delimited tokens of a text column. */
    def tokens(textCol: String): String =
      s"list_filter(string_split_regex($textCol, '$WsRe'), t -> t != '')"

    /** List of per-token Hashing.chars hashes (the `wordHashes` pass
      * shared by docFingerprint / wordNgramHashes). */
    def wordHashes(textCol: String, seed: Long): String =
      s"list_transform(${tokens(textCol)}, tok -> ${tokenHash("tok", seed)})"

    /** combine-fold with an explicit init, via list_prepend+list_reduce. */
    def combineFold(init: Long, listExpr: String): String =
      s"list_reduce(list_prepend(CAST($init AS BIGINT), $listExpr), (h, t) -> ${combine("h", "t")})"

    /** ClkEncoder.wordNgramHashes n=3 from a bound word-hash list name. */
    def grams3(wh: String, seed: Long): String = {
      val single = combineFold(seed, wh)
      val tri = combine(combine(combine(s"CAST($seed AS BIGINT)", s"$wh[j]"), s"$wh[j+1]"), s"$wh[j+2]")
      s"(CASE WHEN length($wh) = 0 THEN [] WHEN length($wh) < 3 THEN [$single] " +
        s"ELSE list_transform(range(1, length($wh)-1), j -> $tri) END)"
    }
  }

  /** Oracle for `text_fingerprint`: (doc_id, fingerprint, simhash)
    * recomputed from the raw text — TextOps.docFingerprint (token-hash
    * combine-fold) and TextOps.simhash (word-3-gram bit votes; bit 63
    * contributes -2^63 in two's complement, so the vote sum IS the
    * signed value). */
  def textFingerprintSql(fpSeed: Long = graft.ops.TextOps.FingerprintSeed,
      shSeed: Long = graft.ops.TextOps.SimhashSeed): String = {
    val g = new Gen
    val fp = g.combineFold(Hashing.mix64(fpSeed), "whf")
    val simhash = g.let(Seq("grams" -> g.grams3("whs", shSeed)),
      "(CASE WHEN length(grams) = 0 THEN 0 ELSE " +
        "CAST(list_sum(list_transform(range(0, 64), b -> CASE WHEN " +
        "2 * length(list_filter(grams, x -> ((x >> b) & 1) = 1)) > length(grams) " +
        "THEN (CASE WHEN b = 63 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << b) END) " +
        "ELSE 0 END)) AS BIGINT) END)")
    s"""WITH wh AS (SELECT doc_id, ${g.wordHashes("text", fpSeed)} AS whf,
       | ${g.wordHashes("text", shSeed)} AS whs FROM documents)
       |SELECT doc_id, $fp AS fingerprint, $simhash AS simhash FROM wh""".stripMargin
  }

  /** Oracle for `text_sketch`: TextOps.bottomKSketch — the bottom-m of
    * the distinct word-3-gram hashes in SIGNED ascending order (Scala
    * sorts Long signed; BIGINT `list_sort` matches), exploded to
    * (doc_id, idx, gram_hash) scalar rows. */
  def textSketchSql(m: Int = 16, seed: Long = graft.ops.TextOps.SketchSeed): String = {
    val g = new Gen
    s"""WITH wh AS (SELECT doc_id, ${g.wordHashes("text", seed)} AS wl FROM documents),
       | s AS (SELECT doc_id, list_sort(list_distinct(${g.grams3("wl", seed)})) AS sk FROM wh)
       |SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, sk[i] AS gram_hash
       |FROM s, unnest(range(1, least(length(sk), $m) + 1)) AS t(i)""".stripMargin
  }

  /** Oracle for `minhash_bands`: word-3-gram hashes → 96-permutation
    * minhash signature (signed minima, matching Scala Long compare) →
    * 32 band-key combine-folds. The |grams| × 96 mix64 evaluations run
    * vectorized over unnested rows, not lambdas. */
  def minhashBandsSql(p: graft.block.MinhashParams, clk: graft.encode.ClkParams): String = {
    val g = new Gen
    val clkSeed = clk.seed
    val seedsSql = p.hashSeeds.mkString(", ")
    val n = p.numHashes
    val rpb = p.rowsPerBand
    require(rpb == 3, s"oracle SQL is written for rowsPerBand=3, got $rpb")
    require(clk.ngramN == 3 && !clk.charNgrams,
      s"oracle SQL is written for word 3-grams, got ngramN=${clk.ngramN} charNgrams=${clk.charNgrams}")
    val bandKey = g.combine(g.combine(g.combine(
      g.combine(s"CAST(${p.seed} AS BIGINT)", "CAST(band AS BIGINT)"), "s0"), "s1"), "s2")
    s"""WITH wh AS (SELECT doc_id, ${g.wordHashes("text", clkSeed)} AS wl FROM documents),
       | g AS (SELECT doc_id, unnest(${g.grams3("wl", clkSeed)}) AS gram FROM wh),
       | gd AS (SELECT DISTINCT doc_id, gram FROM g),
       | sd AS (SELECT unnest([$seedsSql]) AS sv, unnest(range(0, $n)) AS i),
       | hx AS (SELECT doc_id, i, ${g.mix64(g.xr("gram", "sv"))} AS h FROM gd CROSS JOIN sd),
       | sig AS (SELECT doc_id, i, min(h) AS s FROM hx GROUP BY doc_id, i),
       | bs AS (SELECT doc_id, i // $rpb AS band,
       |   max(CASE WHEN i % $rpb = 0 THEN s END) AS s0,
       |   max(CASE WHEN i % $rpb = 1 THEN s END) AS s1,
       |   max(CASE WHEN i % $rpb = 2 THEN s END) AS s2
       | FROM sig GROUP BY doc_id, i // $rpb)
       |SELECT doc_id, $bandKey AS band_key FROM bs""".stripMargin
  }

  /** Oracle for `linkage_greedy_clusters` and `linkage_prob_clusters`.
    *
    * On bipartite, pair-deduplicated candidates the reference greedy
    * sweep is greedy maximal matching in the global candidate order:
    * walk pairs by `(-sim, dset0, dset1, rec0, rec1)` and take a pair
    * iff neither endpoint is matched yet (groups never exceed size 2,
    * `tests/test_solving.py:test_greedy_2p`). That sweep equals iterated
    * MUTUAL-BEST matching: a pair the sweep takes is exactly one that
    * is the best remaining pair of BOTH its endpoints at some round
    * (the parallel greedy-matching equivalence, Manne & Bisseling's
    * dominant-edge argument; exact because the 5-tuple order is total,
    * so "best" is unique). Each round ranks the remaining pairs per
    * endpoint, keeps the rank-1 × rank-1 pairs, and drops every pair
    * touching a matched record.
    *
    * The rounds are unrolled as `rounds` chained MATERIALIZED CTEs
    * (DuckDB inlines multiply-referenced CTEs otherwise, going
    * exponential). The engine solves any input exactly, so the unroll
    * only bounds what the ORACLE can follow: an input needing more
    * rounds emits a poison row (-99,-99,-99) — a loud verification
    * failure on correct engine output, never a silent false pass. 64
    * rounds ≈ 128-edge staircase chains, far beyond what the deduped
    * top-k candidate streams produce.
    *
    * Clusters are labelled with the matched pair's rec0-endpoint node
    * id, the first member of the group the solver founds from it.
    *
    * @param minLabelCluster relabel each cluster to the MIN member
    *   node id instead — the cluster-id convention of
    *   `solve.DistributedProbGreedy.clusters` (multiparty groups have no
    *   canonical "first" endpoint, so it uses the minimum; on bipartite
    *   matching output the two conventions differ only in the label,
    *   and this window makes the oracle match it exactly). */
  def greedyClustersSql(srcGlob: String, rounds: Int = 64,
      minLabelCluster: Boolean = false): String = {
    val sort = "sim DESC, dset0, dset1, rec0, rec1"
    val head =
      s"WITH rem0 AS MATERIALIZED (SELECT sim, dset0, dset1, rec0, rec1 FROM read_parquet('$srcGlob'))"
    val roundCtes = (1 to rounds).map { i =>
      val p = i - 1
      s""" tk$i AS MATERIALIZED (SELECT sim, dset0, dset1, rec0, rec1 FROM (
         |   SELECT *,
         |     row_number() OVER (PARTITION BY rec0 ORDER BY $sort) AS a0,
         |     row_number() OVER (PARTITION BY rec1 ORDER BY $sort) AS a1
         |   FROM rem$p) WHERE a0 = 1 AND a1 = 1),
         | rem$i AS MATERIALIZED (SELECT r.* FROM rem$p r
         |   WHERE r.rec0 NOT IN (SELECT rec0 FROM tk$i)
         |     AND r.rec1 NOT IN (SELECT rec1 FROM tk$i))""".stripMargin
    }
    val matched = (1 to rounds).map(i => s"SELECT * FROM tk$i").mkString(" UNION ALL ")
    val clCte =
      s""" cl AS (SELECT dset0 AS d, rec0 AS r, xor((CAST(dset0 AS BIGINT) + 1) << 56, rec0) AS cid FROM m
         |   UNION ALL SELECT dset1, rec1, xor((CAST(dset0 AS BIGINT) + 1) << 56, rec0) FROM m)""".stripMargin
    val tail =
      if (!minLabelCluster)
        s"""$clCte
           |SELECT d AS "dsetId", r AS "recId", cid AS "clusterId" FROM cl
           |UNION ALL SELECT -99, CAST(-99 AS BIGINT), CAST(-99 AS BIGINT)
           |WHERE EXISTS(SELECT 1 FROM rem$rounds)""".stripMargin
      else
        s"""$clCte,
           | rl AS (SELECT d, r,
           |   min(xor((CAST(d AS BIGINT) + 1) << 56, r)) OVER (PARTITION BY cid) AS cid2 FROM cl)
           |SELECT d AS "dsetId", r AS "recId", cid2 AS "clusterId" FROM rl
           |UNION ALL SELECT -99, CAST(-99 AS BIGINT), CAST(-99 AS BIGINT)
           |WHERE EXISTS(SELECT 1 FROM rem$rounds)""".stripMargin
    (Seq(head) ++ roundCtes ++ Seq(s" m AS ($matched)", tail)).mkString(",\n")
  }
}
