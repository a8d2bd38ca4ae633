package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.call
import graft.queries.Q
import graft.sources.Tables

/** Portable hashing primitives shared by the dedup/fingerprint operators.
  *
  * Both engines (Spark for the run, DuckDB for the oracle) evaluate the same
  * polynomial rolling hash — fold(chars, acc -> (acc*31 + codepoint) mod p) —
  * with identical left-to-right order and exact 64-bit integer arithmetic, so
  * row hashes match bit-for-bit. Engine-native hashes (murmur3/xxhash) are
  * deliberately avoided: they differ across engines.
  */
object PortableHash {
  val P = 1000000007L

  /** Spark SQL: polynomial hash of string expression `e` (codegen'd HOF). */
  def sparkPoly(e: String): String =
    s"aggregate(sequence(1, length($e)), CAST(0 AS BIGINT), " +
      s"(acc, i) -> (acc * 31 + ascii(substr($e, i, 1))) % $P)"

  /** DuckDB: same fold (list_reduce over a 0-prepended codepoint list). */
  def duckPoly(e: String): String =
    s"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e) + 1), i -> ascii(substr($e, i, 1)))), " +
      s"(acc, c) -> (acc * 31 + c) % $P) AS BIGINT)"

  /** The engine side of the `doc_id`-keyed sampling coins: the compiled
    * poly fold over md5('<salt>|' || doc_id), MD5 for the avalanche a
    * short salted string lacks. Distinct salts never reuse one coin.
    */
  def saltedDocHash(salt: String): Column = call("graft_poly_hash",
    md5(concat(lit(s"$salt|"), col("doc_id").cast("string"))))

  /** Per-token hash array for `text` split on single spaces. */
  val duckTokenHashes: String =
    s"list_transform(string_split(text, ' '), t -> ${duckPoly("t")})"

  /** Word-bigram shingle hashes combined from adjacent token hashes —
    * O(len(text)) total hashing work instead of rehashing every shingle's
    * characters. `th` is a BIGINT array column name.
    */
  def sparkShingles(th: String): String =
    s"transform(sequence(1, size($th) - 1), " +
      s"i -> (element_at($th, i) * 31 + element_at($th, i + 1)) % $P)"
  def duckShingles(th: String): String =
    s"list_transform(range(1, len($th)), " +
      s"i -> ($th[i] * 31 + $th[i + 1]) % $P)"
}

/** Deduplication operators for training-data pipelines (north-star ops; the
  * reference itself has no dedup — its nearest analogue is dropna hygiene,
  * utils/spark_transforming.py:145).
  *
  * Scale design (100 TB posture):
  *   - exact dedup  = hash + groupBy: one shuffle on a 128-bit digest, no
  *     text comparison; map-side partial aggregation halves shuffle volume.
  *   - MinHash+LSH  = per-row signature (shuffle-free) → band-bucket
  *     self-equi-join: candidates only, never the O(n²) pair space. Bands
  *     are equi-join keys so Catalyst shuffles on band value — skew-safe
  *     because signatures are near-uniform.
  *   - SimHash      = per-row 16-bit fingerprint, shuffle-free.
  *   - Jaccard      = verification only on LSH candidates (the cheap set
  *     intersection runs on ~0.1% of pairs).
  *   - embedding near-dup = label-blocked pair join (blocking key caps the
  *     quadratic blowup), sequential-fold cosine for oracle parity.
  */
object Dedup {
  import PortableHash._

  /** MinHash permutation constants: mh_j = min over shingles of (a_j*h+b_j)%p.
    * a_j*h stays < 2^63 (a_j < 5e7, h < 1e9+7). Single source of truth is
    * the native kernel ([[graft.functions.TextHash]]); the oracle SQL built
    * below derives from the SAME values, so kernel and oracle cannot drift.
    */
  val A: Seq[Long] = graft.functions.TextHash.A.toSeq
  val B: Seq[Long] = graft.functions.TextHash.B.toSeq
  val k = A.length
  /** 4 bands × 2 rows: P(candidate | jaccard j) = 1-(1-j²)⁴. */
  val bands: Seq[(Int, Int)] = Seq((0, 1), (2, 3), (4, 5), (6, 7))

  /** doc_id + mh0..mh7 MinHash signature (≥2 tokens required for bigrams).
    *
    * The signature is computed by the native codegen'd
    * `graft_minhash_sig` kernel — one compiled pass per document
    * (token hash → shingle → 8 permuted minima) instead of nested interpreted
    * HOFs; `graft_minhash_sig` returns null below 2 tokens, replacing the
    * `size(split(text,' ')) >= 2` predicate with the same row set.
    */
  def minhash(docs: DataFrame): DataFrame =
    docs
      .withColumn("mhs", call("graft_minhash_sig", col("text")))
      .filter(col("mhs").isNotNull)
      .select(
        col("doc_id") +:
          (0 until k).map(j => col("mhs").getItem(j).as(s"mh$j")): _*)

  /** DuckDB subquery mirroring [[minhash]] (aliased `sig`). */
  def minhashSql: String = {
    val mhs = (0 until k).map { j =>
      s"list_min(list_transform(sh, h -> (${A(j)} * h + ${B(j)}) % $P)) AS mh$j"
    }.mkString(", ")
    s"""SELECT doc_id, $mhs
        FROM (SELECT doc_id, ${duckShingles("th")} AS sh
              FROM (SELECT doc_id, $duckTokenHashes AS th
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2))"""
  }

  /** LSH candidate pairs: docs sharing any (mh_x, mh_y) band, doc_a < doc_b.
    *
    * The signature relation is persisted before the self-join: signatures are
    * 9 longs/doc (tiny next to the text), and without the persist every join
    * side re-derives them from raw text — worse, Catalyst's constraint
    * inference clones the full interpreted HOF minhash expression into a
    * pushed-down `isnotnull` filter, turning 1 signature pass into ~8
    * (measured 267 s → ~2 s at sf0.1). Materializing once is also the 100 TB
    * design: one pass over the corpus, then all band joins run on the compact
    * signature table.
    *
    * Bands are exploded to (band#, h1, h2) rows so all 4 bands go through ONE
    * shuffle equi-join on the band key instead of 4 separate joins — shuffle
    * on near-uniform hash values, never a cartesian.
    *
    * The persisted relation is deliberately left cached across queries: the
    * CacheManager dedups by canonicalized plan, so repeated calls over the
    * same input reuse one compact cache entry (9 longs/doc) rather than
    * accumulating copies, and d05 reuses d03's signatures for free. The
    * lifetime is OWNED via [[graft.util.Caches.retain]]: a long-lived
    * session evicts every library cache (this one and jaccardPairs'
    * corpus-sized token cache) with `Caches.releaseAll()` — Verify and
    * BenchSuite call it at shutdown.
    */
  /** Signature rows exploded to (doc_id, band, h1, h2) — the ONE place the
    * LSH banding layout is encoded (d03/d05/d09/d10 pair generation, d11's
    * incremental probe, and s28's streaming bucket state all key on these
    * columns).
    */
  private[graft] def bandedSignatures(sig: DataFrame): DataFrame = {
    val bandStructs = bands.zipWithIndex.map { case ((x, y), i) =>
      struct(lit(i).as("band"), col(s"mh$x").as("h1"), col(s"mh$y").as("h2"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.h1"), col("b.h2"))
  }

  /** Conf key: bucket-size cap for PAIRWISE candidate generation. Pairwise
    * output is inherently |B|·(|B|−1)/2 rows per band bucket — the one part
    * of the LSH layout whose cost is quadratic in bucket size, and at
    * 100 TB a mass-duplicated boilerplate page (one text × 10⁶ copies)
    * lands 10⁶ docs in ONE bucket → 5·10¹¹ candidate rows from a single
    * key. When the cap is set (≥ 0), buckets larger than it are excluded
    * from pair generation: their members are exact-or-near mass duplicates
    * whose resolution belongs to the linear paths anyway (d01's hash
    * dedup, d09's clustering — which keys on buckets, never builds pairs,
    * and is NOT affected by this cap). Default −1 (off) keeps the declared
    * d03/d05/d14/d16 contracts bit-identical to their oracles; the
    * excluded-bucket list is observable via [[hotBuckets]]. The cap covers
    * BOTH pairwise blocking schemes — the MinHash band buckets (d03 and
    * everything downstream of [[lshPairs]]) and d15's SimHash pigeonhole
    * block-pair keys, which mass duplication floods identically.
    */
  val MaxBucketSizeKey = "spark.graft.dedup.maxBucketSize"

  /** Apply [[MaxBucketSizeKey]] to a pairwise blocking relation: drop every
    * row whose blocking key (`keyCols`) holds more than the configured
    * member count, preserving the input column order (using-column joins
    * would otherwise reorder keys first). No-op when the cap is unset.
    *
    * The anti-join is deliberately NOT broadcast-hinted: |hot| is bounded
    * by |rel|/cap, which is only "small" when the cap is large relative to
    * the corpus — a tight cap on a 10¹⁰-row relation could make the hot
    * set itself huge, and a forced broadcast would collect it to the
    * driver. AQE broadcasts it when it is actually small and falls back to
    * a shuffled anti-join when it is not; both plans are scale-safe.
    */
  private[graft] def applyBucketCap(rel: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val cap = rel.sparkSession.conf.get(MaxBucketSizeKey, "-1").toLong
    if (cap < 0) rel
    else {
      val hot = hotBuckets(rel, keyCols, cap).drop("n_members")
      rel.join(hot, keyCols, "left_anti")
        .select(rel.columns.map(col).toSeq: _*)
    }
  }

  /** Blocking keys whose member count exceeds `cap` — the mass-duplication
    * telemetry a capped run should log/persist, over the SAME aggregation
    * [[applyBucketCap]] excludes with (so the audit can never drift from
    * the exclusion). Works for any blocking scheme: the MinHash band keys
    * (band, h1, h2), d15's SimHash block-pair keys (bp, b1, b2), d07's
    * hyperplane cells (bucket).
    */
  def hotBuckets(rel: DataFrame, keyCols: Seq[String],
      cap: Long): DataFrame =
    rel.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > cap)

  /** Legacy shape: the MinHash band-bucket audit. */
  def hotBuckets(banded: DataFrame, cap: Long): DataFrame =
    hotBuckets(banded, Seq("band", "h1", "h2"), cap)

  def lshPairs(docs: DataFrame): DataFrame = {
    val sig = graft.util.Caches.retain(minhash(docs))
    val banded = applyBucketCap(bandedSignatures(sig), Seq("band", "h1", "h2"))
    val a = banded.toDF("doc_a", "band_a", "h1a", "h2a")
    // shuffle_hash hint: at 100 TB the signature relation is TB-scale, so
    // AQE's broadcast choice (valid only at toy SF) is the wrong plan shape
    // to pin; a shuffled hash join on the near-uniform band keys avoids both
    // the broadcast build and the sort of a sort-merge join. Both sides hash-
    // partition on the same key, and AQE skew-join splitting still applies.
    val b = banded.toDF("doc_b", "band_b", "h1b", "h2b").hint("shuffle_hash")
    a.join(b, col("band_a") === col("band_b") && col("h1a") === col("h1b") &&
        col("h2a") === col("h2b") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Band-join union arms over a CTE named `sig` (see [[minhashSql]]). */
  def lshArmsSql: String =
    bands.map { case (x, y) =>
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sig a JOIN sig b
            ON a.mh$x = b.mh$x AND a.mh$y = b.mh$y AND a.doc_id < b.doc_id"""
    }.mkString(" UNION ")

  def lshPairsSql: String = s"WITH sig AS ($minhashSql) $lshArmsSql"

  /** 60-bit SimHash over token hashes (TextHash.simHash): 4 blocks × 15
    * bits, block k voting on bits of the MinHash-permuted token hash
    * `(A(k)*h + B(k)) mod P`. Per-row, shuffle-free. The oracle twin
    * unnests tokens once and folds all 60 vote sums in a single grouped
    * aggregate pass (not 60 list_transform passes over every row).
    */
  val simhashBlocks = 4
  val simhashBlockBits = 15
  def simhash(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), call("graft_simhash", col("text")).as("simhash"))

  def simhashSql: String = {
    val terms = (0 until simhashBlocks).flatMap { k =>
      (0 until simhashBlockBits).map { b =>
        val pos = simhashBlockBits * k + b
        s"""(CASE WHEN sum(CASE WHEN (h$k // ${1L << b}) % 2 = 1
                               THEN 1 ELSE -1 END) > 0
                  THEN ${1L << pos} ELSE 0 END)"""
      }
    }.mkString(" + ")
    val perms = (0 until simhashBlocks).map { k =>
      s"(${A(k)} * h + ${B(k)}) % $P AS h$k"
    }.mkString(", ")
    s"""SELECT doc_id, CAST($terms AS BIGINT) AS simhash
        FROM (SELECT doc_id, ${perms}
              FROM (SELECT doc_id, unnest($duckTokenHashes) AS h
                    FROM documents WHERE length(text) > 0))
        GROUP BY doc_id"""
  }

  /** Jaccard verification on LSH candidates: distinct-token set overlap.
    * Runs only on the candidate pairs — the quadratic space is never built.
    */
  def jaccardPairs(docs: DataFrame): DataFrame = {
    // Round 21: fused distinct-token kernel (graft_distinct_tokens) — one
    // pass, bit-identical array (first-occurrence order) to
    // array_distinct(split(text, ' ')).
    val toks = graft.util.Caches.retain(docs.select(col("doc_id"),
      call("graft_distinct_tokens", col("text")).as("toks")))
    // |A∪B| = |A|+|B|-|A∩B| over the already-distinct token sets, so the
    // union ARRAY (an ~|A|+|B| string allocation per candidate pair, the
    // most expensive per-pair op) is never built — only the intersect
    // runs, and codegen CSE evaluates it once for both uses. Bit-identical
    // to the size(array_union) form; the oracle keeps computing the union
    // length its own way, the VALUES agree.
    lshPairs(docs)
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
        size(col("toks")).as("na")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
        size(col("toks")).as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  def jaccardPairsSql: String =
    s"""WITH pairs AS ($lshPairsSql),
             toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
                      FROM documents)
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.t, b.t))) AS jaccard
        FROM pairs JOIN toks a ON doc_a = a.doc_id
                   JOIN toks b ON doc_b = b.doc_id"""

  /** d15's engine body: SimHash near-dup pairing via the pigeonhole
    * block join (see the catalog entry's rationale). Identical docs share
    * every block-pair key, so the optional [[MaxBucketSizeKey]] cap
    * applies to the (bp, b1, b2) blocking keys exactly as it does to the
    * MinHash band buckets in [[lshPairs]].
    */
  def simhashPairs(docs: DataFrame): DataFrame =
    hammingBlockPairs(
      simhash(docs).select(col("doc_id"), col("simhash").as("sig")))

  /** The pigeonhole block join over ANY 60-bit signature relation
    * (doc_id, sig) — the published simhash dedup shape factored out so
    * d15 (text SimHash) and d25 (media dHash, round-15 verdict item 4)
    * share ONE pairing body: split the signature into 4 × 15-bit blocks;
    * Hamming ≤ 2 can corrupt at most 2 blocks, so every qualifying pair
    * shares at least one of the C(4,2)=6 block PAIRS (completeness is a
    * theorem). Candidates come from ONE equi-join on the exploded
    * (block-pair, bits) keys, the optional [[MaxBucketSizeKey]] cap
    * applies to those keys exactly as to the MinHash band buckets, and
    * the exact popcount(xor) ≤ 2 verify runs on candidates only — the
    * quadratic space is never built.
    */
  private[graft] def hammingBlockPairs(sig: DataFrame): DataFrame =
    pigeonholeCandidates(sig)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sh_a ^ sh_b) AS INT)").as("hamming"))
      .filter(col("hamming") <= 2)

  /** The candidate half of the d15/d25 pigeonhole join over PACKED 60-bit
    * positional signatures (SimHash votes, dHash comparisons): every
    * distinct pair agreeing on at least one of the C(4,2) block-pair keys
    * ⟺ at least 2 of 4 blocks equal, verified by the bit-Hamming popcount
    * in [[hammingBlockPairs]]. (d29's SET-semantics twin lives in
    * [[minhashBlockCandidates]], which blocks over raw-minima ARRAYS at a
    * conf-resolved key width.)
    */
  private[graft] def pigeonholeCandidates(sig: DataFrame): DataFrame = {
    val blockPairs = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
    val bw = simhashBlockBits
    val mask = (1L << bw) - 1
    val keyStructs =
      blockPairs.zipWithIndex.map { case ((i, j), idx) =>
        struct(lit(idx).as("bp"),
          expr(s"(sig >> ${bw * i}) & $mask").as("b1"),
          expr(s"(sig >> ${bw * j}) & $mask").as("b2"))
      }
    val keyed = sig.select(col("doc_id"), col("sig"),
      explode(array(keyStructs: _*)).as("k"))
      .select(col("doc_id"), col("sig"),
        col("k.bp"), col("k.b1"), col("k.b2"))
    val capped = applyBucketCap(keyed, Seq("bp", "b1", "b2"))
    val a = capped.toDF("doc_a", "sh_a", "bp", "b1", "b2")
    val b = capped.toDF("doc_b", "sh_b", "bp_b", "b1b", "b2b")
      .hint("shuffle_hash") // signature relation: same rationale as d03
    a.join(b, col("bp") === col("bp_b") && col("b1") === col("b1b") &&
        col("b2") === col("b2b") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
  }

  /** d29's recall/bucket-heat knob: the minimum number of agreeing
    * min-hash blocks for a pair to become a candidate. 2 (default) =
    * block-PAIR keys (2·w-bit, cold — the d15 pigeonhole geometry;
    * measured recall 0.96 at sf0.1 on deleted-byte noise); 1 = classic
    * b=4/r=1 banding (w-bit keys, hotter buckets under the maxBucketSize
    * cap, recall on anything with ONE surviving block). Generation-time
    * conf resolution on the oracle side (the d17 discipline), so the
    * gate stays hash-green at either setting.
    */
  val MinhashMinBlocksKey = "spark.graft.dedup.minhashMinBlocks"

  /** d29's BLOCK-KEY WIDTH knob (round-17, the round-16 verdict's one
    * `weak` item — the d07 hyperplaneBits discipline applied to the
    * min-hash blocking): the signature now carries RAW minima
    * (graft_byte_minhash_arr) and the key truncates to `w` bits at JOIN
    * time, so higher widths strictly refine lower (`m % 2^(w+1)` equal ⇒
    * `m % 2^w` equal — spec-pinned) and the old 60-bit packed layout no
    * longer fixes the resolution. Default `auto` = ceil(log2(n/16))
    * clamped to [1, 30] from ONE corpus count (the exact [[autoBits]]
    * arithmetic), emitted as SQL on the oracle side (the bloomCtes
    * precedent) so the gate runs hash-green with the knob unset.
    *
    * Honesty note (measured at sf10, round 17): at 600k signatures the
    * 15-bit truncation contributes only ~13k of 6.11M candidate pairs
    * (0.2%) — the tail the round-16 verdict attributed to key width is
    * actually genuine low-Jaccard sketch agreement, and the operative fix
    * is [[MediaSketchFloor]]'s pre-gate below. The width knob still
    * matters one decade up: truncation collisions grow ∝ n²·6/2^(2w)
    * (~200k pairs at n=6M under w=15; ~200 at the derived w=20).
    */
  val MinhashBlockBitsKey = "spark.graft.dedup.minhashBlockBits"
  val MinhashBlockBitsDefault = "auto"

  /** Resolve the block-key width for a signature corpus: numeric conf
    * wins, `auto` (the default) derives from one count of the
    * signature-bearing rows — same resolution contract as
    * [[resolveBits]]/[[resolveCells]].
    */
  private[graft] def resolveMinhashBits(corpus: DataFrame): Int = {
    val conf = corpus.sparkSession.conf.get(
      MinhashBlockBitsKey, MinhashBlockBitsDefault)
    val bits =
      if (conf == "auto") {
        val n = corpus.count()
        val v = autoBits(n)
        logDerived(MinhashBlockBitsKey, n, v); v
      } else conf.toInt
    require(bits >= 1 && bits <= 30,
      s"$MinhashBlockBitsKey=$bits out of range [1, 30]")
    bits
  }

  /** d29's SKETCH pre-gate floor: of the 16 raw verify min-hashes carried
    * in the signature (Multimodal.mhashSketchHashes), a candidate pair
    * must agree on at least this many BEFORE its gram arrays are fetched
    * for the exact Jaccard verify. Per-hash agreement probability is the
    * true gram-set Jaccard, so the gate admits a pair with
    * P = P(Binom(16, J) ≥ 4): 0.972 at the τ = 0.45 admission boundary,
    * 0.999 at J = 0.6, ~1 − 10⁻⁸ at the planted re-encode class
    * (J ≈ 0.81) — and < 10⁻³ at J ≤ 0.05, where the measured junk mass
    * lives (sf10 agreement histogram: 94% of candidates agree on ≤ 2 of
    * the 16 sketch hashes).
    * Measured at sf10 (round 17): the gate passes 182k of 6.11M
    * candidates (2.97%) and every one of the 138k final pairs' mass sits
    * at agreement ≥ 12, so the exact verify — 97% of d29's pre-gate sf10
    * wall, because each candidate row shipped two ~2.3 KB gram arrays
    * through a shuffle — now touches ~3% of the pairs. The gate is part
    * of the DECLARED pairing semantics (the oracle twin applies the same
    * threshold), and d30 measures the chain's planted P/R every run.
    */
  val MediaSketchFloor = 4

  /** d29's candidate relation over the RAW-minima array signature:
    * pigeonhole block keys truncated to `w` bits at join time, the
    * per-pair block agreement count AT width w, and the 16-hash sketch
    * agreement — both computed inline from the arrays the key join
    * already carries (no extra join). Keys follow [[MinhashMinBlocksKey]]:
    * block-PAIR keys at the default 2, single-block keys at 1.
    */
  private[graft] def minhashBlockCandidates(sig: DataFrame,
      w: Int): DataFrame = {
    val minBlocks = confInt(MinhashMinBlocksKey, 2)
    require(minBlocks == 1 || minBlocks == 2,
      s"$MinhashMinBlocksKey=$minBlocks must be 1 or 2")
    val mask = (1L << w) - 1
    val blockPairs = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
    val keyStructs =
      if (minBlocks == 1)
        (0 until simhashBlocks).map(i =>
          struct(lit(i).as("bp"),
            expr(s"sig[$i] & $mask").as("b1"), lit(0L).as("b2")))
      else blockPairs.zipWithIndex.map { case ((i, j), idx) =>
        struct(lit(idx).as("bp"),
          expr(s"sig[$i] & $mask").as("b1"),
          expr(s"sig[$j] & $mask").as("b2"))
      }
    val keyed = sig.select(col("doc_id"), col("sig"),
      explode(array(keyStructs: _*)).as("k"))
      .select(col("doc_id"), col("sig"),
        col("k.bp"), col("k.b1"), col("k.b2"))
    val capped = applyBucketCap(keyed, Seq("bp", "b1", "b2"))
    val a = capped.toDF("doc_a", "sh_a", "bp", "b1", "b2")
    val b = capped.toDF("doc_b", "sh_b", "bp_b", "b1b", "b2b")
      .hint("shuffle_hash") // signature relation: same rationale as d03
    val matches = (0 until simhashBlocks).map(i =>
      s"(CASE WHEN (sh_a[$i] & $mask) = (sh_b[$i] & $mask) " +
        "THEN 1 ELSE 0 END)").mkString(" + ")
    val sketch = (0 until graft.ext.Multimodal.mhashSketchHashes).map(j =>
      s"(CASE WHEN sh_a[${simhashBlocks + j}] = sh_b[${simhashBlocks + j}] " +
        "THEN 1 ELSE 0 END)").mkString(" + ")
    // the sketch floor applies BEFORE distinct: est is deterministic per
    // pair, so filtering first keeps the distinct at survivor scale
    a.join(b, col("bp") === col("bp_b") && col("b1") === col("b1b") &&
        col("b2") === col("b2b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"CAST($matches AS INT)").as("n_match_blocks"),
        expr(s"CAST($sketch AS INT)").as("sk_agree"))
      .filter(col("n_match_blocks") >= minBlocks &&
        col("sk_agree") >= MediaSketchFloor)
      .select("doc_a", "doc_b", "n_match_blocks").distinct()
  }

  /** d29's admission threshold on the exact byte-gram-set Jaccard verify.
    * Derivation: at the signature's 61-byte floor a payload has ≥ 46
    * byte-16-gram positions; a 1-byte insert/delete destroys ≤ k distinct
    * grams and creates ≤ k−1, so under the all-grams-distinct worst case
    * an edit-distance-1 pair keeps J ≥ (46−16)/(46+15) ≈ 0.49 — τ = 0.45
    * admits every such pair with headroom (repetitive payloads only push
    * J HIGHER: the destroyed positions' values usually survive
    * elsewhere). Unrelated word-soup docs share ~1% of their 16-byte
    * grams (measured), so the verify is also the precision gate. Recall
    * of the BLOCKING is probabilistic (min-hash, not a theorem) and d30
    * MEASURES it on length-changing planted noise.
    */
  val MediaJaccardTau = 0.45

  /** d29/d30's engine body over a (doc_id, text) corpus: raw min-hash
    * signatures → pigeonhole block candidates at the RESOLVED key width
    * ([[MinhashBlockBitsKey]], default auto) → 16-hash sketch pre-gate
    * ([[MediaSketchFloor]], inline on the candidate rows) → exact
    * distinct-byte-gram Jaccard verify ≥ τ on sketch survivors only (the
    * d02/d03 discipline at byte granularity — the quadratic space is
    * never built, and the ~2.3 KB gram arrays travel only to the ~3% of
    * candidate rows the sketch admits).
    */
  def mediaMinhashPairs(corpus: DataFrame): DataFrame = {
    val corpusF = corpus.filter(octet_length(col("text")) >=
      graft.ext.Multimodal.mhashMinBytes)
    val w = resolveMinhashBits(corpusF)
    val sigs = graft.ext.Multimodal.mediaMinhashRaw(corpus)
    val grams = graft.util.Caches.retain(corpusF
      .select(col("doc_id"), array_distinct(call("graft_byte_grams",
        col("text"), lit(graft.ext.Multimodal.mhashGramBytes))).as("bg")))
    minhashBlockCandidates(sigs, w)
      .join(grams.select(col("doc_id").as("doc_a"), col("bg").as("ga"),
        size(col("bg")).as("na")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("bg").as("gb"),
        size(col("bg")).as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .select(col("doc_a"), col("doc_b"), col("n_match_blocks"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= MediaJaccardTau)
  }

  /** DuckDB twin of [[mediaMinhashPairs]] as CTEs over `$aug` ending in
    * `mp(doc_a, doc_b, n_match_blocks, jaccard)` — the O(n²) brute force,
    * affordable at oracle SF; the engine never builds the pair space.
    * Knob handling (the d17/bloomCtes discipline, resolved at generation
    * time): a NUMERIC minhashBlockBits inlines as a 2^w literal; `auto`
    * (the default) emits the width DERIVATION as SQL — the exact
    * [[autoBits]] arithmetic (smallest b with 2^b ≥ ceil(n/16), clamped
    * to 30) over the exact same signature-bearing row set the engine
    * counts — so the gate runs hash-green with the knob unset.
    */
  private[graft] def mediaMinhashPairsSql(aug: String): String = {
    val k = graft.ext.Multimodal.mhashGramBytes
    val minB = graft.ext.Multimodal.mhashMinBytes
    val P = PortableHash.P
    val chain = (0 until k).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
      s"(($acc) * 31 + ascii(substr(text, CAST(i + $j AS INT), 1))) % $P")
    val mixes = graft.functions.TextHash.MinhashMixes ++
      graft.functions.TextHash.VerifyMixes
    val minsSel = mixes.zipWithIndex.map { case (c, b) =>
      s"list_min(list_transform(gh, g -> (g * $c) % $P)) AS m$b"
    }.mkString(",\n                      ")
    val conf = knobValue(MinhashBlockBitsKey)
      .getOrElse(MinhashBlockBitsDefault)
    val widthCtes =
      if (conf == "auto")
        s"""bcells AS (SELECT greatest(1, (count(*) + 15) // 16) AS cells
                       FROM ms),
            bwidth AS (SELECT (CAST(1 AS BIGINT) << coalesce(
                         (SELECT min(t.b)
                          FROM range(1, 31) t(b), bcells c
                          WHERE (CAST(1 AS BIGINT) << t.b) >= c.cells),
                         30)) AS pw),"""
      else {
        val bits = conf.toInt
        require(bits >= 1 && bits <= 30,
          s"$MinhashBlockBitsKey=$bits out of range [1, 30]")
        s"bwidth AS (SELECT CAST(${1L << bits} AS BIGINT) AS pw),"
      }
    val matches = (0 until simhashBlocks).map(i =>
      s"(CASE WHEN a.m$i % pw = b.m$i % pw THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val sketch = (0 until graft.ext.Multimodal.mhashSketchHashes).map(j =>
      s"(CASE WHEN a.m${simhashBlocks + j} = b.m${simhashBlocks + j} " +
        "THEN 1 ELSE 0 END)").mkString(" + ")
    s"""ms AS MATERIALIZED (
          SELECT doc_id,
                      $minsSel,
                      list_distinct(gh) AS dg
                FROM (SELECT doc_id,
                             list_transform(
                               range(1, octet_length(encode(text))
                                        - $k + 2),
                               i -> $chain) AS gh
                      FROM $aug
                      WHERE octet_length(encode(text)) >= $minB)),
        $widthCtes
        mp AS (SELECT doc_a, doc_b, n_match_blocks, jaccard FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST($matches AS INT) AS n_match_blocks,
                 CAST($sketch AS INT) AS sk,
                 CAST(len(list_intersect(a.dg, b.dg)) AS DOUBLE)
                   / (len(a.dg) + len(b.dg)
                      - len(list_intersect(a.dg, b.dg))) AS jaccard
          FROM ms a JOIN ms b ON a.doc_id < b.doc_id
               CROSS JOIN bwidth) z
          WHERE n_match_blocks >= ${confInt(MinhashMinBlocksKey, 2)}
            AND sk >= $MediaSketchFloor
            AND jaccard >= $MediaJaccardTau)"""
  }

  /** d09: duplicate-CLUSTER resolution — connected components over the LSH
    * candidate graph, the step that turns pairwise candidates (d03) into the
    * actual dedup decision: every document maps to `cluster_id` = the minimum
    * doc_id reachable through candidate pairs (its own id when it has no
    * near-duplicate), so `doc_id = cluster_id` marks the one representative a
    * training pipeline keeps per duplicate group.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING — each
    * round a node takes `min(label, labels of neighbors, label(label))`. The
    * `label(label)` hop doubles the propagation distance per round, giving
    * O(log diameter) rounds (the same doubling trick as the published
    * large-star/small-star map-reduce CC algorithm) instead of O(diameter).
    * Each round is two shuffle equi-joins + one min-aggregation — no
    * collect, no driver-side graph; the driver only runs the O(log n)
    * convergence loop and a scalar changed-count per round (the standard
    * shape of iterative graph algorithms, cf. GraphX/Pregel supersteps).
    * Each round ends in an EAGER `localCheckpoint`: without it the round-N
    * logical plan references round N-1's plan four times (propagate, jump
    * twice, convergence check) and the tree grows 4^N nodes — the classic
    * iterative-lineage explosion. Checkpointing truncates the plan to the
    * materialized blocks, so analysis cost stays O(1) per round and memory
    * O(|V|) — at 100 TB the label relation is 2 longs/doc, tiny next to the
    * corpus (a cluster job would use reliable `checkpoint()` to survive
    * executor loss), and near-duplicate components are small by construction
    * so convergence is 2–3 rounds.
    */
  def duplicateClusters(docs: DataFrame): DataFrame = {
    // Edge construction: per-bucket STAR, not the d03 pairwise clique.
    // Connectivity is identical — every clique edge (a,b) means a and b
    // share a bucket, so both have a star edge to that bucket's min member
    // (itself in the bucket), giving the path a—min—b; star edges connect
    // only same-bucket docs, so no new connections appear. Components (and
    // hence every cluster_id = min reachable) are therefore EQUAL to the
    // pairwise graph's, which is what the recursive-CTE oracle closes over.
    // Cost is the difference: |B|−1 edges per bucket instead of
    // |B|·(|B|−1)/2, so a mass-duplicated boilerplate bucket (the 100 TB
    // hazard — one text × 10⁶ copies in ONE bucket) costs 10⁶ edge rows,
    // not 5·10¹¹. The bucket-min comes from a map-side-combining groupBy
    // (a hot bucket never piles onto one task) and joins back on the
    // near-uniform bucket key (1 root row per key — AQE skew-split
    // friendly), shuffle-hash pinned on the compact roots side for the
    // same reason as lshPairs.
    val sig = graft.util.Caches.retain(minhash(docs))
    val banded = bandedSignatures(sig)
    val roots = banded.groupBy("band", "h1", "h2")
      .agg(min("doc_id").as("root")).hint("shuffle_hash")
    val star = banded.join(roots, Seq("band", "h1", "h2"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("src"), col("root").as("dst"))
      .distinct()
    val edges = star
      .union(star.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    // Fused round 0: every edge node starts at min(self, direct neighbors) —
    // one aggregation over the (already symmetrized) edge list replaces the
    // distinct-node init AND the whole first propagation round.
    var labels = edges.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("doc"), least(col("src"), col("mn")).as("comp"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      // The self arm doubles as the change detector: it alone carries a
      // non-null `prev`, so min(prev) in the ONE aggregation below recovers
      // each node's previous label and the per-round convergence check is a
      // narrow filter+count over the checkpointed result — no extra join job.
      val self = labels.select(col("doc"), col("comp"),
        col("comp").as("prev"))
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc", "src"), "src")
        .select(col("dst").as("doc"), col("comp"),
          lit(null).cast("long").as("prev"))
      val viaJump = labels
        .join(labels.select(col("doc").as("comp"), col("comp").as("comp2")),
          "comp")
        .select(col("doc"), col("comp2").as("comp"),
          lit(null).cast("long").as("prev"))
      val next = self.union(viaEdges).union(viaJump)
        .groupBy("doc").agg(min("comp").as("comp"), min("prev").as("prev"))
        .localCheckpoint(true)
      changed = next.filter(col("comp") < col("prev")).count()
      labels = next.select("doc", "comp")
      rounds += 1
    }
    val assigned = labels
      .select(col("doc").as("doc_id"), col("comp").as("cluster_id"))
    docs.select("doc_id").join(assigned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Oracle CTE chain ending in `clusters(doc_id, cluster_id)`: min
    * reachable doc over the symmetrized pair graph via a recursive CTE
    * (transitive closure is affordable at oracle SF because near-dup
    * components are tiny), defaulting unpaired docs to themselves.
    */
  private def clusterCtes: String =
    s"""sig AS ($minhashSql),
        pairs AS ($lshArmsSql),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach(doc, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src
        ),
        clusters AS (
          SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT doc, min(r) AS cluster_id
                     FROM reach GROUP BY doc) m
            ON d.doc_id = m.doc)"""

  def duplicateClustersSql: String =
    s"WITH RECURSIVE $clusterCtes SELECT doc_id, cluster_id FROM clusters"

  /** d10: the final dedup DECISION — one kept representative per duplicate
    * cluster, chosen by QUALITY (t02's score) rather than d09's min-id
    * convention, with doc_id as the deterministic tie-break. This is the
    * step a training pipeline actually ships: cluster (d09) → rank members
    * by quality → keep the best, recording cluster size for telemetry.
    *
    * Scale shape: the cluster relation is 2 longs/doc and the quality
    * relation is per-row compute over the corpus (no shuffle); the only
    * exchange beyond d09's rounds is the per-cluster rank — a window over
    * (cluster_id), partition-pruned to ONE shuffle of (2 longs + 1 double)
    * per doc. Ties in quality break on doc_id, so the result is
    * partitioning-independent.
    */
  def bestPerCluster(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = duplicateClusters(docs)
    val quality = TextOps.quality(docs).select(col("doc_id"),
      col("quality_score"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("quality_score").as("keep_quality"), col("n_members"))
  }

  def bestPerClusterSql: String =
    s"""WITH RECURSIVE $clusterCtes,
            q AS (${TextOps.qualitySql})
        SELECT cluster_id, doc_id AS keep_id, quality_score AS keep_quality,
               n_members
        FROM (SELECT c.cluster_id, c.doc_id, q.quality_score,
                     ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                        ORDER BY q.quality_score DESC,
                                                 c.doc_id) AS rn,
                     CAST(COUNT(*) OVER (PARTITION BY c.cluster_id)
                          AS BIGINT) AS n_members
              FROM clusters c JOIN q ON c.doc_id = q.doc_id)
        WHERE rn = 1"""

  /** d11: INCREMENTAL dedup — the production shape: a corpus snapshot is
    * already deduped, a new batch arrives, and only new docs that don't
    * near-collide with the snapshot are admitted (new-vs-new dups are kept;
    * they resolve in the next snapshot dedup). Old = doc_id % 10 < 8, new =
    * the rest (a deterministic 80/20 split standing in for snapshot/batch).
    *
    * Scale shape: the snapshot side is the persisted band-bucketed signature
    * relation (the d03 layout — at 100 TB it's band-partitioned parquet, so
    * the probe is partition-local); the batch probes it with ONE semi-join
    * on the band keys and the admit set is a left-anti against the flagged
    * ids — no pair materialization, no O(old × new) anything.
    */
  def incrementalKeep(docs: DataFrame): DataFrame = {
    val sig = graft.util.Caches.retain(minhash(docs))
    val banded = bandedSignatures(sig)
    val oldB = banded.filter(col("doc_id") % 10 < 8)
      .select(col("band").as("band_o"), col("h1").as("h1o"),
        col("h2").as("h2o")).hint("shuffle_hash")
    val newB = banded.filter(col("doc_id") % 10 >= 8)
    val flagged = newB.join(oldB,
        col("band") === col("band_o") && col("h1") === col("h1o") &&
          col("h2") === col("h2o"), "left_semi")
      .select("doc_id").distinct()
    sig.filter(col("doc_id") % 10 >= 8).select("doc_id")
      .join(flagged, Seq("doc_id"), "left_anti")
  }

  def incrementalKeepSql: String = {
    val collide = bands.map { case (x, y) =>
      s"(n.mh$x = o.mh$x AND n.mh$y = o.mh$y)"
    }.mkString(" OR ")
    s"""WITH sig AS ($minhashSql)
        SELECT n.doc_id FROM sig n
        WHERE n.doc_id % 10 >= 8
          AND NOT EXISTS (SELECT 1 FROM sig o
                          WHERE o.doc_id % 10 < 8 AND ($collide))"""
  }

  /** Embedding-cosine near-duplicates: label-blocked pair join over a
    * deterministic sample, sequential-fold double cosine (bit-exact vs the
    * oracle), threshold 0.3 (calibrated to the corpus: random-ish 64-dim embeddings peak near cos 0.5, so 0.3 marks the most-similar tail at every SF). Blocking key = label (stand-in for an ANN
    * bucket) keeps the join linear-ish in cluster size, not O(n²).
    */
  def embedNearDup(embeddings: DataFrame): DataFrame = {
    val e = embeddings.filter(col("vec_id") % 4 === 0)
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
      col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
      col("embedding").as("eb"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", call("graft_cos", col("ea"), col("eb")))
      .filter(col("cos_sim") > 0.3)
      .select("vec_a", "vec_b", "cos_sim")
  }

  def embedNearDupSql: String = {
    val dot = Similarity.duckDot("a.embedding", "b.embedding")
    val na  = Similarity.duckDot("a.embedding", "a.embedding")
    val nb  = Similarity.duckDot("b.embedding", "b.embedding")
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ($dot) / (sqrt($na) * sqrt($nb)) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE a.vec_id % 4 = 0 AND b.vec_id % 4 = 0
          AND ($dot) / (sqrt($na) * sqrt($nb)) > 0.3"""
  }

  /** Embedding near-dup with LSH-BUCKET blocking (d06's label blocking kept
    * a data-dependent O(n²/blocks) within a block; here the block is the
    * 8-bit random-hyperplane bucket — 256 near-uniform cells REGARDLESS of
    * how the data clusters, and cosine-similar vectors agree on hyperplane
    * signs with high probability, so the recall loss is the standard LSH
    * trade). Full corpus, no sampling. At 100 TB the bucket becomes a
    * parquet partition column and candidate generation is partition-local;
    * the shuffled hash join mirrors d03's scale-honest shape.
    */
  /** Conf key: hyperplane count for d07's LSH cells. At FIXED bits the
    * cell count is fixed (2^bits), so within-cell candidate pairs grow
    * QUADRATICALLY with the corpus — measured at the 100× checkpoint:
    * 256 cells over 200k vectors = 42.6 s of pair generation where 12
    * bits (4,096 cells) does the same recall-profile blocking in a few
    * seconds. Bits should grow ~log2(corpus) to hold cell occupancy flat;
    * higher-bit cells strictly REFINE lower-bit cells (shared low planes,
    * VecOps.lshBucket), so raising bits only drops candidate pairs, never
    * invents them. Default 8 = the declared oracle contract.
    */
  val HyperplaneBitsKey = "spark.graft.dedup.hyperplaneBits"

  def embedNearDupLsh(embeddings: DataFrame): DataFrame = {
    // resolveBits fails fast on a nonsense width instead of degrading
    // silently: bits <= 0 puts EVERY vector in cell 0 (the self-join
    // degenerates to the full n² cartesian this operator exists to avoid),
    // and bits > 30 overflows the Int bucket (1 << 31 flips the sign;
    // 1 << 32 wraps to bit 0, breaking the refinement law the spec pins).
    val bits = resolveBits(embeddings, 8)
    // Same pairwise-blocking posture as lshPairs/simhashPairs: a
    // mass-duplicated embedding floods one hyperplane cell, and the
    // optional MaxBucketSizeKey cap excludes over-cap cells from pair
    // generation (default off — oracle hashes unchanged). Retained like
    // lshPairs' sig: the self-join reads it twice (plus the hot-bucket
    // aggregation when the cap is on), and the bucket projection is a
    // full-corpus hyperplane pass worth computing once.
    val e = applyBucketCap(graft.util.Caches.retain(embeddings
      .withColumn("bucket", call("graft_lsh_bucket", col("embedding"), lit(bits)))),
      Seq("bucket"))
    val a = e.select(col("vec_id").as("vec_a"), col("bucket"),
      col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("bucket").as("bucket_b"),
      col("embedding").as("eb")).hint("shuffle_hash")
    a.join(b, col("bucket") === col("bucket_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", call("graft_cos", col("ea"), col("eb")))
      .filter(col("cos_sim") > 0.3)
      .select("vec_a", "vec_b", "bucket", "cos_sim")
  }

  /** Oracle twin of [[embedNearDupLsh]] — the bucket width resolves from
    * the SAME conf knob the engine reads, at generation time (the
    * kmeansCells precedent applied to hyperplaneBits).
    */
  def embedNearDupLshSql: String = {
    val dot = Similarity.duckDot("a.embedding", "b.embedding")
    val na  = Similarity.duckDot("a.embedding", "a.embedding")
    val nb  = Similarity.duckDot("b.embedding", "b.embedding")
    val bits = confInt(HyperplaneBitsKey, 8)
    s"""WITH e AS (SELECT vec_id, embedding,
                          ${Similarity.duckBucket("embedding", bits)} AS bucket
                   FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
               ($dot) / (sqrt($na) * sqrt($nb)) AS cos_sim
        FROM e a JOIN e b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ($dot) / (sqrt($na) * sqrt($nb)) > 0.3"""
  }

  /** d17: SEMANTIC dedup (the SemDeDup shape): block by LEARNED k-means
    * cells (x11's 2-round Lloyd assignment) instead of d07's
    * data-independent hyperplane cells, then admit one representative per
    * within-cell near-dup neighborhood — each pruned vector points at its
    * lowest-id close neighbor (`rep_id`; kept vectors point at themselves).
    * One-hop admission by design: transitive-closure resolution is d09's
    * job; this is the per-cell greedy pass the SemDeDup recipe runs.
    *
    * τ = 0.3 matches d07's declared contract on this corpus (synthetic
    * near-orthogonal embeddings top out at cos ≈ 0.48; a real corpus runs
    * τ ≈ 0.95) — the threshold and k are the operator's knobs.
    *
    * Scale: the assignment relation reuses x11's broadcast-centroid
    * map-side shape (corpus never hash-exchanges to get its cell); the
    * pairwise stage inherits the d03/d07 posture — shuffled-hash self-join
    * on the cell key, optional MaxBucketSizeKey cap against hot cells, and
    * k must grow ~n/target_occupancy within the enforced [1, 65536] range
    * (the graft_centroids buffer is k·dim·8 bytes — 32 MiB at the k cap
    * with dim 64, half a GiB at dim 1024, which is why the cap exists:
    * past it the one-row broadcast itself becomes the bottleneck and the
    * quantizer belongs in a partitioned two-level index instead).
    */
  /** Conf key: k-means cell count for d17's blocking (default 8 = the
    * declared oracle contract). Like d07's hyperplaneBits, this is the
    * corpus-growth knob: in-cell candidate pairs grow quadratically at
    * fixed k, so k should track n/target_occupancy. Unlike LSH bits,
    * raising k re-TRAINS the cells rather than refining them — pair sets
    * at different k are different blockings, not subsets (measured at the
    * 100× checkpoint in BASELINE.md).
    */
  val KmeansCellsKey = "spark.graft.dedup.kmeansCells"

  /** The knob value the ORACLE-SQL generators must agree with: the active
    * session's conf (the gate runs inside Verify's session, after the
    * session exists) falling back to the declared default. Without this the
    * engine read the conf at plan-build while the SQL was generated with a
    * frozen default — running the gate with the knob set silently diverged
    * engine vs oracle (round-9 advice). `auto` (see [[autoCells]]) is a
    * production-only mode: it needs the corpus count, which a standalone
    * SQL string cannot see, so the generators keep the declared default and
    * the gate must not run with `auto` set.
    */
  /** The knob value the oracle generators read: the thread-local active
    * session's conf, falling back to the process-wide default session. The
    * fallback matters for generation off the session's own thread (parallel
    * test runners, background dispatch): getActiveSession alone is None
    * there, which would silently freeze the declared default while the
    * engine reads the knob from df.sparkSession — exactly the engine-vs-
    * oracle drift the conf threading exists to prevent.
    *
    * When BOTH sessions exist and DISAGREE on the key, generation fails
    * loudly instead of picking one: with multiple sessions alive the
    * generator cannot know which session the engine query will run under,
    * and a silent choice is the narrowed-but-real drift window round-11
    * advice flagged. (Engine-side readers never face this — resolveCells/
    * resolveBits thread df.sparkSession directly.)
    */
  private def knobValue(key: String): Option[String] = {
    val act = org.apache.spark.sql.SparkSession.getActiveSession
    val dfl = org.apache.spark.sql.SparkSession.getDefaultSession
    val a = act.flatMap(_.conf.getOption(key))
    val d = dfl.flatMap(_.conf.getOption(key))
    // Two DISTINCT live sessions that EXPLICITLY set conflicting values is
    // inherently ambiguous: fail loudly instead of choosing. Set-on-one /
    // unset-on-the-other is NOT a conflict (round-12 advice): the common
    // builder.getOrCreate + newSession shape sets the knob only on the
    // session actually running the query, and hard-failing there broke
    // oracle generation for a configuration the engine resolves fine.
    if (a.isDefined && d.isDefined && a != d
        && !act.exists(s => dfl.exists(_ eq s)))
      throw new IllegalStateException(
        s"$key reads '${a.get}' on the active session " +
          s"but '${d.get}' on the default session: " +
          "oracle generation cannot know which one the engine query runs " +
          "under — set the knob identically or use one session")
    // Value-level precedence: the active session's explicit value wins;
    // an unset active session falls through to the default session — the
    // only other place an engine df's session could have read it.
    a.orElse(d)
  }

  private[graft] def confInt(key: String, default: Int): Int =
    knobValue(key)
      .filter(_ != "auto")
      .map(_.toInt).getOrElse(default)

  private[graft] def confIsAuto(key: String): Boolean =
    knobValue(key).contains("auto")

  /** Raw knob read for generators whose knobs aren't Int-valued (p15's
    * byte budget) — same active/default-session resolution as confInt.
    */
  private[graft] def confStr(key: String): Option[String] = knobValue(key)

  /** Oracle-gate guard for the `auto` knob mode: `auto` derives its value
    * from a corpus count the standalone SQL string cannot see, so a gate
    * run with it set can only pass by coincidence (at sf0.1 the derived
    * k happens to equal the default — the silent case the round-10
    * review flagged). When any listed knob reads `auto`, the generated
    * oracle is replaced by a DuckDB `error()` call that names the
    * contract, so the affected queries fail LOUDLY and only they do.
    */
  private[graft] def guardAuto(keys: String*)(sql: => String): String =
    keys.find(confIsAuto) match {
      case Some(k) => s"SELECT error('$k=auto is a production mode: the " +
        "oracle gate requires the knob unset or numeric')"
      case None => sql
    }

  /** Auto-sizing targets for the two blocking knobs. Both knobs accept the
    * literal `auto`: one cheap corpus count derives the value that holds
    * cell occupancy (and hence in-cell pairwise cost) flat as the corpus
    * grows — the round-9 "manual knob" footgun, retired. The count is a
    * deliberate plan-build-time action (a parquet row count is a metadata
    * sum, not a scan) and the derived value is logged for provenance.
    *
    *   - k-means cells: k = ceil(n / 256) clamped to [1, 65536]. 256
    *     members/cell ≈ 32k candidate pairs per cell — comfortably inside
    *     one task at any scale.
    *   - hyperplane bits: bits = ceil(log2(n / 16)) clamped to [1, 30] —
    *     at the 100× checkpoint (n = 200k) this derives 14 bits, the value
    *     BASELINE.md measured as the flat-occupancy point (42.6 s → 2.3 s
    *     vs the fixed 8-bit default).
    *
    * `auto` is a PRODUCTION mode: the declared oracle contracts stay at
    * the fixed defaults (a standalone oracle SQL string cannot count the
    * corpus), so the correctness gate must run with the knobs unset or
    * explicitly numeric.
    */
  val CellOccupancyTarget = 256L
  val HyperplaneOccupancyTarget = 16L

  /** Overflow-proof ceil(n / d) for non-negative n (n + d - 1 wraps at
    * Long.MaxValue and would derive k = 1 for the largest corpora).
    */
  private def ceilDiv(n: Long, d: Long): Long =
    n / d + (if (n % d > 0) 1L else 0L)

  private[graft] def autoCells(n: Long): Int =
    math.min(65536L, math.max(1L, ceilDiv(n, CellOccupancyTarget))).toInt

  private[graft] def autoBits(n: Long): Int = {
    val cells = math.max(1L, ceilDiv(n, HyperplaneOccupancyTarget))
    // ceil(log2(cells)), clamped to the Int-bucket-safe range d07 requires
    math.min(30, math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)))
  }

  private def logDerived(key: String, n: Long, v: Int): Unit =
    graft.util.Log.info(s"$key=auto derived $v from corpus count $n")

  /** k-means cell count for `df`: numeric conf wins, `auto` derives from a
    * corpus count, unset keeps the declared default (the oracle contract).
    */
  private[graft] def resolveCells(df: DataFrame, default: Int): Int = {
    val conf = df.sparkSession.conf.get(KmeansCellsKey, default.toString)
    val k =
      if (conf == "auto") {
        // memoCount (round-19, ADVICE r18): a composed query resolves the
        // same corpus plan several times; one counting scan, not three.
        val n = graft.util.Caches.memoCount(df)
        val v = autoCells(n); logDerived(KmeansCellsKey, n, v); v
      } else conf.toInt
    // The 65536 ceiling is a NAMED refuse-with-message contract (round-15
    // verdict item 7), not a driver-flops bound: the k-means|| recluster
    // recurses distributed above ReclusterMaxK, so cell-count cost no
    // longer ceilings at the driver. What remains bounded is the serving
    // ARTIFACT: every assign/probe broadcasts the 1-row cents relation
    // (k·dim·8 B ≈ 34 MB at 65536 over 64 dims) to every task — beyond
    // that, per-task centroid scans and executor broadcast memory, not
    // training, are the limit, and the right design changes shape
    // (hierarchical cells — the x16 two-level family — or a partitioned
    // centroid join). Refusing loudly here beats degrading silently.
    require(k >= 1 && k <= 65536,
      s"$KmeansCellsKey=$k out of range [1, 65536]: above the ceiling the " +
        "1-row centroid broadcast (k*dim*8 bytes) stops being a sane " +
        "per-task artifact; use the two-level family (x16/d19) to go wider")
    k
  }

  /** Hyperplane count for d07's LSH cells: same resolution contract. */
  private[graft] def resolveBits(df: DataFrame, default: Int): Int = {
    val conf = df.sparkSession.conf.get(HyperplaneBitsKey, default.toString)
    val bits =
      if (conf == "auto") {
        val n = graft.util.Caches.memoCount(df)
        val v = autoBits(n); logDerived(HyperplaneBitsKey, n, v); v
      } else conf.toInt
    require(bits >= 1 && bits <= 30,
      s"$HyperplaneBitsKey=$bits out of range [1, 30]; cells = 2^bits " +
        "must fit a positive Int, and 0 cells is the quadratic hazard")
    bits
  }

  def semanticDedup(embeddings: DataFrame, kDefault: Int = 8, iters: Int = 2,
      tau: Double = 0.3): DataFrame = {
    val k = resolveCells(embeddings, kDefault)
    val assigned = graft.util.Caches.retainCheckpointed(
      Similarity.kmeansAssign(embeddings, k, iters)
        .select(col("vec_id"), col("e"), col("cluster")))
    admitWithin(assigned, Seq("cluster"), tau)
  }

  /** The shared d17/d19 admission body: within-block pairwise cos > τ,
    * one-hop lowest-id admission, over ANY (vec_id, e, blocking cols)
    * relation — the blocking key list is the only difference between the
    * flat-cell and two-level operators, so the cap posture / tie-break /
    * admission-base contract live in exactly one place (the round-10
    * review's duplication finding).
    *
    * Admission base is the FULL relation, not the capped one: the cap
    * excludes over-cap blocks from PAIR GENERATION only (their members
    * come through unpruned, matching d07's cap contract) — every vector
    * gets exactly one admission row regardless of cap setting.
    */
  private[graft] def admitWithin(rel: DataFrame, keyCols: Seq[String],
      tau: Double): DataFrame = {
    val capped = applyBucketCap(rel, keyCols)
    val a = capped.select(col("vec_id").as("vec_a") +:
      keyCols.map(col) :+ col("e").as("ea"): _*)
    val b = capped.select(col("vec_id").as("vec_b") +:
      keyCols.map(c => col(c).as(s"${c}_b")) :+ col("e").as("eb"): _*)
      .hint("shuffle_hash")
    val cond = keyCols.map(c => col(c) === col(s"${c}_b"))
      .reduce(_ && _) && col("vec_a") < col("vec_b")
    val pruned = a.join(b, cond)
      .withColumn("cos_sim", call("graft_cos", col("ea"), col("eb")))
      .filter(col("cos_sim") > tau)
      .groupBy(col("vec_b").as("vec_id")).agg(min("vec_a").as("dup_of"))
    rel.select(col("vec_id") +: keyCols.map(col): _*)
      .join(pruned, Seq("vec_id"), "left_outer")
      .select(col("vec_id") +: keyCols.map(col) :+
        coalesce(col("dup_of"), col("vec_id")).as("rep_id") :+
        col("dup_of").isNotNull.cast("int").as("is_pruned"): _*)
  }

  /** Oracle twin of [[semanticDedup]]. The default k is resolved from the
    * SAME conf knob the engine reads, at generation time (see [[confInt]]),
    * so a numeric [[KmeansCellsKey]] keeps engine and oracle in lockstep.
    */
  def semanticDedupSql(k: Int = confInt(KmeansCellsKey, 8), iters: Int = 2,
      tau: Double = 0.3): String =
    s"""WITH ${Similarity.kmeansAssignCtes(k, iters)},
             pr AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
                    FROM a$iters a JOIN a$iters b
                      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                    WHERE ${Similarity.duckCos("a.e", "b.e")} > $tau
                    GROUP BY b.vec_id)
        SELECT z.vec_id, z.cluster,
               coalesce(pr.dup_of, z.vec_id) AS rep_id,
               CAST(pr.vec_id IS NOT NULL AS INT) AS is_pruned
        FROM a$iters z LEFT JOIN pr ON z.vec_id = pr.vec_id"""

  /** d19: semantic dedup over the TWO-LEVEL cells — d17 with x16's
    * (c1, c2) blocking key, completing the crossover fix for the dedup
    * side (where the pain was measured: d17 at flat k=782 cost 118 s at
    * the 100× point, dominated by the O(n·k·dim) assignment; the
    * two-level assignment is O(n·(k1+k2)·dim) for the same k1·k2
    * blocking granularity). Same one-hop min-id admission contract as
    * d17; the hot-cell cap applies to the compound (c1, c2) key.
    */
  def semanticDedupTwoLevel(embeddings: DataFrame, k1Default: Int = 8,
      k2: Int = 8, iters: Int = 2, tau: Double = 0.3): DataFrame =
    admitWithin(Similarity.twoLevelCells(embeddings, k1Default, k2, iters),
      Seq("c1", "c2"), tau)

  def semanticDedupTwoLevelSql(k1: Int = confInt(KmeansCellsKey, 8),
      k2: Int = 8, iters: Int = 2, tau: Double = 0.3): String =
    s"""WITH ${Similarity.twoLevelCellsCtes(k1, k2, iters)},
             pr AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
                    FROM cells a JOIN cells b
                      ON a.c1 = b.c1 AND a.c2 = b.c2
                        AND a.vec_id < b.vec_id
                    WHERE ${Similarity.duckCos("a.e", "b.e")} > $tau
                    GROUP BY b.vec_id)
        SELECT z.vec_id, z.c1, z.c2,
               coalesce(pr.dup_of, z.vec_id) AS rep_id,
               CAST(pr.vec_id IS NOT NULL AS INT) AS is_pruned
        FROM cells z LEFT JOIN pr ON z.vec_id = pr.vec_id"""

  /** d18's engine body: planted-duplicate PRECISION/RECALL for d17 (d14's
    * protocol applied to the semantic-dedup blocking) — the shippability
    * number for the learned quantizer's blocking: does a vector's true
    * near-duplicate land in the same k-means cell?
    *
    * Protocol: a bounded eval slice (vec_id < 100) is augmented with an
    * EXACT planted copy of every vector (vec_id + 10000 — cos 1.0 to its
    * original, and identical inputs assign to identical cells, so a missed
    * plant can only mean a blocking bug, while the organic τ-exceeding
    * pairs probe real cell-split loss). Truth = all pairs in the slice
    * with cos > τ (deliberately O(slice²) — the slice is the knob, d14's
    * discipline); engine prediction = d17's is_pruned over the augmented
    * slice. Precision is structurally 1.0 — d17 prunes only on a verified
    * within-cell cos > τ pair, so every pruned vector IS truth — and the
    * row proves it; recall < 1.0 measures exactly the pairs the cell
    * blocking separates.
    */
  def semanticEval(embeddings: DataFrame, tau: Double = 0.3): DataFrame =
    evalAgainstTruth(embeddings, tau)(aug =>
      semanticDedup(aug, tau = tau)
        .filter(col("is_pruned") === 1).select("vec_id"))

  /** d20: the same planted-duplicate protocol for d19's TWO-LEVEL
    * blocking — every blocking scheme ships with its gate (d14 for the
    * MinHash bands, d18 for the flat cells, this for the (c1, c2)
    * product cells). Product cells are a strictly finer partition than
    * either level alone, so recall here lower-bounds what a production
    * two-level dedup gives up vs the flat blocking at equal granularity.
    */
  def semanticEvalTwoLevel(embeddings: DataFrame, k2: Int = 8,
      tau: Double = 0.3): DataFrame =
    evalAgainstTruth(embeddings, tau)(aug =>
      semanticDedupTwoLevel(aug, k2 = k2, tau = tau)
        .filter(col("is_pruned") === 1).select("vec_id"))

  /** Shared d18/d20 protocol body: bounded slice + planted exact copies,
    * all-pairs cos > τ truth, P/R of `prunedOf(aug)` against it.
    */
  private def evalAgainstTruth(embeddings: DataFrame, tau: Double)(
      prunedOf: DataFrame => DataFrame): DataFrame = {
    val slice = graft.util.Caches.retain(embeddings
      .filter(col("vec_id") < 100).select("vec_id", "embedding"))
    val aug = slice.unionByName(slice.select(
      (col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val a = aug.toDF("va", "ea")
    val b = aug.toDF("vb", "eb")
    val truth = a.join(b, col("va") < col("vb"))
      .filter(call("graft_cos", col("ea"), col("eb")) > tau)
      .select(col("vb").as("vec_id")).distinct()
    val pruned = prunedOf(aug)
    val ct = truth.agg(count(lit(1)).as("n_truth"))
    val cp = pruned.agg(count(lit(1)).as("n_pruned"))
    val ch = pruned.join(truth, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    ct.crossJoin(cp).crossJoin(ch).select(
      col("n_truth"), col("n_pruned"), col("n_hit"),
      when(col("n_pruned") > 0,
        col("n_hit").cast("double") / col("n_pruned")).as("precision"),
      when(col("n_truth") > 0,
        col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** Shared d18/d20 oracle fragments: the planted-slice + truth CTEs and
    * the P/R counts select (referencing CTEs `truth` and `pr`).
    */
  private def evalAugTruthCtes(tau: Double): String =
    s"""aug AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id < 100
                UNION ALL
                SELECT vec_id + 10000 AS vec_id, embedding
                FROM embeddings WHERE vec_id < 100),
        truth AS (SELECT DISTINCT b.vec_id
                  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
                  WHERE ${Similarity.duckCos("a.embedding",
                    "b.embedding")} > $tau)"""

  private val evalCountsSelect: String =
    """SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
              (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_pruned,
              (SELECT CAST(count(*) AS BIGINT) FROM pr
               WHERE vec_id IN (SELECT vec_id FROM truth)) AS n_hit,
              CASE WHEN (SELECT count(*) FROM pr) > 0
                   THEN CAST((SELECT count(*) FROM pr
                              WHERE vec_id IN (SELECT vec_id FROM truth))
                             AS DOUBLE)
                        / (SELECT count(*) FROM pr) END AS precision,
              CASE WHEN (SELECT count(*) FROM truth) > 0
                   THEN CAST((SELECT count(*) FROM pr
                              WHERE vec_id IN (SELECT vec_id FROM truth))
                             AS DOUBLE)
                        / (SELECT count(*) FROM truth) END AS recall"""

  def semanticEvalSql(k: Int = confInt(KmeansCellsKey, 8), iters: Int = 2,
      tau: Double = 0.3): String =
    s"""WITH ${evalAugTruthCtes(tau)},
             ${Similarity.kmeansAssignCtes(k, iters, src = "aug")},
             pr AS (SELECT b.vec_id
                    FROM a$iters a JOIN a$iters b
                      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                    WHERE ${Similarity.duckCos("a.e", "b.e")} > $tau
                    GROUP BY b.vec_id)
        $evalCountsSelect"""

  def semanticEvalTwoLevelSql(k1: Int = confInt(KmeansCellsKey, 8),
      k2: Int = 8, iters: Int = 2, tau: Double = 0.3): String =
    s"""WITH ${evalAugTruthCtes(tau)},
             ${Similarity.twoLevelCellsCtes(k1, k2, iters, src = "aug")},
             pr AS (SELECT b.vec_id
                    FROM cells a JOIN cells b
                      ON a.c1 = b.c1 AND a.c2 = b.c2
                        AND a.vec_id < b.vec_id
                    WHERE ${Similarity.duckCos("a.e", "b.e")} > $tau
                    GROUP BY b.vec_id)
        $evalCountsSelect"""

  // ---- d21/d22: EXACT SUBSTRING dedup (token-span granularity) ----

  /** Span threshold for "docs share an exact substring": a shared run of
    * ≥ SpanN consecutive tokens. COMPLETENESS IS A THEOREM (the d15
    * discipline): a shared run of length L ≥ SpanN contains exactly
    * L − SpanN + 1 shared SpanN-grams, so gram blocking misses nothing —
    * and the matched gram POSITIONS recover the exact span length without
    * ever re-scanning a text pair.
    */
  val SpanN = 8

  /** d27/d28/s35's Bloom-gate geometry — the 100 TB scale path the s33
    * scaladoc promised ("at 100 TB the snapshot set becomes a bloom the
    * same expression probes"): the EXACT sorted gram-set artifact is
    * O(distinct grams × 8 B) and stops being broadcastable at a real
    * decontamination corpus; the Bloom is a FIXED 64 KiB word array
    * (BloomM bits) probed in O(BloomK) per distinct arrival gram, with no
    * false negatives by construction and a false-positive rate d28
    * MEASURES ((1−e^{−kn/m})^k: the eval snapshot carries 4,776 distinct
    * grams → ~3·10⁻⁹ at these constants; d28 measured 0 false positives
    * over 4,890 clean docs at sf0.1. The first probe family — affine in
    * the probe index with both coefficients derived from ONE mix —
    * measured 1.4-3.3%, about 10⁶× the ideal bound; the Kirsch–
    * Mitzenmacher double hash with two independent multiplicative mixes
    * closed that gap, and the d28 gate is what caught it. Production
    * sizes M at 10+ bits/gram from the snapshot's gram count). Probe positions are the
    * Kirsch–Mitzenmacher double hash (h1 + i·h2, two independent
    * multiplicative mixes — see TextHash.bloomHits) in plain BIGINT
    * arithmetic both engines evaluate
    * identically, so the filter CONTENT is oracle-exact — at production
    * scale M grows with the snapshot (10+ bits/gram) and the artifact
    * ships via s35's parquet lifecycle.
    */
  val BloomM = 524288
  val BloomK = 7
  val BloomBitsKey = "spark.graft.dedup.bloomBits"

  /** The knob's DEFAULT is `auto` (round-16, the resolveCells precedent
    * completed): a production snapshot's gram count dwarfs any constant a
    * hand knob could carry, and the derivation is now oracle-expressible
    * (see [[bloomCtes]] — the width CTE computes the same arithmetic from
    * the same gram set, so the gate runs hash-green with the knob unset).
    * A numeric conf still pins the width explicitly (the BloomM constant
    * remains the documented 64 KiB reference geometry).
    */
  val BloomBitsDefault = "auto"

  /** Bloom width for a snapshot: numeric conf wins, `auto` (the default)
    * derives 16 bits/DISTINCT-gram (rounded up to a 64-bit word, floored
    * at 4096) from ONE counting pass over the snapshot — the resolveCells
    * `auto` discipline applied to the filter size, so a production
    * snapshot whose gram count dwarfs the eval slice gets a
    * correctly-sized artifact without a hand knob. Designed FPR at
    * 16 bits/gram and k=7: (1−e^{−7/16})^7 ≈ 7·10⁻⁴ per PROBED GRAM —
    * a doc with g distinct grams reads maybe_contaminated falsely with
    * probability ≈ 1−(1−7e-4)^g (~3% at the eval slice's ~50 grams/doc;
    * d28 measures the realized rate every run). That is the designed
    * production posture: the Bloom pass is the cheap FIRST stage whose
    * flagged docs route to the exact gate (s33/s34) — the two-stage
    * decontamination shape — so the per-gram bound, not a per-doc zero,
    * is the contract. The PROBE side needs no knob at all: m = 64·|words|
    * is read from the artifact itself (kernel and oracle both), so serve
    * always matches build by construction.
    */
  private[graft] def resolveBloomBits(grams: DataFrame): Int = {
    val conf = grams.sparkSession.conf.get(BloomBitsKey, BloomBitsDefault)
    val m =
      if (conf == "auto") {
        val n = grams.count()
        val v = math.max(4096L, ((16L * n + 63L) / 64L) * 64L)
        require(v <= (1L << 30), s"$BloomBitsKey=auto derived $v > 2^30 " +
          "bits; size the artifact explicitly at this snapshot scale")
        logDerived(BloomBitsKey, n, v.toInt); v.toInt
      } else conf.toInt
    require(m >= 64 && m % 64 == 0,
      s"$BloomBitsKey=$m must be a positive multiple of 64")
    m
  }

  /** The snapshot's distinct SpanN-gram hash relation — the width
    * derivation's counting input and the artifact's build input.
    */
  private def snapshotGrams(snapshotDocs: DataFrame, n: Int): DataFrame =
    snapshotDocs
      .select(explode(call("graft_gram_chain", col("text"), lit(n))).as("g"))
      .distinct()

  /** The resolved width for a snapshot (conf or `auto`-derived) — p12
    * resolves ONCE here and builds base AND delta at the same m, so the
    * maintain-path OR can never pad mismatched word arrays (round-15
    * advice: under `auto`, per-input derivation gave base and delta
    * different widths and zip_with's null-pad turned the OR into silent
    * false negatives).
    */
  def bloomWidth(snapshotDocs: DataFrame, n: Int = SpanN): Int =
    resolveBloomBits(snapshotGrams(snapshotDocs, n))

  /** The 1-row Bloom word-array artifact over the snapshot's distinct
    * SpanN-gram hashes: k positions per gram → per-word bit_or → one
    * dense array<bigint> (order-free integer ORs — partition-stable).
    */
  def bloomArtifact(snapshotDocs: DataFrame, n: Int = SpanN): DataFrame = {
    val grams = snapshotGrams(snapshotDocs, n)
    bloomFromGrams(grams, resolveBloomBits(grams))
  }

  /** [[bloomArtifact]] at an EXPLICIT width — the maintenance path's form
    * (p12): the delta artifact must be built at the base artifact's m for
    * the word-wise OR to be the exact set union.
    */
  def bloomArtifactAt(snapshotDocs: DataFrame, m: Int,
      n: Int = SpanN): DataFrame = {
    require(m >= 64 && m % 64 == 0,
      s"bloom width $m must be a positive multiple of 64")
    bloomFromGrams(snapshotGrams(snapshotDocs, n), m)
  }

  private def bloomFromGrams(grams: DataFrame, m: Int): DataFrame = {
    val P = PortableHash.P
    graft.util.Caches.retainCheckpointed(grams
      .select(explode(expr(
        s"transform(sequence(0, ${BloomK - 1}), i -> " +
          s"((g % $P) * 2654435761 % $P + " +
          s"CAST(i AS BIGINT) * (((g % $P) * 1099087573 % $P) | 1)) " +
          s"% $P % $m)"))
        .as("p"))
      .select(expr("CAST(p DIV 64 AS INT)").as("w"),
        expr("CAST(p % 64 AS INT)").as("b"))
      .groupBy("w")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("bits"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("wm"))
      .select(expr(s"transform(sequence(0, ${m / 64 - 1}), w -> " +
        "coalesce(element_at(wm, CAST(w AS INT)), CAST(0 AS BIGINT)))")
        .as("bloom")))
  }

  /** The gate transform (batch d27 and stream s35 share it — the s33/s34
    * pairing): one compiled gram pass + one Bloom probe per row against
    * the broadcast word array; stateless, shuffle-free.
    */
  def bloomGateXform(bloomRow: DataFrame, n: Int = SpanN)(
      src: DataFrame): DataFrame = {
    src.crossJoin(broadcast(bloomRow))
      .select(col("doc_id"),
        when(size(split(col("text"), " ")) >= n,
          call("graft_bloom_hits", call("graft_gram_chain", col("text"), lit(n)),
            col("bloom"), lit(BloomK)))
          .otherwise(lit(0)).as("n_maybe_grams"))
      .withColumn("maybe_contaminated", col("n_maybe_grams") > 0)
  }

  /** DuckDB twin of [[bloomArtifact]] as CTEs ending in `bloom(bl)`, plus
    * the per-gram probe predicate builder — shared by the d27/d28/s35
    * oracles so the filter geometry lives in exactly one place.
    */
  private[graft] def bloomCtes(n: Int = SpanN,
      snapshotWhere: String = "doc_id < 100",
      widthWhere: Option[String] = None): String = {
    val P = PortableHash.P
    // generation-time conf resolution (the d17 discipline). A NUMERIC
    // knob inlines as a literal; `auto` (the default) emits the width
    // DERIVATION as SQL — greatest(4096, ((16·|distinct grams| + 63) //
    // 64) · 64), the exact resolveBloomBits arithmetic over the exact
    // same gram set — so the gate is hash-green with the knob unset (the
    // round-15 "flip the default to auto" item; guardAuto no longer
    // applies to this knob). `widthWhere` sizes the filter from a
    // DIFFERENT slice than it is built over — p12's maintenance contract,
    // where base and delta both build at the BASE snapshot's m.
    val conf = knobValue(BloomBitsKey).getOrElse(BloomBitsDefault)
    val auto = conf == "auto"
    val mNum = if (auto) 0 else conf.toInt
    val chain = (1 until n).foldLeft("th[i]")((acc, j) =>
      s"(($acc) * 31 + th[i + $j]) % $P")
    val widthSrc = widthWhere match {
      case Some(w) if w != snapshotWhere =>
        s"""bwg AS (SELECT DISTINCT $chain AS g
               FROM bth, UNNEST(range(1, len(th) - ${n - 2})) AS u(i)
               WHERE $w AND len(th) >= $n),
        """
      case _ => ""
    }
    val widthFrom =
      if (widthWhere.exists(_ != snapshotWhere)) "bwg" else "bg"
    val widthCte =
      if (auto)
        s"""${widthSrc}bwidth AS (SELECT greatest(4096,
                 ((16 * count(*) + 63) // 64) * 64) AS mb
               FROM $widthFrom),
        """
      else ""
    val mExpr = if (auto) "mb" else mNum.toString
    val mWords = if (auto) "CAST(mb // 64 AS BIGINT)" else (mNum / 64).toString
    val bpFrom = if (auto) "bg, bwidth" else "bg"
    val bloomFrom = if (auto) "bm, bwidth" else "bm"
    s"""bth AS MATERIALIZED (SELECT doc_id,
                ${PortableHash.duckTokenHashes} AS th
              FROM documents),
        bg AS (SELECT DISTINCT $chain AS g
               FROM bth, UNNEST(range(1, len(th) - ${n - 2})) AS u(i)
               WHERE $snapshotWhere AND len(th) >= $n),
        ${widthCte}bp AS (SELECT DISTINCT
                      ((g % $P) * 2654435761 % $P
                       + i * (((g % $P) * 1099087573 % $P) | 1))
                      % $P % $mExpr AS p
               FROM $bpFrom, UNNEST(range(0, $BloomK)) AS t(i)),
        -- bit 63 is the sign bit: DuckDB range-checks 1::BIGINT << 63
        -- (Spark's shiftleft wraps silently), so that one mask is the
        -- explicit Long.MinValue literal. The probe side needs no twin
        -- care: (x >> k) & 1 reads the same bit under arithmetic and
        -- logical shifts for every k in [0, 63].
        bw AS (SELECT p // 64 AS w,
                      bit_or(CASE WHEN p % 64 = 63
                             THEN CAST(-9223372036854775808 AS BIGINT)
                             ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INT)
                             END) AS bits
               FROM bp GROUP BY 1),
        bm AS (SELECT map(list(w ORDER BY w), list(bits ORDER BY w)) AS wm
               FROM bw),
        bloom AS (SELECT list_transform(range(0, $mWords), w ->
                    coalesce(list_extract(map_extract(wm, w), 1),
                             CAST(0 AS BIGINT))) AS bl
                  FROM $bloomFrom)"""
  }

  /** The oracle-side "all k probe bits set" predicate over gram var `g`
    * and the bloom list var `bl`.
    */
  private[graft] def bloomProbeSql(g: String): String = {
    val P = PortableHash.P
    s"""len(list_filter(
          list_transform(range(0, $BloomK),
                         i -> (($g % $P) * 2654435761 % $P
                               + i * ((($g % $P) * 1099087573 % $P) | 1))
                              % $P % (64 * len(bl))),
          p -> (bl[CAST(p // 64 AS INT) + 1]
                >> CAST(p % 64 AS INT)) & 1 = 1)) = $BloomK"""
  }

  /** d27's oracle: per-arrival distinct-gram Bloom hit counts (and s35's —
    * the artifact lifecycle changes nothing about the verdicts).
    */
  private[graft] def bloomGateOracleSql(n: Int = SpanN,
      widthWhere: Option[String] = None): String = {
    val P = PortableHash.P
    val chain = (1 until n).foldLeft("th[i]")((acc, j) =>
      s"(($acc) * 31 + th[i + $j]) % $P")
    s"""WITH ${bloomCtes(n, widthWhere = widthWhere)}
        SELECT doc_id,
               CAST(CASE WHEN len(th) >= $n
                    THEN len(list_filter(
                           list_distinct(list_transform(
                             range(1, len(th) - ${n - 2}), i -> $chain)),
                           g -> ${bloomProbeSql("g")}))
                    ELSE 0 END AS INT) AS n_maybe_grams,
               CASE WHEN len(th) >= $n
                    THEN len(list_filter(
                           list_distinct(list_transform(
                             range(1, len(th) - ${n - 2}), i -> $chain)),
                           g -> ${bloomProbeSql("g")})) > 0
                    ELSE FALSE END AS maybe_contaminated
        FROM bth, bloom WHERE doc_id >= 100"""
  }

  /** Deterministic planted-span augmentation (the d14 protocol at
    * substring granularity): every doc with id < 25 gets a companion
    * (id + 10000) whose text = one unique marker token + tokens 3..20 of
    * the original — a strict PARTIAL overlap (18 tokens ⊇ 11 shared
    * SpanN-grams) that exact dedup (d01, different hash) and whole-doc
    * near-dup (d02, low Jaccard vs a long original) are blind to, but
    * substring dedup must catch.
    */
  private[graft] def plantSpans(docs: DataFrame): DataFrame = {
    val base = docs.select("doc_id", "text")
    base.unionByName(base.filter(col("doc_id") < 25)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(lit("planted"), (col("doc_id") + 10000).cast("string"),
          lit(" "),
          concat_ws(" ", slice(split(col("text"), " "), 3, 18))).as("text")))
  }

  /** Oracle twin of [[plantSpans]]; `baseWhere` restricts the base arm
    * (d22 evaluates on a slice).
    */
  private[graft] def plantSpansSql(baseWhere: String = ""): String =
    s"""SELECT doc_id, text FROM documents $baseWhere
        UNION ALL
        SELECT doc_id + 10000 AS doc_id,
               'planted' || CAST(doc_id + 10000 AS VARCHAR) || ' ' ||
                 array_to_string(list_slice(string_split(text, ' '), 3, 20),
                                 ' ') AS text
        FROM documents WHERE doc_id < 25"""

  /** d21: document pairs sharing an exact token span ≥ `n`, with the
    * maximal shared span length — the suffix-array-style exact substring
    * dedup real LM pipelines run AFTER MinHash (shared quotes/templates
    * inside otherwise-different docs, which whole-doc signatures dilute
    * away).
    *
    * Scale design: ONE pass emits (pos, gram-hash) per token position via
    * the compiled graft_gram_chain kernel (no per-pair text scan, ever);
    * candidates come from ONE equi-join on the gram hash, [[applyBucketCap]]'d
    * so boilerplate grams (the d08 phenomenon) cannot go quadratic; the
    * span length falls out of matched positions with the q89 streak trick —
    * consecutive positions along an alignment diagonal share
    * (pos_a − row_number), so each maximal run is one group and
    * span = run + n − 1. Two shuffles total (gram hash, pair key), both on
    * near-uniform keys. Hash collisions (P ≈ 2³⁰) can in principle forge a
    * span — d22 grades the hashed path against a STRING-gram ground truth
    * to make that loss measurable (structurally 1.0/1.0 here).
    */
  def exactSubstringSpans(docs: DataFrame, n: Int = SpanN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col("doc_id"),
      posexplode(call("graft_gram_chain", col("text"), lit(n))).as(Seq("pos", "g")))
    val kept = applyBucketCap(grams, Seq("g"))
    val matched = kept
      .select(col("g"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      .join(kept.select(col("g"), col("doc_id").as("doc_b"),
        col("pos").as("pos_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    matched
      .withColumn("sk", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "sk")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg((max("run") + lit(n - 1)).cast("long").as("span_tokens"),
        count(lit(1)).as("n_spans"))
  }

  /** Oracle twin of [[exactSubstringSpans]] as a CTE chain over `$src`
    * (ends in `runs21`; the caller appends the final per-pair rollup,
    * [[spanRollupSql]]).
    */
  private[graft] def exactSubstringCtes(src: String,
      n: Int = SpanN): String = {
    val chain = (1 until n).foldLeft("th[i]")((acc, j) =>
      s"(($acc) * 31 + th[i + $j]) % $P")
    s"""g21 AS MATERIALIZED (
              SELECT doc_id, i - 1 AS pos, $chain AS g
              FROM (SELECT doc_id, ${PortableHash.duckTokenHashes} AS th
                    FROM $src) t,
                   UNNEST(range(1, len(th) - ${n - 2})) AS u(i)
              WHERE len(th) >= $n),
        m21 AS (SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
                       ga.pos AS pos_a, ga.pos - gb.pos AS diag
                FROM g21 ga JOIN g21 gb
                  ON ga.g = gb.g AND ga.doc_id < gb.doc_id),
        r21 AS (SELECT doc_a, doc_b, diag,
                       pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b,
                                    diag ORDER BY pos_a) AS sk
                FROM m21),
        runs21 AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run
                   FROM r21 GROUP BY doc_a, doc_b, diag, sk)"""
  }

  private[graft] def spanRollupSql(n: Int = SpanN): String =
    s"""SELECT doc_a, doc_b,
               CAST(MAX(run) + ${n - 1} AS BIGINT) AS span_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM runs21 GROUP BY doc_a, doc_b"""

  /** d24: INTRA-document repeated spans — the self-repetition counterpart
    * of d21 (copy-pasted paragraphs, templated sections, degenerate
    * generation loops INSIDE one document), which token-level repetition
    * stats (t06) see only as ratios. A span of ≥ n tokens occurring twice
    * at offset distance `gap` ⟺ a run of shared n-grams along that gap —
    * d21's diagonal-streak machinery with doc_a = doc_b and
    * pos_a < pos_b. One compiled gram pass per doc, one self-join keyed by
    * (doc, gram) — per-doc work, no cross-doc shuffle at all; the
    * (doc_id) key makes it embarrassingly partition-local at 100 TB.
    * Emits one row per offending doc: the longest repeated span and the
    * count of repeated-gram sites.
    */
  /** Deterministic self-repeat planting (the plantSpans discipline turned
    * inward): every doc with id < 25 gets a companion (id + 20000) whose
    * text is its first 12 tokens REPEATED twice — a 12-token span at gap
    * 12, which d24 must localize (the driver corpus has no organic
    * intra-doc ≥ SpanN repeats, so without planting the gate would pass
    * on emptiness).
    */
  private[graft] def plantRepeats(docs: DataFrame): DataFrame = {
    val base = docs.select("doc_id", "text")
    val block = concat_ws(" ", slice(split(col("text"), " "), 1, 12))
    base.unionByName(base.filter(col("doc_id") < 25)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(block, lit(" "), block).as("text")))
  }

  private[graft] val plantRepeatsSql: String = {
    val blk =
      "array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')"
    s"""SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, $blk || ' ' || $blk AS text
        FROM documents WHERE doc_id < 25"""
  }

  def selfRepeatSpans(docs: DataFrame, n: Int = SpanN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // MaxBucketSizeKey caps the per-(doc, gram) site count: a degenerate
    // doc (one token repeated L times) otherwise yields L²/2 in-doc pairs
    // — the same quadratic guard every blocked operator here carries.
    val grams = applyBucketCap(
      docs.select(col("doc_id"),
        posexplode(call("graft_gram_chain", col("text"), lit(n))).as(Seq("pos", "g"))),
      Seq("doc_id", "g"))
    val matched = grams.select(col("doc_id"), col("pos").as("pos_a"),
        col("g"))
      .join(grams.select(col("doc_id"), col("pos").as("pos_b"), col("g")),
        Seq("doc_id", "g"))
      .filter(col("pos_a") < col("pos_b"))
      .withColumn("gap", col("pos_b") - col("pos_a"))
    val wd = Window.partitionBy("doc_id", "gap").orderBy("pos_a")
    matched.withColumn("sk", col("pos_a") - row_number().over(wd))
      .groupBy("doc_id", "gap", "sk")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg((max("run") + lit(n - 1)).cast("long").as("max_repeat_span"),
        count(lit(1)).as("n_repeat_runs"))
  }

  /** Oracle twin of [[selfRepeatSpans]] over `$src` (reuses the g21 gram
    * CTE from [[exactSubstringCtes]]'s naming discipline, self-contained).
    */
  def selfRepeatSpansSql(src: String = "aug24",
      n: Int = SpanN): String = {
    val chain = (1 until n).foldLeft("th[i]")((acc, j) =>
      s"(($acc) * 31 + th[i + $j]) % $P")
    s"""WITH aug24 AS MATERIALIZED ($plantRepeatsSql),
            g24 AS MATERIALIZED (
              SELECT doc_id, i - 1 AS pos, $chain AS g
              FROM (SELECT doc_id, ${PortableHash.duckTokenHashes} AS th
                    FROM $src) t,
                   UNNEST(range(1, len(th) - ${n - 2})) AS u(i)
              WHERE len(th) >= $n),
            m24 AS (SELECT a.doc_id, a.pos AS pos_a,
                           b.pos - a.pos AS gap
                    FROM g24 a JOIN g24 b
                      ON a.doc_id = b.doc_id AND a.g = b.g
                         AND a.pos < b.pos),
            r24 AS (SELECT doc_id, gap,
                           pos_a - ROW_NUMBER() OVER (PARTITION BY doc_id,
                                        gap ORDER BY pos_a) AS sk
                    FROM m24),
            runs24 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run
                       FROM r24 GROUP BY doc_id, gap, sk)
        SELECT doc_id,
               CAST(MAX(run) + ${n - 1} AS BIGINT) AS max_repeat_span,
               CAST(COUNT(*) AS BIGINT) AS n_repeat_runs
        FROM runs24 GROUP BY doc_id"""
  }

  /** Winnowing window width. Anchors ≈ 1/WinnowW of gram positions, and
    * detection is GUARANTEED for spans ≥ SpanN + WinnowW − 1 tokens (any
    * such span contains a fully-shared gram window, whose minimum both
    * docs select — the winnowing theorem, Schleimer/Wilkerson/Aiken).
    */
  val WinnowW = 8

  /** d23: exact substring dedup at PRODUCTION anchor cost — d21 with
    * winnowed anchors. d21 blocks on EVERY gram position (~one anchor per
    * token: at 100 TB that join key space is corpus-sized); d23 selects
    * ~1/w of positions via the window-minimum rule (compiled
    * graft_winnow kernel, one pass, no shuffle) and pays the full
    * positional span verify ONLY for candidate doc pairs — the
    * prune-then-verify shape every blocked operator here uses, now with
    * the anchor volume knob. The trade is declared, not hidden: the
    * detection guarantee moves from span ≥ n to span ≥ n + w − 1, and the
    * output is thresholded to that guaranteed regime (a pair caught below
    * it by a lucky shared anchor would make results depend on luck).
    */
  def winnowedSpans(docs: DataFrame, n: Int = SpanN,
      w: Int = WinnowW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = applyBucketCap(
      docs.select(col("doc_id"),
        explode(call("graft_winnow", col("text"), lit(n), lit(w))).as("a"))
        .select(col("doc_id"), col("a.g").as("g")).distinct(),
      Seq("g"))
    val cand = anchors.select(col("g"), col("doc_id").as("doc_a"))
      .join(anchors.select(col("g"), col("doc_id").as("doc_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Verify only candidate docs' grams: the full gram relation is pruned
    // by ONE semi-join (AQE broadcasts the candidate-doc list when small)
    // BEFORE any positional join — without this, the verify re-shuffled
    // the corpus-sized gram relation twice and read SLOWER than d21 at
    // sf10 (17.8 vs 14.8 s); pruned it is candidate-proportional.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val pg = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(call("graft_gram_chain", col("text"), lit(n))).as(Seq("pos", "g")))
    val matched = cand
      .join(pg.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("g")), Seq("doc_a"))
      .join(pg.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
        col("g")), Seq("doc_b", "g"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    matched.withColumn("sk", col("pos_a") - row_number().over(wd))
      .groupBy("doc_a", "doc_b", "diag", "sk")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg((max("run") + lit(n - 1)).cast("long").as("span_tokens"),
        count(lit(1)).as("n_spans"))
      .filter(col("span_tokens") >= n + w - 1)
  }

  /** Oracle twin of [[winnowedSpans]]: per-doc window minima via
    * list_min/list_position (value-identical to the kernel's deque), then
    * the d21 rollup restricted to anchor-sharing pairs and thresholded to
    * the guaranteed regime.
    */
  def winnowedSpansSql(src: String = "aug", n: Int = SpanN,
      w: Int = WinnowW): String = {
    val chain = (1 until n).foldLeft("th[i]")((acc, j) =>
      s"(($acc) * 31 + th[i + $j]) % $P")
    s"""WITH aug AS MATERIALIZED (${plantSpansSql()}),
             ${exactSubstringCtes(src, n)},
             wgl AS (SELECT doc_id,
                            list_transform(range(1, len(th) - ${n - 2}),
                                           i -> $chain) AS gl
                     FROM (SELECT doc_id, ${PortableHash.duckTokenHashes}
                                    AS th
                           FROM $src)
                     WHERE len(th) >= ${n + w - 1}),
             wanch AS MATERIALIZED (
               SELECT DISTINCT doc_id,
                      unnest(list_transform(range(1, len(gl) - ${w - 2}),
                               i -> list_min(list_slice(gl, i,
                                               i + ${w - 1})))) AS g
               FROM wgl),
             wcand AS MATERIALIZED (
               SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM wanch a JOIN wanch b
                 ON a.g = b.g AND a.doc_id < b.doc_id)
        SELECT r.doc_a, r.doc_b, r.span_tokens, r.n_spans
        FROM (${spanRollupSql(n)}) r
        JOIN wcand c ON r.doc_a = c.doc_a AND r.doc_b = c.doc_b
        WHERE r.span_tokens >= ${n + w - 1}"""
  }
}

object DedupQueries {
  /** The planted-pair gate (the d14 protocol, d22/d26/d30): exact counts of
    * the truth set, the candidate set and their intersection, and
    * precision and recall as single IEEE divisions, null over an empty
    * denominator — guarded identically in both engines.
    */
  private def prGate(truth: DataFrame, cand: DataFrame): DataFrame = {
    val ce = truth.agg(count(lit(1)).as("n_exact"))
    val cc = cand.agg(count(lit(1)).as("n_cand"))
    val ch = cand.intersect(truth).agg(count(lit(1)).as("n_hit"))
    ce.crossJoin(cc).crossJoin(ch).select(
      col("n_exact"), col("n_cand"), col("n_hit"),
      when(col("n_cand") > 0,
        col("n_hit").cast("double") / col("n_cand")).as("precision"),
      when(col("n_exact") > 0,
        col("n_hit").cast("double") / col("n_exact")).as("recall"))
  }

  /** The pairs of the `cand` CTE that are in the `truth` CTE. */
  private def hitJoin(cand: String): String =
    s"""FROM $cand c
        JOIN truth t ON c.doc_a = t.doc_a
                    AND c.doc_b = t.doc_b"""

  /** The oracle twin of [[prGate]], over the `truth` and `cand` CTEs. */
  private val prGateSql: String = {
    val hit = hitJoin("cand")
    s"""SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_exact,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(count(*) AS BIGINT) $hit) AS n_hit,
               CASE WHEN (SELECT count(*) FROM cand) > 0
                    THEN CAST((SELECT count(*) $hit) AS DOUBLE)
                         / (SELECT count(*) FROM cand) END AS precision,
               CASE WHEN (SELECT count(*) FROM truth) > 0
                    THEN CAST((SELECT count(*) $hit) AS DOUBLE)
                         / (SELECT count(*) FROM truth) END AS recall"""
  }

  /** d26/d30's planted media set: the doc_id < 100 slice of `docs` with at
    * least `minBytes` bytes, and one copy of each at doc_id + `off` whose
    * middle character is replaced by `mark` (deleted when None). Returns
    * slice ∪ copies and the truth pairs (slice doc, copy) at Levenshtein
    * distance <= 1, by string comparison (the d22 discipline): no hashing,
    * so a collision forging a candidate reads as precision < 1.
    */
  private def plantedMedia(docs: DataFrame, minBytes: Int, off: Int,
      mark: Option[String]): (DataFrame, DataFrame) = {
    val slice = graft.util.Caches.retain(
      docs.filter(col("doc_id") < 100 && octet_length(col("text")) >= minBytes)
        .select("doc_id", "text"))
    val copies = slice.select((col("doc_id") + off).as("doc_id"),
      concat(Seq(expr("substring(text, 1, length(text) DIV 2)")) ++
        mark.map(lit(_)) :+
        expr("substring(text, length(text) DIV 2 + 2)"): _*).as("text"))
    // |len(a)-len(b)| <= 1 is NECESSARY for distance <= 1: the cheap
    // length gate prunes the O(slice²) pair space before the O(len²) DP
    // runs (unbounded, d26's truth pass cost 9 s of the 9.05 s bench wall;
    // gated it is sub-second) — the truth set is unchanged.
    val truth = slice.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      .crossJoin(broadcast(copies.select(col("doc_id").as("doc_b"),
        col("text").as("tb"))))
      .filter(abs(length(col("ta")) - length(col("tb"))) <= 1 &&
        levenshtein(col("ta"), col("tb")) <= 1)
      .select("doc_a", "doc_b")
    (slice.unionByName(copies), truth)
  }

  /** The pairs that cross from the slice (doc_id < `off`) to a copy. */
  private def crossing(pairs: DataFrame, off: Int): DataFrame =
    pairs.filter(col("doc_a") < off && col("doc_b") >= off)
      .select("doc_a", "doc_b")

  /** d25's dHash pairs over `aug`. */
  private def phashPairs(aug: DataFrame): DataFrame =
    Dedup.hammingBlockPairs(Multimodal.mediaPhash(aug)
      .select(col("doc_id"), col("phash").as("sig")))

  /** The oracle twin of [[plantedMedia]]: the `slice`, `copies` and `aug`
    * CTEs.
    */
  private def plantedMediaCtes(minBytes: Int, off: Int,
      mark: Option[String]): String =
    s"""slice AS MATERIALIZED (
          SELECT doc_id, text FROM documents
          WHERE doc_id < 100
            AND octet_length(encode(text)) >= $minBytes),
        copies AS MATERIALIZED (
          SELECT doc_id + $off AS doc_id,
                 substr(text, 1, length(text) // 2) ||
                 ${mark.fold("")(m => s"'$m' ||")}
                 substr(text, length(text) // 2 + 2) AS text
          FROM slice),
        aug AS (SELECT * FROM slice
                UNION ALL SELECT * FROM copies)"""

  /** [[plantedMedia]]'s truth pairs over the `slice` and `copies` CTEs. */
  private val mediaTruthCte =
    """truth AS (SELECT s.doc_id AS doc_a, c.doc_id AS doc_b
                 FROM slice s, copies c
                 WHERE abs(length(s.text) - length(c.text)) <= 1
                   AND levenshtein(s.text, c.text) <= 1)"""

  /** [[crossing]] of [[phashPairs]], over the `ph` CTE. */
  private def phashCrossingSql(off: Int): String =
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 2
          AND a.doc_id < $off AND b.doc_id >= $off"""

  // `def`, not `val`: the d17 oracle string resolves the kmeansCells conf
  // knob at GENERATION time (Dedup.confInt), so the catalogue must rebuild
  // per access — freezing it at object init would re-open the engine-reads-
  // conf-at-plan-build vs oracle-frozen-at-init drift this closes.
  def queries: Seq[Q] = Seq(
    // Exact dedup: digest + groupBy — the canonical 100 TB exact-dedup plan
    // (shuffle carries 16-byte hashes, not documents).
    Q("d01_dedup_exact",
      (s, d) => Tables.documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id,
                     CAST(count(*) AS BIGINT) AS n_copies
              FROM documents GROUP BY 1""")),

    Q("d02_dedup_minhash",
      (s, d) => Dedup.minhash(Tables.documents(s, d)),
      Some(Dedup.minhashSql)),

    Q("d03_dedup_lsh_pairs",
      (s, d) => Dedup.lshPairs(Tables.documents(s, d)),
      Some(Dedup.lshPairsSql)),

    Q("d04_dedup_simhash",
      (s, d) => Dedup.simhash(Tables.documents(s, d)),
      Some(Dedup.simhashSql)),

    Q("d05_dedup_jaccard",
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d)),
      Some(Dedup.jaccardPairsSql)),

    Q("d06_dedup_embed",
      (s, d) => Dedup.embedNearDup(Tables.embeddings(s, d)),
      Some(Dedup.embedNearDupSql)),

    Q("d07_dedup_embed_lsh",
      (s, d) => Dedup.embedNearDupLsh(Tables.embeddings(s, d)),
      Some(Dedup.guardAuto(Dedup.HyperplaneBitsKey)(Dedup.embedNearDupLshSql))),

    // Duplicate-cluster resolution: candidate pairs → connected components →
    // one representative per duplicate group (the actual dedup decision).
    Q("d09_dedup_clusters",
      (s, d) => Dedup.duplicateClusters(Tables.documents(s, d)),
      Some(Dedup.duplicateClustersSql)),

    // Quality-aware representative selection per duplicate cluster.
    Q("d10_dedup_keep_best",
      (s, d) => Dedup.bestPerCluster(Tables.documents(s, d)),
      Some(Dedup.bestPerClusterSql)),

    // d12: canonicalized dedup survivor MAP — the join-ready artifact a
    // pipeline filters the corpus with. Canonical key = digest of the
    // t07 normalization (lowercase, strip sentence punctuation, collapse
    // spaces), so trivial variants d01's raw digest misses collapse too.
    // ONE shuffle: a window-min over the 16-byte key assigns every row its
    // group survivor in place (no groupBy + join-back second exchange); the
    // shuffle carries (doc_id, digest), never document text — at 100 TB
    // that's ~24 bytes/doc.
    Q("d12_dedup_canonical",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // Round 21: the normalization tail is t07's compiled byte pass
        // (graft_norm_text over Spark's own lower() — see
        // TextOps.normalize) instead of two java.util.regex passes.
        val norm = call("graft_norm_text", lower(col("text")))
        Tables.documents(s, d)
          .select(col("doc_id"), md5(norm).as("canon_h"))
          .withColumn("survivor_id",
            min("doc_id").over(Window.partitionBy("canon_h")))
          .withColumn("is_dup",
            when(col("doc_id") === col("survivor_id"), 0).otherwise(1))
      },
      Some("""SELECT doc_id, canon_h,
                     min(doc_id) OVER (PARTITION BY canon_h) AS survivor_id,
                     CAST(CASE WHEN doc_id = min(doc_id) OVER
                                 (PARTITION BY canon_h)
                               THEN 0 ELSE 1 END AS INT) AS is_dup
              FROM (SELECT doc_id,
                           md5(trim(regexp_replace(regexp_replace(lower(text),
                             '[.,!?;:]', '', 'g'), ' +', ' ', 'g'))) AS canon_h
                    FROM documents)""")),

    // d13: benchmark DECONTAMINATION — flag corpus documents sharing any
    // word-5-gram with an eval set (here the 25 lowest doc_ids), reporting
    // the distinct shared-gram count per contaminated doc. The canonical
    // train/test-leak scrub: eval grams are tiny and BROADCAST, corpus
    // grams come from the same one-pass in-row-distinct native kernel as
    // d08, so the plan is scan → per-row gram explode → broadcast hash
    // join → partial-agg'd count. No shuffle ever carries the corpus gram
    // list; at 100 TB the only exchange is the final (doc_id, count)
    // aggregation.
    Q("d13_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val evalGrams = docs.filter(col("doc_id") < 25)
          .select(explode(call("graft_gram5_distinct", col("text"))).as("gram_hash"))
          .distinct()
        docs.filter(col("doc_id") >= 25)
          .select(col("doc_id"),
            explode(call("graft_gram5_distinct", col("text"))).as("gram_hash"))
          .join(broadcast(evalGrams), "gram_hash")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared_grams"))
      },
      Some {
        val P = PortableHash.P
        val gram5 = (1 to 4).foldLeft("th[i]") { (acc, j) =>
          s"(($acc) * 31 + th[i + $j]) % $P"
        }
        s"""WITH g AS (SELECT doc_id,
                              unnest(list_distinct(list_transform(
                                range(1, len(th) - 3), i -> $gram5)))
                                AS gram_hash
                       FROM (SELECT doc_id,
                                    ${PortableHash.duckTokenHashes} AS th
                             FROM documents)
                       WHERE len(th) >= 5),
                 eg AS (SELECT DISTINCT gram_hash FROM g WHERE doc_id < 25)
            SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
            FROM g JOIN eg USING (gram_hash)
            WHERE g.doc_id >= 25
            GROUP BY g.doc_id"""
      }),

    // Incremental (snapshot + new batch) dedup admission.
    Q("d11_dedup_incremental",
      (s, d) => Dedup.incrementalKeep(Tables.documents(s, d)),
      Some(Dedup.incrementalKeepSql)),

    // Boilerplate detection — the corpus-level cousin of per-doc dedup: a
    // word-5-gram appearing in many DISTINCT documents is boilerplate
    // (headers, disclaimers) a training pipeline strips. Tokens hash once
    // via the native kernel; the 5-gram combine is a fixed 5-term poly
    // chain over token hashes. Grams are deduped PER DOCUMENT in-row by
    // the native codegen'd kernel `graft_gram5_distinct` (one pass: token
    // hash → 5-term chain → hash-set dedup, no sequence/transform/distinct
    // intermediate arrays), so each doc contributes a gram at most once
    // and the corpus count is a plain map-side-combining `count` — ONE
    // shuffle of (gram_hash) longs, instead of the countDistinct form's
    // two exchanges over (gram_hash, doc_id).
    Q("d08_boilerplate_ngrams",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs
          .select(explode(call("graft_gram5_distinct", col("text"))).as("gram_hash"))
          .groupBy("gram_hash")
          .agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 3)
      },
      Some {
        val P = PortableHash.P
        val gram5 = (1 to 4).foldLeft("th[i]") { (acc, j) =>
          s"(($acc) * 31 + th[i + $j]) % $P"
        }
        s"""SELECT gram_hash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(th) - 3),
                                               i -> $gram5)) AS gram_hash
                  FROM (SELECT doc_id, ${PortableHash.duckTokenHashes} AS th
                        FROM documents)
                  WHERE len(th) >= 5)
            GROUP BY gram_hash HAVING COUNT(DISTINCT doc_id) >= 3"""
      }),

    // d15: SimHash NEAR-DUP PAIRING via the pigeonhole block join — the
    // published simhash dedup algorithm: split the signature into 4
    // blocks; Hamming distance ≤ 2 can corrupt at most 2 blocks, so every
    // qualifying pair shares at least one of the C(4,2)=6 block PAIRS
    // (completeness is a theorem, not a heuristic). Candidates come from
    // ONE equi-join on the exploded (block-pair, bits) keys — the d03
    // banding shape — and the exact popcount(xor) ≤ 2 verify runs on
    // candidates only. The oracle is the O(n²) brute force, affordable at
    // oracle SF; the engine never builds the quadratic space. The 60-bit
    // hash (4 blocks × 15 bits, TextHash.simHash) keeps block-pair
    // collisions ~2⁻³⁰ on unrelated docs, so the candidate set stays
    // near-linear on clustered corpora (the earlier 16-bit demo hash went
    // 38× on 10× data at sf1; this shape measured linear).
    Q("d15_simhash_pairs",
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d)),
      Some(s"""WITH sh AS (${Dedup.simhashSql})
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                        AS hamming
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""")),

    // d16: CONTAINMENT near-dup — Broder's asymmetric companion to
    // Jaccard: |A∩B|/|A| ≈ 1 catches "A is quoted/embedded inside B"
    // (boilerplate-wrapped reposts, quote-inclusion), which symmetric
    // Jaccard misses whenever |B| ≫ |A| drags the union down. Runs on
    // the d03 LSH candidates only (the quadratic space is never built,
    // d05's discipline), keeps pairs where EITHER direction is ≥ 0.8,
    // and reports both directions so the caller knows which side is the
    // container. Ratios are single IEEE divisions of exact set sizes.
    Q("d16_containment",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // Round 21: same fused kernel as jaccardPairs — and the SAME plan
        // text, so the Caches.retain entry is shared with d05's.
        val toks = graft.util.Caches.retain(docs.select(col("doc_id"),
          call("graft_distinct_tokens", col("text")).as("toks")))
        Dedup.lshPairs(docs)
          .join(toks.select(col("doc_id").as("doc_a"),
            col("toks").as("ta")), "doc_a")
          .join(toks.select(col("doc_id").as("doc_b"),
            col("toks").as("tb")), "doc_b")
          // one intersect per pair (codegen CSE), not one per direction
          .withColumn("inter",
            size(array_intersect(col("ta"), col("tb"))).cast("double"))
          .select(col("doc_a"), col("doc_b"),
            (col("inter") / size(col("ta"))).as("cont_a"),
            (col("inter") / size(col("tb"))).as("cont_b"))
          .filter(greatest(col("cont_a"), col("cont_b")) >= 0.8)
      },
      Some(s"""WITH pairs AS (${Dedup.lshPairsSql}),
                    toks AS (SELECT doc_id,
                                    list_distinct(string_split(text, ' '))
                                      AS t
                             FROM documents)
               SELECT doc_a, doc_b,
                      CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                        / len(a.t) AS cont_a,
                      CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                        / len(b.t) AS cont_b
               FROM pairs JOIN toks a ON doc_a = a.doc_id
                          JOIN toks b ON doc_b = b.doc_id
               WHERE greatest(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                                / len(a.t),
                              CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                                / len(b.t)) >= 0.8"""),
    ),

    // d14: LSH candidate-prune EVALUATION — precision/recall of the d03
    // banding against exact Jaccard ≥ 0.5 on a bounded eval slice (doc_id
    // < 100, augmented with a planted duplicate of every doc — the
    // standard recall-on-planted-pairs protocol; the testdata's organic
    // near-dups are token-level, max shingle-Jaccard 0.12, so without
    // planting the ≥ 0.5 truth set is empty). x06 answers this for the
    // ANN prune; this is the text-dedup twin: the number that decides
    // whether 4×2 banding is shippable before a 100 TB run commits to it.
    // The truth set uses the SAME similarity the signatures approximate —
    // Jaccard over word-BIGRAM shingle hashes (token-set Jaccard would
    // measure a different space and blame the banding for pairs it never
    // claims). The brute-force all-pairs truth set is DELIBERATELY
    // O(slice²) — the slice is the knob (a production eval uses a few
    // thousand docs; the corpus-scale path stays candidates-only). Counts
    // are exact longs; the two ratios are single IEEE divisions guarded
    // identically in both engines.
    Q("d14_lsh_eval",
      (s, d) => {
        // Retained: the eval slice is ~100 rows, but every downstream arm
        // (exact truth set ×2, lshPairs' minhash, the intersect) otherwise
        // re-derives it with a FULL corpus scan — at the 100× checkpoint
        // that was ~8 scans of a 500k-doc table to evaluate 200 docs
        // (21.2 s, vs corpus-scan-once after the retain).
        val slice = graft.util.Caches.retain(
          Tables.documents(s, d).filter(col("doc_id") < 100)
            .select("doc_id", "text"))
        val aug = slice.unionByName(
          slice.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val toks = aug
          .filter(size(split(col("text"), " ")) >= 2) // minhash's own gate
          .select(col("doc_id"), call("graft_token_hashes", col("text")).as("th"))
          .select(col("doc_id"), expr(
            s"array_distinct(${PortableHash.sparkShingles("th")})").as("t"))
        val exact = toks.toDF("doc_a", "ta")
          .join(toks.toDF("doc_b", "tb"), col("doc_a") < col("doc_b"))
          .filter(size(array_intersect(col("ta"), col("tb"))).cast("double")
            / size(array_union(col("ta"), col("tb"))) >= 0.5)
          .select("doc_a", "doc_b")
        prGate(exact, Dedup.lshPairs(aug))
      },
      Some {
        // planted copies have IDENTICAL text, hence identical signatures
        // and shingle sets: the oracle mirrors the augmentation by
        // unioning each slice-side relation with a doc_id+10000 copy
        val sliceSig = s"SELECT * FROM (${Dedup.minhashSql}) WHERE doc_id < 100"
        val mhCols = (0 until Dedup.k).map(j => s"mh$j").mkString(", ")
        s"""WITH sig0 AS ($sliceSig),
                 sigaug AS (SELECT * FROM sig0
                            UNION ALL
                            SELECT doc_id + 10000 AS doc_id, $mhCols
                            FROM sig0),
                 toks0 AS (SELECT doc_id,
                                  list_distinct(
                                    ${PortableHash.duckShingles("th")}) AS t
                           FROM (SELECT doc_id,
                                        ${PortableHash.duckTokenHashes} AS th
                                 FROM documents
                                 WHERE doc_id < 100
                                   AND len(string_split(text, ' ')) >= 2)),
                 toks AS (SELECT * FROM toks0
                          UNION ALL
                          SELECT doc_id + 10000 AS doc_id, t FROM toks0),
                 exact AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                           FROM toks a JOIN toks b ON a.doc_id < b.doc_id
                           WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                                 / len(list_distinct(list_concat(a.t, b.t)))
                                 >= 0.5),
                 sig AS (SELECT * FROM sigaug),
                 cand AS (${Dedup.lshArmsSql}),
                 hit AS (SELECT * FROM cand INTERSECT SELECT * FROM exact)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
                   (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
                   (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
                   CASE WHEN (SELECT count(*) FROM cand) > 0
                        THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
                             / (SELECT count(*) FROM cand) END AS precision,
                   CASE WHEN (SELECT count(*) FROM exact) > 0
                        THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
                             / (SELECT count(*) FROM exact) END AS recall"""
      }),

    // d17: SemDeDup-style semantic dedup over LEARNED k-means cells — see
    // Dedup.semanticDedup for the blocking/admission design and how it
    // composes x11's assignment with the d03/d07 pairwise posture.
    Q("d17_semantic_dedup",
      (s, d) => Dedup.semanticDedup(Tables.embeddings(s, d)),
      Some(Dedup.guardAuto(Dedup.KmeansCellsKey)(Dedup.semanticDedupSql()))),

    // d18: planted-duplicate precision/recall for d17's learned-cell
    // blocking — the d14 protocol for the semantic family (see
    // Dedup.semanticEval).
    Q("d18_semantic_eval",
      (s, d) => Dedup.semanticEval(Tables.embeddings(s, d)),
      Some(Dedup.guardAuto(Dedup.KmeansCellsKey)(Dedup.semanticEvalSql()))),

    // d19: semantic dedup over x16's two-level cells — the crossover fix
    // applied to the dedup side (see Dedup.semanticDedupTwoLevel).
    Q("d19_semantic_dedup_2level",
      (s, d) => Dedup.semanticDedupTwoLevel(Tables.embeddings(s, d)),
      Some(Dedup.guardAuto(Dedup.KmeansCellsKey)(Dedup.semanticDedupTwoLevelSql()))),

    // d20: planted-dup precision/recall for d19's (c1, c2) blocking —
    // every blocking scheme ships with its gate.
    Q("d20_semantic_eval_2level",
      (s, d) => Dedup.semanticEvalTwoLevel(Tables.embeddings(s, d)),
      Some(Dedup.guardAuto(Dedup.KmeansCellsKey)(Dedup.semanticEvalTwoLevelSql()))),

    // d21: EXACT SUBSTRING dedup over the planted-span corpus — see
    // Dedup.exactSubstringSpans for the blocked/positional design and
    // Dedup.plantSpans for the partial-overlap planting that whole-doc
    // dedup provably misses.
    Q("d21_exact_substring",
      (s, d) => Dedup.exactSubstringSpans(
        Dedup.plantSpans(Tables.documents(s, d))),
      Some(s"""WITH aug AS MATERIALIZED (${Dedup.plantSpansSql()}),
                    ${Dedup.exactSubstringCtes("aug")}
               ${Dedup.spanRollupSql()}""")),

    // d23: d21 at PRODUCTION anchor cost — winnowed anchor selection
    // (~1/w of gram positions, compiled kernel) with the span ≥ n+w−1
    // detection guarantee; full positional span verify only on candidate
    // pairs (see Dedup.winnowedSpans). Full-length planted overlaps (18
    // tokens, sources ≥ 20 tokens) sit inside the guaranteed regime;
    // shorter-source plants fall below the declared n+w−1 threshold and
    // are correctly excluded on BOTH sides.
    Q("d23_winnowed_substring",
      (s, d) => Dedup.winnowedSpans(
        Dedup.plantSpans(Tables.documents(s, d))),
      Some(Dedup.winnowedSpansSql())),

    // d24: intra-document repeated spans — copy-pasted/templated sections
    // and generation loops INSIDE one doc, at span granularity (t06's
    // token-ratio signals can't localize these; see Dedup.selfRepeatSpans
    // for the per-doc, shuffle-local design).
    Q("d24_self_repeat",
      (s, d) => Dedup.selfRepeatSpans(
        Dedup.plantRepeats(Tables.documents(s, d))),
      Some(Dedup.selfRepeatSpansSql())),

    // d22: the planted P/R gate for d21's gram-hash blocking (the d14
    // protocol): ground truth compares n-token substrings AS STRINGS on a
    // 25-doc slice + its planted companions — no hashing — so a hash
    // collision forging a candidate pair would read as precision < 1, and
    // a blocking miss as recall < 1. Both are structurally 1.0 (blocking
    // completeness is the d15-style theorem; collisions are ~2⁻³⁰ per
    // gram pair) — the gate exists so that stays MEASURED, not assumed.
    Q("d22_substring_eval",
      (s, d) => {
        val slice = graft.util.Caches.retain(
          Tables.documents(s, d).filter(col("doc_id") < 25)
            .select("doc_id", "text"))
        val aug = Dedup.plantSpans(slice)
        val n = Dedup.SpanN
        val sg = aug.filter(size(split(col("text"), " ")) >= n)
          .select(col("doc_id"), expr(
            s"array_distinct(transform(sequence(1, size(split(text, ' ')) - ${n - 1}), " +
              s"i -> concat_ws(' ', slice(split(text, ' '), i, $n))))")
            .as("sg"))
        val truth = sg.toDF("doc_a", "sa")
          .join(sg.toDF("doc_b", "sb"), col("doc_a") < col("doc_b"))
          .filter(arrays_overlap(col("sa"), col("sb")))
          .select("doc_a", "doc_b")
        prGate(truth, Dedup.exactSubstringSpans(aug).select("doc_a", "doc_b"))
      },
      Some {
        val n = Dedup.SpanN
        s"""WITH aug AS MATERIALIZED (
                   ${Dedup.plantSpansSql("WHERE doc_id < 25")}),
                 sg AS (SELECT doc_id,
                               list_distinct(list_transform(
                                 range(1, len(tk) - ${n - 2}),
                                 i -> array_to_string(
                                        list_slice(tk, i, i + ${n - 1}),
                                        ' '))) AS sg
                        FROM (SELECT doc_id, string_split(text, ' ') AS tk
                              FROM aug)
                        WHERE len(tk) >= $n),
                 truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                           FROM sg a JOIN sg b ON a.doc_id < b.doc_id
                           WHERE len(list_intersect(a.sg, b.sg)) > 0),
                 ${Dedup.exactSubstringCtes("aug")},
                 cand AS (SELECT doc_a, doc_b FROM runs21
                          GROUP BY doc_a, doc_b)
            $prGateSql"""
      }),

    // d25: MEDIA near-dup pairing — m09's perceptual dHash fed through
    // d15's pigeonhole block join (round-15 verdict item 4): the
    // image-dedup path of a multimodal corpus pipeline, where re-encoded
    // copies differ by a few bytes and exact-byte dedup (d01, m05) misses
    // them. The corpus is documents plus planted 1-byte-perturbed copies
    // (Multimodal.plantMediaNoise — the deterministic re-encode stand-in);
    // candidates come from ONE equi-join on the exploded block-pair keys
    // (maxBucketSize cap applies, completeness for Hamming <= 2 is the
    // d15 theorem), exact popcount verify on candidates only. The oracle
    // is the O(n^2) brute force, affordable at oracle SF; the engine never
    // builds the quadratic space.
    Q("d25_media_neardup",
      (s, d) => Dedup.hammingBlockPairs(
        Multimodal.mediaPhash(
          Multimodal.plantMediaNoise(Tables.documents(s, d)))
          .select(col("doc_id"), col("phash").as("sig"))),
      Some(s"""WITH aug AS MATERIALIZED (${Multimodal.plantMediaNoiseSql()}),
                    ph AS MATERIALIZED (${Multimodal.mediaPhashSql("aug")})
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      CAST(bit_count(xor(a.phash, b.phash)) AS INT)
                        AS hamming
               FROM ph a JOIN ph b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.phash, b.phash)) <= 2""")),

    // d26: the planted P/R gate for d25's perceptual blocking (the d14
    // protocol). BOUNDARY NOTE (round-16): this truth set is
    // SUBSTITUTION-ONLY by construction (the planted copy preserves
    // length), so the P/R = 1.0/1.0 it measures certifies exactly the
    // dHash locality theorem's domain. The length-CHANGING case — the
    // realistic re-encode — is graded by d30 on a deleted-byte truth set,
    // where THIS signature reads recall ~0.01 and the d29 min-hash
    // signature replaces it. (Original d26 rationale below — the d14
    // protocol): ground truth compares PAYLOADS, not hashes — cross pairs
    // (slice doc, planted copy) at Levenshtein distance <= 1, i.e. "is a
    // <=1-substitution re-encode of", evaluated on a 100-doc slice with a
    // perturbed copy planted for EVERY eligible doc. Recall is
    // structurally 1.0 (the dHash locality theorem bounds a planted pair
    // at Hamming <= 2, inside pigeonhole completeness); precision < 1
    // would read a signature collision between genuinely different
    // payloads. Both are MEASURED here, not assumed.
    Q("d26_media_phash_eval",
      (s, d) => {
        val (aug, truth) = plantedMedia(Tables.documents(s, d),
          Multimodal.phashBits + 1, 20000, Some("~"))
        prGate(truth, crossing(phashPairs(aug), 20000))
      },
      Some(s"""WITH ${plantedMediaCtes(Multimodal.phashBits + 1, 20000,
                                       Some("~"))},
                    ph AS MATERIALIZED (${Multimodal.mediaPhashSql("aug")}),
                    $mediaTruthCte,
                    cand AS (${phashCrossingSql(20000)})
               $prGateSql""")),

    // d29: ALIGNMENT-TOLERANT media near-dup pairing (round-16; round-17
    // closes its `weak` scale law): the byte-16-gram min-hash signature
    // through the d15 pigeonhole block-key join, graded on
    // LENGTH-CHANGING planted noise (plantMediaEdits deletes a byte — the
    // realistic re-encode class where d25's strided dHash decorrelates
    // completely). Round 17: the signature carries RAW minima
    // (graft_byte_minhash_arr), the block-key width is a conf knob
    // resolved at join time (MinhashBlockBitsKey, default auto — the d07
    // hyperplaneBits discipline; higher widths strictly refine lower),
    // and a 16-hash SKETCH pre-gate (MediaSketchFloor) runs inline on the
    // candidate rows before the exact distinct-gram Jaccard ≥ τ verify —
    // measured at sf10, the verify's gram-array shuffle was 97% of the
    // wall while key-width truncation contributed only 0.2% of the 6.1M
    // candidates, so the sketch (which passes 3%) is what returns the
    // operator to the linear band; the width knob is the guard one decade
    // up, where truncation collisions (∝ n²·6/2^2w) reach the same
    // magnitude. Candidates still come from ONE equi-join on the exploded
    // block-pair keys (maxBucketSize cap applies); the oracle is the
    // O(n²) brute force of the SAME declared chain — blocks at the same
    // resolved width (auto emits the derivation as SQL), same sketch
    // floor, same τ. Measured (d30): precision 1.0 both scales, recall
    // 0.99 at sf0.01 / 0.96 at sf0.1 — unchanged by the sketch gate (the
    // planted re-encode class sits at J ≈ 0.81 where the gate admits at
    // ~1 − 10⁻⁸). The recall knob is MinhashMinBlocksKey=1 (classic
    // b=4/r=1 banding): hash-green through the gate at either setting
    // (the oracle resolves the knob at generation time).
    Q("d29_media_minhash_neardup",
      (s, d) => Dedup.mediaMinhashPairs(
        Multimodal.plantMediaEdits(Tables.documents(s, d))),
      Some(s"""WITH aug AS MATERIALIZED (${Multimodal.plantMediaEditsSql()}),
                    ${Dedup.mediaMinhashPairsSql("aug")}
               SELECT doc_a, doc_b, n_match_blocks, jaccard FROM mp""")),

    // d30: the planted P/R gate for d29 on INSERT/DELETE noise (the d14
    // protocol, d26's shape, the HARD perturbation class): ground truth
    // compares PAYLOADS — cross pairs (slice doc, deleted-byte copy) at
    // Levenshtein distance <= 1 — so a signature collision between
    // genuinely different payloads reads precision < 1 and a blocking
    // miss reads recall < 1. BOTH signatures are graded on the same
    // truth: dhash_recall documents m09/d25's declared boundary as a
    // MEASURED number (~0 — every strided sample shifts after the
    // deletion) where the min-hash signature's recall is ~1.
    Q("d30_media_minhash_eval",
      (s, d) => {
        val (aug, truth) = plantedMedia(Tables.documents(s, d),
          Multimodal.mhashMinBytes + 1, 50000, None)
        val dcand = crossing(phashPairs(aug), 50000)
        prGate(truth, crossing(Dedup.mediaMinhashPairs(aug), 50000))
          .crossJoin(
            dcand.intersect(truth).agg(count(lit(1)).as("n_dhash_hit")))
          .withColumn("dhash_recall", when(col("n_exact") > 0,
            col("n_dhash_hit").cast("double") / col("n_exact")))
      },
      Some {
        val dhit = hitJoin("dcand")
        s"""WITH ${plantedMediaCtes(Multimodal.mhashMinBytes + 1, 50000, None)},
                 ${Dedup.mediaMinhashPairsSql("aug")},
                 ph AS MATERIALIZED (${Multimodal.mediaPhashSql("aug")}),
                 $mediaTruthCte,
                 cand AS (SELECT doc_a, doc_b FROM mp
                          WHERE doc_a < 50000 AND doc_b >= 50000),
                 dcand AS (${phashCrossingSql(50000)})
            $prGateSql,
                   (SELECT CAST(count(*) AS BIGINT) $dhit) AS n_dhash_hit,
                   CASE WHEN (SELECT count(*) FROM truth) > 0
                        THEN CAST((SELECT count(*) $dhit) AS DOUBLE)
                             / (SELECT count(*) FROM truth) END
                     AS dhash_recall"""
      }),

    // d27: BLOOM contamination gate — the substring gate's 100 TB scale
    // path (see Dedup.BloomM): the snapshot's gram set compresses to a
    // fixed 64 KiB word array probed in O(k) per distinct arrival gram.
    // The filter CONTENT is oracle-exact (portable integer probe
    // arithmetic), so verdicts hash-match INCLUDING any false positives —
    // the approximation is pinned, not waved at. No false negatives by
    // construction (d28 measures both).
    Q("d27_bloom_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.bloomGateXform(
          Dedup.bloomArtifact(docs.filter(col("doc_id") < 100)))(
          docs.filter(col("doc_id") >= 100))
      },
      Some(Dedup.bloomGateOracleSql())),

    // d28: the Bloom gate's quality gate — exact (sorted-set) verdicts vs
    // Bloom verdicts on the same arrivals: false negatives MUST read 0
    // (the Bloom theorem, measured every run), false positives and the
    // clean-docs FP rate are the price of the 64 KiB artifact, measured
    // against the geometry's design bound.
    Q("d28_bloom_eval",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val arrivals = docs.filter(col("doc_id") >= 100)
        val exact = graft.queries.StreamingQ.substringGateXform(
            graft.queries.StreamingQ.substringSnapshot(
              docs.filter(col("doc_id") < 100)))(arrivals)
          .select(col("doc_id"), col("contaminated"))
        val maybe = Dedup.bloomGateXform(
            Dedup.bloomArtifact(docs.filter(col("doc_id") < 100)))(arrivals)
          .select(col("doc_id"), col("maybe_contaminated"))
        exact.join(maybe, Seq("doc_id"))
          .agg(count(lit(1)).as("n_arrivals"),
            sum(when(col("contaminated"), 1L).otherwise(0L))
              .as("n_contaminated"),
            sum(when(col("maybe_contaminated"), 1L).otherwise(0L))
              .as("n_maybe"),
            sum(when(col("maybe_contaminated") && !col("contaminated"), 1L)
              .otherwise(0L)).as("n_false_pos"),
            sum(when(!col("maybe_contaminated") && col("contaminated"), 1L)
              .otherwise(0L)).as("n_false_neg"))
          .select(col("n_arrivals"), col("n_contaminated"), col("n_maybe"),
            col("n_false_pos"), col("n_false_neg"),
            when(col("n_arrivals") - col("n_contaminated") > 0,
              col("n_false_pos").cast("double")
                / (col("n_arrivals") - col("n_contaminated")))
              .as("fp_rate"))
      },
      Some {
        val n = Dedup.SpanN
        val P = PortableHash.P
        val chain = (1 until n).foldLeft("th[i]")((acc, j) =>
          s"(($acc) * 31 + th[i + $j]) % $P")
        s"""WITH ${Dedup.bloomCtes(n)},
                 sg0 AS (SELECT DISTINCT $chain AS g
                         FROM bth, UNNEST(range(1, len(th) - ${n - 2}))
                              AS u(i)
                         WHERE doc_id < 100 AND len(th) >= $n),
                 snap AS (SELECT coalesce(list(g ORDER BY g), []) AS sg
                          FROM sg0),
                 v AS (SELECT doc_id,
                              CASE WHEN len(th) >= $n
                                   THEN len(list_intersect(
                                          list_transform(
                                            range(1, len(th) - ${n - 2}),
                                            i -> $chain), snap.sg)) > 0
                                   ELSE FALSE END AS exact_c,
                              CASE WHEN len(th) >= $n
                                   THEN len(list_filter(
                                          list_distinct(list_transform(
                                            range(1, len(th) - ${n - 2}),
                                            i -> $chain)),
                                          g -> ${Dedup.bloomProbeSql("g")}))
                                        > 0
                                   ELSE FALSE END AS maybe_c
                       FROM bth, snap, bloom WHERE doc_id >= 100)
            SELECT CAST(count(*) AS BIGINT) AS n_arrivals,
                   CAST(sum(CASE WHEN exact_c THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_contaminated,
                   CAST(sum(CASE WHEN maybe_c THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_maybe,
                   CAST(sum(CASE WHEN maybe_c AND NOT exact_c
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
                   CAST(sum(CASE WHEN NOT maybe_c AND exact_c
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
                   CASE WHEN count(*) - sum(CASE WHEN exact_c THEN 1
                                            ELSE 0 END) > 0
                        THEN CAST(sum(CASE WHEN maybe_c AND NOT exact_c
                                      THEN 1 ELSE 0 END) AS DOUBLE)
                             / (count(*) - sum(CASE WHEN exact_c THEN 1
                                               ELSE 0 END)) END AS fp_rate
            FROM v"""
      })
  )
}
