package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Hot-path implementations of the portable text-hash primitives
  * (graft.ext.PortableHash): single-pass, allocation-light, and callable from
  * generated Java code (a top-level object gets static forwarders, so codegen
  * emits `graft.functions.TextHash.polyHash(x)` directly).
  *
  * The arithmetic is EXACTLY the SQL fold both engines agree on —
  * fold(chars, acc -> (acc*31 + codepoint) mod 1e9+7) per token, bigram
  * shingles combined as (h_i*31 + h_{i+1}) mod p, MinHash as
  * min((a_j*h + b_j) mod p) — so results are bit-identical to the DuckDB
  * oracle. Only the evaluation strategy changes: one compiled pass per row
  * instead of nested interpreted higher-order functions (measured ~20× on the
  * minhash signature at sf0.1).
  */
object TextHash {
  val P = 1000000007L

  // MinHash permutation constants — the single source of truth; the oracle
  // SQL side (graft.ext.Dedup.A/B) references these.
  val A = Array(2971L, 4297L, 6553L, 8191L, 104729L, 15485863L, 32452843L, 49979687L)
  val B = Array(7L, 12343L, 2003L, 4999L, 73L, 3947L, 1117L, 1009L)

  /** Polynomial rolling hash over the codepoints of `s`. Codepoint iteration
    * (not bytes) matches Spark `ascii(substr(s,i,1))` / DuckDB
    * `ascii(substr)` on non-ASCII input.
    */
  def polyHash(s: UTF8String): Long = polyHashStr(s.toString)

  private def polyHashStr(s: String): Long = {
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Per-token polynomial hashes for `s` split on single spaces, keeping
    * empty tokens (Java split semantics with limit -1 — identical to Spark
    * `split(s, ' ')` and DuckDB `string_split`). Empty token hashes to 0 in
    * both engines.
    */
  def tokenHashes(s: UTF8String): ArrayData = new GenericArrayData(tokenHashesRaw(s))

  private def tokenHashesRaw(s: UTF8String): Array[Long] = {
    val toks = s.toString.split(" ", -1)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = polyHashStr(toks(i)); i += 1 }
    out
  }

  /** 8-permutation MinHash signature over word-bigram shingles, or null when
    * the text has fewer than 2 tokens (no shingles — callers filter on
    * isnotnull, replacing the `size(split(text,' ')) >= 2` predicate).
    */
  def minHashSig(s: UTF8String): ArrayData = {
    val th = tokenHashesRaw(s)
    if (th.length < 2) return null
    val k = A.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < th.length - 1) {
      val sh = (th(i) * 31 + th(i + 1)) % P
      var j = 0
      while (j < k) {
        val v = (A(j) * sh + B(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Quarter-mean codepoint features (graft.ext.Multimodal.featureStub hot
    * path): mean codepoint of each quarter of the text, qlen = ⌊len/4⌋
    * codepoints per quarter (the tail beyond 4·qlen is ignored, exactly like
    * the SQL `sequence(q*qlen+1, (q+1)*qlen)` fold this replaces — that
    * interpreted form re-scanned the string per character, O(n²) per row).
    * Null when the text has < 4 codepoints (qlen = 0).
    */
  def quarterMeans(s: UTF8String): ArrayData = {
    val cps = codePointsOf(s)
    val qlen = cps.length / 4
    if (qlen < 1) return null
    val sums = new Array[Long](4)
    var i = 0
    while (i < 4 * qlen) { sums(i / qlen) += cps(i); i += 1 }
    new GenericArrayData(sums.map(_.toDouble / qlen))
  }

  /** Max edge-ngram length (graft.ext.TextOps.edgeNgrams and its oracle SQL
    * both derive from this).
    */
  val edgeMax = 5

  /** Offset of the codepoint after the one starting at `i`, stepping as the
    * JDK decoder behind `UTF8String.toString` does. A well-formed sequence
    * is one step. An ill-formed one steps over its maximal subpart, the
    * bytes the decoder replaces with one U+FFFD: a lead byte plus the
    * continuation bytes it still accepts, never past `len`. An encoded
    * surrogate (ED A0..BF xx) is one 3-byte step, as the decoder reads it.
    */
  private def nextCodepoint(bytes: Array[Byte], i: Int, len: Int): Int = {
    val b = bytes(i) & 0xff
    val need = if (b < 0xc2) 0 else if (b < 0xe0) 1 else if (b < 0xf0) 2
      else if (b < 0xf5) 3 else 0
    val last = math.min(len - 1, i + need)
    // the second byte's range rules out the overlong and > U+10FFFF forms
    val lo = if (b == 0xe0) 0xa0 else if (b == 0xf0) 0x90 else 0x80
    val hi = if (b == 0xf4) 0x8f else 0xbf
    var j = i + 1
    while (j <= last && {
        val c = bytes(j) & 0xff
        if (j == i + 1) c >= lo && c <= hi else (c & 0xc0) == 0x80
      }) j += 1
    j
  }

  /** Open-addressed set of byte slices of one array, the distinct-count
    * table of every slice kernel. A slice is an (offset, length) pair into
    * `bytes`, found by a 64-bit byte hash with a true byte compare on a
    * hash hit (exact, collision-safe), so adding one allocates nothing.
    * Linear probing over a power-of-two table sized for `expected`
    * distinct slices, doubled past load 0.5; `used` marks the filled
    * slots, so an empty slice is a member like any other.
    */
  private final class SliceSet(bytes: Array[Byte], expected: Int) {
    private[this] var mask = {
      var cap = 8
      while (cap < expected * 2) cap <<= 1
      cap - 1
    }
    private[this] var hs = new Array[Long](mask + 1)
    private[this] var offs = new Array[Int](mask + 1)
    private[this] var lens = new Array[Int](mask + 1)
    private[this] var used = new Array[Boolean](mask + 1)
    private[this] var n = 0

    /** The number of distinct slices added. */
    def size: Int = n

    /** Adds bytes [off, off + len); true when the slice was new. */
    def add(off: Int, len: Int): Boolean = {
      if ((n + 1) * 2 > mask + 1) grow()
      var h = 1125899906842597L
      var k = off
      while (k < off + len) { h = h * 31 + (bytes(k) & 0xff); k += 1 }
      val slot = probe(h, off, len)
      if (used(slot)) false
      else { put(slot, h, off, len); n += 1; true }
    }

    /** The slot that holds the slice, or the free slot it would take. */
    private def probe(h: Long, off: Int, len: Int): Int = {
      var slot = (h ^ (h >>> 32)).toInt & mask
      while (used(slot) && !(hs(slot) == h && lens(slot) == len &&
          java.util.Arrays.equals(bytes, offs(slot), offs(slot) + len, bytes, off, off + len)))
        slot = (slot + 1) & mask
      slot
    }

    private def put(slot: Int, h: Long, off: Int, len: Int): Unit = {
      used(slot) = true; hs(slot) = h; offs(slot) = off; lens(slot) = len
    }

    private def grow(): Unit = {
      val oldHs = hs; val oldOffs = offs; val oldLens = lens; val oldUsed = used
      mask = mask * 2 + 1
      hs = new Array[Long](mask + 1)
      offs = new Array[Int](mask + 1)
      lens = new Array[Int](mask + 1)
      used = new Array[Boolean](mask + 1)
      var j = 0
      while (j < oldUsed.length) {
        if (oldUsed(j))
          put(probe(oldHs(j), oldOffs(j), oldLens(j)), oldHs(j), oldOffs(j), oldLens(j))
        j += 1
      }
    }
  }

  /** Edge-ngram stats in ONE pass: token prefixes of length 1..edgeMax
    * (split on single spaces, empty tokens skipped, prefixes by codepoint),
    * returning (total grams, distinct grams, first 5 distinct grams in
    * UTF8-binary sort order joined with ','). Replaces a triple-evaluated
    * interpreted flatten/transform gram array.
    *
    * The kernel never leaves the UTF-8 byte array: a gram is an (offset,
    * length) slice of the input, deduped in a [[SliceSet]], and the first-5
    * sample is a bounded insertion into a 5-slot array using the same
    * unsigned-byte-then-length comparison as UTF8String.compareTo —
    * byte-wise order, identical to a TreeSet of the grams, Spark
    * `array_sort` and DuckDB's default binary collation. Zero allocation
    * per gram; the only per-row allocations are the table and the output
    * string.
    */
  def edgeNgramStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    val seen = new SliceSet(bytes, len / 2 + 2)
    var total = 0
    // bounded first-5 sample of the distinct grams, byte-ascending
    val f5o = new Array[Int](5)
    val f5l = new Array[Int](5)
    var f5n = 0
    // UTF8String.compareTo semantics: unsigned byte-wise, then length
    def before(o1: Int, l1: Int, o2: Int, l2: Int): Boolean =
      java.util.Arrays.compareUnsigned(bytes, o1, o1 + l1, bytes, o2, o2 + l2) < 0
    var i = 0
    while (i < len) {
      if (bytes(i) == ' ') i += 1
      else {
        var cp = 0
        var j = i
        while (j < len && bytes(j) != ' ') {
          j = nextCodepoint(bytes, j, len)
          if (cp < edgeMax) {
            cp += 1
            total += 1
            val l = j - i
            if (seen.add(i, l) && (f5n < 5 || before(i, l, f5o(4), f5l(4)))) {
              var p = if (f5n < 5) f5n else 4
              while (p > 0 && before(i, l, f5o(p - 1), f5l(p - 1))) {
                f5o(p) = f5o(p - 1); f5l(p) = f5l(p - 1); p -= 1
              }
              f5o(p) = i; f5l(p) = l
              if (f5n < 5) f5n += 1
            }
          }
        }
        i = j
      }
    }
    var outLen = if (f5n > 0) f5n - 1 else 0
    var q = 0
    while (q < f5n) { outLen += f5l(q); q += 1 }
    val out = new Array[Byte](outLen)
    var w = 0
    q = 0
    while (q < f5n) {
      if (q > 0) { out(w) = ','; w += 1 }
      System.arraycopy(bytes, f5o(q), out, w, f5l(q))
      w += f5l(q)
      q += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, seen.size, UTF8String.fromBytes(out)))
  }

  /** 31^(k-1) mod P — the leading-term weight a rolling gram hash
    * subtracts: g' = (g − x₀·31^(k−1))·31 + x_k mod P is the same value
    * chain as re-folding every window, in O(1) per position. Every
    * intermediate fits a long: values < P < 2^30, products < 2^60.
    */
  private def pow31(k: Int): Long = {
    var p = 1L
    var j = 1
    while (j < k) { p = p * 31 % P; j += 1 }
    p
  }

  /** The word-n-gram chain over token hashes `th` (needs at least n of
    * them): element i = fold(th[i..i+n-1], (acc,h) -> (acc*31 + h) mod P),
    * rolled with [[pow31]] (token hashes are < P).
    */
  private def wordChain(th: Array[Long], n: Int): Array[Long] = {
    val out = new Array[Long](th.length - n + 1)
    val lead = pow31(n)
    var acc = 0L
    var j = 0
    while (j < n) { acc = (acc * 31 + th(j)) % P; j += 1 }
    out(0) = acc
    var i = 1
    while (i < out.length) {
      acc = ((acc - th(i - 1) * lead % P + P) * 31 + th(i + n - 1)) % P
      out(i) = acc
      i += 1
    }
    out
  }

  /** DISTINCT word-5-gram poly-chain hashes in one pass (d08 hot path):
    * token hashes, then the fixed 5-term chain
    * g_i = fold(th[i..i+4], (acc,h) -> (acc*31 + h) mod P), deduped with a
    * hash set — same value set as the SQL
    * `array_distinct(transform(sequence(1, size-4), i -> chain))` it
    * replaces (order differs, which downstream explode+groupBy ignores),
    * without materializing the sequence/transform/distinct intermediates.
    * Null when the text has < 5 tokens (no 5-grams).
    */
  def gram5Distinct(s: UTF8String): ArrayData = {
    val th = tokenHashesRaw(s)
    if (th.length < 5) return null
    val gs = wordChain(th, 5)
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < gs.length) { set.add(gs(i)); i += 1 }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** ALL word-n-gram poly-chain hashes in TEXT ORDER (d21 hot path): token
    * hashes, then g_i = fold(th[i..i+n-1], (acc,h) -> (acc*31 + h) mod P)
    * at every position — the POSITIONAL counterpart of [[gram5Distinct]]
    * (array index = 0-based token offset, so posexplode recovers the span
    * geometry exact-substring dedup needs). Same values as the SQL
    * `list_transform(range(1, len(th) - n + 2), i -> chain)` twin. Null
    * when the text has < n tokens (no n-grams).
    */
  def gramChain(s: UTF8String, n: Int): ArrayData = {
    val th = tokenHashesRaw(s)
    if (th.length < n) null else new GenericArrayData(wordChain(th, n))
  }

  /** Codepoints of `s`, decoded once — shared by the char-n-gram kernels
    * below (poly-hash semantics are codepoint-addressed, matching
    * `substring`/`ascii` in both engines).
    */
  private def codePointsOf(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var ci = 0
    var k = 0
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      out(k) = cp
      k += 1
      ci += Character.charCount(cp)
    }
    out
  }

  /** Char-n-gram buckets of `s`, or null below n codepoints: element i =
    * polyHash(codepoints [i, i+n)) % m (acc stays in [0, P), so % m is
    * pmod).
    */
  private def charBuckets(s: UTF8String, n: Int, m: Long): Array[Long] = {
    val cps = codePointsOf(s)
    if (cps.length < n) return null
    val out = new Array[Long](cps.length - n + 1)
    var i = 0
    while (i < out.length) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = (acc * 31 + cps(i + j)) % P; j += 1 }
      out(i) = acc % m
      i += 1
    }
    out
  }

  /** Char-n-gram model buckets in one pass (t18 model-build hot path):
    * element i = pmod(polyHash(substring(s, i+1, n)), m) — bit-identical
    * to the exploded `pmod(graft_poly_hash(g), m)` over
    * [[CharGramsExpr]]'s grams it replaces, without allocating a
    * UTF8String per position. Null when the text has < n codepoints (no
    * n-grams — the generator twin emitted no rows there).
    */
  def gramBuckets(s: UTF8String, n: Int, m: Long): ArrayData = {
    val out = charBuckets(s, n, m)
    if (out == null) null else new GenericArrayData(out)
  }

  /** Whole-document trigram-LM scoring in one pass (t18 probe hot path):
    * for each char-n-gram position, bucket as [[gramBuckets]], then a
    * binary search into the SORTED model bucket array `bs` (counts
    * parallel in `cs`); a hit contributes (1, count) to
    * (n_tris, familiarity). Replaces explode → broadcast-hash-join →
    * per-doc re-aggregation: same (doc, n_tris, familiarity) values —
    * the join was inner on a model built FROM the same corpus, so every
    * probe gram hits, and summation order is irrelevant for exact int64
    * counts. Null when the text has < n codepoints (the generator twin
    * emitted no rows, so the doc was absent from the join result — the
    * caller filters those out identically).
    */
  def lmFamiliarity(s: UTF8String, n: Int, m: Long, bs: ArrayData,
      cs: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val buckets = charBuckets(s, n, m)
    if (buckets == null) return null
    var nt = 0L
    var fam = 0L
    var i = 0
    while (i < buckets.length) {
      val idx = sortedIndex(bs, buckets(i))
      if (idx >= 0) { nt += 1; fam += cs.getLong(idx) }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nt, fam))
  }

  /** Winnowing anchor selection (Schleimer/Wilkerson/Aiken, SIGMOD 2003) in
    * ONE pass: over the word-n-gram chain hashes, every window of `w`
    * consecutive grams selects its minimum (ties → the EARLIEST position,
    * i.e. the (value, pos)-lexicographic min), and the distinct selected
    * (pos, gram) pairs are returned in position order. GUARANTEE: two docs
    * sharing an exact span of ≥ n + w − 1 tokens share a fully-contained
    * gram window, whose min is a pure function of the shared content — so
    * both docs select the same anchor and an anchor equi-join cannot miss
    * the pair (d23's theorem, the d15 discipline). Selection runs a
    * monotonic deque (amortized O(L)); same values as the SQL
    * list_min/list_position twin. Null when the text has < n + w − 1
    * tokens (no full window).
    */
  def winnow(s: UTF8String, n: Int, w: Int): ArrayData = {
    val th = tokenHashesRaw(s)
    if (th.length < n + w - 1) return null
    val gs = wordChain(th, n)
    val nG = gs.length
    // monotonic deque of gram indices: values strictly increasing front to
    // back; equal values keep the EARLIER index (push pops only strictly
    // larger backs), so the front is the (value, pos)-lexicographic min.
    val dq = new Array[Int](nG)
    var head = 0; var tail = 0 // [head, tail)
    val selPos = new java.util.LinkedHashSet[Integer]()
    var i = 0
    while (i < nG) {
      while (tail > head && gs(dq(tail - 1)) > gs(i)) tail -= 1
      dq(tail) = i; tail += 1
      val winStart = i - w + 1
      if (winStart >= 0) {
        while (dq(head) < winStart) head += 1
        selPos.add(dq(head))
      }
      i += 1
    }
    val rows = new Array[Any](selPos.size)
    val it = selPos.iterator()
    var k = 0
    while (it.hasNext) {
      val p = it.next().intValue()
      rows(k) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](p, gs(p)))
      k += 1
    }
    new GenericArrayData(rows)
  }

  /** The distinct values of `gs`, ascending (a sorted copy; `gs` is left
    * as it is).
    */
  private def sortedDistinct(gs: ArrayData): Array[Long] = {
    val arr = new Array[Long](gs.numElements())
    var i = 0
    while (i < arr.length) { arr(i) = gs.getLong(i); i += 1 }
    java.util.Arrays.sort(arr)
    var d = 0
    i = 0
    while (i < arr.length) {
      if (d == 0 || arr(i) != arr(d - 1)) { arr(d) = arr(i); d += 1 }
      i += 1
    }
    if (d == arr.length) arr else java.util.Arrays.copyOf(arr, d)
  }

  /** Binary search of `v` in the ascending long array `arr`: an index
    * holding `v`, or -1.
    */
  private def sortedIndex(arr: ArrayData, v: Long): Int = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = arr.getLong(mid)
      if (x == v) return mid
      else if (x < v) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** d27/s35's Bloom probe kernel: the count of DISTINCT gram hashes in
    * `gs` whose every probe bit is set in the `bloom` word array (m =
    * 64·|bloom| bits, k probes). Probe i of gram g is the
    * Kirsch–Mitzenmacher double hash (h1 + i·h2) % P % m with
    * h1 = g·2654435761 % P and h2 = (g·1099087573 % P) | 1 — two
    * independent multiplicative mixes (an affine-in-i family derived from
    * ONE mix measured ~10× the ideal FPR; see d28's BASELINE numbers) in
    * plain BIGINT arithmetic both engines evaluate identically (no
    * engine-native hash), so the filter CONTENT is oracle-exact, not just
    * its verdicts. Same distinct-count semantic
    * as [[sortedHits]] (the exact gate this approximates): no false
    * negatives by construction; false positives are what d28 measures.
    */
  def bloomHits(gs: ArrayData, bloom: ArrayData, k: Int): Int = {
    val w = bloom.numElements()
    if (w == 0) return 0
    val m = w.toLong * 64L
    val vs = sortedDistinct(gs)
    var hits = 0
    var i = 0
    while (i < vs.length) {
      // floorMod: canonical gram hashes are non-negative (graft_gram_chain
      // mods by P), but graft_bloom_hits is reachable from ad-hoc SQL with
      // arbitrary array<bigint> input — a negative value under `%` would
      // drive the probe position negative and index out of the word
      // array. floorMod is a no-op on the canonical inputs, so the SQL
      // twins are unchanged.
      val g = java.lang.Math.floorMod(vs(i), P)
      val h1 = g * 2654435761L % P
      val h2 = g * 1099087573L % P | 1L
      var all = true
      var j = 0
      while (all && j < k) {
        val p = (h1 + j * h2) % P % m
        all = (bloom.getLong((p >>> 6).toInt) >>> (p & 63L).toInt & 1L) == 1L
        j += 1
      }
      if (all) hits += 1
      i += 1
    }
    hits
  }

  /** Count of DISTINCT values of `gs` present in the SORTED array `snap` —
    * bit-equal to `size(array_intersect(gs, snap))` when snap is sorted
    * and distinct (s33's snapshot artifact contract), but O(|gs|·log|snap|)
    * per row instead of array_intersect's per-ROW O(|snap|) hash-set
    * rebuild: the snapshot is the big side and arrives as the same
    * broadcast value on every row, so rebuilding its set per arrival
    * dominated the sf1 wall (16.2 s → the streaming floor).
    */
  def sortedHits(gs: ArrayData, snap: ArrayData): Int = {
    if (snap.numElements() == 0) return 0
    val vs = sortedDistinct(gs)
    var hits = 0
    var i = 0
    while (i < vs.length) { if (sortedIndex(snap, vs(i)) >= 0) hits += 1; i += 1 }
    hits
  }

  /** Repetition statistics in ONE pass (t06 hot path — the Gopher-style
    * repetition filters a training pipeline gates on): tokens split on
    * single spaces (empty tokens kept, Java `split(" ", -1)` — identical to
    * Spark `split` and DuckDB `string_split`), counted EXACTLY by token
    * string (no hashing, so there is no collision caveat vs the oracle's
    * unnest+group-by). Returns (n_tokens, n_uniq_tokens, top_tok_n,
    * top_bigram_n); top_bigram_n is 0 below 2 tokens (no bigrams).
    */
  def repStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = s.toString.split(" ", -1)
    val n = toks.length
    val counts = new java.util.HashMap[String, Integer](n * 2)
    var topTok = 0
    var i = 0
    while (i < n) {
      val c = counts.merge(toks(i), 1, (a, b) => a + b)
      if (c > topTok) topTok = c
      i += 1
    }
    var topBig = 0
    if (n >= 2) {
      val bcounts = new java.util.HashMap[String, Integer](n * 2)
      var j = 0
      while (j < n - 1) {
        val c = bcounts.merge(toks(j) + " " + toks(j + 1), 1, (a, b) => a + b)
        if (c > topBig) topBig = c
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, counts.size, topTok, topBig))
  }

  /** The t09 blocklist — canonical term list lives here so the kernel and
    * graft.ext.TextOps' oracle SQL share one source of truth.
    */
  val blockTerms: Seq[String] = Seq("customer", "spark", "vector")
  private val blockTermBytes: Array[Array[Byte]] =
    blockTerms.map(_.getBytes("UTF-8")).toArray
  private val maskBytes = "<MASK>".getBytes("UTF-8")

  /** ASCII word-class byte — the ORACLE's boundary semantics: DuckDB's RE2
    * `\b` uses ASCII `\w` = [a-zA-Z0-9_], so a byte ≥ 0x80 (non-ASCII
    * char) is a boundary. NOTE: java.util.regex's `\b` is Unicode-aware
    * ('é' counts as a word char), so the PREVIOUS regex-based engine path
    * silently disagreed with the oracle on terms adjacent to non-ASCII
    * text; this kernel pins the RE2 definition (property-tested against
    * explicit ASCII-lookaround regexes in TextHashSpec).
    */
  private def isWordByte(b: Byte): Boolean = {
    val c = b & 0xff
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
  }

  /** t09's scrub + counts in ONE byte scan: replicates
    * `regexp_extract_all/regexp_replace(text, '\b(t1|t2|t3)\b')` —
    * left-to-right scan, alternatives tried in list order at each position,
    * non-overlapping, `\b` = ASCII word-boundary — while also counting each
    * term's hits, so the N+1 java.util.regex passes collapse to one scan.
    * Returns (n_<term>..., n_hits, scrub).
    */
  def blockScrub(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val nt = blockTermBytes.length
    val counts = new Array[Int](nt)
    var hits = 0
    val out = new java.io.ByteArrayOutputStream(n + 16)
    var i = 0
    while (i < n) {
      var matched = -1
      if (i == 0 || !isWordByte(bytes(i - 1))) {
        var t = 0
        while (t < nt && matched < 0) {
          val term = blockTermBytes(t)
          val len = term.length
          if (i + len <= n &&
              java.util.Arrays.equals(bytes, i, i + len, term, 0, len) &&
              (i + len == n || !isWordByte(bytes(i + len))))
            matched = t
          t += 1
        }
      }
      if (matched >= 0) {
        counts(matched) += 1
        hits += 1
        out.write(maskBytes, 0, maskBytes.length)
        i += blockTermBytes(matched).length
      } else {
        out.write(bytes(i))
        i += 1
      }
    }
    val fields = new Array[Any](nt + 2)
    var k = 0
    while (k < nt) { fields(k) = counts(k); k += 1 }
    fields(nt) = hits
    fields(nt + 1) = UTF8String.fromBytes(out.toByteArray)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields)
  }

  /** The t02 stopword markers — canonical list here so the kernel and
    * graft.ext.TextOps' oracle SQL share one source of truth.
    */
  val qualityStops: Seq[String] = Seq(" the ", " a ", " of ", " and ")
  private val qualityStopBytes: Array[Array[Byte]] =
    qualityStops.map(_.getBytes("UTF-8")).toArray

  /** t02's quality counters in ONE byte scan: spaces, sentence punctuation
    * ([.,!?;:]), and total non-overlapping stopword-marker occurrences —
    * value-identical to the 6 allocating string passes they replace
    * (2 regex char-deletions + 4 `replace`-count folds). ASCII patterns
    * match byte-wise exactly in UTF-8 (self-synchronizing), and counting
    * left-to-right advancing by the pattern length IS `replace`'s
    * non-overlap rule. Counts are char counts (every counted byte is a
    * 1-byte char), matching the oracle's length() arithmetic.
    */
  def qualityStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val n = b.length
    var nSpace = 0
    var nPunct = 0
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == ' ') nSpace += 1
      else if (c == '.' || c == ',' || c == '!' || c == '?' ||
               c == ';' || c == ':') nPunct += 1
      i += 1
    }
    var nStop = 0
    var k = 0
    while (k < qualityStopBytes.length) { nStop += countMatches(b, qualityStopBytes(k)); k += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nSpace, nPunct, nStop))
  }

  /** Non-overlapping occurrences of `p` in `b`, left to right, advancing
    * by the pattern length on a match — `replace`'s rule.
    */
  private def countMatches(b: Array[Byte], p: Array[Byte]): Int = {
    val pl = p.length
    var count = 0
    var j = 0
    while (j + pl <= b.length) {
      var m = 0
      while (m < pl && b(j + m) == p(m)) m += 1
      if (m == pl) { count += 1; j += pl } else j += 1
    }
    count
  }

  /** End (exclusive) of the `w`-token passage that starts at byte `from`:
    * the offset of the w-th space at or after `from`, else the end of the
    * bytes. Tokens are single-space splits, so a passage is the byte
    * slice between every w-th space (0x20 never occurs inside a
    * multi-byte UTF-8 sequence), and w = 1 walks the tokens, empty ones
    * included. Callers step to `end + 1` while the start is <= the length.
    */
  private def passageEnd(bytes: Array[Byte], from: Int, w: Int): Int = {
    var spaces = 0
    var i = from
    while (i < bytes.length) {
      if (bytes(i) == ' ') { spaces += 1; if (spaces == w) return i }
      i += 1
    }
    bytes.length
  }

  /** Aligned `w`-token passages in ONE byte scan (t14 hot path). Because
    * tokens are defined by single-space splits, joining `w` consecutive
    * tokens with single spaces reproduces the original SUBSTRING between
    * those token boundaries — so a passage is just the byte slice between
    * every w-th space ([[passageEnd]]). Value-identical to
    * `transform(sequence(1, ceil(ntoks/w)), i ->
    *    array_join(slice(split(text,' '), (i-1)*w+1, w), ' '))`
    * including empty-token and trailing-space edges, without materializing
    * the token array or re-evaluating the lambda body per element.
    */
  def passages(s: UTF8String, w: Int): ArrayData = {
    // graft_passages rejects foldable w < 1 at analysis time; this guards
    // the direct-call and non-foldable paths the analyzer can't see.
    require(w >= 1, s"passage width must be >= 1, got $w")
    val bytes = s.getBytes
    val out = new java.util.ArrayList[AnyRef](bytes.length / 4 / w + 1)
    var start = 0
    while (start <= bytes.length) {
      val end = passageEnd(bytes, start, w)
      out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, end)))
      start = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Unsigned byte-wise compare of a byte slice against a UTF8String —
    * UTF8String.compareTo semantics (unsigned bytes, then length), i.e.
    * Spark's UTF8_BINARY string order and therefore the order `sort_array`
    * / `array_sort(collect_list(...))` put broadcast model arrays in. The
    * broadcast-model kernels binary-search with this so a token/segment
    * slice never materializes a UTF8String per probe.
    */
  private def cmpSliceVsU8(bytes: Array[Byte], off: Int, len: Int,
      u: UTF8String): Int = {
    val ul = u.numBytes()
    val m = math.min(len, ul)
    var k = 0
    while (k < m) {
      val d = (bytes(off + k) & 0xff) - (u.getByte(k) & 0xff)
      if (d != 0) return d
      k += 1
    }
    len - ul
  }

  /** Binary search of a byte slice in a SORTED array<string> (UTF8_BINARY
    * order — the caller's sort_array contract). Returns the element index
    * or -1.
    */
  private def searchSorted(arr: ArrayData, bytes: Array[Byte], off: Int,
      len: Int): Int = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = cmpSliceVsU8(bytes, off, len, arr.getUTF8String(mid))
      if (c == 0) return mid
      else if (c > 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** t03's token stats in ONE byte scan — replicates
    * `regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)`
    * (left-to-right, alternatives in order, greedy runs: an ASCII letter
    * run, else an ASCII digit run, else ONE codepoint unless it is a
    * space, at which the scan just advances) plus
    * `size(split(text, ' +'))` (space-run count + 1 — Java split keeps
    * leading/trailing empties at limit -1). Distinct matches are counted
    * in a [[SliceSet]] (zero allocation per token); n_uniq is exact
    * (byte-compare on hash hit). The regex form converted the row to a
    * Java String and allocated every match into an array, then
    * array_distinct rebuilt a hash set of UTF8Strings per row — measured
    * 18.8 s at sf10 for t03, the t05 cost shape.
    */
  def bpeishStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    def isLetter(b: Byte): Boolean =
      (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
    def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
    val seen = new SliceSet(bytes, n / 4 + 2)
    var wsRuns = 0
    var total = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == ' ') {
        if (i == 0 || bytes(i - 1) != ' ') wsRuns += 1
        i += 1
      } else {
        val start = i
        if (isLetter(b)) { while (i < n && isLetter(bytes(i))) i += 1 }
        else if (isDigit(b)) { while (i < n && isDigit(bytes(i))) i += 1 }
        else i = nextCodepoint(bytes, i, n)
        total += 1
        seen.add(start, i - start)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, seen.size, wsRuns + 1))
  }

  /** t14's scrub against a broadcast boilerplate lexicon in ONE pass:
    * slices the text into aligned `w`-token passages exactly as
    * [[passages]] does, binary-searches each slice in the SORTED
    * broadcast array, and rebuilds clean_text from the non-matching
    * slices joined with single spaces (= concat_ws(" ", kept segments in
    * text order) — passages are the byte ranges BETWEEN every w-th space,
    * so the rebuild is a byte copy). Replaces posexplode → broadcast hash
    * join → groupBy(doc_id) collect_list + array_sort + HOF filter/concat
    * — the per-doc reassembly re-shuffled every segment of the corpus by
    * doc_id (measured 17.2 s at sf10 for t14).
    */
  def scrubPassages(s: UTF8String, w: Int, bp: ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    require(w >= 1, s"passage width must be >= 1, got $w")
    val bytes = s.getBytes
    val out = new Array[Byte](bytes.length)
    var outW = 0
    var removed = 0L
    var kept = 0
    var start = 0
    while (start <= bytes.length) {
      val end = passageEnd(bytes, start, w)
      if (searchSorted(bp, bytes, start, end - start) >= 0) removed += 1
      else {
        if (kept > 0) { out(outW) = ' '; outW += 1 }
        System.arraycopy(bytes, start, out, outW, end - start)
        outW += end - start
        kept += 1
      }
      start = end + 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromBytes(java.util.Arrays.copyOf(out, outW)),
        removed))
  }

  /** t15's per-doc corpus-frequency score against the broadcast df model
    * (parallel sorted arrays: ts = tokens in UTF8_BINARY order, ds = their
    * document frequencies): distinct tokens of the row (single-space
    * split, empties kept — Spark `split(text, ' ')` + array_distinct
    * semantics), each binary-searched in the model; found tokens count
    * into n_toks and fold df into sum_df. A token absent from the model
    * contributes NOTHING — exactly the old explode → inner join drop.
    * Replaces the second corpus-scale explode + broadcast join +
    * groupBy(doc_id) re-aggregation (measured 10.8 s at sf10 for t15).
    */
  def tokDf(s: UTF8String, ts: ArrayData, ds: ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val seen = new SliceSet(bytes, bytes.length / 4 + 2)
    var nToks = 0L
    var sumDf = 0L
    var start = 0
    while (start <= bytes.length) {
      val end = passageEnd(bytes, start, 1)
      if (seen.add(start, end - start)) {
        val idx = searchSorted(ts, bytes, start, end - start)
        if (idx >= 0) { nToks += 1L; sumDf += ds.getLong(idx) }
      }
      start = end + 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nToks, sumDf))
  }

  /** t17's OOV counters against the broadcast top-K vocabulary (sorted
    * array<string>): every token OCCURRENCE (single-space split, empties
    * kept) counts into n_tokens; occurrences whose token misses the vocab
    * count into n_oov — exactly the old explode → left join null-check.
    * Replaces the corpus-scale explode + join + groupBy(doc_id) pass
    * (measured 9.7 s at sf10 for t17).
    */
  def oovStats(s: UTF8String, vocab: ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    var nTokens = 0L
    var nOov = 0L
    var start = 0
    while (start <= bytes.length) {
      val end = passageEnd(bytes, start, 1)
      nTokens += 1L
      if (searchSorted(vocab, bytes, start, end - start) < 0) nOov += 1L
      start = end + 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, nOov))
  }

  /** DISTINCT single-space-split tokens in ONE pass, FIRST-OCCURRENCE
    * order — bit-identical to `array_distinct(split(text, ' '))` (empty
    * tokens from leading/trailing/consecutive spaces are elements too).
    * A token is a 1-token passage, so this is [[passagesDistinct]] at
    * w = 1. Feeds the t08/t15 models and the d05/d16 cached token sets.
    */
  def distinctTokens(s: UTF8String): ArrayData = passagesDistinct(s, 1)

  /** DISTINCT aligned `w`-token passages in ONE pass, FIRST-OCCURRENCE
    * order — bit-identical to `array_distinct(graft_passages(text, w))`.
    * Fuses the passage walk and array_distinct's per-row UTF8String hash
    * set into one [[SliceSet]] scan: zero allocation per duplicate
    * passage, one UTF8String per DISTINCT one. Feeds the t14 lexicon
    * build, whose explode previously materialized every passage TWICE
    * (the passages array, then array_distinct's rebuilt set).
    */
  def passagesDistinct(s: UTF8String, w: Int): ArrayData = {
    require(w >= 1, s"passage width must be >= 1, got $w")
    val bytes = s.getBytes
    val approx = bytes.length / 4 / w + 2
    val seen = new SliceSet(bytes, approx)
    val out = new java.util.ArrayList[AnyRef](approx)
    var start = 0
    while (start <= bytes.length) {
      val end = passageEnd(bytes, start, w)
      if (seen.add(start, end - start))
        out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, end)))
      start = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** t01's stopword markers per language — canonical list here so the
    * kernel and graft.ext.TextOps' oracle SQL share one source of truth
    * (the blockTerms/qualityStops discipline).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of "),
    "de" -> Seq(" der ", " und ", " das "),
    "fr" -> Seq(" le ", " et ", " la "),
    "es" -> Seq(" el ", " y ", " los "))
  private val langMarkerBytes: Array[Array[Array[Byte]]] =
    langMarkers.map(_._2.map(_.getBytes("UTF-8")).toArray).toArray

  /** t01's per-language marker scores in ONE pass over the byte array:
    * for each language, the sum over its markers of non-overlapping
    * occurrence counts (left-to-right, advance by pattern length on a
    * match — `replace`'s rule, the qualityStats discipline). Replaces 12
    * `length(text) - length(replace(text, kw, ''))` passes, each of which
    * rebuilt the full string per row. ASCII patterns match byte-wise
    * exactly in UTF-8; the counts are exact, so the (len1-len2)/kwlen
    * double division they replace (always an integer value) is reproduced
    * bit-for-bit by the integer count.
    */
  def langScores(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val out = new Array[Any](langMarkerBytes.length)
    var lg = 0
    while (lg < langMarkerBytes.length) {
      val pats = langMarkerBytes(lg)
      var total = 0L
      var k = 0
      while (k < pats.length) { total += countMatches(b, pats(k)); k += 1 }
      out(lg) = total
      lg += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** One BPE merge round over a token array (the applyMerge hot path —
    * s37/p14/p15/t22/t23): greedy leftmost non-overlapping scan merging
    * every adjacent (a, b) token pair into a '_'-joined token. This IS
    * the padded-replace form's semantics — the double-space join with
    * single-space-padded pattern was constructed precisely so that a
    * string match can only align on whole-token boundaries and `replace`
    * consumes left-to-right without overlap (pinned by TextHashSpec's
    * property test against the stock expression chain). Unmerged tokens
    * pass through as references; only merged tokens allocate. The string
    * form allocated the ~1 KB joined string + a full replace scan + a
    * re-split token array PER ROW PER ROUND.
    *
    * Empty winner tokens are REFUSED loudly: with an empty `a` or `b` the
    * padded pattern degenerates into bare space runs whose leftmost match
    * no longer aligns with a unique token pair, so the equivalence above
    * does not hold. No trained winner can be empty unless the corpus
    * carries consecutive-space tokens AND they win a round — refusing
    * beats silently diverging from the oracle.
    */
  def bpeMerge(toks: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    if (a.numBytes() == 0 || b.numBytes() == 0)
      throw new IllegalArgumentException(
        "graft_bpe_merge: empty merge-pair token — the padded-replace " +
          "equivalence requires non-empty winner tokens")
    val n = toks.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (i + 1 < n && t.equals(a) && toks.getUTF8String(i + 1).equals(b)) {
        val bb = toks.getUTF8String(i + 1)
        val merged = new Array[Byte](a.numBytes() + 1 + bb.numBytes())
        a.writeToMemory(merged, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
        merged(a.numBytes()) = '_'
        bb.writeToMemory(merged,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + a.numBytes() + 1)
        out.add(UTF8String.fromBytes(merged))
        i += 2
      } else {
        out.add(t)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** t07/d12's normalization tail in ONE byte pass over the ALREADY
    * LOWERCASED input (the engine keeps Spark's own `lower()` in front, so
    * Unicode case mapping stays bit-identical to the stock path):
    * delete [.,!?;:], collapse space runs to one space, trim edge spaces —
    * the exact composition trim(regexp_replace(regexp_replace(x,
    * '[.,!?;:]', ''), ' +', ' ')). Deleted punctuation does NOT break a
    * space run (deletion happens "first"), which the pendingSpace flag
    * reproduces: punctuation bytes are skipped without touching the flag.
    * All patterns are ASCII bytes, safe in UTF-8 (continuation bytes are
    * >= 0x80). Replaces two java.util.regex passes + their String
    * materializations per row (t07 8.2 s / d12 7.5 s at sf10).
    */
  def normText(s: UTF8String): UTF8String = {
    val b = s.getBytes
    val n = b.length
    val out = new Array[Byte](n)
    var w = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == ' ') pendingSpace = true
      else if (c == '.' || c == ',' || c == '!' || c == '?' ||
               c == ';' || c == ':') ()
      else {
        if (pendingSpace && w > 0) { out(w) = ' '; w += 1 }
        pendingSpace = false
        out(w) = c
        w += 1
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, w))
  }

  /** m09's perceptual media signature: a difference hash (dHash — the
    * published perceptual-hash family member with PURELY LOCAL bit
    * semantics) over `bits`+1 stride-sampled payload bytes: bit i is set
    * iff sample i > sample i+1, samples at positions i·stride for
    * stride = max(1, n / (bits+1)) — the same fixed-count decimation
    * [[thumbHex]] applies, which is what buys size-normalization (the
    * pHash family's resize step). Locality theorem (d26's recall
    * guarantee): ONE substituted byte changes at most one sampled value,
    * which feeds exactly two comparisons — Hamming distance to the
    * original signature ≤ 2, inside the d15 pigeonhole completeness
    * regime. A global-mean hash (aHash) lacks this: one byte shifts the
    * mean and can flip every near-threshold bit. Null when the payload has
    * fewer than bits+1 bytes (decimation would repeat samples and the
    * locality bound degrades — tiny payloads route to exact-byte dedup).
    * Deterministic integer arithmetic end-to-end; the DuckDB twin computes
    * the same comparisons via ascii(substr(...)) (byte = codepoint on the
    * ASCII testdata, the m03/m04 contract).
    */
  def dHash(s: UTF8String, bits: Int): java.lang.Long = {
    require(bits >= 1 && bits <= 62, s"dhash bits=$bits out of range [1, 62]")
    val bytes = s.getBytes
    val n = bytes.length
    if (n < bits + 1) return null
    val stride = math.max(1, n / (bits + 1))
    var h = 0L
    var i = 0
    while (i < bits) {
      if ((bytes(i * stride) & 0xff) > (bytes((i + 1) * stride) & 0xff))
        h |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  /** The four independent multiplicative mixes of [[byteMinhash]] — the
    * Kirsch–Mitzenmacher pair the Bloom probe already uses plus two more
    * public 32-bit hash primes (xxhash's PRIME32_2/PRIME32_4 family).
    * Each must stay < 2^32 so g·C < 2^62 never overflows a signed long.
    */
  val MinhashMixes: Array[Long] =
    Array(2654435761L, 1099087573L, 2246822519L, 3266489917L)

  /** The byte k-gram chain of `s`, or null below k bytes: element i =
    * fold(bytes[i, i+k), (acc, b) -> (acc*31 + b) mod P) over unsigned
    * bytes, rolled with [[pow31]].
    */
  private def byteChain(s: UTF8String, k: Int): Array[Long] = {
    require(k >= 1 && k <= 64, s"byte gram width $k out of range [1, 64]")
    val bytes = s.getBytes
    if (bytes.length < k) return null
    val out = new Array[Long](bytes.length - k + 1)
    val lead = pow31(k)
    var g = 0L
    var j = 0
    while (j < k) { g = (g * 31 + (bytes(j) & 0xff)) % P; j += 1 }
    out(0) = g
    var i = 1
    while (i < out.length) {
      g = ((g - (bytes(i - 1) & 0xff) * lead % P + P) * 31 +
        (bytes(i + k - 1) & 0xff)) % P
      out(i) = g
      i += 1
    }
    out
  }

  /** d29/m10's ALIGNMENT-TOLERANT media signature: 4 independent
    * min-hashes over the payload's byte k-gram rolling hashes, each
    * truncated to 15 bits and packed into one 60-bit long — the d15/d25
    * pigeonhole geometry, but with SET semantics instead of positional
    * ones. Where m09's dHash samples bytes at fixed strides (so ANY
    * insert/delete shifts every downstream sample and the signature
    * decorrelates — the round-15 declared boundary), a 1-byte edit here
    * perturbs at most 2k−1 of the ~n byte k-grams: the gram SET's Jaccard
    * stays ≥ (G−k)/(G+k−1), each block's min-hash survives with that
    * probability, and two surviving blocks put the pair inside pigeonhole
    * completeness. Block j = (min over grams g of g·C_j mod P) mod 2^15,
    * i.e. [[byteMinhashArr]]`(s, k, 4)` packed. Null when the payload has
    * fewer than k bytes. Byte-addressed deterministic integer arithmetic;
    * the DuckDB twin computes the same chain via ascii(substr(...)) (byte
    * = codepoint on the ASCII testdata, the m03/m04 contract).
    */
  def byteMinhash(s: UTF8String, k: Int): java.lang.Long = {
    val m = byteMins(byteChain(s, k), 4)
    if (m == null) null
    else java.lang.Long.valueOf((m(0) % 32768L) | ((m(1) % 32768L) << 15) |
      ((m(2) % 32768L) << 30) | ((m(3) % 32768L) << 45))
  }

  /** 16 further multiplicative mixes for d29's declared SKETCH pre-gate:
    * odd golden-ratio multiples mod 2^32 (deterministic formula, so the
    * oracle generator interpolates the same values), each < 2^32 so
    * g·C < 2^62 never overflows — the [[MinhashMixes]] contract.
    */
  val VerifyMixes: Array[Long] =
    Array.tabulate(16)(j => (2654435761L * (2 * j + 3)) % 4294967296L | 1L)

  /** Every byte-minhash mix in index order: [[MinhashMixes]], then
    * [[VerifyMixes]].
    */
  private val AllMixes: Array[Long] = MinhashMixes ++ VerifyMixes

  /** d29's UNTRUNCATED signature: the first `n` byte-k-gram min-hashes as
    * raw values mod P — indexes 0–3 are exactly [[byteMinhash]]'s four
    * minima BEFORE the 15-bit truncation (packing the first four mod 2^15
    * reproduces the m10 signature bit-for-bit — spec-pinned), indexes
    * 4–19 are the [[VerifyMixes]] sketch the verify pre-gate compares at
    * FULL resolution. Keeping the values raw is what makes the block-key
    * width a JOIN-TIME knob (truncate with `% 2^w` at key build — higher
    * widths strictly refine lower, the round-16 verdict's d07 discipline)
    * instead of a baked 60-bit layout. One rolling byte scan per row
    * regardless of n. Null when the payload has fewer than k bytes.
    */
  def byteMinhashArr(s: UTF8String, k: Int, n: Int): ArrayData = {
    val gs = byteChain(s, k)
    require(n >= 1 && n <= AllMixes.length, s"minhash count $n out of range [1, 20]")
    val m = byteMins(gs, n)
    if (m == null) null else ArrayData.toArrayData(m)
  }

  /** For each of the first `n` mixes C, the minimum over grams g of
    * g·C mod P; null when `gs` is.
    */
  private def byteMins(gs: Array[Long], n: Int): Array[Long] = {
    if (gs == null) return null
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < gs.length) {
      var b = 0
      while (b < n) {
        val v = gs(i) * AllMixes(b) % P
        if (v < mins(b)) mins(b) = v
        b += 1
      }
      i += 1
    }
    mins
  }

  /** t21's profile-scoring kernel: the count of n-gram POSITIONS of `s`
    * whose n-byte window equals any member of `grams` (a small literal
    * profile set — all members must share one byte width n ≤ 8). One
    * rolling byte scan per row: the window packs into a long
    * ([[packGram]]), membership is a binary search over the packed
    * profile — where the HOF twin
    * (`list_filter(range(...), i -> list_contains(profile, substr(...)))`)
    * allocates a substring and linear-scans the profile per position,
    * interpreted. Byte-addressed (byte = codepoint on the ASCII testdata,
    * the m03/m04 contract); counts every position including overlaps —
    * exactly `len − n + 1` windows, 0 when the text is shorter than n.
    */
  def gramHits(s: UTF8String, grams: ArrayData): Int = {
    val m = grams.numElements()
    if (m == 0) return 0
    val n = grams.getUTF8String(0).numBytes()
    require(n >= 1 && n <= 8,
      s"profile gram width $n out of range [1, 8]")
    val packed = new Array[Long](m)
    var i = 0
    while (i < m) {
      val g = grams.getUTF8String(i)
      require(g.numBytes() == n,
        s"profile grams must share one byte width ($n): got ${g.numBytes()}")
      packed(i) = packGram(g)
      i += 1
    }
    java.util.Arrays.sort(packed)
    val bytes = s.getBytes
    val len = bytes.length
    if (len < n) return 0
    val mask = if (n == 8) -1L else (1L << (8 * n)) - 1
    var hits = 0
    var w = 0L
    i = 0
    while (i < n - 1) { w = (w << 8) | (bytes(i) & 0xff); i += 1 }
    while (i < len) {
      w = ((w << 8) | (bytes(i) & 0xff)) & mask
      if (java.util.Arrays.binarySearch(packed, w) >= 0) hits += 1
      i += 1
    }
    hits
  }

  /** Pack a gram's UTF-8 bytes (width 1..8) into one big-endian long —
    * the [[gramHits]] window encoding, exposed as an expression so the
    * merged language-id artifact can pre-pack its gram table at PLAN time
    * (one tiny aggregation) instead of per row per profile.
    */
  def packGram(g: UTF8String): Long = {
    val gb = g.getBytes
    val n = gb.length
    require(n >= 1 && n <= 8, s"gram byte width $n out of range [1, 8]")
    var v = 0L
    var j = 0
    while (j < n) { v = (v << 8) | (gb(j) & 0xff); j += 1 }
    v
  }

  /** t21's MERGED profile scorer (round-20, verdict r19 item 2): per-LANG
    * hit counts for ALL languages in one call — `profs` is the pre-packed
    * artifact, one struct per DISTINCT byte width w:
    * (w int, packed array<bigint> SORTED, li array<int> parallel lang
    * index). Returns array<int> of length `nlangs` where entry l = the
    * number of byte windows of `s` matching any of language l's grams.
    *
    * Scale law this replaces: [[gramHits]] ran one rolling scan (plus a
    * per-ROW pack+sort of the profile) per LANGUAGE per row — linear in
    * language count (measured: t21 11.7 → 15.2 s at sf10 going 7 → 9
    * profiles). Here the scan count is the number of DISTINCT widths
    * (bounded at 8 by the long pack — 4 for the shipped 9 languages:
    * Latin 3, Arabic 5, Cyrillic/CJK 6, hangul 7) and each window costs
    * one binary search over that width's MERGED table — O(len · widths ·
    * log grams), flat in language count. Duplicate grams across
    * languages (legal in a deployment's table) are honored by walking
    * the equal run around the binary-search hit; window semantics are
    * bit-identical to [[gramHits]] per language, which the unchanged
    * t21/s36/p13 oracle hashes pin.
    */
  def gramHitsAll(s: UTF8String, profs: ArrayData, nlangs: Int): ArrayData = {
    val counts = new Array[Int](nlangs)
    val bytes = s.getBytes
    val len = bytes.length
    val np = profs.numElements()
    var p = 0
    while (p < np) {
      val prof = profs.getStruct(p, 3)
      val n = prof.getInt(0)
      require(n >= 1 && n <= 8,
        s"profile gram width $n out of range [1, 8]")
      val packed = prof.getArray(1)
      val li = prof.getArray(2)
      val m = packed.numElements()
      if (m > 0 && len >= n) {
        val mask = if (n == 8) -1L else (1L << (8 * n)) - 1
        var w = 0L
        var i = 0
        while (i < n - 1) { w = (w << 8) | (bytes(i) & 0xff); i += 1 }
        while (i < len) {
          w = ((w << 8) | (bytes(i) & 0xff)) & mask
          val hit = sortedIndex(packed, w)
          if (hit >= 0) {
            // walk the equal run: a gram shared by several languages
            // scores each of them (the per-language kernel's semantics)
            var a = hit
            while (a > 0 && packed.getLong(a - 1) == w) a -= 1
            while (a < m && packed.getLong(a) == w) {
              counts(li.getInt(a)) += 1
              a += 1
            }
          }
          i += 1
        }
      }
      p += 1
    }
    new GenericArrayData(counts)
  }

  /** Positional byte k-gram rolling hashes (the byte-level twin of
    * [[gramChain]]): element i = the chain over bytes [i, i+k). Feeds
    * d29's exact gram-set Jaccard verify (array_distinct on top gives the
    * shingle set). Null when the payload has fewer than k bytes.
    */
  def byteGramChain(s: UTF8String, k: Int): ArrayData = {
    val gs = byteChain(s, k)
    if (gs == null) null else new GenericArrayData(gs)
  }

  /** Strided byte-sample "thumbnail" hex (m05's resize stub): uppercase hex
    * of UTF-8 bytes 0, stride, 2·stride, … for min(k, n) samples with
    * stride = max(1, n / k) — byte-identical to the SQL
    * `concat_ws('', transform(sequence(...), i -> substr(hex(encode(text)),
    * 1 + i*stride*2, 2)))` form it replaces, which re-hexed the whole text
    * per sampled byte (O(n·k) per row).
    */
  def thumbHex(s: UTF8String, k: Int): UTF8String = {
    require(k >= 1, s"thumb byte budget must be >= 1, got $k")
    val bytes = s.getBytes
    val n = bytes.length
    val m = math.min(k, n)
    val stride = math.max(1, n / k)
    val hex = "0123456789ABCDEF".getBytes
    val out = new Array[Byte](2 * m)
    var i = 0
    while (i < m) {
      val b = bytes(i * stride) & 0xff
      out(2 * i) = hex(b >>> 4)
      out(2 * i + 1) = hex(b & 15)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Fixed-width hex tile chunks (m07's explode kernel): uppercase hex of
    * UTF-8 bytes [t·w, (t+1)·w) for t = 0 … ceil(n/w)−1. Element-identical
    * to the `transform(sequence(1, ceil(len/(2w))), i ->
    * substr(hex(encode(text)), (i−1)·2w + 1, 2w))` HOF form it replaces,
    * which materialized the full hex string per row and re-sliced it
    * through an interpreted lambda per tile.
    */
  def hexTiles(s: UTF8String, w: Int): ArrayData = {
    require(w >= 1, s"tile byte width must be >= 1, got $w")
    val bytes = s.getBytes
    val n = bytes.length
    val hex = "0123456789ABCDEF".getBytes
    val nt = (n + w - 1) / w
    val out = new Array[AnyRef](nt)
    var t = 0
    while (t < nt) {
      val start = t * w
      val end = math.min(start + w, n)
      val o = new Array[Byte](2 * (end - start))
      var i = start
      while (i < end) {
        val b = bytes(i) & 0xff
        o(2 * (i - start)) = hex(b >>> 4)
        o(2 * (i - start) + 1) = hex(b & 15)
        i += 1
      }
      out(t) = UTF8String.fromBytes(o)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** 60-bit SimHash over token hashes: 4 blocks × 15 bits. Block k derives
    * per-token bits from the affine-permuted hash `(A(k)*h + B(k)) mod P`
    * (the MinHash permutation family — independent ~30-bit streams from one
    * ~30-bit token hash); bit b of block k is set iff the ±1 vote sum over
    * tokens (bit b of the permuted hash) is positive. 60 bits (not 64) keeps
    * every partial sum and the final value sign-safe in BOTH engines — the
    * DuckDB twin builds the value as a SUM of 2^pos terms, and 2^63 would
    * overflow signed BIGINT. 15-bit blocks make pigeonhole block collisions
    * ~2⁻¹⁵, so d15's candidate join stays sharp on clustered corpora (the
    * old 16-bit/4-bit-block demo went quadratic at sf1: 38× on 10× data).
    */
  def simHash(s: UTF8String): Long = {
    val th = tokenHashesRaw(s)
    val votes = new Array[Int](60)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var k = 0
      while (k < 4) {
        val hk = (A(k) * h + B(k)) % P
        val base = 15 * k
        var b = 0
        while (b < 15) {
          if (((hk >>> b) & 1L) == 1L) votes(base + b) += 1
          else votes(base + b) -= 1
          b += 1
        }
        k += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Float-array similarity kernels (graft.ext.Similarity hot path). Sequential
  * left folds in double precision — bit-identical to the SQL
  * `aggregate(zip_with(...))` / DuckDB `list_reduce` forms, INCLUDING their
  * null semantics: mismatched lengths → null (zip_with pads with null, which
  * nulls the fold) and zero-norm cosine → null (SQL division by zero is
  * null, not NaN — and Spark sorts NaN ABOVE every real value, so a NaN here
  * would float garbage to the top of a similarity ranking).
  */
object VecOps {

  /** Sequential-fold dot product of two float arrays (cast each element to
    * double, multiply, then left-fold the sum in array order); null when the
    * lengths differ.
    */
  def dotF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Cosine similarity with the same fold for numerator and both norms;
    * null on length mismatch or a zero-norm side.
    */
  def cosF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val d = dotF(a, b)
    if (d == null) return null
    val denom = math.sqrt(dotF(a, a)) * math.sqrt(dotF(b, b))
    if (denom == 0.0) null else d.doubleValue() / denom
  }

  /** Double-array variants (elements are already doubles; the fold is the
    * same cast-to-double sequence, so float/double inputs share semantics).
    */
  def dotD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  def cosD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val d = dotD(a, b)
    if (d == null) return null
    val denom = math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))
    if (denom == 0.0) null else d.doubleValue() / denom
  }

  /** Squared-L2 distance, same sequential-fold discipline (per-element
    * subtract → square → accumulate, in array order — the exact IEEE op
    * sequence of `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), ...)` and
    * its DuckDB `list_reduce` twin); null on length mismatch. The x11
    * k-means assignment hot path.
    */
  def d2F(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def d2D(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** The k-means assignment argmin (the SQL
    * `array_min(transform(cents, ct -> struct(dd, c)))` that
    * [[graft.ext.Similarity.bestCell]] replaced) as one compiled loop:
    * over `cents` (array<struct<cluster int, cvec array<double>>>), the
    * (squared-L2, cluster)-lexicographic minimum — same [[d2D]] fold per
    * candidate, ties to the lowest cluster id. Returns (dd, c) as an
    * InternalRow, or null when the codebook is empty or any cvec width
    * differs from `e`'s (the strict-null contract [[adcTermD]]
    * documents). This is the Lloyd hot path: every assignment round of
    * every kmeans-family query evaluated the HOF lambda interpreted with
    * one struct allocation per centroid per row — at auto-k (k≈n/256)
    * that is ~n²/256 allocations per round.
    */
  def bestCellD(e: ArrayData, cents: ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = cents.numElements()
    if (n == 0) return null
    val len = e.numElements()
    var bestDd = 0.0
    var bestC = 0
    var found = false
    var i = 0
    while (i < n) {
      val st = cents.getStruct(i, 2)
      val c = st.getInt(0)
      val cv = st.getArray(1)
      if (cv.numElements() != len) return null
      var acc = 0.0
      var j = 0
      while (j < len) {
        val d = e.getDouble(j) - cv.getDouble(j)
        acc += d * d
        j += 1
      }
      val cmp = java.lang.Double.compare(acc, bestDd)
      if (!found || cmp < 0 || (cmp == 0 && c < bestC)) {
        bestDd = acc; bestC = c; found = true
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestDd, bestC))
  }

  /** Encode-only variant over a subspace window (x18's flat-PQ `code_s`):
    * the cluster id of the (dd, cluster)-argmin codeword for
    * `e[off, off+len)`. Same strict-null contract.
    */
  def codeD(e: ArrayData, cents: ArrayData, off: Int,
      len: Int): java.lang.Integer = {
    if (e.numElements() < off + len) return null
    val n = cents.numElements()
    if (n == 0) return null
    var bestDd = 0.0
    var bestC = 0
    var found = false
    var i = 0
    while (i < n) {
      val st = cents.getStruct(i, 2)
      val c = st.getInt(0)
      val cv = st.getArray(1)
      if (cv.numElements() != len) return null
      var acc = 0.0
      var j = 0
      while (j < len) {
        val d = e.getDouble(off + j) - cv.getDouble(j)
        acc += d * d
        j += 1
      }
      val cmp = java.lang.Double.compare(acc, bestDd)
      if (!found || cmp < 0 || (cmp == 0 && c < bestC)) {
        bestDd = acc; bestC = c; found = true
      }
      i += 1
    }
    bestC
  }

  /** One IVF-PQ asymmetric-distance TERM (the per-subspace encode + score
    * of [[graft.ext.Similarity.adcTerm]]) as a single compiled loop:
    * over the `cents` codebook (array<struct<cluster int, cvec
    * array<double>>>), find the codeword minimizing the squared L2 to
    * `r[off, off+len)` — ties to the LOWEST cluster id, exactly the
    * lexicographic (dd, cluster) struct-min the SQL `array_min(transform(
    * ...))` form computes — then return the squared L2 from
    * `rqe[off, off+len)` to that codeword. Every distance is the same
    * sequential left-fold as [[d2D]] over the offset window, so the value
    * is bit-identical to the slice+HOF form it replaces; what it removes
    * is the per-row interpreted lambda + one named_struct allocation PER
    * CODEWORD per subspace (at kcode=64 that was 256 allocations per
    * scored candidate — the ADC scan's hot path, x23/x25/x28/s31/s32 and
    * every recall curve). Null when either window exceeds its array or
    * any codeword width differs from `len` (the HOF form degrades
    * entry-by-entry on malformed codebooks; a codebook is fixed-width by
    * construction, so strict-null is the honest contract).
    */
  def adcTermD(r: ArrayData, rqe: ArrayData, cents: ArrayData,
      off: Int, len: Int): java.lang.Double = {
    if (r.numElements() < off + len || rqe.numElements() < off + len)
      return null
    val n = cents.numElements()
    if (n == 0) return null
    var bestDd = 0.0
    var bestC = 0
    var bestIdx = -1
    var i = 0
    while (i < n) {
      val st = cents.getStruct(i, 2)
      val c = st.getInt(0)
      val cv = st.getArray(1)
      if (cv.numElements() != len) return null
      var acc = 0.0
      var j = 0
      while (j < len) {
        val d = r.getDouble(off + j) - cv.getDouble(j)
        acc += d * d
        j += 1
      }
      val cmp = java.lang.Double.compare(acc, bestDd)
      if (bestIdx < 0 || cmp < 0 || (cmp == 0 && c < bestC)) {
        bestDd = acc; bestC = c; bestIdx = i
      }
      i += 1
    }
    val cv = cents.getStruct(bestIdx, 2).getArray(1)
    var acc = 0.0
    var j = 0
    while (j < len) {
      val d = rqe.getDouble(off + j) - cv.getDouble(j)
      acc += d * d
      j += 1
    }
    acc
  }

  /** INT8 symmetric scalar quantization (x09/x10 hot path): code_i =
    * floor(x_i / max|x| × 127 + 0.5), every step in doubles — bit-identical
    * to the SQL `transform(...)` / DuckDB `list_transform` form it
    * replaces (float→double is exact; same left-to-right fold). Null for
    * the all-zero vector (max|x| ≤ 0), mirroring the oracle's `mx > 0`
    * filter.
    */
  def q127F(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > mx) mx = v
      i += 1
    }
    if (mx <= 0.0) return null
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(a.getFloat(i).toDouble / mx * 127.0 + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  def q127D(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getDouble(i))
      if (v > mx) mx = v
      i += 1
    }
    if (mx <= 0.0) return null
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(a.getDouble(i) / mx * 127.0 + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact int64 dot product of two BIGINT code arrays; null on length
    * mismatch (the `aggregate(zip_with(...))` null-padding semantics).
    */
  def dotI(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** Coefficient of the deterministic hyperplane j at component i
    * (0-based): hash-mix ((i+1)·(2j+3)·2654435761) >> 16, mod 7, minus 3
    * ∈ [-3, 3] — mirrors graft.ext.Similarity.duckPlaneDot exactly
    * (integer division in both engines).
    *
    * The original family ((j·31 + i·17) % 7 − 3) had PERIOD 7 IN j
    * (j·31 ≡ 3j mod 7), so plane 7 duplicated plane 0 — the "8-bit"
    * bucket had 128 effective cells and extra planes added zero
    * discrimination, which the 100× scale checkpoint exposed when the
    * hyperplaneBits knob needed planes beyond 7. The j-scaled stride
    * breaks the period: simulated on 20k Gaussian vectors, all 256
    * 8-bit cells populate (old: 126) and 12 bits give ~3.8k used cells
    * with max cell ≈ 0.14%.
    */
  private def planeCoef(i: Int, j: Int): Int =
    ((((i + 1).toLong * (2 * j + 3) * 2654435761L) >> 16) % 7).toInt - 3

  def planeDot(v: ArrayData, j: Int): Double = {
    var acc = 0.0
    var i = 0
    val n = v.numElements()
    while (i < n) {
      acc += v.getFloat(i).toDouble * planeCoef(i, j)
      i += 1
    }
    acc
  }

  private def planeDotD(v: ArrayData, j: Int): Double = {
    var acc = 0.0
    var i = 0
    val n = v.numElements()
    while (i < n) {
      acc += v.getDouble(i) * planeCoef(i, j)
      i += 1
    }
    acc
  }

  /** `bits`-bit random-hyperplane LSH bucket id: Σ 2^j · [planeDot(v,j) > 0]
    * over planes 0..bits-1. Because plane j is defined for every j, a
    * higher-bit bucket REFINES a lower-bit one (identical low bits), so
    * raising `bits` strictly partitions each coarser cell — the scaling
    * knob for fixed-cell-count quadratic growth: cells double per added
    * bit, keeping expected cell occupancy (and the within-cell pairwise
    * candidate count) flat as the corpus grows. Default 8 = the declared
    * d07/x02/x03 oracle contract.
    */
  def lshBucket(v: ArrayData, bits: Int): Int = {
    var out = 0
    var j = 0
    while (j < bits) {
      if (planeDot(v, j) > 0) out |= (1 << j)
      j += 1
    }
    out
  }

  def lshBucket(v: ArrayData): Int = lshBucket(v, 8)

  def lshBucketD(v: ArrayData, bits: Int): Int = {
    var out = 0
    var j = 0
    while (j < bits) {
      if (planeDotD(v, j) > 0) out |= (1 << j)
      j += 1
    }
    out
  }

  def lshBucketD(v: ArrayData): Int = lshBucketD(v, 8)
}
