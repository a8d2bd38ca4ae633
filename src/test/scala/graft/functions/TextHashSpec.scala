package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Kernel-level contract: the native implementations must equal the SQL
  * folds they replaced (graft.ext.PortableHash), including the edge cases
  * that round 1's interpreted HOFs defined — empty tokens hash to 0,
  * codepoint (not byte) iteration, <2 tokens → null signature.
  */
class TextHashSpec extends AnyFunSuite {
  private val P = 1000000007L

  /** Straight-line reference fold, kept deliberately naive. */
  private def refPoly(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  private def u(s: String) = UTF8String.fromString(s)

  /** "a " then a 3-byte lead byte (0xE2) cut off by the end of the string;
    * Spark decodes the tail to one U+FFFD, which the references see.
    */
  private val truncatedTail =
    UTF8String.fromBytes(Array[Byte]('a', ' ', 0xE2.toByte))

  /** A 3-byte lead byte (0xE2) followed by ASCII inside the string: Spark
    * decodes `E2 61 62 20 63` to "�ab c", so the lead byte is one
    * codepoint and swallows nothing after it.
    */
  private val invalidLead =
    UTF8String.fromBytes(Array(0xE2, 0x61, 0x62, 0x20, 0x63).map(_.toByte))

  private def hex(s: UTF8String): String =
    s.getBytes.map(b => f"${b & 0xff}%02X").mkString(" ")

  /** `count` seeded byte strings built from ASCII words, spaces,
    * well-formed multi-byte sequences and ill-formed ones: invalid lead
    * bytes mid-string, stray continuation bytes, overlong forms, an
    * encoded surrogate, out-of-range leads and truncated sequences.
    */
  private def malformedInputs(seed: Long, count: Int): Seq[UTF8String] = {
    val pieces: IndexedSeq[Seq[Int]] = IndexedSeq(
      Seq('a'), Seq('Z'), Seq('7'), Seq('x', 'y'), Seq(' '), Seq(' '), Seq(','),
      Seq(0xC3, 0xA9), Seq(0xE4, 0xB8, 0xAD), Seq(0xF0, 0x9F, 0x98, 0x80),
      Seq(0x80), Seq(0xBF),
      Seq(0xC0, 0x80), Seq(0xC1, 0xBF), Seq(0xE0, 0x80, 0x80), Seq(0xE0, 0x9F),
      Seq(0xF0, 0x80, 0x80, 0x80), Seq(0xF0, 0x8F),
      Seq(0xED, 0xA0, 0x80), Seq(0xF4, 0x90, 0x80, 0x80),
      Seq(0xC3), Seq(0xE2), Seq(0xE2, 0x82), Seq(0xF0, 0x9F), Seq(0xF0, 0x9F, 0x98),
      Seq(0xF5), Seq(0xF8), Seq(0xFF))
    val rnd = new scala.util.Random(seed)
    Seq.fill(count) {
      val parts = Seq.fill(rnd.nextInt(14))(pieces(rnd.nextInt(pieces.length)))
      UTF8String.fromBytes(parts.flatten.map(_.toByte).toArray)
    }
  }

  test("polyHash matches the reference fold") {
    for (s <- Seq("", "a", "hello", "hello world", "trés café", "中文字符",
                  "a b  c", " x ")) {
      assert(TextHash.polyHash(u(s)) === refPoly(s), s"input: '$s'")
    }
  }

  test("polyHash of empty string is 0 (both engines' convention)") {
    assert(TextHash.polyHash(u("")) === 0L)
  }

  test("tokenHashes splits on single spaces keeping empties") {
    val th = TextHash.tokenHashes(u("a  b ")).toLongArray()
    // "a  b ".split(" ", -1) == ["a", "", "b", ""]
    assert(th.toSeq === Seq(refPoly("a"), 0L, refPoly("b"), 0L))
  }

  test("gram5Distinct equals the naive distinct 5-gram chain") {
    def refGrams(s: String): Set[Long] = {
      val th = s.split(" ", -1).map(refPoly)
      (0 to th.length - 5).map { i =>
        th.slice(i, i + 5).reduceLeft((acc, h) => (acc * 31 + h) % P)
      }.toSet
    }
    for (s <- Seq("a b c d e", "a b c d e f g", "x x x x x x",
                  "one two three four five six seven", "a b  c d e f")) {
      val got = TextHash.gram5Distinct(u(s))
      assert(got.toLongArray().toSet === refGrams(s), s)
      assert(got.numElements() === refGrams(s).size, s) // deduped, no repeats
    }
    // < 5 tokens → null (no 5-grams)
    assert(TextHash.gram5Distinct(u("a b c d")) === null)
    assert(TextHash.gram5Distinct(u("")) === null)
  }

  /** The naive word-n-gram chain: each position re-folds its n token hashes. */
  private def refChain(s: String, n: Int): Seq[Long] = {
    val th = s.split(" ", -1).map(refPoly)
    (0 to th.length - n).map(i =>
      th.slice(i, i + n).foldLeft(0L)((acc, h) => (acc * 31 + h) % P))
  }

  /** Word strings over a small alphabet with space bias, so repeated,
    * empty and multi-byte tokens all occur.
    */
  private val wordTexts = {
    import org.scalacheck.Gen
    Gen.listOf(Gen.oneOf("a", "b", "ab", "é", " ", " ")).map(_.mkString)
  }

  test("gramChain equals the naive per-position fold") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    for (s <- Seq("a b c d e", "x x x x x x", "a b  c d e f", "one", "", "中文 字符 ok");
         n <- 1 to 6) {
      val want = refChain(s, n)
      val got = Option(TextHash.gramChain(u(s), n)).map(_.toLongArray().toSeq)
      assert(got === (if (want.isEmpty) None else Some(want)), s"'$s' n=$n")
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(wordTexts, Gen.choose(1, 6)) { (s, n) =>
        val want = refChain(s, n)
        Option(TextHash.gramChain(u(s), n)).map(_.toLongArray().toSeq) ==
          (if (want.isEmpty) None else Some(want))
      })
    assert(r.passed, r.status.toString)
  }

  test("winnow equals the naive per-window minimum, ties to the earliest position") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def ref(s: String, n: Int, w: Int): Option[Seq[(Int, Long)]] = {
      val gs = refChain(s, n)
      if (gs.length < w) None
      else Some((0 to gs.length - w).map { start =>
        (start until start + w).minBy(i => (gs(i), i))
      }.distinct.map(p => (p, gs(p))))
    }
    def got(s: String, n: Int, w: Int): Option[Seq[(Int, Long)]] =
      Option(TextHash.winnow(u(s), n, w)).map { a =>
        (0 until a.numElements()).map { i =>
          val r = a.getStruct(i, 2)
          (r.getInt(0), r.getLong(1))
        }
      }
    for (s <- Seq("a a a a a a", "a b a b a b a", "e d c b a", "a b c d e f g",
                  "one two", "");
         n <- 1 to 3; w <- 1 to 4)
      assert(got(s, n, w) === ref(s, n, w), s"'$s' n=$n w=$w")
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(wordTexts, Gen.choose(1, 4), Gen.choose(1, 5)) { (s, n, w) =>
        got(s, n, w) == ref(s, n, w)
      })
    assert(r.passed, r.status.toString)
  }

  test("sortedHits counts the distinct gs values that appear in the sorted snap") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def hits(gs: Seq[Long], snap: Seq[Long]): Int =
      TextHash.sortedHits(ArrayData.toArrayData(gs.toArray),
        ArrayData.toArrayData(snap.distinct.sorted.toArray))
    def ref(gs: Seq[Long], snap: Seq[Long]): Int = gs.distinct.count(snap.toSet)
    assert(hits(Seq(3L, 1L, 3L, 7L), Seq(1L, 3L, 5L)) === 2)
    assert(hits(Nil, Seq(1L)) === 0 && hits(Seq(1L), Nil) === 0)
    val small = Gen.listOf(Gen.chooseNum(-20L, 20L))
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(small, small) { (gs, snap) => hits(gs, snap) == ref(gs, snap) })
    assert(r.passed, r.status.toString)
  }

  test("minHashSig is null below 2 tokens, 8 longs otherwise") {
    assert(TextHash.minHashSig(u("solo")) === null)
    assert(TextHash.minHashSig(u("")) === null)
    val sig = TextHash.minHashSig(u("two tokens")).toLongArray()
    assert(sig.length === 8)
    assert(sig.forall(v => v >= 0 && v < P))
  }

  test("minHashSig equals brute-force permuted shingle minimum") {
    val text = "the quick brown fox jumps over the lazy dog"
    val toks = text.split(" ", -1).map(refPoly)
    val shingles = toks.sliding(2).map(p => (p(0) * 31 + p(1)) % P).toSeq
    val A = Seq(2971L, 4297L, 6553L, 8191L, 104729L, 15485863L, 32452843L, 49979687L)
    val B = Seq(7L, 12343L, 2003L, 4999L, 73L, 3947L, 1117L, 1009L)
    val expected = (0 until 8).map(j => shingles.map(h => (A(j) * h + B(j)) % P).min)
    assert(TextHash.minHashSig(u(text)).toLongArray().toSeq === expected)
  }

  test("simHash votes per bit of the 4 permuted streams (60-bit)") {
    val text = "alpha beta gamma"
    val toks = text.split(" ", -1).map(refPoly)
    val expected = (0 until 4).flatMap { k =>
      val perm = toks.map(h => (TextHash.A(k) * h + TextHash.B(k)) % P)
      (0 until 15).map { b =>
        val votes = perm.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) 1L << (15 * k + b) else 0L
      }
    }.sum
    assert(TextHash.simHash(u(text)) === expected)
    // sign-safe: bit 63 never set, value non-negative in both engines
    assert(TextHash.simHash(u(text)) >= 0L)
  }

  test("q127 quantization and integer dot match the SQL-fold semantics") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def fArr(xs: Float*) = new GenericArrayData(xs.toArray)
    def lArr(xs: Long*) = new GenericArrayData(xs.toArray)
    val v = Seq(0.5f, -1.0f, 0.25f, 0.0f)
    val mx = v.map(x => math.abs(x.toDouble)).max
    val expected = v.map(x => math.floor(x.toDouble / mx * 127.0 + 0.5).toLong)
    assert(VecOps.q127F(fArr(v: _*)).toLongArray().toSeq === expected)
    // all-zero vector → null (the oracle's mx > 0 filter)
    assert(VecOps.q127F(fArr(0.0f, 0.0f)) === null)
    assert(VecOps.dotI(lArr(1L, -2L, 3L), lArr(4L, 5L, -6L)) === 4L - 10L - 18L)
    // length mismatch → null (zip_with null-padding semantics)
    assert(VecOps.dotI(lArr(1L), lArr(1L, 2L)) === null)
  }

  test("blockScrub replicates \\b-bounded regex counts and masking") {
    def run(s: String) = {
      val r = TextHash.blockScrub(u(s))
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getUTF8String(4).toString)
    }
    assert(run("customer spark") === (1, 1, 0, 2, "<MASK> <MASK>"))
    // word chars adjacent → no boundary → no match
    assert(run("sparky spark_ xspark") === (0, 0, 0, 0, "sparky spark_ xspark"))
    // punctuation and string edges are boundaries; case-sensitive
    assert(run("spark,vector!") === (0, 1, 1, 2, "<MASK>,<MASK>!"))
    assert(run("SPARK Customer") === (0, 0, 0, 0, "SPARK Customer"))
    assert(run("") === (0, 0, 0, 0, ""))
    // non-ASCII neighbor is non-word → boundary (é is non-word in both
    // Java regex default and RE2)
    assert(run("éspark") === (0, 1, 0, 1, "é<MASK>"))
  }

  test("thumbHex strided byte sampling matches the SQL substr form") {
    // n=4 < k → stride 1, all bytes
    assert(TextHash.thumbHex(u("abcj"), 16).toString === "6162636A")
    // n=8, k=4 → stride 2 → bytes 0,2,4,6
    assert(TextHash.thumbHex(u("abcdefgh"), 4).toString === "61636567")
  }

  test("blockScrub equals java.util.regex on random strings (property)") {
    // the exact claim the kernel makes: counts = per-term regex
    // extract_all sizes, scrub = combined-pattern replaceAll — under the
    // ORACLE's boundary semantics (RE2's ASCII \b), expressed here as
    // explicit ASCII lookarounds so java.util.regex can serve as an
    // independent reference. (Java's own \b is Unicode-aware — 'é' is a
    // word char — which is NOT what DuckDB computes; see TextHash.)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val terms = TextHash.blockTerms
    val W = "a-zA-Z0-9_"
    val pats = terms.map(t => java.util.regex.Pattern.compile(
      s"(?<![$W])" + java.util.regex.Pattern.quote(t) + s"(?![$W])"))
    val combined = java.util.regex.Pattern.compile(s"(?<![$W])(" +
      terms.map(java.util.regex.Pattern.quote).mkString("|") + s")(?![$W])")
    def ref(s: String): (Seq[Int], Int, String) = {
      def count(p: java.util.regex.Pattern) = {
        val m = p.matcher(s); var c = 0; while (m.find()) c += 1; c
      }
      (pats.map(count), count(combined),
        combined.matcher(s).replaceAll("<MASK>"))
    }
    // fragments bias: full terms, term prefixes/suffixes, word chars
    // (boundary killers), punctuation, digits, underscore, non-ASCII
    val frag = Gen.oneOf("spark", "customer", "vector", "spar", "ark",
      "vectors", "Xcustomer", " ", ",", ".", "_", "9", "é", "a", "")
    val gen = Gen.listOf(frag).map(_.mkString)
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(gen) { s =>
        val g = TextHash.blockScrub(u(s))
        val (cs, hits, scrub) = ref(s)
        (0 until 3).forall(i => g.getInt(i) == cs(i)) &&
          g.getInt(3) == hits && g.getUTF8String(4).toString == scrub
      })
    assert(r.passed, r.status.toString)
  }

  test("qualityStats equals the replace-count string model (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def ref(s: String): (Int, Int, Int) = {
      val nSpace = s.length - s.replace(" ", "").length
      val nPunct = s.length - s.replaceAll("[.,!?;:]", "").length
      val nStop = TextHash.qualityStops
        .map(k => (s.length - s.replace(k, "").length) / k.length).sum
      (nSpace, nPunct, nStop)
    }
    val frag = Gen.oneOf(" the ", " a ", " of ", " and ", "the", "a", " ",
      ".", ",", "!", "x", "é", "中", "")
    val gen = Gen.listOf(frag).map(_.mkString)
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(gen) { s =>
        val g = TextHash.qualityStats(u(s))
        (g.getInt(0), g.getInt(1), g.getInt(2)) == ref(s)
      })
    assert(r.passed, r.status.toString)
  }

  test("thumbHex equals the naive hex/stride model (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def ref(s: String, k: Int): String = {
      val b = s.getBytes("UTF-8")
      if (b.isEmpty) "" else {
        val stride = math.max(1, b.length / k)
        (0 until math.min(k, b.length))
          .map(i => f"${b(i * stride) & 0xff}%02X").mkString
      }
    }
    val gen = Gen.listOf(Gen.oneOf('a', 'Z', '0', 'é', '中', ' ')).map(_.mkString)
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(gen, Gen.choose(1, 40)) { (s, k) =>
        TextHash.thumbHex(u(s), k).toString == ref(s, k)
      })
    assert(r.passed, r.status.toString)
  }

  test("hexTiles equals the full-hex substr-slice model (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the exact claim the kernel makes: tile t is substr(hex(utf8(s)),
    // t*2w + 1, 2w) of the FULL hex string, for ceil(n/w) tiles
    def ref(s: String, w: Int): Seq[String] = {
      val hx = s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
      val nt = (hx.length + 2 * w - 1) / (2 * w)
      (0 until nt).map(t => hx.slice(t * 2 * w, (t + 1) * 2 * w))
    }
    val gen = Gen.listOf(Gen.oneOf('a', 'Z', '0', 'é', '中', ' ')).map(_.mkString)
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(gen, Gen.choose(1, 40)) { (s, w) =>
        val g = TextHash.hexTiles(u(s), w)
        val e = ref(s, w)
        g.numElements() == e.length &&
          (0 until g.numElements()).forall(i =>
            g.getUTF8String(i).toString == e(i))
      })
    assert(r.passed, r.status.toString)
  }

  test("identical texts collide; different texts (generally) do not") {
    val a = TextHash.minHashSig(u("shared prefix words here")).toLongArray().toSeq
    val b = TextHash.minHashSig(u("shared prefix words here")).toLongArray().toSeq
    val c = TextHash.minHashSig(u("entirely different content now")).toLongArray().toSeq
    assert(a === b)
    assert(a !== c)
  }

  test("repStats equals naive exact token/bigram counting") {
    def ref(s: String): (Int, Int, Int, Int) = {
      val toks = s.split(" ", -1).toSeq
      val tokCounts = toks.groupBy(identity).map(_._2.size)
      val bigs = toks.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq
      val bigCounts = bigs.groupBy(identity).map(_._2.size)
      (toks.size, toks.distinct.size, tokCounts.max,
        if (bigs.isEmpty) 0 else bigCounts.max)
    }
    for (s <- Seq("a b c", "a a a a", "a b a b a", "x", "a  b ",
                  "the cat the cat sat", "trés trés café")) {
      val r = TextHash.repStats(u(s))
      val (n, uq, tt, tb) = ref(s)
      assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ===
        ((n, uq, tt, tb)), s"input: '$s'")
    }
    // single token: no bigrams
    assert(TextHash.repStats(u("solo")).getInt(3) === 0)
    // empty string: one empty token
    val e = TextHash.repStats(u(""))
    assert((e.getInt(0), e.getInt(1), e.getInt(2), e.getInt(3)) === ((1, 1, 1, 0)))
    // property: random small-alphabet strings (spaces included, so empty
    // and repeated tokens occur) against the same naive model
    locally {
      import org.scalacheck.{Gen, Prop, Test => SCTest}
      val gen = Gen.listOf(Gen.oneOf('a', 'b', ' ', ' ')).map(_.mkString)
      val r = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(300),
        Prop.forAll(gen) { s =>
          val g = TextHash.repStats(u(s))
          val (n, uq, tt, tb) = ref(s)
          (g.getInt(0), g.getInt(1), g.getInt(2), g.getInt(3)) == ((n, uq, tt, tb))
        })
      assert(r.passed, r.status.toString)
    }
  }

  test("pigeonhole completeness: Hamming<=2 always shares a 15-bit block pair (d15)") {
    // the theorem d15's candidate join relies on: 2 corrupted bits hit at
    // most 2 of the 4 blocks, so some block PAIR survives intact
    // (60-bit layout: 4 × 15-bit blocks, matching TextHash.simHash)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def blocks(x: Long): Seq[Long] =
      (0 until 4).map(i => (x >> (15 * i)) & 32767)
    val gen = for {
      base <- Gen.chooseNum(0L, (1L << 60) - 1)
      nbits <- Gen.choose(0, 2)
      flips <- Gen.listOfN(nbits, Gen.choose(0, 59))
    } yield (base, flips.foldLeft(base)((v, b) => v ^ (1L << b)))
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(gen) { case (a, b) =>
        val (ba, bb) = (blocks(a), blocks(b))
        val pairs = for (i <- 0 until 4; j <- i + 1 until 4) yield (i, j)
        pairs.exists { case (i, j) => ba(i) == bb(i) && ba(j) == bb(j) }
      })
    assert(r.passed, r.status.toString)
  }

  test("passages equals the slice/join model, including edges") {
    // naive model: the transform/sequence/slice/array_join SQL form t14's
    // oracle uses (and the engine's HOF form replaced)
    def ref(s: String, w: Int): Seq[String] = {
      val toks = s.split(" ", -1)
      (0 until math.ceil(toks.length / w.toDouble).toInt)
        .map(g => toks.slice(g * w, g * w + w).mkString(" "))
    }
    def got(s: String, w: Int): Seq[String] =
      TextHash.passages(u(s), w).toArray[UTF8String](
        org.apache.spark.sql.types.StringType).toSeq.map(_.toString)
    for (s <- Seq("", " ", "a", "a b c d", "a b c d e", "a  b ", "x " * 9,
                  "trés café 中文 字符 ok a b c d"); w <- Seq(1, 2, 4))
      assert(got(s, w) === ref(s, w), s"input: '$s' w=$w")
    // property: small alphabet with space bias so empty tokens, runs of
    // spaces, and non-ASCII multibyte chars all occur
    locally {
      import org.scalacheck.{Gen, Prop, Test => SCTest}
      val gen = Gen.listOf(Gen.oneOf('a', 'é', ' ', ' ')).map(_.mkString)
      val r = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(300),
        Prop.forAll(gen, Gen.choose(1, 6)) { (s, w) =>
          got(s, w) == ref(s, w)
        })
      assert(r.passed, r.status.toString)
    }
  }

  test("byteMinhash: the alignment-tolerance contract — a 1-byte DELETE " +
      "keeps >= 2 of 4 blocks equal on realistic payloads; short inputs " +
      "are null; the packing is 4 x 15 bits") {
    val k = 16
    def blocks(sig: Long): Seq[Long] =
      (0 until 4).map(b => (sig >> (15 * b)) & 0x7fff)
    val payload = ("key agg row scan slow fast table value part hash " +
      "value table part a row fast merge batch part value fast spark")
    val sig = TextHash.byteMinhash(UTF8String.fromString(payload), k)
    assert(sig != null && (sig.longValue() >>> 60) === 0L,
      "60-bit packing: the top 4 bits must be clear")
    // delete one byte at the midpoint (the d30 perturbation)
    val mid = payload.length / 2
    val deleted = payload.substring(0, mid) + payload.substring(mid + 1)
    val sigDel = TextHash.byteMinhash(UTF8String.fromString(deleted), k)
    val matching = blocks(sig.longValue()).zip(blocks(sigDel.longValue()))
      .count { case (a, b) => a == b }
    assert(matching >= 2,
      s"deleted-byte copy must stay inside pigeonhole completeness " +
        s"($matching of 4 blocks matched)")
    // where the dHash decorrelates on the same perturbation
    val dh = TextHash.dHash(UTF8String.fromString(payload), 60)
    val dhDel = TextHash.dHash(UTF8String.fromString(deleted), 60)
    assert(java.lang.Long.bitCount(dh.longValue() ^ dhDel.longValue()) > 2,
      "fixture sanity: the strided dHash must NOT survive the deletion " +
        "(otherwise this payload does not exercise the boundary)")
    // an unrelated payload shares no block
    val other = (1 to 20).map(i => s"zq$i").mkString(" ")
    val sigOther = TextHash.byteMinhash(UTF8String.fromString(other), k)
    assert(blocks(sig.longValue()).zip(blocks(sigOther.longValue()))
      .count { case (a, b) => a == b } === 0)
    // contract edges
    assert(TextHash.byteMinhash(UTF8String.fromString("tiny"), k) == null)
    assert(TextHash.byteMinhash(UTF8String.fromString("x" * 16), k) != null)
  }

  test("byteMinhashArr: packing the first four raw minima mod 2^15 " +
      "reproduces byteMinhash bit-for-bit; higher key widths strictly " +
      "refine lower; sketch indexes carry the VerifyMixes minima") {
    val k = 16
    val payloads = Seq(
      "key agg row scan slow fast table value part hash value table " +
        "part a row fast merge batch part value fast spark",
      (1 to 30).map(i => s"tok$i").mkString(" "),
      "z" * 61)
    payloads.foreach { p =>
      val u = UTF8String.fromString(p)
      val arr = TextHash.byteMinhashArr(u, k, 20)
      assert(arr.numElements() === 20)
      val raw = (0 until 20).map(arr.getLong)
      // pack-equivalence: the m10 signature is a pure function of the raw
      // array, so the knob path and the packed path cannot drift
      val packed = (raw(0) % 32768L) | ((raw(1) % 32768L) << 15) |
        ((raw(2) % 32768L) << 30) | ((raw(3) % 32768L) << 45)
      assert(packed === TextHash.byteMinhash(u, k).longValue())
      // refinement: agreement at width w+1 implies agreement at width w
      // (m % 2^(w+1) equal => m % 2^w equal) — checked against a 1-byte
      // edit's surviving blocks at every width
      val edited = UTF8String.fromString(p.substring(0, p.length / 2) +
        p.substring(p.length / 2 + 1))
      val arrE = TextHash.byteMinhashArr(edited, k, 20)
      val rawE = (0 until 20).map(arrE.getLong)
      (1 until 30).foreach { w =>
        (0 until 4).foreach { b =>
          val hi = (raw(b) & ((1L << (w + 1)) - 1)) ===
            (rawE(b) & ((1L << (w + 1)) - 1))
          val lo = (raw(b) & ((1L << w) - 1)) === (rawE(b) & ((1L << w) - 1))
          assert(!hi || lo, s"width $w block $b: refinement violated")
        }
      }
      // sketch indexes = VerifyMixes minima (brute recompute)
      val bytes = p.getBytes("UTF-8")
      val grams = (0 to bytes.length - k).map { i =>
        (0 until k).foldLeft(0L)((acc, j) =>
          (acc * 31 + (bytes(i + j) & 0xff)) % TextHash.P)
      }
      TextHash.VerifyMixes.zipWithIndex.foreach { case (c, j) =>
        assert(raw(4 + j) === grams.map(g => g * c % TextHash.P).min)
      }
    }
    assert(TextHash.byteMinhashArr(UTF8String.fromString("tiny"), k, 20)
      == null)
  }

  test("gramHits on multi-byte UTF-8: byte-window hits equal char-window " +
      "hits for pure-Cyrillic profiles (the alignment bijection t21's " +
      "oracle relies on), and ASCII profiles never fire on Cyrillic text") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def hits(text: String, grams: Seq[String]): Int =
      TextHash.gramHits(UTF8String.fromString(text),
        ArrayData.toArrayData(grams.map(UTF8String.fromString).toArray))
    def charHits(text: String, grams: Seq[String]): Int = {
      val w = grams.head.length
      (0 to text.length - w).count(i => grams.contains(text.substring(i, i + w)))
    }
    val ru = Seq("кош", "ала", "око")
    val texts = Seq(
      "кошка спала под столом около окна",
      "кошкакошка ала около", // overlapping/adjacent matches
      "mixed кошка ascii спала text", // mixed script
      "около", "ок", "")
    texts.foreach { t =>
      assert(hits(t, ru) === charHits(t, ru), s"text: '$t'")
    }
    // ASCII profile grams cannot fire on pure-Cyrillic payloads (no byte
    // of a multi-byte sequence is an ASCII code)
    assert(hits("кошка спала под столом", Seq("the", " a ", "he ")) === 0)
    // and a Cyrillic gram cannot fire on ASCII text
    assert(hits("the cat slept under the table", ru) === 0)
  }

  test("gramHits on CJK (round 18): byte-window hits equal char-window " +
      "hits for 3-byte-per-char han/hiragana BIGRAM profiles — the " +
      "no-word-boundary script class — including mixed-script text, " +
      "and the zh/ja profiles are byte-disjoint across scripts") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def hits(text: String, grams: Seq[String]): Int =
      TextHash.gramHits(UTF8String.fromString(text),
        ArrayData.toArrayData(grams.map(UTF8String.fromString).toArray))
    def charHits(text: String, grams: Seq[String]): Int = {
      val w = grams.head.length
      (0 to text.length - w).count(i => grams.contains(text.substring(i, i + w)))
    }
    val profiles = graft.ext.TextOps.LangProfiles.toMap
    val zh = profiles("zh")
    val ja = profiles("ja")
    val plants = graft.ext.TextOps.LangPlants.toMap
    val zhPlant = plants(900004L)
    val jaPlant = plants(900005L)
    val texts = Seq(zhPlant, jaPlant,
      "我们我们他们",                       // adjacent/overlapping han
      "mixed 我们 ascii 他们 text",         // CJK + 1-byte chars
      "кошка 我们 спала した mixed widths", // 2-byte + 3-byte + 1-byte
      "一个", "一", "")
    for (t <- texts; p <- Seq(zh, ja))
      assert(hits(t, p) === charHits(t, p), s"text: '$t'")
    // the planted routing margins (the LangPlants contract): each plant
    // fires its own profile with real margin and the other CJK profile
    // not at all (han vs hiragana are byte-disjoint ranges here)
    // bounds match the LangPlants contract verbatim (ADVICE r18: the
    // spec once pinned >= 6 while the TextOps comment documented 7/8)
    assert(hits(zhPlant, zh) >= 7 && hits(zhPlant, ja) === 0)
    assert(hits(jaPlant, ja) >= 8 && hits(jaPlant, zh) === 0)
    // ASCII/Cyrillic profiles never fire on CJK text and vice versa
    assert(hits(zhPlant, Seq("the", " a ", "he ")) === 0)
    assert(hits(jaPlant, Seq("кош", "ала", "око")) === 0)
  }

  test("gramHits on hangul (round 19): byte-window hits equal char-window " +
      "hits for the 7-byte suffix+boundary grams (2 syllables + trailing " +
      "space), the ko plant routes with the documented margin, and the " +
      "hangul/hiragana/han scripts are mutually byte-disjoint") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def hits(text: String, grams: Seq[String]): Int =
      TextHash.gramHits(UTF8String.fromString(text),
        ArrayData.toArrayData(grams.map(UTF8String.fromString).toArray))
    def charHits(text: String, grams: Seq[String]): Int = {
      val w = grams.head.length
      (0 to text.length - w).count(i =>
        grams.contains(text.substring(i, i + w)))
    }
    val profiles = graft.ext.TextOps.LangProfiles.toMap
    val ko = profiles("ko")
    // the unit's shape contract: char width 3, byte width 7 (3+3+1) —
    // uniform, inside the kernel's 8-byte pack
    assert(ko.forall(_.length === 3))
    assert(ko.forall(_.getBytes("UTF-8").length === 7))
    val plants = graft.ext.TextOps.LangPlants.toMap
    val koPlant = plants(900006L)
    val texts = Seq(koPlant,
      "니다 니다 니다",                     // adjacent boundary grams
      "mixed 에서 ascii 까지 text",         // hangul + 1-byte chars
      "кошка 에서 спала した 我们 widths",  // 2B + 3B scripts mixed
      "에서", "에", "")
    for (t <- texts)
      assert(hits(t, ko) === charHits(t, ko), s"text: '$t'")
    // the planted routing margin (the LangPlants contract, measured
    // before freezing): ko fires 9, every other profile is structurally 0
    assert(hits(koPlant, ko) >= 9)
    for ((lang, grams) <- profiles if lang != "ko")
      assert(hits(koPlant, grams) === 0, s"profile $lang on the ko plant")
    // and ko grams fire on no other plant (byte-disjoint scripts: hangul
    // leads 0xEA-0xED vs hiragana 0xE3 / han 0xE4-0xE9 / Cyrillic 0xD0+)
    for ((id, t) <- plants if id != 900006L)
      assert(hits(t, ko) === 0, s"ko grams on plant $id")
  }

  test("gramHits on Arabic (round 19): byte-window hits equal char-window " +
      "hits for the 5-byte leading-space+2-letter grams (prefix " +
      "morphology flips the boundary anchor), RTL storage is logical " +
      "order, and the 2-byte script is disjoint from every other profile") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def hits(text: String, grams: Seq[String]): Int =
      TextHash.gramHits(UTF8String.fromString(text),
        ArrayData.toArrayData(grams.map(UTF8String.fromString).toArray))
    def charHits(text: String, grams: Seq[String]): Int = {
      val w = grams.head.length
      (0 to text.length - w).count(i =>
        grams.contains(text.substring(i, i + w)))
    }
    val profiles = graft.ext.TextOps.LangProfiles.toMap
    val ar = profiles("ar")
    // shape contract: char width 3, byte width 5 (1+2+2)
    assert(ar.forall(_.length === 3))
    assert(ar.forall(_.getBytes("UTF-8").length === 5))
    val plants = graft.ext.TextOps.LangPlants.toMap
    val arPlant = plants(900007L)
    val texts = Seq(arPlant,
      "في في في",                        // adjacent boundary grams
      "mixed في ascii من text",          // Arabic + 1-byte chars
      "кошка في спала した 에서 mix",    // 2B + 3B scripts mixed
      "في", " في", "")
    for (t <- texts)
      assert(hits(t, ar) === charHits(t, ar), s"text: '$t'")
    // the planted routing margin (measured before freezing): ar fires 13,
    // every other profile is structurally 0, and vice versa
    assert(hits(arPlant, ar) >= 13)
    for ((lang, grams) <- profiles if lang != "ar")
      assert(hits(arPlant, grams) === 0, s"profile $lang on the ar plant")
    for ((id, t) <- plants if id != 900007L)
      assert(hits(t, ar) === 0, s"ar grams on plant $id")
  }

  test("gramHitsAll (round 20): the merged multi-width kernel equals " +
      "per-language gramHits on every shipped profile and plant, and a " +
      "gram shared by two languages scores both") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def packed(g: String): Long = {
      val b = g.getBytes("UTF-8")
      b.foldLeft(0L)((v, x) => (v << 8) | (x & 0xff))
    }
    // the langIdNgram artifact derivation, in miniature: group langs'
    // grams by byte width, sort each width's (packed, langIdx) pairs
    def profsOf(profiles: Seq[(String, Seq[String])]): ArrayData = {
      val byW = profiles.zipWithIndex
        .flatMap { case ((_, gs), li) =>
          gs.map(g => (g.getBytes("UTF-8").length, packed(g), li)) }
        .groupBy(_._1).toSeq.sortBy(_._1)
      new GenericArrayData(byW.map { case (w, entries) =>
        val sorted = entries.map(e => (e._2, e._3)).sorted
        new GenericInternalRow(Array[Any](w,
          new GenericArrayData(sorted.map(_._1).toArray),
          new GenericArrayData(sorted.map(_._2).toArray)))
      }.toArray[Any])
    }
    def hits1(text: String, grams: Seq[String]): Int =
      TextHash.gramHits(UTF8String.fromString(text),
        ArrayData.toArrayData(grams.map(UTF8String.fromString).toArray))
    val profiles = graft.ext.TextOps.LangProfiles
    val profs = profsOf(profiles)
    val texts = graft.ext.TextOps.LangPlants.map(_._2) ++ Seq(
      "the cat sat on the mat and the dog ran in the garden",
      "кошка die katze le chat 我们 した 에서 في mixed everything",
      "tiny", "a", "")
    for (t <- texts) {
      val all = TextHash.gramHitsAll(UTF8String.fromString(t), profs,
        profiles.length)
      profiles.zipWithIndex.foreach { case ((lang, grams), i) =>
        assert(all.getInt(i) === hits1(t, grams),
          s"lang $lang on text '${t.take(30)}'")
      }
    }
    // duplicate gram across languages: both score it (a deployment's
    // profile table may legally share grams)
    val dup = Seq("aa" -> Seq("the", "xyz"), "bb" -> Seq("the", "qqq"))
    val all = TextHash.gramHitsAll(
      UTF8String.fromString("the theme and the rest"), profsOf(dup), 2)
    assert(all.getInt(0) === 3 && all.getInt(1) === 3)
  }

  test("byteGramChain: positional rolling hashes match the naive fold; " +
      "a deletion perturbs at most k distinct grams") {
    val k = 16
    val s = "the quick brown fox jumps over the lazy dog again and again"
    val arr = TextHash.byteGramChain(UTF8String.fromString(s), k)
    assert(arr.numElements() === s.length - k + 1)
    def ref(sub: String): Long =
      sub.getBytes("UTF-8").foldLeft(0L)((acc, b) =>
        (acc * 31 + (b & 0xff)) % P)
    (0 until arr.numElements()).foreach { i =>
      assert(arr.getLong(i) === ref(s.substring(i, i + k)))
    }
    // distinct-set stability under one deletion (d29's Jaccard floor)
    val mid = s.length / 2
    val del = s.substring(0, mid) + s.substring(mid + 1)
    val a = (0 until arr.numElements()).map(arr.getLong).toSet
    val arrB = TextHash.byteGramChain(UTF8String.fromString(del), k)
    val b = (0 until arrB.numElements()).map(arrB.getLong).toSet
    assert((a diff b).size <= k, "a 1-byte delete destroys <= k grams")
    assert((b diff a).size <= k - 1, "and creates <= k-1 new grams")
    assert(TextHash.byteGramChain(UTF8String.fromString("short"), k) == null)
  }
  // ---- round 20: byte-level edge-ngram kernel parity -------------------

  /** The pre-round-20 TreeSet form, kept verbatim as the reference. */
  private def refEdgeNgrams(s: String): (Int, Int, String) = {
    val toks = s.split(" ", -1)
    var total = 0
    val set = new java.util.TreeSet[UTF8String]()
    for (t <- toks if t.nonEmpty) {
      val maxI = math.min(TextHash.edgeMax, t.codePointCount(0, t.length))
      val sb = new java.lang.StringBuilder
      var i = 0
      var charIdx = 0
      while (i < maxI) {
        val cp = t.codePointAt(charIdx)
        sb.appendCodePoint(cp)
        charIdx += Character.charCount(cp)
        set.add(UTF8String.fromString(sb.toString))
        total += 1
        i += 1
      }
    }
    val it = set.iterator()
    val first5 = new scala.collection.mutable.ArrayBuffer[String]
    while (it.hasNext && first5.size < 5) first5 += it.next().toString
    (total, set.size, first5.mkString(","))
  }

  test("edgeNgramStats (round 20): the zero-allocation byte-slice kernel " +
      "equals the TreeSet form on ASCII, multi-byte, supplementary, " +
      "empty-token and shared-prefix inputs") {
    val texts = Seq(
      "", " ", "   ", "a", "a b c", "hello world", "hello help helm hex",
      "the the the", "a ab abc abcd abcde abcdef",
      "trés café naïve über",            // 2-byte codepoints inside prefixes
      "中文字符 中文 中", "кошка спала на ковре",
      "😀emoji 😀e", // supplementary (4-byte) leading
      "x  y   z ", " leading", "trailing ",
      "zz zy zx zw zv zu zt zs zr zq zp zo zn zm zl zk zj zi zh zg",
      "same same same different diff",
      "longtokenwithmanychars anotherlongtoken")
    for (s <- texts.map(u) :+ truncatedTail :+ invalidLead) {
      val t = s.toString
      val r = TextHash.edgeNgramStats(s)
      val (total, uniq, first5) = refEdgeNgrams(t)
      assert(r.getInt(0) === total, s"n_grams for '$t'")
      assert(r.getInt(1) === uniq, s"n_uniq_grams for '$t'")
      assert(r.getUTF8String(2).toString === first5, s"first5 for '$t'")
    }
  }

  test("edgeNgramStats first-5 order is UTF8-binary (multi-byte sorts " +
      "after ASCII), matching the TreeSet/array_sort/DuckDB collation") {
    // 'é' (0xC3 0xA9) must sort after every ASCII gram; 6+ distinct grams
    // force the bounded-selection path to evict correctly
    val t = "é z y x w v u"
    val r = TextHash.edgeNgramStats(u(t))
    val (total, uniq, first5) = refEdgeNgrams(t)
    assert((r.getInt(0), r.getInt(1), r.getUTF8String(2).toString) ===
      ((total, uniq, first5)))
    assert(r.getUTF8String(2).toString === "u,v,w,x,y")
  }

  // ---- round 20: t18 trigram-LM kernels ---------------------------------

  private def refGrams(s: String, n: Int): Seq[String] = {
    val cps = s.codePoints().toArray
    if (cps.length < n) Seq.empty
    else (0 to cps.length - n).map(i =>
      new String(cps, i, n))
  }

  test("gramBuckets (round 20) equals pmod(polyHash(gram), m) over the " +
      "exploded char-n-grams") {
    val m = 64L
    for (t <- Seq("", "ab", "abc", "hello world", "中文字符abc",
        "aaaaaa", "trés café")) {
      val got = Option(TextHash.gramBuckets(u(t), 3, m))
        .map(_.toLongArray().toSeq)
      val want = {
        val g = refGrams(t, 3).map(s => refPoly(s) % m)
        if (g.isEmpty) None else Some(g)
      }
      assert(got === want, s"text '$t'")
    }
  }

  test("lmFamiliarity (round 20) equals the explode->join->agg form: " +
      "per-doc (n_tris, familiarity) against a corpus-built model") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val m = 32L
    val corpus = Seq("the cat sat", "the cat ran far", "dogs bark often",
      "中文字符串测试", "ab")
    // model: bucket -> count over ALL corpus grams (the groupBy twin)
    val all = corpus.flatMap(t => refGrams(t, 3).map(g => refPoly(g) % m))
    val model = all.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val sorted = model.toSeq.sortBy(_._1)
    val bs = ArrayData.toArrayData(sorted.map(_._1).toArray)
    val cs = ArrayData.toArrayData(sorted.map(_._2).toArray)
    for (t <- corpus) {
      val grams = refGrams(t, 3).map(g => refPoly(g) % m)
      val r = TextHash.lmFamiliarity(u(t), 3, m, bs, cs)
      if (grams.isEmpty) assert(r == null, s"'$t' has no grams")
      else {
        assert(r.getLong(0) === grams.size.toLong, s"n_tris for '$t'")
        assert(r.getLong(1) === grams.map(model).sum, s"familiarity for '$t'")
      }
    }
    // a probe gram whose bucket is NOT in the model contributes to neither
    // count (the inner-join twin dropped that row)
    val r = TextHash.lmFamiliarity(u("zzzzz"),
      3, 1000000L, bs, cs)
    assert(r.getLong(0) === 0L && r.getLong(1) === 0L)
  }

  // ---- round 21: broadcast-model / fused-scan kernels ---------------------

  private val r21Texts = Seq(
    "", " ", "   ", "a", "a b c d e f g h i", "hello world",
    "the cat sat on the mat the cat sat again and again and again",
    "a  b   c ", " leading twice  ", "trailing space ",
    "trés café naïve über 中文 字符 test",
    "ab12 mixed34runs!punct,and.more 12 34",
    "same same same same diff",
    "😀emoji one 😀emoji two words more words here now",
    "x, y. z! w? v; u: t")

  private def refSplitKeep(t: String): Seq[String] = t.split(" ", -1).toSeq

  private def refPassages(t: String, w: Int): Seq[String] =
    refSplitKeep(t).grouped(w).map(_.mkString(" ")).toSeq

  test("bpeishStats (round 21) equals the regexp_extract_all + " +
      "array_distinct + split(' +') form") {
    val pat = java.util.regex.Pattern.compile("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")
    for (s <- r21Texts.map(u) :+ truncatedTail :+ invalidLead) {
      val t = s.toString
      val m = pat.matcher(t)
      val toks = scala.collection.mutable.ArrayBuffer.empty[String]
      while (m.find()) toks += m.group()
      val r = TextHash.bpeishStats(s)
      assert(r.getInt(0) === toks.size, s"n_bpeish for '$t'")
      assert(r.getInt(1) === toks.distinct.size, s"n_uniq_bpeish for '$t'")
      assert(r.getInt(2) === t.split(" +", -1).length, s"n_ws_tokens for '$t'")
    }
  }

  test("edgeNgramStats and bpeishStats count fields equal the decoded-string " +
      "reference on seeded malformed UTF-8") {
    // Each ill-formed sequence is one codepoint, as Spark's decode to one
    // U+FFFD makes it. Distinct counts are left out: U+FFFD merges
    // different invalid byte sequences, the kernels' byte compare does not.
    val pat = java.util.regex.Pattern.compile("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")
    for (s <- malformedInputs(seed = 20261019L, count = 10000)) {
      val t = s.toString
      val m = pat.matcher(t)
      var matches = 0
      while (m.find()) matches += 1
      val b = TextHash.bpeishStats(s)
      assert(b.getInt(0) === matches, s"n_bpeish for bytes ${hex(s)}")
      assert(b.getInt(2) === t.split(" +", -1).length, s"n_ws_tokens for bytes ${hex(s)}")
      assert(TextHash.edgeNgramStats(s).getInt(0) === refEdgeNgrams(t)._1,
        s"n_grams for bytes ${hex(s)}")
    }
  }

  test("distinctTokens (round 21) equals array_distinct(split(text, ' ')): " +
      "first-occurrence order, empty tokens kept") {
    for (t <- r21Texts) {
      val want = refSplitKeep(t).distinct
      val got = {
        val a = TextHash.distinctTokens(u(t))
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
      assert(got === want, s"text '$t'")
    }
  }

  test("passagesDistinct (round 21) equals " +
      "array_distinct(graft_passages(text, w)) for w in 1..5") {
    for (t <- r21Texts; w <- 1 to 5) {
      val want = refPassages(t, w).distinct
      val got = {
        val a = TextHash.passagesDistinct(u(t), w)
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
      assert(got === want, s"text '$t' w=$w")
    }
  }

  test("passagesDistinct table growth: many distinct short passages " +
      "(worst-case sizing) still exact") {
    val t = (1 to 500).map(i => s"t$i").mkString(" ")
    val want = refPassages(t, 1).distinct
    val a = TextHash.passagesDistinct(u(t), 1)
    val got = (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    assert(got === want)
  }

  test("scrubPassages (round 21) equals the posexplode + join + reassembly " +
      "form against a sorted lexicon") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    for (t <- r21Texts; w <- Seq(1, 2, 4)) {
      val segs = refPassages(t, w)
      // lexicon: every other distinct segment (deterministic, non-trivial)
      val bp = segs.distinct.zipWithIndex.filter(_._2 % 2 == 0).map(_._1)
      val sorted = bp.map(u).sortWith((a, b) => a.compareTo(b) < 0)
      val arr = new GenericArrayData(sorted.toArray[AnyRef])
      val kept = segs.filterNot(bp.toSet)
      val r = TextHash.scrubPassages(u(t), w, arr)
      assert(r.getUTF8String(0).toString === kept.mkString(" "),
        s"clean_text for '$t' w=$w")
      assert(r.getLong(1) === (segs.size - kept.size).toLong,
        s"n_removed for '$t' w=$w")
    }
  }

  test("tokDf (round 21) equals the distinct-explode -> inner join -> agg " +
      "form; model misses contribute nothing") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val corpus = r21Texts.filter(_.nonEmpty)
    // df model over per-doc distinct tokens (the t15 groupBy twin)
    val df = corpus.flatMap(t => refSplitKeep(t).distinct)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val sorted = df.toSeq.map { case (k, v) => (u(k), v) }
      .sortWith((a, b) => a._1.compareTo(b._1) < 0)
    val ts = new GenericArrayData(sorted.map(_._1).toArray[AnyRef])
    val ds = ArrayData.toArrayData(sorted.map(_._2).toArray)
    for (t <- corpus) {
      val distinct = refSplitKeep(t).distinct
      val found = distinct.filter(df.contains)
      val r = TextHash.tokDf(u(t), ts, ds)
      assert(r.getLong(0) === found.size.toLong, s"n_toks for '$t'")
      assert(r.getLong(1) === found.map(df).sum, s"sum_df for '$t'")
    }
    // all-miss doc: (0, 0) — the inner-join twin would drop it
    val empty = new GenericArrayData(Array.empty[AnyRef])
    val miss = TextHash.tokDf(u("zz yy"), empty,
      ArrayData.toArrayData(Array.empty[Long]))
    assert(miss.getLong(0) === 0L && miss.getLong(1) === 0L)
  }

  test("oovStats (round 21) equals the explode -> left join -> agg form: " +
      "every occurrence counts, misses count as OOV") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vocab = Seq("the", "cat", "a", "b", "", "中文")
    val sorted = vocab.map(u).sortWith((a, b) => a.compareTo(b) < 0)
    val arr = new GenericArrayData(sorted.toArray[AnyRef])
    for (t <- r21Texts) {
      val occ = refSplitKeep(t)
      val r = TextHash.oovStats(u(t), arr)
      assert(r.getLong(0) === occ.size.toLong, s"n_tokens for '$t'")
      assert(r.getLong(1) === occ.count(o => !vocab.contains(o)).toLong,
        s"n_oov for '$t'")
    }
  }

  test("byteMinhashArr / byteMinhash (round 21): the rolling gram hash " +
      "equals the per-position naive fold") {
    for (t <- Seq("abcdefghijklmnopqrstuvwxyz0123456789", "aaaaaaaaaaaaaaaa",
        "trés café naïve 中文字符 mixed bytes here", "x" * 200);
        k <- Seq(1, 2, 8, 16)) {
      val bytes = t.getBytes("UTF-8")
      if (bytes.length >= k) {
        def naiveGram(i: Int): Long = {
          var g = 0L
          var j = 0
          while (j < k) { g = (g * 31 + (bytes(i + j) & 0xff)) % P; j += 1 }
          g
        }
        val n = 4
        val mixes = (0 until n).map(TextHash.MinhashMixes(_))
        val want = (0 until n).map { b =>
          (0 to bytes.length - k).map(i => naiveGram(i) * mixes(b) % P).min
        }
        val got = TextHash.byteMinhashArr(u(t), k, n).toLongArray().toSeq
        assert(got === want, s"text '$t' k=$k")
        // byteMinhash packs the same four minima
        val m = TextHash.byteMinhash(u(t), k).longValue()
        val mins = (0 until 4).map { b =>
          (0 to bytes.length - k).map(i => naiveGram(i) *
            Seq(2654435761L, 1099087573L, 2246822519L, 3266489917L)(b) % P).min
        }
        val wantPacked = (mins(0) % 32768L) | ((mins(1) % 32768L) << 15) |
          ((mins(2) % 32768L) << 30) | ((mins(3) % 32768L) << 45)
        assert(m === wantPacked, s"byteMinhash for '$t' k=$k")
      }
    }
  }

  test("langScores (round 21) equals the 12 length-replace folds") {
    for (t <- r21Texts :+ " the a of der und das le et la el y los "
        :+ "over the top of the order" :+ "the the the el el") {
      val r = TextHash.langScores(u(t))
      TextHash.langMarkers.zipWithIndex.foreach { case ((lang, kws), i) =>
        val want = kws.map { kw =>
          (t.length - t.replace(kw, "").length) / kw.length
        }.sum.toLong
        assert(r.getLong(i) === want, s"s_$lang for '$t'")
      }
    }
  }

  test("bpeMerge (round 21) equals the padded-replace chain " +
      "(join '  ' -> replace ' a  b ' -> trim -> split '  ')") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def refMerge(toks: Seq[String], a: String, b: String): Seq[String] = {
      val joined = " " + toks.mkString("  ") + " "
      val replaced = joined.replace(s" $a  $b ", s" ${a}_$b ")
      replaced.replaceAll("^ +| +$", "").split("  ", -1).toSeq
    }
    val cases = Seq(
      (Seq("a", "b", "c"), "a", "b"),
      (Seq("a", "b", "a", "b"), "a", "b"),          // consecutive matches
      (Seq("b", "b", "b"), "b", "b"),               // overlap: leftmost wins
      (Seq("a", "a", "b"), "a", "b"),               // match not at start
      (Seq("xa", "b"), "a", "b"),                   // no partial-token match
      (Seq("a_b", "c"), "a_b", "c"),                // underscore tokens merge on
      (Seq("the", "cat", "the", "cat"), "the", "cat"),
      (Seq("中文", "字符"), "中文", "字符"),          // multi-byte
      (Seq("only"), "a", "b"),                      // no adjacent pair
      (Seq("a"), "a", "a"),                         // single token, pair of it
      (Seq("a", "a", "a"), "a", "a"))               // greedy over triples
    for ((toks, a, b) <- cases) {
      val arr = new GenericArrayData(toks.map(u).toArray[AnyRef])
      val got = {
        val r = TextHash.bpeMerge(arr, u(a), u(b))
        (0 until r.numElements()).map(i => r.getUTF8String(i).toString)
      }
      assert(got === refMerge(toks, a, b), s"toks=$toks a=$a b=$b")
    }
    // empty winner tokens refuse loudly (the padded pattern degenerates)
    val arr = new GenericArrayData(Seq("a", "b").map(u).toArray[AnyRef])
    intercept[IllegalArgumentException] {
      TextHash.bpeMerge(arr, u(""), u("b"))
    }
  }

  test("normText (round 21) equals trim(regexp_replace(regexp_replace(x, " +
      "'[.,!?;:]', ''), ' +', ' ')) over lowercased inputs") {
    for (t0 <- r21Texts :+ "A.B,C!D?E;F:G" :+ ". leading, punct"
        :+ "tabs\there \t stay" :+ "a .. b ,, c") {
      val t = t0.toLowerCase
      val want = t.replaceAll("[.,!?;:]", "").replaceAll(" +", " ")
        .replaceAll("^ +| +$", "")
      assert(TextHash.normText(u(t)).toString === want, s"input '$t'")
    }
  }
}

class VecOpsSpec extends AnyFunSuite {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private def arr(xs: Float*) = new GenericArrayData(xs.toArray)

  test("dotF is the sequential double fold") {
    assert(VecOps.dotF(arr(1f, 2f, 3f), arr(4f, 5f, 6f)) === (4.0 + 10.0 + 18.0))
  }

  test("cosF of a vector with itself is 1.0") {
    assert(math.abs(VecOps.cosF(arr(0.5f, -2f, 3f), arr(0.5f, -2f, 3f)) - 1.0) < 1e-12)
  }

  test("lshBucket is deterministic and within 8 bits") {
    val b = VecOps.lshBucket(arr(Array.fill(64)(0.25f): _*))
    assert(b === VecOps.lshBucket(arr(Array.fill(64)(0.25f): _*)))
    assert(b >= 0 && b < 256)
  }

  test("q127F equals the HOF formula; dotI equals the naive fold (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def refQ(v: Seq[Float]): Option[Seq[Long]] = {
      val mx = if (v.isEmpty) 0.0 else v.map(x => math.abs(x.toDouble)).max
      if (mx <= 0.0) None
      else Some(v.map(x => math.floor(x.toDouble / mx * 127.0 + 0.5).toLong))
    }
    val genV = Gen.listOf(Gen.oneOf(
      Gen.chooseNum(-1.0f, 1.0f), Gen.const(0.0f), Gen.const(-0.0f)))
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(genV) { v =>
        val got = Option(VecOps.q127F(arr(v: _*))).map(_.toLongArray().toSeq)
        got == refQ(v)
      })
    assert(r.passed, r.status.toString)
    val genL = Gen.listOf(Gen.chooseNum(-127L, 127L))
    val r2 = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(genL, genL) { (a, b) =>
        val got = Option(VecOps.dotI(new GenericArrayData(a.toArray),
          new GenericArrayData(b.toArray))).map(_.longValue)
        val want = if (a.length != b.length) None
                   else Some(a.zip(b).map { case (x, y) => x * y }.sum)
        got == want
      })
    assert(r2.passed, r2.status.toString)
  }

  test("bloomHits: members always hit (no false negatives), non-members " +
      "hit only at the designed FP rate, distinct-count semantics") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val P = TextHash.P
    val m = 64L * 16 // tiny 1024-bit filter to make FPs observable
    val k = 7
    val members = (1L to 40L).map(x => (x * 2654435761L) % P)
    val words = new Array[Long](16)
    members.foreach { g =>
      val h1 = (g % P) * 2654435761L % P
      val h2 = (g % P) * 1099087573L % P | 1L
      (0 until k).foreach { i =>
        val p = (h1 + i * h2) % P % m
        words((p >>> 6).toInt) |= 1L << (p & 63L).toInt
      }
    }
    val bloom = ArrayData.toArrayData(words)
    // every member (with duplicates in gs) hits exactly once per DISTINCT
    val gs = ArrayData.toArrayData((members ++ members).toArray)
    assert(TextHash.bloomHits(gs, bloom, k) === members.size)
    // non-members: at 40*7 bits in 1024 the per-gram FP rate is
    // (1-e^-0.27)^7 ~ 5e-5; 200 probes should essentially never hit
    val nonMembers = (1000L to 1199L).map(x => (x * 1099087573L) % P)
    val fp = TextHash.bloomHits(
      ArrayData.toArrayData(nonMembers.toArray), bloom, k)
    assert(fp <= 2, s"designed-FPR blowout: $fp of 200 non-members hit")
    // empties
    assert(TextHash.bloomHits(ArrayData.toArrayData(Array.empty[Long]),
      bloom, k) === 0)
    assert(TextHash.bloomHits(gs,
      ArrayData.toArrayData(Array.empty[Long]), k) === 0)
  }
}

