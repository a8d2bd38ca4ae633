package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property-level checks on the dedup/similarity operators (the oracle gate
  * proves value equality; these pin the semantic contracts).
  */
class ExtSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over a sleepy dog"), // near dup
    (4L, "entirely different content about database engines"),
    (5L, "one"),                                         // too short to sign
    (6L, "")).toDF("doc_id", "text")

  test("exact duplicates always surface as LSH candidate pairs") {
    val pairs = Dedup.lshPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("jaccard is 1.0 for exact duplicates and within [0,1] everywhere") {
    val jp = Dedup.jaccardPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jp((1L, 2L)) === 1.0)
    assert(jp.values.forall(j => j >= 0.0 && j <= 1.0))
  }

  test("signatures exist only for docs with >= 2 tokens") {
    val ids = Dedup.minhash(docs).select("doc_id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 3L, 4L))
  }

  test("identical docs have identical simhash; near dups are close") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("duplicate clusters: total, canonical, and pair-consistent") {
    val out = Dedup.duplicateClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // total: every document gets a cluster; representative is the min id
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(out.forall { case (doc, c) => c <= doc })
    // exact dups 1,2 collapse to representative 1
    assert(out(1L) === 1L && out(2L) === 1L)
    // docs with no candidate pair are their own singleton cluster
    val paired = Dedup.lshPairs(docs).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(out.filterNot(kv => paired(kv._1)).forall(kv => kv._2 === kv._1))
    // every candidate pair's endpoints share a cluster (transitivity holds
    // a fortiori: components are closed under the pair relation)
    assert(Dedup.lshPairs(docs).collect()
      .forall(r => out(r.getLong(0)) === out(r.getLong(1))))
    // representatives are canonical: cluster ids are fixpoints
    assert(out.values.toSet.forall(c => out(c) === c))
  }

  test("duplicate clusters resolve transitive chains to one component") {
    // Progressive token drift over a 24-token base: doc 10+k has its first
    // 4k tokens replaced. With the fixed MinHash constants the candidate
    // graph is deterministic: {(10,11),(10,12),(11,12),(12,14)} — doc 14
    // reaches 10 only TRANSITIVELY through 12, and 13 pairs with nothing.
    // The cluster must merge {10,11,12,14} (connected components, not
    // pairwise buckets) and leave 13 a singleton.
    val base = (1 to 24).map(i => s"w$i").toArray
    val chain = (0 to 4).map { k =>
      val toks = base.clone()
      (0 until k * 4).foreach(i => toks(i % 24) = s"x$i")
      (10L + k, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = Dedup.lshPairs(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L), (10L, 12L), (11L, 12L), (12L, 14L)))
    val cl = Dedup.duplicateClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 14L -> 10L,
      13L -> 13L))
  }

  test("keep-best picks the max-quality member per cluster, ties on id") {
    // t02's score (like the testdata) assumes non-empty text; doc 6 is the
    // fixture's empty-string edge case, so it stays out of this corpus
    val corpus = docs.filter(length(col("text")) > 0)
    val cl = Dedup.duplicateClusters(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = TextOps.quality(corpus).select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val best = Dedup.bestPerCluster(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    // one row per cluster; members partition the corpus
    assert(best.keySet === cl.values.toSet)
    assert(best.values.map(_._3).sum === corpus.count())
    for ((cid, (keepId, keepQ, _)) <- best) {
      val members = cl.collect { case (doc, c) if c == cid => doc }.toSet
      assert(members.contains(keepId))
      val (bestId, bestQ) = members.map(m => m -> q(m))
        .minBy { case (m, s) => (-s, m) } // max quality, tie-break min id
      assert(keepId === bestId && keepQ === bestQ, s"cluster $cid")
    }
    // exact dups 1,2 have identical quality: the tie must break to id 1
    assert(best(cl(1L))._1 === 1L)
  }

  test("bucket cap prunes mass-duplicate pairs; clusters and cap-off unaffected") {
    // 30 copies of one boilerplate text (one band bucket of 30 → 435 pairs
    // uncapped) plus one genuine near-dup pair that must survive the cap.
    val boiler = (100L until 130L)
      .map(i => (i, "identical boilerplate disclaimer text repeated everywhere"))
    val corpus = (boiler ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different content about database engines")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.lshPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)))
    assert(uncapped.count(p => p._1 >= 100L) === 30 * 29 / 2)
    try {
      spark.conf.set(Dedup.MaxBucketSizeKey, "10")
      val capped = Dedup.lshPairs(corpus).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the quadratic bucket is pruned; sub-cap candidates survive intact
      assert(capped.contains((1L, 2L)))
      assert(!capped.exists(p => p._1 >= 100L))
      assert(capped === uncapped.filterNot(p => p._1 >= 100L))
      // the excluded buckets are observable telemetry
      val hot = Dedup.hotBuckets(
        Dedup.bandedSignatures(Dedup.minhash(corpus)), 10L).collect()
      assert(hot.nonEmpty && hot.forall(_.getAs[Long]("n_members") === 30L))
      // the cluster path never builds pairs: the boilerplate docs still
      // resolve to ONE cluster under the cap (star edges key on buckets)
      val cl = Dedup.duplicateClusters(corpus).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((100L until 130L).forall(i => cl(i) === 100L))
      assert(cl(1L) === 1L && cl(2L) === 1L && cl(3L) === 3L)
      // d15's simhash block-pair keys flood identically under mass
      // duplication — the same cap prunes them: the 30 identical texts
      // (hamming 0, every block-pair bucket at 30 members) vanish while
      // the identical pair (1,2) survives its 2-member buckets
      val shCapped = Dedup.simhashPairs(corpus).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(shCapped.contains((1L, 2L)))
      assert(!shCapped.exists(p => p._1 >= 100L))
    } finally spark.conf.unset(Dedup.MaxBucketSizeKey)
    // cap off again: the boilerplate clique reappears through d15 too
    val shFull = Dedup.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shFull.count(p => p._1 >= 100L) === 30 * 29 / 2)
  }

  test("bucket cap prunes mass-duplicated embedding cells on the d07 path") {
    // 30 copies of one vector flood a single hyperplane cell; a 2-member
    // near-identical pair in a different cell must survive the cap.
    val massVec = Array.tabulate(64)(i => ((i % 7) + 1).toFloat / 7f)
    val pairVec = Array.tabulate(64)(i => -((i % 5) + 1).toFloat / 5f)
    val pairVec2 = pairVec.clone(); pairVec2(0) *= 1.001f
    val rows = (100L until 130L).map(i => (i, massVec.toSeq, 0)) ++
      Seq((4L, pairVec.toSeq, 0), (8L, pairVec2.toSeq, 0))
    val emb = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val full = Dedup.embedNearDupLsh(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((4L, 8L)))
    assert(full.count(p => p._1 >= 100L) === 30 * 29 / 2)
    try {
      spark.conf.set(Dedup.MaxBucketSizeKey, "10")
      val capped = Dedup.embedNearDupLsh(emb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped.contains((4L, 8L)))
      assert(!capped.exists(p => p._1 >= 100L))
    } finally spark.conf.unset(Dedup.MaxBucketSizeKey)
  }

  test("hyperplaneBits refines d07 cells: default unchanged, higher bits only drop pairs") {
    // Seeded-random vectors (all DISTINCT — identical twins share every
    // cell at any bit width and could never be split, hiding the
    // refinement): enough spread that both 8- and 12-bit bucketings
    // produce pairs, few enough that the pair sets are cheap to collect.
    val rnd = new scala.util.Random(807)
    val rows = (0L until 200L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq, 0)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def pairs() = Dedup.embedNearDupLsh(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p8 = pairs()
    assert(p8.nonEmpty)
    try {
      spark.conf.set(Dedup.HyperplaneBitsKey, "8")
      assert(pairs() === p8, "explicit bits=8 must equal the default")
      spark.conf.set(Dedup.HyperplaneBitsKey, "12")
      val p12 = pairs()
      assert(p12.subsetOf(p8),
        "12-bit cells refine 8-bit cells, so pairs may only be dropped")
      assert(p12.size < p8.size,
        "refinement must actually split some populated cell here")
      // the refinement law itself: low 8 bits of the 12-bit bucket = the
      // 8-bit bucket, per vector
      graft.functions.GraftFunctions.register(spark)
      val bad = emb.select(
        expr("graft_lsh_bucket(embedding, 12)").as("b12"),
        expr("graft_lsh_bucket(embedding, 8)").as("b8"))
        .filter(expr("(b12 % 256) != b8")).count()
      assert(bad === 0L)
      // Out-of-range widths fail fast: 0 bits = one cell (the quadratic
      // hazard), > 30 overflows the Int bucket and breaks refinement.
      for (badBits <- Seq("0", "31", "-4")) {
        spark.conf.set(Dedup.HyperplaneBitsKey, badBits)
        assertThrows[IllegalArgumentException] {
          Dedup.embedNearDupLsh(emb).collect()
        }
      }
    } finally spark.conf.unset(Dedup.HyperplaneBitsKey)
  }

  test("incremental dedup admits exactly the new docs with no old band-collision") {
    // old = doc_id % 10 < 8 (docs 1, 2); new = the rest (18, 19, 28).
    // 18 duplicates old doc 1 and 28 duplicates old doc 2 → both dropped;
    // 19 is novel → admitted.
    val snap = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some unrelated snapshot document body here"),
      (18L, "the quick brown fox jumps over the lazy dog"),
      (19L, "completely novel fresh batch content never seen"),
      (28L, "some unrelated snapshot document body here")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalKeep(snap).as[Long].collect().toSet
    assert(kept === Set(19L))
  }

  test("normalize: unchanged text flags 0, punctuation/case/space runs flag 1, idempotent") {
    val in = Seq(
      (1L, "already clean text"),
      (2L, "Messy,  Text!! With   Runs.")).toDF("doc_id", "text")
    val out = TextOps.normalize(in).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2), r.getInt(3))).toMap
    assert(out(1L)._3 === 0)
    assert(out(2L)._3 === 1)
    // idempotence: normalizing the normalized form changes nothing
    val normed = "messy text with runs"
    val again = TextOps.normalize(Seq((3L, normed)).toDF("doc_id", "text"))
      .collect().head
    assert(again.getInt(3) === 0)
    assert(out(2L)._1 === normed.length)
  }

  test("ann recall is in [0,1] and overlap is at most k") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.annRecall(emb).collect().head
    val (k, n, rec) = (r.getInt(0), r.getLong(1), r.getDouble(2))
    assert(n >= 0 && n <= k)
    assert(rec === n.toDouble / k)
  }

  test("LSH knn results lie in the query's bucket and are cosine-ranked") {
    val emb = graft.sources.Tables.embeddings(s, "/root/testdata/sf0.001")
    val out = Similarity.knnLsh(emb).collect()
    val buckets = out.map(_.getInt(2)).toSet
    assert(buckets.size === 1) // all results share the query's bucket
    val sims = out.map(_.getDouble(3))
    assert(sims.toSeq === sims.sortBy(-_).toSeq)
  }

  test("brute-force knn top-1 is the true global maximum") {
    val emb = graft.sources.Tables.embeddings(s, "/root/testdata/sf0.001")
    graft.functions.GraftFunctions.register(s)
    val top = Similarity.knnBrute(emb, 1).head.getDouble(2)
    val q = emb.orderBy("vec_id").limit(1)
      .select(col("embedding").as("qe"), col("vec_id").as("q_id"))
    val maxAll = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(expr("max(graft_cos(embedding, qe))")).head.getDouble(0)
    assert(top === maxAll)
  }

  // ---- m04 ASCII boundary (VERDICT r2 finding 4) -------------------------
  // MediaDecoder is BYTE-based (mean over UTF-8 bytes — the honest media
  // semantic for an opaque payload); the DuckDB oracle is CODEPOINT-based
  // (`ascii(substr)`). These agree exactly iff the text is pure ASCII.
  // The three tests below pin (a) the equivalence on ASCII by property,
  // (b) the deliberate divergence on non-ASCII, and (c) the load-bearing
  // fact that the driver's testdata is pure ASCII.

  test("d21: exact shared spans found with exact lengths; sub-threshold not") {
    val shared = (1 to 12).map(i => s"w$i").mkString(" ") // 12-token span
    val fix = Seq(
      (1L, s"alpha beta $shared gamma"), // span embedded mid-doc
      (2L, s"$shared tail1 tail2"),      // same span at offset 0
      (3L, "totally different words " +
        (1 to 9).map(i => s"z$i").mkString(" ")),
      (4L, (1 to 7).map(i => s"w$i").mkString(" ")) // 7 shared < SpanN=8
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringSpans(fix).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set((1L, 2L)),
      "only the >= 8-token overlap may pair; 7 shared tokens must not")
    assert(out((1L, 2L))._1 === 12L, "exact span length recovered")
    assert(out((1L, 2L))._2 === 1L, "one maximal run, one group")
  }

  test("d21 honors the bucket cap: over-cap gram buckets produce no pairs") {
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val fix = Seq((1L, s"a b $shared"), (2L, s"$shared c d"))
      .toDF("doc_id", "text")
    try {
      spark.conf.set(Dedup.MaxBucketSizeKey, "1")
      assert(Dedup.exactSubstringSpans(fix).collect().isEmpty,
        "every matching gram bucket has 2 members > cap 1")
    } finally spark.conf.unset(Dedup.MaxBucketSizeKey)
    assert(Dedup.exactSubstringSpans(fix).collect().nonEmpty,
      "cap off: the pair resurfaces")
  }

  test("d23: the winnowing guarantee — span >= n+w-1 always pairs, with " +
      "the exact length; the output is thresholded to the guaranteed regime") {
    val shared15 = (1 to 15).map(i => s"v$i").mkString(" ") // = n+w-1 exactly
    val shared12 = (1 to 12).map(i => s"u$i").mkString(" ") // >= n, < n+w-1
    val fix = Seq(
      (1L, s"pre1 pre2 $shared15 post1"),
      (2L, s"$shared15 tailA tailB"),
      (3L, s"x1 x2 x3 $shared12 x4 x5 x6 x7"),
      (4L, s"$shared12 y1 y2 y3 y4 y5 y6")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowedSpans(fix).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.contains((1L, 2L)),
      "a shared span of exactly n+w-1 tokens MUST be detected (theorem)")
    assert(out((1L, 2L)) === 15L, "exact span length recovered")
    assert(!out.contains((3L, 4L)),
      "pairs below the guaranteed regime are excluded by the threshold " +
        "even when an anchor happens to collide (luck must not leak)")
    // d21 at full anchor cost still catches the 12-token overlap
    val d21 = Dedup.exactSubstringSpans(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d21.contains((3L, 4L)))
  }

  test("d23 cap: capping only DROPS pairs — every surviving pair reports " +
      "bit-identical span values (round-15 verdict item 5)") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    // 6 docs share the boilerplate run (a hot anchor bucket); docs 1/2
    // additionally share a genuine span through cold anchors
    val fix = Seq(
      (1L, s"$shared pre $boiler"),
      (2L, s"intro $shared $boiler"),
      (3L, s"alpha1 alpha2 $boiler alpha3"),
      (4L, s"beta1 $boiler beta2 beta3"),
      (5L, s"gamma1 gamma2 gamma3 $boiler"),
      (6L, s"$boiler delta1 delta2 delta3")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val uncapped = rows(Dedup.winnowedSpans(fix))
    val capped = try {
      spark.conf.set(Dedup.MaxBucketSizeKey, "4")
      rows(Dedup.winnowedSpans(fix))
    } finally spark.conf.unset(Dedup.MaxBucketSizeKey)
    // the verify runs on the FULL gram relation of surviving candidate
    // docs, so a capped run must agree on every pair it keeps — the cap
    // prunes pair GENERATION, never span recovery
    assert(capped.subsetOf(uncapped),
      s"capped rows must be a subset: ${capped -- uncapped}")
    assert(capped.size < uncapped.size,
      "the 6-member boilerplate bucket must bind under cap 4")
    assert(capped.exists(_.startsWith("[1,2,")),
      "the cold-anchor pair (1,2) must survive the cap")
  }

  test("d27/d28 bloom gate: no false negatives on shared spans (theorem), " +
      "artifact is partition-stable") {
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val fix = Seq(
      (1L, s"alpha beta $shared gamma"),                  // snapshot
      (101L, s"$shared tail tokens"),                     // shares the span
      (102L, "fresh content entirely new words here now") // clean
    ).toDF("doc_id", "text")
    val bloom = Dedup.bloomArtifact(fix.filter(col("doc_id") < 100))
    val out = Dedup.bloomGateXform(bloom)(fix.filter(col("doc_id") >= 100))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(101L), "a genuinely shared >= n span can NEVER be missed")
    // the artifact's word ORs are order-free: any partitioning, same bits
    val b1 = bloom.collect().head.getSeq[Long](0)
    val b2 = Dedup.bloomArtifact(
      fix.filter(col("doc_id") < 100).repartition(5)).collect()
      .head.getSeq[Long](0)
    assert(b1 === b2)
  }

  test("bloomBits knob: numeric re-sizes both engine and oracle at " +
      "generation time; auto (the DEFAULT) derives from the gram count " +
      "in BOTH engines — the oracle emits the same derivation as SQL") {
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val fix = Seq((1L, s"alpha beta $shared gamma"),
      (101L, s"$shared tail tokens")).toDF("doc_id", "text")
    val snap = fix.filter(col("doc_id") < 100)
    try {
      spark.conf.set(Dedup.BloomBitsKey, "4096")
      val words = Dedup.bloomArtifact(snap).collect().head.getSeq[Long](0)
      assert(words.length === 4096 / 64, "numeric knob sizes the artifact")
      // the probe derives m from the artifact: verdicts stay correct at
      // the smaller width (no false negatives at ANY m)
      val out = Dedup.bloomGateXform(Dedup.bloomArtifact(snap))(
        fix.filter(col("doc_id") >= 100)).collect()
      assert(out.head.getBoolean(2))
      // oracle generator resolves the SAME knob at generation time: a
      // numeric knob inlines the literal and emits NO derivation CTE
      assert(Dedup.bloomCtes().contains("% 4096"))
      assert(!Dedup.bloomCtes().contains("bwidth"))
      spark.conf.set(Dedup.BloomBitsKey, "auto")
      val auto = Dedup.bloomArtifact(snap).collect().head.getSeq[Long](0)
      assert(auto.length === 4096 / 64, // tiny gram count floors at 4096
        s"auto must floor at 4096 bits, got ${auto.length * 64}")
      // auto is no longer oracle-poisoning (round-16): the oracle carries
      // the exact resolveBloomBits arithmetic over the exact gram set
      val sql = Dedup.bloomGateOracleSql()
      assert(sql.contains("bwidth") && sql.contains("greatest(4096"),
        "auto oracle must derive the width in SQL")
      assert(!Dedup.guardAuto(Dedup.KmeansCellsKey)(sql).contains("error("),
        "guardAuto still guards OTHER knobs only when they read auto")
    } finally spark.conf.unset(Dedup.BloomBitsKey)
    // with the knob UNSET, the default IS auto on both sides
    assert(Dedup.bloomCtes().contains("bwidth"),
      "unset knob must emit the auto derivation (auto is the default)")
  }

  test("d28 FP gate at the auto-derived width (the default): zero false " +
      "negatives by theorem, realized doc-level FP rate inside the " +
      "designed per-gram bound's expectation") {
    // the round-15 verdict's 'sliver actually left': the FP gate had only
    // been MEASURED at the 524288-bit constant. Run the full d28 query at
    // the auto default against real testdata.
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val row = graft.queries.Catalog.byName("d28_bloom_eval")
      .run(spark, sf).collect().head
    val nArrivals = row.getLong(0)
    val nFalsePos = row.getLong(3)
    val nFalseNeg = row.getLong(4)
    assert(nFalseNeg === 0L, "Bloom false negatives are impossible")
    assert(nArrivals > 0L)
    // designed per-gram FPR at 16 bits/gram, k=7 is ~7e-4; docs carry
    // ~50 distinct grams → per-doc ~3.5%. Gate at 3× that expectation so
    // a broken probe family (the 10⁶×-off incident d28 exists to catch)
    // fails loudly while honest statistical variation passes.
    assert(nFalsePos.toDouble / nArrivals <= 0.10,
      s"doc-level FP rate ${nFalsePos.toDouble / nArrivals} is far off " +
        "the 16-bits/gram design bound")
  }

  test("winnowing selects ~1/w of gram positions (the anchor-cost claim)") {
    val longDoc = Seq((1L, (1 to 400).map(i => s"t${i % 97}x$i")
      .mkString(" "))).toDF("doc_id", "text")
    val nGrams = longDoc
      .select(explode(expr("graft_gram_chain(text, 8)"))).count()
    val nAnchors = longDoc
      .select(explode(expr("graft_winnow(text, 8, 8)"))).count()
    assert(nAnchors * 3 <= nGrams, // expected ~2/(w+1) ≈ 0.22 of positions
      s"winnowing must prune anchors: $nAnchors of $nGrams")
    assert(nAnchors > 0)
  }

  test("d24: intra-doc repeats localized with exact span; clean docs absent") {
    val block = (1 to 12).map(i => s"r$i").mkString(" ")
    val degenerate = Seq.fill(30)("same").mkString(" ")
    val fix = Seq(
      (1L, s"$block $block"),                  // 12-token span at gap 12
      (2L, (1 to 40).map(i => s"q$i").mkString(" ")), // no repeats
      (3L, degenerate)                          // worst case: one token
    ).toDF("doc_id", "text")
    val out = Dedup.selfRepeatSpans(fix).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.get(1L) === Some(12L))
    assert(!out.contains(2L), "a repeat-free doc must not appear")
    assert(out(3L) === 29L) // 30 identical tokens: run 22 at gap 1 -> 29
    // the per-(doc, gram) cap bounds the degenerate quadratic case
    try {
      spark.conf.set(Dedup.MaxBucketSizeKey, "2")
      val capped = Dedup.selfRepeatSpans(fix).collect()
        .map(r => r.getLong(0)).toSet
      assert(!capped.contains(3L),
        "over-cap gram sites must drop the degenerate doc from the scan")
      assert(capped.contains(1L), "2-site grams survive a cap of 2")
    } finally spark.conf.unset(Dedup.MaxBucketSizeKey)
  }

  test("graft_gram_chain == the SQL transform twin; null under n tokens") {
    val P = PortableHash.P
    val rows = docs.filter(size(split(col("text"), " ")) >= 3)
      .select(
        expr("graft_gram_chain(text, 3)").as("k"),
        expr("graft_token_hashes(text)").as("th"))
      .select(col("k"), expr(
        s"transform(sequence(1, size(th) - 2), i -> " +
          s"((element_at(th, i) * 31 + element_at(th, i + 1)) % $P * 31" +
          s" + element_at(th, i + 2)) % $P)").as("twin"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    val short = docs.filter(size(split(col("text"), " ")) < 3)
      .select(expr("graft_gram_chain(text, 3)")).collect()
    assert(short.nonEmpty && short.forall(_.isNullAt(0)))
  }

  test("m04: byte-based decode == codepoint oracle on ASCII (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val asciiText = Gen.nonEmptyListOf(Gen.choose(32.toChar, 126.toChar))
      .map(_.mkString)
    val prop = Prop.forAll(asciiText) { t =>
      val f = new MediaDecoder().decode(
        MediaRecord(1L, "text/utf-8", t.getBytes("UTF-8")))
      val cps = t.codePoints().toArray
      f.n_bytes == t.length &&
        f.mean_byte == cps.map(_.toLong).sum.toDouble / cps.length &&
        f.width == 16 + cps(0) % 64 &&
        f.height == 16 + (if (cps.length > 1) cps(1) % 64 else 0 % 64)
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(r.passed, r.status.toString)
  }

  test("m04: non-ASCII text diverges from the codepoint oracle by design") {
    val t = "héllo" // é = U+00E9 → 2 UTF-8 bytes (0xC3 0xA9)
    val f = new MediaDecoder().decode(
      MediaRecord(1L, "text/utf-8", t.getBytes("UTF-8")))
    assert(f.n_bytes === 6) // 5 codepoints, 6 bytes
    val cpMean = t.codePoints().toArray.map(_.toLong).sum.toDouble / 5
    assert(f.mean_byte !== cpMean) // byte mean ≠ codepoint mean here
  }

  test("m04: driver testdata text is pure ASCII (the oracle's assumption)") {
    val nonAscii = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .filter(length(col("text")) =!= octet_length(col("text")))
      .count()
    assert(nonAscii === 0L,
      "documents.text contains non-ASCII; m04's oracle is no longer valid")
  }

  test("m09 dHash locality theorem: one substituted byte flips <= 2 bits, " +
      "length preserved keeps every other sample fixed") {
    val base = ("a" * 30) + ("Zq" * 80) + ("m" * 31) // 221 bytes, mixed
    def h(t: String): Long = graft.functions.TextHash
      .dHash(org.apache.spark.unsafe.types.UTF8String.fromString(t), 60)
    val h0 = h(base)
    // substitute ONE byte at every position: Hamming to the original must
    // never exceed 2 (the d26 recall guarantee, exhaustively)
    (0 until base.length).foreach { p =>
      val mut = base.substring(0, p) + "~" + base.substring(p + 1)
      val d = java.lang.Long.bitCount(h0 ^ h(mut))
      assert(d <= 2, s"substitution at $p flipped $d bits")
    }
    // sub-61-byte payloads are excluded by contract (null kernel)
    assert(graft.functions.TextHash.dHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("x" * 60), 60)
      == null)
  }

  test("d25 honors the bucket cap: over-cap signature buckets drop pairs, " +
      "cap off resurfaces them") {
    val fix = Seq(
      (1L, "p" * 100), (2L, "p" * 100), (3L, "p" * 100)) // identical phash
      .toDF("doc_id", "text")
    val sig = Multimodal.mediaPhash(fix)
      .select(col("doc_id"), col("phash").as("sig"))
    try {
      spark.conf.set(Dedup.MaxBucketSizeKey, "2")
      assert(Dedup.hammingBlockPairs(sig).collect().isEmpty,
        "every block-pair bucket has 3 members > cap 2")
    } finally spark.conf.unset(Dedup.MaxBucketSizeKey)
    assert(Dedup.hammingBlockPairs(sig).count() === 3L,
      "cap off: all three pairs resurface")
  }

  test("minhashMinBlocks knob (d29's recall lever): 1-block banding only " +
      "ADDS candidates past the same Jaccard verify; recall is monotone") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    def evalRow() = graft.queries.Catalog.byName("d30_media_minhash_eval")
      .run(spark, sf).collect().head
    val atPairs = evalRow()
    try {
      spark.conf.set(Dedup.MinhashMinBlocksKey, "1")
      val atBands = evalRow()
      assert(atBands.getLong(1) >= atPairs.getLong(1),
        "single-block keys can only widen the candidate set")
      assert(atBands.getDouble(4) >= atPairs.getDouble(4),
        "recall is monotone in the banding")
      // the oracle twin resolves the same knob at generation time
      assert(Dedup.mediaMinhashPairsSql("aug").contains(
        "n_match_blocks >= 1"))
    } finally spark.conf.unset(Dedup.MinhashMinBlocksKey)
    assert(Dedup.mediaMinhashPairsSql("aug").contains("n_match_blocks >= 2"))
  }

  test("an auto-derived knob is logged once through the graft logger") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("capture", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger("graft").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.INFO)
    try {
      spark.conf.set(Dedup.KmeansCellsKey, "auto")
      val k = Dedup.resolveCells(spark.range(1000).toDF("vec_id"), 8)
      assert(lines.toArray.toSeq ===
        Seq(s"${Dedup.KmeansCellsKey}=auto derived $k from corpus count 1000"))
    } finally {
      spark.conf.unset(Dedup.KmeansCellsKey)
      logger.removeAppender(capture)
      logger.setLevel(level)
    }
  }
}
