package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Semantic pins for x11's distributed Lloyd k-means (the oracle gate
  * proves value equality against the unrolled SQL twin; these pin the
  * algorithmic contracts that SQL equality alone wouldn't catch).
  */
class KmeansSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def totals(iters: Int): (Long, Double) = {
    val rows = Similarity
      .kmeansSummary(Tables.embeddings(spark, sf), kDefault = 8, iters = iters)
      .collect()
    (rows.map(_.getLong(1)).sum, rows.map(_.getDouble(2)).sum)
  }

  test("cluster sizes always sum to the corpus size, with <= k clusters") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = Similarity.kmeansSummary(Tables.embeddings(spark, sf)).collect()
    assert(rows.length <= 8)
    assert(rows.map(_.getLong(1)).sum === n)
    assert(rows.map(_.getInt(0)).toSet.subsetOf((0 until 8).toSet))
  }

  test("Lloyd objective is non-increasing across rounds") {
    val (n1, inertia1) = totals(1)
    val (n2, inertia2) = totals(2)
    assert(n1 === n2)
    // Centroid quantization (2^-20 per component) perturbs the objective by
    // strictly less than the tolerance here.
    assert(inertia2 <= inertia1 * (1 + 1e-6) + 1e-6,
      s"inertia rose across a Lloyd round: $inertia1 -> $inertia2")
  }

  test("d17 semantic dedup: total coverage, one-hop reps point down-id in-cell") {
    val out = Dedup.semanticDedup(Tables.embeddings(spark, sf)).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length === n, "every vector gets exactly one admission row")
    assert(out.map(_.getLong(0)).distinct.length === n)
    val cellOf = out.map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (id, rep, pruned) = (r.getLong(0), r.getLong(2), r.getInt(3))
      if (pruned == 1) {
        assert(rep < id, s"pruned $id must point at a lower id, got $rep")
        assert(cellOf(rep) === cellOf(id), "rep must share the cell")
      } else assert(rep === id)
    }
  }

  test("d17 cell-count knob re-blocks: more cells, same coverage invariants") {
    val s = spark
    try {
      s.conf.set(Dedup.KmeansCellsKey, "16")
      val out = Dedup.semanticDedup(Tables.embeddings(s, sf)).collect()
      assert(out.length === Tables.embeddings(s, sf).count())
      val cells = out.map(_.getInt(1)).distinct
      assert(cells.length > 8, "knob must actually widen the cell space")
      assert(cells.forall(c => c >= 0 && c < 16))
    } finally s.conf.unset(Dedup.KmeansCellsKey)
  }

  test("d17 under a hot-cell cap: totality holds, over-cap cells just go unpruned") {
    val s = spark
    try {
      // every 8-cell clustering of 200+ vectors is over a cap of 3, so
      // ALL cells are excluded from pair generation
      s.conf.set(Dedup.MaxBucketSizeKey, "3")
      val out = Dedup.semanticDedup(Tables.embeddings(s, sf)).collect()
      assert(out.length === Tables.embeddings(s, sf).count(),
        "cap must not drop admission rows")
      assert(out.forall(_.getInt(3) === 0),
        "with all cells over cap, nothing can be pruned")
    } finally s.conf.unset(Dedup.MaxBucketSizeKey)
  }

  test("x12: probe ranks only the query's learned cell, descending") {
    val assigned = Similarity.kmeansAssign(Tables.embeddings(spark, sf))
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qCell = assigned(assigned.keys.min)
    val out = Similarity.knnIvfLearned(Tables.embeddings(spark, sf)).collect()
    assert(out.nonEmpty && out.length <= 10)
    assert(out.forall(_.getInt(1) === qCell), "hits must share the probe cell")
    val sims = out.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted.reverse, "ranking must be descending")
    assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
  }

  test("x12 honors the d17 cell knob — one shared assignment per corpus") {
    val s = spark
    try {
      s.conf.set(Dedup.KmeansCellsKey, "16")
      val out = Similarity.knnIvfLearned(Tables.embeddings(s, sf)).collect()
      assert(out.nonEmpty)
      assert(out.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 16))
    } finally s.conf.unset(Dedup.KmeansCellsKey)
  }

  test("auto-sizing derives the pinned knob values at three corpus sizes") {
    // The sizing rules are pure functions of the corpus count; pin the
    // derived values so a target change is a deliberate, visible edit.
    // kmeansCells: ceil(n / 256), clamped to [1, 65536].
    assert(Dedup.autoCells(500L) === 2)     // sf0.01 embeddings
    assert(Dedup.autoCells(2000L) === 8)    // sf0.1 — matches the default
    assert(Dedup.autoCells(200000L) === 782) // the 100x checkpoint
    assert(Dedup.autoCells(0L) === 1)
    assert(Dedup.autoCells(Long.MaxValue) === 65536)
    // hyperplaneBits: ceil(log2(n / 16)), clamped to [1, 30].
    assert(Dedup.autoBits(500L) === 5)
    assert(Dedup.autoBits(2000L) === 7)
    assert(Dedup.autoBits(200000L) === 14)  // BASELINE.md's measured point
    assert(Dedup.autoBits(0L) === 1)
    assert(Dedup.autoBits(Long.MaxValue) === 30)
  }

  test("kmeansCells=auto re-blocks d17 with the derived k; invariants hold") {
    val s = spark
    try {
      s.conf.set(Dedup.KmeansCellsKey, "auto")
      // sf0.001 has 500 vectors -> derived k = 2
      val out = Dedup.semanticDedup(Tables.embeddings(s, sf)).collect()
      assert(out.length === Tables.embeddings(s, sf).count())
      assert(out.map(_.getInt(1)).distinct.forall(c => c >= 0 && c < 2))
    } finally s.conf.unset(Dedup.KmeansCellsKey)
  }

  test("hyperplaneBits=auto re-blocks d07 with the derived width") {
    val s = spark
    try {
      s.conf.set(Dedup.HyperplaneBitsKey, "auto")
      // 500 vectors -> 5 bits -> buckets in [0, 32)
      val out = Dedup.embedNearDupLsh(Tables.embeddings(s, sf)).collect()
      assert(out.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 32))
    } finally s.conf.unset(Dedup.HyperplaneBitsKey)
  }

  test("oracle SQL generators resolve a numeric cell knob at generation time") {
    val s = spark
    try {
      s.conf.set(Dedup.KmeansCellsKey, "16")
      // the seed assignment `vec_id % k` is the knob's fingerprint in the
      // generated SQL; frozen-at-init generation was the round-9 advice gap
      assert(Dedup.semanticDedupSql().contains("% 16"))
      assert(Similarity.kmeansSummarySql().contains("% 16"))
      assert(Similarity.knnIvfLearnedSql().contains("% 16"))
      // the catalogue rebuilds per access, so the declared oracle follows
      val d17 = DedupQueries.queries.find(_.name == "d17_semantic_dedup").get
      assert(d17.oracle.get.contains("% 16"))
    } finally s.conf.unset(Dedup.KmeansCellsKey)
    assert(Dedup.semanticDedupSql().contains("% 8"), "unset -> default k=8")
  }

  test("d07's oracle threads a numeric hyperplaneBits knob at generation") {
    val s = spark
    try {
      s.conf.set(Dedup.HyperplaneBitsKey, "12")
      // 12 bits -> the top plane term contributes 2^11 = 2048
      assert(Dedup.embedNearDupLshSql.contains("2048"))
      val d07 = DedupQueries.queries.find(_.name == "d07_dedup_embed_lsh").get
      assert(d07.oracle.get.contains("2048"))
    } finally s.conf.unset(Dedup.HyperplaneBitsKey)
    assert(!Dedup.embedNearDupLshSql.contains("2048"), "unset -> 8 bits")
  }

  test("auto knobs POISON the oracle gate loudly instead of passing by luck") {
    val s = spark
    try {
      s.conf.set(Dedup.KmeansCellsKey, "auto")
      val d17 = DedupQueries.queries.find(_.name == "d17_semantic_dedup").get
      assert(d17.oracle.get.contains("error("),
        "auto must generate a failing oracle, not the coincidental default")
      val x11q = SimilarityQueries.queries.find(_.name == "x11_kmeans").get
      assert(x11q.oracle.get.contains("error("))
    } finally s.conf.unset(Dedup.KmeansCellsKey)
    try {
      s.conf.set(Dedup.HyperplaneBitsKey, "auto")
      val d07 = DedupQueries.queries.find(_.name == "d07_dedup_embed_lsh").get
      assert(d07.oracle.get.contains("error("))
    } finally s.conf.unset(Dedup.HyperplaneBitsKey)
  }

  test("x14: nprobe=2 scans exactly the query cell plus one more") {
    val out = Similarity
      .knnIvfLearnedProbe(Tables.embeddings(spark, sf), nprobe = 2).collect()
    assert(out.nonEmpty && out.length <= 10)
    val cells = out.map(_.getInt(1)).distinct
    assert(cells.length <= 2, s"nprobe=2 must rank at most 2 cells: $cells")
    val assigned = Similarity.kmeansAssign(Tables.embeddings(spark, sf))
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the query's own cell is its nearest centroid by construction, so it
    // is always among the probed cells — x14's hits can only ADD to x12's
    assert(cells.contains(assigned(assigned.keys.min)))
    val sims = out.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted.reverse)
  }

  test("x13: recall is monotone in nprobe (probed cell sets are supersets)") {
    val rows = Similarity.ivfRecallCurve(Tables.embeddings(spark, sf))
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2))
    val Seq(r1, r2) = rows.map(_.getDouble(3)).toSeq
    assert(r1 >= 0.0 && r2 <= 1.0)
    assert(r2 >= r1, s"nprobe=2 recall $r2 must not trail nprobe=1's $r1")
  }

  test("d18: precision is structurally 1.0 and every planted dup is caught") {
    val r = Dedup.semanticEval(Tables.embeddings(spark, sf)).collect().head
    val (nTruth, nPruned, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nHit === nPruned, "d17 prunes only on verified in-cell pairs")
    assert(r.getDouble(3) === 1.0)
    // 100 planted exact copies: identical vectors share a cell, so all
    // 100 are in truth AND pruned — recall loss can only come from
    // ORGANIC tau-pairs split across cells.
    assert(nHit >= 100, s"all 100 plants must be caught, hit=$nHit")
    assert(nTruth >= 100 && r.getDouble(4) <= 1.0)
  }

  test("summary is partition-stable (quantized sums are order-free)") {
    val base = Similarity.kmeansSummary(Tables.embeddings(spark, sf))
      .collect().map(_.toString).sorted.toSeq
    val shuffled = Similarity
      .kmeansSummary(Tables.embeddings(spark, sf).repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(base === shuffled)
  }

  test("x15: farthest-point seeding — coverage, loud empties, stability") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = Similarity.kmeansSummaryPP(Tables.embeddings(spark, sf))
      .collect()
    assert(rows.map(_.getLong(1)).sum === n)
    // n_empty_cells is the k - |rows| identity on every row
    rows.foreach(r => assert(r.getLong(3) === 8L - rows.length))
    // argmax seeding + quantized Lloyd rounds are partitioning-independent
    val shuffled = Similarity
      .kmeansSummaryPP(Tables.embeddings(spark, sf).repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq === shuffled)
  }

  test("x16: two-level probe scans ONE (c1, c2) cell, ranked descending") {
    val out = Similarity.knnIvfTwoLevel(Tables.embeddings(spark, sf))
      .collect()
    assert(out.nonEmpty && out.length <= 10)
    assert(out.map(r => (r.getInt(1), r.getInt(2))).distinct.length === 1,
      "all hits must share the query's (c1, c2) cell")
    assert(out.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 8))
    assert(out.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 8))
    val sims = out.map(_.getDouble(3)).toSeq
    assert(sims === sims.sorted.reverse)
  }

  test("x16 is partition-stable (residuals + quantized rounds are order-free)") {
    val base = Similarity.knnIvfTwoLevel(Tables.embeddings(spark, sf))
      .collect().map(_.toString).toSeq
    val shuffled = Similarity
      .knnIvfTwoLevel(Tables.embeddings(spark, sf).repartition(7))
      .collect().map(_.toString).toSeq
    assert(base === shuffled)
  }

  test("d19: total coverage, one-hop reps point down-id within (c1, c2)") {
    val out = Dedup.semanticDedupTwoLevel(Tables.embeddings(spark, sf))
      .collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length === n, "every vector gets exactly one admission row")
    val cellOf = out.map(r =>
      r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    out.foreach { r =>
      val (id, rep, pruned) = (r.getLong(0), r.getLong(3), r.getInt(4))
      if (pruned == 1) {
        assert(rep < id, s"pruned $id must point at a lower id, got $rep")
        assert(cellOf(rep) === cellOf(id), "rep must share the (c1,c2) cell")
      } else assert(rep === id)
    }
  }

  test("x18: PQ/ADC ranking ascends, is partition-stable, flags honestly") {
    val out = Similarity.pqKnn(Tables.embeddings(spark, sf)).collect()
    assert(out.nonEmpty && out.length <= 10)
    val adcs = out.map(_.getDouble(1)).toSeq
    assert(adcs === adcs.sorted, "ADC is a distance: ascending rank")
    assert(adcs.forall(_ >= 0.0), "ADC is a sum of squared distances")
    val shuffled = Similarity
      .pqKnn(Tables.embeddings(spark, sf).repartition(7))
      .collect().map(_.toString).toSeq
    assert(out.map(_.toString).toSeq === shuffled)
  }

  test("x15 seeds spread: no two chosen centers coincide on this corpus") {
    // The pathological modulo-seed failure is all-seeds-in-one-clump;
    // farthest-point guarantees pairwise-distinct centers whenever the
    // corpus has >= k distinct vectors. Pin via the assignment: every
    // cell is seeded by an actual corpus vector, so with 500 distinct
    // vectors all 8 cells must be non-empty at round 0... observable at
    // the summary as zero empty cells after 2 rounds on this corpus.
    val rows = Similarity.kmeansSummaryPP(Tables.embeddings(spark, sf))
      .collect()
    assert(rows.length === 8)
    assert(rows.forall(_.getLong(3) === 0L))
  }

  test("x30: k-means|| seeding — coverage, loud empties, stability") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = Similarity.kmeansSummaryParallel(Tables.embeddings(spark, sf))
      .collect()
    assert(rows.map(_.getLong(1)).sum === n)
    rows.foreach(r => assert(r.getLong(3) === 8L - rows.length))
    // hash-threshold sampling + quantized sums are partitioning-independent
    val shuffled = Similarity
      .kmeansSummaryParallel(Tables.embeddings(spark, sf).repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq === shuffled)
  }

  test("pp requests route by k: farthest-point small-k, k-means|| above") {
    import Similarity.{ParSeed, SeedMode}
    assert(SeedMode.fromPp(pp = true, 8) === SeedMode.FarthestPoint)
    assert(SeedMode.fromPp(pp = true, ParSeed.PpMaxK)
      === SeedMode.FarthestPoint)
    assert(SeedMode.fromPp(pp = true, ParSeed.PpMaxK + 1)
      === SeedMode.Parallel)
    assert(SeedMode.fromPp(pp = false, 100000) === SeedMode.Modulo)
    // the routed assignment IS the parallel assignment, value-for-value —
    // the auto-k wiring's observable contract
    val k = ParSeed.PpMaxK + 4
    val viaPp = Similarity
      .kmeansAssignSeeded(Tables.embeddings(spark, sf), k, 1, pp = true)
      .collect().map(_.toString).sorted.toSeq
    val direct = Similarity
      .kmeansAssignMode(Tables.embeddings(spark, sf), k, 1,
        SeedMode.Parallel)
      .collect().map(_.toString).sorted.toSeq
    assert(viaPp === direct)
  }

  test("x32: recursed recluster — coverage, loud empties, partition-stable") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = Similarity
      .kmeansSummaryParallelRecursed(Tables.embeddings(spark, sf))
      .collect()
    assert(rows.map(_.getLong(1)).sum === n)
    rows.foreach(r => assert(r.getLong(3) === 24L - rows.length))
    // weight-ranked seeding + broadcast assignment + quantized weighted
    // sums: every stage of the distributed recluster is order-free, so the
    // result is identical under any input partitioning (the discipline
    // that makes the x32 DuckDB gate — a single-threaded LOCAL evaluation
    // of the same unrolled chain — the "local ≡ recursed" pin at scale)
    val shuffled = Similarity
      .kmeansSummaryParallelRecursed(
        Tables.embeddings(spark, sf).repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq === shuffled)
  }

  test("resolveCells ceiling is a named refuse-with-message contract: " +
      "65536 admitted, above refused naming the broadcast bound") {
    val s = spark
    val emb = Tables.embeddings(s, sf)
    try {
      s.conf.set(Dedup.KmeansCellsKey, "65536")
      assert(Dedup.resolveCells(emb, 8) === 65536) // the ceiling itself is legal
      s.conf.set(Dedup.KmeansCellsKey, "65537")
      val e = intercept[IllegalArgumentException](Dedup.resolveCells(emb, 8))
      assert(e.getMessage.contains("centroid broadcast"),
        s"refusal must name the bound, got: ${e.getMessage}")
      assert(e.getMessage.contains("two-level"),
        "refusal must name the wider-k design (x16/d19)")
    } finally s.conf.unset(Dedup.KmeansCellsKey)
  }

  test("recluster routes on ReclusterMaxK: above-threshold == forced arm") {
    import Similarity.{ParSeed, SeedMode}
    val s = spark
    val emb = Tables.embeddings(s, sf)
    // forced mode, no conf: the recursed arm at k=12
    val forced = Similarity
      .kmeansAssignMode(emb, 12, 1, SeedMode.ParallelRecursed)
      .collect().map(_.toString).sorted.toSeq
    // conf-routed: threshold 8 < 12, so a plain Parallel request must take
    // the SAME arm and produce the SAME values — the routing contract the
    // oracle generators mirror at generation time
    val routed = try {
      s.conf.set(ParSeed.ReclusterMaxKKey, "8")
      Similarity.kmeansAssignMode(emb, 12, 1, SeedMode.Parallel)
        .collect().map(_.toString).sorted.toSeq
    } finally s.conf.unset(ParSeed.ReclusterMaxKKey)
    assert(routed === forced)
    // default threshold (ReclusterMaxKDefault=256): k=12 stays on the
    // greedy arm — the routed
    // plan is the x30 semantics, untouched by this round's change
    assert(Similarity.reclusterMaxK(s) === ParSeed.ReclusterMaxKDefault)
  }

  test("x30 on the planted corpus: parallel seeding leaves no empty cell") {
    val rows = Similarity.kmeansSummaryParallel(
      Similarity.clusteredCorpus(Tables.embeddings(spark, sf))).collect()
    assert(rows.length === 8)
    assert(rows.forall(_.getLong(3) === 0L))
  }

  test("p11: incremental admission == one-shot encode against the frozen " +
      "quantizer (maintain ≡ rebuild-encode)") {
    val emb = Tables.embeddings(spark, sf)
    val serve = Similarity.Serve
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val (_, cv1, _, cbAll) = Similarity.ivfPqIndex(base, serve.K1Default,
      serve.M, serve.SubDim, serve.Kcode, serve.Iters, serve.Pp)
    val cents = Similarity.kmeansTrainedCentroids(base, serve.K1Default,
      serve.Iters, serve.Pp)
    // one-shot: EVERY vector (base and delta alike) encoded in one batch
    // pass against the frozen artifacts — construction order must not
    // matter, or the appended index has silently forked from a rebuild
    val all1 = emb.select(col("vec_id"),
        expr("transform(embedding, ex -> CAST(ex AS DOUBLE))").as("e"))
      .crossJoin(broadcast(cents))
      .withColumn("cluster", Similarity.bestCell(col("e"), col("cents")).getField("c"))
      .select("vec_id", "e", "cluster")
    val allResid = all1.join(broadcast(cv1), col("cluster") === col("rc1"))
      .select(col("vec_id"), col("cluster").as("c1"),
        expr("zip_with(e, cv1, (x, y) -> x - y)").as("r"))
    val oneShot = Similarity.ivfPqServeRerank((all1, cv1, allResid, cbAll))
      .collect().map(_.toString).sorted.toSeq
    val p11 = graft.queries.Catalog.byName("p11_index_delta")
      .run(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(p11 === oneShot)
  }

  test("x23: IVF-PQ — ADC ascends, candidates stay in probed cells, stable") {
    val out = Similarity.ivfPqKnn(Tables.embeddings(spark, sf)).collect()
    assert(out.nonEmpty && out.length <= 10)
    val adcs = out.map(_.getDouble(2)).toSeq
    assert(adcs === adcs.sorted, "ADC is a distance: ascending rank")
    assert(adcs.forall(_ >= 0.0), "ADC is a sum of squared distances")
    assert(out.map(_.getInt(1)).distinct.length <= 2,
      "nprobe=2: results come from at most two coarse cells")
    val shuffled = Similarity
      .ivfPqKnn(Tables.embeddings(spark, sf).repartition(7))
      .collect().map(_.toString).toSeq
    assert(out.map(_.toString).toSeq === shuffled)
  }

  test("x25: a corpus-wide shortlist under a full probe IS the exact top-k") {
    // With every cell probed and shortK = |corpus| the ADC stage prunes
    // nothing, so the exact re-rank must return the exact L2 top-k —
    // every flag true. The contract that proves re-rank repairs ADC.
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val rr = Similarity
      .ivfPqKnnRerank(emb, nprobe = 8, shortK = n, kTop = 10).collect()
    assert(rr.length === 10)
    assert(rr.forall(_.getBoolean(3)),
      "degenerate re-rank must recover the exact top-k exactly")
    val d2s = rr.map(_.getDouble(2)).toSeq
    assert(d2s === d2s.sorted)
  }

  test("x25 >= x23: exact re-rank of a nested shortlist never loses recall") {
    // The ADC top-10 is a PREFIX of the ADC top-50 shortlist, and in an
    // exact re-rank every true-top-k member of the candidate set beats
    // every non-member — so the re-ranked overlap dominates the raw one.
    val emb = Tables.embeddings(spark, sf)
    def overlap(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(count(when(col("in_exact_topk"), lit(1)))).collect().head.getLong(0)
    assert(overlap(Similarity.ivfPqKnnRerank(emb))
      >= overlap(Similarity.ivfPqKnn(emb)))
  }

  test("x26: recall is monotone in shortK (shortlists are nested prefixes)") {
    val emb = Similarity.clusteredCorpus(Tables.embeddings(spark, sf))
    val rc = Similarity.ivfPqRerankCurve(emb, pp = true).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(3)).toSeq
    assert(rc.zip(rc.tail).forall { case (a, b) => a <= b },
      s"recall fell as the shortlist grew: $rc")
  }

  test("oracle knob readers fail loudly only on EXPLICIT session conflict") {
    // Round-12 advice narrowed the disagree-throw: two DISTINCT live
    // sessions that both EXPLICITLY set conflicting values throw; the
    // common set-on-active/unset-on-default shape (builder.getOrCreate +
    // newSession, knob set only on the session running the query) resolves
    // to the active session's value instead of hard-failing.
    import org.apache.spark.sql.SparkSession
    val key = graft.ext.Dedup.KmeansCellsKey
    val s2 = spark.newSession()
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(s2)
    try {
      // set-on-active / unset-on-default: active is authoritative
      s2.conf.set(key, "16")
      assert(graft.ext.Dedup.confInt(key, 8) === 16)
      // both explicitly set, conflicting: throw
      spark.conf.set(key, "32")
      val e = intercept[IllegalStateException] {
        graft.ext.Dedup.confInt(key, 8)
      }
      assert(e.getMessage.contains("active session"))
      // unset-on-active / set-on-default: falls through to the default
      s2.conf.unset(key)
      assert(graft.ext.Dedup.confInt(key, 8) === 32)
      spark.conf.unset(key)
      // agreement (both unset) falls through to the declared default
      assert(graft.ext.Dedup.confInt(key, 8) === 8)
    } finally {
      s2.conf.unset(key)
      spark.conf.unset(key)
      // Round-12 advice: leaving s2 active when prevActive was None would
      // trip later same-thread tests that set the knob on `spark` only.
      prevActive match {
        case Some(p) => SparkSession.setActiveSession(p)
        case None => SparkSession.clearActiveSession()
      }
    }
  }

  test("clusteredCorpus is overflow-safe at extreme vec_id (masked hash)") {
    // Round-11 advice: unmasked, vec_id * 2654435761 wraps BIGINT at
    // vec_id ~ 3.5e9 in Spark while DuckDB raises. The mask must make the
    // label equal the BigInt-exact value of the masked formula.
    import spark.implicits._
    val big = 5000000000L // > 2^32: would have wrapped unmasked
    val df = Seq((big, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val row = Similarity.clusteredCorpus(df).collect().head
    val expected = ((((big % 16777216L) * 2654435761L) / 65536L) % 8L).toInt
    assert(row.getInt(1) === expected)
    val emb = row.getSeq[Double](2)
    assert(emb.forall(v => !v.isNaN && math.abs(v) <= 3.5))
  }
}
