package graft

import org.apache.spark.sql.SparkSession

/** Dev harness (like BenchSuite): dumps `.explain("formatted")` for the
  * headline batch queries into PLANS.md — the reviewable evidence that the
  * 100 TB plan properties (pushdown reaching the scan, dimension joins
  * broadcasting, single-shuffle as-of, Expand-free distinct counting,
  * bucketed co-located SMJ, whole-stage codegen spans) actually hold.
  * PlanQualitySpec pins the same properties as assertions; this file is
  * the human-readable companion. Usage: PlanDump [sfDir] [outFile]
  */
object PlanDump {
  private val headline = Seq(
    "q01_scan_filter_project" -> "filter + projection pushed into the parquet scan (PushedFilters / ReadSchema)",
    "q06_join5_chain"         -> "5-way star join: all four dimension sides broadcast, no SortMergeJoin",
    "q17_topk"                -> "global top-k as TakeOrderedAndProject — never a full sort",
    "q29_asof_join"           -> "as-of join: ONE hash exchange + window, no join explosion",
    "q41_grouped_topk"        -> "custom TopKPerKey physical operator: partial heaps -> exchange -> final, no Window",
    "q42_partitioned_table"   -> "partition pruning at the source (PartitionFilters)",
    "q60_salted_join"         -> "skew-salted join: salted key exchange, no single hot partition",
    "q93_bucketed_join"       -> "bucketed co-located SMJ: join consumes bucketed scans in place, only the final agg exchanges",
    "q103_retention_cohort"   -> "cohort matrix without COUNT DISTINCT: no Expand, user_id partitioning reused",
    "q104_rolling_distinct"   -> "exact sliding distinct via explode + dedup: no Expand, 1-row max broadcasts",
    "d03_dedup_lsh_pairs"     -> "LSH candidate pairs: bands exploded into one equi-join, never all-pairs",
    "x01_knn_brute"           -> "brute kNN: corpus side never shuffles, query broadcast + TakeOrderedAndProject",
    "t04_text_fingerprint"    -> "native codegen'd rolling-hash expression inside one WholeStageCodegen span",
    "q80_quantile_sketch"     -> "mergeable histogram sketch: shuffle carries (type,bin,count), never values",
    "q101_percentile_gate_exact" -> "two-level exact percentile cut: bounded coarse buckets pick b*, fine cumsum inside ONE bucket, two corpus scans total",
    "d15_simhash_pairs"       -> "60-bit simhash pigeonhole pairing: block-pair equi-join (shuffled hash), exact popcount verify on candidates only",
    "x09_quantized_knn"       -> "int8 quantized retrieval: codegen'd graft_q127/graft_doti kernels, no interpreted lambdas, query broadcast",
    "x11_kmeans"              -> "distributed Lloyd k-means: broadcast-centroid map-side assignment (graft_l2 kernel), mergeable graft_centroids accumulator — corpus never hash-exchanges",
    "q107_table_profile"      -> "table profile: one narrow stats pass + per-column partial-dedup distinct branches, no multi-distinct Expand",
    "q108_profile_sketch"     -> "sketch-mode profile: per-column graft_kmv riding the SINGLE stats pass — one scan + one 1-row aggregate, shuffle carries four 64-long buffers",
    "x14_knn_ivf_nprobe"      -> "nprobe=2 IVF: serving centroids from one mergeable graft_centroids pass, nprobe-row broadcast probe, corpus never hash-exchanges",
    "p08_semantic_lifecycle"  -> "train once -> dedup -> serve: every stage scans ONE checkpointed assignment (Scan ExistingRDD, no training subtree in the plan), serve is broadcast-probe + TakeOrdered",
    "x16_knn_ivf_two_level"   -> "two-level residual quantizer: level-2 Lloyd over residuals, (c1,c2) probe broadcast, corpus never hash-exchanges",
    "x18_pq_knn"              -> "PQ/ADC: m codebook chains checkpointed into one broadcast row + kcode-row LUT broadcast joins, one shuffle-free scoring scan, exact-L2 flag inline",
    "x23_ivfpq_knn"           -> "IVFADC: checkpointed residuals + codebooks, nprobe-row broadcast probe, encode+ADC as ONE projection over probed cells only — unprobed cells never touched",
    "x25_ivfpq_rerank"        -> "IVFADC + exact re-rank: shortK ADC shortlist broadcast back against the checkpointed full-precision relation (the point-read stand-in), TakeOrdered tail",
    "x27_filtered_knn"        -> "filtered ANN: the pre-filter predicate pushed into the parquet scan (PushedFilters -> partition pruning at scale), post-filter flag via broadcast-only joins",
    "x28_ivfpq_filtered"      -> "inline-filtered IVF-PQ: predicate pushed into the serving scan, cell prune + probe + codebooks broadcast, ADC + shortK exact re-rank — never a full exact pass",
    "x30_kmeans_parallel"     -> "k-means|| seeding: constant pass count at any k, seeds re-enter as a literal relation (LocalTableScan) — no sequential TakeOrdered chain in the plan",
    "p10_index_lifecycle"     -> "persisted index serve: every source is an artifact parquet scan — no training subtree, no cache, corpus parquet absent from the plan",
    "d21_exact_substring"     -> "exact substring dedup: ONE gram-hash equi-join (never all-pairs), span lengths from window streaks over matched positions — no text re-scan",
    "x32_kmeans_recursed"     -> "recursed k-means|| recluster: the candidate relation stays distributed (checkpointed scan, weight-ranked seeds via one metadata-scale window), Lloyd rounds are broadcast-assign + posexplode/groupBy quantized recompute — no driver recluster at any k",
    "x33_sampled_recall"      -> "sampled-queries recall gate: nq-query broadcast, both arms through TopKPerKey partial heaps (shuffle carries <= |Q|*k rows, never the n*|Q| scored relation)",
    "d25_media_neardup"       -> "perceptual media near-dup: one compiled graft_dhash pass, block-pair equi-join (shuffled hash, capped), exact popcount verify on candidates only — the d15 shape on the media column",
    "q109_dynamic_pruning"    -> "dynamic partition pruning: the broadcast dim becomes a dynamicpruning subquery in the fact scan's PartitionFilters — unselected partitions never read, the runtime star-join prune static rewrites cannot reach",
    "d29_media_minhash_neardup" -> "alignment-tolerant media near-dup: compiled graft_byte_minhash_arr raw signature, block-pair equi-join at the conf-resolved key width (shuffled hash, capped), inline 16-hash sketch gate, exact byte-gram Jaccard verify on sketch survivors only (~3% of candidates at sf10) — survives the insert/delete re-encode class the dHash cannot",
    "t21_language_id"         -> "char-n-gram language-id: profile-artifact parquet scan broadcast as one row, then scan -> project — compiled graft_gram_hits rolling scans per row (incl. the multi-byte Cyrillic profile), no data exchange",
    "t23_bpe_encode"          -> "BPE encode: k (pair,count) map-side-combined exchanges pick the winners, each merge is corpus x broadcast 1-row winner (BroadcastNestedLoop over ONE row) — the encode itself is per-row string surgery, no collect, no UDF",
    "p14_tokenizer_lifecycle" -> "tokenizer artifact serve: the k-row merge table is a parquet scan (no training subtree — no pair counting, no aggregation anywhere), encode is per-row string surgery behind k broadcast 1-row joins",
    "p13_langid_mix"          -> "language-routed temperature mix: the langid label is a compiled per-row kernel (no exchange to label), per-language stats retained so rates/admission reuse ONE tiny cached frame, admission is a deterministic hash filter — two corpus scans structurally, exchanges carry only per-language partial aggregates",
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — headline physical plans (generated by graft.PlanDump)\n\n"
    sb ++= s"Source: `$sfDir`. Regenerate with " +
      "`sbt \"runMain graft.PlanDump\"`. The same properties are pinned as\n" +
      "assertions in `queries/PlanQualitySpec.scala`; this dump is the\n" +
      "reviewable evidence. Plans are AQE-initial (what the optimizer\n" +
      "commits to before runtime stats; broadcast/pruning decisions shown\n" +
      "here are the static ones the spec gates).\n"
    headline.foreach { case (name, why) =>
      val df = graft.queries.Catalog.byName(name).run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## $name\n\n$why\n\n```\n$plan```\n"
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"wrote $out (${headline.size} plans)")
    spark.stop()
  }
}
