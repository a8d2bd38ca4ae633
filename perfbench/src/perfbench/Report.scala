package perfbench

import java.io.File

/** Prints a run's report and writes its result file. The last stdout line
  * is the result JSON: end-to-end metrics untraced, per-layer metrics traced.
  */
object Report {
  /** Gated: the metrics whose run-to-run spread holds still under host CPU
    * steal. Wall times and the rates made from them are in [[WallTimes]]:
    * printed on every run, per-layer when traced.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_s" -> "s", "peak_rss_mb" -> "MiB")

  val WallTimes: Seq[(String, String)] = Seq(
    "work_s" -> "s", "throughput_rows_per_s" -> "rows/s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms")

  /** Catalog suites by module: q = queries minus StreamingQ, s = StreamingQ,
    * p = pipeline.PipelineQueries, d/x/t/m = ext Dedup/Similarity/TextOps/Multimodal.
    */
  val Suites: Seq[String] = Seq("q", "s", "p", "d", "x", "t", "m")

  /** Every per-layer metric; each query of the catalog file gets its own
    * `catalog.<id>_s`.
    */
  def perLayer(catalogQueries: Seq[String]): Seq[(String, String)] =
    Seq("etl", "etl_read", "replay", "drain").map(n => s"pipeline.${n}_s" -> "s") ++
    Seq("trigger_ms", "latest_offset_ms", "get_batch_ms", "planning_ms",
      "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "trigger_ms_sum")
      .map(n => s"stream.$n" -> "ms") ++
    Seq("stream.triggers" -> "count", "stream.rows_per_trigger" -> "rows",
      "stream.empty_trigger_ratio" -> "ratio", "stream.state_commit_ms" -> "ms",
      "stream.state_rows" -> "rows", "stream.backlog_files_max" -> "count",
      "bench.generator_late_ms_max" -> "ms") ++
    WallTimes.map { case (n, u) => s"bench.$n" -> u } ++
    Seq("spark.stages" -> "count", "spark.tasks" -> "count", "spark.run_ms" -> "ms",
      "spark.cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.busy_share" -> "ratio",
      "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB",
      "spark.spill_mb" -> "MiB", "spark.input_mb" -> "MiB", "spark.output_mb" -> "MiB",
      "spark.parallel_speedup" -> "x") ++
    Suites.flatMap(s => Seq(s"spark.$s.run_ms" -> "ms", s"spark.$s.shuffle_write_mb" -> "MiB")) ++
    Suites.map(s => s"catalog.${s}_s" -> "s") ++
    Seq("catalog.batch_s" -> "s", "catalog.stream_s" -> "s") ++
    catalogQueries.map(q => s"catalog.${CatalogFile.shortName(q)}_s" -> "s") ++
    (EndToEnd ++ WallTimes).map { case (n, u) => s"trace.overhead.$n" -> u }

  def print(o: Main.Opts, res: Main.Result, spans: Seq[Span], loadStart: Double): Unit = {
    val correct = res.failed.isEmpty && res.attempted > 0
    val failedRatio = if (res.attempted > 0) res.failed.size.toDouble / res.attempted else 1.0
    val prov = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_threads" -> o.threads.toString,
      "load_avg_1m_start" -> Json.num(math.round(loadStart * 100) / 100.0),
      "commit" -> Json.str(o.commit), "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "steal_share" -> Json.num(math.round(Main.stealShare() * 10000) / 10000.0),
      "steal_share_measured" -> Json.num(math.round(res.measureSteal * 10000) / 10000.0))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"provenance: $prov")
    EndToEnd.foreach { case (n, u) =>
      res.e2e.get(n).foreach(v => println(f"metric $n%-24s ${fmt(v)}%14s $u"))
    }
    WallTimes.foreach { case (n, u) =>
      res.e2e.get(n).foreach(v => println(f"metric $n%-24s ${fmt(v)}%14s $u (wall time, not gated)"))
    }
    res.aliases.foreach { case (n, (v, u)) => println(f"metric $n%-24s ${fmt(v)}%14s $u") }
    println(f"metric ${"failed_ratio"}%-24s ${fmt(failedRatio)}%14s ratio " +
      s"(${res.failed.size} of ${res.attempted} ops)")
    res.failed.foreach(f => println(s"FAILED: $f"))
    println(s"correct: $correct")
    val layers = perLayer(CatalogFile(o.catalog).names)
    if (o.trace) {
      layers.foreach { case (n, _) => if (!res.layer.contains(n)) res.layer(n) = 0.0 }
      res.layer("spark.busy_share") =
        if (res.layer("spark.run_ms") > 0) res.layer("spark.cpu_ms") / res.layer("spark.run_ms") else 0.0
      layers.foreach { case (n, u) => println(f"layer  $n%-32s ${fmt(res.layer(n))}%14s $u") }
      selfTimeSummary(spans)
    }
    val metrics = (if (o.trace) layers.map { case (n, u) => (n, res.layer(n), u) }
      else EndToEnd.map { case (n, u) => (n, res.e2e.getOrElse(n, 0.0), u) })
      .map { case (n, v, u) => s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
      .mkString("{", ", ", "}")
    val line = s"""{"correct": $correct, "attempted": ${res.attempted}, "failed": ${res.failed.size}, "metrics": $metrics}"""
    val failures = res.failed.map(Json.str).mkString("[", ",", "]")
    val aliases = res.aliases.map { case (n, (v, u)) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }.mkString("{", ", ", "}")
    o.out.mkdirs()
    val w = new java.io.PrintWriter(
      new File(o.out, s"result-${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"), "UTF-8")
    try w.println(s"""{"provenance": $prov, "failed_ops": $failures, "named": $aliases, "result": $line}""")
    finally w.close()
    println(line)
  }

  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** Self time summed per layer over the traced spans. */
  private def selfTimeSummary(spans: Seq[Span]): Unit = if (spans.nonEmpty) {
    val self = Tracer.selfTimes(spans)
    val byLayer = spans.groupBy(s => if (s.layer == "stream") s"stream.${if (s.name.startsWith("trigger")) "trigger" else s.name}" else s.layer)
      .map { case (l, ss) => l -> (ss.map(s => self(s.id)).sum / 1e6, ss.size) }
    println("trace self time by layer (s, spans):")
    byLayer.toSeq.sortBy(-_._2._1).foreach { case (l, (s, n)) => println(f"  $l%-28s $s%10.3f $n%6d") }
  }
}
