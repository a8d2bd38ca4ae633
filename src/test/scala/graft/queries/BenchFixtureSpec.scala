package graft.queries

import graft.SparkSpec

/** Pins the per-query fixture memo (`Scratch.materialized`): each query in
  * [[FixtureQueries]] materializes its scratch fixture during plan
  * CONSTRUCTION, and a second construction reuses the cached fixture, so
  * a min-of-N timing (BenchSuite) pays the build once per JVM and times
  * the scan. The spec drives construction through a path ALIAS of the test
  * scale factor ("sf0.001/." ) — Scratch keys embed the sfDir string, so
  * the alias guarantees fresh keys even when other suites in this JVM
  * already materialized fixtures for the plain path.
  */
class BenchFixtureSpec extends SparkSpec {
  // Trailing "/." aliases the directory without changing what is read.
  private val sf = "/root/testdata/sf0.001/."

  /** Batch queries whose plan construction builds a one-time fixture:
    * q38's CSV dataset, q70's wire files, q77's z-clustered copies, q93's
    * bucketed table, q96's partitioned layout, m06's one-file-per-doc tree,
    * and the lifecycle/incremental/pruning fixtures. Streaming queries
    * never use `materialized` (their scratch is per-run checkpoint dirs).
    */
  private val FixtureQueries: Seq[String] = Seq(
    "q38_csv_roundtrip", "q70_dsv2_wire_scan", "q77_zorder_scan",
    "q93_bucketed_join", "q96_dsv2_spj", "q106_incremental_agg",
    "q109_dynamic_pruning", "m06_binaryfile_scan", "p10_index_lifecycle",
    "p14_tokenizer_lifecycle")

  test("every FixtureQueries entry exists in the catalog") {
    val missing = FixtureQueries.filterNot(Catalog.byName.contains)
    assert(missing.isEmpty, s"unknown fixture queries: $missing")
  }

  test("fixture queries build at construction, then reuse the cache") {
    FixtureQueries.foreach { name =>
      val before = graft.util.Scratch.materializedCount
      Catalog.byName(name).run(spark, sf) // construction only — no action
      val afterFirst = graft.util.Scratch.materializedCount
      assert(afterFirst > before,
        s"$name did not materialize a fixture at construction")
      Catalog.byName(name).run(spark, sf)
      assert(graft.util.Scratch.materializedCount == afterFirst,
        s"$name rebuilt its fixture on re-construction (cache miss)")
    }
  }
}
