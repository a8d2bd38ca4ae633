package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query.
  *
  * `run` builds the query with the DataFrame/Dataset API (logical plan only —
  * Catalyst picks the physical strategy); `oracle` is the equivalent ANSI SQL
  * for the driver's DuckDB hash-compare gate (SURVEY.md §2.12). `None` marks
  * results the oracle cannot express portably (e.g. HLL approximations),
  * which downgrades to a rows-only check.
  *
  * Oracle-parity rules used throughout (so row hashes match bit-for-bit):
  *   - every computed column is aliased identically on both sides;
  *   - sums over 2-decimal doubles go through DECIMAL casts (exact integer
  *     arithmetic in both engines) and are cast back to DOUBLE at the end;
  *   - no `round()` on computed doubles (HALF_UP-on-shortest-repr vs
  *     round-on-binary diverge); `floor/ceil/abs/sqrt` are IEEE-exact;
  *   - portable hashing uses md5 (both engines) rather than engine-native
  *     murmur3/xxhash.
  */
final class Q(
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracleThunk: () => Option[String]) {
  /** Built ON DEMAND (round 15): oracle TEXT can be huge — the unrolled
    * seed chains are O(k) CTEs / O(k²) characters at a numeric
    * kmeansCells knob (measured: catalogue construction at
    * kmeansCells=4096 OOMed an 8 GiB driver building ~1 GB of greedy-arm
    * SQL that a timing run would never read). Engine-only paths (BenchSuite,
    * plan dumps) touch `run` only; the string materializes solely
    * where the gate actually consumes it (Verify's oracleSql dump, spec
    * reads).
    */
  def oracle: Option[String] = oracleThunk()
}

object Q {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracle: => Option[String]): Q = new Q(name, run, () => oracle)
}

/** Full catalogue; SparkEntry derives its `queries`/`oracleSql` maps here. */
object Catalog {
  def all: Seq[Q] =
    Relational.queries ++ Temporal.queries ++ Scalars.queries ++
      Extended.queries ++ TypedQ.queries ++
      graft.pipeline.PipelineQueries.queries ++
      StreamingQ.queries ++ graft.ext.TextQueries.queries ++
      graft.ext.DedupQueries.queries ++ graft.ext.SimilarityQueries.queries ++
      graft.ext.MultimodalQueries.queries

  // `def`, not lazy val: several catalogues resolve conf knobs into their
  // oracle strings at GENERATION time; a memoized map would freeze those
  // strings at first access — the engine-reads-conf vs oracle-frozen
  // drift the per-catalogue defs exist to prevent.
  def byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
