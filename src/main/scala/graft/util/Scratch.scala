package graft.util

import java.nio.file.{Files, Path}

/** Session-scoped scratch directories: like `Files.createTempDirectory` but
  * registered for recursive deletion at JVM exit, so repeated catalog runs
  * (Verify, BenchSuite and tests write dataset copies for the sink/roundtrip
  * queries) don't accumulate orphaned /tmp data across invocations.
  *
  * A main that ends with `Runtime.halt` skips shutdown hooks — so the
  * deletion loop is also exposed as [[cleanup]] for explicit pre-halt
  * invocation.
  */
object Scratch {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private val cached =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup()))

  /** Recursively delete every scratch dir created so far. Idempotent; safe
    * to call both explicitly (before a halt) and from the hook.
    */
  def cleanup(): Unit = {
    var root = created.poll()
    while (root != null) {
      try
        Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
      catch { case _: Exception => () }
      root = created.poll()
    }
    cached.clear()
  }

  /** Optional scratch ROOT override. Default (None) = the JVM tmpdir.
    * Every streaming query's sink parquet, checkpoint log, and state-store
    * files live under scratch, so a harness can keep them beside its own
    * run data (perfbench points it at its work dir). The override changes
    * WHERE the bytes go, never what is computed.
    */
  @volatile private var rootOverride: Option[Path] = None

  /** Point scratch at `root` (must exist) — returns true on success. */
  def setRoot(root: String): Boolean = {
    val p = java.nio.file.Paths.get(root)
    if (Files.isDirectory(p) && Files.isWritable(p)) {
      rootOverride = Some(p); true
    } else false
  }

  def dir(prefix: String): String = {
    val p = rootOverride match {
      case Some(root) => Files.createTempDirectory(root, prefix)
      case None => Files.createTempDirectory(prefix)
    }
    created.add(p)
    p.toString
  }

  /** One-shot materialization cache: the first call for `key` creates a
    * scratch dir, runs `build` against it, and memoizes the path; later
    * calls return the same path without re-running `build`. Lets roundtrip
    * queries (q38 CSV, q70 wire) write their dataset once per JVM so a
    * min-of-N bench measures the SCAN, not write+scan — the write cost is
    * the sink queries' (q42/q71) job to measure, not the scan queries'.
    */
  def materialized(key: String)(build: String => Unit): String =
    cached.computeIfAbsent(key, { _ =>
      val p = dir("graft_mat")
      build(p)
      p
    })

  /** Number of distinct fixtures materialized so far in this JVM (spec
    * hook — lets a test observe whether a query's plan CONSTRUCTION
    * triggered a build).
    */
  def materializedCount: Int = cached.size
}
