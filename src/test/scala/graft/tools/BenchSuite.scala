package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Dev timing harness over a slice of the catalog. Each selected query is
  * built and written through the noop sink `--runs` times (default 2) and
  * reports the minimum: every column of every row materializes, so
  * `count()`'s column pruning cannot under-measure projection-heavy
  * queries, and min-of-N keeps a first run's one-time fixture build out of
  * the number. The row count comes from an `observe` metric on the same
  * pass. The session is `Verify.session`, so `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_MASTER`, `SPARK_GRAFT_CONF` and the `auto` knobs mean here
  * what they mean in the correctness gate. The gated performance claim is
  * `perfbench/run.py`; this is the single-query and per-suite dev loop.
  *
  * Usage: `Test/runMain graft.BenchSuite <name-or-prefix[,...]> [sfDir]
  * [--runs N] [--explain] [--show]`. A selector picks every query whose
  * name starts with it (`q06_join5_chain` is one query, `s,d` two suites);
  * sfDir defaults to the bundled `perfbench/data/sf0.01`. `--explain`
  * prints the formatted plan and `--show` the first 100 rows, both after
  * the timed runs.
  */
object BenchSuite {
  def main(args: Array[String]): Unit = {
    var runs = 2
    var explain = false
    var show = false
    val positional = Seq.newBuilder[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--runs" if it.hasNext => runs = it.next().toInt
      case "--explain" => explain = true
      case "--show" => show = true
      case flag if flag.startsWith("--") => sys.error(s"unknown flag $flag")
      case arg => positional += arg
    }
    val pos = positional.result()
    require(pos.nonEmpty && runs >= 1, "usage: BenchSuite " +
      "<name-or-prefix[,...]> [sfDir] [--runs N] [--explain] [--show]")
    val selectors = pos.head.split(",").toSeq.filter(_.nonEmpty)
    val sfDir = pos.lift(1).getOrElse("perfbench/data/sf0.01")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selectors.exists(n.startsWith) }
    require(picked.nonEmpty, s"no catalog query matches ${pos.head}")

    val spark = Verify.session(sfDir)
    val results = picked.map { case (name, fn) =>
      try {
        var df: DataFrame = null
        var rows: Any = null
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          df = fn(spark, sfDir)
          val obs = Observation(name)
          df.observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          rows = obs.get("n")
          dt
        }
        println(f"BENCHSUITE $name min=${times.min}%.3f " +
          s"runs=${times.map(t => f"$t%.3f").mkString(",")} rows=$rows")
        if (explain) df.explain("formatted")
        if (show) df.show(100, truncate = false)
        name -> times.min
      } catch { case e: Exception =>
        println(s"BENCHSUITE $name FAILED: $e")
        name -> -1.0
      }
    }
    val failed = results.collect { case (n, t) if t < 0 => n }
    println(f"BENCHSUITE_TOTAL ${results.map(_._2).filter(_ >= 0).sum}%.3f " +
      s"over ${results.size - failed.size}/${results.size} queries" +
      (if (failed.nonEmpty) s" FAILED=${failed.mkString(",")}" else ""))
    graft.util.Caches.releaseAll()
    spark.stop()
    // halt skips the shutdown hooks, and with them Scratch's own cleanup
    graft.util.Scratch.cleanup()
    Runtime.getRuntime.halt(if (failed.isEmpty) 0 else 1)
  }
}
