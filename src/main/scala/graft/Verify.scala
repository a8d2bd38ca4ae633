package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name filter (local dev loop;
    // the driver always runs the full surface with 2 args).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = session(sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.util.Caches.releaseAll() // owner-side release of library persists
    spark.stop()
  }

  /** The gate's session for the tables under `sfDir`: master and shuffle
    * width from the environment, UTC and nanos-tolerant reads, the
    * `SPARK_GRAFT_CONF` injection, and the `auto` knobs resolved against
    * this corpus. The dev timing harness builds its session here too, so
    * its numbers run under the gate's settings.
    */
  def session(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER overrides the master (e.g. "local-cluster[2,8,4096]"
    // for real executor JVMs — the closure-serialization / broadcast /
    // codegen-classloader falsification local[N] cannot provide). The
    // launcher also needs SPARK_HOME=/opt/spark AND SPARK_SCALA_VERSION=2.13
    // in the environment: without the latter the ExecutorRunner's command
    // builder probes for source-tree build directories and dies with
    // "Cannot find any build directories". Under
    // local-cluster the executor processes boot from /opt/spark/jars only,
    // so the packaged graft jar must be shipped via spark.jars
    // (SPARK_GRAFT_JARS); executors fetch it from the driver's file server
    // and add it to their MutableURLClassLoader, which is also the loader
    // Janino uses to resolve graft.functions.* from generated code.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder0 = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts's physical type drifts with testdata regenerations
      // (TIMESTAMP(NANOS) in r1-r5, timestamp[us] NTZ since r6). This flag
      // keeps a NANOS file readable (as LongType); Tables.normalizeEvents
      // converts every observed form to TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val builder = sys.env.get("SPARK_GRAFT_JARS").fold(builder0) { jars =>
      builder0
        .config("spark.jars", jars)
        // Executor JVMs are launched fresh from SPARK_HOME; Spark 4 on
        // JDK 17 needs the module opens there just as the driver does
        // (build.sbt injects them only into the forked driver JVM).
        .config("spark.executor.extraJavaOptions", Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar",
        ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" "))
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF="k=v,k2=v2": session-conf injection, so the
    // knob-threading contract (engine reads the conf at plan-build, oracle
    // generators resolve the SAME conf at dump time) can be exercised
    // END-TO-END through the real gate, not just via SQL-string specs.
    // Each entry must be k=v; a malformed token fails NAMING the entry (a
    // bare MatchError named nothing, and a typo'd injection would otherwise
    // cost a round of debugging). Values cannot contain ',' by construction
    // of the split — say so in the error rather than silently mis-splitting.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => spark.conf.set(k, v)
          case _ => sys.error(
            s"bad SPARK_GRAFT_CONF entry '$kv': expected key=value " +
              "(comma-separated; values must not contain commas)")
        }
      })
    // `auto` blocking knobs resolve ONCE here to their numeric derived
    // values (the same autoCells/autoBits formulas the engine applies at
    // plan-build): engine queries and oracle generators then read one
    // number, so the PRODUCTION posture becomes gateable end-to-end — a
    // standalone oracle SQL string cannot count the corpus, which is why
    // guardAuto otherwise poisons these oracles. The count is the gate
    // corpus's embeddings table (every KmeansCellsKey/HyperplaneBitsKey
    // resolution in the library runs against a 1:1 derivation of it).
    // NOTE: with the pp-seeded IVF-PQ defaults, a large derived k unrolls
    // k-1 farthest-point CTEs in the oracle — auto gating is meant for the
    // modulo-seeded families (d17/d19, x12-x14) and small-sf runs.
    locally {
      val autoKeys = Seq(
        graft.ext.Dedup.KmeansCellsKey -> ((n: Long) =>
          graft.ext.Dedup.autoCells(n)),
        graft.ext.Dedup.HyperplaneBitsKey -> ((n: Long) =>
          graft.ext.Dedup.autoBits(n)))
      if (autoKeys.exists { case (k, _) =>
          spark.conf.getOption(k).contains("auto") }) {
        val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
        autoKeys.foreach { case (k, derive) =>
          if (spark.conf.getOption(k).contains("auto")) {
            val v = derive(n)
            System.err.println(s"[verify] $k=auto resolved to $v " +
              s"from gate corpus count $n")
            spark.conf.set(k, v.toString)
          }
        }
      }
      // p15's byte budget (round 19): sampleBytes (numeric or auto) is a
      // production knob whose micros conversion needs a corpus aggregate,
      // so resolve it HERE — one sum(octet_length(text)) over the gate
      // corpus — and fold the result into the gateable sampleMicros conf
      // (which the engine's precedence and the oracle generator both
      // read). Skipped when sampleMicros is already numeric.
      val to = graft.ext.TextOps
      val microsSet = spark.conf.getOption(to.BpeSampleMicrosKey)
        .exists(_ != "auto")
      spark.conf.getOption(to.BpeSampleBytesKey) match {
        case Some(b) if !microsSet =>
          val budget = if (b == "auto") to.BpeSampleBytesAuto else b.toLong
          val total = spark.read.parquet(s"$sfDir/documents.parquet")
            .agg(org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.octet_length(
                org.apache.spark.sql.functions.col("text"))).cast("long"))
            .head.getLong(0)
          val v = to.microsForBudget(budget, total)
          System.err.println(s"[verify] ${to.BpeSampleBytesKey}=$b " +
            s"resolved to sampleMicros=$v from corpus text bytes $total")
          spark.conf.set(to.BpeSampleMicrosKey, v.toString)
        case _ => ()
      }
    }
    spark
  }
}
