package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.{BatchEtl, OfficeSchema, Replay, RoomReader, StreamJobs}

/** The benchmark harness: one workload per process.
  *
  * {{{
  * perfbench.Main --workload office_batch|office_live|catalog --seed N
  *   --seconds S --trace 0|1 --threads T --work DIR --out DIR
  *   --catalog FILE [--record]
  * }}}
  *
  * Prints a human-readable report, then the result JSON as the last line.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      threads: Int, work: File, out: File, catalog: File, record: Boolean,
      commit: String)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("threads", "4").toInt,
      new File(m("work")).getAbsoluteFile, new File(m("out")).getAbsoluteFile,
      new File(m("catalog")).getAbsoluteFile, args.contains("--record"),
      m.getOrElse("commit", "unknown"))
  }

  // ---- shared helpers -------------------------------------------------------

  def session(threads: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rmrf(f: File): Unit = if (f.exists()) {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The host's share of this VM's CPU time taken since `start` (the
    * `steal` column of /proc/stat); wall times rise with it.
    */
  def cpuTicks(): Option[Array[Long]] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }.toOption
  private val ticksAtStart = cpuTicks()
  def stealShare(start: Option[Array[Long]] = ticksAtStart): Double =
    (for (a <- start; b <- cpuTicks()) yield {
      val d = b.zip(a).map { case (x, y) => x - y }
      if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
    }).getOrElse(0.0)

  /** CPU seconds this JVM has used, all threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** What one workload measured: end-to-end values, per-layer values, the
    * ops it attempted and the ones that failed (named).
    */
  final class Result {
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val aliases = mutable.LinkedHashMap[String, (Double, String)]()
    var attempted = 0L
    /** Host CPU steal over the untraced measurement. */
    var measureSteal = 0.0
    val failed = mutable.ArrayBuffer[String]()
    def fail(what: String): Unit = failed += what
  }

  // ---- office data ----------------------------------------------------------

  val Rooms = 51

  /** Canonical rows of an office frame (ETL parquet or live sink), hashed
    * with [[OfficeGen.rowHash]]: (rows, hash, movement).
    */
  def officeDigest(df: DataFrame): OfficeGen.Expected = {
    val hasMove = df.columns.contains("if_movement")
    val cols = OfficeSchema.office.fieldNames.toSeq ++ (if (hasMove) Seq("if_movement") else Nil)
    var acc = OfficeGen.Empty
    val it = df.select(cols.map(col): _*).toLocalIterator()
    val vals = new Array[Float](5)
    while (it.hasNext) {
      val r = it.next()
      var i = 0
      var anyNull = false
      while (i < 5) { if (r.isNullAt(i + 1)) anyNull = true else vals(i) = r.getFloat(i + 1); i += 1 }
      val canon =
        if (anyNull) "null-field" else OfficeGen.canonical(r.getLong(0), vals, r.getString(6), r.getString(7))
      val move = if (hasMove) r.getString(8) == "movement" else vals(3) > 0f
      if (hasMove && (r.getString(8) == "movement") != (!r.isNullAt(4) && vals(3) > 0f))
        acc = acc + OfficeGen.Expected(0L, 0x5eedL, 0L) // enrichment disagrees with pir
      acc = acc + OfficeGen.Expected(1L, OfficeGen.rowHash(canon), if (move) 1L else 0L)
    }
    acc
  }

  private val EsField = "\"([a-z0-9_]+)\": (\"[^\"]*\"|[^,}]+)".r

  /** The ES-shaped JSONL documents under `dir`, digested like [[officeDigest]]. */
  def esDigest(dir: File): OfficeGen.Expected = {
    var acc = OfficeGen.Empty
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".jsonl"))
    val vals = new Array[Float](5)
    val sensorIdx = OfficeGen.Sensors.zipWithIndex.toMap
    files.foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().foreach { line =>
        var ts = 0L; var room = ""; var evTs = ""; var move = ""; var seen = 0
        EsField.findAllMatchIn(line).foreach { m =>
          val k = m.group(1); val v = m.group(2)
          def unq = v.stripPrefix("\"").stripSuffix("\"")
          k match {
            case "ts_min_bignt" => ts = unq.toLong; seen += 1
            case "room" => room = unq; seen += 1
            case "event_ts_min" => evTs = unq; seen += 1
            case "if_movement" => move = unq; seen += 1
            case s if sensorIdx.contains(s) =>
              if (v != "null") { vals(sensorIdx(s)) = v.toDouble.toFloat; seen += 1 }
            case _ => seen = -100
          }
        }
        val canon = if (seen != 9) "malformed" else OfficeGen.canonical(ts, vals, room, evTs)
        if ((move == "movement") != (vals(3) > 0f)) acc = acc + OfficeGen.Expected(0L, 0x5eedL, 0L)
        acc = acc + OfficeGen.Expected(1L, OfficeGen.rowHash(canon), if (move == "movement") 1L else 0L)
      } finally src.close()
    }
    acc
  }

  /** Minutes per room so the aligned table holds about `rows` rows. */
  def minutesFor(rows: Int): Int = {
    val keep = math.pow(1.0 - OfficeGen.MissShare - OfficeGen.NullShare, OfficeGen.Sensors.size)
    math.ceil(rows / (Rooms * keep)).toInt + 1
  }

  // ---- main -------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    rmrf(o.work)
    o.work.mkdirs()
    graft.util.Scratch.setRoot({ val d = new File(o.work, "scratch"); d.mkdirs(); d.getPath })
    val spark = session(o.threads, o.work)
    val tracer = new Tracer
    val res = new Result
    val spans =
      try {
        val w: Workload = o.workload match {
          case "office_batch" => new OfficeBatch(spark, o, tracer, res)
          case "office_live" => new OfficeLive(spark, o, tracer, res)
          case "catalog" => new CatalogRun(spark, o, tracer, res)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        // Start-up ends once the workload is built: that includes the
        // program objects it loads (the catalog's query lists).
        w.runAll((System.currentTimeMillis() - jvmStartMs) / 1000.0)
        w match {
          case c: CatalogRun if o.record =>
            o.out.mkdirs()
            Files.write(new File(o.out, "catalog_record.json").toPath, c.recordJson().getBytes("UTF-8"))
          case _ =>
        }
        if (o.trace) tracer.write(new File(o.out, s"trace-${o.workload}-seed${o.seed}.jsonl"))
        else Nil
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          res.fail(s"harness: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Nil
      }
    graft.util.Caches.releaseAll()
    spark.stop()
    graft.util.Scratch.cleanup()
    Report.print(o, res, spans, loadStart)
    rmrf(o.work)
    System.out.flush()
    // Spark's daemon threads may still log after stop(); the result line
    // must stay last on stdout.
    Runtime.getRuntime.halt(if (res.attempted > 0) 0 else 3)
  }
}

/** A workload: set up, then measure (untraced; then traced when asked). */
abstract class Workload(val spark: SparkSession, val o: Main.Opts, val tr: Tracer,
    val res: Main.Result) {
  import Main._

  /** Input generation; `k` > 0 marks a repeat, timed for the median only. */
  def generate(k: Int): Unit
  def warmUp(): Unit
  /** One measurement phase of about `o.seconds`; returns e2e metrics. */
  def measure(traced: Boolean): mutable.LinkedHashMap[String, Double]
  /** Per-layer metrics from the traced phase. */
  def layerMetrics(): Unit
  /** Extra traced-run work (the office_batch single-thread baseline). */
  def tracedExtras(untraced: mutable.LinkedHashMap[String, Double]): Unit = ()

  def runAll(startS: Double): Unit = {
    val gens = (0 until 3).map { k =>
      val t0 = System.nanoTime(); generate(k); (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    tr.label.set("warmup")
    warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    // The warm-up is a cold pass over the measured code. Its wall time moves
    // 25-30% between runs with host CPU steal, so it is printed but not
    // counted in the set-up time.
    val setupS = startS + median(gens)
    println(f"setup: start-up $startS%.3f s, input generation ${median(gens)}%.3f s (median of 3); warm-up $warmS%.3f s (not in setup_s)")
    val ticks0 = cpuTicks()
    val untraced = measure(traced = false)
    res.measureSteal = stealShare(ticks0)
    untraced("peak_rss_mb") = peakRssMb()
    res.e2e("setup_s") = setupS
    untraced.foreach { case (k, v) => res.e2e(k) = v }
    if (o.trace) {
      val t1 = System.nanoTime()
      tr.enable(spark)
      val regS = (System.nanoTime() - t1) / 1e9
      tr.label.set("measure")
      val traced = measure(traced = true)
      traced("peak_rss_mb") = peakRssMb()
      tr.settle(spark)
      layerMetrics()
      res.layer("trace.overhead.setup_s") = regS
      Report.WallTimes.foreach { case (k, _) => res.layer(s"bench.$k") = traced(k) }
      untraced.foreach { case (k, v) =>
        res.layer(s"trace.overhead.$k") = traced.getOrElse(k, v) - v
      }
      tracedExtras(untraced)
    }
  }

  /** Spark stage totals filed under the selected labels, per unit of work. */
  def sparkMetrics(labels: String => Boolean, units: Double): Unit = {
    val ts = tr.stageTotals.filter { case (l, _) => labels(l) }.values
    val u = math.max(units, 1.0)
    def sum(f: StageTotals => Double) = ts.map(f).sum / u
    val mb = 1024.0 * 1024.0
    res.layer(s"spark.stages") = sum(_.stages.toDouble)
    res.layer(s"spark.tasks") = sum(_.tasks.toDouble)
    res.layer(s"spark.run_ms") = sum(_.runMs)
    res.layer(s"spark.cpu_ms") = sum(_.cpuMs)
    res.layer(s"spark.gc_ms") = sum(_.gcMs)
    res.layer(s"spark.shuffle_write_mb") = sum(_.shuffleWriteB) / mb
    res.layer(s"spark.shuffle_read_mb") = sum(_.shuffleReadB) / mb
    res.layer(s"spark.spill_mb") = sum(_.spillB) / mb
    res.layer(s"spark.input_mb") = sum(_.inputB) / mb
    res.layer(s"spark.output_mb") = sum(_.outputB) / mb
  }

  /** Trigger-phase metrics over the traced triggers selected by `sel`. */
  def streamMetrics(sel: TriggerRec => Boolean): Unit = {
    val ts = tr.triggers.filter(sel).toSeq
    def p50(k: String) = median(ts.map(_.durations.getOrElse(k, 0L).toDouble))
    res.layer("stream.trigger_ms") = p50("triggerExecution")
    res.layer("stream.latest_offset_ms") = p50("latestOffset")
    res.layer("stream.get_batch_ms") = p50("getBatch")
    res.layer("stream.planning_ms") = p50("queryPlanning")
    res.layer("stream.add_batch_ms") = p50("addBatch")
    res.layer("stream.wal_commit_ms") = p50("walCommit")
    res.layer("stream.commit_offsets_ms") = p50("commitOffsets")
    res.layer("stream.trigger_ms_sum") = ts.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
    res.layer("stream.triggers") = ts.size.toDouble
    res.layer("stream.rows_per_trigger") =
      if (ts.isEmpty) 0.0 else ts.map(_.inputRows).sum.toDouble / ts.size
    res.layer("stream.empty_trigger_ratio") =
      if (ts.isEmpty) 0.0 else ts.count(_.inputRows == 0).toDouble / ts.size
    res.layer("stream.state_commit_ms") = ts.map(_.stateCommitMs).sum.toDouble
    res.layer("stream.state_rows") = ts.map(_.stateRows).sum.toDouble
  }
}

// ---- office_batch -------------------------------------------------------------

/** The reference pipeline as one batch run: rooms tree → `BatchEtl.run`
  * (parquet) → `Replay.toTopic` (wire files) → `parseEnrich` →
  * `toEsShaped` drained with `AvailableNow`.
  */
final class OfficeBatch(spark: SparkSession, o: Main.Opts, tr: Tracer, res: Main.Result)
    extends Workload(spark, o, tr, res) {
  import Main._

  val Minutes = 800
  val MinIterations = 3
  val RowsPerFile = 1000
  val rooms = new File(o.work, "rooms")
  var expected: OfficeGen.Expected = OfficeGen.Empty
  val iterSeconds = mutable.ArrayBuffer[Double]()
  val iterCpu = mutable.ArrayBuffer[Double]()
  val stageSeconds = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  var n = 0

  def generate(k: Int): Unit = {
    val dir = if (k == 0) rooms else new File(o.work, s"rooms-gen$k")
    expected = OfficeGen.generate(o.seed, Rooms, Minutes, Some(dir))
    if (k > 0) rmrf(dir)
  }

  /** One pipeline iteration; returns its wall seconds, or None if it failed. */
  def iteration(traced: Boolean, rooms: File = rooms,
      expected: OfficeGen.Expected = expected): Option[Double] = {
    n += 1
    tr.iter = n
    val dir = new File(o.work, s"iter-$n")
    val etlOut = new File(dir, "etl").getPath
    val topic = new File(dir, "topic").getPath
    val esOut = new File(dir, "es").getPath
    val ckpt = new File(dir, "ckpt").getPath
    res.attempted += 5
    def stage[T](name: String, layer: String)(body: => T): Option[(T, Double)] =
      try {
        val r = tr.span(layer, name)(body)
        stageSeconds.getOrElseUpdate(name, mutable.ArrayBuffer()) += r._2
        Some(r)
      } catch { case NonFatal(e) => res.fail(s"iteration $n $name: ${e.getMessage}"); None }
    val cpu0 = cpuS()
    val total = tr.span("bench", "office_batch iteration") {
      for {
        etl <- stage("etl", "pipeline.BatchEtl")(BatchEtl.run(spark, rooms.getPath, etlOut))
        rep <- stage("replay", "pipeline.Replay")(
          Replay.toTopic(spark.read.parquet(etlOut), OfficeSchema.office, topic, RowsPerFile))
        drain <- stage("drain", "pipeline.StreamJobs") {
          val q = StreamJobs.toEsShaped(
            StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)),
            esOut, ckpt, Trigger.AvailableNow(), OfficeSchema.esMapping.toMap)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
      } yield etl._2 + rep._2 + drain._2
    }._1
    val cpu = cpuS() - cpu0
    if (traced) {
      // Scan, pivot and sort without the parquet write, under its own label
      // so the Spark totals stay those of the timed stages.
      tr.settle(spark)
      tr.label.set("etl_read")
      stage("etl_read", "pipeline.RoomReader")(
        RoomReader.read(spark, rooms.getPath).write.format("noop").mode("overwrite").save())
      tr.settle(spark)
      tr.label.set("measure")
    }
    // Output checks, outside the timed interval.
    val etlOk = total.isDefined && {
      val got = officeDigest(spark.read.parquet(etlOut))
      val ok = got == expected
      if (!ok) res.fail(s"iteration $n etl parquet: got $got, expected $expected")
      ok
    }
    val esOk = total.isDefined && {
      val got = esDigest(new File(esOut))
      val ok = got == expected
      if (!ok) res.fail(s"iteration $n es documents: got $got, expected $expected")
      ok
    }
    rmrf(dir)
    if (etlOk && esOk) { iterCpu += cpu; total } else None
  }

  /** One full-size iteration over another tree: after a shorter one the
    * first measured iteration still ran ≈ 35% slower while the JIT settled.
    */
  def warmUp(): Unit = {
    val dir = new File(o.work, "rooms-warm")
    val exp = OfficeGen.generate(o.seed + 1, Rooms, Minutes, Some(dir))
    iteration(traced = false, dir, exp)
    rmrf(dir)
    n = 0
  }

  def measure(traced: Boolean): mutable.LinkedHashMap[String, Double] = {
    iterSeconds.clear(); iterCpu.clear(); stageSeconds.clear()
    val t0 = System.nanoTime()
    var runs = 0
    do { iteration(traced).foreach(iterSeconds += _); runs += 1 }
    while (runs < MinIterations || (System.nanoTime() - t0) / 1e9 < o.seconds)
    val p50 = median(iterSeconds.toSeq)
    val out = mutable.LinkedHashMap(
      "work_s" -> p50,
      "cpu_s" -> median(iterCpu.toSeq),
      "latency_p50_ms" -> p50 * 1000.0,
      "latency_p90_ms" -> quantile(iterSeconds.toSeq, 0.9) * 1000.0,
      "throughput_rows_per_s" -> (if (p50 > 0) expected.rows / p50 else 0.0))
    if (!traced) {
      res.aliases("batch_rows_per_s") = (out("throughput_rows_per_s"), "rows/s")
      println(s"office_batch: ${expected.rows} aligned rows, ${iterSeconds.size} iterations: " +
        iterSeconds.map(s => f"$s%.3f").mkString(" "))
    }
    out
  }

  def layerMetrics(): Unit = {
    stageSeconds.foreach { case (k, v) => res.layer(s"pipeline.${k}_s") = median(v.toSeq) }
    sparkMetrics(_ == "measure", iterSeconds.size)
    streamMetrics(_.label == "measure")
  }

  override def tracedExtras(untraced: mutable.LinkedHashMap[String, Double]): Unit = {
    // Single-thread baseline: the same iteration at local[1].
    spark.stop()
    val one = session(1, o.work)
    val w1 = new OfficeBatch(one, o.copy(threads = 1), new Tracer, new Main.Result)
    w1.expected = expected
    w1.n = 1000
    val t1 = w1.iteration(traced = false)
    t1.foreach(s => res.layer("spark.parallel_speedup") = s / untraced("work_s"))
    w1.res.failed.foreach(f => res.fail(s"local[1] $f"))
    one.stop()
  }
}

// ---- office_live --------------------------------------------------------------

/** The reference streaming job (`parseEnrich` → `toParquet`, trigger
  * `ProcessingTime(0)`) under an open-loop generator thread that renames
  * pre-encoded wire files into the topic directory on a fixed schedule.
  *
  * One file a second leaves the job idle between files (a trigger takes
  * ≈ 0.4 s), so the CPU it uses over the window is what the files cost. At
  * 10 files/s it never idled: its CPU was whatever the host let it have,
  * 20% less in minutes of high steal.
  */
final class OfficeLive(spark: SparkSession, o: Main.Opts, tr: Tracer, res: Main.Result)
    extends Workload(spark, o, tr, res) {
  import Main._

  val FilesPerSecond = 1
  val RowsPerFile = 1000
  val WarmupSeconds = 3
  var expected: OfficeGen.Expected = OfficeGen.Empty
  var phase = 0

  def rowsNeeded: Int = FilesPerSecond * RowsPerFile * (WarmupSeconds + o.seconds)

  /** The aligned office rows the topic replays, straight from the generator:
    * ETL does no work in this workload.
    */
  def officeRows(seed: Long, rows: Int): (java.util.List[Row], OfficeGen.Expected) = {
    val out = new java.util.ArrayList[Row]()
    val exp = OfficeGen.generate(seed, Rooms, minutesFor(rows), None, (ts, v, room, evTs) =>
      out.add(Row(ts, v(0), v(1), v(2), v(3), v(4), room, evTs)))
    (out, exp)
  }

  var rows: java.util.List[Row] = _

  def generate(k: Int): Unit = {
    val (r, e) = officeRows(o.seed, rowsNeeded)
    rows = r
    expected = e
  }

  /** Encode `rows` into staged wire files with the pipeline's replay stage. */
  def stage(dir: File, rows: java.util.List[Row]): Seq[File] = {
    Replay.toTopic(spark.createDataFrame(rows, OfficeSchema.office), OfficeSchema.office,
      dir.getPath, RowsPerFile)
    dir.listFiles().filter(_.getName.endsWith(".txt")).sortBy(_.getName).toSeq
  }

  def warmUp(): Unit = {
    // A short untimed stream at twice the rate brings the job's code paths up.
    val dir = new File(o.work, "warm")
    val files = stage(new File(dir, "staged"), officeRows(o.seed + 1, 8 * RowsPerFile)._1)
    run(files, new File(dir, "run"), 2 * FilesPerSecond, record = false)
    rmrf(dir)
  }

  final case class Live(latMs: Seq[Double], rowsPerS: Double, triggerS: Double,
      backlogMax: Int, lateMaxMs: Double, cpuS: Double)

  /** Run the job over `files` at `rate` files/s; check the sink; return the
    * per-file latencies of the measured window.
    */
  def run(files: Seq[File], dir: File, rate: Int, record: Boolean): Option[Live] = {
    val topic = new File(dir, "topic"); topic.mkdirs()
    val out = new File(dir, "out").getPath
    val ckpt = new File(dir, "ckpt")
    val q = StreamJobs.toParquet(
      StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic.getPath)),
      out, ckpt.getPath, Trigger.ProcessingTime(0L))
    val n = files.size
    val cpu0 = cpuS()
    val dueMs = new Array[Long](n)
    val lateMs = new Array[Double](n)
    val periodNs = 1000000000L / rate
    // Open loop: file i is due at t0 + i/rate whatever the job is doing.
    val t0Ms = System.currentTimeMillis() + 200
    val t0Ns = System.nanoTime() + 200L * 1000000L
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val dueNs = t0Ns + i * periodNs
        var now = System.nanoTime()
        while (now < dueNs) { java.util.concurrent.locks.LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
        Files.move(files(i).toPath, new File(topic, files(i).getName).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        dueMs(i) = t0Ms + i * periodNs / 1000000L
        lateMs(i) = (System.nanoTime() - dueNs) / 1e6
        i += 1
      }
    }, "open-loop-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    // Wait until every file's batch has committed, up to a deadline.
    val names = files.map(_.getName).toSet
    val deadline = System.nanoTime() + 30L * 1000000000L
    def batchOf(): Map[String, Long] = FileLog.entries(new File(ckpt, "sources/0"))
      .collect { case (path, b) if names.contains(new File(path).getName) => new File(path).getName -> b }
    def committed(): Long = Option(new File(ckpt, "commits").listFiles()).getOrElse(Array.empty[File])
      .flatMap(f => scala.util.Try(f.getName.toLong).toOption).maxOption.getOrElse(-1L)
    var fb = batchOf()
    while ((fb.size < n || fb.values.max > committed()) && System.nanoTime() < deadline) {
      Thread.sleep(20); fb = batchOf()
    }
    // The last progress event lands right after its commit.
    val lastBatch = if (fb.isEmpty) -1L else fb.values.max
    while (!q.recentProgress.exists(_.batchId >= lastBatch) && System.nanoTime() < deadline) Thread.sleep(10)
    val cpu = cpuS() - cpu0
    q.stop()
    q.exception.foreach(e => res.fail(s"live job: ${e.getMessage}"))
    val progress = q.recentProgress.map(p => Tracer.trigger(tr.label.get, p)).filter(_.inputRows > 0)
    val endOf = progress.map(t => t.batchId -> t.endMs).toMap
    if (!record) { rmrf(dir); return None }
    res.attempted += n + 1
    val commitMs = files.indices.map { i =>
      fb.get(files(i).getName).flatMap(endOf.get) match {
        case Some(e) => e.toDouble
        case None => res.fail(s"wire file ${files(i).getName} not committed by the deadline"); Double.NaN
      }
    }
    val got = officeDigest(spark.read.parquet(out))
    if (got != expected) res.fail(s"live parquet sink: got $got, expected $expected")
    val lines = files.map(f => f.getName -> rowsIn(new File(topic, f.getName))).toMap
    rmrf(dir)
    val warmEnd = t0Ms + WarmupSeconds * 1000L
    val measured = files.indices.filter(i => dueMs(i) >= warmEnd && !commitMs(i).isNaN)
    // Delivered throughput: rows of the measured files over the span from
    // the first measured due time to the commit of the last of them. It
    // follows the offered rate while the job keeps up and falls as a
    // backlog grows.
    val lastCommit = measured.map(commitMs).maxOption.getOrElse(warmEnd.toDouble)
    val measuredRows = measured.map(i => lines(files(i).getName)).sum
    val spanS = math.max((lastCommit - warmEnd) / 1000.0, 1e-3)
    val batches = measured.flatMap(i => fb.get(files(i).getName)).toSet
    val triggerS = progress.filter(t => batches.contains(t.batchId))
      .map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0).toSeq
    val backlog = files.indices.map { i =>
      files.indices.count(j => dueMs(j) <= dueMs(i) && !(commitMs(j) <= dueMs(i)))
    }.max
    Some(Live(measured.map(i => commitMs(i) - dueMs(i)), measuredRows / spanS, median(triggerS),
      backlog, lateMs.max, cpu))
  }

  private def rowsIn(f: File): Int = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().size finally src.close()
  }

  var lastLive: Live = _

  def measure(traced: Boolean): mutable.LinkedHashMap[String, Double] = {
    phase += 1
    val dir = new File(o.work, s"phase-$phase")
    val label = tr.label.get
    tr.label.set("staging")
    val files = stage(new File(dir, "staged"), rows)
    tr.settle(spark)
    tr.label.set(label)
    val live = run(files, new File(dir, "run"), FilesPerSecond, record = true)
    rmrf(dir)
    val l = live.getOrElse(Live(Nil, 0, 0, 0, 0, 0))
    lastLive = l
    val out = mutable.LinkedHashMap(
      "work_s" -> l.triggerS,
      "cpu_s" -> l.cpuS,
      "latency_p50_ms" -> median(l.latMs),
      "latency_p90_ms" -> quantile(l.latMs, 0.9),
      "throughput_rows_per_s" -> l.rowsPerS)
    if (!traced) {
      res.aliases("live_p50_ms") = (out("latency_p50_ms"), "ms")
      res.aliases("live_p90_ms") = (out("latency_p90_ms"), "ms")
      res.aliases("live_rows_per_s") = (l.rowsPerS, "rows/s")
      println(s"office_live: ${files.size} files of $RowsPerFile rows at $FilesPerSecond files/s, " +
        s"${l.latMs.size} measured files (warm-up ${WarmupSeconds}s excluded), " +
        f"generator late max ${l.lateMaxMs}%.1f ms, backlog max ${l.backlogMax} files")
    }
    out
  }

  def layerMetrics(): Unit = {
    streamMetrics(_.label == "measure")
    sparkMetrics(_ == "measure", 1)
    res.layer("stream.backlog_files_max") = lastLive.backlogMax
    res.layer("bench.generator_late_ms_max") = lastLive.lateMaxMs
  }
}

/** Reads a file source's checkpoint log (`<ckpt>/sources/0`): each entry
  * names one input file and the batch that took it.
  */
object FileLog {
  private val Entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
  def entries(dir: File): Map[String, Long] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap { f =>
        try {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.getLines().flatMap(l => Entry.findFirstMatchIn(l)
            .map(m => java.net.URI.create(m.group(1)).getPath -> m.group(2).toLong)).toList
          finally src.close()
        } catch { case NonFatal(_) => Nil }
      }.toMap
}

// ---- catalog --------------------------------------------------------------------

/** The catalog file: the table directory (relative to the file) and each
  * listed query's expected row count and hash. Its query list drives both
  * the catalog run and the per-query layer names.
  */
final case class CatalogFile(data: String, expected: Map[String, (Long, Option[String])]) {
  val names: Seq[String] = expected.keys.toSeq.sorted
}

object CatalogFile {
  def apply(f: File): CatalogFile = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val qs = spec.get("queries")
    CatalogFile(spec.get("data").asText, qs.fieldNames().asScala.map { n =>
      val e = qs.get(n)
      n -> (e.get("rows").asLong, Option(e.get("hash")).filter(!_.isNull).map(_.asText))
    }.toMap)
  }

  /** The query's id without its description: `s06_stream_sliding` → `s06`. */
  def shortName(query: String): String = query.takeWhile(_ != '_')
}

/** The declared queries listed in the catalog file, in name order, each
  * through the noop sink over the fixed tables, with the row count and an
  * order-insensitive hash observed in the same materialization.
  */
final class CatalogRun(spark: SparkSession, o: Main.Opts, tr: Tracer, res: Main.Result)
    extends Workload(spark, o, tr, res) {
  import Main._

  val spec = CatalogFile(o.catalog)
  val dataDir = new File(o.catalog.getParentFile, spec.data).getPath
  val expected = spec.expected
  val names: Seq[String] = spec.names

  /** Query name → (suite letter, module) from the catalog objects. */
  val moduleOf: Map[String, (String, String)] = {
    import graft.queries._
    Seq("q" -> ("queries.Relational", Relational.queries),
      "q" -> ("queries.Temporal", Temporal.queries), "q" -> ("queries.Scalars", Scalars.queries),
      "q" -> ("queries.Extended", Extended.queries), "q" -> ("queries.TypedQ", TypedQ.queries),
      "s" -> ("queries.StreamingQ", StreamingQ.queries),
      "p" -> ("pipeline.PipelineQueries", graft.pipeline.PipelineQueries.queries),
      "t" -> ("ext.TextOps", graft.ext.TextQueries.queries),
      "d" -> ("ext.Dedup", graft.ext.DedupQueries.queries),
      "x" -> ("ext.Similarity", graft.ext.SimilarityQueries.queries),
      "m" -> ("ext.Multimodal", graft.ext.MultimodalQueries.queries))
      .flatMap { case (s, (m, qs)) => qs.map(q => q.name -> (s, m)) }.toMap
  }
  val byName = graft.queries.Catalog.byName
  val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val perQueryCpu = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val recorded = mutable.LinkedHashMap[String, (Long, String)]()
  /** Each query's wall time is its minimum over at least two warm passes:
    * host interference only ever slows a run, so the fastest pass is the
    * one nearest the query's own cost. Its CPU time, which JIT and GC move
    * either way, is the median. Two passes keep a run near 50 s, the most
    * the run budget allows for this workload.
    */
  val MinPasses = 2
  var passes = 0

  def generate(k: Int): Unit =
    new File(dataDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(t => spark.read.parquet(t.getPath).schema)

  /** One untimed pass over the list: each query's first run in a JVM pays
    * its own code generation and JIT, which would dominate a cold timing.
    */
  def warmUp(): Unit = {
    graft.util.Caches.releaseAll()
    names.foreach(runQuery)
  }

  /** Hashable form of a column: maps have no hash in Spark, so use JSON. */
  private def canon(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
    if (hasMap(t)) to_json(c) else c

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Run one query; returns its seconds, or None when it threw or its
    * output did not match.
    */
  def runQuery(name: String): Option[Double] = {
    res.attempted += 1
    val (suite, module) = moduleOf.getOrElse(name, ("?", "queries"))
    tr.label.set(s"q:$suite:$name")
    val obs = Observation(s"perfbench_$name")
    val cpu0 = cpuS()
    val timed = try Right(tr.span(module, name) {
      val df0 = byName(name).run(spark, dataDir)
      val order = df0.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
      val df = df0.toDF(df0.columns.indices.map(i => s"c$i"): _*)
      val h = xxhash64(order.map { case (f, i) => canon(col(s"c$i"), f.dataType) }.toSeq: _*)
      df.observe(obs, count(lit(1)).as("n"),
        sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
        sum(shiftrightunsigned(h, 32)).as("hi"))
        .write.format("noop").mode("overwrite").save()
    }._2) catch { case NonFatal(e) => Left(e) }
    val cpu = cpuS() - cpu0
    tr.settle(spark)
    timed match {
      case Left(e) =>
        res.fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      case Right(secs) =>
        val m = obs.get
        val rows = m("n").asInstanceOf[Long]
        val hash = f"${m("hi").asInstanceOf[Long]}%016x${m("lo").asInstanceOf[Long]}%016x"
        recorded(name) = (rows, hash)
        val (eRows, eHash) = expected(name)
        val ok = o.record || (rows == eRows && eHash.forall(_ == hash))
        if (!ok) { res.fail(s"$name output: rows $rows hash $hash, expected rows $eRows hash ${eHash.getOrElse("-")}"); None }
        else { perQueryCpu.getOrElseUpdate(name, mutable.ArrayBuffer()) += cpu; Some(secs) }
    }
  }

  def measure(traced: Boolean): mutable.LinkedHashMap[String, Double] = {
    perQuery.clear(); perQueryCpu.clear()
    passes = 0
    val t0 = System.nanoTime()
    do {
      passes += 1
      tr.iter = passes
      graft.util.Caches.releaseAll()
      tr.span("bench", s"catalog pass $passes") {
        names.foreach(n => runQuery(n).foreach(s => perQuery.getOrElseUpdate(n, mutable.ArrayBuffer()) += s))
      }
    } while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds)
    val perQ = perQuery.map { case (n, v) => n -> v.min }
    val stream = perQ.filter { case (n, _) => moduleOf.get(n).exists(_._1 == "s") }.values.sum
    val batch = perQ.values.sum - stream
    val rows = recorded.map(_._2._1).sum
    val out = mutable.LinkedHashMap(
      "work_s" -> (batch + stream),
      "cpu_s" -> perQueryCpu.values.map(v => median(v.toSeq)).sum,
      "latency_p50_ms" -> median(perQ.values.toSeq) * 1000.0,
      "latency_p90_ms" -> quantile(perQ.values.toSeq, 0.9) * 1000.0,
      "throughput_rows_per_s" -> rows / math.max(batch + stream, 1e-9))
    if (!traced) {
      res.aliases("catalog_batch_s") = (batch, "s")
      res.aliases("catalog_stream_s") = (stream, "s")
      println(s"catalog: ${names.size} queries over $dataDir, $passes pass(es): " +
        perQ.map { case (n, s) => f"$n=$s%.3f" }.mkString(" "))
    }
    out
  }

  def layerMetrics(): Unit = {
    val perQ = perQuery.map { case (n, v) => n -> v.min }
    val suites = Report.Suites
    suites.foreach { s =>
      res.layer(s"catalog.${s}_s") = perQ.filter { case (n, _) => moduleOf.get(n).exists(_._1 == s) }.values.sum
    }
    res.layer("catalog.batch_s") = perQ.filter { case (n, _) => !moduleOf.get(n).exists(_._1 == "s") }.values.sum
    res.layer("catalog.stream_s") = res.layer("catalog.s_s")
    perQ.foreach { case (n, s) => res.layer(s"catalog.${CatalogFile.shortName(n)}_s") = s }
    sparkMetrics(_.startsWith("q:"), passes)
    suites.foreach { s =>
      val t = tr.stageTotals.filter(_._1.startsWith(s"q:$s:")).values
      res.layer(s"spark.$s.run_ms") = t.map(_.runMs).sum / passes
      res.layer(s"spark.$s.shuffle_write_mb") = t.map(_.shuffleWriteB).sum / passes / (1024.0 * 1024.0)
    }
    streamMetrics(_.label.startsWith("q:"))
  }

  /** The correctness file this run would write (record mode). */
  def recordJson(): String = {
    val oracle = graft.SparkEntry.oracleSql.keySet
    val qs = names.map { n =>
      val (rows, hash) = recorded(n)
      val h = if (oracle.contains(n)) Json.str(hash) else "null"
      s"""    ${Json.str(n)}: {"rows": $rows, "hash": $h}"""
    }
    s"""{\n  "data": ${Json.str(spec.data)},\n  "queries": {\n${qs.mkString(",\n")}\n  }\n}\n"""
  }
}
