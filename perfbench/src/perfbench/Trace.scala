package perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch microseconds. `parent` is -1 for a
  * root; spans of one workload iteration share `iter`.
  */
final case class Span(id: Int, parent: Int, iter: Int, layer: String,
    name: String, startUs: Long, endUs: Long, attrs: Map[String, Double]) {
  def durUs: Long = endUs - startUs
}

/** Per-label sums of the Spark stage metrics a [[Tracer]] collects. */
final class StageTotals {
  var stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleWriteB, shuffleReadB, spillB, inputB, outputB = 0.0
}

/** One streaming trigger, as `StreamingQueryProgress` reports it. */
final case class TriggerRec(label: String, runId: String, batchId: Long,
    startMs: Long, durations: Map[String, Long], inputRows: Long,
    stateCommitMs: Long, stateRows: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** The benchmark's span recorder. Spans around the benchmark's own calls
  * into the program are opened with [[span]]; Spark jobs and stages come
  * from a `SparkListener`, streaming triggers and their phases from a
  * `StreamingQueryListener`. Everything stays in memory until [[write]].
  *
  * Timing is always on (the end-to-end metrics need it); recording spans
  * and installing listeners happens only once [[enable]] is called.
  */
final class Tracer {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  @volatile var enabled = false
  @volatile var iter = 0
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Label the listeners file stage metrics and triggers under. */
  val label = new AtomicReference[String]("setup")
  val stageTotals = mutable.LinkedHashMap[String, StageTotals]()
  val triggers = mutable.ArrayBuffer[TriggerRec]()
  private val jobOfStage = mutable.Map[Int, Int]()
  private val jobStartUs = mutable.Map[Int, Long]()

  /** Time `body`; when tracing, record it as a span under the open one. */
  def span[T](layer: String, name: String)(body: => T): (T, Double) = {
    val id = if (enabled) newId() else 0
    val parent = if (enabled && stack.nonEmpty) stack.top else -1
    if (enabled) stack.push(id)
    val t0 = nowUs
    val t0ns = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0ns) / 1e9)
    } finally if (enabled) {
      stack.pop()
      val t1 = nowUs
      synchronized { spans += Span(id, parent, iter, layer, name, t0, t1, Map.empty) }
    }
  }

  def enable(spark: SparkSession): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listeners to see every event posted so far. */
  def settle(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 10000L)

  private def totals(l: String): StageTotals =
    stageTotals.getOrElseUpdate(l, new StageTotals)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
      jobStartUs(e.jobId) = e.time * 1000L
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStartUs.remove(e.jobId).foreach { s =>
        spans += Span(-(e.jobId + 1), 0, iter, "spark", s"job ${e.jobId}",
          s, e.time * 1000L, Map.empty)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        val t = totals(label.get)
        t.stages += 1
        t.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuMs += m.executorCpuTime / 1e6
          t.gcMs += m.jvmGCTime
          t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          t.spillB += m.diskBytesSpilled
          t.inputB += m.inputMetrics.bytesRead
          t.outputB += m.outputMetrics.bytesWritten
        }
        for (s <- si.submissionTime; c <- si.completionTime) {
          val attrs = if (m == null) Map.empty[String, Double] else Map(
            "tasks" -> si.numTasks.toDouble,
            "run_ms" -> m.executorRunTime.toDouble,
            "cpu_ms" -> m.executorCpuTime / 1e6,
            "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
            "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead.toDouble)
          val job = jobOfStage.getOrElse(si.stageId, -1)
          spans += Span(newId(), if (job >= 0) -(job + 1) else 0, iter, "spark",
            s"stage ${si.stageId}: ${si.name.takeWhile(_ != ' ')}",
            s * 1000L, c * 1000L, attrs)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t = Tracer.trigger(label.get, e.progress)
      Tracer.this.synchronized { triggers += t }
    }
  }

  /** All spans, with triggers and their phases added and every listener
    * span parented to the innermost benchmark or trigger span that
    * contains it.
    */
  def allSpans: Seq[Span] = synchronized {
    val triggerSpans = triggers.flatMap { t =>
      val id = newId()
      val root = Span(id, 0, 0, "stream", s"trigger ${t.batchId}",
        t.startMs * 1000L, t.endMs * 1000L,
        Map("input_rows" -> t.inputRows.toDouble))
      // Phases in the order MicroBatchExecution runs them; progress reports
      // only their durations, so they are laid end to end from the start.
      var at = root.startUs
      root +: Tracer.Phases.filter(_ != "triggerExecution").flatMap { p =>
        t.durations.get(p).map { d =>
          val s = Span(newId(), id, 0, "stream", p, at, at + d * 1000L, Map.empty)
          at += d * 1000L
          s
        }
      }
    }
    val harness = spans.filter(s => s.id > 0 && s.layer != "spark")
    val containers = (harness ++ triggerSpans.filter(_.parent == 0))
      .sortBy(_.durUs)
    def container(s: Span): Span = containers
      .find(c => c.id != s.id && c.startUs <= s.startUs + 2000 &&
        s.endUs <= c.endUs + 2000 && c.durUs >= s.durUs).orNull
    def place(s: Span): Span = {
      val c = container(s)
      if (c == null) s.copy(parent = -1) else s.copy(parent = c.id, iter = c.iter)
    }
    val jobs = spans.filter(_.id < 0).map(place)
    val stages = spans.filter(s => s.layer == "spark" && s.id > 0).map { s =>
      if (s.parent < 0) s.copy(iter = jobs.find(_.id == s.parent).map(_.iter).getOrElse(0))
      else place(s)
    }
    val placedTriggers = triggerSpans.map(s => if (s.parent == 0) place(s) else s)
    (harness ++ placedTriggers ++ jobs ++ stages).toSeq
  }

  /** Write every span as one JSON line to `path`; returns the spans. */
  def write(path: java.io.File): Seq[Span] = {
    val all = allSpans
    val self = Tracer.selfTimes(all)
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startUs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_us":${self(s.id)},"attrs":{$attrs}}""")
    } finally w.close()
    all
  }
}

object Tracer {
  /** Duration minus the part of it that the span's children cover. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.durUs - covered)
    }.toMap
  }

  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets", "triggerExecution")

  def trigger(label: String, p: org.apache.spark.sql.streaming.StreamingQueryProgress): TriggerRec = {
    val d = p.durationMs
    val durations = Phases.flatMap(k => Option(d.get(k)).map(v => k -> v.longValue)).toMap
    TriggerRec(label, p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, durations,
      p.numInputRows,
      p.stateOperators.map(_.commitTimeMs).sum,
      p.stateOperators.map(_.numRowsTotal).sum)
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
