package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.GraftFunctions.call
import graft.pipeline.CsvWire
import graft.sources.Tables
import graft.util.Scratch

/** Structured Streaming semantics, batch-checkable (SURVEY.md §2.10).
  *
  * Every query here runs a REAL streaming query — file source standing in
  * for the Kafka topic (zero-egress; SURVEY.md §7.4 risk 3), checkpointed
  * append parquet sink (exactly-once for file sinks), Trigger.AvailableNow
  * draining the source — and returns the sunk rows as a DataFrame the DuckDB
  * oracle can hash-check.
  *
  * Runner contract: every catalog stream is started and drained by
  * [[drain]], the one place a query gets its checkpoint, its trigger and
  * its state-partition scope. A parquet table becomes a stream through
  * [[stage]]; the parquet-append sink is [[drainToParquet]]; queries with
  * another sink (foreachBatch, the graft-wire connector) hand [[drain]]
  * their configured writer. State partitions are always
  * [[autoStateParts]] of the inlet bytes. The state-store backend is
  * Spark's own provider-class setting: the runner leaves it alone, and
  * only [[withRocksDb]] scopes it, for the queries that need RocksDB.
  *
  * Watermark semantics under AvailableNow: after the data batch, Spark runs
  * a no-data micro-batch that advances the watermark to max(event time) -
  * delay and flushes finalized state. With delay 0 the watermark lands
  * exactly on max(ts), so windows/sessions with `end <= max(ts)` are
  * emitted and the tail window is withheld in state — the oracles encode
  * exactly that boundary, which is how a 100 TB deployment behaves too
  * (late-capable state is never emitted early).
  */
object StreamingQ {

  /** Stateful streaming cost scales with state-store count (= shuffle
    * partitions at plan time): snapshots, WAL and commit run per store per
    * micro-batch. Size state partitioning to the state volume rather than
    * the CPU count — at real scale this knob grows with keys, not cores.
    *
    * The count is [[autoStateParts]] of the inlet volume, derived at PLAN
    * time. Calibration points: sf0.1 events (2.0 MB) → 4 (the former hand
    * default); sf10 events (88 MB) → 32, the point BASELINE.md measured
    * 4.8× faster on the stream-stream joins (s25 632 → 133 s). Restored
    * after the body (which must plan AND drain its query inside) so batch
    * plans keep the session setting. Inlet bytes come from [[inletBytes]]
    * over the stream's source files — metadata only, no scan.
    */
  def withStateParts[T](s: SparkSession, inlet: Long)(body: => T): T = {
    // No default for `inlet` (round-18, ADVICE low): with a silent 0L a
    // future streaming query that forgot to pass its inlet volume would
    // get the 4-partition sf0.1 floor AT ANY SCALE. Every caller derives
    // its inlet from the source path (metadata only), so demanding it
    // costs nothing.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", autoStateParts(inlet).toString)
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** State-partition derivation: one state store per ~4 MiB of inlet,
    * rounded up to a power of two (partition counts that halve/double
    * cleanly on replan), floored at 4 (the measured sf0.1 floor — fewer
    * stores than that saves nothing at any scale) and capped at 256
    * (beyond which per-store fixed costs need a real cluster's
    * parallelism to amortize).
    */
  private[graft] def autoStateParts(inletBytes: Long): Int = {
    val unit = 4L << 20
    val target = math.max(1L, (inletBytes + unit - 1) / unit)
    val hi = java.lang.Long.highestOneBit(target)
    val pow = if (hi == target) hi else hi << 1
    math.min(256L, math.max(4L, pow)).toInt
  }

  /** Total byte size of a stream inlet path (file or directory tree) —
    * filesystem metadata only, never a data scan.
    */
  private[graft] def inletBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_))
        .mapToLong(f => Files.size(f)).sum()
      finally walk.close()
    } else Files.size(p)
  }

  /** A parquet table as a file-source inlet: `copies` symlinks to it in a
    * fresh scratch dir (duplicate delivery for the dedup ops, one file per
    * micro-batch for s11), streamed with the table's raw on-disk schema.
    * `opts` are file-source read options (s11's maxFilesPerTrigger).
    */
  private def stage(s: SparkSession, path: String, copies: Int,
      opts: (String, String)*): DataFrame = {
    val dir = Paths.get(Scratch.dir("graft_stream_src"))
    // Absolutize the link target: a relative sfDir would otherwise resolve
    // against the scratch dir and produce broken links → an empty stream.
    val target = Paths.get(path).toAbsolutePath.normalize()
    (1 to copies).foreach { i =>
      Files.createSymbolicLink(dir.resolve(s"src_$i.parquet"), target)
    }
    s.readStream.schema(s.read.parquet(path).schema).options(opts.toMap)
      .parquet(dir.toString)
  }

  /** Start and drain one stream. `build` (the source, the transform, any
    * batch work they do, and the configured sink writer) runs inside
    * [[withStateParts]] for `inlet` bytes; the runner adds a scratch
    * checkpoint and `Trigger.AvailableNow`, starts the query and waits for
    * it, so the scope is restored only after every batch is planned and
    * drained. Returns the terminated query: its `recentProgress` carries
    * each trigger's phases and state metrics, `explain()` the plan.
    */
  private def drain(s: SparkSession, inlet: Long)(
      build: => DataStreamWriter[Row]): StreamingQuery =
    withStateParts(s, inlet) {
      val q = build
        .option("checkpointLocation", Scratch.dir("graft_stream_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }

  /** [[drain]] into the checkpointed append parquet sink; returns the sunk
    * rows.
    */
  private def drainToParquet(s: SparkSession, inlet: Long)(
      build: => DataFrame): DataFrame = {
    val out = Scratch.dir("graft_stream_out")
    drain(s, inlet) {
      build.writeStream.format("parquet").outputMode("append")
        .option("path", out)
    }
    s.read.parquet(out)
  }

  /** Run a file-source stream over one on-disk parquet table through
    * `xform` into the parquet sink; return the sunk rows. `copies`
    * symlinks the source parquet N times (duplicate delivery simulation
    * for dedup ops); `normalize` adapts the raw on-disk schema (the events
    * table's drifting timestamp forms).
    */
  def runFileStream(s: SparkSession, path: String, copies: Int = 1,
      normalize: DataFrame => DataFrame = identity)(
      xform: DataFrame => DataFrame): DataFrame =
    drainToParquet(s, inletBytes(path) * copies) {
      xform(normalize(stage(s, path, copies)))
    }

  def runEventsStream(s: SparkSession, d: String, copies: Int = 1)(
      xform: DataFrame => DataFrame): DataFrame = {
    // The day-bucketed stream-stream interval joins (s07/s10/s24/s25)
    // decompose a ts-interval predicate into to_date equality buckets +
    // the exact interval filter; that decomposition is only exact in a
    // fixed-offset session timezone (under DST a matched pair spanning a
    // spring-forward transition can land 2 calendar dates apart and miss
    // both covering buckets). Every entry point pins UTC — refuse loudly
    // if a future caller sets a DST zone (round-20 advice). Any fixed
    // offset (`Etc/UTC`, `Z`, `+00:00`, `+05:30`) buckets exactly.
    val zone = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
    require(zone.normalized().isInstanceOf[java.time.ZoneOffset],
      "runEventsStream requires spark.sql.session.timeZone=UTC: the " +
        "day-bucketed interval joins assume a fixed-offset calendar")
    runFileStream(s, s"$d/events.parquet", copies,
      Tables.normalizeEvents)(xform)
  }

  def runDocsStream(s: SparkSession, d: String)(
      xform: DataFrame => DataFrame): DataFrame =
    runFileStream(s, s"$d/documents.parquet")(xform)

  /** s33's offline artifact: the snapshot corpus's DISTINCT SpanN-gram
    * hash set as ONE checkpointed row (the substring counterpart of s30's
    * trained centroids) — broadcast into every micro-batch.
    */
  def substringSnapshot(snapshotDocs: DataFrame): DataFrame = {
    val n = graft.ext.Dedup.SpanN
    graft.util.Caches.retainCheckpointed(snapshotDocs
      .select(explode(call("graft_gram_chain", col("text"), lit(n))).as("g"))
      .agg(expr("array_sort(array_distinct(collect_list(g)))").as("sg")))
  }

  /** s33's arrival transform: flag every arriving doc that shares an exact
    * ≥ SpanN-token span with the snapshot (one compiled gram pass + one
    * array intersect against the broadcast set — stateless, shuffle-free;
    * completeness per arrival is d21's theorem).
    */
  def substringGateXform(snap: DataFrame)(src: DataFrame): DataFrame = {
    val n = graft.ext.Dedup.SpanN
    // graft_sorted_hits, not array_intersect: the snapshot is the BIG side
    // and arrives as the same broadcast value on every row, but
    // array_intersect rebuilds its hash set PER ROW — measured 16.2 s at
    // sf1 (50k arrivals × an 8k-gram snapshot). The kernel binary-searches
    // the sorted snapshot per distinct arrival gram instead
    // (O(|gs|·log|snap|)); values bit-equal under substringSnapshot's
    // sorted-distinct contract, pinned by the unchanged oracle hashes.
    src.crossJoin(broadcast(snap))
      .select(col("doc_id"),
        when(size(split(col("text"), " ")) >= n,
          call("graft_sorted_hits", call("graft_gram_chain", col("text"), lit(n)),
            col("sg")))
          .otherwise(lit(0)).as("n_hit_grams"))
      .withColumn("contaminated", col("n_hit_grams") > 0)
  }

  /** Q20: wire-format roundtrip pipeline (reference streaming-job shape —
    * source → CSV-wire parse → CASE enrichment → parquet sink,
    * convert-to-elasticsearch.py:105-134 / convert-to-minio.py:125-131).
    * Through [[CsvWire]], so a null field rides as an empty one instead of
    * shifting every later field.
    */
  def streamPipe(s: SparkSession, d: String): DataFrame =
    runEventsStream(s, d) { src =>
      val fields = src.select(col("event_id"), col("event_type"),
        col("value").as("value_d"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      CsvWire.decode(CsvWire.encode(fields, pipeWire), pipeWire)
        .withColumn("if_move",
          when(col("value_d") > 10, "movement").otherwise("no_movement"))
    }

  private val pipeWire = StructType.fromDDL(
    "event_id long, event_type string, value_d double, ts_str string")

  /** Typed row for the stateful counter (event time as exact epoch micros —
    * millisecond java.sql.Timestamp ordering would break tie-breaking).
    */
  final case class StatefulEv(event_id: Long, user_id: Long, tsu: Long)
  final case class RunningCount(event_id: Long, user_id: Long, running_n: Long)

  /** s04: custom streaming state via flatMapGroupsWithState — a per-user
    * running event counter. State (the count so far) persists in the state
    * store across micro-batches; within a batch the group iterator is
    * sorted by event time for determinism.
    */
  def statefulRunningCount(s: SparkSession, d: String): DataFrame =
    runEventsStream(s, d) { src =>
      import s.implicits._
      src.select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tsu"))
        .as[StatefulEv]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (user: Long, it: Iterator[StatefulEv],
           state: org.apache.spark.sql.streaming.GroupState[Long]) =>
            var n = state.getOption.getOrElse(0L)
            val out = it.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
              n += 1
              RunningCount(e.event_id, user, n)
            }
            state.update(n)
            out.iterator
        }
        .toDF()
    }

  /** Typed rows for the streaming forward fill (s26). */
  final case class FillEv(event_id: Long, user_id: Long, tsu: Long,
      v: Option[Double])
  final case class FillOut(event_id: Long, user_id: Long, v: Option[Double],
      v_filled: Option[Double])

  /** Typed rows for the streaming first-seen attribution (s27). */
  final case class SeenEv(user_id: Long, tsu: Long, event_id: Long)
  final case class SeenOut(user_id: Long, cohort_day: java.sql.Date)

  /** s27's transform, factored out so PlanQualitySpec can pin its
    * incremental plan (one stateful operator, append emission) on a stream
    * it drives itself.
    */
  def firstSeenXform(s: SparkSession)(src: DataFrame): DataFrame = {
    import s.implicits._
    src.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"))
      .as[SeenEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SeenEv],
         state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            // Tie-break equal timestamps on event_id so "first event" is a
            // total order (only the day is emitted today, but the choice
            // must stay deterministic if that ever widens).
            val first = it.minBy(e => (e.tsu, e.event_id))
            state.update(true)
            Iterator.single(SeenOut(user,
              java.sql.Date.valueOf(
                java.time.LocalDate.ofEpochDay(
                  Math.floorDiv(first.tsu, 86400000000L)))))
          }
      }
      .toDF()
  }

  /** Typed rows for the transformWithState processor (s12). */
  final case class TwsEv(event_id: Long, user_id: Long, tsu: Long,
      value: Double)
  final case class TwsOut(event_id: Long, user_id: Long, running_n: Long,
      running_max: Double)

  /** s12: the Spark 4 arbitrary-state API (`transformWithState` /
    * `StatefulProcessor`) — the successor to s04's flatMapGroupsWithState,
    * with named, individually-evolvable state variables instead of one
    * opaque state object. Keeps a per-user `ValueState` holding (event
    * count, running max value); each event emits its running totals.
    *
    * transformWithState requires the RocksDB state store provider — which
    * is also the honest 100 TB backend (the default HDFS-backed store keeps
    * all state rows on the JVM heap; RocksDB spills to native memory +
    * disk and changelogs to the checkpoint).
    */
  final class RunningMaxProcessor
      extends StatefulProcessor[Long, TwsEv, TwsOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("agg",
        org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TwsEv],
        tv: TimerValues): Iterator[TwsOut] = {
      val init = if (st.exists()) st.get() else (0L, Double.MinValue)
      var n = init._1
      var mx = init._2
      // sort the batch's rows per key by event time for determinism (same
      // discipline as s04); cross-batch order comes from state
      val out = rows.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
        n += 1
        mx = math.max(mx, e.value)
        TwsOut(e.event_id, key, n, mx)
      }
      st.update((n, mx))
      out.iterator
    }
  }

  /** Typed rows for the timer-driven sessionizer (s16). */
  final case class TimerEv(user_id: Long, tsu: Long)
  final case class TimerSess(user_id: Long, ss_us: Long, se_us: Long,
      n_events: Long)

  /** s16: event-time TIMERS — the transformWithState surface s12 doesn't
    * touch: a per-user inactivity sessionizer where the OPEN session is
    * closed by a registered timer firing when the watermark passes
    * last_event + gap (the no-data batch under AvailableNow), not by a new
    * row. Sessions closed intra-batch (a later event > gap after) emit
    * inline; ONLY the tail session per user rides on its timer, so state is
    * one (start, last, n) triple + one timer per user — O(users), not
    * O(events). Timers are re-registered (delete + register) every time the
    * open session extends, the standard pattern.
    */
  final class TimerSessionizer
      extends StatefulProcessor[Long, TimerEv, TimerSess] {
    private val gapUs = 1800000000L // 30 minutes in micros
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("open",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TimerEv],
        tv: TimerValues): Iterator[TimerSess] = {
      val sorted = rows.toSeq.map(_.tsu).sorted
      val out = scala.collection.mutable.ArrayBuffer[TimerSess]()
      val hadState = st.exists()
      // The PREVIOUS batch registered a timer at oldLast + gap; capture it
      // before this batch moves `last`, or the stale timer survives and
      // fires mid-session (emitting the open session and splitting what the
      // oracle merges).
      val staleTimerMs = if (hadState) (st.get()._2 + gapUs) / 1000 else -1L
      var (ss, last, n) =
        if (hadState) st.get()
        else (sorted.head, sorted.head - gapUs - 1, 0L) // force new session
      for (t <- sorted) {
        if (t - last > gapUs && n > 0) {
          out += TimerSess(key, ss, last + gapUs, n) // closed by a LATER row
          ss = t; n = 0L
        } else if (n == 0) ss = t
        last = t; n += 1
      }
      st.update((ss, last, n))
      if (hadState) getHandle.deleteTimer(staleTimerMs)
      // ms truncation: the timer (and Spark's watermark) carry millisecond
      // resolution while session ends are micros — a tail session ending in
      // the SAME millisecond as max(ts) but after it can emit early. That is
      // the state-store API's granularity, shared by Spark's own
      // session_window internals; with microsecond-random event times the
      // collision probability is ~0 and the oracle boundary stays exact.
      getHandle.registerTimer((last + gapUs) / 1000)
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TimerSess] = {
      if (!st.exists()) return Iterator.empty
      val (ss, last, n) = st.get()
      st.clear()
      Iterator.single(TimerSess(key, ss, last + gapUs, n))
    }
  }

  /** Typed rows for the MapState processor (s17). */
  final case class MapEv(event_id: Long, user_id: Long, event_type: String,
      tsu: Long)
  final case class MapOut(event_id: Long, user_id: Long, event_type: String,
      n_type: Long)

  /** s17: MapState — the third arbitrary-state primitive (s12 ValueState,
    * s16 timers): a per-user map of event_type → running count, updated
    * point-wise. The state-store contract is per-ENTRY get/put (RocksDB key
    * = grouping key + user map key), so a hot user with many types never
    * deserializes the whole map — the property that separates MapState from
    * a ValueState[Map] at 100 TB.
    *
    * Ordering contract (same as s04/s12's running counters): rows sort by
    * event time WITHIN a batch and state carries order ACROSS batches, so
    * the running counts equal the oracle's global event-time ROW_NUMBER as
    * long as batch boundaries are event-time monotonic — true for the
    * replayed topic here (files arrive in time order) and for any
    * log-structured source; out-of-order delivery needs s16-style
    * watermark+timer buffering instead.
    */
  final class TypeCountProcessor
      extends StatefulProcessor[Long, MapEv, MapOut] {
    @transient private var st: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("byType",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[MapEv],
        tv: TimerValues): Iterator[MapOut] = {
      rows.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
        val n = (if (st.containsKey(e.event_type)) st.getValue(e.event_type)
                 else 0L) + 1L
        st.updateValue(e.event_type, n)
        MapOut(e.event_id, key, e.event_type, n)
      }.iterator
    }
  }

  /** Typed rows for the ListState processor (s18). */
  final case class ListEv(event_id: Long, user_id: Long, tsu: Long)
  final case class ListOut(event_id: Long, user_id: Long,
      prev1: Long, prev2: Long, prev3: Long)

  /** s18: ListState — the last arbitrary-state primitive (s12 ValueState,
    * s16 timers, s17 MapState): a per-user bounded deque of the 3 most
    * recent event ids, emitted as each event's look-back context (the
    * feature-engineering shape: "previous k actions" without a window
    * shuffle). appendValue is the log-structured fast path; the bound is
    * enforced by rewriting the list only when it exceeds k — amortized O(1)
    * per event, state O(k·users). Same cross-batch ordering contract as s17
    * (batch boundaries event-time monotonic).
    */
  final class RecentEventsProcessor
      extends StatefulProcessor[Long, ListEv, ListOut] {
    private val k = 3
    @transient private var st: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ListEv],
        tv: TimerValues): Iterator[ListOut] = {
      var recent = st.get().toList // oldest-first, at most k long
      val out = rows.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
        val look = recent.reverse.padTo(k, -1L) // newest-first, -1 pads
        recent = (recent :+ e.event_id).takeRight(k)
        ListOut(e.event_id, key, look(0), look(1), look(2))
      }
      st.put(recent.toArray) // rewrite once per batch, k elements
      out.iterator
    }
  }

  /** Typed rows for the quota processor (s22). */
  final case class QuotaEv(event_id: Long, user_id: Long, tsu: Long,
      wstart_us: Long)
  final case class QuotaOut(event_id: Long, user_id: Long, wstart_us: Long,
      rn: Long)

  /** s22: per-key QUOTA enforcement — admit at most N events per
    * (user, day window); the streaming guardrail shape (API rate caps;
    * in a training pipeline, the cap-docs-per-domain balancing rule).
    * Key = (user, window), state = ONE counter; events beyond the cap are
    * dropped at ingest, so downstream state/sinks are bounded by
    * N · |active keys| regardless of input volume — the point of admission
    * control at 100 TB. Admission order is (event time, event_id) within a
    * batch, counter-continued across batches (the s17 ordering contract:
    * batch boundaries are event-time monotonic for the replayed log).
    * State here is TTLConfig.NONE because the replay is bounded; a
    * production deployment sets a TTL a safe multiple of the window span
    * so expired (user, window) counters age out of the store.
    */
  final class QuotaProcessor
      extends StatefulProcessor[(Long, Long), QuotaEv, QuotaOut] {
    private val cap = 3L
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("admitted",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Long, Long), rows: Iterator[QuotaEv],
        tv: TimerValues): Iterator[QuotaOut] = {
      var n = if (st.exists()) st.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.tsu, e.event_id)).flatMap { e =>
        if (n < cap) { n += 1; Some(QuotaOut(e.event_id, key._1, key._2, n)) }
        else None
      }
      st.update(n)
      out.iterator
    }
  }

  /** Typed rows for the streaming z-score processor (s23). */
  final case class ZEv(event_id: Long, user_id: Long, tsu: Long, x: Long)
  final case class ZOut(event_id: Long, user_id: Long, x: Long,
      n_prev: Long, is_anomaly: Int)

  /** s23: streaming anomaly flags from EXACT running moments — q79's
    * all-integer z² test (scaled-long values; (n·x−s1)² > 4·(n·s2−s1²) ⇔
    * |z| > 2, no division, no floats) over an UNBOUNDED per-user history
    * instead of q79's 4-row frame. The whole history lives in state as
    * three longs (n, Σx, Σx²) — order-free, mergeable, O(users) state
    * forever; the batch equivalent needs a running window over every event.
    * Rows are scored against moments of strictly PRECEDING events (then
    * folded in), so results are replay-deterministic across any
    * micro-batch slicing.
    */
  final class RunningZProcessor
      extends StatefulProcessor[Long, ZEv, ZOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("moments",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ZEv],
        tv: TimerValues): Iterator[ZOut] = {
      var (n, s1, s2) = if (st.exists()) st.get() else (0L, 0L, 0L)
      val out = rows.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
        val dev = n * e.x - s1
        val flag =
          if (n >= 4 && dev * dev > 4 * (n * s2 - s1 * s1)) 1 else 0
        val o = ZOut(e.event_id, key, e.x, n, flag)
        n += 1; s1 += e.x; s2 += e.x * e.x
        o
      }
      st.update((n, s1, s2))
      out.iterator
    }
  }

  // The transformWithState pipelines as standalone DataFrame transforms,
  // shared by the catalog entries below and the restart-chaos spec (which
  // drives them through its own kill-at-batch-k harness).
  def twsRunningMaxXform(s: SparkSession)(src: DataFrame): DataFrame = {
    import s.implicits._
    src.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("value"))
      .as[TwsEv]
      .groupByKey(_.user_id)
      .transformWithState(new RunningMaxProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  def timerSessionXform(s: SparkSession)(src: DataFrame): DataFrame = {
    import s.implicits._
    src.withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"))
      .as[TimerEv]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionizer,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  def mapStateXform(s: SparkSession)(src: DataFrame): DataFrame = {
    import s.implicits._
    src.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
      .as[MapEv]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  def listStateXform(s: SparkSession)(src: DataFrame): DataFrame = {
    import s.implicits._
    src.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"))
      .as[ListEv]
      .groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Typed rows for the streaming near-dup admitter (s28). */
  final case class BandRow(doc_id: Long, band: Int, h1: Long, h2: Long)
  final case class BandVerdict(doc_id: Long, band_dup: Boolean)

  /** s28's per-bucket state: the minimum doc_id ever seen in this LSH band
    * bucket. A document is a near-duplicate BY THIS BUCKET iff some doc
    * with a smaller id shares the bucket.
    *
    * The verdict LOG (folded per doc by bool_or after the drain) is
    * order-free under ANY micro-batch slicing AND any in-batch arrival
    * order: at arrival a doc is flagged unless it is the running bucket
    * minimum, and when a smaller id arrives later — same batch or a later
    * one — the displaced min-holder (the one doc this bucket ever left
    * unflagged) gets a retroactive correction row. Inductively only the
    * bucket's global min ends unflagged, which is exactly the batch
    * EXISTS-earlier oracle, so a multi-file source or a maxFilesPerTrigger
    * option cannot diverge (spec-pinned with an out-of-id-order slicing in
    * StreamingSpec). State stays one long per bucket — O(buckets) forever —
    * and per-batch memory is O(1) per bucket: the input iterator is folded
    * without buffering (see handleInputRows).
    */
  final class BucketMinProcessor
      extends StatefulProcessor[(Int, Long, Long), BandRow, BandVerdict] {
    @transient private var minSeen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      minSeen = getHandle.getValueState[Long]("minSeen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long, Long),
        rows: Iterator[BandRow], tv: TimerValues): Iterator[BandVerdict] = {
      // One-pass STREAMING fold — the input iterator is never buffered: a
      // mass-duplicated boilerplate page can land 10⁶ rows of one batch in
      // a single bucket (the same hazard the batch family's bucket cap
      // exists for), and an earlier rows.toSeq here held them all in one
      // task's heap. Each arrival is judged against the running minimum
      // (state ∪ batch-prefix); displacing the running min emits the same
      // retroactive correction row the cross-batch path uses, now also
      // in-batch. The log's row multiset depends on arrival order, but its
      // bool_or fold does not: only the global min ends unflagged (the
      // cross-batch induction applies verbatim with batches of size 1).
      // State writes are per-descent (expected O(log batch) of them), so
      // state stays correct even under a partially-drained output.
      var curMin = if (minSeen.exists()) minSeen.get() else Long.MaxValue
      rows.flatMap { r =>
        val id = r.doc_id
        if (id < curMin) {
          val displaced =
            if (curMin != Long.MaxValue) Seq(BandVerdict(curMin, true))
            else Seq.empty
          curMin = id
          minSeen.update(id)
          displaced :+ BandVerdict(id, band_dup = false)
        } else Seq(BandVerdict(id, curMin < id))
      }
    }
  }

  /** s28: STREAMING near-duplicate admission — the online form of d03's
    * MinHash/LSH blocking, the crawl-ingest shape: every arriving document
    * is checked against ALL previously admitted documents without ever
    * joining against the history. The d03 banding layout (4 bands × 2 rows
    * from the shared codegen'd signature kernel) becomes the STATE KEY:
    * each band bucket keeps only its min doc_id, so "have I seen a
    * near-dup of this?" is a state lookup, not a join — at 100 TB the
    * history never re-shuffles and per-batch cost is proportional to the
    * batch, not the corpus. Verdict = duplicate iff ANY of the doc's 4
    * buckets already held a smaller id (the d03 candidate-pair relation
    * restricted to earlier docs), aggregated per doc AFTER the drain; the
    * oracle is the same EXISTS over the shared signature SQL.
    */
  def nearDupXform(s: SparkSession)(src: DataFrame): DataFrame = {
    import s.implicits._
    graft.ext.Dedup.bandedSignatures(graft.ext.Dedup.minhash(src))
      .as[BandRow]
      .groupByKey(r => (r.band, r.h1, r.h2))
      .transformWithState(new BucketMinProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Typed rows for the streaming kNN maintainer (s29). */
  final case class KnnCand(q_id: Long, vec_id: Long, label: Int,
      cos_sim: Double)
  /** The running top-k of one query key, best first. */
  final case class TopKState[T](entries: Seq[T])

  /** Per-query top-k admission (s29's cosine top-k, s31's ADC shortlist).
    * `rank` maps a candidate to its (score, vec_id) key, smaller first —
    * (-cos, vec_id) for s29, (adc, vec_id) for s31 — a deterministic total
    * order. A candidate is ADMITTED (emitted) iff the state holds fewer
    * than k entries or it beats the current k-th; the sink therefore
    * accumulates an admission LOG, and the final top-k is a batch rank
    * over it after the drain. The final relation is provably independent
    * of micro-batch slicing AND of in-batch processing order: a true
    * top-k member beats every possible k-th at any arrival time (fewer
    * than k corpus vectors beat it at all), so it is always admitted;
    * spurious admissions are displaced by the post-drain rank. State is
    * O(|queries|·k) forever.
    *
    * The input iterator is consumed STREAMING — because knnAdmitXform
    * fans every stream row out to all query keys, each key sees the whole
    * micro-batch, and buffering it per key (an earlier rows.toSeq
    * pre-sort) would be O(batch) memory per key at 100 TB. Held memory is
    * now the k-entry state plus the admitted rows themselves; the log's
    * row SET varies with arrival order (admissions are a monotone
    * threshold process) but the post-drain rank — the operator's declared
    * output — does not, which is what the oracle gate hashes.
    */
  final class TopKAdmitProcessor[T](k: Int, rank: T => (Double, Long))(
      implicit stateEnc: org.apache.spark.sql.Encoder[TopKState[T]])
      extends StatefulProcessor[Long, T, T] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TopKState[T]] = _

    private def beats(a: T, b: T): Boolean = {
      val (sa, ia) = rank(a)
      val (sb, ib) = rank(b)
      sa < sb || (sa == sb && ia < ib)
    }

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TopKState[T]]("topk", stateEnc,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[T],
        tv: TimerValues): Iterator[T] = {
      var entries = if (st.exists()) st.get().entries else Seq.empty[T]
      val admitted = scala.collection.mutable.ArrayBuffer[T]()
      for (c <- rows) {
        if (entries.size < k || beats(c, entries.last)) {
          admitted += c
          entries = (entries :+ c).sortBy(rank).take(k)
        }
      }
      st.update(TopKState(entries))
      admitted.iterator
    }
  }

  /** s29: STREAMING kNN maintenance — the x-family's online form (as s28
    * is d03's): k nearest corpus vectors per query kept CURRENT as the
    * vector stream arrives, without ever re-scanning history. The static
    * query set broadcasts into a stream-static cross score (x07's map-side
    * shape), and per-query state is the running top-k — O(|queries|·k)
    * state forever, per-batch cost proportional to the batch. At 100 TB
    * this is the continuous-retrieval-index shape: each arriving shard
    * scores against the query set and only top-k admissions flow on.
    */
  def knnAdmitXform(s: SparkSession, queries: DataFrame)(
      src: DataFrame): DataFrame = {
    import s.implicits._
    src.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", call("graft_cos", col("embedding"), col("qe")))
      .select(col("q_id"), col("vec_id"), col("label"), col("cos_sim"))
      .as[KnnCand]
      .groupByKey(_.q_id)
      .transformWithState(
        new TopKAdmitProcessor[KnnCand](5, c => (-c.cos_sim, c.vec_id)),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Typed rows for the streaming semantic-dedup admitter (s30). */
  final case class CellVec(cluster: Int, vec_id: Long, e: Array[Double])
  final case class RepState(rep_id: Long, rep_e: Array[Double])
  final case class CellVerdict(vec_id: Long, cluster: Int, rep_id: Long,
      is_pruned: Int)

  /** s30's per-cell state: the cell's REPRESENTATIVE — its minimum vec_id
    * and that vector. An arriving vector is pruned iff its cosine to the
    * representative exceeds τ (the per-cell min-id admission rule — the
    * online greedy SemDeDup pass; d17's batch form additionally prunes
    * against non-representative smaller ids, so the two are deliberately
    * distinct declared contracts with distinct oracles).
    *
    * State is O(cells) FOREVER — one (long, dim-doubles) row per learned
    * cell — which is the whole point: "have I admitted something
    * semantically close?" is a state lookup against one vector, never a
    * join against history. In-batch arrival order is shuffle-dependent, so
    * each cell's batch slice is buffered and sorted by vec_id (memory =
    * O(cell ∩ batch), bounded by the micro-batch; the hot-cell hazard is
    * governed by the same auto-k posture as the batch family). Cross-batch
    * the ordered-replay contract applies (s26/s27's discipline, pinned by
    * the chaos spec's vec_id-ordered file slices): the earliest batch
    * containing a cell holds its global min id, so the representative is
    * set once and never displaced.
    */
  final class CellRepProcessor(tau: Double)
      extends StatefulProcessor[Int, CellVec, CellVerdict] {
    @transient private var rep: org.apache.spark.sql.streaming.ValueState[RepState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[RepState]("rep",
        org.apache.spark.sql.Encoders.product[RepState], TTLConfig.NONE)

    /** The graft_cos / VecOps.cosD fold, verbatim (sequential in-order
      * accumulation in doubles), so the streaming verdict is bit-identical
      * to the batch oracle's cosine.
      */
    private def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }
        acc
      }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }

    override def handleInputRows(key: Int, rows: Iterator[CellVec],
        tv: TimerValues): Iterator[CellVerdict] = {
      val sorted = rows.toArray.sortBy(_.vec_id)
      var cur: RepState = if (rep.exists()) rep.get() else null
      val out = new scala.collection.mutable.ArrayBuffer[CellVerdict](
        sorted.length)
      sorted.foreach { r =>
        if (cur == null) {
          cur = RepState(r.vec_id, r.e)
          rep.update(cur)
          out += CellVerdict(r.vec_id, key, r.vec_id, 0)
        } else if (r.vec_id == cur.rep_id) {
          // duplicate delivery of the representative itself: re-emit its
          // (unpruned) verdict rather than comparing it against itself
          out += CellVerdict(r.vec_id, key, r.vec_id, 0)
        } else if (r.vec_id < cur.rep_id) {
          // Ordered-replay contract breach: the stored representative is
          // the cell's min id ONLY under vec_id-ordered delivery (the
          // s26/s27 discipline the chaos spec pins). A smaller id arriving
          // later means the source violated that order — fail loudly (the
          // guardAuto / CentroidBuffer posture) instead of silently
          // emitting verdicts against a non-minimal representative.
          throw new IllegalStateException(
            s"s30: vec_id ${r.vec_id} arrived after representative " +
              s"${cur.rep_id} in cell $key — ordered-replay contract broken")
        } else if (cos(r.e, cur.rep_e) > tau) {
          out += CellVerdict(r.vec_id, key, cur.rep_id, 1)
        } else {
          out += CellVerdict(r.vec_id, key, r.vec_id, 0)
        }
      }
      out.iterator
    }
  }

  /** s30: STREAMING semantic dedup — d17's online form (as s28 is d03's):
    * the quantizer is TRAINED OFFLINE (x11's batch Lloyd rounds, shipped
    * as the 1-row centroid artifact) and arriving vectors are assigned to
    * their learned cell by the SAME argmin expression the batch assignment
    * uses (stream-static broadcast cross join — the cells of a vector are
    * bit-identical online and offline), then admitted per cell against the
    * min-id representative held in state. At 100 TB: the centroid table is
    * k·dim broadcast-sized, per-batch cost is proportional to the batch,
    * and state never exceeds one vector per cell.
    */
  def semanticDedupXform(s: SparkSession, cents: DataFrame,
      tau: Double = 0.3)(src: DataFrame): DataFrame = {
    import s.implicits._
    src.select(col("vec_id"),
        expr("transform(embedding, ex -> CAST(ex AS DOUBLE))").as("e"))
      .crossJoin(broadcast(cents))
      .withColumn("best", graft.ext.Similarity.bestCell(col("e"), col("cents")))
      .select(col("best.c").as("cluster"), col("vec_id"), col("e"))
      .as[CellVec]
      .groupByKey(_.cluster)
      .transformWithState(new CellRepProcessor(tau),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Typed rows for the streaming IVF-PQ server (s31). */
  final case class AdcCand(q_id: Long, vec_id: Long, c1: Int, adc: Double)

  /** s31: STREAMING IVF-PQ SERVING — the composed index's online form
    * (as s29 is x07's and s30 is d17's): arriving corpus vectors are
    * ingested against an OFFLINE-TRAINED IVF-PQ index (s30's
    * offline-train/online-serve lifecycle applied to retrieval). Per
    * arrival: assign its coarse cell with the broadcast trained-centroid
    * artifact (bit-for-bit the batch cell — s30's pinned contract),
    * residualize against the broadcast serving centroid, PRUNE to the
    * static query set's probed cells (the stream-static join on c1 —
    * arrivals outside every query's nprobe cells are dropped before any
    * scoring, s29's score-everything shape with the index's prune in
    * front), ADC-score with the shared [[graft.ext.Similarity
    * .adcTerm]] term, and keep a per-query running shortlist
    * ([[TopKAdmitProcessor]] in ADC order). At 100 TB this is continuous index
    * ingestion with bounded serving state: per-batch cost ∝ the probed
    * fraction of the batch, state O(|queries|·shortK), sink ∝ admissions.
    */
  def ivfPqServeXform(s: SparkSession, assignCents: DataFrame,
      cv1: DataFrame, cbAll: DataFrame, probes: DataFrame, m: Int = 4,
      subDim: Int = 16,
      shortK: Int = graft.ext.Similarity.Serve.ShortK,
      floorParts: Int = 1)(
      src: DataFrame): DataFrame = {
    import s.implicits._
    val adc = (0 until m)
      .map(s2 => graft.ext.Similarity.adcTerm(s2, subDim))
      .reduce(_ + _)
    // The streaming twin of the batch assignment floor (round 18): each
    // arrival pays an O(k·dim) compiled argmin, and a micro-batch's
    // parallelism is its SOURCE split count — at sf10-auto the 30 MB
    // single-split inlet ran the whole 200k-arrival assignment on ONE
    // task (measured: s31 addBatch 22.8 s of a 23.1 s trigger; state
    // commit ~1%). Callers pass floorParts = streamAssignFloor(...)
    // (same bytes·k work bound as the batch floor; 1 below it = today's
    // plan, no exchange added at gate scale). Values are unchanged: ADC
    // scores are per-row and the shortlist ranks by (adc, vec_id) —
    // order-free. The s31 chaos spec runs its crash+restart leg at
    // floorParts=4 and asserts rank equality against an UNfloored clean
    // run, pinning both restart recovery over this exchange and
    // floor-invariance of the declared output.
    val arrivals = if (floorParts > 1) src.repartition(floorParts) else src
    arrivals.select(col("vec_id"),
        expr("transform(embedding, ex -> CAST(ex AS DOUBLE))").as("e"))
      .crossJoin(broadcast(assignCents))
      .withColumn("best", graft.ext.Similarity.bestCell(col("e"), col("cents")))
      .select(col("vec_id"), col("e"), col("best.c").as("c1"))
      .join(broadcast(cv1), col("c1") === col("rc1"))
      .select(col("vec_id"), col("c1"),
        expr("zip_with(e, cv1, (x, y) -> x - y)").as("r"))
      .join(broadcast(probes), col("c1") === col("pcell"))
      .filter(col("vec_id") =!= col("q_id"))
      .crossJoin(broadcast(cbAll))
      .select(col("q_id"), col("vec_id"), col("c1"), adc.as("adc"))
      .as[AdcCand]
      .groupByKey(_.q_id)
      .transformWithState(
        new TopKAdmitProcessor[AdcCand](shortK, c => (c.adc, c.vec_id)),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** floorParts for [[ivfPqServeXform]]: the session parallelism when the
    * per-batch assignment work (inlet bytes × k cells — the same
    * CPU-bound proxy as the batch floor, Similarity.kmeansAssignMode)
    * crosses the shared bound, else 1 (no exchange). Inlet bytes come
    * from source-file metadata at plan time.
    */
  private[graft] def streamAssignFloor(s: SparkSession, inlet: Long,
      k: Int): Int =
    if (BigInt(inlet) * k >= graft.ext.Similarity.AssignFloorWork)
      s.sparkContext.defaultParallelism
    else 1

  /** Scope the RocksDB state-store provider (the transformWithState
    * requirement and the honest 100 TB backend) around `body`.
    */
  def withRocksDb[T](s: SparkSession)(body: => T): T = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    // a provider the session set itself comes back afterwards
    val prev =
      if (s.sessionState.conf.contains(k)) Some(s.conf.get(k)) else None
    s.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(s.conf.unset(k))(s.conf.set(k, _))
  }

  def transformWithStateRunningMax(s: SparkSession, d: String): DataFrame =
    withRocksDb(s) { runEventsStream(s, d)(twsRunningMaxXform(s)) }

  /** s31/s32's serving body (see [[ivfPqServeXform]]): the offline-trained
    * index and assignment artifacts, the arrivals (of `label` only, when
    * set) into the per-query ADC shortlists, the exact re-rank of each
    * drained shortlist, and `flag` marking the rows that are in the exact
    * top-k of that same corpus.
    */
  private def ivfPqServeQuery(s: SparkSession, d: String,
      label: Option[Int], flag: String): DataFrame = withRocksDb(s) {
    import org.apache.spark.sql.expressions.Window
    val serve = graft.ext.Similarity.Serve
    val emb = Tables.embeddings(s, d)
    val (a1, cv1, _, cbAll) = graft.ext.Similarity.ivfPqIndex(
      emb, serve.K1Default, serve.M, serve.SubDim, serve.Kcode,
      serve.Iters, pp = serve.Pp)
    val assignCents = graft.ext.Similarity.kmeansTrainedCentroids(
      emb, serve.K1Default, serve.Iters, pp = serve.Pp)
    val (qset, probes) = graft.ext.Similarity.ivfPqQueryProbes(a1, cv1)
    val k1 = graft.ext.Dedup.resolveCells(emb, serve.K1Default)
    val keep = label.map(t => col("label") === t)
    val admitted = runFileStream(s, s"$d/embeddings.parquet")(src =>
      ivfPqServeXform(s, assignCents, cv1, cbAll, probes,
        floorParts = streamAssignFloor(s,
          inletBytes(s"$d/embeddings.parquet"), k1))(
        keep.fold(src)(p => src.filter(p))))
    val short = admitted.withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= serve.ShortK).select("q_id", "vec_id", "c1")
    val top = a1.join(broadcast(short), "vec_id")
      .join(broadcast(qset), "q_id")
      .withColumn("d2", call("graft_l2", col("e"), col("qe")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") <= serve.TopK)
      .select("q_id", "vec_id", "c1", "d2")
    // the exact corpus: a1 when every vector arrives, else the pre-filter
    // exact arm (x28's always-correct one) on a fresh pushed-down scan —
    // label never joins the corpus
    val corpus = keep.fold(a1)(p => emb.filter(p).select(col("vec_id"),
      expr("transform(embedding, ex -> CAST(ex AS DOUBLE))").as("e")))
    val exact = corpus.crossJoin(broadcast(qset))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2x", call("graft_l2", col("e"), col("qe")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2x"), col("vec_id"))))
      .filter(col("rn") <= serve.TopK)
      .select(col("q_id").as("eq"), col("vec_id").as("evid"))
    top.join(broadcast(exact),
        col("q_id") === col("eq") && col("vec_id") === col("evid"),
        "left_outer")
      .select(col("q_id"), col("vec_id"), col("c1"), col("d2"),
        col("evid").isNotNull.as(flag))
  }

  /** s32's served label. */
  private val ServeLabel = 3

  /** s31/s32's oracle CTEs through the shortlist: the IVF-PQ index chains,
    * the query set and its probed cells, one lookup table per subspace,
    * the ADC-scored candidates (of `label` only, when set) and each
    * query's shortlist.
    */
  private def ivfPqServeCtes(label: Option[Int]): String = {
    val serve = graft.ext.Similarity.Serve
    val k1 = graft.ext.Dedup.confInt(graft.ext.Dedup.KmeansCellsKey,
      serve.K1Default)
    val (m, subDim) = (serve.M, serve.SubDim)
    val d2 = graft.ext.Similarity.duckD2 _
    val luts = (0 until m).map { sx =>
      val off = sx * subDim
      s"""lut$sx AS (SELECT p.q_id, p.pcell AS pc$sx,
                           c.cluster AS cc$sx,
                           ${d2(
                             s"list_slice(p.rqe, ${off + 1}, ${off + subDim})",
                             "c.cvec")} AS dd$sx
                    FROM probes p, v${sx}cvF c)"""
    }.mkString(",\n")
    val lutJoin = (0 until m).map { sx =>
      val qEq = if (sx == 0) "" else s"lut$sx.q_id = lut0.q_id AND "
      s"JOIN lut$sx ON ${qEq}k.c1 = pc$sx AND k.code_$sx = cc$sx"
    }.mkString(" ")
    val adc = (0 until m).map(sx => s"dd$sx")
      .reduce((a, b) => s"($a + $b)")
    val (labelJoin, labelWhere) = label.fold(("", ""))(t =>
      ("JOIN embeddings l ON k.vec_id = l.vec_id", s" AND l.label = $t"))
    s"""WITH ${graft.ext.Similarity.ivfPqIndexCtes(
           k1, m, subDim, serve.Kcode, serve.Iters, src = "embeddings",
           seed = graft.ext.Similarity.seedCtesFromPp(serve.Pp, k1))},
         qs AS MATERIALIZED (SELECT vec_id AS q_id, e AS qe
               FROM a2 ORDER BY vec_id LIMIT ${serve.NQueries}),
         probes AS MATERIALIZED (
           SELECT q_id, pcell, rqe FROM (
             SELECT q.q_id, c.cluster AS pcell,
                    list_transform(range(1, len(q.qe) + 1),
                                   i -> q.qe[i] - c.cvec[i]) AS rqe,
                    ROW_NUMBER() OVER (PARTITION BY q.q_id
                      ORDER BY ${d2("c.cvec", "q.qe")}, c.cluster) AS rn
             FROM qs q, cvF c) WHERE rn <= ${serve.NProbe}),
         $luts,
         scored AS MATERIALIZED (
           SELECT lut0.q_id, k.vec_id, k.c1, $adc AS adc
           FROM pqcodes k $lutJoin
                $labelJoin
           WHERE k.vec_id <> lut0.q_id$labelWhere),
         short AS (SELECT q_id, vec_id, c1 FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY adc, vec_id) AS rn FROM scored)
           WHERE rn <= ${serve.ShortK})"""
  }

  /** The stream-stream join family's (s07/s10/s24/s25) event-time cutoff. */
  private val cutoff = "2024-01-16 00:00:00"

  /** Day buckets for the interval joins (see s07): an event's own day, and
    * its day with the day before (a purchase's possible signup days) or
    * after (a signup's possible purchase days), one row per day.
    */
  private val oneDay = (ts: Column) => to_date(ts)
  private val dayAndBefore = (ts: Column) =>
    explode(array(to_date(ts), date_sub(to_date(ts), 1)))
  private val dayAndAfter = (ts: Column) =>
    explode(array(to_date(ts), date_add(to_date(ts), 1)))

  /** One side of the family: `eventType` rows before the cutoff, as the
    * `lead` columns, key `k` (user_id % 200), event time `t` (watermarked
    * at 0 s) and day bucket `${k}b`.
    */
  private def joinSide(src: DataFrame, eventType: String, k: String,
      t: String, bucket: Column => Column, lead: Seq[Column]): DataFrame =
    src.filter(col("event_type") === eventType &&
        col("ts") < to_timestamp(lit(cutoff)))
      .select(lead ++ Seq((col("user_id") % 200).as(k), col("ts").as(t),
        bucket(col("ts")).as(s"${k}b")): _*)
      .withWatermark(t, "0 seconds")

  /** Signups `how`-joined to purchases on key, day bucket and
    * pts ∈ [sts, sts + 24h]; every side column carries the suffix `sfx`.
    */
  private def signupPurchaseJoin(src: DataFrame, how: String,
      signupDay: Column => Column, purchaseDay: Column => Column,
      sfx: String = "", lead: Seq[Column] = Nil): DataFrame = {
    val (sk, sts, pk, pts) = (s"sk$sfx", s"sts$sfx", s"pk$sfx", s"pts$sfx")
    joinSide(src, "signup", sk, sts, signupDay, lead)
      .join(joinSide(src, "purchase", pk, pts, purchaseDay, Nil),
        expr(s"$sk = $pk AND ${sk}b = ${pk}b AND " +
          s"$pts >= $sts AND $pts <= $sts + interval 24 hours"), how)
  }

  /** s10/s25's oracle sides and their min-of-maxima watermark. */
  private val signupPurchaseCtes =
    s"""WITH s AS (SELECT user_id % 200 AS sk, ts AS sts FROM events
                   WHERE event_type = 'signup'
                     AND ts < TIMESTAMP '$cutoff'),
             p AS (SELECT user_id % 200 AS pk, ts AS pts FROM events
                   WHERE event_type = 'purchase'
                     AND ts < TIMESTAMP '$cutoff'),
             wm AS (SELECT least((SELECT max(sts) FROM s),
                                 (SELECT max(pts) FROM p)) AS w)"""

  // `def`: s30's oracle resolves the kmeansCells conf at generation time.
  def queries: Seq[Q] = Seq(
    Q("q20_stream_pipe",
      (s, d) => streamPipe(s, d),
      Some("""SELECT event_id, event_type, value AS value_d,
                     strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
                     CASE WHEN value > 10 THEN 'movement'
                          ELSE 'no_movement' END AS if_move
              FROM events""")),

    // s01: watermarked tumbling-window aggregation on a real stream. Append
    // mode emits a window only once its end passes the watermark, so the
    // oracle excludes windows ending after max(ts).
    Q("s01_stream_tumbling",
      (s, d) => runEventsStream(s, d) { src =>
        src.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
              .cast("double").as("sum_value"))
          .select(col("window.start").as("ws"), col("event_type"),
            col("n_events"), col("sum_value"))
      },
      Some("""SELECT * FROM (
                SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
                       event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                         AS sum_value
                FROM events GROUP BY 1, 2)
              WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)""")),

    // s02: session windows (30-minute gap) per user cohort on a stream.
    // A session closes when no event lands within the gap; emitted once the
    // watermark passes its end (last event + gap). Oracle reconstructs
    // sessions with the lag/cumulative-flag idiom.
    Q("s02_stream_session",
      (s, d) => runEventsStream(s, d) { src =>
        src.select((col("user_id") % 10).as("cohort"), col("ts"))
          .withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "30 minutes"), col("cohort"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("session_window.start").as("ss"),
            col("session_window.end").as("se"),
            col("cohort"), col("n_events"))
      },
      Some("""WITH t AS (
                SELECT user_id % 10 AS cohort, ts,
                       CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id % 10
                                                    ORDER BY ts)
                                 > INTERVAL 30 MINUTE
                            OR LAG(ts) OVER (PARTITION BY user_id % 10
                                             ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events),
              sess AS (
                SELECT cohort, ts,
                       SUM(new_session) OVER (PARTITION BY cohort ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS sid
                FROM t)
              SELECT min(ts) AS ss,
                     max(ts) + INTERVAL 30 MINUTE AS se,
                     cohort,
                     CAST(COUNT(*) AS BIGINT) AS n_events
              FROM sess
              GROUP BY cohort, sid
              HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)""")),

    // s03: streaming dedup across duplicate delivery — the source delivers
    // every event twice (two files); dropDuplicatesWithinWatermark keeps the
    // first arrival per event_id. North-star dedup in its streaming form.
    Q("s03_stream_dedup",
      (s, d) => runEventsStream(s, d, copies = 2) { src =>
        src.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select("event_id", "user_id", "event_type", "value")
      },
      Some("SELECT event_id, user_id, event_type, value FROM events")),

    // s04: arbitrary stateful processing (flatMapGroupsWithState).
    Q("s04_stream_stateful",
      (s, d) => statefulRunningCount(s, d),
      Some("""SELECT event_id, user_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS BIGINT)
                       AS running_n
              FROM events""")),

    // s12: transformWithState (see RunningMaxProcessor above).
    Q("s12_transform_with_state",
      (s, d) => transformWithStateRunningMax(s, d),
      Some("""SELECT event_id, user_id,
                     CAST(ROW_NUMBER() OVER w AS BIGINT) AS running_n,
                     MAX(value) OVER w AS running_max
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)""")),

    // s13: the graft-wire DataSource V2 connector as a STREAMING source —
    // Kafka-shaped consumption of an append-only file topic: batch-id
    // offsets over the source's file log (Spark's file-source log format)
    // for a 4-file topic, and the same parse-time filter pushdown + column
    // pruning as the batch scan (q70). Completes the reference's Kafka-source substitution (SURVEY
    // §2.1 S3) as a real connector rather than a built-in file source.
    //
    // Round 21 (guide §2 — the r19 verdict's coarser-admission lever,
    // decomposed first): at sf10 the old maxFilesPerTrigger=1 train cost
    // 16.7-19.8 s in 4 micro-batches where the default bulk drain
    // (ReadLimit.allAvailable — the AvailableNow posture) takes the same
    // rows in ONE batch at 3.6 s; and the topic write's repartition(4)
    // shuffled the whole encoded payload (4.7-9.9 s) where coalesce(4)
    // narrows the scan without an exchange (2.9-3.4 s). Per-file
    // admission stays spec-pinned in WireTopicSourceSpec ("one
    // micro-batch per file"); rows and oracle are unchanged.
    Q("s13_dsv2_stream_source",
      (s, d) => drainToParquet(s, inletBytes(s"$d/events.parquet")) {
        val sel = Tables.events(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"), unix_micros(col("ts")).as("tsu"))
        val topic = Scratch.dir("graft_s13_topic")
        CsvWire.encode(sel, sel.schema)
          .coalesce(4).write.mode("overwrite").text(topic)
        s.readStream.format("graft-wire").schema(sel.schema)
          .load(topic)
          .filter(col("value") > 10.0)
          .select("event_id", "event_type", "value")
      },
      Some("""SELECT event_id, event_type, value FROM events
              WHERE value > 10.0""")),

    // s14: the graft-wire connector as a STREAMING SINK — the reference's
    // Kafka-producer role (data_generator/dataframe_to_kafka.py:99-121)
    // done as a V2 StreamingWrite: per-epoch staged files committed by
    // deterministic rename (part-e<epoch>-p<part>.wire), so a replayed
    // micro-batch replaces its own output instead of duplicating it.
    // Events stream in from the file source (maxFilesPerTrigger exercises
    // multiple epochs at test scale via the spec; here one drain), land on
    // the wire, and are read back through the connector's batch scan.
    Q("s14_dsv2_stream_sink",
      (s, d) => {
        val path = s"$d/events.parquet"
        val cols = Seq("event_id", "user_id", "event_type", "value").map(col)
        val topic = Scratch.dir("graft_s14_topic")
        drain(s, inletBytes(path)) {
          Tables.normalizeEvents(stage(s, path, 1)).select(cols: _*)
            .writeStream.format("graft-wire").option("path", topic)
        }
        s.read.format("graft-wire")
          .schema(Tables.events(s, d).select(cols: _*).schema).load(topic)
      },
      Some("SELECT event_id, user_id, event_type, value FROM events")),

    // s06: sliding event-time windows (1 hour every 30 minutes) — each event
    // lands in two overlapping windows; same emission boundary as s01.
    Q("s06_stream_sliding",
      (s, d) => runEventsStream(s, d) { src =>
        src.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
              .cast("double").as("sum_value"))
          .select(col("window.start").as("ws"), col("n_events"), col("sum_value"))
      },
      Some("""SELECT * FROM (
                SELECT ws, CAST(COUNT(*) AS BIGINT) AS n_events,
                       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
                FROM (
                  SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800)
                              AS TIMESTAMP) AS ws, value FROM events
                  UNION ALL
                  SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800)
                              AS TIMESTAMP) - INTERVAL 30 MINUTE, value FROM events)
                GROUP BY ws)
              WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)""")),

    // s07: stream-stream interval join — signups joined to purchases of the
    // same cohort within 24 hours; both sides watermarked so join state is
    // bounded. Inner join emits matches as both sides arrive.
    //
    // Round 20 (verdict r19 item 1, decomposed first): at sf10 the family's
    // cost is NOT a commit train (2 micro-batches total; offset/WAL commits
    // < 0.3 s) — it is addBatch itself (155.6 of 157.5 s), dominated by
    // per-probe CANDIDATE scans: the symmetric hash join keys state on sk
    // alone, so every probe iterates every same-key row of the other side
    // (one state-store get per candidate) and filters by the time
    // predicate — 5.14 BILLION candidate tests for 329 M true pairs
    // (measured, sf10). The fix is the classic interval-join bucketing
    // rewrite: a day-bucket EQUALITY joins the key, with the purchase side
    // exploded into its 2 covering buckets (pts ∈ [sts, sts+24h] forces
    // day(sts) ∈ {day(pts)−1, day(pts)}), so every true pair meets in
    // EXACTLY one bucket (the two copies live in different buckets —
    // results bit-identical, no dedup step, oracle unchanged). Candidate
    // tests drop to 659 M (7.8×, measured), state key cardinality rises
    // 200 → ~3000 (skew gone), purchase state doubles (+1 M rows —
    // bounded by the same watermark). Left side stays UNEXPLODED, which
    // is what keeps the rewrite exact for left-outer (s10: one null row
    // per unmatched signup) and left-semi (s24: at-most-once emission);
    // full-outer (s25) cannot bucket — an exploded side's unmatched
    // copies would each emit a null row — and keeps the plain form.
    Q("s07_stream_stream_join",
      (s, d) => runEventsStream(s, d) { src =>
        signupPurchaseJoin(src, "inner", oneDay, dayAndBefore)
          .select("sk", "sts", "pts")
      },
      Some(s"""SELECT s.user_id % 200 AS sk, s.ts AS sts, p.ts AS pts
              FROM events s JOIN events p
                ON s.user_id % 200 = p.user_id % 200
               AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOUR
              WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
                AND s.ts < TIMESTAMP '$cutoff'
                AND p.ts < TIMESTAMP '$cutoff'""")),

    // s10: stream-stream LEFT OUTER interval join — s07's inner join plus
    // the outer emission semantics: an unmatched signup is emitted with a
    // null purchase only once the watermark proves no match can arrive
    // (watermark > sts + 24h, where the global watermark is the MIN of the
    // two sides' maxima under the default multipleWatermarkPolicy); signups
    // whose window is still open when the source drains stay in state and
    // are withheld — the oracle encodes exactly that boundary.
    // Day-bucketed like s07 (round 20): the LEFT side stays unexploded, so
    // an unmatched signup is still exactly ONE state row and emits exactly
    // one null-padded row at the same watermark boundary — outer semantics
    // and the oracle's boundary encoding are untouched; only the probe
    // candidate set shrinks.
    Q("s10_stream_outer_join",
      (s, d) => runEventsStream(s, d) { src =>
        signupPurchaseJoin(src, "left_outer", oneDay, dayAndBefore)
          .select("sk", "sts", "pts")
      },
      Some(s"""$signupPurchaseCtes
              SELECT sk, sts, pts
              FROM s JOIN p ON sk = pk AND pts >= sts
                           AND pts <= sts + INTERVAL 24 HOUR
              UNION ALL
              SELECT sk, sts, CAST(NULL AS TIMESTAMP) AS pts
              FROM s
              WHERE NOT EXISTS (SELECT 1 FROM p WHERE pk = sk
                                  AND pts >= sts
                                  AND pts <= sts + INTERVAL 24 HOUR)
                AND sts + INTERVAL 24 HOUR < (SELECT w FROM wm)""")),

    // s11: UPDATE output mode with REAL incremental emission — the source
    // delivers the events table twice (two files), one per micro-batch
    // (maxFilesPerTrigger=1), so every group is emitted TWICE: once with
    // its first-batch aggregate and once with the updated running total
    // (exactly 2× — decimal-exact, and doubling a double is exponent
    // arithmetic, so the oracle's 2* is bit-exact). Completes the output-
    // mode family: append (s01…), complete (s09), update (here).
    Q("s11_stream_update",
      (s, d) => {
        val path = s"$d/events.parquet"
        val out = Scratch.dir("graft_s11_out")
        drain(s, 2 * inletBytes(path)) {
          Tables.normalizeEvents(stage(s, path, 2, "maxFilesPerTrigger" -> "1"))
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
                .cast("double").as("sum_value"))
            .writeStream
            .outputMode("update")
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              // overwrite the batch's OWN directory: a replayed micro-batch
              // (sink committed, checkpoint not) rewrites identical content
              // instead of appending a duplicate — the (batchId, data)
              // idempotence contract, same as s08's batch_id tagging
              batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
            }
        }
        s.read.parquet(out).drop("batch")
      },
      Some("""WITH g AS (SELECT event_type,
                                CAST(COUNT(*) AS BIGINT) AS n_events,
                                CAST(SUM(CAST(value AS DECIMAL(12,2)))
                                     AS DOUBLE) AS sum_value
                         FROM events GROUP BY event_type)
              SELECT event_type, n_events, sum_value FROM g
              UNION ALL
              SELECT event_type, 2 * n_events AS n_events,
                     2 * sum_value AS sum_value FROM g""")),

    // s08: foreachBatch — the micro-batch escape hatch for sinks Spark has
    // no connector for (idempotent-by-batchId writes, multi-sink fan-out).
    // Each batch lands as parquet tagged with its batchId; exactly-once
    // comes from the (batchId, data) pair being deterministic on replay.
    Q("s08_foreach_batch",
      (s, d) => {
        val path = s"$d/events.parquet"
        val out = Scratch.dir("graft_s08_out")
        drain(s, inletBytes(path)) {
          Tables.normalizeEvents(stage(s, path, 1))
            .select("event_id", "event_type", "value")
            .writeStream
            .outputMode("append")
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              batch.withColumn("batch_id", lit(batchId))
                .write.mode("append").parquet(out)
            }
        }
        s.read.parquet(out)
      },
      Some("""SELECT event_id, event_type, value, CAST(0 AS BIGINT) AS batch_id
              FROM events""")),

    // s21: DEAD-LETTER-QUEUE routing — the malformed-record discipline of
    // a production ingest: wire rows whose value field fails try_cast go
    // to a quarantine sink (with the raw line preserved for replay), the
    // rest to the main table, both from ONE pass in foreachBatch. Nothing
    // is dropped silently — main ∪ DLQ = input, exactly once. Corruption
    // is manufactured deterministically (event_id % 7 = 3 → value "xx"),
    // so the main-side oracle is the complement filter; the DLQ side is
    // asserted by row count in the same run (n_dlq column).
    Q("s21_stream_dlq",
      (s, d) => {
        val main = Scratch.dir("graft_s21_main")
        val dlq  = Scratch.dir("graft_s21_dlq")
        drain(s, inletBytes(s"$d/events.parquet")) {
          val wireDir = Scratch.dir("graft_s21_wire")
          Tables.events(s, d)
            .select(concat_ws("|",
              col("event_id"), col("user_id"), col("event_type"),
              when(col("event_id") % 7 === 3, lit("xx"))
                .otherwise(col("value").cast("string"))).as("value"))
            .write.mode("overwrite").text(wireDir)
          s.readStream.text(wireDir)
            .select(col("value").as("line"),
              split(col("value"), "\\|").as("f"))
            .select(col("line"),
              col("f").getItem(0).cast("long").as("event_id"),
              col("f").getItem(1).cast("long").as("user_id"),
              col("f").getItem(2).as("event_type"),
              expr("try_cast(f[3] AS DOUBLE)").as("value"))
            .writeStream
            .outputMode("append")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val b = batch.persist()
              b.filter(col("value").isNotNull)
                .select("event_id", "user_id", "event_type", "value")
                .write.mode("append").parquet(main)
              b.filter(col("value").isNull)
                .select("line") // raw line, replayable after a parser fix
                .write.mode("append").parquet(dlq)
              b.unpersist()
              ()
            }
        }
        s.read.parquet(main)
          .withColumn("n_dlq", lit(s.read.parquet(dlq).count()))
      },
      Some("""SELECT event_id, user_id, event_type, value,
                     (SELECT CAST(count(*) AS BIGINT) FROM events
                      WHERE event_id % 7 = 3) AS n_dlq
              FROM events WHERE event_id % 7 <> 3""")),

    // s09: COMPLETE output mode — every micro-batch re-emits the FULL
    // aggregate table (no watermark; state holds every group). The file
    // sink can't take complete mode, so foreachBatch overwrites the sink
    // per batch — idempotent by construction, and the final batch IS the
    // total aggregate, so the oracle has no emission boundary (unlike
    // s01/s02/s06's append-mode boundaries).
    Q("s09_stream_complete",
      (s, d) => {
        val path = s"$d/events.parquet"
        val out = Scratch.dir("graft_s09_out")
        drain(s, inletBytes(path)) {
          Tables.normalizeEvents(stage(s, path, 1))
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
                .cast("double").as("sum_value"))
            .writeStream
            .outputMode("complete")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
            }
        }
        s.read.parquet(out)
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                       AS sum_value
              FROM events GROUP BY event_type""")),

    // s05: stream-static join — the unbounded side enriched from a batch
    // dimension (broadcast; no stream-side state).
    Q("s05_stream_static_join",
      (s, d) => runEventsStream(s, d) { src =>
        val dim = broadcast(Tables.nation(src.sparkSession, d)
          .select(col("n_nationkey"), col("n_name")))
        src.select(col("event_id"), (col("user_id") % 25).as("nk"))
          .join(dim, col("nk") === col("n_nationkey"))
          .select("event_id", "nk", "n_name")
      },
      Some("""SELECT event_id, user_id % 25 AS nk, n_name
              FROM events JOIN nation ON user_id % 25 = n_nationkey""")),

    // s15: the mergeable KMV sketch (q59) running as STREAMING state — a
    // windowed distinct-user estimate where partial sketch buffers merge
    // across micro-batches through the state store. Because the kept set is
    // a pure function of the input SET (merge-order-free), the streamed
    // estimate is bit-identical to the batch oracle — the property that
    // makes sketch state safe to shard and restart at 100 TB. Emission
    // follows the s01 watermark boundary (windows ending <= max(ts)).
    Q("s15_stream_kmv",
      (s, d) => {
        runEventsStream(s, d) { src =>
          src.withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(call("graft_kmv", col("user_id").cast("string")).as("kmv"))
            .select(col("window.start").as("ws"), col("event_type"),
              col("kmv.n_kept").as("n_kept"),
              col("kmv.est_distinct").as("est_distinct"))
        }
      },
      Some(s"""WITH h AS (
                 SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
                        event_type,
                        ${graft.ext.PortableHash.duckPoly(
                          "md5(CAST(user_id AS VARCHAR))")} AS hv
                 FROM events),
               g AS (
                 SELECT ws, event_type,
                        list_slice(list_sort(list_distinct(list(hv))), 1, 64)
                          AS ks
                 FROM h GROUP BY ws, event_type)
               SELECT ws, event_type,
                      CAST(len(ks) AS INTEGER) AS n_kept,
                      CASE WHEN len(ks) < 64 THEN CAST(len(ks) AS DOUBLE)
                           ELSE 63.0 * 1000000007.0 / CAST(ks[64] AS DOUBLE)
                      END AS est_distinct
               FROM g
               WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)""")),

    // s19: CHAINED windowed aggregations — 15-minute quarters roll up into
    // hourly stats in ONE streaming query (two stateful operators back to
    // back; Spark propagates the watermark through the first agg, so the
    // hourly agg sees finalized quarters only). The 100 TB shape for
    // multi-resolution dashboards: the second state store holds one row
    // per emitted quarter, never raw events. Append mode emits an hour
    // once the watermark passes its end; with delay 0 that is every hour
    // whose end <= max(ts) — the oracle encodes the same boundary.
    Q("s19_stream_rollup",
      (s, d) => runEventsStream(s, d) { src =>
        src.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "15 minutes"))
          .agg(count(lit(1)).as("q_events"))
          .groupBy(window(col("window"), "1 hour"))
          .agg(count(lit(1)).as("n_quarters"),
            max("q_events").as("peak_quarter_events"),
            sum("q_events").as("total_events"))
          .select(col("window.start").as("ws"), col("n_quarters"),
            col("peak_quarter_events"), col("total_events"))
      },
      Some("""WITH q AS (
                SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
                       make_timestamp((epoch_us(ts) // 900000000)
                                      * 900000000) AS qs,
                       CAST(COUNT(*) AS BIGINT) AS q_events
                FROM events GROUP BY 1, 2)
              SELECT ws, CAST(COUNT(*) AS BIGINT) AS n_quarters,
                     max(q_events) AS peak_quarter_events,
                     CAST(SUM(q_events) AS BIGINT) AS total_events
              FROM q
              GROUP BY ws
              HAVING ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)"""))
      ,

    // s20: the LAMBDA pattern end-to-end — the stream PUBLISHES q80's
    // mergeable histogram sketch (per hourly window × value bin counts —
    // order-free, so state-store merges across micro-batches are exact)
    // and the batch finisher (the SAME Extended.sketchQuantiles code path
    // q80 runs) turns the sunk sketch into per-hour P50/P95/P99. At
    // 100 TB the streaming job ships |windows|·256 counters to the lake;
    // consumers finish percentiles without ever touching raw events.
    Q("s20_stream_quantile",
      (s, d) => {
        val hist = runEventsStream(s, d) { src =>
          src.withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 hour"),
              floor(col("value") / 2).cast("long").as("bin"))
            .agg(count(lit(1)).as("c"))
            .select(col("window.start").as("ws"), col("bin"), col("c"))
        }
        graft.queries.Extended.sketchQuantiles(hist, "ws")
      },
      Some(graft.queries.Extended.sketchQuantilesSql(
        """SELECT ws, bin, c FROM (
             SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
                    CAST(floor(value / 2) AS BIGINT) AS bin,
                    CAST(count(*) AS BIGINT) AS c
             FROM events GROUP BY 1, 2)
           WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)""",
        "ws"))),

    // s16: timer-driven sessionization (see TimerSessionizer above) — the
    // oracle is the s02/q64 gaps-and-islands reconstruction per USER, with
    // the same emission boundary the timers enforce: a session emits iff
    // its end (last event + 30 min) is at or before the final watermark.
    Q("s16_stream_timers",
      (s, d) => withRocksDb(s) { runEventsStream(s, d)(timerSessionXform(s)) },
      Some("""WITH t AS (
                SELECT user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts)
                                 > INTERVAL 30 MINUTE
                            OR LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS ns
                FROM events),
              sess AS (
                SELECT user_id, ts,
                       SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
                FROM t)
              SELECT user_id,
                     epoch_us(min(ts)) AS ss_us,
                     epoch_us(max(ts) + INTERVAL 30 MINUTE) AS se_us,
                     CAST(COUNT(*) AS BIGINT) AS n_events
              FROM sess GROUP BY user_id, sid
              HAVING max(ts) + INTERVAL 30 MINUTE
                       <= (SELECT max(ts) FROM events)""")),

    // s17: MapState per-(user, event_type) running counts (see
    // TypeCountProcessor above); oracle = row_number per (user, type).
    Q("s17_stream_mapstate",
      (s, d) => withRocksDb(s) { runEventsStream(s, d)(mapStateXform(s)) },
      Some("""SELECT event_id, user_id, event_type,
                     CAST(ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                             ORDER BY ts, event_id) AS BIGINT)
                       AS n_type
              FROM events""")),

    // s18: ListState bounded look-back (see RecentEventsProcessor above);
    // oracle = lag(1..3) with -1 defaults per user.
    Q("s18_stream_liststate",
      (s, d) => withRocksDb(s) { runEventsStream(s, d)(listStateXform(s)) },
      Some("""SELECT event_id, user_id,
                     coalesce(lag(event_id, 1) OVER w, -1) AS prev1,
                     coalesce(lag(event_id, 2) OVER w, -1) AS prev2,
                     coalesce(lag(event_id, 3) OVER w, -1) AS prev3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // s22: per-(user, day) admission quota (see QuotaProcessor above);
    // oracle = row_number per (user, day) capped at 3 — the window is a
    // DAY so the cap actually binds on the testdata (~14% of events are
    // rejected at sf0.01; an hourly window never fills at this density).
    Q("s22_stream_quota",
      (s, d) => withRocksDb(s) {
        runEventsStream(s, d) { src =>
          import s.implicits._
          src.select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsu"))
            .withColumn("wstart_us",
              col("tsu") - pmod(col("tsu"), lit(86400000000L)))
            .as[QuotaEv]
            .groupByKey(e => (e.user_id, e.wstart_us))
            .transformWithState(new QuotaProcessor,
              TimeMode.None(), OutputMode.Append())
            .toDF()
        }
      },
      Some("""SELECT event_id, user_id, wstart_us, rn FROM (
                SELECT event_id, user_id,
                       epoch_us(date_trunc('day', ts)) AS wstart_us,
                       CAST(ROW_NUMBER() OVER (
                              PARTITION BY user_id, date_trunc('day', ts)
                              ORDER BY ts, event_id) AS BIGINT) AS rn
                FROM events) z
              WHERE rn <= 3""")),

    // s23: streaming exact-moments anomaly detector (RunningZProcessor
    // above); oracle = the same integer z² test against an
    // UNBOUNDED-PRECEDING window per user. First 4 events per user score 0
    // (n < 4 ⇒ no flag) on both sides; COUNT over an empty frame is 0 in
    // DuckDB, matching n_prev = 0 for a user's first event.
    Q("s23_stream_zscore",
      (s, d) => withRocksDb(s) {
        runEventsStream(s, d) { src =>
          import s.implicits._
          src.select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsu"),
              (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))
                * 100).cast("long").as("x"))
            .as[ZEv]
            .groupByKey(_.user_id)
            .transformWithState(new RunningZProcessor,
              TimeMode.None(), OutputMode.Append())
            .toDF()
        }
      },
      Some("""WITH b AS (SELECT event_id, user_id, ts,
                                CAST(CAST(value AS DECIMAL(12,2)) * 100
                                     AS BIGINT) AS x
                         FROM events),
                   wnd AS (SELECT event_id, user_id, x,
                                  COUNT(x) OVER w AS n,
                                  SUM(x) OVER w AS s1,
                                  SUM(x * x) OVER w AS s2
                           FROM b
                           WINDOW w AS (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING))
              SELECT event_id, user_id, x, n AS n_prev,
                     CAST(CASE WHEN n >= 4
                                AND (n * x - s1) * (n * x - s1)
                                    > 4 * (n * s2 - s1 * s1)
                               THEN 1 ELSE 0 END AS INT) AS is_anomaly
              FROM wnd""")),

    // s24: stream-stream LEFT SEMI interval join — "signups that converted
    // within 24h", emitting each signup ROW at most once, with NO purchase
    // columns ever materialized (the funnel-gate shape; contrast s07 inner
    // = one row per matching pair, s10 outer = null-padded non-matches).
    // Semi rows emit as soon as the first match arrives; state for both
    // sides is watermark-bounded exactly like s07/s10. Completes the
    // stream-stream join family: inner / left outer / left semi.
    // Day-bucketed like s07/s10 (round 20): the signup side stays
    // unexploded, so the at-most-once semi emission per signup ROW is
    // structural — all of a signup's matching purchases meet it in its
    // single bucket, and the bucket equality only prunes candidates.
    Q("s24_stream_semi_join",
      (s, d) => runEventsStream(s, d) { src =>
        signupPurchaseJoin(src, "left_semi", oneDay, dayAndBefore,
          lead = Seq(col("event_id")))
          .select("event_id", "sk", "sts")
      },
      Some(s"""SELECT event_id, user_id % 200 AS sk, ts AS sts
              FROM events s
              WHERE event_type = 'signup'
                AND ts < TIMESTAMP '$cutoff'
                AND EXISTS (SELECT 1 FROM events p
                            WHERE p.event_type = 'purchase'
                              AND p.ts < TIMESTAMP '$cutoff'
                              AND p.user_id % 200 = s.user_id % 200
                              AND p.ts >= s.ts
                              AND p.ts <= s.ts + INTERVAL 24 HOUR)""")),

    // s26: streaming FORWARD FILL — q100's last-observation-carried-
    // forward as per-user streaming state (the batch/stream pair
    // discipline of q79/s23): a ValueState holds the last non-null
    // reading; every event emits with its gap repaired, and the carry
    // survives micro-batch boundaries through the state store. State is
    // O(users) — one double — forever, regardless of stream length.
    // Hash-exact vs q100's batch window oracle because the fill is a pure
    // left fold in (event-time, event_id) order: in-batch order comes
    // from the sorted group iterator (s04's discipline), cross-batch
    // order from state continuation.
    Q("s26_stream_forward_fill",
      (s, d) => runEventsStream(s, d) { src =>
        import s.implicits._
        src.select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("tsu"),
            when(col("event_id") % 4 =!= 0, col("value")).as("v"))
          .as[FillEv]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (user: Long, it: Iterator[FillEv],
             state: org.apache.spark.sql.streaming.GroupState[Double]) =>
              var last: Option[Double] = state.getOption
              val out = it.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
                if (e.v.isDefined) last = e.v
                FillOut(e.event_id, user, e.v, last)
              }
              last.foreach(state.update)
              out.iterator
          }
          .toDF()
      },
      Some("""WITH g AS (SELECT event_id, user_id, ts,
                                CASE WHEN event_id % 4 <> 0 THEN value
                                     END AS v
                         FROM events)
              SELECT event_id, user_id, v,
                     last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS v_filled
              FROM g""")),

    // s27: streaming FIRST-SEEN attribution — q103's cohort assignment as
    // it would run in production: the first event of each user emits ONE
    // (user, cohort_day) row and a per-user boolean state suppresses every
    // later sighting. State is O(users) — one flag forever — and the
    // emission is append-mode (no retraction needed because the first
    // in-order sighting IS the cohort). In-batch order comes from the
    // min-by-(event-time, event_id) group fold (s04's discipline);
    // cross-batch, state continuation guarantees at-most-once emission and
    // the time-ordered replay guarantees the first batch that contains a
    // user holds their earliest event — the same arrival-order contract
    // s26's carry-forward documents. Hash-exact vs the batch min(ts)
    // oracle; day boundary in UTC micros so both engines bucket
    // identically.
    Q("s27_stream_first_seen",
      (s, d) => runEventsStream(s, d)(firstSeenXform(s)),
      Some("""SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
              FROM events GROUP BY 1""")),

    // s28: streaming near-dup admission over documents (see nearDupXform).
    // The per-doc verdict is bool_or over the 4 per-bucket flags, folded
    // batch-side AFTER the drain (an unwindowed per-doc aggregate cannot
    // run in append mode above a stateful op; the per-bucket verdict rows
    // ARE the stream's output contract). Oracle: a doc is a near-dup iff
    // an EARLIER doc shares any band — the d03 pair relation restricted to
    // doc_a < doc_b, built from the SAME shared signature SQL.
    Q("s28_stream_neardup",
      (s, d) => withRocksDb(s) {
        runDocsStream(s, d)(nearDupXform(s))
          .groupBy("doc_id")
          .agg(bool_or(col("band_dup")).as("is_dup"))
      },
      Some {
        val arms = graft.ext.Dedup.bands.map { case (x, y) =>
          s"(e.mh$x = s.mh$x AND e.mh$y = s.mh$y)" }.mkString(" OR ")
        s"""WITH sig AS (${graft.ext.Dedup.minhashSql})
            SELECT s.doc_id,
                   EXISTS (SELECT 1 FROM sig e
                           WHERE e.doc_id < s.doc_id AND ($arms)) AS is_dup
            FROM sig s"""
      }),

    // s29: streaming kNN maintenance (see knnAdmitXform). The sink holds
    // the admission log; the final top-5 per query is the post-drain rank
    // over it — the same relation x07 computes in one batch pass, so the
    // oracle is x07's SQL verbatim.
    Q("s29_stream_knn",
      (s, d) => withRocksDb(s) {
        val q = Tables.embeddings(s, d).orderBy("vec_id").limit(8)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val admitted = runFileStream(s, s"$d/embeddings.parquet")(
          knnAdmitXform(s, q))
        import org.apache.spark.sql.expressions.Window
        admitted.withColumn("rn", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("cos_sim").desc, col("vec_id"))))
          .filter(col("rn") <= 5).drop("rn")
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
                          FROM embeddings ORDER BY vec_id LIMIT 8),
                    scored AS (SELECT q.q_id, e.vec_id, e.label,
                                      ${graft.ext.Similarity.duckCos(
                                        "e.embedding", "q.qe")} AS cos_sim
                               FROM embeddings e, q WHERE e.vec_id <> q.q_id)
               SELECT q_id, vec_id, label, cos_sim FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY cos_sim DESC, vec_id) AS rn
                 FROM scored) WHERE rn <= 5""")),

    // s30: streaming semantic dedup over the offline-trained quantizer
    // (see semanticDedupXform / CellRepProcessor). The oracle assigns the
    // same learned cells via the unrolled Lloyd CTEs, picks each cell's
    // min-id representative, and applies the same cos > tau admission.
    Q("s30_stream_semantic_dedup",
      (s, d) => withRocksDb(s) {
        val cents = graft.ext.Similarity.kmeansTrainedCentroids(
          Tables.embeddings(s, d))
        runFileStream(s, s"$d/embeddings.parquet")(
          semanticDedupXform(s, cents))
      },
      Some(graft.ext.Dedup.guardAuto(graft.ext.Dedup.KmeansCellsKey) {
        val k = graft.ext.Dedup.confInt(graft.ext.Dedup.KmeansCellsKey, 8)
        val cos = graft.ext.Similarity.duckCos("z.e", "re")
        s"""WITH ${graft.ext.Similarity.kmeansAssignCtes(k, 2)},
                 rep AS (SELECT cluster AS rc, vec_id AS rid, e AS re
                         FROM (SELECT cluster, vec_id, e,
                                      ROW_NUMBER() OVER (PARTITION BY cluster
                                        ORDER BY vec_id) AS rn
                               FROM a2) WHERE rn = 1)
            SELECT z.vec_id, z.cluster,
                   CASE WHEN z.vec_id <> rid AND $cos > 0.3
                        THEN rid ELSE z.vec_id END AS rep_id,
                   CAST(CASE WHEN z.vec_id <> rid AND $cos > 0.3
                             THEN 1 ELSE 0 END AS INT) AS is_pruned
            FROM a2 z JOIN rep ON z.cluster = rc"""
      })),

    // s31: streaming IVF-PQ serving (see ivfPqServeXform): the x23/x25
    // composed index's online form — offline-trained artifacts broadcast,
    // arrivals pruned to the 8-query set's probed cells BEFORE scoring,
    // ADC via the shared term, per-query running shortlist in state, and
    // the x25 exact-re-rank tail applied post-drain. The oracle is the
    // same index chains + a multi-query probe block, batch-equivalent
    // because the drained stream IS the corpus.
    Q("s31_stream_ivfpq_serve",
      (s, d) => ivfPqServeQuery(s, d, None, "in_exact_topk"),
      Some(graft.ext.Dedup.guardAuto(graft.ext.Dedup.KmeansCellsKey) {
        val serve = graft.ext.Similarity.Serve
        val d2 = graft.ext.Similarity.duckD2 _
        s"""${ivfPqServeCtes(None)},
             rr0 AS (SELECT s.q_id, s.vec_id, s.c1,
                            ${d2("z.e", "q.qe")} AS d2
                     FROM short s JOIN a2 z ON z.vec_id = s.vec_id
                                  JOIN qs q ON q.q_id = s.q_id),
             rr AS (SELECT q_id, vec_id, c1, d2 FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2, vec_id) AS rn FROM rr0)
               WHERE rn <= ${serve.TopK}),
             mex AS (SELECT q_id, vec_id FROM (
                 SELECT q.q_id, z.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q.q_id
                          ORDER BY ${d2("z.e", "q.qe")}, z.vec_id) AS rn
                 FROM a2 z, qs q WHERE z.vec_id <> q.q_id)
               WHERE rn <= ${serve.TopK})
        SELECT t.q_id, t.vec_id, t.c1, t.d2,
               EXISTS (SELECT 1 FROM mex
                       WHERE mex.q_id = t.q_id
                         AND mex.vec_id = t.vec_id) AS in_exact_topk
        FROM rr t"""
      })),

    // s32: streaming FILTERED IVF-PQ serving — x28's inline middle path
    // online (completing the x→s symmetry: x07→s29, d17→s30, x23/x25→s31,
    // x28→s32): the label predicate applies to ARRIVALS at the stream scan
    // (before cell assignment, before any scoring), so the per-batch cost
    // is the matching fraction of the probed fraction and non-matching
    // vectors never enter state — the post-filter recall hole is closed by
    // construction for everything the index ingests. The tail is x28's:
    // exact re-rank of the drained shortlists, flagged against the
    // PRE-FILTER exact top-k per query. Oracle = s31's index + probe
    // chains with the scored/exact blocks restricted to the predicate.
    Q("s32_stream_ivfpq_filtered",
      (s, d) => ivfPqServeQuery(s, d, Some(ServeLabel),
        "in_filtered_exact_topk"),
      Some(graft.ext.Dedup.guardAuto(graft.ext.Dedup.KmeansCellsKey) {
        val serve = graft.ext.Similarity.Serve
        val d2 = graft.ext.Similarity.duckD2 _
        s"""${ivfPqServeCtes(Some(ServeLabel))},
             rr AS (SELECT q_id, vec_id, c1, d2 FROM (
                 SELECT s.q_id, s.vec_id, s.c1,
                        ${d2("z.e", "q.qe")} AS d2,
                        ROW_NUMBER() OVER (PARTITION BY s.q_id
                          ORDER BY ${d2("z.e", "q.qe")}, s.vec_id) AS rn
                 FROM short s JOIN a2 z ON z.vec_id = s.vec_id
                              JOIN qs q ON q.q_id = s.q_id)
               WHERE rn <= ${serve.TopK}),
             fmex AS (SELECT q_id, vec_id FROM (
                 SELECT q.q_id, z.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q.q_id
                          ORDER BY ${d2("z.e", "q.qe")}, z.vec_id) AS rn
                 FROM a2 z JOIN embeddings l ON z.vec_id = l.vec_id, qs q
                 WHERE l.label = $ServeLabel AND z.vec_id <> q.q_id)
               WHERE rn <= ${serve.TopK})
        SELECT t.q_id, t.vec_id, t.c1, t.d2,
               EXISTS (SELECT 1 FROM fmex
                       WHERE fmex.q_id = t.q_id
                         AND fmex.vec_id = t.vec_id)
                 AS in_filtered_exact_topk
        FROM rr t"""
      })),

    // s25: stream-stream FULL OUTER interval join — s10's outer-emission
    // semantics on BOTH sides, completing the join-type family (inner
    // s07, left outer s10, left semi s24, full outer here). Outer rows
    // emit only once the watermark proves no match can arrive: an
    // unmatched signup needs wm past sts + 24h (its whole match window);
    // an unmatched purchase needs wm past pts (no future signup can have
    // sts <= pts). Rows whose windows are still open when the source
    // drains stay in state and are withheld — the oracle encodes both
    // boundaries explicitly under the min-of-watermarks policy.
    //
    // Round 20, day-bucketed as TWO outer joins (guide §2.4/§3 — cut the
    // probe-candidate scans, the family's measured sf10 cost): a single
    // bucketed full outer is WRONG (an exploded side's unmatched copy
    // would emit its own null row; copies can even disagree — one
    // matched, one not), but full outer ≡ left outer ∪ right-side
    // unmatched, and EACH half buckets exactly with its outer side
    // unexploded:
    //   A: signups LEFT OUTER exploded-purchases — matched pairs (each
    //      true pair meets in exactly ONE bucket) + one null row per
    //      unmatched signup (left side unexploded, s10's proven shape);
    //   B: exploded-signups RIGHT OUTER purchases, filtered to the
    //      signup-null rows — one null row per unmatched purchase
    //      (right side unexploded; matched pairs re-found here are
    //      dropped by the filter, so no duplicates).
    // Both joins run in ONE streaming query under a union (Spark 4
    // multiple-stateful-operator support); all four watermark nodes see
    // the same two event-time maxima, so the global min-policy watermark
    // — and with it both joins' null-emission boundaries — is IDENTICAL
    // to the single-join form's. Results are bit-identical; the oracle
    // is unchanged.
    Q("s25_stream_full_outer_join",
      (s, d) => runEventsStream(s, d) { src =>
        val left = signupPurchaseJoin(src, "left_outer", oneDay, dayAndBefore)
          .select("sk", "sts", "pk", "pts")
        val rightNulls = signupPurchaseJoin(src, "right_outer", dayAndAfter,
            oneDay, sfx = "2")
          .filter(col("sk2").isNull)
          .select(col("sk2").as("sk"), col("sts2").as("sts"),
            col("pk2").as("pk"), col("pts2").as("pts"))
        left.unionByName(rightNulls)
      },
      Some(s"""$signupPurchaseCtes
              SELECT sk, sts, pk, pts
              FROM s JOIN p ON sk = pk AND pts >= sts
                           AND pts <= sts + INTERVAL 24 HOUR
              UNION ALL
              SELECT sk, sts, CAST(NULL AS BIGINT) AS pk,
                     CAST(NULL AS TIMESTAMP) AS pts
              FROM s
              WHERE NOT EXISTS (SELECT 1 FROM p WHERE pk = sk
                                  AND pts >= sts
                                  AND pts <= sts + INTERVAL 24 HOUR)
                AND sts + INTERVAL 24 HOUR < (SELECT w FROM wm)
              UNION ALL
              SELECT CAST(NULL AS BIGINT) AS sk,
                     CAST(NULL AS TIMESTAMP) AS sts, pk, pts
              FROM p
              WHERE NOT EXISTS (SELECT 1 FROM s WHERE sk = pk
                                  AND pts >= sts
                                  AND pts <= sts + INTERVAL 24 HOUR)
                AND pts < (SELECT w FROM wm)""")),

    // s33: streaming SUBSTRING-contamination gate — d21's granularity in
    // the x→s symmetry (d03→s28, d17→s30, x28→s32, d21→s33): arrivals are
    // flagged when they share an exact ≥ SpanN-token span with the
    // already-ingested snapshot (doc_id < 100). The snapshot's DISTINCT
    // gram-hash set is the offline artifact (one checkpointed row — the
    // substring counterpart of s30's trained centroids / t09's blocklist),
    // broadcast into every micro-batch; each arrival is ONE compiled
    // graft_gram_chain pass + an array intersect against the broadcast
    // set — stateless, no shuffle, per-batch cost linear in arrival bytes.
    // Completeness per arrival is d21's theorem (span ≥ n ⟺ a shared
    // n-gram). At 100 TB the snapshot set becomes a bloom/static table
    // the same expression probes.
    Q("s33_stream_substring",
      (s, d) => {
        val snap = substringSnapshot(
          Tables.documents(s, d).filter(col("doc_id") < 100))
        runDocsStream(s, d)(src =>
          substringGateXform(snap)(src.filter(col("doc_id") >= 100)))
      },
      Some(substringGateOracleSql)),

    // s34: s33's gate served from a PERSISTED artifact (round-15 verdict
    // item 3 — the p10 lifecycle treatment applied to the remaining
    // in-session artifact): the snapshot's sorted gram-hash set is written
    // to parquet ONCE (what an offline decontamination trainer ships) and
    // the stream runs in a FRESH SparkSession whose gate plan contains a
    // parquet scan of that file — no cache, checkpoint, or gram-extraction
    // stage in its lineage by construction. Hash-equality with s33 (same
    // oracle) proves the persisted artifact alone reproduces the in-session
    // gate bit-for-bit; StreamingStateSpec pins cache-independence. At
    // 100 TB this is the deployment shape: a nightly job refreshes the
    // gram table, every streaming gate is a reader.
    Q("s34_substring_gate_artifact",
      (s, d) => {
        val dir = graft.util.Scratch.materialized(s"s34_grams_$d") { root =>
          substringSnapshot(
            Tables.documents(s, d).filter(col("doc_id") < 100))
            .write.parquet(s"$root/grams")
        }
        val fresh = s.newSession()
        val snap = fresh.read.parquet(s"$dir/grams")
        runDocsStream(fresh, d)(src =>
          substringGateXform(snap)(src.filter(col("doc_id") >= 100)))
      },
      Some(substringGateOracleSql)),

    // s35: the STREAMING Bloom contamination gate over a PERSISTED
    // artifact — d27's probe in the s34 lifecycle: the 64 KiB word array
    // ships as parquet (what a nightly decontamination trainer publishes
    // at 100 TB, where the exact gram set of s33/s34 stops being
    // broadcastable), a fresh session's stream probes it stateless and
    // shuffle-free. Same oracle as d27: the lifecycle and the execution
    // mode change nothing about the verdicts, INCLUDING the filter's
    // exact false positives.
    Q("s35_stream_bloom_gate",
      (s, d) => {
        // the Scratch key carries the resolved width knob: a conf-sweeping
        // spec/tool changing bloomBits in one JVM must not be served a
        // stale artifact built at the old m (round-15 advice)
        val mConf = s.conf.get(graft.ext.Dedup.BloomBitsKey,
          graft.ext.Dedup.BloomBitsDefault)
        val dir = graft.util.Scratch.materialized(
          s"s35_bloom_${d}_m$mConf") { root =>
          graft.ext.Dedup.bloomArtifact(
            Tables.documents(s, d).filter(col("doc_id") < 100))
            .write.parquet(s"$root/bloom")
        }
        val fresh = s.newSession()
        val bloom = fresh.read.parquet(s"$dir/bloom")
        runDocsStream(fresh, d)(src =>
          graft.ext.Dedup.bloomGateXform(bloom)(
            src.filter(col("doc_id") >= 100)))
      },
      Some(graft.ext.Dedup.bloomGateOracleSql())),

    // s36: STREAMING LANGUAGE-ID ROUTING — t21's online form (the first
    // per-document decision of a streaming ingest pipeline, stamped
    // before any stateful stage): the SAME stateless langIdNgram
    // transform (one compiled graft_gram_hits_all scan + argmax label)
    // over arriving documents. Stateless and shuffle-free per
    // micro-batch; at 100 TB/day the stamped label keys the downstream
    // per-language mixing (t19) and partitioned sink layout. Oracle =
    // the batch scorer over the same table (no plants — the stream
    // carries only the corpus), which also pins that the streaming
    // execution mode changes nothing about the verdicts.
    Q("s36_stream_langid",
      (s, d) => runDocsStream(s, d)(src =>
        graft.ext.TextOps.langIdNgram(src.select("doc_id", "text"))),
      Some(graft.ext.TextOps.langIdNgramSql())),

    // s37: STREAMING BPE ENCODE with FROZEN merges — the s30/s31
    // offline-train/online-serve discipline applied to the tokenizer
    // (p14's other half, round-16 verdict item 2): t22's merge table is
    // trained offline on the batch corpus (retained k-row relation — what
    // the trainer ships), then every arriving document is encoded
    // STATELESS in the micro-batch by k broadcast 1-row stream-static
    // joins (bpeEncodeFrom — pure per-row string surgery, no pair
    // counting, no state, no shuffle). The oracle is t23's: the drained
    // stream IS the corpus, so online encode with frozen merges must
    // reproduce the batch tokenization bit-for-bit, digest included. At
    // 100 TB/day this is the ingest tokenization pass: merges refresh
    // nightly (p14's artifact), arrivals tokenize at wire speed.
    Q("s37_stream_bpe_encode",
      (s, d) => {
        val k = graft.ext.TextOps.BpeRounds
        val merges = graft.ext.TextOps.bpeMergeTable(
          Tables.documents(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("toks")),
          k)
        runDocsStream(s, d) { src =>
          val corpus0 = src
            .select(col("doc_id"), split(col("text"), " ").as("toks"))
            .withColumn("n_tokens_raw", size(col("toks")).cast("long"))
          graft.ext.TextOps.bpeEncodeFrom(corpus0, merges, k)
            .select(col("doc_id"), col("n_tokens_raw"),
              size(col("toks")).cast("long").as("n_tokens_bpe"),
              expr("md5(array_join(toks, ' '))").as("tok_digest"))
        }
      },
      Some(graft.ext.TextOps.bpeEncodeSql(graft.ext.TextOps.BpeRounds)))
  )

  /** s33/s34's shared oracle: the contamination verdicts are a pure
    * function of (snapshot slice, arrivals), independent of whether the
    * engine's gram set came from an in-session checkpoint or a parquet
    * artifact — ONE oracle, zero drift (the p10 discipline).
    */
  private def substringGateOracleSql: String = {
    val n = graft.ext.Dedup.SpanN
    val P = graft.ext.PortableHash.P
    val chain = (1 until n).foldLeft("th[i]")((acc, j) =>
      s"(($acc) * 31 + th[i + $j]) % $P")
    s"""WITH sth AS (SELECT doc_id,
                            ${graft.ext.PortableHash.duckTokenHashes}
                              AS th
                     FROM documents),
             sg0 AS (SELECT DISTINCT $chain AS g
                     FROM sth, UNNEST(range(1, len(th) - ${n - 2}))
                          AS u(i)
                     WHERE doc_id < 100 AND len(th) >= $n),
             -- coalesce: list() over an empty sg0 is NULL, making
             -- n_hit_grams/contaminated NULL where the engine's empty
             -- sorted array yields 0/false (round-14 advice) — the
             -- empty-snapshot edge must agree, not rely on the fixture
             -- slice being non-empty
             snap AS (SELECT coalesce(list(g ORDER BY g), []) AS sg
                      FROM sg0)
        SELECT doc_id,
               CAST(CASE WHEN len(th) >= $n
                         THEN len(list_intersect(
                                list_transform(
                                  range(1, len(th) - ${n - 2}),
                                  i -> $chain), snap.sg))
                         ELSE 0 END AS INT) AS n_hit_grams,
               CASE WHEN len(th) >= $n
                    THEN len(list_intersect(
                           list_transform(
                             range(1, len(th) - ${n - 2}),
                             i -> $chain), snap.sg)) > 0
                    ELSE FALSE END AS contaminated
        FROM sth, snap WHERE doc_id >= 100"""
  }
}
