package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener,
  StreamingQueryProgress, TimeMode, Trigger}

import graft.SparkSpec

/** Watermark/late-data semantics on a real stream with checkpointed
  * restarts (SURVEY.md §5 item 4): append mode emits a window once the
  * watermark passes its end, the watermark persists in the checkpoint, and
  * rows arriving BELOW the restored watermark are dropped — never re-opening
  * an already-emitted window.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("late rows below the checkpointed watermark are dropped") {
    val s = spark
    import s.implicits._

    val srcDir = Files.createTempDirectory("graft_late_src").toString
    val out    = Files.createTempDirectory("graft_late_out").toString
    val ckpt   = Files.createTempDirectory("graft_late_ckpt").toString

    def addFile(name: String, df: DataFrame): Unit = {
      val stage = Files.createTempDirectory("graft_late_stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(srcDir, s"$name.parquet"))
    }

    val schema = Seq((1L, ts("2024-01-01 00:10:00"), 1.0))
      .toDF("id", "ts", "v").schema

    def runOnce(): Unit = {
      val q = s.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // Run 1: watermark advances to 02:30 -> hours 00 and 01 are emitted,
    // hour 02 stays in state.
    addFile("a", Seq(
      (1L, ts("2024-01-01 00:10:00"), 1.0),
      (2L, ts("2024-01-01 00:40:00"), 1.0),
      (3L, ts("2024-01-01 01:10:00"), 1.0),
      (4L, ts("2024-01-01 02:30:00"), 1.0)).toDF("id", "ts", "v"))
    runOnce()
    val after1 = s.read.parquet(out).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(after1 === Map(
      "2024-01-01 00:00:00.0" -> 2L,
      "2024-01-01 01:00:00.0" -> 1L))

    // Run 2 (same checkpoint): a row at 00:20 is BELOW the restored
    // watermark (02:30) -> dropped; a row at 05:30 advances the watermark
    // and flushes hour 02.
    addFile("b", Seq(
      (5L, ts("2024-01-01 00:20:00"), 1.0), // late -> dropped
      (6L, ts("2024-01-01 05:30:00"), 1.0)).toDF("id", "ts", "v"))
    runOnce()
    val after2 = s.read.parquet(out).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1))

    // hour 00 appears ONCE with its original count — not re-emitted, not 3.
    assert(after2.count(_._1 == "2024-01-01 00:00:00.0") === 1)
    assert(after2.toMap === Map(
      "2024-01-01 00:00:00.0" -> 2L,
      "2024-01-01 01:00:00.0" -> 1L,
      "2024-01-01 02:00:00.0" -> 1L)) // hour 05 still in state
  }

  test("multi-micro-batch processing: maxFilesPerTrigger=1 over 3 files " +
      "equals the single-batch result (state carries across batches)") {
    val s = spark
    import s.implicits._
    val srcDir = Files.createTempDirectory("graft_mb_src").toString
    def addFile(name: String, rows: Seq[(Long, Timestamp, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft_mb_stage").toString
      rows.toDF("id", "ts", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(srcDir, s"$name.parquet"))
    }
    // hour 00 split across files a and b: the window must accumulate
    // across micro-batches in the state store, not per-batch. File event
    // times are globally non-decreasing so nothing is late under the 0 s
    // watermark (a later file with EARLIER events would be legally
    // dropped — that semantics is pinned by the late-data test above).
    addFile("a", Seq((1L, ts("2024-01-01 00:10:00"), 1.0),
      (2L, ts("2024-01-01 00:20:00"), 1.0)))
    addFile("b", Seq((3L, ts("2024-01-01 00:40:00"), 1.0),
      (4L, ts("2024-01-01 00:50:00"), 1.0)))
    addFile("c", Seq((5L, ts("2024-01-01 01:20:00"), 1.0),
      (6L, ts("2024-01-01 02:30:00"), 1.0)))
    // deterministic batch order: FileStreamSource picks oldest mtime first
    Seq("a", "b", "c").zipWithIndex.foreach { case (n, i) =>
      new File(srcDir, s"$n.parquet").setLastModified(1700000000000L + i * 60000)
    }

    def run(maxFiles: Option[Int]): Map[String, Long] = {
      val out  = Files.createTempDirectory("graft_mb_out").toString
      val ckpt = Files.createTempDirectory("graft_mb_ckpt").toString
      val schema = Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
        .toDF("id", "ts", "v").schema
      val reader = s.readStream.schema(schema)
      maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n))
      val q = reader.parquet(srcDir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out).collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    }

    val multi = run(Some(1))  // 3 data micro-batches
    val single = run(None)    // 1 data micro-batch
    assert(multi === single)
    assert(multi === Map(     // hour 00 accumulated ACROSS batches a+b (4);
      "2024-01-01 00:00:00.0" -> 4L, // hour 01 emitted (1); 02 withheld
      "2024-01-01 01:00:00.0" -> 1L))
  }

  test("timer sessionizer: multi-batch run re-registers timers and equals " +
      "the single-batch result (s16 cross-batch contract)") {
    val s = spark
    import s.implicits._
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = Files.createTempDirectory("graft_timer_src").toString
      def addFile(name: String, mtime: Long, rows: Seq[(Long, Timestamp)]): Unit = {
        val stage = Files.createTempDirectory("graft_timer_stage").toString
        rows.toDF("user_id", "ts").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = Paths.get(srcDir, s"$name.parquet")
        Files.move(part.toPath, dst)
        dst.toFile.setLastModified(mtime)
      }
      // user 1's open session EXTENDS across TWO file boundaries; file b's
      // watermark (00:45) passes user 1's FIRST timer (00:10+30m=00:40), so
      // a stale timer that wasn't deleted on extension would fire mid-
      // session and split what the oracle merges — the regression this spec
      // pins. User 2's session closes between files the ordinary way.
      addFile("a", 1700000000000L, Seq(
        (1L, ts("2024-01-01 00:10:00")), (2L, ts("2024-01-01 00:15:00"))))
      addFile("b", 1700000060000L, Seq(
        (1L, ts("2024-01-01 00:30:00")),  // within 30min of 00:10 → extends
        (2L, ts("2024-01-01 01:30:00")),  // > 30min after 00:15 → closes s1
        (9L, ts("2024-01-01 00:45:00")))) // watermark past the stale timer
      addFile("c", 1700000120000L, Seq(
        (1L, ts("2024-01-01 00:50:00")),  // extends again (30min of 00:30)
        (9L, ts("2024-01-01 03:00:00")))) // final watermark drains timers

      def run(maxFiles: Option[Int]): Set[(Long, Long, Long, Long)] = {
        val out  = Files.createTempDirectory("graft_timer_out").toString
        val ckpt = Files.createTempDirectory("graft_timer_ckpt").toString
        val schema = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("user_id", "ts").schema
        val reader = s.readStream.schema(schema)
        maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n))
        val q = reader.parquet(srcDir)
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"))
          .as[StreamingQ.TimerEv]
          .groupByKey(_.user_id)
          .transformWithState(new StreamingQ.TimerSessionizer,
            TimeMode.EventTime(), OutputMode.Append())
          .toDF()
          .writeStream.format("parquet").outputMode("append")
          .option("checkpointLocation", ckpt).option("path", out)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(out).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      }

      val multi = run(Some(1))
      val single = run(None)
      assert(multi === single)
      // user 1: ONE merged session (00:10→00:50, 3 events, extended across
      // both boundaries — a stale timer would have split it at 00:40);
      // user 2: TWO 1-event sessions; user 9: 00:45 session emitted, tail
      // at 03:00 withheld (open).
      assert(multi.size === 4, multi)
      assert(multi.filter(_._1 == 1L).map(_._4) === Set(3L), multi)
      assert(multi.count(_._1 == 2L) === 2)
      assert(multi.filter(_._1 == 2L).forall(_._4 == 1L))
      assert(multi.count(_._1 == 9L) === 1)
    } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("foreachBatch dual-sink: archive parquet and serving wire topic see " +
      "identical rows per epoch (persist once, write twice)") {
    val s = spark
    import s.implicits._
    val srcDir  = Files.createTempDirectory("graft_dual_src").toString
    val parquetOut = Files.createTempDirectory("graft_dual_parquet").toString
    val wireOut = Files.createTempDirectory("graft_dual_wire").toString
    val ckpt    = Files.createTempDirectory("graft_dual_ckpt").toString
    val rows = (1L to 500L).map(i => (i, i * 2.0, s"v$i"))
    rows.toDF("id", "qty", "tag").write.mode("overwrite").parquet(srcDir)
    val schema = rows.take(1).toDF("id", "qty", "tag").schema
    val q = s.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
        // one evaluation, two sinks: the standard serving+archive dual
        // write — persist so the two writes cannot observe different data
        batch.persist()
        batch.write.mode("append").parquet(parquetOut)
        batch.write.format("graft-wire").mode("append")
          .option("path", wireOut).save()
        batch.unpersist()
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .sortBy(_._1).toSeq
    val archived = canon(s.read.parquet(parquetOut))
    val served = canon(s.read.format("graft-wire").schema(schema).load(wireOut))
    assert(archived === served)
    assert(archived.size === 500)
  }

  test("KMV sketch state merges across micro-batches bit-identically " +
      "(s15: streamed partial buffers == one-shot batch sketch)") {
    val s = spark
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val srcDir = Files.createTempDirectory("graft_kmvmb_src").toString
    def addFile(name: String, mtime: Long,
        rows: Seq[(Long, Timestamp)]): Unit = {
      val stage = Files.createTempDirectory("graft_kmvmb_stage").toString
      rows.toDF("uid", "ts").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, s"$name.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    // Hour 00 users split across two files WITH overlap (uid 5 in both):
    // the second batch's partial sketch must merge into stored state, and
    // the overlap must not double-count (the kept set is a set).
    addFile("a", 1700000000000L,
      (1L to 40L).map(u => (u, ts("2024-01-01 00:10:00"))))
    addFile("b", 1700000060000L,
      (5L to 90L).map(u => (u, ts("2024-01-01 00:40:00"))) :+
        (999L, ts("2024-01-01 01:30:00"))) // advances watermark past hour 00

    def run(maxFiles: Option[Int]): Seq[(Int, Double)] = {
      val out  = Files.createTempDirectory("graft_kmvmb_out").toString
      val ckpt = Files.createTempDirectory("graft_kmvmb_ckpt").toString
      val schema = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("uid", "ts").schema
      val reader = s.readStream.schema(schema)
      maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n))
      val q = reader.parquet(srcDir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(expr("graft_kmv(CAST(uid AS STRING))").as("kmv"))
        .select(col("kmv.n_kept").as("n_kept"),
          col("kmv.est_distinct").as("est"))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out).collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toSeq.sorted
    }

    val multi = run(Some(1))
    val single = run(None)
    assert(multi === single)
    // hour 00 emitted: 90 distinct uids (1..90, overlap 5..40 deduped) —
    // above k=64, so the sketch is in estimating mode with n_kept = 64.
    assert(multi.map(_._1) === Seq(64))
  }

  test("RocksDB state store provider yields identical session windows " +
      "(SURVEY §7.4 risk 6: the 100 TB state backend)") {
    // The HDFS-backed default keeps every state row on the JVM heap — fine
    // at test scale, an OOM at 100 TB state. RocksDB is the scale backend;
    // this pins that the s02 session-window query is provider-agnostic.
    val sf = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    val default = canon(Catalog.byName("s02_stream_session").run(spark, sf))
    assert(default.nonEmpty)

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = canon(Catalog.byName("s02_stream_session").run(spark, sf))
      assert(rocks === default)
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  test("RocksDB changelog checkpointing yields identical session windows " +
      "(the production checkpoint mode: per-batch deltas, not snapshots)") {
    // With changelog checkpointing the per-micro-batch durable write is the
    // changelog delta; snapshots upload in the background. Commit latency
    // stops scaling with total state size — the knob a 100 TB deployment
    // actually runs with. Results must be bit-identical to the default.
    val sf = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val default = canon(Catalog.byName("s02_stream_session").run(spark, sf))
    assert(default.nonEmpty)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    try {
      val rocks = canon(Catalog.byName("s02_stream_session").run(spark, sf))
      assert(rocks === default)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("transformWithState accumulates ValueState across micro-batches") {
    val s = spark
    import s.implicits._

    val srcDir = Files.createTempDirectory("graft_tws_src").toString
    val out    = Files.createTempDirectory("graft_tws_out").toString
    val ckpt   = Files.createTempDirectory("graft_tws_ckpt").toString

    def addFile(name: String, rows: Seq[(Long, Long, Timestamp, Double)]): Unit = {
      val stage = Files.createTempDirectory(s"graft_tws_$name").toString
      rows.toDF("event_id", "user_id", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(srcDir, s"$name.parquet"))
    }
    // user 7 spans both files: the running count/max must continue from
    // batch-1 state, not restart at 1.
    addFile("a", Seq((1L, 7L, ts("2024-01-01 00:10:00"), 5.0),
      (2L, 7L, ts("2024-01-01 00:20:00"), 3.0)))
    addFile("b", Seq((3L, 7L, ts("2024-01-01 00:40:00"), 9.0),
      (4L, 8L, ts("2024-01-01 00:50:00"), 2.0)))
    Seq("a", "b").zipWithIndex.foreach { case (n, i) =>
      new File(srcDir, s"$n.parquet").setLastModified(1700000000000L + i * 60000)
    }

    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = Seq((1L, 1L, ts("2024-01-01 00:00:00"), 1.0))
        .toDF("event_id", "user_id", "ts", "value").schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tsu"), col("value"))
        .as[StreamingQ.TwsEv]
        .groupByKey(_.user_id)
        .transformWithState(new StreamingQ.RunningMaxProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = s.read.parquet(out).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got === Map(
        1L -> ((1L, 5.0)), 2L -> ((2L, 5.0)),   // batch 1: user 7
        3L -> ((3L, 9.0)),                      // batch 2 CONTINUES user 7
        4L -> ((1L, 2.0))))                     // batch 2: fresh user 8
    } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("forward-fill carry survives a micro-batch boundary (s26)") {
    val s = spark
    import s.implicits._
    val srcDir = Files.createTempDirectory("graft_ff_src").toString
    val out    = Files.createTempDirectory("graft_ff_out").toString
    val ckpt   = Files.createTempDirectory("graft_ff_ckpt").toString
    def addFile(name: String, mtime: Long,
        rows: Seq[(Long, Long, Timestamp, Option[Double])]): Unit = {
      val stage = Files.createTempDirectory(s"graft_ff_$name").toString
      rows.toDF("event_id", "user_id", "ts", "v")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, s"$name.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    // user 7's last batch-1 reading (42.0) must repair the null that
    // arrives in batch 2 — the carry lives in the state store, not in
    // any window over the batch
    addFile("a", 1700000000000L, Seq(
      (1L, 7L, ts("2024-01-01 00:10:00"), Some(42.0)),
      (2L, 7L, ts("2024-01-01 00:20:00"), None)))
    addFile("b", 1700000060000L, Seq(
      (3L, 7L, ts("2024-01-01 00:30:00"), None),
      (4L, 7L, ts("2024-01-01 00:40:00"), Some(9.0)),
      (5L, 8L, ts("2024-01-01 00:50:00"), None))) // user 8: nothing to carry
    val schema = Seq((1L, 1L, ts("2024-01-01 00:00:00"), Option(1.0)))
      .toDF("event_id", "user_id", "ts", "v").schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("v"))
      .as[StreamingQ.FillEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[StreamingQ.FillEv],
         state: org.apache.spark.sql.streaming.GroupState[Double]) =>
          var last: Option[Double] = state.getOption
          val res = it.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
            if (e.v.isDefined) last = e.v
            StreamingQ.FillOut(e.event_id, user, e.v, last)
          }
          last.foreach(state.update)
          res.iterator
      }
      .toDF()
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = s.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got === Map(
      1L -> Some(42.0), 2L -> Some(42.0), // batch 1 fill
      3L -> Some(42.0),                   // batch 2 inherits batch-1 carry
      4L -> Some(9.0),                    // fresh reading replaces the carry
      5L -> None))                        // no prior reading: stays null
  }

  test("first-seen emits once per user across micro-batch boundaries (s27)") {
    val s = spark
    import s.implicits._
    val srcDir = Files.createTempDirectory("graft_fs_src").toString
    val out    = Files.createTempDirectory("graft_fs_out").toString
    val ckpt   = Files.createTempDirectory("graft_fs_ckpt").toString
    def addFile(name: String, mtime: Long,
        rows: Seq[(Long, Timestamp, Long)]): Unit = {
      val stage = Files.createTempDirectory(s"graft_fs_$name").toString
      rows.toDF("user_id", "ts", "event_id")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, s"$name.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    // user 7 appears in BOTH batches: only the batch-1 sighting may emit,
    // and its day must win even though batch 2 re-delivers the user on a
    // later day. User 8 is batch-2-only and emits there.
    addFile("a", 1700000000000L, Seq(
      (7L, ts("2024-01-02 10:00:00"), 11L),
      (7L, ts("2024-01-01 09:00:00"), 12L))) // in-batch min wins: Jan 1
    addFile("b", 1700000060000L, Seq(
      (7L, ts("2024-01-05 00:00:00"), 13L),  // suppressed by state
      (8L, ts("2024-01-04 23:59:59"), 14L)))
    val schema = Seq((1L, ts("2024-01-01 00:00:00"), 1L))
      .toDF("user_id", "ts", "event_id").schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"))
      .as[StreamingQ.SeenEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[StreamingQ.SeenEv],
         state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.minBy(e => (e.tsu, e.event_id))
            state.update(true)
            Iterator.single(StreamingQ.SeenOut(user,
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
                Math.floorDiv(first.tsu, 86400000000L)))))
          }
      }
      .toDF()
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = s.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getDate(1).toString).toMap
    assert(got === Map(7L -> "2024-01-01", 8L -> "2024-01-04"))
  }

  test("streaming near-dup verdicts match the batch pair relation across " +
      "micro-batch boundaries (s28)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over a sleepy dog"), // near dup of 1
      (4L, "entirely different content about database engines"),
      (5L, "one"))                                         // below sig floor
      .toDF("doc_id", "text")
    // Expected verdict from the BATCH relation this op is the online form
    // of: dup iff the doc appears as doc_b in d03's candidate pairs.
    val dupIds = graft.ext.Dedup.lshPairs(docs).collect()
      .map(_.getLong(1)).toSet
    val sigIds = graft.ext.Dedup.minhash(docs)
      .select("doc_id").as[Long].collect().toSet
    val expected = sigIds.map(id => id -> dupIds.contains(id)).toMap

    val srcDir = Files.createTempDirectory("graft_s28_src").toString
    val out    = Files.createTempDirectory("graft_s28_out").toString
    val ckpt   = Files.createTempDirectory("graft_s28_ckpt").toString
    def addFile(name: String, mtime: Long, ids: Seq[Long]): Unit = {
      val stage = Files.createTempDirectory(s"graft_s28_$name").toString
      docs.filter(col("doc_id").isin(ids: _*))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, s"$name.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    // id-ordered slicing (the declared source-layout discipline): doc 2
    // must be flagged by batch-a STATE (doc 1's bucket mins), not an
    // in-batch comparison — the cross-batch path under test.
    addFile("a", 1700000000000L, Seq(1L, 4L))
    addFile("b", 1700000060000L, Seq(2L, 3L, 5L))

    val got = StreamingQ.withRocksDb(s) {
      StreamingQ.withStateParts(s, StreamingQ.inletBytes(srcDir)) {
        val q = StreamingQ.nearDupXform(s)(
          s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir))
          .writeStream.format("parquet").outputMode("append")
          .option("checkpointLocation", ckpt).option("path", out)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.parquet(out)
        .groupBy("doc_id").agg(bool_or(col("band_dup")).as("is_dup"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    assert(got === expected)
    assert(got(2L), "exact dup must be flagged from cross-batch state")
    assert(!got(1L) && !got(4L), "first arrivals are admitted")
  }

  test("s28 verdicts match the batch oracle under OUT-OF-ID-ORDER slicing " +
      "(retroactive correction of a displaced bucket min)") {
    val s = spark
    import s.implicits._
    // Doc 2 (a near-dup pair member with the SMALLER partner 1 arriving in
    // a LATER batch) is the divergence case: at arrival 2 is its buckets'
    // running min and is admitted unflagged; without the correction row
    // neither 1 nor 2 is ever flagged while the batch EXISTS-earlier
    // oracle flags 2. The correction emitted when 1 displaces 2 as bucket
    // min is what reconciles the log with the oracle.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over a sleepy dog"), // near dup
      (4L, "entirely different content about database engines"))
      .toDF("doc_id", "text")
    val dupIds = graft.ext.Dedup.lshPairs(docs).collect()
      .map(_.getLong(1)).toSet
    val expected = graft.ext.Dedup.minhash(docs)
      .select("doc_id").as[Long].collect().toSet
      .map((id: Long) => id -> dupIds.contains(id)).toMap

    val srcDir = Files.createTempDirectory("graft_s28o_src").toString
    val out    = Files.createTempDirectory("graft_s28o_out").toString
    val ckpt   = Files.createTempDirectory("graft_s28o_ckpt").toString
    def addFile(name: String, mtime: Long, ids: Seq[Long]): Unit = {
      val stage = Files.createTempDirectory(s"graft_s28o_$name").toString
      docs.filter(col("doc_id").isin(ids: _*))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, s"$name.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    addFile("a", 1700000000000L, Seq(2L, 4L)) // larger pair member first
    addFile("b", 1700000060000L, Seq(1L, 3L)) // smaller partner later

    val got = StreamingQ.withRocksDb(s) {
      StreamingQ.withStateParts(s, StreamingQ.inletBytes(srcDir)) {
        val q = StreamingQ.nearDupXform(s)(
          s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir))
          .writeStream.format("parquet").outputMode("append")
          .option("checkpointLocation", ckpt).option("path", out)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.parquet(out)
        .groupBy("doc_id").agg(bool_or(col("band_dup")).as("is_dup"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    assert(got === expected)
    assert(got(2L), "displaced bucket min must be flagged retroactively")
    assert(!got(1L), "the bucket's global min stays admitted")
  }

  test("s28 under FULLY REVERSED slicing: a correction chain re-flags " +
      "every displaced min (ids arrive largest-first, one per batch)") {
    val s = spark
    import s.implicits._
    // Four near-identical docs, one per micro-batch, LARGEST id first:
    // every batch displaces the stored bucket min, so each of 4,3,2 must
    // be flagged by a retroactive correction from the batch AFTER its own
    // (no in-batch or state-at-arrival test can flag them); only global
    // min 1 ends admitted. This is the maximal correction chain.
    val base = "the quick brown fox jumps over the lazy dog tonight"
    val docs = (1L to 4L).map(i => (i, base)).toDF("doc_id", "text")
    val expected = Map(1L -> false, 2L -> true, 3L -> true, 4L -> true)

    val srcDir = Files.createTempDirectory("graft_s28r_src").toString
    val out    = Files.createTempDirectory("graft_s28r_out").toString
    val ckpt   = Files.createTempDirectory("graft_s28r_ckpt").toString
    Seq(4L, 3L, 2L, 1L).zipWithIndex.foreach { case (id, i) =>
      val stage = Files.createTempDirectory(s"graft_s28r_$i").toString
      docs.filter(col("doc_id") === id)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(srcDir, f"f$i%02d.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }

    val got = StreamingQ.withRocksDb(s) {
      StreamingQ.withStateParts(s, StreamingQ.inletBytes(srcDir)) {
        val q = StreamingQ.nearDupXform(s)(
          s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir))
          .writeStream.format("parquet").outputMode("append")
          .option("checkpointLocation", ckpt).option("path", out)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.parquet(out)
        .groupBy("doc_id").agg(bool_or(col("band_dup")).as("is_dup"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    assert(got === expected)
  }

  test("streaming kNN final top-k equals the batch rank across micro-batch " +
      "boundaries (s29)") {
    val s = spark
    import s.implicits._
    // 1 query (id 0, unit-x) + 6 candidates at known cosines to it. The
    // BEST candidate (id 6) arrives in batch b: it must displace batch-a
    // admissions through cross-batch state, and the final top-3 must equal
    // the batch rank regardless of the slicing.
    def v(x: Double, y: Double): Seq[Float] =
      Seq(x.toFloat, y.toFloat, 0f, 0f)
    val vecs = Seq(
      (0L, v(1, 0), 0),                    // the query
      (1L, v(0.9, 0.1), 1), (2L, v(0.5, 0.5), 1), (3L, v(0.1, 0.9), 1),
      (4L, v(0.8, 0.2), 1), (5L, v(-1, 0), 1),
      (6L, v(1, 0.001), 1))                // best cosine, arrives last
      .toDF("vec_id", "embedding", "label")
    graft.functions.GraftFunctions.register(s)
    val q = vecs.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val expected = vecs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", expr("graft_cos(embedding, qe)"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(3)
      .select("vec_id").as[Long].collect().toSeq

    val srcDir = Files.createTempDirectory("graft_s29_src").toString
    val out    = Files.createTempDirectory("graft_s29_out").toString
    val ckpt   = Files.createTempDirectory("graft_s29_ckpt").toString
    def addFile(name: String, mtime: Long, ids: Seq[Long]): Unit = {
      val stage = Files.createTempDirectory(s"graft_s29_$name").toString
      vecs.filter(col("vec_id").isin(ids: _*))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(srcDir, s"$name.parquet"))
      Paths.get(srcDir, s"$name.parquet").toFile.setLastModified(mtime)
    }
    addFile("a", 1700000000000L, Seq(0L, 1L, 2L, 3L, 4L, 5L))
    addFile("b", 1700000060000L, Seq(6L))

    val got = StreamingQ.withRocksDb(s) {
      StreamingQ.withStateParts(s, StreamingQ.inletBytes(srcDir)) {
        val strq = StreamingQ.knnAdmitXform(s, q)(
          s.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir))
          .writeStream.format("parquet").outputMode("append")
          .option("checkpointLocation", ckpt).option("path", out)
          .trigger(Trigger.AvailableNow()).start()
        strq.awaitTermination()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
      s.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .orderBy("rn").select("vec_id").as[Long].collect().toSeq
    }
    assert(got === expected)
    assert(got.head === 6L,
      "the batch-b arrival must displace batch-a admissions via state")
  }

  test("streaming IVF-PQ serving is independent of micro-batch slicing " +
      "(s31)") {
    // The ADC shortlist's admission-log discipline (s29's argument, ADC
    // ordering): the post-drain rank over admissions must be identical
    // whether the corpus arrives as one micro-batch or two — a true
    // shortlist member beats every possible k-th at any arrival time, so
    // it is admitted under any slicing.
    val s = spark
    val d = "/root/testdata/sf0.001"
    graft.functions.GraftFunctions.register(s)
    val emb = graft.sources.Tables.embeddings(s, d)
    val sv = graft.ext.Similarity.Serve
    val (a1, cv1, _, cbAll) = graft.ext.Similarity.ivfPqIndex(
      emb, sv.K1Default, sv.M, sv.SubDim, sv.Kcode, sv.Iters, pp = sv.Pp)
    val assignCents = graft.ext.Similarity.kmeansTrainedCentroids(
      emb, sv.K1Default, sv.Iters, pp = sv.Pp)
    val (_, probes) = graft.ext.Similarity.ivfPqQueryProbes(a1, cv1)

    def serve(split: Boolean): Seq[String] = {
      val srcDir = Files.createTempDirectory(s"graft_s31_src_$split").toString
      val out    = Files.createTempDirectory(s"graft_s31_out_$split").toString
      val ckpt   = Files.createTempDirectory(s"graft_s31_ck_$split").toString
      def addFile(name: String, mtime: Long,
          df: org.apache.spark.sql.DataFrame): Unit = {
        val stage = Files.createTempDirectory(s"graft_s31_$name").toString
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(srcDir, s"$name.parquet"))
        Paths.get(srcDir, s"$name.parquet").toFile.setLastModified(mtime)
      }
      if (split) {
        addFile("a", 1700000000000L, emb.filter(col("vec_id") % 2 === 0))
        addFile("b", 1700000060000L, emb.filter(col("vec_id") % 2 === 1))
      } else addFile("all", 1700000000000L, emb)
      StreamingQ.withRocksDb(s) {
        StreamingQ.withStateParts(s, StreamingQ.inletBytes(srcDir)) {
          val strq = StreamingQ.ivfPqServeXform(
              s, assignCents, cv1, cbAll, probes)(
              s.readStream.schema(emb.schema)
                .option("maxFilesPerTrigger", 1).parquet(srcDir))
            .writeStream.format("parquet").outputMode("append")
            .option("checkpointLocation", ckpt).option("path", out)
            .trigger(Trigger.AvailableNow()).start()
          strq.awaitTermination()
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
        s.read.parquet(out)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .orderBy("q_id", "rn").select("q_id", "vec_id", "adc")
          .collect().map(_.toString).toSeq
      }
    }
    val one = serve(split = false)
    val two = serve(split = true)
    assert(one.nonEmpty)
    assert(one === two,
      "the served top-5 must not depend on micro-batch slicing")

    // s32's filtered form under the SAME slicing pair: the arrival-side
    // predicate composes with the xform (filter before assignment), and
    // the filtered shortlists must be slicing-independent for the same
    // admission-log reason — plus every admitted row must satisfy the
    // predicate (non-matching vectors never enter state).
    def serveFiltered(split: Boolean): Seq[String] = {
      val srcDir = Files.createTempDirectory(s"graft_s32_src_$split").toString
      val out    = Files.createTempDirectory(s"graft_s32_out_$split").toString
      val ckpt   = Files.createTempDirectory(s"graft_s32_ck_$split").toString
      def addFile(name: String, mtime: Long,
          df: org.apache.spark.sql.DataFrame): Unit = {
        val stage = Files.createTempDirectory(s"graft_s32_$name").toString
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(srcDir, s"$name.parquet"))
        Paths.get(srcDir, s"$name.parquet").toFile.setLastModified(mtime)
      }
      if (split) {
        addFile("a", 1700000000000L, emb.filter(col("vec_id") % 2 === 0))
        addFile("b", 1700000060000L, emb.filter(col("vec_id") % 2 === 1))
      } else addFile("all", 1700000000000L, emb)
      StreamingQ.withRocksDb(s) {
        StreamingQ.withStateParts(s, StreamingQ.inletBytes(srcDir)) {
          val strq = StreamingQ.ivfPqServeXform(
              s, assignCents, cv1, cbAll, probes)(
              s.readStream.schema(emb.schema)
                .option("maxFilesPerTrigger", 1).parquet(srcDir)
                .filter(col("label") === 3))
            .writeStream.format("parquet").outputMode("append")
            .option("checkpointLocation", ckpt).option("path", out)
            .trigger(Trigger.AvailableNow()).start()
          strq.awaitTermination()
        }
        val admitted = s.read.parquet(out)
        // every admitted vec satisfies the predicate
        val labels = emb.select(col("vec_id").as("lv"), col("label"))
        assert(admitted.join(labels, col("vec_id") === col("lv"))
          .filter(col("label") =!= 3).count() === 0L)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
        admitted
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .orderBy("q_id", "rn").select("q_id", "vec_id", "adc")
          .collect().map(_.toString).toSeq
      }
    }
    val fOne = serveFiltered(split = false)
    val fTwo = serveFiltered(split = true)
    assert(fOne.nonEmpty)
    assert(fOne === fTwo,
      "the filtered served top-5 must not depend on micro-batch slicing")
  }

  test("running z-score flags are identical under any micro-batch slicing") {
    val s = spark
    import s.implicits._

    // one user, 6 events: 5 near 100 then an outlier at 900 — the outlier
    // must flag against the preceding moments regardless of where the
    // micro-batch boundary falls (all-in-one vs one-file-per-batch).
    val evs = Seq(
      (1L, 7L, ts("2024-01-01 00:01:00"), 100L),
      (2L, 7L, ts("2024-01-01 00:02:00"), 102L),
      (3L, 7L, ts("2024-01-01 00:03:00"), 98L),
      (4L, 7L, ts("2024-01-01 00:04:00"), 101L),
      (5L, 7L, ts("2024-01-01 00:05:00"), 99L),
      (6L, 7L, ts("2024-01-01 00:06:00"), 900L))

    def run(maxFiles: Option[Int]): Seq[(Long, Long, Int)] = {
      val srcDir = Files.createTempDirectory("graft_zs_src").toString
      val out    = Files.createTempDirectory("graft_zs_out").toString
      val ckpt   = Files.createTempDirectory("graft_zs_ckpt").toString
      evs.grouped(2).zipWithIndex.foreach { case (chunk, i) =>
        val stage = Files.createTempDirectory(s"graft_zs_$i").toString
        chunk.toDF("event_id", "user_id", "ts", "x")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = Paths.get(srcDir, s"f$i.parquet")
        Files.move(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000)
      }
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val schema = evs.take(1).toDF("event_id", "user_id", "ts", "x").schema
        val rd = s.readStream.schema(schema)
        val src = maxFiles.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
          .parquet(srcDir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("tsu"), col("x"))
          .as[StreamingQ.ZEv]
          .groupByKey(_.user_id)
          .transformWithState(new StreamingQ.RunningZProcessor,
            TimeMode.None(), OutputMode.Append())
          .toDF()
        val q = src.writeStream.format("parquet").outputMode("append")
          .option("checkpointLocation", ckpt).option("path", out)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(out).collect()
          .map(r => (r.getLong(0), r.getLong(3), r.getInt(4)))
          .sortBy(_._1).toSeq
      } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    val oneBatch = run(None)
    val threeBatches = run(Some(1))
    assert(oneBatch === threeBatches)
    // only the outlier flags, scored against n_prev = 5 prior events
    assert(oneBatch.map(t => t._1 -> t._3).toMap ===
      Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 0, 6L -> 1))
    assert(oneBatch.find(_._1 == 6L).get._2 === 5L)
  }
  test("s33: substring-contamination verdicts match the batch expression " +
      "and are slicing-independent (stateless snapshot probe)") {
    val s = spark
    import s.implicits._
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val snapDocs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, "nothing here matches any arrival at all today"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (101L, s"$shared tail tokens"),          // shares the 12-token span
      (102L, "fresh content entirely new words none shared with snapshot"),
      (103L, "w1 w2 w3"))                      // < SpanN tokens: never flags
      .toDF("doc_id", "text")
    val snap = StreamingQ.substringSnapshot(snapDocs)
    // batch expectation from the SAME transform applied to a batch frame
    val expected = StreamingQ.substringGateXform(snap)(arrivals)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(expected.map(t => t._1 -> t._3) ===
      Seq(101L -> true, 102L -> false, 103L -> false))
    assert(expected.head._2 === 5) // 12-token span = 5 shared 8-grams

    def run(maxFiles: Option[Int]): Seq[(Long, Int, Boolean)] = {
      val srcDir = Files.createTempDirectory("graft_s33_src").toString
      val out    = Files.createTempDirectory("graft_s33_out").toString
      val ckpt   = Files.createTempDirectory("graft_s33_ckpt").toString
      arrivals.collect().zipWithIndex.foreach { case (r, i) =>
        val stage = Files.createTempDirectory(s"graft_s33_$i").toString
        Seq((r.getLong(0), r.getString(1))).toDF("doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = Paths.get(srcDir, s"f$i.parquet")
        Files.move(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000)
      }
      val rd = s.readStream.schema(arrivals.schema)
      val q = StreamingQ.substringGateXform(snap)(
        maxFiles.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
          .parquet(srcDir))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
    }
    assert(run(None) === expected)
    assert(run(Some(1)) === expected) // one doc per micro-batch: identical
  }

  test("s34: the persisted gram artifact alone reproduces the gate in a " +
      "fresh session (cache-independence, the p10 discipline)") {
    val s = spark
    import s.implicits._
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val snapDocs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, "nothing here matches any arrival at all today"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (101L, s"$shared tail tokens"),
      (102L, "fresh content entirely new words none shared with snapshot"))
      .toDF("doc_id", "text")
    val inSession = StreamingQ.substringGateXform(
      StreamingQ.substringSnapshot(snapDocs))(arrivals)
      .collect().map(_.toString).sorted.toSeq
    // ship the artifact + arrivals as parquet, then serve from a FRESH
    // session: the gate's plan lineage is two parquet scans — no retained
    // cache, no checkpoint, no gram-extraction stage, by construction
    val root = Files.createTempDirectory("graft_s34_art").toString
    StreamingQ.substringSnapshot(snapDocs)
      .write.mode("overwrite").parquet(s"$root/grams")
    arrivals.write.mode("overwrite").parquet(s"$root/arrivals")
    val fresh = s.newSession()
    graft.functions.GraftFunctions.register(fresh)
    val gate = StreamingQ.substringGateXform(
      fresh.read.parquet(s"$root/grams"))(
      fresh.read.parquet(s"$root/arrivals"))
    val plan = gate.queryExecution.optimizedPlan.toString
    assert(!plan.contains("InMemoryRelation") && !plan.contains("LogicalRDD"),
      s"served plan must contain only parquet scans:\n$plan")
    assert(gate.collect().map(_.toString).sorted.toSeq === inSession)
  }

  test("s35: the persisted BLOOM artifact alone reproduces the gate in a " +
      "fresh session — verdicts equal the in-session filter's, including " +
      "its false-positive set") {
    val s = spark
    import s.implicits._
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val snapDocs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, "nothing here matches any arrival at all today"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (101L, s"$shared tail tokens"),
      (102L, "fresh content entirely new words none shared with snapshot"))
      .toDF("doc_id", "text")
    val inSession = graft.ext.Dedup.bloomGateXform(
      graft.ext.Dedup.bloomArtifact(snapDocs))(arrivals)
      .collect().map(_.toString).sorted.toSeq
    val root = Files.createTempDirectory("graft_s35_art").toString
    graft.ext.Dedup.bloomArtifact(snapDocs)
      .write.mode("overwrite").parquet(s"$root/bloom")
    arrivals.write.mode("overwrite").parquet(s"$root/arrivals")
    val fresh = s.newSession()
    graft.functions.GraftFunctions.register(fresh)
    val gate = graft.ext.Dedup.bloomGateXform(
      fresh.read.parquet(s"$root/bloom"))(
      fresh.read.parquet(s"$root/arrivals"))
    val plan = gate.queryExecution.optimizedPlan.toString
    assert(!plan.contains("InMemoryRelation") && !plan.contains("LogicalRDD"),
      s"served plan must contain only parquet scans:\n$plan")
    assert(gate.collect().map(_.toString).sorted.toSeq === inSession)
  }

  test("state-partition auto-knob: parts derive from inlet bytes (pow2 of " +
      "bytes/4MiB in [4,256]), and the derived value is what the " +
      "streaming body plans with") {
    // the derivation law + its calibration points: sf0.1 events (2.0 MB)
    // -> 4 (the former hand default, so the close is unchanged); sf10
    // events (88 MB) -> 32 (the measured 4.8x knob point, BASELINE.md)
    assert(StreamingQ.autoStateParts(0L) === 4)
    assert(StreamingQ.autoStateParts(2L << 20) === 4)
    assert(StreamingQ.autoStateParts(10L << 20) === 4)
    assert(StreamingQ.autoStateParts(17L << 20) === 8)
    assert(StreamingQ.autoStateParts(88L << 20) === 32)
    assert(StreamingQ.autoStateParts(1L << 40) === 256) // cap
    // exact power-of-two boundary stays (no round-up past it)
    assert(StreamingQ.autoStateParts(64L << 20) === 16)
    // the body plans with the derived value
    val s = spark
    val seen = StreamingQ.withStateParts(s, 88L << 20) {
      s.conf.get("spark.sql.shuffle.partitions")
    }
    assert(seen === "32")
    // inletBytes: plain file and directory tree, metadata only
    val f = Files.createTempDirectory("graft_inlet")
    Files.write(f.resolve("a.bin"), new Array[Byte](1000))
    Files.write(f.resolve("b.bin"), new Array[Byte](500))
    assert(StreamingQ.inletBytes(f.toString) === 1500L)
    assert(StreamingQ.inletBytes(f.resolve("a.bin").toString) === 1000L)
    assert(StreamingQ.inletBytes(f.resolve("missing").toString) === 0L)
  }

  /** Two events (the on-disk column set), the second with a null `value`,
    * as a single-file `events.parquet` like the generated tables.
    */
  private lazy val tinyEvents: String = {
    val d = Files.createTempDirectory("graft_tiny_events")
    val stage = Files.createTempDirectory("graft_tiny_stage").toString
    spark.sql("""SELECT * FROM VALUES
        (1L, TIMESTAMP '2024-01-01 00:10:00', 7L, 'click', 12.5D, '{}'),
        (2L, TIMESTAMP '2024-01-01 01:20:30', 8L, 'view',
         CAST(NULL AS DOUBLE), '{}')
        AS t(event_id, ts, user_id, event_type, value, props)""")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, d.resolve("events.parquet"))
    d.toString
  }

  test("q20 wire pipe: a null value decodes as null and leaves the later " +
      "fields in place") {
    val got = StreamingQ.streamPipe(spark, tinyEvents)
      .select("event_id", "event_type", "value_d", "ts_str", "if_move")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(got === Seq(
      Seq(1L, "click", 12.5, "2024-01-01 00:10:00", "movement"),
      Seq(2L, "view", null, "2024-01-01 01:20:30", "no_movement")))
  }

  test("withRocksDb restores a provider the session set itself") {
    val s = spark
    val k = "spark.sql.streaming.stateStore.providerClass"
    val mine = "com.example.CustomStateStoreProvider"
    s.conf.set(k, mine)
    try {
      val inside = StreamingQ.withRocksDb(s)(s.conf.get(k))
      assert(inside.endsWith(".RocksDBStateStoreProvider"))
      assert(s.conf.get(k) === mine)
    } finally s.conf.unset(k)
    // a session that set none is left with none set
    StreamingQ.withRocksDb(s)(())
    assert(!s.sessionState.conf.contains(k))
  }

  test("runEventsStream accepts any fixed-offset session zone and refuses " +
      "a DST zone") {
    val s = spark
    val tz = "spark.sql.session.timeZone"
    val prev = s.conf.get(tz)
    try {
      for (z <- Seq("Etc/UTC", "+00:00")) {
        s.conf.set(tz, z)
        val n = StreamingQ.runEventsStream(s, tinyEvents)(
          _.select("event_id")).count()
        assert(n === 2, z)
      }
      s.conf.set(tz, "America/New_York")
      val ex = intercept[IllegalArgumentException](
        StreamingQ.runEventsStream(s, tinyEvents)(identity))
      assert(ex.getMessage.contains(
        "runEventsStream requires spark.sql.session.timeZone=UTC"))
    } finally s.conf.set(tz, prev)
  }

  test("s06 plans every trigger's state stores at autoStateParts of its " +
      "inlet, not at the session's shuffle partitions") {
    val s = spark
    val sf = "perfbench/data/sf0.01" // the repo's copy of the sf0.01 tables
    val want =
      StreamingQ.autoStateParts(StreamingQ.inletBytes(s"$sf/events.parquet"))
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamingQueryProgress]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress)
      // posted after the query's last progress event
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        done.countDown()
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    // a session value the derived count cannot equal
    s.conf.set("spark.sql.shuffle.partitions", (want + 3).toString)
    s.streams.addListener(listener)
    try {
      assert(Catalog.byName("s06_stream_sliding").run(s, sf).count() > 0)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      s.streams.removeListener(listener)
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    val ps = progress.toArray(Array.empty[StreamingQueryProgress]).toSeq
    assert(ps.nonEmpty)
    ps.foreach { p =>
      assert(p.stateOperators.nonEmpty, p.json)
      assert(p.stateOperators.forall(_.numShufflePartitions == want), p.json)
    }
  }

  test("the stream-stream join family agrees across join types: s10's " +
      "matched rows are s07's, s24's signups are s07's, s25's signup side " +
      "is s10") {
    val sf = "perfbench/data/sf0.01" // the repo's copy of the sf0.01 tables
    def run(name: String) = Catalog.byName(name).run(spark, sf)
    def rows(df: DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val s07 = run("s07_stream_stream_join")
    val s10 = run("s10_stream_outer_join")
    assert(s07.count() > 0)
    assert(rows(s10.filter(col("pts").isNotNull), "sk", "sts", "pts") ===
      rows(s07, "sk", "sts", "pts"))
    assert(rows(run("s24_stream_semi_join"), "sk", "sts").distinct ===
      rows(s07, "sk", "sts").distinct)
    assert(rows(run("s25_stream_full_outer_join")
      .filter(col("sk").isNotNull), "sk", "sts", "pts") ===
      rows(s10, "sk", "sts", "pts"))
  }
}
