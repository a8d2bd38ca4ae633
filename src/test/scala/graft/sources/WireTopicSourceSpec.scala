package graft.sources

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.pipeline.CsvWire
import graft.util.Scratch

/** Contract tests for the graft-wire DataSource V2 connector
  * ([[graft.sources.v2.WireTopicSource]]): pushdown is real (supported
  * predicates vanish from the post-scan plan; unsupported ones stay),
  * pruning is real (read schema shrinks), and wire nulls decode like
  * [[CsvWire.decode]].
  */
class WireTopicSourceSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("qty", DoubleType),
    StructField("tag", StringType)))

  private lazy val topicDir: String = {
    val df = Seq(
      (1L, Some(10.0), "a"), (2L, Some(30.0), "b"),
      (3L, None, "ab"), (4L, Some(40.0), "c")
    ).toDF("id", "qty", "tag")
      .select(col("id"), col("qty"), col("tag"))
    val dir = Scratch.dir("graft_wire_spec")
    CsvWire.encode(df, schema).repartition(2).write
      .mode("overwrite").text(dir)
    dir
  }

  private def read = s.read.format("graft-wire").schema(schema).load(topicDir)

  private def wire(dir: String) = graft.sources.v2.WireTopic(s, dir, ",")

  private def plan(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  test("round-trips typed rows with empty-field → null decode") {
    val rows = read.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getString(2))).toSet
    assert(rows === Set((1L, Some(10.0), "a"), (2L, Some(30.0), "b"),
      (3L, None, "ab"), (4L, Some(40.0), "c")))
  }

  test("supported predicates are fully pushed: no post-scan Filter") {
    val q = read.filter(col("qty") > 20.0).select("id", "qty")
    val p = plan(q)
    assert(!p.toString.contains("Filter ("), p.toString)
    assert(p.toString.contains("GreaterThan(qty,20.0)"), p.toString)
    assert(q.collect().map(_.getLong(0)).toSet === Set(2L, 4L))
  }

  test("limit pushes to the scan as a per-partition early stop") {
    val q = read.limit(3)
    assert(plan(q).toString.contains("limit=3"), plan(q).toString)
    assert(q.collect().length === 3)
    // partial pushdown contract: Spark still applies the global limit, so
    // a limit below the per-file row count cannot over-return
    val one = read.limit(1)
    assert(one.collect().length === 1)
  }

  test("unsupported predicates stay Spark-side and still evaluate") {
    val q = read.filter(col("tag").contains("b")).select("id")
    assert(plan(q).toString.contains("Filter"), plan(q).toString)
    assert(q.collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("column pruning reaches the scan read schema") {
    val q = read.select("id")
    assert(plan(q).toString.contains("read=[id]"), plan(q).toString)
    assert(q.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("filter-only columns are parsed but not emitted") {
    // qty appears only in the pushed predicate; the emitted schema is id.
    val q = read.filter(col("qty") > 20.0).select("id")
    val p = plan(q).toString
    assert(p.contains("GreaterThan(qty,20.0)") && p.contains("read=[id]"), p)
    assert(q.collect().map(_.getLong(0)).toSet === Set(2L, 4L))
  }

  test("comparison with wire null is not-true (three-valued logic)") {
    // id=3 has null qty: qty <= 1e9 must NOT match it, IS NULL must.
    val le = read.filter(col("qty") <= 1e9).select("id")
    assert(le.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    val isNull = read.filter(col("qty").isNull).select("id")
    assert(plan(isNull).toString.contains("IsNull(qty)"),
      plan(isNull).toString)
    assert(isNull.collect().map(_.getLong(0)).toSet === Set(3L))
  }

  test("pushed filters compare longs as longs and strings in Spark's " +
      "byte order") {
    // 2^53 + 1 has no double of its own, so a double compare reads it as
    // 2^53. U+1F600 is a surrogate pair in UTF-16, which sorts it below
    // U+FFFD; Spark's UTF-8 byte order sorts it above.
    val dir = Scratch.dir("graft_wire_cmp")
    writeWireFile(dir, "f1.wire", 1700000000000L, Seq(
      "9007199254740992,1.0,a", "9007199254740993,2.0,\uD83D\uDE00",
      "7,3.0,\uFFFD"))
    val t = s.read.format("graft-wire").schema(schema).load(dir)
    val eq = t.filter(col("id") === 9007199254740993L).select("id")
    val lt = t.filter(col("tag") < "\uFFFD").select("id")
    for (q <- Seq(eq, lt)) assert(!plan(q).toString.contains("Filter ("),
      plan(q).toString)
    assert(plan(eq).toString.contains("EqualTo(id,9007199254740993)"),
      plan(eq).toString)
    assert(plan(lt).toString.contains("LessThan(tag,"), plan(lt).toString)
    assert(eq.collect().map(_.getLong(0)).toSet === Set(9007199254740993L))
    assert(lt.collect().map(_.getLong(0)).toSet === Set(9007199254740992L))
  }

  test("one input partition per topic file") {
    assert(read.rdd.getNumPartitions === 2)
  }

  // ---- streaming (MicroBatchStream) contract ----------------------------

  private def writeWireFile(dir: String, name: String, mtime: Long,
      lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toFile.setLastModified(mtime)
  }

  private def drainStream(topic: String, out: String, ckpt: String,
      maxFiles: Option[Int] = Some(1)) = {
    val reader = s.readStream.format("graft-wire").schema(schema)
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n))
    val q = reader.load(topic)
      .filter(col("qty") > 0.0)
      .select("id", "qty")
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  test("streaming: maxFilesPerTrigger=1 yields one micro-batch per file") {
    val topic = Scratch.dir("graft_wire_stream")
    writeWireFile(topic, "f1.wire", 1700000000000L, Seq("1,10.0,a", "2,-1.0,b"))
    writeWireFile(topic, "f2.wire", 1700000060000L, Seq("3,30.0,c"))
    writeWireFile(topic, "f3.wire", 1700000120000L, Seq("4,40.0,d"))
    val out = Scratch.dir("graft_wire_stream_out")
    val ckpt = Scratch.dir("graft_wire_stream_ckpt")
    val q = drainStream(topic, out, ckpt)
    // 3 files → 3 data micro-batches under the admission-control cap
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)
    // pushed filter applied inside the connector: qty -1.0 never surfaces
    val got = s.read.parquet(out).collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L, 4L))
  }

  // ---- write side (BatchWrite commit protocol) --------------------------

  test("V2 write round-trips; overwrite truncates the previous topic") {
    val dir = Scratch.dir("graft_wire_write")
    val first = Seq((1L, Some(1.0), "a"), (2L, None, "b"))
      .toDF("id", "qty", "tag")
    first.write.format("graft-wire").mode("append").save(dir)
    val back = s.read.format("graft-wire").schema(schema).load(dir)
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          r.getString(2))).toSet
    assert(back === Set((1L, Some(1.0), "a"), (2L, None, "b")))
    // overwrite replaces, not merges
    Seq((9L, Some(9.0), "z")).toDF("id", "qty", "tag")
      .write.format("graft-wire").mode("overwrite").save(dir)
    val after = s.read.format("graft-wire").schema(schema).load(dir)
      .collect().map(_.getLong(0)).toSet
    assert(after === Set(9L))
  }

  test("uncommitted staging files are invisible to readers") {
    val dir = Scratch.dir("graft_wire_staging")
    Seq((1L, Some(1.0), "a")).toDF("id", "qty", "tag")
      .write.format("graft-wire").mode("append").save(dir)
    // a crashed task's leftover staging file must never surface
    writeWireFile(dir, "_tmp_part-00007-42.wire", 1700000000000L,
      Seq("666,6.0,ghost"))
    val ids = s.read.format("graft-wire").schema(schema).load(dir)
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L))
  }

  test("streaming sink: one wire file per epoch; replayed epoch replaces") {
    val srcTopic = Scratch.dir("graft_wire_sink_src")
    writeWireFile(srcTopic, "f1.wire", 1700000000000L, Seq("1,10.0,a"))
    writeWireFile(srcTopic, "f2.wire", 1700000060000L, Seq("2,20.0,b"))
    val outTopic = Scratch.dir("graft_wire_sink_out")
    val ckpt = Scratch.dir("graft_wire_sink_ckpt")
    val q = s.readStream.format("graft-wire").schema(schema)
      .option("maxFilesPerTrigger", 1).load(srcTopic)
      .writeStream.format("graft-wire")
      .option("path", outTopic).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // 2 source files → 2 epochs → deterministic part-e*-p* names
    val names = new java.io.File(outTopic).listFiles().map(_.getName).sorted
    assert(names.count(_.startsWith("part-e")) === 2, names.mkString(","))
    assert(!names.exists(_.startsWith("_tmp_")), names.mkString(","))
    val back = s.read.format("graft-wire").schema(schema).load(outTopic)
      .collect().map(_.getLong(0)).toSet
    assert(back === Set(1L, 2L))

    // epoch replay: re-commit the same (epoch, partition) — the rename
    // must REPLACE the epoch's file, not duplicate it
    val sw = new graft.sources.v2.WireStreamingWrite(schema, wire(outTopic))
    val w = graft.sources.v2.WireStreamingWriterFactory(schema.toDDL,
      wire(outTopic)).createWriter(0, 99L, 0L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(1L, 10.0,
      org.apache.spark.unsafe.types.UTF8String.fromString("a")))
    sw.commit(0L, Array(w.commit()))
    val after = new java.io.File(outTopic).listFiles().map(_.getName)
    assert(after.count(_.startsWith("part-e")) === 2, after.mkString(","))
    assert(s.read.format("graft-wire").schema(schema).load(outTopic)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  // ---- keyed layout (storage-partitioned join contract) -----------------

  test("keyBy write lays out one file group per key; read groups them") {
    val dir = Scratch.dir("graft_wire_keyed")
    Seq((0L, Some(1.0), "a"), (1L, Some(2.0), "b"), (2L, Some(3.0), "c"),
      (0L, Some(4.0), "d"), (1L, Some(5.0), "e"))
      .toDF("id", "qty", "tag")
      .repartition(2, col("id"))
      .write.format("graft-wire").option("keyBy", "id")
      .mode("overwrite").save(dir)
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")) // .crc sidecars
    // every visible file carries its key in the name
    assert(names.forall(_.startsWith("part-k")), names.mkString(","))
    assert(names.map(graft.sources.v2.WireTopicFiles.keyOf).toSet ===
      Set(0L, 1L, 2L))
    val keyed = s.read.format("graft-wire").schema(schema)
      .option("keyBy", "id").load(dir)
    // one input partition per key VALUE, not per file
    assert(keyed.rdd.getNumPartitions === 3)
    assert(keyed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      Set((0L, 1.0), (1L, 2.0), (2L, 3.0), (0L, 4.0), (1L, 5.0)))
  }

  test("two keyed topics join with no exchange (storage-partitioned join)") {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val (dirA, dirB) =
      (Scratch.dir("graft_wire_spj_a"), Scratch.dir("graft_wire_spj_b"))
    import org.apache.spark.sql.{Row => SRow}
    val rowsA = (0L to 49L).map(i => SRow(i % 5, i, s"a$i"))
    val rowsB = (0L to 4L).map(k => SRow(k, k * 100, s"b$k"))
    val sch = schema // id, qty double? reuse: build explicit long schemas
    val schA = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("tag", StringType)))
    val schB = StructType(Seq(StructField("k", LongType),
      StructField("w", LongType), StructField("btag", StringType)))
    s2.createDataFrame(s2.sparkContext.parallelize(rowsA, 4), schA)
      .repartition(4, col("k")).write.format("graft-wire")
      .option("keyBy", "k").mode("overwrite").save(dirA)
    s2.createDataFrame(s2.sparkContext.parallelize(rowsB, 2), schB)
      .repartition(2, col("k")).write.format("graft-wire")
      .option("keyBy", "k").mode("overwrite").save(dirB)
    val a = s2.read.format("graft-wire").schema(schA)
      .option("keyBy", "k").load(dirA)
    val b = s2.read.format("graft-wire").schema(schB)
      .option("keyBy", "k").load(dirB).withColumnRenamed("k", "bk")
    val j = a.join(b, col("k") === col("bk")).select("k", "v", "w")
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), p)
    assert(j.count() === 50)
    // spot-check the join is semantically the plain join
    assert(j.filter(col("k") === 3L).select(sum("w")).head.getLong(0) ===
      10 * 300L)
  }

  test("storage-partitioned join survives mismatched key sets (pushPartValues)") {
    // one side is missing keys the other has — Spark must fill the gaps
    // (empty partitions) rather than fall back to a shuffle, and inner-join
    // semantics must hold exactly
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val (dirA, dirB) =
      (Scratch.dir("graft_wire_spj_ma"), Scratch.dir("graft_wire_spj_mb"))
    import org.apache.spark.sql.{Row => SRow}
    val schA = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val schB = StructType(Seq(StructField("k", LongType),
      StructField("w", LongType)))
    // A has keys 0..4, B only 1 and 3
    s2.createDataFrame(
        s2.sparkContext.parallelize((0L to 24L).map(i => SRow(i % 5, i)), 3),
        schA)
      .repartition(3, col("k")).write.format("graft-wire")
      .option("keyBy", "k").mode("overwrite").save(dirA)
    s2.createDataFrame(
        s2.sparkContext.parallelize(Seq(SRow(1L, 10L), SRow(3L, 30L)), 2),
        schB)
      .repartition(2, col("k")).write.format("graft-wire")
      .option("keyBy", "k").mode("overwrite").save(dirB)
    val a = s2.read.format("graft-wire").schema(schA)
      .option("keyBy", "k").load(dirA)
    val b = s2.read.format("graft-wire").schema(schB)
      .option("keyBy", "k").load(dirB).withColumnRenamed("k", "bk")
    val j = a.join(b, col("k") === col("bk")).select("k", "v", "w")
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), p)
    assert(j.count() === 10) // 5 rows per key in A × keys {1, 3}
    assert(j.select("k").distinct().collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
  }

  test("a keyed topic still streams (micro-batch path reads per file)") {
    // the keyBy layout changes batch planning only; the streaming source
    // treats the key-named files as ordinary topic files
    val dir = Scratch.dir("graft_wire_keyed_stream")
    Seq((0L, Some(1.0), "a"), (1L, Some(2.0), "b"), (2L, Some(3.0), "c"))
      .toDF("id", "qty", "tag")
      .repartition(1)
      .write.format("graft-wire").option("keyBy", "id")
      .mode("overwrite").save(dir)
    val out = Scratch.dir("graft_wire_keyed_stream_out")
    val ckpt = Scratch.dir("graft_wire_keyed_stream_ckpt")
    drainStream(dir, out, ckpt, maxFiles = None)
    assert(s.read.parquet(out).collect().map(_.getLong(0)).toSet ===
      Set(0L, 1L, 2L))
  }

  test("streaming: restart from checkpoint consumes only NEW topic files") {
    val topic = Scratch.dir("graft_wire_restart")
    writeWireFile(topic, "f1.wire", 1700000000000L, Seq("1,10.0,a"))
    writeWireFile(topic, "f2.wire", 1700000060000L, Seq("2,20.0,b"))
    val out = Scratch.dir("graft_wire_restart_out")
    val ckpt = Scratch.dir("graft_wire_restart_ckpt")
    drainStream(topic, out, ckpt)
    assert(s.read.parquet(out).count() === 2)
    // producer appends an epoch file; the committed offset (2 files) must
    // survive the restart so only the new file is read — no duplicates
    writeWireFile(topic, "f3.wire", 1700000120000L, Seq("3,30.0,c"))
    drainStream(topic, out, ckpt)
    val rows = s.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(rows === Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("streaming: a late file with an older mtime is read once, nothing re-read") {
    // A producer that renames a file into the topic keeps the file's own
    // (older) mtime, so it sorts before files already consumed.
    val topic = Scratch.dir("graft_wire_late")
    writeWireFile(topic, "f1.wire", 1700000060000L, Seq("1,10.0,a"))
    writeWireFile(topic, "f2.wire", 1700000120000L, Seq("2,20.0,b"))
    val out = Scratch.dir("graft_wire_late_out")
    val ckpt = Scratch.dir("graft_wire_late_ckpt")
    drainStream(topic, out, ckpt)
    writeWireFile(topic, "f0.wire", 1700000000000L, Seq("3,30.0,c"))
    drainStream(topic, out, ckpt)
    val rows = s.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(rows === Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  private def commitIds(ckpt: String): Seq[Long] =
    Option(new java.io.File(ckpt, "commits").list()).getOrElse(Array.empty[String])
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted.toSeq

  /** Until a batch commits: a trigger already past its listing when a file
    * lands can end `processAllAvailable` before the file is read. The last
    * call waits out one more trigger, so the batch's progress is recorded.
    */
  private def awaitCommit(q: org.apache.spark.sql.streaming.StreamingQuery,
      ckpt: String): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (commitIds(ckpt).isEmpty && System.nanoTime() < deadline)
      q.processAllAvailable()
    q.processAllAvailable()
  }

  test("streaming: an empty topic commits no batch until the first file lands") {
    val topic = Scratch.dir("graft_wire_empty")
    val out = Scratch.dir("graft_wire_empty_out")
    val ckpt = Scratch.dir("graft_wire_empty_ckpt")
    val q = s.readStream.format("graft-wire").schema(schema).load(topic)
      .select("id", "qty")
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      q.processAllAvailable()
      assert(commitIds(ckpt) === Nil)
      val staged = Scratch.dir("graft_wire_empty_staged")
      writeWireFile(staged, "f1.wire", 1700000000000L, Seq("1,10.0,a"))
      java.nio.file.Files.move(java.nio.file.Paths.get(staged, "f1.wire"),
        java.nio.file.Paths.get(topic, "f1.wire"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      awaitCommit(q, ckpt)
      assert(commitIds(ckpt) === Seq(0L))
      assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq ===
        Seq(0L))
    } finally q.stop()
    assert(s.read.parquet(out).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("streaming: the topic is listed once per AvailableNow drain, never to plan") {
    val topic = Scratch.dir("graft_wire_listing")
    Seq("f1", "f2", "f3").zipWithIndex.foreach { case (f, i) =>
      writeWireFile(topic, s"$f.wire", 1700000000000L + i * 60000L,
        Seq(s"${i + 1},${i + 1}0.0,x"))
    }
    WireTestFs.withScheme(s) {
      val before = WireTestFs.listings.get()
      val q = drainStream(WireTestFs.uri(topic),
        Scratch.dir("graft_wire_listing_out"),
        Scratch.dir("graft_wire_listing_ckpt"))
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      assert(WireTestFs.listings.get() - before === 1)
    }
  }

  test("every filesystem handle comes from the session's Hadoop conf") {
    // `wiretest` is known only to the SparkContext's Hadoop conf: a handle
    // built from a fresh Configuration fails with UnsupportedFileSystemException
    WireTestFs.withScheme(s) {
      val dir = WireTestFs.uri(Scratch.dir("graft_wire_scheme"))
      Seq((1L, Some(1.0), "a"), (2L, None, "b")).toDF("id", "qty", "tag")
        .write.format("graft-wire").mode("append").save(dir)
      Seq((3L, Some(3.0), "c")).toDF("id", "qty", "tag").repartition(1)
        .write.format("graft-wire").option("keyBy", "id").mode("append")
        .save(dir)
      val back = s.read.format("graft-wire").schema(schema).load(dir)
      assert(back.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))

      val out = Scratch.dir("graft_wire_scheme_out")
      drainStream(dir, out, Scratch.dir("graft_wire_scheme_ckpt"), None)
      assert(s.read.parquet(out).collect().map(_.getLong(0)).toSet ===
        Set(1L, 3L))

      val sinkTopic = WireTestFs.uri(Scratch.dir("graft_wire_scheme_sink"))
      val q = s.readStream.format("graft-wire").schema(schema).load(dir)
        .writeStream.format("graft-wire").option("path", sinkTopic)
        .option("checkpointLocation", Scratch.dir("graft_wire_scheme_sink_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(s.read.format("graft-wire").schema(schema).load(sinkTopic)
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    }
  }

  // ---- fault injection (two-phase commit under task failure) -------------

  test("batch write survives a task killed mid-write — real retry, no loss") {
    // Kill partition 1's FIRST attempt after 5 rows have already reached
    // the DataWriter (staging file partially written). The session runs
    // local[4, 2], so Spark aborts the attempt (staging deleted), retries,
    // and the retry's file is the only one the driver commits.
    val dir = Scratch.dir("graft_wire_chaos_retry")
    val n = 100L
    val chaotic = s.range(0, n, 1, 4).as[Long]
      .mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc.partitionId() == 1 && tc.attemptNumber() == 0) {
          var seen = 0
          it.map { v =>
            seen += 1
            if (seen == 6) throw new RuntimeException("chaos: task killed mid-write")
            v
          }
        } else it
      }
      .toDF("id")
      .select(col("id"), (col("id") * 0.5).as("qty"),
        concat(lit("t"), col("id")).as("tag"))
    chaotic.write.format("graft-wire").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(!files.exists(_.startsWith("_tmp_")),
      s"aborted attempt left staging files: ${files.mkString(",")}")
    val back = s.read.format("graft-wire").schema(schema).load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === (0L until n).toSeq) // no lost rows, no duplicates
  }

  test("speculative duplicate: loser's abort leaves exactly one copy") {
    // Two attempts of the SAME partition both finish a full staging file
    // (the speculative-execution race); the commit coordinator lets one
    // task commit and calls abort() on the other. Exactly one copy of the
    // partition's rows may become visible.
    val dir = Scratch.dir("graft_wire_chaos_spec")
    val factory = new graft.sources.v2.WireWriterFactory(
      schema.toDDL, wire(dir), None)
    def stage(taskId: Long) = {
      val w = factory.createWriter(0, taskId)
      w.write(org.apache.spark.sql.catalyst.InternalRow(7L, 7.5,
        org.apache.spark.unsafe.types.UTF8String.fromString("x")))
      w
    }
    val winner = stage(1L)
    val loser = stage(2L)
    val msg = winner.commit()
    loser.abort()
    new graft.sources.v2.WireBatchWrite(schema, wire(dir), false, None)
      .commit(Array(msg))
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.count(_.startsWith("part-")) === 1, files.mkString(","))
    assert(!files.exists(_.startsWith("_tmp_")), files.mkString(","))
    val back = s.read.format("graft-wire").schema(schema).load(dir).collect()
    assert(back.length === 1 && back.head.getLong(0) === 7L)
  }

  test("driver abort after task commits leaves the topic unchanged") {
    // All tasks committed their staging files, but the job fails before
    // driver commit (e.g. another stage died): BatchWrite.abort must sweep
    // the staged set and the previously-visible topic must be untouched.
    val dir = Scratch.dir("graft_wire_chaos_abort")
    Seq((1L, Some(1.0), "a")).toDF("id", "qty", "tag")
      .write.format("graft-wire").mode("append").save(dir)
    val factory = new graft.sources.v2.WireWriterFactory(
      schema.toDDL, wire(dir), None)
    val w = factory.createWriter(3, 9L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(666L, 6.0,
      org.apache.spark.unsafe.types.UTF8String.fromString("ghost")))
    val msg = w.commit()
    new graft.sources.v2.WireBatchWrite(schema, wire(dir), false, None)
      .abort(Array(msg))
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(!files.exists(_.startsWith("_tmp_")), files.mkString(","))
    val ids = s.read.format("graft-wire").schema(schema).load(dir)
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L))
  }

  test("streaming commit throws when a rename fails, as batch commit does") {
    // `norename` is the local filesystem with a rename() that returns false
    // (the Hadoop contract for a failed rename: no exception). A commit that
    // ignored the return would report success with the epoch's rows lost.
    WireTestFs.withScheme(s, "norename", classOf[NoRenameFs]) {
      val dir = "norename://" + Scratch.dir("graft_wire_norename")
      val w = graft.sources.v2.WireStreamingWriterFactory(schema.toDDL,
        wire(dir)).createWriter(0, 1L, 0L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(1L, 1.0,
        org.apache.spark.unsafe.types.UTF8String.fromString("a")))
      val msg = w.commit()
      intercept[java.io.IOException] {
        new graft.sources.v2.WireStreamingWrite(schema, wire(dir))
          .commit(0L, Array(msg))
      }
    }
  }

  test("replayed streaming epoch under repartitioning stays exactly-once") {
    // An epoch replay that arrives with MORE partitions than the committed
    // run (upstream repartitioned between failure and restart) must still
    // converge to one copy per (epoch, partition) file — deterministic
    // names make the first run's file replaceable, never duplicable.
    val dir = Scratch.dir("graft_wire_chaos_epoch")
    val sw = new graft.sources.v2.WireStreamingWrite(schema, wire(dir))
    def epochWrite(parts: Seq[(Int, Seq[Long])]): Unit = {
      val msgs = parts.map { case (pid, ids) =>
        val w = graft.sources.v2.WireStreamingWriterFactory(
          schema.toDDL, wire(dir)).createWriter(pid, 100L + pid, 5L)
        ids.foreach(id => w.write(org.apache.spark.sql.catalyst.InternalRow(
          id, id * 1.0,
          org.apache.spark.unsafe.types.UTF8String.fromString("e"))))
        w.commit()
      }
      sw.commit(5L, msgs.toArray)
    }
    epochWrite(Seq(0 -> Seq(1L, 2L, 3L)))
    epochWrite(Seq(0 -> Seq(1L, 2L), 1 -> Seq(3L))) // the replay
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.count(_.startsWith("part-e")) === 2, files.mkString(","))
    val back = s.read.format("graft-wire").schema(schema).load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === Seq(1L, 2L, 3L))
  }
}

/** The local filesystem under the `wiretest` scheme, which only
  * [[WireTestFs.withScheme]] registers (on the SparkContext's Hadoop conf,
  * uncached, so every handle resolves through a conf). Counts directory
  * listings.
  */
class WireTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("wiretest:///")
  override def getScheme: String = "wiretest"
  override def listStatus(
      p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    WireTestFs.listings.incrementAndGet()
    super.listStatus(p)
  }
}

object WireTestFs {
  val listings = new java.util.concurrent.atomic.AtomicInteger()

  def uri(localDir: String): String = "wiretest://" + localDir

  def withScheme[T](s: org.apache.spark.sql.SparkSession,
      scheme: String = "wiretest",
      impl: Class[_ <: WireTestFs] = classOf[WireTestFs])(body: => T): T = {
    val hc = s.sparkContext.hadoopConfiguration
    hc.set(s"fs.$scheme.impl", impl.getName)
    hc.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    try body
    finally { hc.unset(s"fs.$scheme.impl"); hc.unset(s"fs.$scheme.impl.disable.cache") }
  }
}

/** [[WireTestFs]] under the `norename` scheme, whose rename always fails. */
class NoRenameFs extends WireTestFs {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def getScheme: String = "norename"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = false
}
