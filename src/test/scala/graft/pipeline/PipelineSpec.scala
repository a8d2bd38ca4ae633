package graft.pipeline

import java.io.{File, PrintWriter}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end slice of the reference pipeline (SURVEY.md §7.2): rooms
  * fixture → batch ETL (both physical plans) → wire replay → streaming
  * parse/enrich → sinks. The fixture engineers the three defects the
  * reference's data can contain: sensor-file misalignment (inner-join row
  * loss), null readings (dropna), duplicate timestamps (join multiplicity).
  */
class PipelineSpec extends SparkSpec {

  private lazy val roomsDir: String = {
    val dir = Files.createTempDirectory("graft_rooms").toString
    val base = 1700000000L
    val sensors = OfficeSchema.sensors
    for (room <- Seq("r1", "r2", "r3"); sensor <- sensors) {
      val f = new File(s"$dir/$room")
      f.mkdirs()
      val w = new PrintWriter(new File(f, s"$sensor.csv"))
      w.println("ts_min_bignt,reading")
      for (i <- 0 until 5) {
        val ts = base + i * 60
        val skip = room == "r2" && sensor == "pir" && i == 2 // misalignment
        val nul  = room == "r3" && sensor == "humidity" && i == 1 // null reading
        if (!skip) w.println(s"$ts," + (if (nul) "" else s"${10.0 + i}"))
      }
      if (room == "r1" && sensor == "co2") w.println(s"$base,99.9") // dup ts
      w.close()
    }
    dir
  }

  /** A defect-free `<dir>/<room>/<sensor>.csv` tree: 3 aligned minutes per file. */
  private def cleanRooms(rooms: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_rooms_clean").toString
    for (room <- rooms; sensor <- OfficeSchema.sensors) {
      val f = new File(dir, room)
      f.mkdirs()
      val w = new PrintWriter(new File(f, s"$sensor.csv"))
      w.println("ts_min_bignt,reading")
      for (i <- 0 until 3) w.println(s"${1700000000L + i * 60},${1.0 + i}")
      w.close()
    }
    dir
  }

  test("room names are the decoded directory names; only <root>/*/*.csv is read") {
    val dir = cleanRooms(Seq("r 1", "r%2", "r#3"))
    // not read: a CSV at the root, one a directory too deep, hidden files
    val stray = "ts_min_bignt,reading\n1700000000,1.0\n".getBytes
    new File(dir, "r 1/sub").mkdirs()
    for (f <- Seq("x.csv", "r 1/sub/co2.csv", "r 1/.co2.csv", "r 1/_co2.csv"))
      Files.write(new File(dir, f).toPath, stray)

    val rooms = Seq("r 1", "r#3", "r%2")
    def roomsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("room").distinct().collect().map(_.getString(0)).sorted.toSeq
    val raw = RoomReader.rawScan(spark, dir)
    assert(raw.columns.toSeq === Seq("ts_min_bignt", "reading", "sensor", "room"))
    assert(raw.count() === 3 * 5 * 3)
    assert(roomsOf(raw) === rooms)
    for (out <- Seq(RoomReader.pivotPlan(spark, dir), RoomReader.joinPlan(spark, dir))) {
      assert(out.count() === 3 * 3)
      assert(roomsOf(out) === rooms)
    }
  }

  test("an empty or missing rooms tree fails loudly with PATH_NOT_FOUND") {
    val empty = Files.createTempDirectory("graft_rooms_empty").toString
    new File(empty, "r1").mkdirs() // a room directory holding no CSV
    for (root <- Seq(empty, s"$empty/missing")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        RoomReader.pivotPlan(spark, root))
      assert(e.getCondition === "PATH_NOT_FOUND")
    }
  }

  test("the rooms scan runs no listing job, no path regex, and prunes by sensor") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.{InputFileName, RegExpExtract}
    import org.apache.spark.sql.execution.FileSourceScanExec
    // 35 files: above the 32-path threshold where Spark lists in a job
    val dir = cleanRooms((1 to 7).map(r => s"room$r"))
    val sc = spark.sparkContext
    val group = s"rooms-scan-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    // Events arrive in order: once the marker job is seen, so is every
    // earlier job of the group.
    def jobsDuring[T](body: => T): (T, Seq[String]) = {
      jobs.clear()
      val result = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(jobs.contains("marker"))
      (result, jobs.toArray(Array.empty[String]).toSeq.filterNot(_ == "marker"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "rooms scan spec")
    try {
      val (pivot, built) = jobsDuring(RoomReader.pivotPlan(spark, dir))
      assert(built === Nil)
      val (rows, ran) = jobsDuring(pivot.count())
      assert(rows === 7 * 3)
      assert(!ran.exists(_.startsWith("Listing leaf files")), ran)

      val exprs = pivot.queryExecution.optimizedPlan.flatMap(_.expressions)
      assert(!exprs.exists(_.exists {
        case _: RegExpExtract | _: InputFileName => true
        case _ => false
      }))

      val join = RoomReader.joinPlan(spark, dir)
      val scanned = join.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec =>
          s.selectedPartitions.toPartitionArray.map(_.toPath.getName).toSeq
      }
      assert(scanned.size === 5)
      assert(scanned.forall(fs => fs.size === 7 && fs.distinct.size === 1))
      assert(scanned.map(_.head).sorted === OfficeSchema.sensors.map(_ + ".csv"))
      assert(join.count() === 7 * 3)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("pivotPlan: misaligned row lost, null row dropped, dup collapsed") {
    val out = RoomReader.pivotPlan(spark, roomsDir)
    assert(out.columns.toSeq === OfficeSchema.office.fieldNames.toSeq)
    assert(out.count() === 13) // 15 cells - 1 misaligned - 1 null
    assert(out.filter(col("room") === "r2" &&
      col("ts_min_bignt") === 1700000120L).count() === 0)
    assert(out.filter(col("room") === "r3" &&
      col("ts_min_bignt") === 1700000060L).count() === 0)
  }

  test("joinPlan keeps reference join multiplicity on duplicate timestamps") {
    val j = RoomReader.joinPlan(spark, roomsDir)
    assert(j.count() === 14) // pivot's 13 + 1 from the duplicated r1 ts
    assert(j.filter(col("room") === "r1" &&
      col("ts_min_bignt") === 1700000000L).count() === 2)
  }

  test("plans agree wherever no duplicate timestamps exist") {
    val p = RoomReader.pivotPlan(spark, roomsDir).filter(col("room") =!= "r1")
    val j = RoomReader.joinPlan(spark, roomsDir).filter(col("room") =!= "r1")
    assert(p.exceptAll(j).count() === 0)
    assert(j.exceptAll(p).count() === 0)
  }

  test("event_ts_min derivation is UTC-pinned") {
    val row = RoomReader.pivotPlan(spark, roomsDir)
      .filter(col("ts_min_bignt") === 1700000000L).head()
    assert(row.getAs[String]("event_ts_min") === "2023-11-14 22:13:20")
  }

  test("wire codec roundtrips the office schema") {
    val df = RoomReader.pivotPlan(spark, roomsDir)
    val back = CsvWire.decode(CsvWire.encode(df, OfficeSchema.office),
      OfficeSchema.office)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(df).count() === 0)
    assert(df.exceptAll(back).count() === 0)
  }

  test("wire codec fuzz: behavior matches the documented model for ANY " +
      "string, pinning exactly what round-trips (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s = spark
    import s.implicits._

    // Pure-Scala model of the codec (concat_ws with ""-coalesce, then
    // split-on-sep with trailing empties kept, ""→null): the single source
    // of truth for the unquoted-CSV ambiguity (CsvWire.scala scaladoc).
    def model(fields: Seq[String]): Seq[String] = {
      val encoded = fields.map(f => if (f == null) "" else f).mkString(",")
      val parts = encoded.split(java.util.regex.Pattern.quote(","), -1)
      fields.indices.map { i =>
        if (i < parts.length && parts(i).nonEmpty) parts(i) else null
      }
    }

    // strings over printable ASCII PLUS the separator and newlines, plus null
    val wild: Gen[String] = Gen.frequency(
      8 -> Gen.listOf(Gen.frequency(
        6 -> Gen.choose(32.toChar, 126.toChar),
        1 -> Gen.const(','),
        1 -> Gen.const('\n'))).map(_.mkString),
      1 -> Gen.const(null: String))
    val rowsGen = Gen.listOfN(25, Gen.zip(wild, wild, wild))

    val schema = new org.apache.spark.sql.types.StructType()
      .add("a", "string").add("b", "string").add("c", "string")

    val prop = Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("a", "b", "c")
      val back = CsvWire.decode(CsvWire.encode(df, schema), schema)
        .collect().map(r => Seq(r.getString(0), r.getString(1), r.getString(2)))
      val expected = rows.map { case (a, b, c) => model(Seq(a, b, c)) }
      // order-insensitive multiset compare (encode/decode is row-local)
      back.toSeq.sortBy(_.mkString("\u0000")) ==
        expected.sortBy(_.mkString("\u0000"))
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(r.passed, r.status.toString)

    // corollaries the model implies, stated explicitly:
    // 1. separator-free, non-empty fields round-trip identically
    assert(model(Seq("x", "y y", "line1\nline2")) ===
      Seq("x", "y y", "line1\nline2")) // newlines are wire-safe at DF level
    // 2. empty and null both decode as null (the inherent ambiguity)
    assert(model(Seq("", null, "z")) === Seq(null, null, "z"))
    // 3. an embedded separator shifts every later field
    assert(model(Seq("a,b", "c", "d")) === Seq("a", "b", "c"))
  }

  test("parseEnrich is source-agnostic: MemoryStream wiring == file wiring") {
    // The Kafka seam claim made concrete: the SAME transform runs unchanged
    // on a different streaming Source. Production Kafka wiring is only
    //   spark.readStream.format("kafka")...selectExpr("CAST(value AS STRING)")
    // — no transform changes (file source stands in because no kafka-sql
    // jar can exist in this zero-egress environment).
    val s = spark
    import s.implicits._
    val etl = RoomReader.pivotPlan(spark, roomsDir)
    val wires = CsvWire.encode(etl, OfficeSchema.office)
      .as[String].collect().toSeq

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](
      implicitly[org.apache.spark.sql.Encoder[String]], s)
    mem.addData(wires)
    val out  = Files.createTempDirectory("graft_mem_out").toString
    val ckpt = Files.createTempDirectory("graft_mem_ckpt").toString
    val q = StreamJobs.toParquet(
      StreamJobs.parseEnrich(mem.toDF().select(col("value"))),
      out, ckpt)
    q.awaitTermination()

    val viaMem = spark.read.parquet(out)
    assert(viaMem.count() === 13)
    assert(viaMem.columns.contains("if_movement"))
    // same rows the file-source path produces (see the e2e test)
    assert(viaMem.filter(col("if_movement") === "movement").count() === 13)
  }

  test("replay -> file stream -> parse/enrich -> parquet sink, end to end") {
    val etl = RoomReader.pivotPlan(spark, roomsDir)
    val topic = Files.createTempDirectory("graft_topic").toString
    Replay.toTopic(etl, OfficeSchema.office, topic, rowsPerFile = 4)

    val out  = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val q = StreamJobs.toParquet(
      StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)),
      out, ckpt)
    q.awaitTermination()

    val sunk = spark.read.parquet(out)
    assert(sunk.count() === 13)
    assert(sunk.columns.contains("if_movement"))
    // pir > 0 everywhere in the fixture → all movement
    assert(sunk.filter(col("if_movement") === "movement").count() === 13)
  }

  test("checkpointed restart is exactly-once across epochs") {
    val etl = RoomReader.pivotPlan(spark, roomsDir)
    val topic = Files.createTempDirectory("graft_topic2").toString
    val out   = Files.createTempDirectory("graft_sink2").toString
    val ckpt  = Files.createTempDirectory("graft_ckpt2").toString

    Replay.toTopic(etl, OfficeSchema.office, topic, rowsPerFile = 100, epoch = 0)
    val q1 = StreamJobs.toParquet(
      StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)), out, ckpt)
    q1.awaitTermination()

    // new data lands; restart from the same checkpoint processes ONLY it
    Replay.toTopic(etl, OfficeSchema.office, topic, rowsPerFile = 100, epoch = 1)
    val q2 = StreamJobs.toParquet(
      StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)), out, ckpt)
    q2.awaitTermination()

    assert(spark.read.parquet(out).count() === 26) // 13 per epoch, no replays
  }

  test("fileWireSource yields spark.read.text's value rows: raw lines, CRLF, gzip") {
    // separators, quotes, blanks and an empty line pass through whole
    val topic = Files.createTempDirectory("graft_topic_raw").toString
    Files.write(new File(topic, "w1.txt").toPath,
      "a,b,c\r\n\"q,1\",x\r\n\r\n  spaced ,\r\n,,\r\nlast".getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new File(topic, "w2.txt.gz")))
    try gz.write("zipped,1\r\n\"\"\r\n".getBytes("UTF-8")) finally gz.close()
    val expected = spark.read.text(topic).collect().map(_.getString(0)).sorted.toSeq
    assert(expected.contains("") && expected.contains("zipped,1"), expected)

    val wire = StreamJobs.fileWireSource(spark, topic)
    assert(wire.schema.map(f => f.name -> f.dataType) ===
      Seq("value" -> org.apache.spark.sql.types.StringType))
    val out  = Files.createTempDirectory("graft_sink_raw").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_raw").toString
    val q = wire.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).collect().map(_.getString(0)).sorted.toSeq ===
      expected)
  }

  test("fileWireSource on an empty topic commits no batch until a file lands") {
    val topic = Files.createTempDirectory("graft_topic_empty").toString
    val out  = Files.createTempDirectory("graft_sink_empty").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_empty").toString
    def commits() = Option(new File(ckpt, "commits").list()).getOrElse(Array.empty[String])
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted.toSeq
    val q = StreamJobs.toParquet(
      StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)),
      out, ckpt, org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      assert(commits() === Nil)
      // written aside, then renamed in whole, as a producer would
      val staged = Files.createTempDirectory("graft_topic_staged").toString
      Replay.toTopic(RoomReader.pivotPlan(spark, roomsDir), OfficeSchema.office,
        staged, rowsPerFile = 100)
      new File(staged).listFiles().foreach(f => Files.move(f.toPath,
        new File(topic, f.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE))
      // a trigger already past its listing can end one processAllAvailable
      // before the file is read
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (commits().isEmpty && System.nanoTime() < deadline) q.processAllAvailable()
      assert(commits() === Seq(0L))
    } finally q.stop()
    assert(spark.read.parquet(out).count() === 13)
  }

  test("a checkpoint written by Spark's text source restarts on fileWireSource") {
    // same source log (`sources/0`) and offset JSON: only new files are read
    val etl = RoomReader.pivotPlan(spark, roomsDir)
    val topic = Files.createTempDirectory("graft_topic_compat").toString
    val out   = Files.createTempDirectory("graft_sink_compat").toString
    val ckpt  = Files.createTempDirectory("graft_ckpt_compat").toString
    Replay.toTopic(etl, OfficeSchema.office, topic, rowsPerFile = 100, epoch = 0)
    StreamJobs.toParquet(StreamJobs.parseEnrich(spark.readStream.text(topic)),
      out, ckpt).awaitTermination()
    Replay.toTopic(etl, OfficeSchema.office, topic, rowsPerFile = 100, epoch = 1)
    StreamJobs.toParquet(
      StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)), out, ckpt)
      .awaitTermination()
    assert(spark.read.parquet(out).count() === 26)
  }

  test("p10: persisted index serves x25-identically with NO library cache") {
    val sf = "/root/testdata/sf0.001"
    // in-session reference answer (train + checkpointed artifacts)
    val expected = graft.ext.Similarity
      .ivfPqKnnRerank(graft.sources.Tables.embeddings(spark, sf))
      .collect().map(_.toString).sorted.toSeq
    // lifecycle answer — then PROVE the serve side is cache-independent:
    // release every library retain/checkpoint and re-collect; a serve plan
    // that silently leaned on training-session state would now recompute
    // differently or fail. (Queries re-derive dropped caches from source —
    // Caches contract — so this is safe mid-JVM.)
    val p10 = graft.queries.Catalog.byName("p10_index_lifecycle")
    val first = p10.run(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(first === expected, "lifecycle serve must equal in-session x25")
    graft.util.Caches.releaseAll()
    val again = p10.run(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(again === expected,
      "serve from parquet artifacts must not depend on any retained cache")
    // the serve plan's sources are the artifact files, not the corpus
    val plan = p10.run(spark, sf).queryExecution.optimizedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      "serve phase must read index artifacts only, never the corpus")
  }

  test("ES-shaped sink writes one JSON document per row") {
    val etl = RoomReader.pivotPlan(spark, roomsDir)
    val topic = Files.createTempDirectory("graft_topic3").toString
    val out   = Files.createTempDirectory("graft_es").toString
    val ckpt  = Files.createTempDirectory("graft_ckpt3").toString
    Replay.toTopic(etl, OfficeSchema.office, topic)
    val q = StreamJobs.toEsShaped(
      StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic)), out, ckpt)
    q.awaitTermination()

    val docs = spark.read.json(s"$out/*.jsonl")
    assert(docs.count() === 13)
    assert(OfficeSchema.esMapping.map(_._1).forall(docs.columns.contains))
  }

  test("object-store sink seam: declares cloud committers, guards on classpath") {
    // zero-egress build: spark-hadoop-cloud absent → enable() must refuse
    // (a blind commitProtocolClass set would break every local write too)
    assert(!ObjectStoreSink.available)
    assert(!ObjectStoreSink.enable(spark))
    assert(!spark.conf.get("spark.sql.sources.commitProtocolClass")
      .contains("PathOutputCommitProtocol")) // default protocol untouched
    // the declared shape is the documented zero-rename committer stack
    assert(ObjectStoreSink.sqlConf("spark.sql.sources.commitProtocolClass")
      .endsWith("PathOutputCommitProtocol"))
    assert(ObjectStoreSink.hadoopConf("fs.s3a.committer.name") === "magic")
  }

  test("ES mapping semantics: dynamic coercion + ignore_malformed FIELD drop") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft_es_coerce").toString
    val w = new EsShapedWriter(dir, Array("a", "b", "c", "d"),
      Map("a" -> "float", "b" -> "float", "c" -> "float", "d" -> "keyword"))
    w.open(0L, 0L)
    w.process(Row(" 12.5 ", "abc", Double.NaN, 7)) // coerce / drop / drop / stringify
    w.close(null)
    val docs = spark.read.json(s"$dir/*")
    val r = docs.head()
    assert(docs.count() === 1)                  // document survives
    assert(r.getAs[Double]("a") === 12.5)       // numeric string coerced
    assert(!docs.columns.contains("b"))         // malformed field dropped
    assert(!docs.columns.contains("c"))         // NaN float dropped
    assert(r.getAs[String]("d") === "7")        // keyword: value stringified
  }

  test("p04 compaction: 64 small files -> 4 range-disjoint large files") {
    val small   = graft.util.Scratch.dir("graft_p04spec_small")
    val compact = graft.util.Scratch.dir("graft_p04spec_compact")
    Compaction.smallThenCompact(spark,
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"),
      small, compact).count()
    import java.io.File
    def parts(dir: String) =
      new File(dir).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parts(small) === 64)
    assert(parts(compact) === 4)
    // Disjoint per-file doc_id ranges: sorted (min,max) spans must not
    // overlap, so a point read prunes to exactly one file by footer stats.
    val spans = spark.read.parquet(compact)
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.min("doc_id").as("lo"),
        org.apache.spark.sql.functions.max("doc_id").as("hi"))
      .orderBy("lo")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("p12: bloom maintenance is EXACT at ONE width — OR(base, delta) " +
      "equals the rebuild-at-base-m word-for-word, including under " +
      "bloomBits=auto where per-input widths would differ") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1L to 30L)
      .map(i => (i, (1 to 30).map(t => s"d${i}t$t").mkString(" ")))
      .toDF("doc_id", "text")
    // asymmetric slices: under the auto default the per-input derivations
    // DIFFER (base 20 docs → 7360 bits, delta 10 docs → floor 4096), the
    // exact setup where the round-15 zip_with null-pad bug silently
    // dropped bits. The p12 contract builds BOTH at the base snapshot's m.
    val base = docs.filter(col("doc_id") <= 20)
    val delta = docs.filter(col("doc_id") > 20)
    val m = graft.ext.Dedup.bloomWidth(base)
    assert(m !== graft.ext.Dedup.bloomWidth(delta),
      "fixture must exercise the mismatched-derivation case")
    val rebuilt = graft.ext.Dedup.bloomArtifactAt(docs, m)
      .collect().head.getSeq[Long](0)
    val maintained = graft.ext.Dedup.bloomArtifactAt(base, m)
      .crossJoin(graft.ext.Dedup.bloomArtifactAt(delta, m)
        .withColumnRenamed("bloom", "b2"))
      .select(expr("zip_with(bloom, b2, (x, y) -> x | y)").as("bloom"))
      .collect().head.getSeq[Long](0)
    assert(maintained.length === m / 64,
      "same-m builds can never null-pad: the OR'd array is full width")
    assert(maintained === rebuilt,
      "bit-OR union must reproduce the rebuild exactly (ORs commute)")
  }
}
