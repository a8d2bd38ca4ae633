package graft.sources.v2

import java.util.regex.Pattern

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource.FileEntry
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for a wire-format "topic" directory — the
  * delimiter-joined CSV lines the replay generator emits
  * ([[graft.pipeline.Replay]]; wire layout per [[graft.pipeline.CsvWire]],
  * reference encode data_generator/dataframe_to_kafka.py:68-74 / decode
  * convert-to-elasticsearch.py:105-114). It is the pipeline's one topic
  * source: [[graft.pipeline.StreamJobs.fileWireSource]] reads through it.
  *
  * Two read layouts:
  *
  *   - with a read schema (`spark.read.format("graft-wire").schema(...)`),
  *     each line is split on `sep` and cast to the declared wire layout;
  *   - without one, each line is one row of a single `value` string column,
  *     read whole (separators, quotes and empty lines included) — the shape
  *     of Kafka's `value` and of Spark's text source.
  *
  * With a read schema the `ScanBuilder` implements BOTH V2 pushdown
  * interfaces, and honours them for real —
  *
  *   - `SupportsPushDownRequiredColumns`: only the pruned columns (plus any
  *     columns referenced by pushed filters) are parsed and cast; unneeded
  *     fields are never materialized (`ReadSchema` in explain shows the cut).
  *   - `SupportsPushDownFilters`: comparison/null predicates are evaluated
  *     row-by-row at parse time, BEFORE the row is assembled or shipped to
  *     the query — fully handled, so Spark plans no re-evaluation Filter for
  *     them (they disappear from the post-scan plan, visible in explain as
  *     this scan's `pushed=[...]` description).
  *
  * Scale design: one `InputPartition` per topic file — the same
  * files-as-parallelism unit as Spark's own `FileScan` (a 1000-executor
  * cluster reads 1000 topic files concurrently; the replay generator shards
  * epochs into files for exactly this reason). Listing is driver-side
  * metadata (one RPC per directory, as FileScan does); bytes are read on
  * executors through the Hadoop filesystem API, so the same code serves
  * file://, hdfs:// and s3a:// URIs. Every filesystem handle, driver or
  * executor, comes from the session's Hadoop conf ([[WireTopic]]), so a
  * scheme, credential or codec set on the SparkContext reaches the topic.
  * Files with a compression suffix decode through Hadoop's codec factory,
  * as the text source's do.
  *
  * Options: `path` (directory), `sep` (default ","), `maxFilesPerTrigger`
  * (streaming) and `keyBy` (the keyed layout, [[WireTable]]).
  */
class WireTopicSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-wire"

  /** The wire format is schema-on-read: a supplied schema is the layout. */
  override def supportsExternalMetadata(): Boolean = true

  /** No read schema: the raw-lines layout. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WireTopicSource.Lines

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WireTable(schema, new CaseInsensitiveStringMap(properties))
}

object WireTopicSource {
  /** The raw-lines layout. Its field is marked, so a declared one-column
    * `value string` wire layout still reads as a wire layout.
    */
  val Lines: StructType = StructType(Seq(StructField("value", StringType,
    nullable = true, new MetadataBuilder().putBoolean("graft.wire.lines", true).build())))
}

/** One topic as every part of the connector reaches it: its directory, its
  * wire separator and the session's Hadoop conf. The conf is built once on
  * the driver and broadcast once, so executors never build their own.
  */
final case class WireTopic(path: String, sep: String,
    conf: Broadcast[SerializableConfiguration]) {
  def dir: HPath = new HPath(path)
  def hadoopConf: Configuration = conf.value.value
  def fs: FileSystem = dir.getFileSystem(hadoopConf)
}

object WireTopic {
  def apply(session: SparkSession, path: String, sep: String): WireTopic =
    WireTopic(path, sep, session.sparkContext.broadcast(
      new SerializableConfiguration(session.sessionState.newHadoopConf())))
}

final class WireTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("graft-wire: missing 'path' option"))
  private val sep = Option(options.get("sep")).getOrElse(",")
  private lazy val topic = WireTopic(SparkSession.active, path, sep)
  private val lines = schema == WireTopicSource.Lines

  override def name(): String = s"graft-wire:$path"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** `keyBy` (a LongType column of the wire layout) switches the topic to
    * the KEY-GROUPED layout: writes fan rows into one file per key value
    * (`part-k<value>-…`), reads group the files per key and report
    * [[KeyGroupedPartitioning]] — the storage-partitioned-join contract.
    */
  private val keyBy = Option(options.get("keyBy"))

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new WireScanBuilder(schema, topic, lines,
      Option(o.get("maxFilesPerTrigger")).map(_.toInt),
      Option(o.get("keyBy")).orElse(keyBy))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WireWriteBuilder(info.schema(), topic,
      Option(info.options().get("keyBy")).orElse(keyBy))
}

final class WireScanBuilder(fullSchema: StructType, topic: WireTopic,
    lines: Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    keyBy: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  /** PER-PARTITION early stop: each file reader quits parsing after
    * `limit` surviving rows (at 100 TB that's the difference between
    * parsing a whole wire file and its first k lines for a LIMIT k probe).
    * Returns false — partial pushdown: the limit is per partition, so
    * Spark still applies the global limit across partitions.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); false }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark passes the post-pushdown projection; preserve wire order.
    required = StructType(
      fullSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  /** Accept the predicate shapes the parse-time evaluator fully handles;
    * everything else stays Spark-side. Returning only the unsupported rest
    * tells Spark the pushed set needs NO re-evaluation.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition(WireFilterEval.supported(fullSchema))
    pushed = ours
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new WireScan(fullSchema, required, pushed, topic, lines,
      maxFilesPerTrigger, limit, keyBy)
}

final class WireScan(
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    topic: WireTopic,
    lines: Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    limit: Option[Int] = None,
    keyBy: Option[String] = None)
    extends Scan with Batch with SupportsReportPartitioning {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftWireScan path=${topic.path} pushed=[${pushed.mkString(", ")}] " +
      s"read=[${required.fieldNames.mkString(", ")}]" +
      limit.map(l => s" limit=$l").getOrElse("") +
      keyBy.map(k => s" keyBy=$k").getOrElse("")

  private lazy val files: Array[String] =
    WireTopicFiles.list(topic.fs, topic.dir).map(WireTopicFiles.url)

  /** Key-grouped layout: one partition per key VALUE (all of the key's
    * files), key recovered from the writer's `part-k<value>-…` names —
    * never by opening the files. Exposing the key via [[HasPartitionKey]]
    * plus the [[KeyGroupedPartitioning]] report below is what lets Spark
    * plan a storage-partitioned join: two topics keyed the same way join
    * with NO exchange on either side.
    */
  private lazy val keyedPartitions: Array[InputPartition] =
    files.groupBy(WireTopicFiles.keyOf)
      .toArray.sortBy(_._1)
      .map { case (k, files) => WireKeyedPartition(files, k): InputPartition }

  override def outputPartitioning(): Partitioning = keyBy match {
    case Some(k) =>
      new KeyGroupedPartitioning(Array(Expressions.identity(k)),
        keyedPartitions.length)
    case None => new UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (keyBy.isDefined) keyedPartitions
    else files.map(f => WireFilePartition(f): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new WireReaderFactory(fullSchema.toDDL, required.fieldNames, pushed, topic,
      lines, limit)

  /** The same pruned+filtered scan as a streaming source (pushdown applies
    * to micro-batches identically — the builder ran before this call).
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new WireMicroBatchStream(this, topic, SparkSession.active,
      checkpointLocation, maxFilesPerTrigger)
}

/** Topic-directory listing in (mtime, name) order — the order
  * FileStreamSource admits new files in. Staging (`_`) and hidden (`.`)
  * files are skipped. Partitions name files by their URL-encoded path, the
  * form the source log stores.
  */
object WireTopicFiles {
  def list(fs: FileSystem, dir: HPath): Array[FileStatus] =
    fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(st => (st.getModificationTime, st.getPath.getName))

  def url(st: FileStatus): String = SparkPath.fromFileStatus(st).urlEncoded

  private val keyPat = Pattern.compile("part-k(-?\\d+)-")

  /** Partition-key value from a keyed-layout file name (`part-k<v>-…`). */
  def keyOf(file: String): Long = {
    val name = new HPath(file).getName
    val m = keyPat.matcher(name)
    if (!m.find()) throw new IllegalArgumentException(
      s"graft-wire keyBy topic contains a non-keyed file: $name")
    m.group(1).toLong
  }
}

/** The stream's offset: the id of the last batch in its source log,
  * serialized as Spark's file source serializes its own (`{"logOffset":n}`).
  * Spark compares offsets by their JSON on every trigger, idle ones
  * included, so it is built by hand rather than through json4s.
  */
final case class WireBatchOffset(batch: Long) extends Offset {
  override def json(): String = s"""{"logOffset":$batch}"""
}

object WireBatchOffset {
  private val Json = """\{"logOffset":(-?\d+)\}""".r

  def parse(json: String): WireBatchOffset = json match {
    case Json(n) => WireBatchOffset(n.toLong)
    case other => throw new IllegalArgumentException(
      s"graft-wire: not a source-log offset: $other")
  }
}

/** Micro-batch form of the wire-topic scan: Kafka-shaped semantics over an
  * append-only file topic, kept the way Spark's file source keeps them.
  *
  *   - The offset is the source's own batch id. [[latestOffset]] lists the
  *     topic once, admits the files not yet logged in (mtime, name) order —
  *     capped by `maxFilesPerTrigger` like Kafka's maxOffsetsPerTrigger, and
  *     drawn from a start-time snapshot under AvailableNow — and logs them
  *     as the next batch in `<checkpoint>/sources/<n>`, Spark's file-source
  *     log format (one `path`/`timestamp`/`batchId` entry per file, with
  *     `.compact` files). Until a first file is logged there is no offset,
  *     so an empty topic runs no batch.
  *   - [[planInputPartitions]] reads a batch's files from that log and never
  *     lists, so a replayed batch re-plans exactly its files.
  *   - A restart rebuilds the set of logged files from the log: a file that
  *     lands late, whatever its mtime, is read once, and no logged file is
  *     read again.
  */
final class WireMicroBatchStream(
    scan: WireScan,
    topic: WireTopic,
    session: SparkSession,
    checkpoint: String,
    maxFilesPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val fs = topic.fs
  private val log =
    new FileStreamSourceLog(FileStreamSourceLog.VERSION, session, checkpoint)
  private var lastBatch: Long = log.getLatest().map(_._1).getOrElse(-1L)
  private val logged: mutable.Set[String] =
    mutable.HashSet.from(log.restore().iterator.map(_.path))
  private var snapshot: Option[Array[FileStatus]] = None

  override def initialOffset(): Offset = WireBatchOffset(-1L)
  override def deserializeOffset(json: String): Offset = WireBatchOffset.parse(json)

  override def prepareForTriggerAvailableNow(): Unit =
    snapshot = Some(WireTopicFiles.list(fs, topic.dir))

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val fresh = snapshot.getOrElse(WireTopicFiles.list(fs, topic.dir)).iterator
      .map(st => FileEntry(WireTopicFiles.url(st), st.getModificationTime,
        lastBatch + 1))
      .filterNot(e => logged(e.path))
    val batch = (limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles)
      case _               => fresh
    }).toArray
    if (batch.nonEmpty) {
      if (!log.add(lastBatch + 1, batch)) throw new IllegalStateException(
        s"graft-wire: batch ${lastBatch + 1} is already logged in $checkpoint")
      lastBatch += 1
      logged ++= batch.map(_.path)
    }
    if (lastBatch < 0) null else WireBatchOffset(lastBatch)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (from, to) = (batchOf(start) + 1, batchOf(end))
    if (from > to) Array.empty
    else log.get(Some(from), Some(to)).flatMap(_._2)
      .map(e => WireFilePartition(e.path): InputPartition)
  }

  private def batchOf(o: Offset): Long = o.asInstanceOf[WireBatchOffset].batch

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = () // files are retained (topic)
  override def stop(): Unit = ()
}

final case class WireFilePartition(file: String) extends InputPartition

/** One key value's whole file group, key exposed for SPJ planning. */
final case class WireKeyedPartition(files: Array[String], key: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](key))
}

// ---------------------------------------------------------------------------
// Write side: the Kafka-producer analogue (reference
// data_generator/dataframe_to_kafka.py:99-121 collected to the driver and
// sent row-at-a-time; here every partition writes its own wire file in
// parallel) with a real two-phase commit.
// ---------------------------------------------------------------------------

/** V2 writer for the wire topic. Exactly-once protocol:
  *
  *   1. each task writes `_tmp_<query>-<partition>-<task>.wire` — the `_`
  *     prefix keeps staging files invisible to every wire reader (and to
  *     Spark's own scans, which skip `_`/`.` files);
  *   2. task commit reports the staging name; speculative duplicates of the
  *     same partition abort and delete their file;
  *   3. driver commit renames all reported files to visible `part-*.wire`
  *     names — rename is atomic per file, and nothing becomes visible
  *     unless every task committed (driver abort deletes the staging set).
  *
  * `truncate()` (SaveMode.Overwrite) deletes the previously-visible topic
  * files inside driver commit, after the new staging set is fully written —
  * the topic never observes a half-written state.
  */
final class WireWriteBuilder(schema: StructType, topic: WireTopic,
    keyBy: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new WireBatchWrite(schema, topic, doTruncate, keyBy)
    override def toStreaming: StreamingWrite =
      new WireStreamingWrite(schema, topic)
    override def description(): String =
      s"GraftWireWrite path=${topic.path} truncate=$doTruncate" +
        keyBy.map(k => s" keyBy=$k").getOrElse("")
  }
}

/** Streaming (per-epoch) producer into the topic. Exactly-once across
  * micro-batch replays comes from DETERMINISTIC final names: epoch e,
  * partition p always commits to `part-e<e>-p<p>.wire`, so a replayed epoch
  * (sink committed, checkpoint offset not) re-stages identical content and
  * the rename replaces the same file instead of appending a duplicate —
  * the same (batchId, data) idempotence contract as the s08/s11 sinks.
  */
final class WireStreamingWrite(schema: StructType, topic: WireTopic)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    WireStreamingWriterFactory(schema.toDDL, topic)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = topic.fs
    messages.foreach { case WireCommit(files) =>
      files.foreach { case (staged, finalName) =>
        WireCommit.publish(fs, staged, new HPath(topic.dir, finalName))
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    WireCommit.discard(topic, messages)
}

/** Task commit report: each (staged, finalName) pair renames at driver
  * commit (one pair per task in the plain layout; one per key value the
  * task saw in the keyBy layout).
  */
final case class WireCommit(files: Seq[(String, String)])
    extends WriterCommitMessage

object WireCommit {
  /** Make one staged file visible under `target`. rename() returns false
    * (it does not throw) when the target name already exists — a replayed
    * epoch, a retried task, keyed files landing in a non-truncated topic —
    * so the target is cleared first, and a rename that still fails is a
    * lost-rows error.
    */
  def publish(fs: FileSystem, staged: String, target: HPath): Unit = {
    fs.delete(target, false)
    if (!fs.rename(new HPath(staged), target))
      throw new java.io.IOException(
        s"graft-wire commit: rename $staged -> $target failed")
  }

  /** Driver abort: delete every reported staging file. */
  def discard(topic: WireTopic, messages: Array[WriterCommitMessage]): Unit = {
    val fs = topic.fs
    messages.foreach {
      case WireCommit(files) =>
        files.foreach { case (staged, _) => fs.delete(new HPath(staged), false) }
      case _ => ()
    }
  }
}

/** Ships the schema as DDL text and the topic with its broadcast conf. */
final case class WireStreamingWriterFactory(ddl: String, topic: WireTopic)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new WireFileWriter(StructType.fromDDL(ddl), topic,
      f"_tmp_e$epochId%05d-p$partitionId%05d-$taskId.wire",
      f"part-e$epochId%05d-p$partitionId%05d.wire")
}

final class WireBatchWrite(
    schema: StructType, topic: WireTopic, truncate: Boolean,
    keyBy: Option[String] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new WireWriterFactory(schema.toDDL, topic,
      keyBy.map { k =>
        val idx = schema.fieldIndex(k)
        require(schema.fields(idx).dataType == LongType,
          s"graft-wire keyBy column must be LongType: $k")
        idx
      })

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = topic.fs
    val previous =
      if (truncate) WireTopicFiles.list(fs, topic.dir).map(_.getPath)
      else Array.empty[HPath]
    val committed = mutable.Set.empty[String]
    messages.foreach { case WireCommit(files) =>
      files.foreach { case (staged, finalName) =>
        val target = new HPath(topic.dir, finalName)
        WireCommit.publish(fs, staged, target)
        committed += fs.makeQualified(target).toString
      }
    }
    // Truncate semantics: drop pre-existing topic files, but never a name
    // this very commit just (re)wrote over.
    previous.filterNot(f => committed.contains(fs.makeQualified(f).toString))
      .foreach(f => fs.delete(f, false))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    WireCommit.discard(topic, messages)
}

final class WireWriterFactory(ddl: String, topic: WireTopic,
    keyIdx: Option[Int] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    keyIdx match {
      case Some(i) =>
        new WireKeyedFileWriter(StructType.fromDDL(ddl), topic, i,
          partitionId, taskId)
      case None =>
        new WireFileWriter(StructType.fromDDL(ddl), topic,
          f"_tmp_part-$partitionId%05d-$taskId.wire",
          f"part-$partitionId%05d-$taskId.wire")
    }
}

/** Keyed-layout writer: one wire file per key VALUE seen by this task,
  * named `part-k<value>-p<partition>-<task>.wire` so the read side can
  * recover the key from the listing alone. Repartition the frame by the
  * key column first and each task holds a disjoint key slice — the
  * one-shuffle write that buys every later join its shuffle-freedom
  * (exactly the q93 bucketed-table bargain, here for a custom source).
  * Null keys are rejected: a partition key must BE a value.
  *
  * One file handle stays open per DISTINCT key this task sees, until
  * commit. A caller that skips the documented repartition-by-key can
  * therefore route every key through every task; rather than exhaust file
  * descriptors at some load-dependent point, the writer fails fast past
  * 1024 open writers with the fix in the message.
  */
final class WireKeyedFileWriter(
    schema: StructType, topic: WireTopic, keyIdx: Int,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private val fs = topic.fs
  private val open = scala.collection.mutable.LinkedHashMap
    .empty[Long, (HPath, String, java.io.BufferedWriter)]
  private val maxOpen = 1024

  private def writerFor(key: Long): java.io.BufferedWriter =
    open.getOrElseUpdate(key, {
      if (open.size >= maxOpen) throw new IllegalStateException(
        s"graft-wire keyBy: task $partitionId saw more than $maxOpen " +
          "distinct key values; repartition the input by the keyBy column " +
          "so each task holds a bounded key slice")
      val staged = new HPath(topic.dir,
        f"_tmp_part-k$key-p$partitionId%05d-$taskId.wire")
      val fin = f"part-k$key-p$partitionId%05d-$taskId.wire"
      (staged, fin, new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fs.create(staged, true), "UTF-8")))
    })._3

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(keyIdx)) throw new IllegalArgumentException(
      "graft-wire keyBy: null partition key")
    writerFor(row.getLong(keyIdx))
      .write(WireLineFormat.format(schema, topic.sep, row))
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._3.close())
    WireCommit(open.values.map { case (st, fin, _) =>
      st.toString -> fin
    }.toSeq)
  }

  override def abort(): Unit = open.values.foreach { case (st, _, w) =>
    w.close(); fs.delete(st, false)
  }

  override def close(): Unit = ()
}

final class WireFileWriter(
    schema: StructType, topic: WireTopic,
    stagedName: String, finalName: String) extends DataWriter[InternalRow] {

  private val staged = new HPath(topic.dir, stagedName)
  private val fs = topic.fs
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(staged, true), "UTF-8"))

  override def write(row: InternalRow): Unit =
    out.write(WireLineFormat.format(schema, topic.sep, row))

  override def commit(): WriterCommitMessage = {
    out.close()
    WireCommit(Seq(staged.toString -> finalName))
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(staged, false)
  }

  override def close(): Unit = ()
}

/** One wire line per row (shared by the plain and keyed writers). */
object WireLineFormat {
  def format(schema: StructType, sep: String, row: InternalRow): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(sep)
      if (!row.isNullAt(i)) sb.append(
        schema.fields(i).dataType match {
          case LongType    => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case ShortType   => row.getShort(i).toString
          case DoubleType  => row.getDouble(i).toString
          case FloatType   => row.getFloat(i).toString
          case StringType  => row.getUTF8String(i).toString
          case BooleanType => row.getBoolean(i).toString
          case other => throw new IllegalArgumentException(
            s"graft-wire: unsupported wire type $other")
        })
      i += 1
    }
    sb.append('\n')
    sb.toString
  }
}

/** Serializable factory: schema rides as DDL text, filters as the
  * serializable `sources.Filter` tree, the conf as the topic's broadcast.
  */
final class WireReaderFactory(
    fullDdl: String,
    requiredNames: Array[String],
    pushed: Array[Filter],
    topic: WireTopic,
    lines: Boolean,
    limit: Option[Int] = None) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = p match {
      case WireFilePartition(f)      => Array(f)
      case WireKeyedPartition(fs, _) => fs
    }
    new WireFileReader(files,
      StructType.fromDDL(fullDdl), requiredNames, pushed, topic, lines, limit)
  }
}

/** Reads a partition's files line by line. In the raw-lines layout
  * ([[WireTopicSource.Lines]]) the whole line is the one value; otherwise
  * it is split on the topic's separator and parsed per the wire layout.
  */
final class WireFileReader(
    files: Array[String],
    fullSchema: StructType,
    requiredNames: Array[String],
    pushed: Array[Filter],
    topic: WireTopic,
    lines: Boolean,
    limit: Option[Int] = None) extends PartitionReader[InternalRow] {

  // Parse set = projected columns ∪ filter-referenced columns (a column used
  // only by a fully-pushed filter is absent from `required` — it must still
  // be parsed, just never emitted).
  private val filterRefs = pushed.flatMap(_.references).toSet
  private val parseIdx: Array[Int] = fullSchema.fields.zipWithIndex
    .collect { case (f, i) if requiredNames.contains(f.name) || filterRefs(f.name) => i }
  private val emitIdx: Array[Int] =
    requiredNames.map(n => fullSchema.fieldIndex(n))
  // compiled ONCE: String.split(Pattern.quote(sep)) would re-compile the
  // regex per LINE (the \Q..\E quoting also defeats split's single-char
  // fast path) — at wire-scan rates that was the scan's hot spot
  private val sepPattern = Pattern.compile(Pattern.quote(topic.sep))

  private val fs = topic.fs
  private val codecs = new CompressionCodecFactory(topic.hadoopConf)
  private var fileIdx = 0
  private var in = open(files(0))

  /** A file with a codec suffix (`.gz`, `.bz2`, …) decodes through its
    * Hadoop codec, as in the text source; one whose codec cannot load
    * fails here.
    */
  private def open(f: String) = {
    val p = SparkPath.fromUrlString(f).toPath
    val raw = fs.open(p)
    val bytes = Option(codecs.getCodec(p))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    new java.io.BufferedReader(new java.io.InputStreamReader(bytes, "UTF-8"))
  }

  /** Advance through the partition's file group (one file in the plain
    * layout; a key's whole group in the keyBy layout).
    */
  private def readLine(): String = {
    var line = in.readLine()
    while (line == null && fileIdx < files.length - 1) {
      in.close()
      fileIdx += 1
      in = open(files(fileIdx))
      line = in.readLine()
    }
    line
  }

  private var row: InternalRow = _
  private var emitted = 0

  override def next(): Boolean = {
    // pushed per-partition limit: stop PARSING once satisfied (Spark's
    // global limit still applies across partitions)
    if (limit.exists(emitted >= _)) return false
    var line = readLine()
    while (line != null) {
      val vals = if (lines) Array[Any](line) else parse(line)
      if (pushed.forall(WireFilterEval.eval(_, fullSchema, vals))) {
        row = new GenericInternalRow(emitIdx.map { i =>
          vals(i) match {
            case s: String => UTF8String.fromString(s)
            case v => v
          }
        })
        emitted += 1
        return true
      }
      line = readLine()
    }
    false
  }

  /** Typed values for the parse set only; "" decodes to null (CsvWire). */
  private def parse(line: String): Array[Any] = {
    val parts = sepPattern.split(line, -1)
    val vals = new Array[Any](fullSchema.length)
    var j = 0
    while (j < parseIdx.length) {
      val i = parseIdx(j)
      val raw = if (i < parts.length) parts(i) else ""
      vals(i) =
        if (raw.isEmpty) null
        else WireFilterEval.parse(fullSchema.fields(i).dataType, raw)
      j += 1
    }
    vals
  }

  override def get(): InternalRow = row
  override def close(): Unit = { in.close() }
}

/** Parse + predicate evaluation for the pushed filter subset (SQL
  * three-valued logic: a comparison against null is not-true → row dropped,
  * matching what Spark's own post-scan Filter would do).
  */
object WireFilterEval {

  def parse(dt: DataType, raw: String): Any = dt match {
    case LongType    => raw.toLong
    case IntegerType => raw.toInt
    case ShortType   => raw.toShort
    case DoubleType  => raw.toDouble
    case FloatType   => raw.toFloat
    case StringType  => raw
    case BooleanType => raw.toBoolean
    case other => throw new IllegalArgumentException(
      s"graft-wire: unsupported wire type $other")
  }

  private val comparableTypes: Set[DataType] =
    Set(LongType, IntegerType, ShortType, DoubleType, FloatType, StringType,
      BooleanType)

  /** Fully-handled shapes: [=, >, >=, <, <=, IS NULL, IS NOT NULL] over
    * wire-typed columns. Everything else (In, StringContains, Or, …) is left
    * to Spark — correctness never depends on this list, only plan shape.
    */
  def supported(schema: StructType)(f: Filter): Boolean = f match {
    case EqualTo(a, _)            => typed(schema, a)
    case GreaterThan(a, _)        => typed(schema, a)
    case GreaterThanOrEqual(a, _) => typed(schema, a)
    case LessThan(a, _)           => typed(schema, a)
    case LessThanOrEqual(a, _)    => typed(schema, a)
    case IsNull(a)                => typed(schema, a)
    case IsNotNull(a)             => typed(schema, a)
    case _                        => false
  }
  private def typed(schema: StructType, attr: String): Boolean =
    schema.fieldNames.contains(attr) &&
      comparableTypes(schema(attr).dataType)

  def eval(f: Filter, schema: StructType, vals: Array[Any]): Boolean = {
    def v(attr: String): Any = vals(schema.fieldIndex(attr))
    f match {
      case IsNull(a)    => v(a) == null
      case IsNotNull(a) => v(a) != null
      case EqualTo(a, x)            => cmp(v(a), x).contains(0)
      case GreaterThan(a, x)        => cmp(v(a), x).exists(_ > 0)
      case GreaterThanOrEqual(a, x) => cmp(v(a), x).exists(_ >= 0)
      case LessThan(a, x)           => cmp(v(a), x).exists(_ < 0)
      case LessThanOrEqual(a, x)    => cmp(v(a), x).exists(_ <= 0)
      case other => throw new IllegalStateException(s"unpushable: $other")
    }
  }

  /** None when either side is null (three-valued logic → not-true).
    * Longs compare as longs (a double merges longs past 2^53), strings in
    * UTF8String byte order (Spark's order; UTF-16 order puts a
    * supplementary character before U+FFFD).
    */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: java.lang.Long, y: java.lang.Long) =>
      Some(java.lang.Long.compare(x, y))
    case (x: Number, y: Number) =>
      Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    case (x: String, y: String) =>
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }
}
