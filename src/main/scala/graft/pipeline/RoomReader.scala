package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Stage 1 of the pipeline: per-room per-sensor CSVs → one aligned office
  * table (reference: utils/spark_transforming.py — 5-way inner equi-join per
  * room on the minute key, tag room, union rooms, sort, dropna, derive
  * event timestamp).
  *
  * Two physical strategies behind one logical contract:
  *
  *   - [[joinPlan]] — the reference's shape verbatim: five filtered frames
  *     chained through inner equi-joins on `ts_min_bignt`
  *     (utils/spark_transforming.py:97-113), then the union fold
  *     (:123-131 — expressed as one frame because `room` is a column here,
  *     not a loop variable). Faithful to join multiplicity on duplicate
  *     timestamps. Each per-sensor filter is a partition filter, so each
  *     branch scans only that sensor's files.
  *   - [[pivotPlan]] — the 100 TB form: ONE scan of every file (no per-file
  *     driver loop — the reference runs ~255 schema-inference jobs for 51
  *     rooms, SURVEY.md §4), then a single groupBy pivot. One shuffle on
  *     (room, ts) replaces 4 joins per room × 51 rooms; requiring all five
  *     sensors non-null reproduces inner-join row loss. Collapses duplicate
  *     timestamps with `first` (documented divergence — duplicate minute
  *     keys in a sensor file are a data bug the reference turns into a row
  *     explosion).
  *
  * Both read through [[rawScan]]: the `<root>/<room>/<sensor>.csv` glob is
  * expanded once on the driver, and `room` and `sensor` ride along as
  * constant partition values of each file (decoded path segments), so no
  * Spark job lists files and no row does path-string work. Both read with
  * the declared schema (no inference) and map files by filename stem,
  * fixing the reference's listing-order column assignment
  * (utils/spark_transforming.py:78-88, SURVEY.md §0).
  */
object RoomReader {
  import OfficeSchema._

  /** Each file's constant columns, in [[rawScan]]'s output order. */
  private val fileKeys: StructType =
    new StructType().add("sensor", StringType, nullable = false)
      .add("room", StringType, nullable = false)

  /** Read every `<root>/<room>/<sensor>.csv` as one raw frame
    * `(ts_min_bignt, reading, sensor, room)` — S4 without a driver-side
    * per-file loop. The glob is the one Spark's reader would expand; an empty
    * match fails with `[PATH_NOT_FOUND]` as that reader does.
    */
  def rawScan(spark: SparkSession, root: String): DataFrame = {
    val glob = new Path(root, "*/*.csv")
    val fs = glob.getFileSystem(spark.sessionState.newHadoopConf())
    val files = Option(fs.globStatus(glob.makeQualified(fs.getUri, fs.getWorkingDirectory)))
      .getOrElse(Array.empty[FileStatus])
      .filter(f => f.isFile && !hidden(f.getPath.getName))
      .toSeq
    if (files.isEmpty)
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> glob.toString))
    spark.baseRelationToDataFrame(HadoopFsRelation(new RoomFiles(files), fileKeys,
      sensorCsv, None, new CSVFileFormat, Map("header" -> "true"))(spark))
  }

  /** Spark's rule for files a directory listing skips (`_SUCCESS`, `.crc`). */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Driver-only index over already-globbed files: one partition per file,
    * valued `(sensor = file stem, room = parent directory name)`. Partition
    * filters are applied here because Spark does not re-apply partition-only
    * filters after the scan.
    */
  private final class RoomFiles(files: Seq[FileStatus]) extends FileIndex {
    private val partitions = files.map { f =>
      val p = f.getPath
      val keys = InternalRow(UTF8String.fromString(p.getName.stripSuffix(".csv")),
        UTF8String.fromString(p.getParent.getName))
      PartitionDirectory(keys, Array(f))
    }

    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def inputFiles: Array[String] = rootPaths.map(_.toString).toArray
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = fileKeys
    override def refresh(): Unit = ()

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      partitionFilters.reduceOption(And) match {
        case None => partitions
        case Some(f) =>
          val keep = Predicate.createInterpreted(f.transform {
            case a: AttributeReference =>
              BoundReference(fileKeys.fieldIndex(a.name), StringType, nullable = false)
          })
          partitions.filter(d => keep.eval(d.values))
      }
  }

  /** Shared tail: global sort, dropna (utils/spark_transforming.py:143,145),
    * event timestamp derivation (:148-149; UTC-pinned, at-rest type STRING).
    */
  private def finish(joined: DataFrame): DataFrame =
    joined
      .orderBy("ts_min_bignt", "room")
      .na.drop("any")
      .withColumn("event_ts_min",
        date_format(from_unixtime(col("ts_min_bignt")), "yyyy-MM-dd HH:mm:ss"))
      .select(office.fieldNames.map(col): _*)

  /** Reference-shaped plan: five per-sensor frames, chained inner joins. */
  def joinPlan(spark: SparkSession, root: String): DataFrame = {
    val raw = rawScan(spark, root)
    val bySensor = sensors.map { s0 =>
      raw.filter(col("sensor") === s0)
        .select(col("room"), col("ts_min_bignt"), col("reading").as(s0))
    }
    val joined = bySensor.reduce(_.join(_, Seq("room", "ts_min_bignt"), "inner"))
    finish(joined)
  }

  /** Scale plan: single scan + groupBy pivot; inner-join semantics restored
    * by requiring all five sensor columns non-null.
    */
  def pivotPlan(spark: SparkSession, root: String): DataFrame = {
    val raw = rawScan(spark, root)
    val wide = raw
      .groupBy("room", "ts_min_bignt")
      .pivot("sensor", sensors)
      .agg(first("reading"))
    val allPresent = sensors.map(col(_).isNotNull).reduce(_ && _)
    finish(wide.filter(allPresent))
  }

  def read(spark: SparkSession, root: String, faithful: Boolean = false): DataFrame =
    if (faithful) joinPlan(spark, root) else pivotPlan(spark, root)
}

/** Stage-1 job: rooms directory → one parquet dataset, mode=overwrite
  * (K1, utils/spark_transforming.py:162). One canonical output path —
  * the reference's out/output path mismatch (SURVEY.md §0) does not exist
  * here.
  */
object BatchEtl {
  def run(spark: SparkSession, roomsDir: String, outPath: String,
      faithful: Boolean = false): Unit =
    RoomReader.read(spark, roomsDir, faithful)
      .write.mode("overwrite").parquet(outPath)
}
