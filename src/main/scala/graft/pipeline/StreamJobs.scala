package graft.pipeline

import java.io.{File, FileWriter}

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Stages 4/5 of the pipeline: unbounded wire-format stream → parse →
  * enrich → sink (reference: spark_streaming/convert-to-elasticsearch.py and
  * convert-to-minio.py — identical until the sink).
  *
  * Sources and sinks are pluggable: the engine's transform is a pure
  * stream-to-stream function, so Kafka vs file vs memory source is a caller
  * choice (zero-egress tests use the file source; a production deployment
  * passes `spark.readStream.format("kafka")...load()`). Both reference jobs'
  * offset policies (earliest vs latest — an inherited inconsistency,
  * SURVEY.md §0) become explicit caller options.
  */
object StreamJobs {
  import OfficeSchema._

  /** Wire `value` → typed office columns + `if_movement` CASE enrichment
    * (convert-to-elasticsearch.py:105-134). One codegen'd projection;
    * stateless, so it runs identically over a batch or streaming frame.
    */
  def parseEnrich(wire: DataFrame): DataFrame =
    CsvWire.decode(wire, office)
      .withColumn("if_movement",
        when(col("pir") > 0, "movement").otherwise("no_movement"))

  /** The Kafka topic as a directory: tail it through the `graft-wire`
    * source ([[graft.sources.v2.WireTopicSource]]) with no read schema, so
    * each line arrives whole in a `value` string column, as Kafka's `value`
    * would. One ordered partition per file (the reference's 1-partition
    * topic, kafka/kafka_admin.py:27); each trigger lists the topic once and
    * logs its files in `<checkpoint>/sources/0`, Spark's file-source log.
    */
  def fileWireSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("graft-wire").load(dir)

  /** MinIO-job sink: checkpointed append parquet (convert-to-minio.py:125-131). */
  def toParquet(enriched: DataFrame, outPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    enriched.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** ES-job sink stand-in: a [[ForeachWriter]] that appends one JSON document
    * per row to a per-partition file, shaped by [[OfficeSchema.esMapping]]
    * (the reference's declared index mapping,
    * convert-to-elasticsearch.py:18-57). Same at-least-once semantics as the
    * ES connector: partitions may replay on failure, documents carry no id.
    */
  def toEsShaped(enriched: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      mapping: Map[String, String] = Map.empty): StreamingQuery =
    enriched.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreach(new EsShapedWriter(outDir, enriched.schema.fieldNames, mapping))
      .start()
}

/** Writes rows as JSON-lines "documents" — the zero-egress ES stand-in.
  * Partition-local files named `part-<partitionId>-<epochId>` give the same
  * replay-idempotence unit as the ES connector's bulk requests.
  *
  * `mapping` (field → declared ES type, e.g. [[OfficeSchema.esMapping]])
  * reproduces ES's index-time semantics the reference relied on
  * (convert-to-elasticsearch.py:42-57 declares the mapping,
  * :53 sets `ignore_malformed: true`):
  *   - dynamic COERCION: a string landing in a `float`-mapped field is
  *     parsed to a number when possible;
  *   - `ignore_malformed` FIELD-drop: an uncoercible or non-finite value
  *     drops that FIELD, never the document;
  *   - unmapped fields behave dynamically (typed by the value, as before).
  */
final class EsShapedWriter(outDir: String, fields: Array[String],
    mapping: Map[String, String] = Map.empty)
    extends ForeachWriter[Row] {
  @transient private var w: FileWriter = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    new File(outDir).mkdirs()
    w = new FileWriter(new File(outDir, s"part-$partitionId-$epochId.jsonl"), false)
    true
  }

  /** Full JSON string escaping — control characters included (an unescaped
    * newline would split a document across two JSONL lines).
    */
  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }

  /** JSON value for `v` under the declared ES type, or None when
    * `ignore_malformed` drops the field.
    */
  private def coerced(esType: String, v: Any): Option[String] = {
    val integral = esType == "long" || esType == "integer"
    // ES integer coercion TRUNCATES fractional values; rendering through
    // the integral path also keeps the JSON shape stable per field (a
    // long-mapped field must never flip between `7` and `7.0` row-to-row)
    def num(d: Double): Option[String] =
      if (d.isNaN || d.isInfinite) None
      else if (integral) Some(d.toLong.toString)
      else Some(d.toString)
    esType match {
      case "float" | "double" | "long" | "integer" => v match {
        case null => Some("null")
        // integral input under an integral mapping: stay in 64-bit (a
        // round-trip through double would corrupt longs above 2^53)
        case n @ (_: java.lang.Long | _: java.lang.Integer |
            _: java.lang.Short | _: java.lang.Byte) if integral =>
          Some(n.asInstanceOf[Number].longValue().toString)
        case n: Number => num(n.doubleValue())
        case s: String => // dynamic coercion: numeric strings index as numbers
          try {
            if (integral) Some(java.lang.Long.parseLong(s.trim).toString)
            else num(java.lang.Double.parseDouble(s.trim))
          } catch {
            case _: NumberFormatException =>
              try num(java.lang.Double.parseDouble(s.trim))
              catch { case _: NumberFormatException => None }
          }
        case _ => None
      }
      case _ => // keyword / date / text: everything indexes as its string form
        if (v == null) Some("null") else Some(jsonStr(v.toString))
    }
  }

  override def process(row: Row): Unit = {
    val doc = fields.zipWithIndex.flatMap { case (f, i) =>
      val v = row.get(i)
      val s: Option[String] = mapping.get(f) match {
        case Some(esType) => coerced(esType, v)
        case None => Some(v match { // dynamic mapping: typed by the value
          case null => "null"
          // bare NaN/Infinity is not legal JSON — write null dynamically
          case n: Float if n.isNaN || n.isInfinite  => "null"
          case n: Double if n.isNaN || n.isInfinite => "null"
          case n: Float  => n.toString
          case n: Double => n.toString
          case n: Number => n.toString
          case other     => jsonStr(other.toString)
        })
      }
      s.map(json => "\"" + f + "\": " + json)
    }.mkString("{", ", ", "}")
    w.write(doc)
    w.write('\n')
  }

  override def close(errorOrNull: Throwable): Unit =
    if (w != null) w.close()
}
