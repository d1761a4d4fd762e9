package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Source/sink catalog — the engine's I/O surface beyond the fixture
  * parquet: JSON-lines (the reference's bus payloads ARE json objects),
  * CSV, and parquet, each in batch and streaming form with explicit
  * schemas (schema inference is a full extra pass at 100 TB — never
  * inferred here).
  *
  * The reference's bus (MQTT JSON messages) maps to [[jsonStream]]: a
  * directory fed by a collector behaves exactly like a topic replay; a
  * Kafka source swaps in with the same downstream schema contract.
  */
object Sources {

  // ---- batch -----------------------------------------------------------
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def jsonLines(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** ORC — the other columnar format Spark ships natively; same pushdown
    * and vectorized-read properties as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Multimodal ingest: whole files as (path, modificationTime, length,
    * content binary) — the real on-ramp for image/audio payloads into
    * [[graft.operators.Multimodal]]'s binary-column contract. */
  def binaryFiles(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format("binaryFile").load(pathGlob)

  // ---- streaming -------------------------------------------------------
  def parquetStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)

  /** Bus-shaped source: one JSON object per line, explicit schema. */
  def jsonStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).json(dir)

  def csvStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger).csv(dir)

  /** Checkpointed exactly-once file sink (format ∈ parquet|json|csv). */
  def fileSink(df: DataFrame, format: String, path: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  // ---- bus connector seam (R1) ----------------------------------------

  /** ANY bus technology behind ONE interface producing the canonical
    * event stream ([[graft.streaming.EventPipelines.eventSchema]]).
    * Pipelines compose against the DataFrame this returns, so swapping
    * the file replay for a live connector touches ZERO pipeline code —
    * StreamingParitySpec proves it by running the SAME tumbling
    * pipeline off [[RateBus]], off [[SocketJsonBus]] (raw TCP), and
    * since r10 off [[graft.sources.MqttBus]] — a REAL hand-rolled
    * MQTT 3.1.1 broker-protocol subscription (sources/Mqtt.scala), the
    * reference's actual bus protocol. A connector is free in how it
    * feeds Spark: MqttBus reads its lanes through its own streaming
    * source ([[graft.sources.MqttLaneSource]], one input partition per
    * lane) and ends in the same [[SocketJsonBus.parse]] as the raw-TCP
    * connector. */
  trait BusSource {
    def subscribe(spark: SparkSession): DataFrame
  }

  /** File-replay bus: a directory fed by a collector, replayed as a
    * topic (`maxFilesPerTrigger` = micro-batch splits). */
  final case class FileReplayBus(dir: String, maxFilesPerTrigger: Int = 1)
      extends BusSource {
    def subscribe(spark: SparkSession): DataFrame =
      parquetStream(spark, dir,
        graft.streaming.EventPipelines.eventSchema, maxFilesPerTrigger)
  }

  /** Live-connector stand-in on Spark's built-in unbounded `rate`
    * source: feed row k maps DETERMINISTICALLY into the event schema —
    * ids, types, values, and µs timestamps are pure functions of k (the
    * rate source's wall-clock timestamp is discarded) — so a parity
    * test can reconstruct the exact batch input from the row count
    * alone. This is the real seam a Kafka connector drops into: a
    * `format("kafka")` load + the same `shape`-style projection of the
    * payload. */
  final case class RateBus(rowsPerSecond: Int = 1000) extends BusSource {
    def subscribe(spark: SparkSession): DataFrame =
      RateBus.shape(spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toString).load())
  }

  /** TCP JSON-lines bus: one JSON event object per line over a raw
    * TCP connection — the in-sandbox proof that a REAL network
    * connector slots into the R1 seam with zero new dependencies
    * (Spark's built-in `socket` source + a from_json projection; the
    * reference's bus payloads are JSON objects on the wire too, public
    * reference `nyuki/bus/` — mount empty, SURVEY.md §0). The wire
    * contract is [[SocketJsonBus.wireSchema]]: the canonical event
    * fields with `ts_us` as epoch MICROSECONDS (an integer on the wire
    * — a bus format must never depend on the consumer's timezone or
    * timestamp-string parsing).
    *
    * Durability note: the socket source keeps no replayable offsets,
    * so recovery is at-most-once — this is the live-tap/dev connector.
    * A durable broker adapter (Kafka, when broker jars ship) is the
    * SAME parse over `format("kafka")`'s value column; pipelines
    * compose against [[BusSource]] and cannot tell the difference. */
  final case class SocketJsonBus(host: String, port: Int)
      extends BusSource {
    def subscribe(spark: SparkSession): DataFrame =
      SocketJsonBus.parse(spark.readStream.format("socket")
        .option("host", host).option("port", port.toString).load())
  }

  object SocketJsonBus {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._

    /** On-wire payload schema (`ts_us` = epoch µs integer). */
    val wireSchema: StructType = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts_us", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

    /** text line → canonical event row. Malformed payloads parse to a
      * null struct and are DROPPED — one bad producer message must
      * never kill a long-running subscription (the bus contract is
      * at-least-once delivery of VALID events, not crash-on-garbage).
      *
      * The parse runs inside a generator so that each payload is parsed
      * once: over a plain projection, Catalyst would push the `event_id
      * IS NOT NULL` filter below it and copy `from_json` into the filter
      * (three parses per payload). A generator's output is not an
      * expression the optimizer can inline, so the filter stays above
      * the one parse. `inline` turns a null struct into a row of nulls,
      * which the filter drops. */
    def parse(lines: DataFrame): DataFrame =
      lines.select(inline(array(from_json(col("value"), wireSchema))))
        .filter(col("event_id").isNotNull)
        .select(col("event_id"),
          timestamp_micros(col("ts_us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
  }

  object RateBus {
    import org.apache.spark.sql.functions._

    /** row number → event mapping, shared by the stream and the batch
      * reconstruction (the parity contract): timestamps sweep 72 hourly
      * points across 3 days (several tumbling windows), types cycle
      * through the fixture trio, values cycle 0..999. */
    def shape(rows: DataFrame): DataFrame =
      rows.select(
        col("value").as("event_id"),
        timestamp_micros(lit(1700000000000000L)
          + (col("value") % 72L) * 3600L * 1000000L).as("ts"),
        (col("value") % 97L).as("user_id"),
        expr("element_at(array('click','view','purchase'), " +
          "CAST(value % 3 AS INT) + 1)").as("event_type"),
        (col("value") % 1000L).cast("double").as("value"),
        to_json(struct(col("value").as("k"))).as("props"))
  }
}
