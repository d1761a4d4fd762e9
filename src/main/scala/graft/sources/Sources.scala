package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bus seam, [[BusSource]], and its connectors on Spark's built-in
  * sources: [[FileReplayBus]], [[RateBus]] and [[SocketJsonBus]]. The
  * MQTT connectors, [[MqttBus]] and [[PartitionedMqttBus]], are in
  * Mqtt.scala. Event schemas are given, never inferred (inference is a
  * full extra pass over the input). File reads and writes off the bus
  * call Spark's `read`/`write` directly; the one checkpointed file sink
  * is [[graft.streaming.EventPipelines.sink]].
  */
object Sources {

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
      spark.readStream.schema(graft.streaming.EventPipelines.eventSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)
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
