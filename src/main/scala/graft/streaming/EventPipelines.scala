package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.StreamShapes

/** Structured-Streaming face of the engine — the reference's bus-event hot
  * path (subscribe topic → trigger workflows → publish results) mapped to
  * `readStream → transform → writeStream` (public reference:
  * `nyuki/bus/mqtt.py`, tukio engine; mount empty, SURVEY.md §0).
  *
  * Mapping of reference semantics:
  *  - bus subscribe (R1)  → any [[graft.sources.Sources.BusSource]]: the
  *    MQTT 3.1.1 bus ([[graft.sources.MqttBus]], one input partition per
  *    lane), a file replay ([[graft.sources.Sources.FileReplayBus]]) or
  *    a Kafka source; everything downstream is a DataFrame transform;
  *  - at-least-once replay + persistence (R2) → checkpointed exactly-once
  *    sinks + `dropDuplicatesWithinWatermark` on event_id;
  *  - trigger match (R3) → filter predicates routing into per-template
  *    queries;
  *  - windowed processing → watermarked tumbling/sliding/session windows,
  *    REUSING the exact batch transforms from
  *    [[graft.operators.StreamShapes]] — batch/stream parity is by
  *    construction, verified by MemoryStream tests.
  *
  * Scale: state is keyed by (window/session, key) so it spreads across
  * executors; the watermark bounds state size; the bus source and sink
  * fan-out are the only cluster-specific pieces.
  */
object EventPipelines {

  /** Schema of the events stream (ts already µs: a file-replay source
    * reads parquet republished through [[graft.Tables.table]], not the
    * raw NANOS file). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** R2: replay dedup within the watermark (bus at-least-once → effectively
    * exactly-once past the watermark horizon). */
  def dedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** R3: trigger match — route a topic/type predicate into a template. */
  def trigger(events: DataFrame, eventType: String): DataFrame =
    events.filter(col("event_type") === eventType)

  /** Watermarked windowed aggregations — same transforms as the declared
    * batch queries. */
  def tumbling(events: DataFrame, watermark: String = "1 day"): DataFrame =
    StreamShapes.tumbling(events.withWatermark("ts", watermark))

  def sliding(events: DataFrame, watermark: String = "1 day"): DataFrame =
    StreamShapes.sliding(events.withWatermark("ts", watermark))

  def session(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    StreamShapes.session(events.withWatermark("ts", watermark))

  def sessionDynamic(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    StreamShapes.sessionDynamic(events.withWatermark("ts", watermark))

  /** Watermarked stream⋈stream join: each left event pairs with right
    * events for the same key within `window` BEFORE it (the streaming twin
    * of the as-of/range join). Both watermarks bound the join state —
    * without them state grows forever; with them rows older than
    * (watermark − window) are evicted every micro-batch. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      window: String = "1 hour",
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("lts", watermark)
    val r = right.withWatermark("rts", watermark)
    l.join(r,
      l(key) === r(s"r_$key")
        && r("rts") <= l("lts")
        && r("rts") >= l("lts") - expr(s"INTERVAL $window"),
      joinType)
  }

  /** R15 report task: mid-DAG side publish. foreachBatch fans each
    * micro-batch out to the main sink AND a report sink from ONE pass
    * (persist the batch; both writes are per-batch idempotent via
    * batchId-scoped overwrite, giving exactly-once on replay). */
  def withReportSink(df: DataFrame, mainDir: String, reportDir: String,
      checkpoint: String,
      report: DataFrame => DataFrame): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          batch.write.mode("overwrite")
            .parquet(s"$mainDir/batch=$batchId")
          report(batch).write.mode("overwrite")
            .parquet(s"$reportDir/batch=$batchId")
        } finally batch.unpersist()
        ()
      }

  /** R2/R15: publish — checkpointed parquet sink (exactly-once). `report`
    * tasks mid-DAG attach the same way via foreachBatch. */
  def sink(df: DataFrame, outDir: String, checkpoint: String,
      mode: String = "append"): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outDir)

  /** Run a pipeline over the full replay and block until the source is
    * drained (used by tests and ad-hoc runs). */
  def runToCompletion(writer: DataStreamWriter[org.apache.spark.sql.Row])
      : StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
