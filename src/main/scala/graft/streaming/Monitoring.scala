package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s.JString
import org.json4s.jackson.JsonMethods.{compact, render}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Instance history + monitoring (R18): the reference stores per-task
  * execution reports in MongoDB and pushes task states over a websocket
  * (`nyuki/workflow/storage/instances.py`, `nyuki/api/websocket.py`;
  * mount empty, SURVEY.md §0).
  *
  * Spark-native: a StreamingQueryListener captures per-micro-batch
  * execution reports (rows, durations, watermark, state size) —
  * the same observability surface, sourced from the engine itself.
  * Durable history = the checkpoint/commit logs; this listener is the
  * live-push half. Subscribers (a websocket bridge, a metrics sink)
  * attach by draining [[reports]] or subclassing.
  */
final class Monitoring extends StreamingQueryListener {
  import Monitoring.Report

  private val started = TrieMap.empty[String, String] // queryId -> name
  private val history = TrieMap.empty[String, Vector[Report]]
  @volatile private var terminated = Vector.empty[(String, Option[String])]
  private val subscribers =
    new java.util.concurrent.CopyOnWriteArrayList[Report => Unit]

  /** Live PUSH half (R18): `f` fires on every micro-batch report, on the
    * listener-bus thread — the reference's websocket task-state push
    * mapped to an in-process callback; [[graft.plans.HttpControlPlane]]
    * bridges it onto an HTTP Server-Sent-Events stream. Returns an
    * unsubscribe handle. A subscriber that throws is dropped (a dead
    * websocket must not poison the listener bus). */
  def subscribe(f: Report => Unit): () => Unit = {
    subscribers.add(f)
    () => { subscribers.remove(f); () }
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    started(event.id.toString) = Option(event.name).getOrElse("")

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val report = Report(
      p.id.toString, p.runId.toString, p.batchId,
      p.numInputRows,
      p.processedRowsPerSecond,
      Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L),
      Option(p.eventTime.get("watermark")),
      Option(p.stateOperators).filter(_.nonEmpty)
        .map(_.map(_.numRowsTotal).sum).getOrElse(0L))
    history.updateWith(report.queryId) {
      case Some(v) => Some(v :+ report)
      case None    => Some(Vector(report))
    }
    subscribers.forEach { f =>
      try f(report)
      catch { case _: Throwable => subscribers.remove(f); () }
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    terminated :+= (event.id.toString, event.exception)

  def reports(queryId: String): Seq[Report] =
    history.getOrElse(queryId, Vector.empty)

  def activeQueryIds: Set[String] = started.keySet.toSet

  def failures: Seq[(String, String)] =
    terminated.collect { case (id, Some(e)) => (id, e) }

  def attach(spark: SparkSession): this.type = {
    spark.streams.addListener(this); this
  }

  def detach(spark: SparkSession): Unit = spark.streams.removeListener(this)
}

object Monitoring {

  /** One micro-batch's execution report. */
  final case class Report(queryId: String, runId: String, batchId: Long,
      numInputRows: Long, processedRowsPerSecond: Double,
      durationMs: Long, eventTimeWatermark: Option[String],
      stateRows: Long) {

    /** The report's wire form, the same bytes on every channel: the SSE
      * `data:` frame and `GET /reports/{id}` on
      * [[graft.plans.HttpControlPlane]], and the WebSocket TEXT frame on
      * [[graft.plans.WebSocketPush]]. String fields go through json4s's
      * escaping: today they are Spark UUIDs, but the JSON must stay
      * well-formed if a report ever carries a user-supplied name. */
    def json: String =
      s"""{"queryId":${quote(queryId)},"runId":${quote(runId)},""" +
        s""""batchId":$batchId,"numInputRows":$numInputRows,""" +
        s""""durationMs":$durationMs,"stateRows":$stateRows}"""
  }

  /** `s` as a JSON string literal. */
  def quote(s: String): String = compact(render(JString(s)))
}
