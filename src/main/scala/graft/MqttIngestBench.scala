package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sources.{MqttBroker, MqttClient, PartitionedMqttBus}

/** Partitioned-bus ingest scaling benchmark (r10 verdict item #2): the
  * SAME event volume pushed over a live MQTT 3.1.1 broker at QoS 1
  * through 1, 2, and 4 topic-partition lanes ([[PartitionedMqttBus]]),
  * timed from first publish to the last event landing in a streaming
  * aggregate. Reports events/second per lane count — the table that
  * answers "does ingest scale with reader count, or is R1 capped at one
  * connection's throughput?".
  *
  * Protocol honesty: producers publish at QoS 1 (block on the broker's
  * PUBACK), consumers subscribe at QoS 1 (the broker retransmits until
  * the lane PUBACKs), and the terminal assertion is landed == total
  * EXACTLY — a duplicate from a retransmit race or a lane-log drop fails
  * the run rather than inflating the rate. EIGHT producer connections
  * are used at every lane count (each QoS 1 publish blocks on its
  * PUBACK, so one producer tops out near the per-connection
  * round-trip; eight keep the OFFERED load above any consumer
  * configuration), so only the CONSUMER path varies.
  *
  * Run: sbt "runMain graft.MqttIngestBench [totalEvents]"
  * (env SPARK_GRAFT_CPUS, default 4 — the StreamBench contract).
  */
object MqttIngestBench {

  private def eventJson(k: Long): String = {
    val tsUs = 1700000000000000L + (k % 72L) * 3600L * 1000000L
    val et = Seq("click", "view", "purchase")((k % 3L).toInt)
    s"""{"event_id":$k,"ts_us":$tsUs,"user_id":${k % 97L},""" +
      s""""event_type":"$et","value":${(k % 1000L).toDouble},""" +
      s""""props":"{\\"k\\":$k}"}"""
  }

  /** One configuration: `lanes` reader connections, 8 producers, QoS 1
    * both directions. Returns (elapsedSec, eventsPerSec). */
  def measure(spark: SparkSession, lanes: Int, total: Long,
      producers: Int = 8): (Double, Double) = {
    val broker = new MqttBroker().start()
    val bus = new PartitionedMqttBus("127.0.0.1", broker.boundPort,
      "graft/part", lanes, clientIdPrefix = s"ingest-$lanes")
    val name = s"mqtt_ingest_${lanes}_${System.nanoTime()}"
    val q = bus.subscribe(spark)
      .groupBy().count()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    def landed(): Long = spark.table(name).collect()
      .headOption.map(_.getLong(0)).getOrElse(0L)
    // Producers live INSIDE the try/finally (r11 ADVICE: a failed
    // require used to leak 8 connected clients and their threads past
    // cleanup), and the producer-side count is asserted against `total`
    // before the landed comparison so a silently-stalled producer thread
    // reads as a producer bug, not a consumer drop.
    var pubs: Seq[MqttClient] = Seq.empty
    try {
      pubs = (0 until producers).map(i =>
        new MqttClient("127.0.0.1", broker.boundPort,
          s"ingest-pub-$lanes-$i").connect())
      val published = new AtomicLong(0L)
      val t0 = System.nanoTime()
      val threads = pubs.zipWithIndex.map { case (p, pi) =>
        val t = new Thread(() => {
          var k = pi.toLong
          while (k < total) {
            p.publish(
              PartitionedMqttBus.topicFor("graft/part", lanes, k),
              eventJson(k))
            published.incrementAndGet()
            k += producers
          }
        }, s"ingest-producer-$pi")
        t.start(); t
      }
      threads.foreach(_.join())
      require(published.get == total,
        s"lanes=$lanes: producers published ${published.get} != $total")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (landed() < total && System.nanoTime() < deadline)
        Thread.sleep(20)
      val dt = (System.nanoTime() - t0) / 1e9
      val got = landed()
      require(got == total,
        s"lanes=$lanes: landed $got != published $total " +
          s"(dropped=${bus.dropped}) — dup or loss, run is invalid")
      require(bus.dropped == 0,
        s"lanes=$lanes: ${bus.dropped} lane-log drops")
      (dt, total / dt)
    } finally {
      pubs.foreach(p => try p.disconnect() catch { case _: Throwable => () })
      try q.stop() catch { case _: Throwable => () }
      bus.close()
      broker.stop()
      try spark.sql(s"DROP TABLE IF EXISTS $name") catch {
        case _: Throwable => ()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toLong).getOrElse(120000L)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // JVM/codegen warmup + one throwaway config so the measured runs
    // don't pay first-query streaming initialization
    spark.range(100000L).selectExpr("sum(id)").collect()
    measure(spark, lanes = 1, total = 8000L)
    val results = Seq(1, 2, 4).map { n =>
      val (dt, eps) = measure(spark, n, total)
      Console.err.println(
        f"[mqtt-ingest] lanes=$n%d total=$total%d ${dt}%.2f s " +
          f"${eps}%.0f ev/s")
      n -> (dt, eps)
    }
    val json = results.map { case (n, (dt, eps)) =>
      s""""$n":{"sec":$dt,"events_per_sec":${eps.toLong}}"""
    }.mkString(",")
    println(s"""{"metric":"mqtt_ingest_scaling","events":$total,""" +
      s""""qos":1,"producers":8,"lanes":{$json}}""")
    spark.stop()
  }
}
