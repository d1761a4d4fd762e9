package graft

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.plans.TemplateRegistry
import graft.sources.{Mqtt, MqttBroker, MqttBus, MqttClient}

/** Failure injection for the control plane + MQTT bus (r10 verdict item
  * #6): what the engine does when a peer DIES mid-protocol or durable
  * state is CORRUPTED — each case asserts the documented contract, not
  * just survival.
  *
  *  - QoS 1 retransmit storm bound: a subscriber that never acks gets
  *    one DUP per retransmit period (bounded cadence, no tight loop),
  *    and a subscriber whose CONNECTION dies mid-delivery is dropped by
  *    the broker on the next send — routing to healthy subscribers
  *    continues.
  *  - Broker restart under an active [[MqttBus]] subscription: the
  *    documented at-most-once tier — already-delivered events stay in
  *    the sink, the Spark query survives, nothing is silently dropped
  *    from the lane log, and a FRESH subscription on the new broker
  *    resumes delivery (re-subscribe IS the recovery path,
  *    Mqtt.scala MqttBus scaladoc).
  *  - Registry snapshot corruption: a snapshot row that fails template
  *    validation (unknown task) or references a missing template
  *    (dangling trigger) fails [[TemplateRegistry.loadFrom]] LOUDLY —
  *    the load-never-admits-bad-state claim at
  *    TemplateRegistry.scala:180-207.
  */
class FailureInjectionSpec extends SparkSpec {

  private def withBroker(f: MqttBroker => Unit): Unit = {
    val b = new MqttBroker().start()
    try f(b) finally b.stop()
  }

  test("QoS 1 retransmit cadence is BOUNDED (one DUP per period, not a " +
      "storm) and a subscriber that dies unacked is dropped while " +
      "routing to healthy subscribers continues") {
    withBroker { b =>
      // raw subscriber so the PUBACK never goes out
      val sock = new Socket("127.0.0.1", b.boundPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(Mqtt.packet(Mqtt.CONNECT << 4,
        Mqtt.utf8("MQTT") ++ Array[Byte](4, 2, 0, 60) ++ Mqtt.utf8("dead")))
      out.flush()
      assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.CONNACK)
      out.write(Mqtt.packet((Mqtt.SUBSCRIBE << 4) | 2,
        Array[Byte](0, 1) ++ Mqtt.utf8("fi/t") :+ 1.toByte))
      out.flush()
      assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.SUBACK)
      val pub = new MqttClient("127.0.0.1", b.boundPort, "fi-pub").connect()
      pub.publish("fi/t", "m0")
      // count deliveries over ~3.4 retransmit periods WITHOUT acking:
      // first delivery + one DUP per elapsed period — 3..6 copies, never
      // a tight-loop storm (a storm would land hundreds)
      val t0 = System.nanoTime()
      var copies = 0
      sock.setSoTimeout(200)
      while (System.nanoTime() - t0 < 17L * Mqtt.RetransmitMs / 5
          * 1000000L) {
        try {
          val (h, _) = Mqtt.readPacket(in)
          if ((h >> 4) == Mqtt.PUBLISH) copies += 1
        } catch { case _: java.io.IOException => () } // read timeout
      }
      // The upper bound derives from the MEASURED window, not the
      // nominal ~3.4 periods (r11 ADVICE: a GC pause or CI scheduling
      // stall stretches the observation window and a hard constant
      // flakes): first delivery + one DUP per elapsed period + 1 slack
      // for a retransmit in flight when the window closes. A tight-loop
      // storm lands hundreds and still fails by orders of magnitude.
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      val budget = 1L + elapsedMs / Mqtt.RetransmitMs + 1L
      assert(copies >= 2, s"expected the DUP path to fire, got $copies")
      assert(copies <= budget,
        s"retransmit cadence must be bounded by the period, got $copies " +
          s"copies in ${elapsedMs} ms (budget $budget)")
      // kill the subscriber WITHOUT acking: the broker's next retransmit
      // hits the dead socket and must drop the connection — and a new
      // healthy subscriber still gets routed to
      sock.close()
      Thread.sleep(2 * Mqtt.RetransmitMs)
      val got = new ConcurrentLinkedQueue[String]()
      val latch = new CountDownLatch(1)
      val sub2 = new MqttClient("127.0.0.1", b.boundPort, "alive").connect()
      sub2.subscribe("fi/t") { (_, p) =>
        got.add(new String(p, UTF_8)); latch.countDown()
      }
      pub.publish("fi/t", "m1")
      assert(latch.await(10, TimeUnit.SECONDS),
        "broker stopped routing after a subscriber died mid-QoS-1")
      Thread.sleep(2 * Mqtt.RetransmitMs) // no late dups to the acker
      assert(got.toArray(Array.empty[String]).toSeq == Seq("m1"))
      pub.disconnect(); sub2.disconnect()
    }
  }

  test("broker restart under an active MqttBus subscription: delivered " +
      "events survive, the query stays alive, nothing drops silently, " +
      "and a fresh subscription on the new broker resumes (the " +
      "documented at-most-once recovery path)") {
    val broker1 = new MqttBroker().start()
    val bus1 = new MqttBus("127.0.0.1", broker1.boundPort, "fi/ev/#",
      clientId = "fi-bus-1")
    val name1 = s"fi_restart_a_${System.nanoTime()}"
    val q1 = bus1.subscribe(spark).groupBy().count()
      .writeStream.format("memory").queryName(name1)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    def landed(n: String): Long = spark.table(n).collect()
      .headOption.map(_.getLong(0)).getOrElse(0L)
    try {
      val pub1 = new MqttClient("127.0.0.1", broker1.boundPort,
        "fi-pub-1").connect()
      val n1 = 500L
      (0L until n1).foreach { k =>
        val tsUs = 1700000000000000L + k * 1000000L
        pub1.publish("fi/ev/x",
          s"""{"event_id":$k,"ts_us":$tsUs,"user_id":1,""" +
            s""""event_type":"click","value":1.0,"props":"{}"}""")
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (landed(name1) < n1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(landed(name1) == n1)
      // KILL the broker under the live subscription
      broker1.stop()
      Thread.sleep(500)
      // contract: the query survives, the count is intact, the lane log
      // dropped nothing (loss at this tier is the dead TCP connection,
      // which is VISIBLE — the connector does not fake durability)
      assert(q1.isActive, "query must survive a broker death")
      assert(landed(name1) == n1, "delivered events must not vanish")
      assert(bus1.dropped == 0)
      // recovery = re-subscribe: a fresh bus against a fresh broker
      val broker2 = new MqttBroker().start()
      val bus2 = new MqttBus("127.0.0.1", broker2.boundPort, "fi/ev/#",
        clientId = "fi-bus-2")
      val name2 = s"fi_restart_b_${System.nanoTime()}"
      val q2 = bus2.subscribe(spark).groupBy().count()
        .writeStream.format("memory").queryName(name2)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      try {
        val pub2 = new MqttClient("127.0.0.1", broker2.boundPort,
          "fi-pub-2").connect()
        val n2 = 200L
        (0L until n2).foreach { k =>
          val tsUs = 1700000000000000L + k * 1000000L
          pub2.publish("fi/ev/y",
            s"""{"event_id":$k,"ts_us":$tsUs,"user_id":2,""" +
              s""""event_type":"view","value":2.0,"props":"{}"}""")
        }
        val dl2 = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (landed(name2) < n2 && System.nanoTime() < dl2)
          Thread.sleep(50)
        assert(landed(name2) == n2,
          "fresh subscription on the new broker must resume delivery")
        pub2.disconnect()
      } finally {
        q2.stop(); bus2.close(); broker2.stop()
      }
    } finally {
      try q1.stop() catch { case _: Throwable => () }
      bus1.close()
      try broker1.stop() catch { case _: Throwable => () }
    }
  }

  private val goodTemplate =
    """{"id": "fi-tpl", "tasks": [
      |  {"id": "f", "name": "factory", "config": {"rules": [
      |     {"type": "set", "field": "band", "value": "low"}]}}],
      | "graph": {}}""".stripMargin

  test("registry snapshot with a corrupt template row (unknown task " +
      "name) fails loadFrom loudly — never loads bad state silently") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fi_reg1").toString
    val reg = new TemplateRegistry
    reg.put(goodTemplate, version = 1)
    reg.publish("fi-tpl", 1)
    reg.saveTo(spark, dir)
    // corrupt: hand-edit the snapshot — one row's json now names a task
    // the engine does not have (the validate() unknown-task gate)
    val corrupt = goodTemplate.replace("\"factory\"", "\"evil_task\"")
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_fi_reg2").toString
    spark.read.parquet(s"$dir/templates")
      .withColumn("json", lit(corrupt))
      .write.parquet(s"$dir2/templates")
    spark.read.parquet(s"$dir/triggers")
      .write.parquet(s"$dir2/triggers")
    val e = intercept[IllegalArgumentException](
      TemplateRegistry.loadFrom(spark, dir2))
    assert(e.getMessage.contains("evil_task"),
      s"failure must name the corrupt content, got: ${e.getMessage}")
  }

  test("registry snapshot with a dangling trigger row (template missing " +
      "from the templates table) fails loadFrom loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fi_reg3").toString
    val reg = new TemplateRegistry
    reg.put(goodTemplate, version = 1)
    reg.publish("fi-tpl", 1)
    reg.setTrigger("click", "fi-tpl", 1)
    reg.saveTo(spark, dir)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_fi_reg4").toString
    // templates table EMPTY (schema kept), trigger row survives → the
    // trigger references a template that no longer exists
    spark.read.parquet(s"$dir/templates").filter(lit(false))
      .write.parquet(s"$dir2/templates")
    spark.read.parquet(s"$dir/triggers")
      .write.parquet(s"$dir2/triggers")
    val e = intercept[IllegalArgumentException](
      TemplateRegistry.loadFrom(spark, dir2))
    assert(e.getMessage.contains("fi-tpl"),
      s"failure must name the dangling template, got: ${e.getMessage}")
  }
}
