package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{LaneBlock, LaneLog, LaneReaderFactory, MqttBroker,
  MqttBus, MqttClient, MqttLaneStream}

/** The lane source under [[MqttBus]]: per-lane driver logs read as one
  * stream, one input partition per non-empty lane per micro-batch,
  * bounded logs that drop the newest line, commit-time trimming, and an
  * at-most-once restart that reads a fresh bus from its end. */
class MqttLaneSourceSpec extends SparkSpec {

  private def lanes(n: Int): IndexedSeq[LaneLog] =
    IndexedSeq.fill(n)(new LaneLog)

  private def rows(b: LaneBlock): Seq[String] = {
    val r = LaneReaderFactory.createReader(b)
    Iterator.continually(r).takeWhile(_.next())
      .map(_.get().getUTF8String(0).toString).toList
  }

  test("one input partition per non-empty lane, each lane's new lines " +
      "as one block read back line by line") {
    val logs = lanes(4)
    Seq("a0", "a1", "a2").foreach(s => logs(0).append(s.getBytes(UTF_8)))
    logs(2).append("c0".getBytes(UTF_8))
    logs(2).append(Array.empty[Byte]) // an empty payload is a line too
    val stream = new MqttLaneStream(logs)
    val first = stream.latestOffset
    val parts = stream.planInputPartitions(stream.initialOffset, first)
      .map(_.asInstanceOf[LaneBlock])
    assert(parts.map(rows).toSeq == Seq(Seq("a0", "a1", "a2"), Seq("c0", "")))
    // the next batch holds only what arrived since, still per lane
    logs(3).append("d0".getBytes(UTF_8))
    logs(0).append("a3".getBytes(UTF_8))
    val next = stream.planInputPartitions(first, stream.latestOffset)
      .map(_.asInstanceOf[LaneBlock])
    assert(next.map(rows).toSeq == Seq(Seq("a3"), Seq("d0")))
    assert(stream.deserializeOffset(first.json) == first)
  }

  test("commit trims each lane log up to the committed offset") {
    val logs = lanes(2)
    (0 until 5).foreach(i => logs(0).append(s"x$i".getBytes(UTF_8)))
    (0 until 3).foreach(i => logs(1).append(s"y$i".getBytes(UTF_8)))
    val stream = new MqttLaneStream(logs)
    val mid = stream.latestOffset
    logs(0).append("x5".getBytes(UTF_8))
    stream.commit(mid)
    assert(logs.map(_.held) == Seq(1, 0))
    assert(logs.map(_.end) == Seq(6L, 3L), "offsets stay absolute")
    val rest = stream.planInputPartitions(mid, stream.latestOffset)
      .map(_.asInstanceOf[LaneBlock])
    assert(rest.map(rows).toSeq == Seq(Seq("x5")))
  }

  test("overflow past the lane cap drops the newest line and counts it") {
    val log = new LaneLog(cap = 3)
    (0 until 5).foreach(i => log.append(s"m$i".getBytes(UTF_8)))
    assert(log.held == 3 && log.dropped == 2 && log.end == 3)
    assert(rows(LaneBlock(log.block(0, log.end))) == Seq("m0", "m1", "m2"))
    log.trim(3) // the query caught up: room again
    log.append("m5".getBytes(UTF_8))
    assert(log.held == 1 && log.dropped == 2 && log.end == 4)
  }

  test("a payload with raw newlines (pretty-printed JSON) is one row, " +
      "parsed, not split into unparseable fragments") {
    val broker = new MqttBroker().start()
    val bus = new MqttBus("127.0.0.1", broker.boundPort, "lane/#",
      clientId = "lane-multiline")
    val got = new ConcurrentLinkedQueue[Long]()
    val q = bus.subscribe(spark).select("event_id").writeStream
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(r.getLong(0)))
      }.start()
    val pub = new MqttClient("127.0.0.1", broker.boundPort, "lane-pub-ml")
      .connect()
    try {
      pub.publish("lane/ev", "{\n  \"event_id\": 7,\n  \"ts_us\": 0,\n" +
        "  \"user_id\": 0,\n  \"event_type\": \"click\",\n" +
        "  \"value\": 1.0,\n  \"props\": \"{}\"\n}")
      // a one-line marker behind it on the same lane: once the marker is
      // read, the pretty-printed event before it has been read too
      pub.publish("lane/ev", """{"event_id":8,"ts_us":0,"user_id":0,""" +
        """"event_type":"click","value":1.0,"props":"{}"}""")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!got.contains(8L) && System.nanoTime() < deadline)
        Thread.sleep(50)
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(got.asScala.toSeq.sorted == Seq(7L, 8L))
    } finally {
      q.stop(); pub.disconnect(); bus.close(); broker.stop()
    }
  }

  test("a query restarted on an existing checkpoint with a fresh bus " +
      "starts from the new log's end instead of throwing") {
    val broker = new MqttBroker().start()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_lane_ckpt").toString
    val got = new ConcurrentLinkedQueue[Long]()
    def start(bus: MqttBus) = bus.subscribe(spark).select("event_id")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(r.getLong(0)))
      }.start()
    val pub = new MqttClient("127.0.0.1", broker.boundPort, "lane-pub")
      .connect()
    def publish(ids: Range): Unit = ids.foreach { k =>
      pub.publish("lane/ev", s"""{"event_id":$k,"ts_us":0,"user_id":0,""" +
        s""""event_type":"click","value":1.0,"props":"{}"}""")
    }
    def await(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (got.size < n && System.nanoTime() < deadline) Thread.sleep(50)
    }
    try {
      val bus1 = new MqttBus("127.0.0.1", broker.boundPort, "lane/#",
        clientId = "lane-bus-1")
      val q1 = start(bus1)
      try {
        publish(0 until 50)
        await(50)
      } finally { q1.stop(); bus1.close() }
      assert(got.size == 50)
      got.clear()
      // the checkpoint holds offset 50; the fresh bus's log is empty
      val bus2 = new MqttBus("127.0.0.1", broker.boundPort, "lane/#",
        clientId = "lane-bus-2")
      val q2 = start(bus2)
      try {
        q2.processAllAvailable() // the empty catch-up batch: 50 -> 0
        publish(100 until 120)
        await(20)
        q2.processAllAvailable()
        assert(q2.exception.isEmpty && q2.isActive)
        assert(got.asScala.toSeq.sorted == (100L until 120L))
      } finally { q2.stop(); bus2.close() }
    } finally {
      pub.disconnect()
      broker.stop()
    }
  }
}
