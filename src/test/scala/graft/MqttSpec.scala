package graft

import java.io.{EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Mqtt, MqttBroker, MqttClient}

/** MQTT 3.1.1 conformance of the hand-rolled broker/client pair: frame
  * round-trips, wildcard routing, QoS 1 at-least-once with DUP
  * retransmission, and protocol-violation handling. No Spark needed —
  * this is the wire layer under the MqttBus connector. */
class MqttSpec extends AnyFunSuite {

  private def withBroker(f: MqttBroker => Unit): Unit = {
    val b = new MqttBroker().start()
    try f(b) finally b.stop()
  }

  test("varint remaining-length encoder round-trips the spec examples") {
    // spec §2.2.3 boundary table
    val cases = Seq(0 -> 1, 127 -> 1, 128 -> 2, 16383 -> 2, 16384 -> 3,
      2097151 -> 3, 2097152 -> 4, 268435455 -> 4)
    cases.foreach { case (n, expectBytes) =>
      val enc = Mqtt.remainingLength(n)
      assert(enc.length == expectBytes, s"$n should encode in $expectBytes")
      // decode by hand
      var mult = 1; var len = 0
      enc.foreach { d => len += (d & 0x7f) * mult; mult *= 128 }
      assert(len == n)
    }
    intercept[IllegalArgumentException](Mqtt.remainingLength(268435456))
  }

  test("publish/subscribe round-trip at QoS 1: every payload arrives " +
      "exactly once on a healthy connection, topics intact") {
    withBroker { b =>
      val got = new ConcurrentLinkedQueue[(String, String)]()
      val n = 200
      val latch = new CountDownLatch(n)
      val sub = new MqttClient("127.0.0.1", b.boundPort, "sub").connect()
      sub.subscribe("graft/events/#") { (topic, payload) =>
        got.add((topic, new String(payload, UTF_8))); latch.countDown()
      }
      val pub = new MqttClient("127.0.0.1", b.boundPort, "pub").connect()
      (0 until n).foreach(i =>
        pub.publish(s"graft/events/t${i % 3}", s"m$i"))
      assert(latch.await(30, TimeUnit.SECONDS), s"got ${got.size} of $n")
      // healthy connection ⇒ no retransmit fired ⇒ exactly-once here
      Thread.sleep(700) // one retransmit period: late dups would show
      assert(got.size == n)
      val seen = got.toArray(Array.empty[(String, String)]).toSeq
      assert(seen.map(_._2).toSet == (0 until n).map(i => s"m$i").toSet)
      assert(seen.forall { case (t, m) =>
        t == s"graft/events/t${m.drop(1).toInt % 3}" })
      pub.disconnect(); sub.disconnect()
    }
  }

  test("broker routes by MQTT wildcards and delivers once per " +
      "connection for overlapping filters") {
    withBroker { b =>
      val hits = new ConcurrentLinkedQueue[String]()
      val sub = new MqttClient("127.0.0.1", b.boundPort, "w").connect()
      val one = new CountDownLatch(1)
      // overlapping filters on ONE connection: a/+/c and a/#
      sub.subscribe("a/+/c") { (t, _) => hits.add(s"plus:$t") }
      sub.subscribe("a/#") { (t, _) => hits.add(s"hash:$t"); one.countDown() }
      val pub = new MqttClient("127.0.0.1", b.boundPort, "p").connect()
      pub.publish("a/b/c", "x")
      pub.publish("a/b/d", "y") // matches a/# only
      pub.publish("z/b/c", "n") // matches nothing
      assert(one.await(10, TimeUnit.SECONDS))
      Thread.sleep(300) // let everything drain
      val seen = hits.toArray(Array.empty[String]).toSeq.sorted
      // the broker sends a/b/c ONCE; the client dispatches it to both
      // matching local callbacks; a/b/d reaches only the '#' callback
      assert(seen == Seq("hash:a/b/c", "hash:a/b/d", "plus:a/b/c"),
        s"got $seen")
      pub.disconnect(); sub.disconnect()
    }
  }

  test("QoS 1 at-least-once: a subscriber that withholds PUBACK gets a " +
      "DUP=1 retransmission with the same packet id; acking stops it") {
    withBroker { b =>
      // raw hand-rolled subscriber so we control the acks
      val sock = new Socket("127.0.0.1", b.boundPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(Mqtt.packet(Mqtt.CONNECT << 4,
        Mqtt.utf8("MQTT") ++ Array[Byte](4, 2, 0, 60) ++ Mqtt.utf8("raw")))
      out.flush()
      assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.CONNACK)
      out.write(Mqtt.packet((Mqtt.SUBSCRIBE << 4) | 2,
        Array[Byte](0, 1) ++ Mqtt.utf8("dup/t") :+ 1.toByte))
      out.flush()
      assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.SUBACK)
      val pub = new MqttClient("127.0.0.1", b.boundPort, "p").connect()
      pub.publish("dup/t", "hello")
      // first delivery: DUP must be 0
      val (h1, b1) = Mqtt.readPacket(in)
      assert((h1 >> 4) == Mqtt.PUBLISH && ((h1 >> 3) & 1) == 0)
      val (topic1, o1) = Mqtt.readStr(b1, 0)
      val pid1 = Mqtt.readU16(b1, o1)
      assert(topic1 == "dup/t")
      // withhold the PUBACK: the retransmit MUST arrive, DUP=1, same id
      val (h2, b2) = Mqtt.readPacket(in)
      assert((h2 >> 4) == Mqtt.PUBLISH, "expected a retransmission")
      assert(((h2 >> 3) & 1) == 1, "retransmission must set DUP")
      val (_, o2) = Mqtt.readStr(b2, 0)
      assert(Mqtt.readU16(b2, o2) == pid1, "same packet id on redelivery")
      // now ack: no further copies within two retransmit periods
      out.write(Mqtt.packet(Mqtt.PUBACK << 4,
        Array[Byte]((pid1 >> 8).toByte, (pid1 & 0xff).toByte)))
      out.flush()
      sock.setSoTimeout(2 * Mqtt.RetransmitMs.toInt)
      intercept[java.io.IOException](Mqtt.readPacket(in)) // read times out
      pub.disconnect(); sock.close()
    }
  }

  test("protocol hygiene: PINGREQ gets PINGRESP; wrong protocol level " +
      "is refused rc=1; QoS 2 publish fails the connection; oversized " +
      "packets are rejected before allocation") {
    withBroker { b =>
      // ping over a raw connection
      val sock = new Socket("127.0.0.1", b.boundPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(Mqtt.packet(Mqtt.CONNECT << 4,
        Mqtt.utf8("MQTT") ++ Array[Byte](4, 2, 0, 60) ++ Mqtt.utf8("c1")))
      out.flush()
      assert(Mqtt.readPacket(in)._2(1) == 0)
      out.write(Array[Byte]((Mqtt.PINGREQ << 4).toByte, 0)); out.flush()
      assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.PINGRESP)
      // QoS 2 publish → connection failed (EOF on next read)
      out.write(Mqtt.publishPacket("t", "x".getBytes(UTF_8), 2, 7,
        dup = false))
      out.flush()
      intercept[java.io.EOFException] {
        var i = 0
        while (i < 10) { Mqtt.readPacket(in); i += 1 } // drain until EOF
      }
      sock.close()
      // wrong protocol level: CONNACK rc=1
      val s2 = new Socket("127.0.0.1", b.boundPort)
      s2.getOutputStream.write(Mqtt.packet(Mqtt.CONNECT << 4,
        Mqtt.utf8("MQTT") ++ Array[Byte](9, 2, 0, 60) ++ Mqtt.utf8("c2")))
      s2.getOutputStream.flush()
      val (h, body) = Mqtt.readPacket(s2.getInputStream)
      assert((h >> 4) == Mqtt.CONNACK && body(1) == 1)
      s2.close()
      // a declared length over the 1 MiB cap throws before buffering
      val s3 = new Socket("127.0.0.1", b.boundPort)
      s3.getOutputStream.write(Array[Byte](0x30,
        0xff.toByte, 0xff.toByte, 0xff.toByte, 0x7f)) // 268 MB claim
      s3.getOutputStream.flush()
      // broker drops the connection without reading 268 MB
      s3.setSoTimeout(5000)
      assert(s3.getInputStream.read() == -1)
      s3.close()
    }
  }

  test("packet ids (spec §2.3.1): a QoS 1 PUBLISH with id 0 fails its " +
      "connection, and ids wrap 65535 -> 1 so one client's 65,536 QoS 1 " +
      "publishes are all acknowledged") {
    withBroker { b =>
      val sock = new Socket("127.0.0.1", b.boundPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(Mqtt.packet(Mqtt.CONNECT << 4,
        Mqtt.utf8("MQTT") ++ Array[Byte](4, 2, 0, 60) ++ Mqtt.utf8("id0")))
      out.flush()
      assert(Mqtt.readPacket(in)._2(1) == 0)
      out.write(Mqtt.publishPacket("t", "x".getBytes(UTF_8), qos = 1,
        packetId = 0, dup = false))
      out.flush()
      sock.setSoTimeout(5000)
      assert(in.read() == -1, "an id-0 PUBLISH must drop the connection")
      sock.close()
      // the 65,536th publish is the one that would reuse id 0
      val pub = new MqttClient("127.0.0.1", b.boundPort, "wrap").connect()
      val n = 65536
      (1 to n).foreach(i => pub.publish("graft/wrap", s"m$i"))
      // the connection survived the wrap: a SUBSCRIBE still gets its ack
      pub.subscribe("graft/after-wrap")((_, _) => ())
      pub.disconnect()
    }
  }

  test("retained messages (spec §3.3.1.3): a late subscriber is primed " +
      "with the last retained payload per topic under RETAIN=1, live " +
      "fan-out carries RETAIN=0, last-writer-wins, and a zero-byte " +
      "retained publish clears the slot") {
    withBroker { b =>
      val pub = new MqttClient("127.0.0.1", b.boundPort, "rpub").connect()
      // retained announcements on two topics; t1 overwritten once
      pub.publish("graft/ann/t1", "v1-old".getBytes(UTF_8), qos = 1,
        retain = true)
      pub.publish("graft/ann/t1", "v1".getBytes(UTF_8), qos = 1,
        retain = true)
      pub.publish("graft/ann/t2", "v2".getBytes(UTF_8), qos = 1,
        retain = true)
      pub.publish("graft/ann/gone", "x".getBytes(UTF_8), qos = 1,
        retain = true)
      pub.publish("graft/ann/gone", Array.empty[Byte], qos = 1,
        retain = true) // zero-byte clears
      // late subscriber on a RAW socket so the RETAIN bit is observable
      val sock = new Socket("127.0.0.1", b.boundPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(Mqtt.packet(Mqtt.CONNECT << 4,
        Mqtt.utf8("MQTT") ++ Array[Byte](4, 2, 0, 60) ++ Mqtt.utf8("late")))
      out.flush()
      assert(Mqtt.readPacket(in)._2(1) == 0)
      out.write(Mqtt.packet((Mqtt.SUBSCRIBE << 4) | 2,
        Array[Byte](0, 1) ++ Mqtt.utf8("graft/ann/#") :+ 1.toByte))
      out.flush()
      // SUBACK + exactly 2 retained deliveries (t1 current + t2), each
      // with RETAIN=1; ack them so retransmits don't muddy the count
      var suback = false
      var got = Map.empty[String, (String, Boolean)]
      sock.setSoTimeout(3000)
      while (got.size < 2 || !suback) {
        val (h, body) = Mqtt.readPacket(in)
        (h >> 4) match {
          case Mqtt.SUBACK => suback = true
          case Mqtt.PUBLISH =>
            val (topic, o) = Mqtt.readStr(body, 0)
            val pid = Mqtt.readU16(body, o)
            val payload = new String(body, o + 2, body.length - o - 2,
              UTF_8)
            got += topic -> (payload, (h & 0x01) != 0)
            out.write(Mqtt.packet(Mqtt.PUBACK << 4,
              Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte)))
            out.flush()
          case _ => ()
        }
      }
      assert(got == Map(
        "graft/ann/t1" -> ("v1", true),
        "graft/ann/t2" -> ("v2", true)),
        s"retained priming wrong: $got")
      // live publish to the same filter arrives with RETAIN=0
      pub.publish("graft/ann/t3", "live".getBytes(UTF_8), qos = 1,
        retain = false)
      var live: Option[(String, String, Boolean)] = None
      while (live.isEmpty) {
        val (h, body) = Mqtt.readPacket(in)
        if ((h >> 4) == Mqtt.PUBLISH) {
          val (topic, o) = Mqtt.readStr(body, 0)
          val pid = Mqtt.readU16(body, o)
          // a retained delivery acked above can still come back as a
          // DUP retransmission (RETAIN=1) if the broker's retransmit
          // timer fired before the ack landed: ack it, skip it
          if ((h & 0x08) == 0 && topic == "graft/ann/t3")
            live = Some((topic,
              new String(body, o + 2, body.length - o - 2, UTF_8),
              (h & 0x01) != 0))
          out.write(Mqtt.packet(Mqtt.PUBACK << 4,
            Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte)))
          out.flush()
        }
      }
      assert(live.contains(("graft/ann/t3", "live", false)),
        s"live delivery must carry RETAIN=0: $live")
      sock.close()
      pub.disconnect()
    }
  }

  test("retained publish is stored before its PUBACK (spec §4.3.2): a " +
      "subscriber that subscribes right after a QoS 1 retained publish " +
      "is acknowledged is primed with that value, every time") {
    withBroker { b =>
      def connect(id: String): Socket = {
        val s = new Socket("127.0.0.1", b.boundPort)
        s.setTcpNoDelay(true)
        s.setSoTimeout(5000)
        s.getOutputStream.write(Mqtt.packet(Mqtt.CONNECT << 4,
          Mqtt.utf8("MQTT") ++ Array[Byte](4, 2, 0, 60) ++ Mqtt.utf8(id)))
        s.getOutputStream.flush()
        assert(Mqtt.readPacket(s.getInputStream)._2(1) == 0)
        s
      }
      // raw publisher: its PUBACK is read on this thread, so the
      // SUBSCRIBE below follows the ack with no thread hand-off between
      val pub = connect("race-pub")
      val rounds = 2000
      val stale = Seq.newBuilder[(Int, String)]
      (1 to rounds).foreach { i =>
        // connected before the publish so only the SUBSCRIBE races it
        val sub = connect(s"race-sub-$i")
        try {
          pub.getOutputStream.write(Mqtt.publishPacket("graft/race/t",
            s"v$i".getBytes(UTF_8), qos = 1, packetId = 1 + i % 65535,
            dup = false, retain = true))
          pub.getOutputStream.flush()
          assert((Mqtt.readPacket(pub.getInputStream)._1 >> 4)
            == Mqtt.PUBACK)
          // QoS 0 subscription: the retained copy arrives without an id
          sub.getOutputStream.write(Mqtt.packet((Mqtt.SUBSCRIBE << 4) | 2,
            Array[Byte](0, 1) ++ Mqtt.utf8("graft/race/t") :+ 0.toByte))
          sub.getOutputStream.flush()
          var primed: Option[String] = None
          while (primed.isEmpty) {
            val (h, body) = Mqtt.readPacket(sub.getInputStream)
            if ((h >> 4) == Mqtt.SUBACK) {
              // the retained copy trails the SUBACK on the broker's
              // socket; a PINGREQ acks the SUBACK segment at once, so
              // the copy is not held back by delayed-ACK coalescing
              sub.getOutputStream.write(
                Array[Byte]((Mqtt.PINGREQ << 4).toByte, 0))
              sub.getOutputStream.flush()
            } else if ((h >> 4) == Mqtt.PUBLISH) {
              val (_, o) = Mqtt.readStr(body, 0)
              primed = Some(new String(body, o, body.length - o, UTF_8))
            }
          }
          if (!primed.contains(s"v$i")) stale += ((i, primed.get))
        } finally sub.close()
      }
      val bad = stale.result()
      assert(bad.isEmpty, s"${bad.size} of $rounds late subscribers were " +
        s"primed with a stale retained value, e.g. ${bad.take(5)}")
      pub.close()
    }
  }

  test("SUBSCRIBE → SUBACK + retained PUBLISH is not held back by the " +
      "subscriber's delayed ACK: median round well under 40 ms over 50 " +
      "rounds") {
    withBroker { b =>
      val pub = new MqttClient("127.0.0.1", b.boundPort, "nodelay-pub")
        .connect()
      pub.publish("graft/nodelay/t", "v".getBytes(UTF_8), qos = 1,
        retain = true)
      val rounds = 50
      val ms = (1 to rounds).map { i =>
        val s = new Socket("127.0.0.1", b.boundPort)
        try {
          // only the broker's two back-to-back writes are under test
          s.setTcpNoDelay(true)
          s.setSoTimeout(5000)
          val (out, in) = (s.getOutputStream, s.getInputStream)
          out.write(Mqtt.packet(Mqtt.CONNECT << 4, Mqtt.utf8("MQTT") ++
            Array[Byte](4, 2, 0, 60) ++ Mqtt.utf8(s"nodelay-sub-$i")))
          out.flush()
          assert(Mqtt.readPacket(in)._2(1) == 0)
          val t0 = System.nanoTime()
          out.write(Mqtt.packet((Mqtt.SUBSCRIBE << 4) | 2,
            Array[Byte](0, 1) ++ Mqtt.utf8("graft/nodelay/t") :+ 0.toByte))
          out.flush()
          assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.SUBACK)
          assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.PUBLISH)
          (System.nanoTime() - t0) / 1e6
        } finally s.close()
      }
      val median = ms.sorted.apply(rounds / 2)
      assert(median < 10.0, f"median SUBSCRIBE round $median%.1f ms; " +
        s"rounds (ms): ${ms.map(m => f"$m%.1f").mkString(" ")}")
      pub.disconnect()
    }
  }

  test("retained-topic cap: the publish creating topic 4097 fails its " +
      "connection loudly (no unbounded broker memory), overwrites under " +
      "the cap still succeed, and the broker keeps serving others") {
    withBroker { b =>
      val pub = new MqttClient("127.0.0.1", b.boundPort, "cap-pub")
        .connect()
      (0 until Mqtt.MaxRetainedTopics).foreach(i =>
        pub.publish(s"graft/cap/t$i", "x".getBytes(UTF_8), qos = 1,
          retain = true))
      // overwriting an EXISTING retained topic is always fine
      pub.publish("graft/cap/t0", "y".getBytes(UTF_8), qos = 1,
        retain = true)
      // the 4097th NEW retained topic kills the offending connection:
      // raw socket so the EOF is observable
      val sock = new Socket("127.0.0.1", b.boundPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(Mqtt.packet(Mqtt.CONNECT << 4,
        Mqtt.utf8("MQTT") ++ Array[Byte](4, 2, 0, 60)
          ++ Mqtt.utf8("cap-over")))
      out.flush()
      assert(Mqtt.readPacket(in)._2(1) == 0)
      out.write(Mqtt.publishPacket("graft/cap/overflow",
        "z".getBytes(UTF_8), qos = 0, packetId = 0, dup = false,
        retain = true))
      out.flush()
      sock.setSoTimeout(5000)
      assert(in.read() == -1, "overflowing connection must be dropped")
      sock.close()
      // the healthy publisher and the store survive: a late subscriber
      // still gets the overwritten t0
      val got = new ConcurrentLinkedQueue[String]()
      val latch = new CountDownLatch(1)
      val sub = new MqttClient("127.0.0.1", b.boundPort, "cap-sub")
        .connect()
      sub.subscribe("graft/cap/t0") { (_, p) =>
        got.add(new String(p, UTF_8)); latch.countDown()
      }
      assert(latch.await(10, TimeUnit.SECONDS))
      assert(got.toArray(Array.empty[String]).toSeq == Seq("y"))
      sub.disconnect(); pub.disconnect()
    }
  }

  /** A raw-socket broker for one client: `client` runs on its own thread
    * once the peer's CONNACK (`connack`) is out; `peer` then reads and
    * acks by hand. Returns what the client thread threw, if anything. */
  private def withRawBroker(client: Int => Unit,
      connack: Array[Byte] = Array[Byte]((Mqtt.CONNACK << 4).toByte, 2, 0, 0))
      (peer: Socket => Unit): Option[Throwable] = {
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val thrown = new AtomicReference[Throwable]
    val t = new Thread(() =>
      try client(server.getLocalPort)
      catch { case e: Throwable => thrown.set(e) }, "raw-broker-client")
    t.setDaemon(true)
    t.start()
    val sock = server.accept()
    try {
      sock.setSoTimeout(20000)
      val (in, out) = (sock.getInputStream, sock.getOutputStream)
      assert((Mqtt.readPacket(in)._1 >> 4) == Mqtt.CONNECT)
      out.write(connack)
      out.flush()
      peer(sock)
      t.join(30000)
      assert(!t.isAlive, "client thread did not finish")
    } finally { sock.close(); server.close() }
    Option(thrown.get)
  }

  /** (packet id, DUP flag, payload) of a QoS 1 PUBLISH read from `in`. */
  private def readPublish(in: InputStream): (Int, Boolean, String) = {
    val (h, b) = Mqtt.readPacket(in)
    publishFields(h, b)
  }

  private def publishFields(h: Int, b: Array[Byte]): (Int, Boolean, String) = {
    assert((h >> 4) == Mqtt.PUBLISH && ((h >> 1) & 3) == 1,
      s"expected a QoS 1 PUBLISH, got header $h")
    val (_, o) = Mqtt.readStr(b, 0)
    (Mqtt.readU16(b, o), ((h >> 3) & 1) == 1,
      new String(b, o + 2, b.length - o - 2, UTF_8))
  }

  private def puback(out: OutputStream, id: Int): Unit = {
    out.write(Mqtt.packet(Mqtt.PUBACK << 4,
      Array[Byte]((id >> 8).toByte, (id & 0xff).toByte)))
    out.flush()
  }

  test("publishAll pipelines QoS 1: never more than PublishWindow (512) " +
      "PUBLISHes unacknowledged, a withheld PUBACK brings the packet back " +
      "with DUP=1 and its id, and the call returns only after the last " +
      "PUBACK") {
    val n = 2000
    val returned = new CountDownLatch(1)
    val thrown = withRawBroker { port =>
      val c = new MqttClient("127.0.0.1", port, "pipelined").connect()
      c.publishAll("graft/out",
        Iterator.range(0, n).map(i => s"m$i".getBytes(UTF_8)))
      returned.countDown()
      c.disconnect()
    } { sock =>
      val (in, out) = (sock.getInputStream, sock.getOutputStream)
      val got = scala.collection.mutable.Set.empty[String]
      val seen = scala.collection.mutable.Set.empty[Int]
      val unacked = scala.collection.mutable.Set.empty[Int]
      def receive(): (Int, Boolean) = {
        val (id, dup, payload) = readPublish(in)
        if (!dup) {
          assert(!seen(id), s"id $id sent twice without DUP")
          seen += id
          unacked += id
          got += payload
        } else assert(seen(id), s"DUP of an id never sent: $id")
        assert(unacked.size <= Mqtt.PublishWindow,
          s"${unacked.size} PUBLISHes unacknowledged")
        (id, dup)
      }
      // fill the window without acking: only retransmits may follow
      while (unacked.size < Mqtt.PublishWindow) receive()
      val withheld = unacked.min
      sock.setSoTimeout(300)
      try while (true) assert(receive()._2, "a new PUBLISH past the window")
      catch { case _: java.net.SocketTimeoutException => () }
      sock.setSoTimeout(20000)
      // ack all but one, then every later packet at once
      unacked.filter(_ != withheld).foreach { id =>
        puback(out, id); unacked -= id }
      var sawDup = false
      while (got.size < n || !sawDup) {
        val (id, dup) = receive()
        if (id == withheld) sawDup ||= dup
        else { puback(out, id); unacked -= id }
      }
      assert(unacked == Set(withheld))
      assert(returned.getCount == 1,
        "publishAll returned before its last PUBACK")
      puback(out, withheld)
      assert(returned.await(10, TimeUnit.SECONDS),
        "publishAll did not return after its last PUBACK")
      assert(got == (0 until n).map(i => s"m$i").toSet)
    }
    assert(thrown.isEmpty, s"client threw $thrown")
  }

  test("publishAll gives up on a PUBACK that never comes: 20 DUP=1 " +
      "retransmits of the packet, then an IOException") {
    val thrown = withRawBroker { port =>
      val c = new MqttClient("127.0.0.1", port, "unacked").connect()
      try c.publishAll("graft/out", Iterator.single("x".getBytes(UTF_8)))
      finally c.disconnect()
    } { sock =>
      val in = sock.getInputStream
      val (id, dup, _) = readPublish(in)
      assert(!dup)
      // the client disconnects when it gives up
      val copies = Iterator.continually(Mqtt.readPacket(in))
        .takeWhile { case (h, _) => (h >> 4) != Mqtt.DISCONNECT }
        .map { case (h, b) => publishFields(h, b) }.toSeq
      assert(copies.forall { case (again, d, _) => again == id && d },
        "only DUP=1 copies of the one packet")
      assert(copies.size == Mqtt.MaxRetransmits)
    }
    assert(thrown.exists(_.isInstanceOf[java.io.IOException]),
      s"expected an IOException, got $thrown")
  }

  test("the client fails the connection on a malformed PUBLISH as the " +
      "broker does: QoS 3, QoS 2 or packet id 0 at QoS 1 closes it " +
      "without running the callback or sending a PUBACK") {
    Seq((3, 7), (2, 7), (1, 0)).foreach { case (qos, id) =>
      val calls = new AtomicInteger
      val client = new AtomicReference[MqttClient]
      val thrown = withRawBroker { port =>
        client.set(new MqttClient("127.0.0.1", port, s"bad-$qos").connect())
        client.get.subscribe("graft/in/#")((_, _) => calls.incrementAndGet())
      } { sock =>
        val (in, out) = (sock.getInputStream, sock.getOutputStream)
        val (h, b) = Mqtt.readPacket(in)
        assert((h >> 4) == Mqtt.SUBSCRIBE)
        out.write(Mqtt.packet(Mqtt.SUBACK << 4, b.take(2) :+ 1.toByte))
        out.write(Mqtt.publishPacket("graft/in/t", "x".getBytes(UTF_8),
          qos, id, dup = false))
        out.flush()
        sock.setSoTimeout(5000)
        val next =
          try s"packet type ${Mqtt.readPacket(in)._1 >> 4}"
          catch {
            case _: EOFException => "EOF"
            case _: SocketTimeoutException => "nothing within 5 s"
          }
        assert(next == "EOF", s"QoS $qos id $id: expected EOF, got $next")
      }
      Option(client.get).foreach(_.disconnect())
      assert(thrown.isEmpty, s"QoS $qos id $id: client threw $thrown")
      assert(calls.get == 0, s"QoS $qos id $id: the callback ran")
    }
  }

  test("a CONNACK body shorter than 2 bytes makes connect() throw an " +
      "IOException") {
    val thrown = withRawBroker(
      port => new MqttClient("127.0.0.1", port, "short-connack").connect(),
      connack = Array[Byte]((Mqtt.CONNACK << 4).toByte, 1, 0))(_ => ())
    assert(thrown.exists(_.isInstanceOf[java.io.IOException]),
      s"expected an IOException, got $thrown")
  }
}
