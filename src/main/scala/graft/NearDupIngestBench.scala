package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{MqttBroker, MqttClient, MqttSink, PartitionedMqttBus}
import graft.streaming.{Monitoring, NearDupStream}

/** End-to-end PARTITIONED streaming pipeline (r11 verdict item #5 — the
  * composition of the two r11 wins): documents published over a live
  * MQTT 3.1.1 broker at QoS 1 through N [[PartitionedMqttBus]] lanes →
  * the full [[NearDupStream.nearDupPairsStream]] ingestion pipeline
  * (signatures → band-bucket keyed state → pair dedup → exact-Jaccard
  * verify) → discovered pairs published BACK to the broker through
  * [[MqttSink]] (per partition on the executors: each pair's `to_json`
  * bytes, built in the plan, sent at QoS 1 through
  * [[MqttClient.publishAll]]'s window of unacknowledged PUBLISHes),
  * counted by an independent subscriber. The producers publish one
  * document at a time, each waiting for its PUBACK.
  *
  * Reports docs/second from first publish to the last doc landing in
  * the pipeline, per lane count: does the WHOLE ingest chain scale with
  * lanes, or only the raw socket path? Honesty rails: the source-row
  * count must equal the published count EXACTLY (numInputRows summed
  * over the query's [[Monitoring]] reports — a lane-log drop fails the
  * run), zero lane-log drops, and the end-to-end pair SET received
  * over MQTT must equal the batch q_dedup_pairs relation on the same
  * corpus (at-least-once duplicates collapse by set identity) — so a
  * faster configuration can never buy its rate with silent loss. Run
  * at BOTH sf0.01 and sf0.1 so fixed drain cost separates from
  * marginal per-doc cost.
  *
  * Run: sbt "runMain graft.NearDupIngestBench [sfDir]"
  * (SPARK_GRAFT_CPUS, default 4).
  */
object NearDupIngestBench {

  private def docJson(id: Long, text: String): String =
    s"""{"event_id":$id,"ts_us":0,"user_id":0,"event_type":"doc",""" +
      s""""value":0.0,"props":"$text"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ndingest").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
      .persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val nDocs = rows.length.toLong
    // ground truth: the batch near-dup relation on the same corpus
    val expected = graft.operators.TextDedup
      .nearDuplicates(docs, threshold = 0.7)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.range(100000L).selectExpr("sum(id)").collect()
    val monitoring = new Monitoring().attach(spark)

    def run(lanes: Int): (Double, Double) = {
      val broker = new MqttBroker().start()
      val bus = new PartitionedMqttBus("127.0.0.1", broker.boundPort,
        "graft/nd", lanes, clientIdPrefix = s"ndin-$lanes")
      val got = java.util.concurrent.ConcurrentHashMap
        .newKeySet[(Long, Long)]()
      val rep = new MqttClient("127.0.0.1", broker.boundPort,
        s"nd-rep-$lanes").connect()
      val pairRe =
        """"id_a"\s*:\s*(\d+).*"id_b"\s*:\s*(\d+)""".r.unanchored
      rep.subscribe("graft/ndpairs/#") { (_, p) =>
        new String(p, UTF_8) match {
          case pairRe(a, b) => got.add((a.toLong, b.toLong)); ()
          case _            => ()
        }
      }
      val stream = bus.subscribe(spark)
        .select(col("event_id").as("doc_id"), col("props").as("text"))
      val pairs = NearDupStream.nearDupPairsStream(stream, docs)
      // fresh checkpoint per run: the socket source keeps no replayable
      // offsets, so resuming a NEW broker session from an old run's
      // checkpoint fails with out-of-order offsets by design
      val q = MqttSink.writer(pairs, "127.0.0.1", broker.boundPort,
          s"$tmp/ckpt_${lanes}_${System.nanoTime()}",
          _ => "graft/ndpairs/out")
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      def landed: Long =
        monitoring.reports(q.id.toString).map(_.numInputRows).sum
      try {
        Thread.sleep(1500) // socket readers must be connected
        val producers = 8
        val t0 = System.nanoTime()
        val threads = (0 until producers).map { pi =>
          val t = new Thread(() => {
            val c = new MqttClient("127.0.0.1", broker.boundPort,
              s"nd-pub-$lanes-$pi").connect()
            try {
              var i = pi
              while (i < rows.length) {
                val (id, text) = rows(i)
                c.publish(PartitionedMqttBus.topicFor("graft/nd", lanes,
                  id, "doc"), docJson(id, text))
                i += producers
              }
            } finally c.disconnect()
          }, s"nd-producer-$pi")
          t.start(); t
        }
        threads.foreach(_.join())
        val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
        while (landed < nDocs && System.nanoTime() < deadline)
          Thread.sleep(50)
        val dt = (System.nanoTime() - t0) / 1e9
        require(landed == nDocs,
          s"lanes=$lanes: landed $landed != published $nDocs " +
            s"(dropped=${bus.dropped}) — loss or dup, run is invalid")
        require(bus.dropped == 0, s"lanes=$lanes: lane-log drops")
        // drain the tail: wait until the received pair set is stable
        var last = -1
        while (got.size != last) { last = got.size; Thread.sleep(1500) }
        val gotSet = {
          import scala.jdk.CollectionConverters._
          got.asScala.toSet
        }
        require(gotSet == expected,
          s"lanes=$lanes: pair set mismatch — got ${gotSet.size} vs " +
            s"batch ${expected.size} " +
            s"(missing=${(expected -- gotSet).take(3)}, " +
            s"extra=${(gotSet -- expected).take(3)})")
        (dt, nDocs / dt)
      } finally {
        try q.stop() catch { case _: Throwable => () }
        rep.disconnect()
        bus.close()
        broker.stop()
      }
    }

    run(1) // throwaway: JVM/codegen/streaming warmup
    // best-of-2 fresh runs per configuration:
    // a 200 ms-trigger pipeline measured over seconds is ±1 trigger
    // noisy, and a GC/retransmit hiccup must not masquerade as a lane
    // scaling cliff
    val results = Seq(1, 2, 4).map { n =>
      val (dt, dps) = Seq(run(n), run(n)).minBy(_._1)
      Console.err.println(
        f"[nd-ingest] lanes=$n%d docs=$nDocs%d ${dt}%.2f s ${dps}%.0f docs/s")
      n -> (dt, dps)
    }
    val json = results.map { case (n, (dt, dps)) =>
      s""""$n":{"sec":$dt,"docs_per_sec":${dps.toLong}}"""
    }.mkString(",")
    println(s"""{"metric":"neardup_ingest_pipeline","docs":$nDocs,""" +
      s""""pairs":${expected.size},"sf":"${sfDir.split('/').last}",""" +
      s""""producers":8,"lanes":{$json}}""")
    spark.stop()
  }
}
