package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLongArray}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.sources.{MqttBroker, MqttClient, MqttSink, PartitionedMqttBus}
import graft.streaming.EventPipelines

/** The bus workload, nyuki's hot path: seeded events published over MQTT
  * to the in-process broker → [[PartitionedMqttBus]] (one lane per core)
  * → `EventPipelines.dedup` → `EventPipelines.trigger` →
  * `MqttSink.publishBatch` (called from the harness's own foreachBatch)
  * → one subscriber that timestamps each result.
  *
  * One generator thread publishes from a precomputed schedule and
  * re-sends a seeded share of event_ids, as QoS 1 redelivery would.
  * Set-up: a small burst that must arrive (compiles the plan), then the
  * first third of the paced phase. Phase 1 (timed): the rest of an open
  * loop at `Rate` events/s, published at QoS 1, that lasts three
  * quarters of `seconds` in all. Latency runs from each event's scheduled
  * send time, stamped in its payload, so a stalled generator cannot hide
  * a stall. Phase 2: a burst
  * of `Burst` events published at QoS 0, so the generator does not wait
  * on acknowledgements and the drain rate (unique events ÷ (last result
  * − first publish)) measures the pipeline. The burst stays far below
  * the bridge's 131072-line buffer per lane. The result subscriber uses
  * QoS 0, so the broker never redelivers to it and any repeated arrival
  * is a duplicate the pipeline let through.
  */
object BusRun {
  val Rate = 1000
  val Burst = 50000
  val WarmUp = 400
  val DupShare = 0.05
  val TriggerType = "alarm"
  /** Micro-batch interval. At the paced rate a micro-batch takes less,
    * so each interval handles a fixed share of the load; in the burst
    * micro-batches take longer and run back to back. */
  val TriggerMs = 1000L
  private val Types = Array("alarm", "alarm", "alarm", "heartbeat")

  /** One scheduled publish. `dup` marks a re-send of an earlier id. */
  final case class Send(id: Int, dueUs: Long, dup: Boolean)

  def run(seed: Long, seconds: Double, trace: Boolean, cpus: Int,
      workDir: String): Json.Raw = {
    val spark = Run.session(cpus, workDir)
    val codegen0 = WholeStageCodegenExec.codeGenTime
    val rec = new Recorder(defaultTag = "bus")
    if (trace) spark.sparkContext.addSparkListener(rec)
    val progress = new ConcurrentLinkedQueue[Json.Raw]()
    val rowsRead = new java.util.concurrent.atomic.AtomicLong()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent) = {
        rowsRead.addAndGet(e.progress.numInputRows)
        progress.add(Json.Raw(e.progress.json))
      }
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent) = ()
    })

    val rnd = new SplittableRandom(seed)
    // paced phase: three quarters of `seconds`, its first third set-up
    val pacedN = math.max(3, (Rate * seconds * 3 / 4).toInt)
    val total = WarmUp + pacedN + Burst
    val types = Array.fill(total)(Types(rnd.nextInt(Types.length)))
    val users = Array.fill(total)(rnd.nextInt(1000))
    val values = Array.fill(total)(rnd.nextInt(100000) / 100.0)
    val isDup = Array.fill(total)(rnd.nextDouble() < DupShare)
    // resends trail their original: 20-400 ms in phase 1, 10-2000
    // positions in the burst (often in a later micro-batch, so the
    // state store rather than the batch itself must catch them)
    val dupLagMs = Array.fill(total)(20 + rnd.nextInt(380))
    val dupLagPos = Array.fill(total)(10 + rnd.nextInt(1990))

    val firstArrival = new AtomicLongArray(total)
    val arrivals = new AtomicIntegerArray(total)
    val stampedDue = new AtomicLongArray(total)
    val dueUs = new AtomicLongArray(total)
    val sentUs = new AtomicLongArray(total)
    val stray = new java.util.concurrent.atomic.AtomicLong()
    val published = new java.util.concurrent.atomic.AtomicLong()

    val broker = new MqttBroker().start()
    val port = broker.boundPort
    val bus = new PartitionedMqttBus("127.0.0.1", port, "perfbench/in",
      cpus, "perfbench-lane")
    val sub = new MqttClient("127.0.0.1", port, "perfbench-sub").connect()
    val pub = new MqttClient("127.0.0.1", port, "perfbench-gen").connect()
    val publishes = new ConcurrentLinkedQueue[Json.Raw]()
    val generator = Thread.currentThread.getId
    val ckpt = s"$workDir/checkpoint"
    val query = EventPipelines.trigger(
      EventPipelines.dedup(bus.subscribe(spark)), TriggerType)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = Run.nowUs()
        // JVM CPU so far, less the generator's: consecutive batches give
        // the CPU of one trigger interval
        val cpu = Run.cpuNs() - Run.threadCpuNs(generator)
        MqttSink.publishBatch(batch, "127.0.0.1", port, "perfbench/out")
        publishes.add(Json.obj("batch" -> batchId, "start_us" -> t0,
          "end_us" -> Run.nowUs(), "cpu_ns" -> cpu))
        ()
      }.start()
    try {
      sub.subscribe("perfbench/out", qos = 0) { (_, payload) =>
        val now = Run.nowUs()
        val line = new String(payload, UTF_8)
        val id = longAfter(line, "\"event_id\":")
        if (id < 0 || id >= total) stray.incrementAndGet()
        else {
          val i = id.toInt
          if (arrivals.getAndIncrement(i) == 0) {
            firstArrival.set(i, now)
            stampedDue.set(i, longAfter(line, "\"props\":\"d:"))
          }
        }
      }

      def payload(i: Int, dueUs: Long): Array[Byte] =
        (s"""{"event_id":$i,"ts_us":$dueUs,"user_id":${users(i)},""" +
          s""""event_type":"${types(i)}","value":${values(i)},""" +
          s""""props":"d:$dueUs"}""").getBytes(UTF_8)
      def publish(plan: Seq[Send], paced: Boolean, qos: Int): Unit =
        plan.foreach { s =>
          if (paced) {
            var wait = s.dueUs - Run.nowUs()
            while (wait > 0) {
              if (wait > 200) LockSupport.parkNanos((wait - 100) * 1000L)
              wait = s.dueUs - Run.nowUs()
            }
          }
          val t = Run.nowUs()
          pub.publish(PartitionedMqttBus.topicFor("perfbench/in", cpus,
            s.id.toLong), payload(s.id, s.dueUs), qos)
          published.incrementAndGet()
          if (!s.dup) { dueUs.set(s.id, s.dueUs); sentUs.set(s.id, t) }
        }
      def expected(ids: Range): Seq[Int] = ids.filter(types(_) == TriggerType)
      def await(ids: Seq[Int], timeoutS: Double): Long = {
        val deadline = Run.nowUs() + (timeoutS * 1e6).toLong
        while (ids.exists(firstArrival.get(_) == 0L) &&
          Run.nowUs() < deadline) Thread.sleep(5)
        if (ids.isEmpty) Run.nowUs() else ids.map(firstArrival.get).max
      }

      // warm-up burst (set-up): compiles the micro-batch plan end to end
      val warm = 0 until WarmUp
      val t0 = Run.nowUs()
      publish(burstPlan(warm, t0, isDup, dupLagPos), paced = false, 1)
      await(expected(warm), 60)

      val paced = WarmUp until WarmUp + pacedN
      val pacedStart = Run.nowUs() + 50000L
      val plan1 = paced.flatMap { i =>
        val due = pacedStart + (i - WarmUp) * 1000000L / Rate
        Send(i, due, dup = false) +:
          (if (isDup(i)) Seq(Send(i, due + dupLagMs(i) * 1000L, dup = true))
           else Nil)
      }.sortBy(_.dueUs)
      // the first third of the paced phase is set-up: it lets the
      // micro-batch loop reach its steady cadence before timing starts
      val p1 = WarmUp + pacedN / 3 until WarmUp + pacedN
      val p1Start = pacedStart + (p1.start - WarmUp) * 1000000L / Rate
      publish(plan1.filter(_.dueUs < p1Start), paced = true, 1)
      val setupEndUs = Run.nowUs()
      val setupCpuNs = Run.cpuNs()
      val groups0 = Run.cpuByGroupNs()
      val codegenSetupNs = WholeStageCodegenExec.codeGenTime - codegen0
      // CPU of each phase: the whole JVM from the phase's first publish
      // until its last result arrived, less the generator's own thread
      val gen1 = Run.threadCpuNs()
      publish(plan1.filter(_.dueUs >= p1Start), paced = true, 1)
      val p1End = Run.nowUs()
      await(expected(paced), 30)
      val p1CpuNs = Run.cpuNs() - setupCpuNs - (Run.threadCpuNs() - gen1)
      val groups1 = Run.cpuByGroupNs()

      val p2 = WarmUp + pacedN until total
      val p2Start = Run.nowUs()
      val cpu2 = Run.cpuNs()
      val gen2 = Run.threadCpuNs()
      publish(burstPlan(p2, p2Start, isDup, dupLagPos), paced = false, 0)
      val p2Last = await(expected(p2), 60)
      val p2CpuNs = Run.cpuNs() - cpu2 - (Run.threadCpuNs() - gen2)
      // the burst's last resends trail its last originals: wait until the
      // stream has read every published message (at most 15 s), so that
      // each resend meets the deduplication before the query stops
      val drained = Run.nowUs() + 15000000L
      while (rowsRead.get < published.get && Run.nowUs() < drained)
        Thread.sleep(20)
      Thread.sleep(300) // lets a late duplicate, if any, show up

      query.stop()
      val peakRssKb = Run.peakRssKb()
      spark.stop() // flushes the listener buses into `progress` and `rec`
      val rows = (0 until total).map { i =>
        Seq(i, types(i) == TriggerType, isDup(i), dueUs.get(i),
          sentUs.get(i), stampedDue.get(i), firstArrival.get(i),
          arrivals.get(i))
      }
      Json.obj("jvm_start_us" -> Run.jvmStartUs, "setup_end_us" -> setupEndUs,
        "setup_cpu_ns" -> setupCpuNs, "setup_cpu_groups_ns" -> groups0,
        "phase1_cpu_groups_ns" -> groups1.map { case (g, v) =>
          g -> (v - groups0.getOrElse(g, 0L)) },
        "phase1" -> Json.obj("start_us" -> p1Start, "end_us" -> p1End,
          "cpu_ns" -> p1CpuNs, "rate" -> Rate, "first_id" -> p1.start,
          "end_id" -> p1.end),
        "phase2" -> Json.obj("start_us" -> p2Start,
          "last_arrival_us" -> p2Last, "cpu_ns" -> p2CpuNs,
          "first_id" -> p2.start, "end_id" -> p2.end),
        "bridge_dropped" -> bus.dropped,
        "stray_arrivals" -> stray.get,
        "events_columns" -> Seq("id", "triggered", "dup", "due_us",
          "sent_us", "stamped_due_us", "first_arrival_us", "arrivals"),
        "events" -> rows, "peak_rss_kb" -> peakRssKb,
        "codegen_setup_ns" -> codegenSetupNs,
        "progress" -> Run.drain(progress),
        "publishes" -> Run.drain(publishes),
        "jobs" -> Run.drain(rec.jobs), "stages" -> Run.drain(rec.stages),
        "tasks" -> Run.drain(rec.tasks))
    } finally {
      try query.stop() catch { case _: Throwable => () }
      pub.disconnect()
      sub.disconnect()
      bus.close()
      broker.stop()
      spark.stop()
    }
  }

  /** Burst schedule: every original due at `startUs`, each resend
    * `dupLagPos` positions after its original. */
  def burstPlan(ids: Range, startUs: Long, isDup: Array[Boolean],
      dupLagPos: Array[Int]): Seq[Send] = {
    val order = ids.flatMap { i =>
      val pos = (i - ids.start).toLong
      (pos, Send(i, startUs, dup = false)) +:
        (if (isDup(i)) Seq((pos + dupLagPos(i), Send(i, startUs, dup = true)))
         else Nil)
    }
    order.sortBy(_._1).map(_._2)
  }

  private def longAfter(s: String, key: String): Long = {
    val k = s.indexOf(key)
    if (k < 0) -1L
    else {
      var j = k + key.length
      var v = 0L
      while (j < s.length && Character.isDigit(s.charAt(j))) {
        v = v * 10 + (s.charAt(j) - '0'); j += 1
      }
      v
    }
  }
}
