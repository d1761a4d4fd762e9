package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Measuring side of the benchmark (perfbench/run.py drives it). One JVM
  * per run. Every number comes from outside the engine: wall time of the
  * harness's own calls into `graft.*`, plus Spark's public listener and
  * progress APIs (see [[Recorder]]). The harness writes raw records as
  * one JSON file; run.py turns them into metrics and checks outputs.
  *
  * Usage:
  *   Harness list <out.json>
  *   Harness batch <sfDir> <q1,q2,...> <seconds> <trace 0|1> <cpus> <workDir> <out.json>
  *   Harness bus <seed> <seconds> <trace 0|1> <cpus> <workDir> <out.json>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    // exit explicitly: a stray non-daemon thread must not keep the JVM,
    // and with it the run, alive
    val code = try { measure(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def measure(args: Array[String]): Unit = {
    val out = args.last
    val record = args.head match {
      case "list" => Json.obj("modules" -> Inventory.modules,
        "oracle" -> graft.SparkEntry.oracleSql)
      case "batch" =>
        val Array(_, sf, qs, secs, trace, cpus, work, _) = args
        BatchRun.run(sf, qs.split(",").toSeq, secs.toDouble, trace == "1",
          cpus.toInt, work)
      case "bus" =>
        val Array(_, seed, secs, trace, cpus, work, _) = args
        BusRun.run(seed.toLong, secs.toDouble, trace == "1", cpus.toInt,
          work)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.write(Paths.get(out), record.json.getBytes(UTF_8))
  }
}

/** The 18 operator modules that `graft.SparkEntry.queries` unions, each
  * with its own public `queries` map — the sampler's strata. */
object Inventory {
  import graft.operators._
  import graft.plans.TemplateQueries

  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  val byModule: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> Relational.queries, "Scalars" -> Scalars.queries,
    "StreamShapes" -> StreamShapes.queries, "TextOps" -> TextOps.queries,
    "VectorOps" -> VectorOps.queries, "Custom" -> Custom.queries,
    "TemplateQueries" -> TemplateQueries.queries,
    "Extended" -> Extended.queries, "Multimodal" -> Multimodal.queries,
    "Skew" -> Skew.queries, "Breadth" -> Breadth.queries,
    "Quality" -> Quality.queries, "Packing" -> Packing.queries,
    "Corpus" -> Corpus.queries, "EventAnalytics" -> EventAnalytics.queries,
    "Sketches" -> Sketches.queries, "Tpch" -> Tpch.queries,
    "StatsTests" -> StatsTests.queries)

  def modules: Json.Raw = Json.obj(byModule.map { case (m, qs) =>
    m -> qs.keys.toSeq.sorted
  }: _*)
}

/** Shared run plumbing: clocks, session, memory. */
object Run {
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Epoch microseconds on the monotonic clock (Spark's listener times
    * are epoch milliseconds, so both land on one axis). */
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  /** CPU time of this JVM since it started, all threads, in ns. Unlike
    * wall time it leaves out time the hypervisor gave to other guests
    * (steal), so on a shared host it varies much less than wall time. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** CPU time of this JVM's threads by group, in ns, from
    * /proc/self/task: "jit" (C1/C2 compiler threads), "gc" (collector
    * and VM threads) and "app" (all others: the engine, Spark, MQTT). A
    * thread that ended before the call no longer counts. */
  def cpuByGroupNs(): Map[String, Long] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles)
      .getOrElse(Array.empty[java.io.File])
    val perThread = tasks.toSeq.flatMap { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")),
          UTF_8).trim
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")),
          UTF_8)
        // fields after "(comm) ": state is the first, utime and stime
        // the 12th and 13th, in clock ticks of 10 ms
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        val group =
          if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler"))
            "jit"
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ") ||
            comm == "VM Thread") "gc"
          else "app"
        Some(group -> (f(11).toLong + f(12).toLong) * 10000000L)
      } catch { case _: java.io.IOException => None }
    }
    perThread.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** CPU time of the calling thread, in ns. */
  def threadCpuNs(): Long =
    ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** CPU time of the thread with id `id`, in ns. */
  def threadCpuNs(id: Long): Long =
    ManagementFactory.getThreadMXBean.getThreadCpuTime(id)

  def jvmStartUs: Long =
    ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  /** The session settings graft.Bench uses, so numbers relate to the
    * committed bench record; scratch space stays inside `workDir`. */
  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def drain(q: ConcurrentLinkedQueue[Json.Raw]): Json.Raw =
    Json.arr(q.asScala.toSeq)
}

/** Minimal JSON writer; [[Json.Raw]] marks already-rendered JSON. */
object Json {
  final case class Raw(json: String)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) =>
    quote(k) + ":" + render(v)
  }.mkString("{", ",", "}"))
  def arr(vs: Iterable[Any]): Raw = Raw(vs.map(render).mkString("[", ",", "]"))
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case r: Raw => r.json
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).json
    case xs: Iterable[_] => arr(xs).json
    case other => quote(other.toString)
  }
}
