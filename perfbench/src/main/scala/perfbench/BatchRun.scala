package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.{CacheScope, NamedStages, Tables}

/** The batch workload: one client thread runs the sampled queries in a
  * closed loop, each exactly as graft.Bench times it
  * (`CacheScope.scoped { fn(spark, sf).write.format("noop")... }`).
  *
  * Set-up (untimed): session, one read-through of every base table, and
  * one warm-up pass over the sample that writes each result as parquet
  * for the oracle check. Timed: passes over the sample until `seconds`
  * have passed (at least one whole pass; a pass cut by the deadline
  * still contributes its query latencies and CPU times). In a traced
  * run, odd passes
  * run with the [[Recorder]] registered and even passes without it
  * (at least untraced, traced, untraced), so the same run yields the
  * tracing overhead.
  */
object BatchRun {
  def run(sfDir: String, sample: Seq[String], seconds: Double,
      trace: Boolean, cpus: Int, workDir: String): Json.Raw = {
    val spark = Run.session(cpus, workDir)
    val sc = spark.sparkContext
    val fns = Inventory.byModule.flatMap(_._2).toMap
    val rec = new Recorder()
    if (trace) {
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    def tag(t: String, phase: String): Unit = {
      sc.setLocalProperty(Recorder.Tag, t)
      sc.setLocalProperty(Recorder.Phase, phase)
    }

    tag("setup", "setup")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach { n =>
      Tables.table(spark, sfDir, n).write.format("noop").mode("overwrite")
        .save()
    }
    val codegen0 = WholeStageCodegenExec.codeGenTime
    val warmup = sample.map { name =>
      val err = try {
        CacheScope.scoped {
          fns(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$workDir/results/$name")
        }
        None
      } catch { case NonFatal(e) => Some(e.toString) }
      Json.obj("name" -> name, "error" -> err)
    }
    val codegenSetupNs = WholeStageCodegenExec.codeGenTime - codegen0
    val setupEndUs = Run.nowUs()
    val setupCpuNs = Run.cpuNs()
    val groups0 = Run.cpuByGroupNs()

    val queries = ArrayBuffer.empty[Json.Raw]
    val deadline = setupEndUs + (seconds * 1e6).toLong
    var pass = 0
    val codegen1 = WholeStageCodegenExec.codeGenTime
    val minPasses = if (trace) 3 else 1
    while (pass < minPasses || Run.nowUs() < deadline) {
      val traced = trace && pass % 2 == 1
      if (trace) {
        // the recorder is on only for traced passes; the pause
        // (between passes, untimed) lets the asynchronous listener bus
        // deliver the last traced query's events before removal
        if (traced) {
          sc.addSparkListener(rec); spark.listenerManager.register(rec)
        } else {
          Thread.sleep(300)
          sc.removeSparkListener(rec)
          spark.listenerManager.unregister(rec)
        }
      }
      val next = sample.zipWithIndex.iterator
      while (next.hasNext && (pass < minPasses || Run.nowUs() < deadline)) {
        val (name, i) = next.next()
        val id = s"$pass:$i"
        tag(id, "build")
        val start = Run.nowUs()
        val cpu0 = Run.cpuNs()
        var built = -1L
        var persisted = 0
        val err = try {
          CacheScope.scoped {
            val before = sc.getPersistentRDDs.size
            val df = fns(name)(spark, sfDir)
            built = Run.nowUs()
            tag(id, "write")
            df.write.format("noop").mode("overwrite").save()
            persisted = sc.getPersistentRDDs.size - before
          }
          None
        } catch { case NonFatal(e) => Some(e.toString) }
        queries += Json.obj("id" -> id, "name" -> name, "pass" -> pass,
          "traced" -> traced, "start_us" -> start, "built_us" -> built,
          "end_us" -> Run.nowUs(), "cpu_ns" -> (Run.cpuNs() - cpu0),
          "persisted" -> persisted,
          "error" -> err)
      }
      pass += 1
    }
    val timedEndUs = Run.nowUs()
    val timedCpuNs = Run.cpuNs() - setupCpuNs
    val groups1 = Run.cpuByGroupNs()
    val codegenTimedNs = WholeStageCodegenExec.codeGenTime - codegen1
    tag("teardown", "teardown")
    val stagesBuildS = NamedStages.buildSeconds(spark).values.sum
    spark.stop() // flushes the listener bus
    Json.obj("sf_dir" -> sfDir, "sample" -> sample, "jvm_start_us" -> Run.jvmStartUs,
      "setup_end_us" -> setupEndUs, "setup_cpu_ns" -> setupCpuNs,
      "timed_end_us" -> timedEndUs, "timed_cpu_ns" -> timedCpuNs,
      "setup_cpu_groups_ns" -> groups0,
      "timed_cpu_groups_ns" -> groups1.map { case (g, v) =>
        g -> (v - groups0.getOrElse(g, 0L)) },
      "codegen_setup_ns" -> codegenSetupNs,
      "codegen_timed_ns" -> codegenTimedNs,
      "stages_build_s" -> stagesBuildS, "peak_rss_kb" -> Run.peakRssKb(),
      "warmup" -> warmup, "queries" -> queries.toSeq,
      "jobs" -> Run.drain(rec.jobs), "stages" -> Run.drain(rec.stages),
      "tasks" -> Run.drain(rec.tasks),
      "executions" -> Run.drain(rec.executions))
  }
}
