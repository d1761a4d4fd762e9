package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: a compact physical-plan audit of every declared query
  * (join strategies, scan pushdown, codegen, exchanges) so the
  * shuffle/broadcast/pushdown story is reviewable without running Spark.
  * Run: sbt "runMain graft.PlanAudit [sfDir] [outFile]"
  * (outFile defaults to PLANS.md; the r12 dual-SF audit writes
  * PLANS_sf01.md from sf0.1 so size-driven AQE strategy flips are
  * reviewable next to the sf0.001 plans).
  */
object PlanAudit {
  private val interesting = Seq(
    "BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin",
    "ShuffledHashJoin", "CartesianProduct", "WindowGroupLimit", "Window",
    "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "TakeOrderedAndProject", "CollectLimit", "Exchange", "BroadcastExchange",
    "Generate", "Expand", "MapGroups", "WholeStageCodegen")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.local(4, Session.joinPreference)

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of every declared query\n\n")
    sb.append(s"Generated by `graft.PlanAudit` on $sfDir. Per query: the\n")
    sb.append("operator kinds present in the executed plan (exchanges =\n")
    sb.append("shuffles; `pushed` = parquet filter pushdown present).\n\n")
    sb.append("| query | plan operators | scan pushdown |\n|---|---|---|\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val ops = interesting.filter(plan.contains).mkString(", ")
        val pushed = if (plan.contains("PushedFilters: [Is") ||
          plan.contains("PushedFilters: [Greater") ||
          plan.contains("PushedFilters: [Less") ||
          plan.contains("PushedFilters: [Equal")) "pushed" else "—"
        sb.append(s"| $name | $ops | $pushed |\n")
      } catch {
        case e: Throwable =>
          sb.append(s"| $name | ERROR: ${e.getMessage.take(60)} | — |\n")
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile (${SparkEntry.queries.size} queries)")
    spark.stop()
  }
}
