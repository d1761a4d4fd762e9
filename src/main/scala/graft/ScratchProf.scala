package graft

/** Profiler of named declared queries — not part of the driver
  * contract. Splits each query into PLANNING (analysis + optimization +
  * physical planning, driver-side single-threaded) vs EXECUTION (noop
  * sink), best-of-3 each, after the bench's warm-up — tells whether a
  * slow query needs a better plan or a smaller plan. It profiles the
  * declared plan itself, never a hand-built copy of its phases.
  * Usage: sbt "runMain graft.ScratchProf q_a,q_b [sfDir]"
  */
object ScratchProf {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q_corpus_curate_v3"))
    val d = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus, Session.joinPreference)
    Tables.warm(spark, d)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var bestPlan = Double.MaxValue
      var bestExec = Double.MaxValue
      var bestAll = Double.MaxValue
      for (_ <- 1 to 3) {
        CacheScope.scoped {
          val t0 = System.nanoTime()
          val df = fn(spark, d)
          df.queryExecution.executedPlan // force analysis→physical plan
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          bestPlan = math.min(bestPlan, (t1 - t0) / 1e9)
          bestExec = math.min(bestExec, (t2 - t1) / 1e9)
          bestAll = math.min(bestAll, (t2 - t0) / 1e9)
        }
      }
      println(f"PROF $name%-28s plan $bestPlan%6.3f  exec $bestExec%6.3f  total $bestAll%6.3f")
    }
    spark.stop()
  }
}
