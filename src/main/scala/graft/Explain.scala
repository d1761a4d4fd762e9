package graft

/** Plan-inspection entry point: prints the formatted physical plan of one
  * (or every) declared query so scan pruning / pushdown / join strategy /
  * codegen spans can be audited. Usage:
  *   sbt "runMain graft.Explain q_scan_pruned [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_scan_pruned")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4, Session.joinPreference)
    val names = if (name == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else Seq(name)
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
