package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only — the driver passes two):
    // comma-separated query names to dump instead of the full set
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // default 32 = the harness's local[32] contract (see Bench)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus, Session.joinPreference)
    new java.io.File(outDir).mkdirs()
    var ok = 0
    var failed = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}"); e.printStackTrace()
      } finally {
        // builders that persist intermediates (clusters, decontaminate,
        // minhash_est) would otherwise accumulate caches across the full
        // 135-query run (ADVICE round 3). Named stages reset WITH the
        // cache (clearCache alone would leave the registry pointing at
        // unpersisted frames, silently losing within-query reuse): each
        // verified query rebuilds its stages fresh — the correctness
        // dump stays per-query isolated, like r9's bench protocol.
        NamedStages.clearAll(spark)
        spark.catalog.clearCache()
      }
    }
    System.err.println(
      s"[verify] dumped $ok queries, $failed failed, " +
        s"${SparkEntry.oracleSql.size} oracle entries")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
