package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.NearDupStream

/** Per-stage decomposition of the streaming near-dup ingest pipeline
  * (r10 verdict item #3): the 1.6–2.7k docs/s StreamBench number was a
  * single end-to-end lower bound — this main splits it so the 100 TB
  * story rests on measured stages, not a mystery total.
  *
  * Stages (each its own AvailableNow drain over the SAME 16-file doc
  * replay, best-of-2 with fresh checkpoints):
  *   sig     — stateless shingle → MinHash → band explode only;
  *   state   — sig + the per-band-bucket flatMapGroupsWithState upsert
  *             (candidate emission, no verify);
  *   full    — the shipped nearDupPairsStream (adds pair-dedup state +
  *             the stream-static exact-Jaccard verify join);
  *   presig  — `full` minus ingest-side signatures: the doc stream
  *             replays as PRECOMPUTED (band, doc_id) rows (the shape a
  *             100 TB deployment materializes at collection time);
  *   rocksdb — `full` under the RocksDB state-store provider (the
  *             spill-safe store the TWS sessionize path already uses).
  *
  * Run: sbt "runMain graft.NearDupProf [sfDir]" (SPARK_GRAFT_CPUS=4
  * default — the StreamBench measurement contract).
  */
object NearDupProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val tmp = java.nio.file.Files.createTempDirectory("graft_ndprof")
      .toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docSrcDir = s"$tmp/docsrc"
    docs.repartition(16).write.mode("overwrite").parquet(docSrcDir)
    val nDocs = docs.count()
    val docStore = docs
    // precomputed banded signatures, replayed as their own stream
    val bandSrcDir = s"$tmp/bandsrc"
    NearDupStream.bandedSignatures(docs).toDF()
      .repartition(16).write.mode("overwrite").parquet(bandSrcDir)
    spark.range(100000L).selectExpr("sum(id)").collect()

    def docStream: DataFrame = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "16").parquet(docSrcDir)
    def bandStream: DataFrame = spark.readStream
      .schema(spark.read.parquet(bandSrcDir).schema)
      .option("maxFilesPerTrigger", "16").parquet(bandSrcDir)

    def drain(name: String)(mk: => DataFrame): Double =
      (1 to 2).map { i =>
        val t0 = System.nanoTime()
        val q = mk.writeStream.format("noop")
          .option("checkpointLocation", s"$tmp/ckpt_${name}_$i")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }.min

    import spark.implicits._
    val tSig = drain("sig")(
      NearDupStream.bandedSignatures(docStream).toDF())
    val tState = drain("state")(
      NearDupStream.candidateStream(
        NearDupStream.bandedSignatures(docStream)).toDF())
    val tFull = drain("full")(
      NearDupStream.nearDupPairsStream(docStream, docStore))
    val tPresig = drain("presig") {
      val cands = NearDupStream.candidateStream(
          bandStream.as[NearDupStream.BandDoc]).toDF()
        .dropDuplicates("id_a", "id_b")
      val toks = graft.operators.MinHash.tokens(
          docStore.select(col("doc_id").as("id"), col("text")), "text")
        .select("id", "toks")
      graft.operators.TextDedup.withJaccard(cands, toks)
        .filter(col("jaccard") >= 0.7)
        .select("id_a", "id_b", "jaccard")
    }
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val tRocks =
      try drain("rocksdb")(
        NearDupStream.nearDupPairsStream(docStream, docStore))
      finally prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }

    def rate(t: Double): Long = (nDocs / t).toLong
    println(s"""{"metric":"neardup_stage_docs_per_sec","docs":$nDocs,""" +
      s""""sig":${rate(tSig)},"state":${rate(tState)},""" +
      s""""full":${rate(tFull)},"presig":${rate(tPresig)},""" +
      s""""rocksdb":${rate(tRocks)},""" +
      s""""secs":{"sig":$tSig,"state":$tState,"full":$tFull,""" +
      s""""presig":$tPresig,"rocksdb":$tRocks}}""")
    spark.stop()
  }
}
