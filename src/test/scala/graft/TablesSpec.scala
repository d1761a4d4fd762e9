package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Tables.table`: one footer read per table file, no Spark job to
  * resolve a table, and no session conf written to read one. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs started on this thread while `body` runs. Drains the
    * listener queue by waiting for a marker job's start, which the queue
    * delivers after every earlier event. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) jobs.incrementAndGet()
            else if (g == group + "-marker") drained.countDown()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(group + "-marker", "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener queue stalled")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building declared queries over resolved tables starts no Spark job") {
    Tables.names.foreach(Tables.table(spark, sf, _))
    val names = Seq("q_agg_hash", "q_join_shuffle", "q_join_asof",
      "q_tpch_q10", "q_funnel")
    names.foreach { n =>
      assert(jobsDuring(SparkEntry.queries(n)(spark, sf)) == 0, n)
    }
  }

  test("staggered concurrent events reads leave the session's " +
      "nanosAsLong setting as it was") {
    val before = spark.conf.getOption(NanosAsLong)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val reads = (0 until 4).map { i =>
        pool.submit(() => {
          Thread.sleep(15L * i)
          Tables.table(spark, sf, "events").schema
        })
      }
      reads.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(spark.conf.getOption(NanosAsLong) == before)
  }

  test("events stored as TIMESTAMP(NANOS) read as µs-truncated timestamps") {
    // the nanosecond testdata generation's layout: INT64 TIMESTAMP(NANOS),
    // not adjusted to UTC (what pyarrow writes for timestamp('ns'))
    val nanos = Seq(1700000000123456789L, 1700000000123456999L, 0L, 999L,
      -1L, -1001L, 86400000000000500L)
    // epoch_us(ts) of the same values read by DuckDB 1.0.0: truncation
    // toward zero, not rounding or flooring
    val expected = Seq(1700000000123456L, 1700000000123456L, 0L, 0L, 0L,
      -1L, 86400000000000L)
    val before = spark.conf.getOption(NanosAsLong)
    val dir = Files.createTempDirectory("graft-nanos").toString
    try {
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val writer = ExampleParquetWriter
        .builder(new Path(s"$dir/events.parquet")).withType(schema)
        .withConf(new Configuration()).build()
      val rows = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (ts, i) =>
        writer.write(rows.newGroup().append("event_id", i.toLong)
          .append("ts", ts))
      } finally writer.close()

      val vectorized = "spark.sql.parquet.enableVectorizedReader"
      val vectorizedBefore = spark.conf.getOption(vectorized)
      Seq("true", "false").foreach { v =>
        spark.conf.set(vectorized, v)
        try {
          val df = Tables.table(spark, dir, "events")
          assert(df.schema("ts").dataType ==
            org.apache.spark.sql.types.TimestampType)
          val got = df.orderBy("event_id").selectExpr("unix_micros(ts)")
            .collect().map(_.getLong(0)).toSeq
          assert(got == expected, s"vectorized reader $v")
        } finally vectorizedBefore match {
          case Some(prev) => spark.conf.set(vectorized, prev)
          case None => spark.conf.unset(vectorized)
        }
      }
    } finally FileUtils.deleteQuietly(new java.io.File(dir))
    assert(spark.conf.getOption(NanosAsLong) == before)
  }
}
