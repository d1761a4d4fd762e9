package graft

import org.apache.spark.sql.functions._

import graft.examples.TrainingDataPipeline

class PipelineExampleSpec extends SparkSpec {
  import spark.implicits._

  test("curation pipeline produces a clean, bucketed corpus") {
    val out = TrainingDataPipeline.curate(spark, sf)
    val n = out.count()
    assert(n > 0 && n <= 500)
    // gates actually applied
    assert(out.filter($"n_tokens" < 8).count() == 0)
    assert(out.filter($"ttr" <= 0.2).count() == 0)
    // every row has an ANN bucket in range (left join may leave nulls
    // for docs without embeddings — those are allowed)
    assert(out.filter($"bucket" < 0 || $"bucket" > 15).count() == 0)
  }

  test("binaryFile source reads whole files as binary rows") {
    val df = spark.read.format("binaryFile").load(s"$sf/documents.parquet")
    val row = df.select("path", "length", "content").head
    assert(row.getAs[Long]("length") > 0)
    assert(row.getAs[Array[Byte]]("content").length ==
      row.getAs[Long]("length"))
  }
}
