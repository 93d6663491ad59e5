package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/** The bounded-stream driver: a run finishes under AvailableNow and hands
  * back the finished query, and the session's shuffle width comes back
  * however the run ends — also when the stream fails.
  */
class BoundedStreamSpec extends SparkSpec {

  private val Shuffle = "spark.sql.shuffle.partitions"

  /** A fresh source dir holding one parquet file of `rows` longs. */
  private def source(name: String, rows: Long): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString + "/src"
    (1L to rows).toDF("x").coalesce(1).write.parquet(dir)
    dir
  }

  /** Run `body` with the session's shuffle width set to 7; return the
    * width seen afterwards.
    */
  private def widthAfter(body: => Unit): String = {
    val prev = spark.conf.get(Shuffle)
    spark.conf.set(Shuffle, "7")
    try { body; spark.conf.get(Shuffle) } finally spark.conf.set(Shuffle, prev)
  }

  test("runBounded returns the finished query and restores the shuffle width") {
    val dir = source("bounded_ok", 5L)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val width = widthAfter {
      q = PipelineQueries.runBounded(spark, "graft_spec_bounded_ok",
        spark.readStream.schema("x LONG").parquet(dir)
          .groupBy((col("x") % 2).as("k")).count()
          .writeStream.format("memory").outputMode("complete"))
    }
    assert(width === "7")
    assert(!q.isActive && q.exception.isEmpty)
    assert(q.name === "graft_spec_bounded_ok")
    assert(q.recentProgress.nonEmpty, "the finished query keeps its progress")
    assert(spark.table("graft_spec_bounded_ok").agg(sum("count")).head().getLong(0) === 5L)
  }

  test("runBounded restores the shuffle width after a stream whose source throws") {
    val dir = source("bounded_fail", 3L)
    // a file that is not parquet: the scan of the first micro-batch throws
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val width = widthAfter {
      intercept[StreamingQueryException] {
        PipelineQueries.runBounded(spark, "graft_spec_bounded_fail",
          spark.readStream.schema("x LONG").parquet(dir)
            .writeStream.format("memory").outputMode("append"))
      }
    }
    assert(width === "7")
    assert(!spark.streams.active.exists(_.name == "graft_spec_bounded_fail"))
  }
}
