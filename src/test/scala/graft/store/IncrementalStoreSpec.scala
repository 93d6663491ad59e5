package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IncrementalStore's partition-scoped overwrite is a property of its own
  * writes, not of the session it runs in.
  */
class IncrementalStoreSpec extends SparkSpec {

  private val modeKey = "spark.sql.sources.partitionOverwriteMode"

  test("a store write keeps the session's partitionOverwriteMode") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    def day(d: Int, v: Double) =
      Seq((java.sql.Timestamp.valueOf(s"2024-02-0$d 12:00:00"), v)).toDF("ts", "v")
    val prior = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "static")
    try {
      IncrementalStore.overwriteDayPartitions(day(1, 1.0).union(day(2, 2.0)), dir, "ts")
      IncrementalStore.overwriteDayPartitions(day(2, 20.0), dir, "ts")
      assert(spark.conf.get(modeKey) === "static")
      // the write itself still replaced only the day it carried
      val got = IncrementalStore.readTable(spark, dir)
        .orderBy("ts").select("v").as[Double].collect().toSeq
      assert(got === Seq(1.0, 20.0))
    } finally prior match {
      case Some(v) => spark.conf.set(modeKey, v)
      case None => spark.conf.unset(modeKey)
    }
  }
}
