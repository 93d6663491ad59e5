package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Measurement tooling (optimization rounds): write `.explain("formatted")`
  * for named registry queries — plus the per-round subplans of the
  * iterative queries, which scratch materialization hides from the final
  * frame's explain — to one file per query under an output dir.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  * Special names (internal subplans): `pagerank_round`, `walk_step`,
  * `labelprop_round`, `cc_round`.
  */
object PlanDump {
  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = GraftSession.builder().appName("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    import org.apache.spark.sql.functions._
    val qs = SparkEntry.queries
    names.split(',').foreach { name =>
      val df: DataFrame = name match {
        case "pagerank_round" =>
          // one representative damped-PageRank round over the shared edge
          // fixture (the shape every pagerank/ppr round repeats)
          val eo = queries.RelationalQueries.pagerankEdgesForPlans(spark, sfDir)
          val ranks = eo.select(col("src").as("v")).distinct()
            .withColumn("rank", lit(1.0))
          queries.RelationalQueries.prRoundForPlans(eo, ranks, 1e10)
        case "walk_step" =>
          // one representative random-walk hub step: frontier join + argmin
          val eo = queries.RelationalQueries.pagerankEdgesForPlans(spark, sfDir)
            .select(col("src"), col("dst"))
          val frontier = graft.Scratch.table(
            eo.select(col("src")).distinct()
              .select(col("src").as("walk_id"), col("src").as("cur")),
            "plandump-frontier")
          queries.RelationalQueries.walkStepForPlans(frontier, eo, 2)
        case q => qs(q)(spark, sfDir)
      }
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.writeString(out, fmt(df))
      System.err.println(s"[plandump] wrote $out")
    }
    spark.stop()
  }
}
