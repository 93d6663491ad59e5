package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, GraftTestSessions, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, GraftSession, SparkSpec}

/** GraftExtensions is the one registration point. A [[GraftSession]]
  * session must plan the custom operators through the strategies injected
  * at build time alone — `GraftExtensions.install`'s runtime path
  * (session.experimental lists) must stay empty, otherwise these tests
  * would prove nothing. The nodes are therefore built by hand (the
  * Column-API builders call `install` as a convenience); without EITHER
  * registration Spark's planner throws "No plan for …Node", so successful
  * execution IS the proof the injection worked.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def attrOf(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(fail(s"no column $name"))

  /** AsOfJoinNative.backward minus its install call. */
  private def asOfNodeJoin(s: SparkSession, left: DataFrame,
      right: DataFrame): DataFrame = {
    val rPrep = right.select(col("k").as("__rk_k"), col("v").as("__rp_v"),
      col("rts").as("__rts"))
    val lPlan = left.queryExecution.analyzed
    val rPlan = rPrep.queryExecution.analyzed
    val node = AsOfJoinNode(lPlan, rPlan,
      Seq(attrOf(lPlan, "k")), Seq(attrOf(rPlan, "__rk_k")),
      attrOf(lPlan, "ts"), attrOf(rPlan, "__rts"),
      Seq(attrOf(rPlan, "__rp_v")))
    GraftSqlBridge.ofRows(s, node)
      .select(col("id"), col("__rp_v").as("v"))
  }

  /** IntervalJoinNative.contains minus its install call. */
  private def intervalNodeJoin(s: SparkSession, points: DataFrame,
      intervals: DataFrame): DataFrame = {
    val rPrep = intervals.select(col("k").as("__ik_k"), col("tag").as("__ip_tag"),
      col("lo").as("__istart"), col("hi").as("__iend"))
    val lPlan = points.queryExecution.analyzed
    val rPlan = rPrep.queryExecution.analyzed
    val node = IntervalJoinNode(lPlan, rPlan,
      Seq(attrOf(lPlan, "k")), Seq(attrOf(rPlan, "__ik_k")),
      attrOf(lPlan, "ts"), attrOf(rPlan, "__istart"), attrOf(rPlan, "__iend"),
      Seq(attrOf(rPlan, "__ip_tag")))
    GraftSqlBridge.ofRows(s, node)
      .select(col("id"), col("__ip_tag").as("tag"))
  }

  private def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")

  /** Run `body` on a NEW factory-built session over the shared context,
    * after checking the runtime registration path is unused.
    */
  private def withFactorySession(body: SparkSession => Unit): Unit = {
    val base = spark // materialize the shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = GraftSession.builder(4).getOrCreate() // reuses the SparkContext
    try {
      assert(ext ne base, "clearing active+default must force a new session")
      assert(ext.experimental.extraStrategies.isEmpty &&
        ext.experimental.extraOptimizations.isEmpty,
        "fallback registration must be unused for this proof")
      body(ext)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("withExtensions(new GraftExtensions) plans the native node with an " +
      "EMPTY experimental fallback") {
    withFactorySession { ext =>
      import ext.implicits._
      val left = Seq((1L, ts(0), "a"), (2L, ts(5), "a"), (3L, ts(7), "a"),
        (4L, ts(9), "b")).toDF("id", "ts", "k")
      val right = Seq(("a", ts(5), 50.0), ("a", ts(8), 80.0),
        ("b", ts(2), 20.0)).toDF("k", "rts", "v")
      val df = asOfNodeJoin(ext, left, right)
      assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin ["),
        "injected strategy must plan AsOfJoinExec")
      val got = df.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      assert(got === Map(1L -> null, 2L -> 50.0, 3L -> 50.0, 4L -> 20.0))
      // the optimizer rule came through the extension too: a projection
      // that drops the payload prunes it below the node
      val pruned = asOfNodeJoin(ext, left, right).select("id")
      assert(pruned.collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L))
    }
  }

  test("GraftSession plans the interval node with an EMPTY experimental fallback") {
    withFactorySession { ext =>
      import ext.implicits._
      val points = Seq((1L, ts(1), "a"), (2L, ts(4), "a"), (3L, ts(9), "a"),
        (4L, ts(4), "b")).toDF("id", "ts", "k")
      val ivs = Seq(("a", ts(0), ts(4), "x"), ("a", ts(3), ts(6), "y"))
        .toDF("k", "lo", "hi", "tag")
      val df = intervalNodeJoin(ext, points, ivs)
      assert(df.queryExecution.executedPlan.toString.contains("IntervalJoin"),
        "injected strategy must plan IntervalJoinExec")
      val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(got === Set(1L -> "x", 2L -> "x", 2L -> "y"))
      val pruned = intervalNodeJoin(ext, points, ivs).select("id")
      assert(pruned.collect().map(_.getLong(0)).sorted === Array(1L, 2L, 2L))
    }
  }

  /** How often each declared strategy and rule is reachable by the planner
    * and optimizer, through either registration path.
    */
  private def copies(s: SparkSession): Seq[Int] = {
    val planned = s.sessionState.planner.strategies
    val optimized = s.sessionState.optimizer.extendedOperatorOptimizationRules ++
      s.experimental.extraOptimizations
    GraftExtensions.strategies.map(st => planned.count(_ eq st)) ++
      GraftExtensions.rules.map(r => optimized.count(_ eq r))
  }

  test("install is idempotent: one copy of each strategy and rule, " +
      "with or without the extension") {
    val bare = GraftTestSessions.bare(spark.sparkContext)
    assert(copies(bare).forall(_ == 0), "a bare session starts without them")
    for (s <- Seq(spark, bare)) {
      GraftExtensions.install(s)
      GraftExtensions.install(s)
      assert(copies(s).forall(_ == 1), copies(s))
    }
    assert(spark.experimental.extraStrategies.isEmpty,
      "install must not re-add what the factory injected")
    import bare.implicits._
    val points = Seq((1L, ts(1), "a")).toDF("id", "ts", "k")
    val ivs = Seq(("a", ts(0), ts(4), "x")).toDF("k", "lo", "hi", "tag")
    assert(intervalNodeJoin(bare, points, ivs).collect().length === 1)
  }

  test("vec_dot keeps its arity check after install") {
    val bare = GraftTestSessions.bare(spark.sparkContext)
    for (s <- Seq(spark, bare)) {
      GraftExtensions.install(s)
      assert(s.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .first().getDouble(0) === 11.0)
      val e = intercept[Exception](s.sql("SELECT vec_dot(array(1.0D))").collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" / ")
      assert(messages.contains("takes 2 arguments"), messages)
    }
  }
}
