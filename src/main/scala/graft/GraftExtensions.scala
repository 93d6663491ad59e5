package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.Strategy

import graft.functions.VecDot
import graft.plans.{AsOfJoinPruningRule, AsOfJoinStrategy, IntervalJoinPruningRule,
  IntervalJoinStrategy}

/** The library's one operator-registration point: the SQL functions
  * (`vec_dot`, `topk_by`) and both whole custom operators (the as-of join
  * and the interval sweep join: planner strategy + column-pruning rule).
  *
  * Sessions get them at build time through [[GraftSession]], or through
  * `spark.sql.extensions=graft.GraftExtensions` (the Iceberg/Delta
  * contract: every session in the application plans the nodes). A session
  * built elsewhere — e.g. a spark-shell session handed to the library —
  * gets the same list from [[GraftExtensions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    GraftExtensions.rules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {

  private type FunctionDescriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[graft] val vecDotDescriptor: FunctionDescriptor = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "vec_dot(arrayA, arrayB) takes 2 arguments")
      VecDot(children.head, children(1))
    })

  /** SQL surface for [[graft.functions.TopKByAgg]]: `topk_by(score, id,
    * k)` with k a literal — the analyzer wraps the returned
    * AggregateFunction in a Complete AggregateExpression like any
    * built-in aggregate, so partial aggregation and ObjectHashAggregate
    * placement are identical to the Column API path.
    */
  private[graft] val topkByDescriptor: FunctionDescriptor = (
    FunctionIdentifier("topk_by"),
    new ExpressionInfo(classOf[graft.functions.TopKByAgg].getName, "topk_by"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "topk_by(score, id, k) takes 3 arguments")
      // any foldable integral k (3, CAST(3 AS BIGINT), 1+2) resolves at
      // analysis time — a clean analysis error beats an execution-time
      // ClassCastException on a perfectly sensible literal spelling
      val kExpr = children(2)
      val k = (if (kExpr.foldable) Option(kExpr.eval()) else None) match {
        case Some(i: Int) => i
        case Some(l: Long) if l.isValidInt => l.toInt
        case Some(s: Short) => s.toInt
        case Some(b: Byte) => b.toInt
        case _ => throw new IllegalArgumentException(
          s"topk_by: k must be a foldable integral literal, got $kExpr")
      }
      graft.functions.TopKByAgg(children.head, children(1), k)
    })

  private[graft] val functions: Seq[FunctionDescriptor] =
    Seq(vecDotDescriptor, topkByDescriptor)
  private[graft] val strategies: Seq[Strategy] =
    Seq(AsOfJoinStrategy, IntervalJoinStrategy)
  private[graft] val rules: Seq[Rule[LogicalPlan]] =
    Seq(AsOfJoinPruningRule, IntervalJoinPruningRule)

  /** Apply the same list to an existing session. Idempotent: whatever the
    * session already plans with — injected at build time or installed
    * before — is not added again, so on a [[GraftSession]] session this
    * is a no-op and its `experimental` lists stay empty.
    */
  def install(spark: SparkSession): Unit = {
    val state = spark.sessionState
    functions.foreach { case (id, info, builder) =>
      if (!state.functionRegistry.functionExists(id))
        state.functionRegistry.registerFunction(id, info, builder)
    }
    val exp = spark.experimental
    val planned = state.planner.strategies
    exp.extraStrategies ++= strategies.filterNot(planned.contains)
    val optimized = state.optimizer.extendedOperatorOptimizationRules ++
      exp.extraOptimizations
    exp.extraOptimizations ++= rules.filterNot(optimized.contains)
  }
}

/** The one session factory: local-cluster-shaped conf with the settings
  * every graft workload needs — UTC, ns-timestamp reads, µs timestamp
  * writes, AQE with skew-join handling, shuffle width = cores, a codegen
  * cache sized for hundreds of distinct plans, and [[GraftExtensions]].
  * Callers add only what is their own (app name, warehouse or local dir).
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS` if set, else the processors this JVM may use. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(cores: Int = GraftSession.cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // The codegen class cache (static conf) defaults to 100 entries; a
      // session running hundreds of distinct query plans cycles it every
      // pass and Janino-recompiles every WholeStageCodegen unit per query
      // per run (measured: 118.8 s -> 94.3 s on a 50-query subset at
      // sf0.1). Any long-lived driver serving many distinct plans wants the
      // cache sized to its plan population; entries are compiled classes,
      // bounded by generated-code size, well within driver heap at 10k.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
