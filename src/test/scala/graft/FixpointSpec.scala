package graft

import org.apache.spark.sql.{DataFrame, GraftTestSessions}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** The fixpoint driver: stop on the first round whose observed delta is
  * 0, honour the round cap, and run each round as exactly one SQL
  * execution (the scratch write the stop metric is observed on).
  */
class FixpointSpec extends SparkSpec {

  /** A counter state (one row `x`) whose delta is 1 until x reaches 3. */
  private def countTo3(maxRounds: Int): (Long, Int, Seq[Long]) = {
    import spark.implicits._
    val seen = Seq.newBuilder[Long]
    val (state, rounds) = Fixpoint.iterate(Seq(0L).toDF("x"), "fx-spec", maxRounds) {
      (st, _) => st.select((col("x") + 1).as("x"))
        .withColumn("delta", when(col("x") < 3L, 1L).otherwise(0L))
    } { d => seen += d.longValue; d.longValue == 0L }
    (state.as[Long].head(), rounds, seen.result())
  }

  test("iterate stops on the first round whose observed delta is 0") {
    val (x, rounds, seen) = countTo3(maxRounds = 10)
    assert(rounds === 3)
    assert(x === 3L)
    assert(seen === Seq(1L, 1L, 0L))
  }

  test("iterate honours maxRounds and returns the capped state without delta") {
    val (x, rounds, seen) = countTo3(maxRounds = 2)
    assert(rounds === 2)
    assert(x === 2L)
    assert(seen === Seq(1L, 1L))
  }

  test("iterate: the step sees 1-based round numbers and the read-back state") {
    import spark.implicits._
    val (state, rounds) = Fixpoint.iterate(Seq(0L).toDF("x"), "fx-spec", 4) {
      (st, round) =>
        assert(st.columns.toSeq === Seq("x"), "delta must not leak into the state")
        st.select((col("x") + round).as("x")).withColumn("delta", lit(1))
    }(_ => false)
    assert(rounds === 4)
    assert(state.as[Long].head() === 1L + 2L + 3L + 4L)
  }

  test("an empty state converges in one round") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("v", LongType))))
    var observed: Number = null
    val (state, rounds) = Fixpoint.iterate(empty, "fx-spec", 10) {
      (st, _) => st.withColumn("delta", lit(1L))
    } { d => observed = d; d.longValue == 0L }
    assert(rounds === 1)
    assert(observed.longValue === 0L, "sum over no rows observes 0")
    assert(state.isEmpty)
  }

  /** SQL executions finished while `body` runs (all of them, not jobs:
    * AQE splits one execution's stages into several jobs).
    */
  private def executions[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = n.incrementAndGet()
    }
    GraftTestSessions.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      GraftTestSessions.drainListeners(spark.sparkContext)
      (out, n.get())
    } finally spark.listenerManager.unregister(listener)
  }

  test("labelPropagate runs one execution per round plus the init write") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val edges: DataFrame = tri.select(col("a").as("src"), col("b").as("dst"))
      .union(tri.select(col("b").as("src"), col("a").as("dst")))
    val ((_, rounds), n) =
      executions(queries.RelationalQueries.labelPropagate(edges, maxRounds = 10))
    assert(rounds === 3)
    assert(n === rounds + 1,
      s"$n SQL executions for $rounds rounds: the stop test must ride the round's write")
  }
}
