package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The iterative-fixpoint driver: every convergence loop (connected
  * components, label propagation, weighted shortest paths, PageRank to a
  * tolerance) runs its rounds through [[iterate]], and the loops whose
  * state is not one relation (BFS's frontier plus its lazy hop union,
  * k-core's edge list gated on a keep-set count) through [[observedTable]],
  * the write it is built on.
  *
  * Each round is exactly ONE job: the round's relation is written to
  * [[Scratch]] with its stop metric observed on that same write, so the
  * stop test never re-scans the round's output (a separate `isEmpty` or
  * join-and-sum action per round costs a job plus ~50-100 ms of driver
  * round trip), and lineage stays one round deep because the next round
  * reads the written files.
  */
object Fixpoint {

  /** Write `df` to scratch with `metric` (one aggregate expression)
    * observed on the same write; return the read-back and the metric's
    * value.
    */
  def observedTable(df: DataFrame, tag: String, metric: Column): (DataFrame, Number) = {
    val obs = Observation()
    val mat = Scratch.table(df.observe(obs, metric.as("m")), tag)
    (mat, obs.get("m").asInstanceOf[Number])
  }

  /** Iterate `step` from `init` until `stop` holds or `maxRounds` rounds
    * have run; return the final state and the number of rounds run
    * (including the round whose metric stopped the loop).
    *
    * `step(state, round)` (rounds count from 1) returns the next state's
    * columns plus one numeric `delta` column. The round writes that
    * relation to scratch under `tag` with `coalesce(sum(delta), 0)`
    * observed on the write, and the next state is the read-back without
    * `delta`. An empty round observes 0.
    */
  def iterate(init: DataFrame, tag: String, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(
      stop: Number => Boolean): (DataFrame, Int) = {
    @annotation.tailrec
    def loop(state: DataFrame, round: Int): (DataFrame, Int) =
      if (round >= maxRounds) (state, round)
      else {
        val (mat, delta) = observedTable(step(state, round + 1),
          s"$tag${round + 1}", coalesce(sum(col("delta")), lit(0)))
        val next = mat.drop("delta")
        if (stop(delta)) (next, round + 1) else loop(next, round + 1)
      }
    loop(init, 0)
  }
}
