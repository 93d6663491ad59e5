package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step between
  * near-dup PAIR detection and corpus-level dedup DECISIONS: transitive
  * near-dup groups ("a~b, b~c ⇒ {a,b,c}") each keep one canonical
  * representative (the minimum id), exactly what a training-data pipeline
  * needs to collapse LSH/SimHash pair output into per-document keep/drop
  * labels.
  *
  * Algorithm: iterative min-label propagation to a fixpoint. Every vertex
  * starts labeled with itself; each round every vertex takes the min of its
  * own label and its neighbors' labels; at the fixpoint every vertex holds
  * the minimum vertex id of its component — a deterministic, total labeling.
  *
  * Scale shape: each round is ONE shuffle join (edges ⨝ labels on src,
  * re-keyed min-agg on dst) over |E| + |V| rows, and rounds are bounded by
  * the component diameter. Near-dup components are shallow by construction
  * (stars around a template doc), so 2-4 rounds close real corpora; the
  * loop still runs to the provable fixpoint rather than assuming so. Each
  * round's labels land in scratch parquet (graft.Fixpoint): lineage
  * stays O(1) deep per round instead of re-deriving the whole pair pipeline
  * per iteration, and the convergence count is observed on that write. For
  * graphs with long chains at extreme scale, swap the per-round rule for
  * large-star/small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — O(log n) rounds, same join shape, same
  * driver loop; min-propagation is kept here because near-dup diameters
  * make it the fewer-shuffles choice.
  */
object Components {

  /** Label every vertex with the min vertex id of its connected component.
    *
    * @param vertices one column `v` (includes isolated vertices — every
    *                 input doc gets a label, singletons label themselves)
    * @param edges    two columns `a`, `b` (undirected; orientation and
    *                 duplicates don't matter — labels only ever take mins)
    * @return (v, label) with one row per input vertex
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame =
    connectedComponentsCounted(vertices, edges)._1

  /** [[connectedComponents]] plus the number of propagation rounds run
    * (including the final no-change round that proves the fixpoint) — the
    * spec pins round counts on long-chain graphs so the "near-dup
    * diameters are shallow" assumption stays a tested boundary.
    */
  def connectedComponentsCounted(vertices: DataFrame,
      edges: DataFrame): (DataFrame, Int) = {
    // The edge relation is re-joined every round: materialize it once so
    // the (possibly expensive — e.g. LSH banded-join) edge derivation runs
    // exactly once, not once per round.
    val bidir = graft.Scratch.table(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .union(edges.select(col("b").as("src"), col("a").as("dst")))
        .distinct(), "cc-edges")

    // the convergence check rides the round's write as an observed metric
    // (graft.Fixpoint): the changed-label count is collected DURING the
    // write, so each round is exactly one job
    graft.Fixpoint.iterate(vertices.select(col("v"), col("v").as("label")),
        "cc-labels", Int.MaxValue) { (labels, _) =>
      val neighborMin = bidir
        .join(labels, bidir("src") === labels("v"))
        .groupBy(col("dst"))
        .agg(min(col("label")).as("nmin"))
      labels
        .join(neighborMin, labels("v") === neighborMin("dst"), "left")
        .select(col("v"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .select(col("v"), col("label"),
          (col("label") =!= col("old_label")).cast("int").as("delta"))
    }(_.longValue == 0L)
  }

  /** Large-star/small-star connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the O(log n)-round
    * upgrade this file's scaladoc names for long-chain graphs, where
    * min-label propagation needs O(diameter) rounds.
    *
    * Each round rewrites the EDGE set (labels only materialize at the end):
    *  - large-star: every node links its strictly-larger neighbors to the
    *    minimum of its closed neighborhood — long tails collapse toward
    *    small ids without ever growing the edge count;
    *  - small-star: every node links its smaller-or-equal neighbors (and
    *    itself) to that minimum — stars tighten.
    * The alternation provably converges to one star per component centered
    * at the component minimum; the loop stops as soon as the round output
    * IS a star forest with centers below children (checked directly —
    * star forests are exactly the alternation's fixpoints, so the property
    * test stops one round earlier than waiting for the edge set to
    * repeat). Same per-round shape as min-propagation (one groupBy + one
    * join over |E|), so the swap is purely a round-count trade.
    */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame): DataFrame =
    connectedComponentsStarCounted(vertices, edges)._1

  def connectedComponentsStarCounted(vertices: DataFrame,
      edges: DataFrame): (DataFrame, Int) = {
    var e = graft.Scratch.table(
      edges.select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct(), "ccs-edges")
    var rounds = 0
    var done = e.isEmpty
    while (!done) {
      // large-star: centers see ALL neighbors, link the strictly larger
      // ones to m = min(closed neighborhood)
      val dirAll = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val minsL = dirAll.groupBy(col("x"))
        .agg(min(least(col("y"), col("x"))).as("m"))
      val large = dirAll.join(minsL, "x")
        .filter(col("y") > col("x"))
        .select(least(col("y"), col("m")).as("u"),
          greatest(col("y"), col("m")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: direct larger→smaller; every neighbor and the center
      // itself links to the minimum
      val dirDown = large.select(col("v").as("x"), col("u").as("y")) // y < x
      val minsS = dirDown.groupBy(col("x")).agg(min(col("y")).as("m"))
      val next = graft.Scratch.table(
        dirDown.join(minsS, "x")
          .select(least(col("y"), col("m")).as("u"),
            greatest(col("y"), col("m")).as("v"))
          .union(minsS.select(least(col("x"), col("m")).as("u"),
            greatest(col("x"), col("m")).as("v")))
          .filter(col("u") =!= col("v")).distinct(), "ccs-edges")
      rounds += 1
      // Convergence = the edge set is a star forest with centers below
      // children: every child v appears in exactly one edge and no vertex
      // is both a center and a child. Star forests are exactly the
      // alternation's fixpoints (Kiveris et al. §3; both steps map a star
      // forest to itself, and the alternation preserves connectivity, so a
      // star-forest state already carries the final components) — checking
      // the PROPERTY on `next` alone stops one round earlier than
      // edge-set-stabilization and replaces the old count + exceptAll
      // (a full two-sided shuffle per round) with one aggregate and one
      // semi-join empty-probe over the materialized round output.
      val st = next.agg(count(lit(1)), count_distinct(col("v"))).head()
      done = st.getLong(0) == st.getLong(1) &&
        next.join(next.select(col("u").as("v")).distinct(), Seq("v"), "left_semi")
          .isEmpty
      e = next
    }
    // converged edges are one star per non-trivial component, centered at
    // the component minimum: children take the center's id, everything
    // else (centers, isolated vertices) labels itself
    val childLabels = e.select(col("v").as("vert"), col("u").as("lbl"))
    val labels = vertices
      .join(childLabels, vertices("v") === childLabels("vert"), "left")
      .select(col("v"), coalesce(col("lbl"), col("v")).as("label"))
    (labels, rounds)
  }
}
