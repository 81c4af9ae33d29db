package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source shortest paths over a weighted directed edge list —
  * the weighted sibling of [[Bfs]] (which is the w ≡ 1 special case).
  * Bellman-Ford expressed as relational ops: each round relaxes EVERY
  * current distance through the edge table and folds the result back
  * with a grouped MIN,
  *
  *   dist_{k+1}(v) = min(dist_k(v), min over edges (u,v,w) of dist_k(u) + w)
  *
  * until a fixpoint. A COST BUDGET (`maxCost`) bounds the search: only
  * paths of total weight ≤ maxCost participate, which (with integer
  * weights ≥ 1) also bounds path length and hence rounds — the same
  * capping discipline that makes q96's BFS and its recursive-CTE oracle
  * finite makes this operator's oracle enumerable: DuckDB's UNION-dedup
  * on (node, dist) states terminates exactly because the budget prunes
  * every longer path.
  *
  * Scale design: only the (node, dist) vector flows between rounds —
  * the edge table is a read-only join side (broadcast it if small,
  * shuffle-partitioned by u otherwise; Catalyst picks). Per round ONE
  * equi-join + one grouped min; rounds ≤ maxCost. Distances are exact
  * longs — no floating point, so the fixpoint (and the oracle compare)
  * is engine-independent.
  *
  * The rounds run on [[Lineage.iterate]]; the RESULT is one checkpoint
  * leaf — free it with [[Lineage.release]] when done.
  */
object Sssp {

  /** (node, dist) minimum path cost from `source` for every node
    * reachable within total cost `maxCost` (source itself at 0).
    * Unreachable-within-budget nodes are absent. `el` must be
    * (u, v, w) with integer weights ≥ 1 — a zero or negative weight
    * would unbound the round count (and with negative cycles the
    * problem itself), so it is rejected up front.
    */
  def distances(el: DataFrame, source: Long, maxCost: Long): DataFrame = {
    require(maxCost >= 0, s"maxCost must be >= 0, got $maxCost")
    val spark = el.sparkSession
    // one cheap guard scan: termination (rounds ≤ maxCost) relies on
    // every weight being a positive integer — fail loudly, not loop
    require(el.filter(col("w") < 1).isEmpty,
      "Sssp.distances requires integer edge weights >= 1 (a weight < 1 " +
        "unbounds the round count; negative weights change the problem)")
    val init = spark.range(1)
      .select(lit(source).cast("long").as("node"), lit(0L).as("dist"))
    // with weights >= 1 any simple path within the budget has <= maxCost
    // hops, so Bellman-Ford converges in <= maxCost + 1 rounds
    Lineage.iterate(init, maxCost.min(Int.MaxValue - 1L).toInt + 1) { dist =>
      val relaxed = dist.as("d")
        .join(el.as("e"), col("d.node") === col("e.u"))
        .select(col("e.v").as("node"), (col("d.dist") + col("e.w")).as("dist"))
        .filter(col("dist") <= maxCost)
      dist.union(relaxed).groupBy(col("node")).agg(min(col("dist")).as("dist"))
    } { (next, prev) =>
      // a node improved if its min dropped or it is new
      prev.exists(dist => next.join(dist.withColumnRenamed("dist", "old"), Seq("node"), "left")
        .filter(col("old").isNull || col("dist") < col("old")).isEmpty)
    }.orThrow(s"Sssp did not converge within ${maxCost + 1} rounds — edge weights " +
      "must be integers >= 1 for the budget to bound the round count")
  }
}
