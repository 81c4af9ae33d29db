package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction by parallel peeling: repeatedly delete EVERY node
  * whose degree in the remaining subgraph is < k, until none is — the
  * fixpoint is the maximal subgraph with all degrees ≥ k (the k-core),
  * independent of peel order, which is why the synchronous
  * delete-all-at-once rounds below compute the same answer as any
  * sequential peel.
  *
  * The dense-community primitive of the graph family (vs reachability —
  * [[Bfs]]/[[Sssp]] — and global structure — [[PageRank]], CC): spam
  * rings, boilerplate hubs and scraped-mirror clusters in a link/co-dup
  * graph live in high-k cores.
  *
  * Scale shape per round: ONE map-side-combined degree count (the hot
  * hub's edges partially aggregate per map partition — no hub key ever
  * concentrates in a reduce task, same defense DedupSpec's star test
  * pins for CC) + TWO anti-joins against the `bad` node set, which is
  * small after the first round and broadcast by AQE. Only (src, dst)
  * pairs flow between rounds. Parallel peeling depth is the graph's
  * degeneracy ordering depth — O(V) worst case on a bare path, but a
  * handful of rounds on any graph with a real core (`maxIters` guards
  * the pathological case and the operator THROWS rather than return a
  * half-peeled subgraph).
  *
  * The rounds run on [[Lineage.iterate]]; the result is one checkpoint
  * leaf the caller must free with [[Lineage.release]].
  */
object KCore {

  /** Nodes of the k-core of the UNDIRECTED graph given as a
    * both-directions edge list (pass [[PageRank.bothWays]] output),
    * with each node's degree inside the core: (node, deg), deg ≥ k.
    * Empty result when no k-core exists.
    */
  def kCore(el: DataFrame, k: Int, maxIters: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def bad(edges: DataFrame): DataFrame =
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k).select(col("src").as("bad"))
    // (u, v) both-ways convention shared with Bfs/Sssp/PageRank
    val init = Lineage.cut(el.select(col("u").as("src"), col("v").as("dst")))
    // ONE action per round, the `bad` probe on the current edges: the
    // converging empty-`bad` probe counts as one of the maxIters rounds,
    // which leaves maxIters - 1 peel steps
    val peeled = Lineage.iterate(init, maxIters - 1) { edges =>
      val b = bad(edges)
      edges
        .join(b.withColumnRenamed("bad", "src"), Seq("src"), "left_anti")
        .join(b.withColumnRenamed("bad", "dst"), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
    } ((edges, _) => bad(edges).isEmpty)
      .orThrow(s"kCore(k=$k) did not converge in $maxIters peel rounds — raise maxIters; " +
        "returning a partially peeled subgraph would overstate the core")
    val result = Lineage.cut(
      peeled.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    result.count() // materialize the leaf BEFORE freeing what it reads
    Lineage.release(peeled)
    result
  }
}
