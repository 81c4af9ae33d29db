package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Breadth-first search: minimum hop distance from a source node over a
  * directed edge list (pass [[PageRank.bothWays]] output for undirected
  * graphs). The frontier-expansion loop is Pregel's BFS expressed as
  * relational ops — per level ONE equi-join (frontier → edges), one
  * distinct, and one anti-join against the visited set:
  *
  *   frontier_{k+1} = distinct(neighbors(frontier_k)) ∖ visited
  *
  * Scale design: only (node) and (node, lvl) vectors flow between
  * rounds — the edge table is a read-only join side, never rewritten.
  * The anti-join keeps every node's FIRST discovery only, so each node
  * is expanded exactly once and total work is O(|E|) across all levels,
  * the textbook BFS bound. Each level's frontier is localCheckpoint'ed,
  * so both the physical and the LOGICAL lineage stay one round deep
  * instead of accumulating a level-deep plan (the classic
  * iterative-DataFrame trap). Levels are small integers and node ids
  * flow unchanged — no
  * arithmetic at all — so results are trivially engine-independent
  * (q96's DuckDB oracle re-derives the same levels with a capped
  * recursive CTE).
  */
object Bfs {

  /** (node, lvl) minimum hop distances for every node within `maxDepth`
    * hops of `source` (source itself at lvl 0). Unreached nodes are
    * absent.
    *
    * LIFECYCLE: the result is materialized as ONE checkpoint leaf and
    * every per-round frontier's blocks are released eagerly before
    * returning — the loop holds at most the rounds-so-far plus the final
    * union, and nothing after it. `unpersist()` cannot free a checkpoint
    * leaf; call [[Lineage.release]] on the result when done (after which
    * the frame is dead). The query layer memoizes ONE result per
    * (session, dir) and holds it in `QueryCaches`, whose `clear` releases it.
    *
    * Each level's frontier is a [[Lineage.cut]] leaf (see [[Lineage]]
    * for why a cut and not persist), so the accumulated distance vector
    * is a flat union of leaves — planning is O(1) per round and O(depth)
    * at the end. This loop does not run on [[Lineage.iterate]]: every
    * level's frontier is read by the final union, so no superseded round
    * can be released before the result is consolidated.
    */
  def levels(el: DataFrame, source: Long, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = el.sparkSession
    var dist = spark.range(1)
      .select(lit(source).cast("long").as("node"), lit(0).as("lvl"))
    var frontier = dist.select(col("node"))
    val rounds = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var lvl = 0
    var frontierSize = 1L
    while (lvl < maxDepth && frontierSize > 0) {
      lvl += 1
      // explicit aliases: the frontier's lineage already contains the
      // edge attributes (it was derived from `el` last round), so an
      // unqualified join would be an ambiguous self-join
      // lazy lineage cut (local or reliable per Lineage.cut's session
      // conf): the count below is the round's ONE materializing job
      val next = Lineage.cut(frontier.as("f")
        .join(el.as("e"), col("f.node") === col("e.u"))
        .select(col("e.v").as("node")).distinct()
        .join(dist.select(col("node")), Seq("node"), "left_anti"))
      frontierSize = next.count()
      // flat growth: a union of checkpointed leaves (O(V) total blocks).
      // The leaves must outlive the union only until the FINAL cut below
      // consolidates the whole distance vector into one leaf — then each
      // round is released eagerly (see scaladoc lifecycle).
      rounds += next
      dist = dist.union(next.withColumn("lvl", lit(lvl)))
      frontier = next
    }
    // consolidate: one leaf for the result (O(1) planning for every
    // consumer), then free the per-round leaves it superseded
    val out = Lineage.cut(dist)
    out.count()
    rounds.foreach(Lineage.release)
    out
  }
}
