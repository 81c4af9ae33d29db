package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank in EXACT scaled-integer arithmetic (ranks scaled by 10^12,
  * damping 0.85, every division a floor division at a fixed point in the
  * formula). Integer ranks make the distributed Σ over in-neighbors
  * order-independent — the same input always yields the bitwise-same
  * vector regardless of partitioning or parallelism, which double-typed
  * PageRank can never promise. Floor losses bound total mass drift below
  * 1e-7 of the scale per iteration.
  *
  * Per iteration: one join (rank vector → edge list) + one aggregation;
  * only the (node, rank) vector flows between iterations — the edge and
  * degree tables are read-only inputs the caller typically memoizes.
  * That shape is exactly Pregel's message-passing round expressed as
  * relational ops, and survives 100×: the vector is O(|V|), edges are
  * never rewritten.
  *
  * Two driving modes:
  *   - [[fixed]]: exactly `iters` rounds — the cross-engine-reproducible
  *     shape (q86's oracle runs the same two rounds in DuckDB);
  *   - [[converge]]: rounds until the integer L1 delta Σ|pr−pr'| drops to
  *     `epsScaled` (same 10^12 scale) or `maxIter` is hit. The delta is
  *     an exact integer, so "converged" is a deterministic predicate, not
  *     a float threshold race. Each intermediate vector is checkpointed so
  *     both the physical AND logical lineage stay one round deep.
  */
object PageRank {

  /** Rank scale: 1.0 ≡ 10^12. */
  val Scale: Long = 1000000000000L

  /** Both-direction edge list of an undirected (u, v) pair table. */
  def bothWays(undirected: DataFrame): DataFrame =
    undirected.union(undirected.select(col("v").as("u"), col("u").as("v")))

  /** (node, d) out-degree table of a both-ways edge list. */
  def degrees(el: DataFrame): DataFrame =
    el.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))

  private def base(n: Long): Long = (Scale * 15L) / (100L * n)

  /** One synchronous round: pr' = base + ⌊0.85 · Σ_in ⌊pr/d⌋⌋.
    *
    * The per-node contribution ⌊pr/d⌋ is computed on the VECTOR-sized
    * pr ⋈ deg join (both node-keyed, O(|V|)) and the edge list is then
    * joined ONCE — the previous shape joined el against pr and deg
    * separately, paying the big-side join twice per round for the same
    * integers (guide §1.2: same passes, half the big-side join work).
    */
  def step(el: DataFrame, deg: DataFrame, pr: DataFrame, n: Long): DataFrame =
    el.join(
        pr.join(deg, "node")
          .select(col("node").as("u"), expr("pr div d").as("contrib")),
        "u")
      .groupBy(col("v").as("node"))
      .agg(sum(col("contrib")).as("c"))
      .select(col("node"), (lit(base(n)) + expr("(85 * c) div 100")).as("pr"))

  /** Uniform start vector ⌊S/n⌋ over the degree table's nodes. */
  def initial(deg: DataFrame, n: Long): DataFrame =
    deg.select(col("node"), lit(Scale / n).as("pr"))

  /** Exactly `iters` rounds from the uniform start. */
  def fixed(el: DataFrame, deg: DataFrame, n: Long, iters: Int): DataFrame =
    (0 until iters).foldLeft(initial(deg, n))((pr, _) => step(el, deg, pr, n))

  /** Iterate to fixpoint: stop when the integer L1 delta ≤ `epsScaled`
    * or after `maxIter` rounds. Returns (final vector, rounds run,
    * final delta) — hitting the cap returns, it does not throw.
    *
    * The RETURNED vector is checkpoint-backed ([[Lineage.iterate]]):
    * call [[Lineage.release]] on it when done (after which the frame is
    * dead). Callers should hold ONE memoized result per input, not
    * rebuild per call.
    */
  def converge(el: DataFrame, deg: DataFrame, epsScaled: Long,
               maxIter: Int = 20): (DataFrame, Int, Long) = {
    val n = deg.count()
    var delta = Long.MaxValue
    val fix = Lineage.iterate(Lineage.cut(initial(deg, n)), maxIter)(step(el, deg, _, n)) {
      (next, prev) =>
        // exact integer L1 distance — one tiny join over two (node, long)
        // vectors; the action that materializes `next`
        prev.foreach { pr =>
          delta = next.select(col("node"), col("pr").as("__npr"))
            .join(pr, "node")
            .agg(sum(abs(col("__npr") - col("pr"))))
            .head().getLong(0)
        }
        delta <= epsScaled
    }
    (fix.state, fix.steps, delta)
  }
}
