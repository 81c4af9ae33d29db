package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage cutting for iterative DataFrame loops (BFS, connected
  * components, PageRank, SSSP, k-core, BPE learning): resets both the
  * PHYSICAL and the LOGICAL plan to a leaf so per-round Catalyst
  * planning stays O(1).
  *
  * Why a cut and not `persist`: persist caches only the physical result
  * — round k's logical plan still nests all k predecessors (a round
  * that reads the previous state twice, like a BFS expansion or a
  * pointer-doubling self-join, nests it exponentially), so Catalyst
  * re-analyzes and re-codegens the whole chain every round. Measured on
  * BFS at sf0.01: ~36 s of pure driver-side planning for depth 4, and
  * every later action on the result re-paid ~8 s. See NOTES ("Iterative
  * loops: cut the LOGICAL lineage").
  *
  * Two modes, chosen per SESSION at runtime:
  *
  *   - default: `localCheckpoint` — blocks live on executors; fastest,
  *     and right for single-JVM/local runs, but an executor loss
  *     mid-loop loses blocks and fails the job;
  *   - `spark.graft.checkpoint.reliable = true` (+ a configured
  *     `SparkContext.setCheckpointDir`): RELIABLE `checkpoint` — round
  *     state is written to the checkpoint directory (HDFS/object
  *     store on a cluster), so a lost executor recovers from storage
  *     instead of failing a 100-round job. The documented price is the
  *     standard one: the checkpoint write recomputes the (small,
  *     per-round label/frontier) frame once more per round. The files
  *     go when the cut is released ([[release]]; [[iterate]] releases
  *     each superseded round), or by the ContextCleaner when the session
  *     also sets `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *
  * Only half lazy under AQE (on in every graft session): `cut` builds
  * the frame's RDD, and adaptive execution runs every shuffle map stage
  * of the frame right there, as jobs whose call site is `cut` itself.
  * Only the final stage, the one after the last exchange, waits for the
  * caller's next action, which computes it and stores the blocks
  * (reliable mode: writes the files).
  *
  * LIFECYCLE: a cut frame's truth lives in checkpoint blocks that
  * `DataFrame.unpersist()` cannot reach (the plan is a LogicalRDD leaf;
  * unpersist only consults the cache manager). [[release]] frees them
  * explicitly. [[iterate]] releases each superseded round once its
  * successor is materialized, so a loop holds at most two rounds of
  * block storage — and its RESULT is itself one cut leaf the caller
  * frees with `Lineage.release(result)` when done (the query layer's
  * `QueryCaches.hold` registers exactly this for `QueryCaches.clear`).
  */
object Lineage {

  val ReliableConf = "spark.graft.checkpoint.reliable"

  /** Whether the session's cuts write reliable checkpoint files. */
  def reliable(spark: SparkSession): Boolean =
    // unparsable values fail LOUDLY: silently falling back to the
    // non-durable mode would hand the operator exactly the
    // executor-loss failure the flag was set to survive
    spark.conf.get(ReliableConf, "false").trim.toLowerCase match {
      case "true"  => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"$ReliableConf must be 'true' or 'false', got '$other'")
    }

  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (reliable(spark)) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true requires SparkContext.setCheckpointDir(...) — " +
          "reliable round state needs a durable directory")
      df.checkpoint(false)
    } else df.localCheckpoint(false)
  }

  /** A [[cut]] whose width comes from the frame's bytes, not from the
    * partition count of whatever produced it. A small frame that is
    * scanned many times (a shared pair set, a loop's invariant edge
    * list) otherwise keeps its producer's width: 25 near-dup pairs made
    * through broadcast joins off a core-wide shingle index sat in 32
    * partitions, and every scan of them paid 32 tasks. The `rebalance`
    * hint puts an exchange on top, which AQE coalesces to the partition
    * count the bytes need (1 for a frame of a few KB); the cut then
    * freezes that width in the leaf.
    *
    * `persist` cannot do this: under Spark's default
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false` a
    * cached plan keeps its output partitioning, so
    * `hint("rebalance").persist` of those pairs still held 32 partitions
    * where this cut holds 1. Flipping that conf would tune the whole
    * session, and `coalesce(n)` would need an `n` guessed or taken from
    * the core count. Free the result with [[release]], like any cut.
    */
  def compact(df: DataFrame): DataFrame = cut(df.hint("rebalance"))

  /** Free the checkpoint blocks behind a [[cut]] frame NOW, instead of
    * waiting for the ContextCleaner to notice the frame was
    * garbage-collected. Walks the logical plan for LogicalRDD leaves and
    * unpersists their RDDs (also dropping any cache-manager entry on the
    * frame itself first, so a persisted-over-cut frame releases fully).
    *
    * Reliable-mode leaves lose their checkpoint FILES the same way:
    * without this, only a session that sets
    * `spark.cleaner.referenceTracking.cleanCheckpoints` ever deletes
    * them.
    *
    * After release the frame is DEAD: the blocks or files are the only
    * copy of its data, so any later action on it (or on a plan built
    * over it that was not itself materialized) fails with a missing
    * block or file.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    leaves(df).foreach(releaseLeaf)
  }

  /** The RDDs of the LogicalRDD leaves in `df`'s logical plan: a cut's
    * own leaf, and those of every cut it was built over.
    */
  def leaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** [[release]] for one leaf RDD: its blocks, and its files in
    * reliable mode.
    */
  def releaseLeaf(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Outcome of [[iterate]]: the last state, the steps taken to reach
    * it, and whether the probe accepted it as the fixpoint.
    */
  final case class Fixpoint(state: DataFrame, steps: Int, converged: Boolean) {

    /** The converged state. Otherwise frees the last round and throws —
      * a partial state would silently pass for an answer.
      */
    def orThrow(message: => String): DataFrame =
      if (converged) state
      else { release(state); throw new IllegalStateException(message) }
  }

  /** The fixpoint loop of the iterative operators. Round r probes the
    * current state; unless the probe accepts it, `step` builds the next
    * state, which is [[cut]] and probed in round r + 1:
    *
    *   probe(init, None), then per step s = 1..maxSteps:
    *     state_s = cut(step(state_{s−1}));  probe(state_s, Some(state_{s−1}))
    *
    * stopping at the first probe that returns true or after `maxSteps`
    * steps (a negative budget runs no round at all). Round 0 has no
    * predecessor: a probe that compares rounds returns false there
    * without running a job.
    *
    * The probe runs the round's one action, and that action must read
    * `state`. The cut has already run the shuffle map stages of
    * `step(prev)` (see the class doc), but not its final stage, and that
    * stage may still read `prev` directly — as the streamed side of a
    * broadcast join, say, with no exchange in between. The probe's
    * action computes the final stage, and a checkpoint completes EVERY
    * partition at the end of the first job that reads it, even a job
    * that stops early like `isEmpty` (a local checkpoint computes its
    * missing partitions then; a reliable one writes them all). Then, and
    * not before, the superseded state is released: its successor's
    * blocks exist, so nothing reads it any more. `init` is owned by the
    * loop (released once superseded); the returned state belongs to the
    * caller, who frees it with [[release]].
    */
  def iterate(init: DataFrame, maxSteps: Int)(step: DataFrame => DataFrame)(
      probe: (DataFrame, Option[DataFrame]) => Boolean): Fixpoint = {
    var state = init
    var steps = 0
    var converged = maxSteps >= 0 && probe(state, None)
    while (!converged && steps < maxSteps) {
      val prev = state
      state = cut(step(prev))
      steps += 1
      converged = probe(state, Some(prev))
      release(prev)
    }
    Fixpoint(state, steps, converged)
  }
}
