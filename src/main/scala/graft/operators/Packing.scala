package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable global running sums and sequence packing.
  *
  * A global cumulative sum expressed as `Window.orderBy(key)` (no
  * partitionBy) funnels EVERY row through one task — the classic
  * single-partition window bottleneck, a scale-killer at 100 TB. The
  * standard fix is the two-phase prefix sum implemented here:
  *
  *   1. assign each row a range BUCKET from quantile boundaries of the
  *      ordering key — a pure function of the key VALUE (literals in the
  *      plan), so every job that evaluates it agrees. (Physical ids like
  *      spark_partition_id are NOT stable across the two jobs below —
  *      that design fails subtly; buckets-from-values is the fix.)
  *   2. per-BUCKET running sums (parallel windows, one shuffle);
  *   3. aggregate one total per bucket (tiny — numBuckets rows), prefix
  *      them on the driver, fold the offsets back in as literals;
  *   4. global_running = local_running + offset(bucket).
  *
  * Identical to the single-task window result (spec-pinned equality).
  */
object Packing {

  /** Range-bucket boundaries for a key the CALLER knows is near-uniform
    * over `[lo, hi]` — a hash-derived ordering key (the Sampling
    * mid-square priority, the q174 shuffle key): `n-1` evenly spaced
    * literals, NO data pass. The prefix-sum result is identical under
    * ANY contiguous range split (bucket totals + offsets recompose the
    * same global sum — PackingSpec pins uniform-bounds == quantile-
    * bounds bit-for-bit); uniformity only balances the per-bucket
    * window work. This removes the approxQuantile driver action AND the
    * persist that existed solely to share lineage between two actions —
    * for a prefix sum over a heavy value chain (tokenization), one full
    * upstream compute per call instead of two.
    */
  def uniformBounds(lo: Long, hi: Long, n: Int): Seq[Column] = {
    require(hi >= lo, s"uniformBounds: empty range [$lo, $hi]")
    val step = (hi - lo) / math.max(n, 1)
    (1 until n).map(i => lit(lo + step * i))
  }

  private def bucketOf(orderCol: String, bounds: Seq[Column]): Column =
    bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(orderCol) > b, 1).otherwise(0)
    }

  /** Add `outCol` = sum of `valueCol` over all rows strictly BEFORE the
    * current row in `orderCol` order (exclusive prefix sum), computed
    * with the two-phase plan above. `orderCol` must be globally unique
    * and numeric. `uniformRange` (see [[uniformBounds]]) skips the
    * quantile sketch for hash-derived keys whose range is known a
    * priori. The result may read a [[Lineage.cut]] snapshot of `df`;
    * [[Lineage.release]] on the result frees it.
    */
  def exclusivePrefixSum(df: DataFrame, orderCol: String, valueCol: String,
                         outCol: String, numBuckets: Int = 0,
                         uniformRange: Option[(Long, Long)] = None,
                         materialize: Boolean = true): DataFrame = {
    val n = math.max(1, if (numBuckets > 0) numBuckets
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    // ONE materialization serves every phase (r19): the input is
    // snapshot via Lineage.cut (lazily — the first driver action below
    // runs the upstream plan; the cut honors the
    // spark.graft.checkpoint.reliable opt-in so a cluster with executor
    // loss recovers from durable storage), so the heavy per-row value
    // chain feeding
    // `valueCol` (tokenization in the packing rows) computes EXACTLY
    // ONCE per call; the quantile sketch (when needed), the bucket
    // totals, and the caller's final windowed job all read the same
    // executor-local blocks. Callers pass pruned frames (a few numeric
    // columns — guide §2.3), so the blocks are narrow; releasing the
    // returned frame frees them (the query layer holds it in QueryCaches).
    // (The previous shape persisted a pruned projection for the driver
    // actions but let the final job RECOMPUTE the chain from lineage —
    // one extra full pass of the heaviest work per call.)
    // `materialize = false` opts a CHEAP value chain (a literal count
    // over a bare scan) back into plain two-pass lineage: re-scanning
    // columnar parquet twice beats one row-block store+read (measured
    // on q163); the quantile path always snapshots — its extra sketch
    // pass made even cheap chains lose without one.
    val snap =
      if (materialize || uniformRange.isEmpty) Lineage.cut(df)
      else df
    val bounds: Seq[Column] = uniformRange
      .map { case (lo, hi) => uniformBounds(lo, hi, n) }
      .getOrElse {
        // quantile boundaries of the ordering key: bucket membership
        // becomes a pure function of the key value (plan literals)
        if (n == 1) Seq.empty
        else snap.stat.approxQuantile(
          orderCol, (1 until n).map(_.toDouble / n).toArray, 0.001)
          .toSeq.map(lit)
      }
    val bucketCol: Column = bucketOf(orderCol, bounds)
    val bucketed = snap.withColumn("__bkt", bucketCol)
    // one row per bucket — the only driver-side data, O(numBuckets)
    val totals = bucketed.groupBy("__bkt")
      .agg(sum(col(valueCol)).cast("long").as("__btotal"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy(col("__bkt")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = bucketed
      .withColumn("__local", coalesce(sum(col(valueCol)).over(w), lit(0L)))
    val offsets = (0 until n).scanLeft(0L)((acc, b) => acc + totals.getOrElse(b, 0L))
    val offsetCol: Column = offsets.zipWithIndex.init.foldLeft(lit(0L)) {
      case (acc, (off, b)) => when(col("__bkt") === b, lit(off)).otherwise(acc)
    }
    local
      .withColumn(outCol, col("__local") + offsetCol)
      .drop("__bkt", "__local")
  }

  /** Greedy contiguous sequence packing at scale: doc i goes to pack
    * floor(tokens_before_i / budget) in `orderCol` order. Same result as
    * the single-task global window, without the bottleneck.
    */
  def packByBudget(df: DataFrame, orderCol: String, tokenCol: String,
                   budget: Long, packCol: String = "pack_id",
                   uniformRange: Option[(Long, Long)] = None,
                   materialize: Boolean = true): DataFrame =
    exclusivePrefixSum(df, orderCol, tokenCol, "__tok_before",
        uniformRange = uniformRange, materialize = materialize)
      .withColumn(packCol, (col("__tok_before") / budget).cast("long"))
      .drop("__tok_before")

  /** PER-GROUP exclusive prefix sum with the same two-phase plan — the
    * scale shape for "running total within each (lang, bucket)" that a
    * `Window.partitionBy(group).orderBy(key)` would funnel through one
    * task per group (English is half of any real crawl — the q214
    * per-language-sort argument applies verbatim to per-group running
    * sums). The range boundaries come from GLOBAL quantiles of
    * `orderCol`: when the key is a uniform integer hash (the Sampling
    * priority — the intended caller), global boundaries split EVERY
    * group about evenly, so no per-group sketch is needed; physical
    * windows partition by (group, range-bucket) and the per-(group,
    * bucket) offsets — O(|groups| * numBuckets) rows — prefix on the
    * driver. `tieCol` breaks `orderCol` ties deterministically (ties
    * land in one range bucket, so the tie-break stays window-local).
    */
  def groupedExclusivePrefixSum(df: DataFrame, groupCols: Seq[String],
                                orderCol: String, tieCol: String,
                                valueCol: String, outCol: String,
                                numBuckets: Int = 0,
                                uniformRange: Option[(Long, Long)] = None,
                                materialize: Boolean = true)
      : DataFrame = {
    require(groupCols.nonEmpty, "groupedExclusivePrefixSum needs group columns")
    val n = math.max(1, if (numBuckets > 0) numBuckets
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    // ONE materialization serves every phase (r19, same shape as
    // [[exclusivePrefixSum]]): Lineage.cut the FULL CALLER FRAME lazily
    // — the heavy value chain computes once; the optional quantile job,
    // the grouped totals, and the final windowed job read the same
    // blocks (freed by releasing the result). NOTE the snapshot stores every
    // caller column, not a pruned projection (only the totals job below
    // prunes): the weighted sampleToTokenBudget path passes its full
    // frame, so wide columns ride in the blocks — accepted, because a
    // pruned snapshot would need a join back on the final windowed job
    // (the caller's output keeps all its columns) and that join was the
    // measured loss in the r19 "distributed needed-join" experiment.
    // Callers that CAN prune cheaply should select before calling.
    val known = uniformRange.map { case (lo, hi) => uniformBounds(lo, hi, n) }
    val snap =
      if (materialize || known.isEmpty) Lineage.cut(df)
      else df
    val (bounds, totals) =
      {
        val bs: Seq[Column] = known.getOrElse {
          val probs = (1 until n).map(_.toDouble / n).toArray
          if (n == 1) Seq.empty
          else snap.stat.approxQuantile(orderCol, probs, 0.001)
            .toSeq.map(lit)
        }
        val collected = snap
          .select((groupCols :+ orderCol :+ valueCol).map(col): _*)
          .withColumn("__bkt", bucketOf(orderCol, bs))
          .groupBy((groupCols.map(col) :+ col("__bkt")): _*)
          .agg(sum(col(valueCol)).cast("long").as("__btotal"))
          .collect()
        // ADVICE r16: the offset fold below joins with NULL-UNSAFE
        // equality on the group columns, so a null group value would
        // silently miss its offset row and coalesce to 0 — a wrong
        // prefix sum whenever that group spans range buckets. The
        // grouped totals (already on the driver — no extra job) see
        // every group value present in the data, so nulls fail BY NAME
        // here instead of corrupting downstream sums.
        collected.foreach { r =>
          groupCols.indices.foreach { i =>
            require(!r.isNullAt(i),
              s"groupedExclusivePrefixSum: group column `${groupCols(i)}` " +
                "contains NULL — the offset fold joins null-unsafely and " +
                "would silently assign offset 0; filter or fill null " +
                "groups before calling")
          }
        }
        val ts = collected
          .map(r => (groupCols.indices.map(r.get).toSeq, r.getInt(groupCols.size))
            -> r.getLong(groupCols.size + 1))
          .toMap
        (bs, ts)
      }
    val bucketed = snap.withColumn("__bkt", bucketOf(orderCol, bounds))
    val w = Window
      .partitionBy((groupCols.map(col) :+ col("__bkt")): _*)
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = bucketed
      .withColumn("__local", coalesce(sum(col(valueCol)).over(w), lit(0L)))
    // per-group exclusive prefix over the bucket totals, folded back via
    // a BROADCAST JOIN on (group, bucket) — O(groups * numBuckets) rows
    // built on the driver. A nested-CASE literal fold would bloat the
    // plan linearly in the group count (176 languages x 3 buckets x 32
    // range buckets is a 16k-branch expression); the join keeps the
    // plan constant-size at any group inventory.
    val spark = df.sparkSession
    val offsetRows: Seq[org.apache.spark.sql.Row] =
      totals.keys.map(_._1).toSeq.distinct.flatMap { g =>
        val offsets = (0 until n).scanLeft(0L)((acc, b) =>
          acc + totals.getOrElse((g, b), 0L))
        // Seq[Any] is load-bearing: Seq(b, offsets(b)) would WIDEN the
        // Int bucket to Long (Scala numeric unification) and the
        // IntegerType schema field would hold a boxed Long — a
        // ClassCastException at the first join predicate
        (0 until n).map(b =>
          org.apache.spark.sql.Row.fromSeq(g ++ Seq[Any](b, offsets(b))))
      }
    val offsetSchema = org.apache.spark.sql.types.StructType(
      groupCols.map(c => df.schema(c).copy(nullable = true)) ++ Seq(
        org.apache.spark.sql.types.StructField("__bkt",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__offset",
          org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    val offsetsDf = spark.createDataFrame(offsetRows.asJava, offsetSchema)
    local
      .join(broadcast(offsetsDf), groupCols :+ "__bkt", "left")
      .withColumn(outCol, col("__local") + coalesce(col("__offset"), lit(0L)))
      .drop("__bkt", "__local", "__offset")
  }
}
