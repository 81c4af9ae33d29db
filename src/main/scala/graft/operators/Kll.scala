package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** KLL-style UPDATABLE quantile sketch — the streaming member of the
  * quantile family, next to [[Percentiles]] (exact).
  *
  * Structure (Karnin–Lang–Liberty 2016, simplified to fixed per-level
  * capacity à la Manku–Rajagopalan–Lindsay): a stack of buffers where
  * level i holds items of weight 2^i. An update appends to level 0; a
  * full level sorts, pairs adjacent items, keeps one per pair and
  * promotes the survivors one level up (weight doubles), leaving any odd
  * leftover in place. Where KLL flips a coin for which half survives,
  * this sketch ALTERNATES the surviving parity per level — fully
  * deterministic: the same update sequence always yields the identical
  * sketch, which is what makes its guarantees spec-pinnable (same trade
  * [[Sampling]] makes with hash-derived priorities). The price is the
  * loss of KLL's unbiasedness/variance argument; what remains — and what
  * the spec pins — is the certified WORST-CASE bound below.
  *
  * Certified error bound: compacting level i perturbs the rank of any
  * query point by at most 2^i (total weight is preserved; pairing a
  * sorted buffer and keeping one item per pair misplaces at most weight
  * 2^i across any threshold). The sketch ACCUMULATES that bound in
  * `errBound` as it compacts, so every instance carries its own proof:
  * |estRankLe(v) − trueRankLe(v)| ≤ errBound for EVERY v, always —
  * KllSpec pins exactly this. With capacity k per level the bound grows
  * as O((n/k)·log(n/k)) and space as O(k·log(n/k)).
  *
  * Mergeable: level-wise concatenation + recompaction; bounds add. At
  * cluster scale each partition streams into its own sketch (constant
  * state, one pass, no sort)
  * and the P sketches merge in partition-id order: deterministic given
  * the partition layout, O(P·k·log n) driver work, nothing unbounded.
  */
final class KllSketch private (val k: Int) extends Serializable {

  private var levels: ArrayBuffer[ArrayBuffer[Long]] =
    ArrayBuffer(ArrayBuffer.empty[Long])
  private var parities: ArrayBuffer[Boolean] = ArrayBuffer(false)

  /** Total updates folded in (== total retained weight, invariant). */
  var count: Long = 0L

  /** Certified worst-case rank error of every estimate, maintained
    * through updates and merges.
    */
  var errBound: Long = 0L

  def update(v: Long): Unit = {
    levels(0) += v
    count += 1
    compress()
  }

  def merge(o: KllSketch): KllSketch = {
    require(o.k == k, s"cannot merge sketches of different k: $k vs ${o.k}")
    while (levels.length < o.levels.length) addLevel()
    var i = 0
    while (i < o.levels.length) { levels(i) ++= o.levels(i); i += 1 }
    count += o.count
    errBound += o.errBound
    compress()
    this
  }

  private def addLevel(): Unit = { levels += ArrayBuffer.empty[Long]; parities += false }

  private def compress(): Unit = {
    var i = 0
    while (i < levels.length) {
      while (levels(i).length >= k) compact(i)
      i += 1
    }
  }

  private def compact(i: Int): Unit = {
    if (i + 1 >= levels.length) addLevel()
    val arr = levels(i).toArray
    java.util.Arrays.sort(arr)
    val even = arr.length & ~1
    val offset = if (parities(i)) 1 else 0
    parities(i) = !parities(i) // deterministic alternation replaces the coin flip
    val up = levels(i + 1)
    var j = offset
    while (j < even) { up += arr(j); j += 2 }
    val keep = ArrayBuffer.empty[Long]
    if (even < arr.length) keep += arr(even) // odd leftover stays at weight 2^i
    levels(i) = keep
    errBound += 1L << i
  }

  /** Estimated count of stream elements <= v: Σ_i 2^i · |{x ∈ level_i : x ≤ v}|.
    * Within `errBound` of the true count, for every v.
    */
  def estRankLe(v: Long): Long = {
    var r = 0L
    var i = 0
    while (i < levels.length) {
      val buf = levels(i)
      var j = 0
      while (j < buf.length) { if (buf(j) <= v) r += 1L << i; j += 1 }
      i += 1
    }
    r
  }

  /** All retained values, ascending distinct — the candidate set every
    * quantile answer is drawn from.
    */
  def retained: Array[Long] = {
    val all = levels.iterator.flatten.toArray
    java.util.Arrays.sort(all)
    all.distinct
  }

  /** Approximate PERCENTILE_DISC at integer permille q: the smallest
    * retained value whose estimated rank reaches ceil(q·count/1000) —
    * the q107/q109 convention. A pick always exists: retained weight
    * equals count exactly (compaction preserves weight), so the largest
    * retained value always estimates to count ≥ target. The certified
    * part of the pick's quality — |est − true| ≤ errBound for every
    * value — is what KllSpec pins.
    */
  def quantile(permille: Int): Long = {
    require(permille >= 1 && permille <= 1000, s"permille out of range: $permille")
    require(count > 0, "empty sketch has no quantiles")
    val target = (permille * count + 999) / 1000
    // one sorted pass over (value, weight): the running cumulative
    // weight at a value equals estRankLe(value) exactly (all equal
    // values are folded before testing), so this is the same answer as
    // scanning candidates with estRankLe — at O(R log R) instead of the
    // O(R²) repeated-estRank scan, which matters once KllAgg.eval pays
    // this per group
    val pairs = {
      val buf = ArrayBuffer.empty[(Long, Long)]
      var i = 0
      while (i < levels.length) {
        levels(i).foreach(v => buf += ((v, 1L << i)))
        i += 1
      }
      buf.sortInPlaceBy(_._1)
      buf
    }
    var cum = 0L
    var i = 0
    var last = 0L
    while (i < pairs.length) {
      val v = pairs(i)._1
      while (i < pairs.length && pairs(i)._1 == v) { cum += pairs(i)._2; i += 1 }
      last = v
      if (cum >= target) return v
    }
    last // unreachable while the weight invariant holds (cum ends at count ≥ target)
  }

  /** Retained-weight invariant — compaction and merge preserve total
    * weight exactly; exposed for the spec.
    */
  def retainedWeight: Long = {
    var w = 0L
    var i = 0
    while (i < levels.length) { w += levels(i).length.toLong << i; i += 1 }
    w
  }

  /** Retained items with weights, for structural equality in specs. */
  def structure: Seq[(Int, Seq[Long])] =
    levels.zipWithIndex.map { case (b, i) => (i, b.toSeq.sorted) }.toSeq

  /** Compact byte form for aggregation-buffer shuffles:
    * [k][nLevels][count][errBound] then per level [parity][len][values…].
    */
  def toBytes: Array[Byte] = {
    val size = 4 + 4 + 8 + 8 + levels.iterator.map(b => 1 + 4 + 8 * b.length).sum
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(k).putInt(levels.length).putLong(count).putLong(errBound)
    var i = 0
    while (i < levels.length) {
      bb.put(if (parities(i)) 1.toByte else 0.toByte).putInt(levels(i).length)
      levels(i).foreach(bb.putLong)
      i += 1
    }
    bb.array()
  }
}

object KllSketch {
  def empty(k: Int): KllSketch = {
    require(k >= 4, s"k must be >= 4, got $k")
    new KllSketch(k)
  }

  /** Wire format (see toBytes): int k | int nLevels | long count |
    * long errBound | nLevels × (byte parity | int len | len × long).
    *
    * Sketch bytes can arrive from ARBITRARY storage (q131 rolls up a
    * BINARY parquet column via KllMergeAgg), so every header field is
    * validated against the buffer before allocation — a corrupt or
    * hand-written cell fails with a message naming the format instead
    * of a raw BufferUnderflowException or a giant Array.fill.
    */
  def fromBytes(bytes: Array[Byte]): KllSketch = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"malformed KLL sketch bytes (${bytes.length} bytes; expected " +
        s"[int k|int nLevels|long count|long errBound|per level: byte parity|int len|len longs]): $msg")
    if (bytes.length < 24) bad(s"header needs 24 bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt
    if (k < 4) bad(s"k must be >= 4, got $k")
    val nLevels = bb.getInt
    if (nLevels < 1) bad(s"nLevels must be >= 1, got $nLevels")
    val s = new KllSketch(k)
    val count = bb.getLong
    val errBound = bb.getLong
    if (count < 0 || errBound < 0) bad(s"negative count=$count or errBound=$errBound")
    s.count = count
    s.errBound = errBound
    s.levels = ArrayBuffer.tabulate(nLevels) { i =>
      if (bb.remaining() < 5) bad(s"truncated at level $i header")
      val parity = bb.get() == 1.toByte
      if (i < s.parities.length) s.parities(i) = parity else s.parities += parity
      val len = bb.getInt
      if (len < 0 || bb.remaining() < len.toLong * 8) bad(
        s"level $i declares $len items but only ${bb.remaining()} bytes remain")
      ArrayBuffer.fill(len)(bb.getLong)
    }
    s
  }
}

object Kll {

  /** One sketch per partition (single streaming pass, constant state, no
    * partition sort), merged on the driver in PARTITION-ID order —
    * deterministic given the partition layout.
    * Driver state is P bounded sketches (O(k·log n) longs each), the
    * same bounded-collect class as Percentiles' bucket counts.
    */
  def sketch(rows: DataFrame, keyCol: String, k: Int = 200): KllSketch = {
    val spark = rows.sparkSession
    import spark.implicits._
    // nulls are SKIPPED, matching KllAgg.update's contract (without the
    // filter, the primitive Long encoder would throw on the first null)
    val parts = rows.select(col(keyCol).cast("long"))
      .filter(col(keyCol).isNotNull).as[Long]
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        val s = KllSketch.empty(k)
        it.foreach(s.update)
        Iterator.single((pid, s))
      }.collect()
    parts.sortBy(_._1).map(_._2)
      .foldLeft(KllSketch.empty(k))((acc, s) => acc.merge(s))
  }

  /** DataFrame surface for the q-row: (permille, value, est_rank,
    * err_bound, n) per requested permille.
    */
  def quantiles(rows: DataFrame, keyCol: String, permille: Seq[Int],
                k: Int = 200): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val s = sketch(rows, keyCol, k)
    permille.sorted.map { q =>
      val v = s.quantile(q)
      (q.toLong, v, s.estRankLe(v), s.errBound, s.count)
    }.toDF("permille", "value", "est_rank", "err_bound", "n")
  }
}
