package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Space-Saving heavy-hitter summary (Metwally et al. ICDT'05;
  * mergeability per Agarwal et al. PODS'12) with O(k) state.
  *
  * Buffer invariants, preserved by update AND merge under ANY order:
  *  - for every tracked key: lb = est − err <= true count <= est = ub;
  *  - for every key NOT tracked: true count <= floor (`absentBound`).
  *
  * Merge rule: floors add; a key present on one side only is padded
  * with the other side's floor in BOTH est and err (its unseen-side
  * count is in [0, floor_other]); after combining, the summary evicts
  * back down to k smallest-est-first and the floor absorbs the largest
  * evicted est. The bounds are chunking/merge-order DEPENDENT — like
  * KllAgg, the summary carries its own proof (the [lb, ub] sandwich +
  * floor) rather than relying on a replayable layout, which is exactly
  * what the specs (and a consumer) check.
  *
  * The one Space-Saving implementation: as a
  * TypedImperativeAggregate it partial-aggregates map-side, the shuffle
  * carries O(k) summaries, and it drops both into batch queries (q101)
  * and into a STREAMING aggregation as accumulating state
  * (`EventStream.heavyHitters`), the heavy-hitter member of the
  * streaming sketch family (KLL quantiles, HLL/bitmap distinct).
  */
final class SsSummary(val k: Int) {
  val counts = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
  var absentBound: Long = 0L

  def update(key: String): Unit = counts.get(key) match {
    case Some((est, err)) => counts.update(key, (est + 1L, err))
    case None if counts.size < k =>
      // a key first seen AFTER evictions could have absentBound prior
      // occurrences — inherit that bound, like the eviction path
      counts.update(key, (absentBound + 1L, absentBound))
    case None =>
      val (victim, (m, _)) = counts.minBy { case (kk, (est, _)) => (est, kk) }
      counts.remove(victim)
      if (m > absentBound) absentBound = m
      counts.update(key, (m + 1L, m))
  }

  def merge(o: SsSummary): SsSummary = {
    val keys = counts.keySet ++ o.counts.keySet
    val merged = keys.iterator.map { kk =>
      val (e1, r1) = counts.getOrElse(kk, (absentBound, absentBound))
      val (e2, r2) = o.counts.getOrElse(kk, (o.absentBound, o.absentBound))
      kk -> (e1 + e2, r1 + r2)
    }.toSeq
    val out = new SsSummary(k)
    out.absentBound = absentBound + o.absentBound
    val (keep, evict) = merged.sortBy { case (kk, (est, _)) => (-est, kk) }.splitAt(k)
    keep.foreach { case (kk, v) => out.counts.update(kk, v) }
    evict.foreach { case (_, (est, _)) =>
      if (est > out.absentBound) out.absentBound = est
    }
    out
  }
}

case class SpaceSavingAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SsSummary] {

  require(k >= 1, s"capacity must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "space_saving"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key column, got ${other.catalogString}")
  }

  private val entryType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false)))

  override def dataType: DataType = StructType(Seq(
    StructField("floor", LongType, nullable = false),
    StructField("entries", ArrayType(entryType, containsNull = false), nullable = false)))

  override def createAggregationBuffer(): SsSummary = new SsSummary(k)

  override def update(buf: SsSummary, input: InternalRow): SsSummary = {
    val v = child.eval(input)
    if (v != null) buf.update(v.toString)
    buf
  }

  override def merge(a: SsSummary, b: SsSummary): SsSummary = a.merge(b)

  override def eval(buf: SsSummary): Any = {
    // deterministic REPRESENTATION order (ub desc, key asc); the values
    // themselves are chunking-dependent within their certified bounds
    val entries = buf.counts.toSeq
      .sortBy { case (kk, (est, _)) => (-est, kk) }
      .map { case (kk, (est, err)) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(kk), est - err, est))
      }
    new GenericInternalRow(Array[Any](
      buf.absentBound, new GenericArrayData(entries.toArray[Any])))
  }

  override def serialize(buf: SsSummary): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    // one-byte format version at the head: the round-10 switch from
    // writeUTF to length-prefixed raw UTF-8 changed the wire layout, and
    // a checkpoint/shuffle buffer written by a DIFFERENT format would
    // otherwise misparse non-obviously (writeUTF's 2-byte length read as
    // half of a 4-byte int). Unknown versions fail loudly instead.
    out.writeByte(SpaceSavingAgg.FormatVersion)
    out.writeInt(buf.k); out.writeLong(buf.absentBound); out.writeInt(buf.counts.size)
    buf.counts.foreach { case (kk, (est, err)) =>
      // length-prefixed raw UTF-8, NOT writeUTF: writeUTF throws
      // UTFDataFormatException past 65535 encoded bytes, which would kill
      // the aggregation at shuffle/state-serialize time for long string
      // keys (full documents are legitimate heavy-hitter keys)
      val kb = kk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb)
      out.writeLong(est); out.writeLong(err)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SsSummary = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val ver = in.readByte()
    require(ver == SpaceSavingAgg.FormatVersion,
      s"SpaceSavingAgg buffer format version $ver != ${SpaceSavingAgg.FormatVersion}: " +
        "state written by an incompatible build — rebuild the checkpoint/aggregation")
    val kk = in.readInt()
    val s = new SsSummary(kk)
    s.absentBound = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val klen = in.readInt()
      val kb = new Array[Byte](klen); in.readFully(kb)
      val key = new String(kb, java.nio.charset.StandardCharsets.UTF_8)
      val est = in.readLong(); val err = in.readLong()
      s.counts.update(key, (est, err))
      i += 1
    }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingAgg =
    copy(child = newChildren.head)
}

object SpaceSavingAgg {
  /** Serialized-buffer wire-format version (v2 = length-prefixed raw
    * UTF-8 keys; v1 was writeUTF). Bump on any layout change.
    */
  val FormatVersion: Byte = 2

  def apply(c: Column, k: Int): Column =
    Bridge.column(SpaceSavingAgg(Bridge.expression(c), k).toAggregateExpression())
}
