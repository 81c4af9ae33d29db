package graft.queries

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.operators.Lineage

/** The one owner of the query layer's session artifacts: memoized
  * per-(session, dir) indexes, pair sets, models and stage frames, the
  * storage behind them, and the scratch dirs the stage builders write.
  * The rule is register where made, release in [[clear]]: the code that
  * makes an artifact wraps it in [[persist]], [[hold]] or [[tempDir]] and
  * keeps it in a [[Memo]], and nothing else has to know the artifact's
  * shape to free it.
  *
  * One lock (this object) guards every memo, so nested builds that cross
  * registries (curation rows reading the dedup pair set) take no lock
  * order. Bench calls [[clear]] between its warmup and timed passes;
  * long-lived sessions can call it to reclaim executor storage and disk.
  */
object QueryCaches {

  /** One value per key, built at most once until [[clear]], or until
    * [[refresh]] finds it stale.
    */
  final class Memo[K, V] private[QueryCaches] () {
    private val entries = scala.collection.mutable.Map.empty[K, V]
    def apply(key: K)(build: => V): V =
      QueryCaches.synchronized(entries.getOrElseUpdate(key, build))

    /** Like [[apply]], but a value that `stale` rejects is dropped and
      * rebuilt: the key keeps one entry, the newest. A failed build
      * leaves no entry.
      */
    def refresh(key: K)(stale: V => Boolean)(build: => V): V =
      QueryCaches.synchronized {
        if (entries.get(key).exists(stale)) entries.remove(key)
        entries.getOrElseUpdate(key, build)
      }

    private[graft] def size: Int = QueryCaches.synchronized(entries.size)
    private[QueryCaches] def drop(): Unit = entries.clear()
  }

  private var memos = Vector.empty[Memo[_, _]]
  private var persisted = Vector.empty[DataFrame]
  private var held = Vector.empty[WeakReference[RDD[_]]]
  private var heldFiles = Vector.empty[RDD[_]]
  private var dirs = Vector.empty[Path]

  def memo[K, V](): Memo[K, V] = synchronized {
    val m = new Memo[K, V]
    memos :+= m
    m
  }

  /** Persist at MEMORY_AND_DISK; [[clear]] unpersists. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted :+= p
    p
  }

  /** Register the leaves of a [[Lineage.cut]] frame (a `cut`, `compact`
    * or `iterate` result, or a frame built over one); [[clear]] frees
    * their blocks and reliable-mode files with [[Lineage.releaseLeaf]],
    * which `unpersist` cannot reach.
    *
    * In the default local-checkpoint mode the registration is weak: a
    * memo keeps a memoized cut alive until [[clear]], but a per-call
    * result (a row's label leaf, a `Packing` snapshot) stays the
    * caller's, and once the caller drops it the ContextCleaner frees its
    * blocks as it would an unregistered cut. So a session that never
    * calls [[clear]] holds only the cuts still referenced. Reliable-mode
    * leaves are kept until [[clear]]: the ContextCleaner does not delete
    * checkpoint files, and a checkpointed RDD holds no blocks, only its
    * truncated lineage. A frame over a held leaf that is still in use
    * when [[clear]] runs is dead afterwards, like every memoized frame.
    */
  def hold(cut: DataFrame): DataFrame = synchronized {
    val leaves = Lineage.leaves(cut)
    if (Lineage.reliable(cut.sparkSession)) heldFiles ++= leaves
    else held = held.filter(_.get != null) ++ leaves.map(new WeakReference[RDD[_]](_))
    cut
  }

  /** The held leaves not yet garbage-collected. */
  private[graft] def heldLeaves: Seq[RDD[_]] =
    synchronized((held.flatMap(r => Option(r.get)) ++ heldFiles).distinct)

  /** A fresh scratch dir; [[clear]] deletes it with its contents.
    * Deletion is safe exactly then: nothing holds a frame over the dir
    * once the memos that read it are dropped.
    */
  def tempDir(prefix: String): String = synchronized {
    val p = Files.createTempDirectory(prefix)
    dirs :+= p
    p.toString
  }

  private[graft] def trackedTempDirs: Seq[Path] = synchronized(dirs)

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      // the walk stream must CLOSE (one leaked fd per call otherwise)
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toVector finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }

  /** Release every registered artifact, then empty every memo. */
  def clear(): Unit = synchronized {
    persisted.foreach(_.unpersist())
    heldLeaves.foreach(Lineage.releaseLeaf)
    dirs.foreach(deleteRecursively)
    persisted = Vector.empty
    held = Vector.empty
    heldFiles = Vector.empty
    dirs = Vector.empty
    memos.foreach(_.drop())
  }
}
