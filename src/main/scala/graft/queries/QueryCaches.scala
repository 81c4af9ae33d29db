package graft.queries

import java.nio.file.{Files, Path}
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

  /** One value per key, built at most once until [[clear]]. */
  final class Memo[K, V] private[QueryCaches] () {
    private val entries = scala.collection.mutable.Map.empty[K, V]
    def apply(key: K)(build: => V): V =
      QueryCaches.synchronized(entries.getOrElseUpdate(key, build))
    private[QueryCaches] def drop(): Unit = entries.clear()
  }

  private var memos = Vector.empty[Memo[_, _]]
  private var persisted = Vector.empty[DataFrame]
  private var held = Vector.empty[DataFrame]
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

  /** Keep a [[Lineage.cut]] leaf (a `cut`, `compact` or `iterate`
    * result); [[clear]] frees its blocks with [[Lineage.release]], which
    * `unpersist` cannot reach.
    */
  def hold(cut: DataFrame): DataFrame = synchronized {
    held :+= cut
    cut
  }

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
    held.foreach(Lineage.release)
    dirs.foreach(deleteRecursively)
    persisted = Vector.empty
    held = Vector.empty
    dirs = Vector.empty
    memos.foreach(_.drop())
  }
}
