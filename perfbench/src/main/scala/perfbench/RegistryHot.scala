package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import graft.SparkEntry
import graft.queries.{Q, QueryCaches}

/** Row count plus an order-independent 64-bit hash of a query's output. */
object Fingerprint {

  /** Executes the query's own physical plan once, reading every output
    * column of every row (what a noop-sink write forces), and folds the
    * rows into (count, sum of row hashes).
    */
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, lo)
        h += (hi.toLong << 32) | (lo & 0xffffffffL)
        n += 1
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  def read(file: File): Map[String, (Long, Long)] =
    Files.readAllLines(file.toPath).toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, n, h) = l.split('\t')
        name -> (n.toLong, h.toLong)
      }.toMap

  def write(file: File, fps: Seq[(String, (Long, Long))]): Unit =
    Files.writeString(file.toPath,
      "# query\trows\torder-independent hash (perfbench.Fingerprint)\n" +
        fps.map { case (q, (n, h)) => s"$q\t$n\t$h\n" }.mkString)
}

/** Repeated passes over a fixed set of registry rows on committed
  * testdata; the seed only permutes the row order of each pass.
  */
final class RegistryHot(env: Env) extends Workload {
  private val fingerprints = new File(env.benchDir, "registry_fingerprints.tsv")
  private val rows: Seq[Q] = {
    val all = SparkEntry.allQueries.map(q => q.name -> q).toMap
    RegistryHot.Rows.map(all)
  }
  private lazy val expected = Fingerprint.read(fingerprints)
  private val dir = new File(env.benchDir, "data/sf0.01").getAbsolutePath
  private var spark: SparkSession = _

  /** One timed execution of a row: build, plan, force (with spans). */
  private def execute(q: Q): (Long, Long) = {
    val df = env.tracer.span("registry.build")(q.run(spark, dir))
    env.tracer.span("registry.plan")(df.queryExecution.executedPlan)
    env.tracer.span("registry.exec")(Fingerprint.of(df))
  }

  private def check(q: Q, fp: (Long, Long)): Unit =
    Check.equal(s"${q.name} fingerprint", fp, expected(q.name))

  /** Warms the query caches (and codegen) with one checked pass. */
  def setup(s: SparkSession): Unit = {
    spark = s
    rows.foreach(q => check(q, execute(q)))
  }

  override def teardown(): Unit = QueryCaches.clear()

  /** Measured: op times still fall for about 7 passes after a cold set-up;
    * the other two set-ups run one pass each.
    */
  def warmupOps: Int = 5 * rows.size

  def op(i: Long): Op = {
    val pass = i / rows.size
    val order = new scala.util.Random(env.seed * 7919 + pass).shuffle(rows)
    val q = order((i % rows.size).toInt)
    Op(s"row.${q.name}", () => {
      val fp = execute(q)
      () => check(q, fp)
    })
  }

  def summary(ops: Seq[OpResult]): Summary = {
    val byRow = ops.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, os) => Figure(s"$k.iqm_ms", Stats.midMean(Workloads.ms(os)), "ms", os.size) }
    val perRow = byRow.map(_.value)
    val geo = Stats.geomean(perRow)
    Summary(geo, perRow.sum / 1000, Seq(
      Figure("registry_geomean_ms", geo, "ms", ops.size),
      Figure("registry_pass_s", perRow.sum / 1000, "s", ops.size / rows.size)) ++ byRow)
  }

  /** Capture the fingerprints of the current program into `fingerprints`. */
  def capture(s: SparkSession): Unit = {
    spark = s
    Fingerprint.write(fingerprints, rows.map(q => q.name -> execute(q)))
  }
}

object RegistryHot {
  /** The pointer-doubling fixpoint (the iterative operators' loop) and
    * content-defined chunking (the session-wide coalescing knob moves its
    * task count most); lake_serve is their control. Each set-up rebuilds
    * the rows' query caches on a fresh session, so the row count is what
    * keeps three set-ups inside one run.
    */
  val Rows: Seq[String] = Seq("q123_doubling_components", "q187_chunk_dedup_cdc")
}
