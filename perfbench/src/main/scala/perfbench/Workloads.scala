package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cnpj.{CnpjQueries, Schemas}

/** One operation of a closed loop. `run` is timed; the check it returns
  * runs after the clock stops and throws `WrongAnswer` on a bad output.
  */
final case class Op(kind: String, run: () => (() => Unit))

/** Everything a workload needs from the run. */
final case class Env(seed: Long, nproc: Int, work: File, benchDir: File, tracer: Tracer,
                     counts: LayerCounts)

trait Workload {
  /** Program-side set-up on a fresh session, timed as `setup_s`. */
  def setup(spark: SparkSession): Unit
  def op(i: Long): Op
  /** Untimed operations between the last set-up and the measured window. */
  def warmupOps: Int
  /** Drop what set-up built, before the next set-up or the end. */
  def teardown(): Unit = ()
  /** End-to-end figures of the run: (op_ms, cycle_s) and the named ones. */
  def summary(ops: Seq[OpResult]): Summary
  /** Layer counts this workload measures itself (the site's HTTP counts). */
  def layerCounts(ops: Seq[OpResult]): Map[String, Double] = Map.empty
  /** Called once set-up is over, before the first measured operation. */
  def measuring(): Unit = ()
  /** Release what the workload holds outside Spark. */
  def close(): Unit = ()
}

/** A named figure printed in the report, with its unit and sample count. */
final case class Figure(name: String, value: Double, unit: String, samples: Int)
final case class Summary(opMs: Double, cycleS: Double, figures: Seq[Figure])

object Workloads {
  /** Size of the publication each ingest_snapshot iteration and the
    * lake_serve set-up ingest: about 4 MB of CSV in 15 zips.
    */
  val Empresas = 12000
  val Parts = 3
  val RefDate = 20230708
  /** The warm-up publication ingest_snapshot's set-up ingests. */
  val WarmEmpresas = 5000

  def apply(name: String, env: Env): Workload = name match {
    case "ingest_snapshot" => new IngestSnapshot(env)
    case "lake_serve" => new LakeServe(env)
    case "registry_hot" => new RegistryHot(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def ms(ops: Seq[OpResult]): Seq[Double] = ops.map(_.ns / 1e6)

  /** Median and the highest tail with at least 10 samples beyond it. */
  def latencyFigures(prefix: String, ops: Seq[OpResult]): Seq[Figure] =
    if (ops.isEmpty) Nil
    else Figure(s"${prefix}_p50_ms", Stats.median(ms(ops)), "ms", ops.size) +:
      Stats.tailLevel(ops.size).filter(_ > 50).toSeq.map { p =>
        val level = if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')
        Figure(s"${prefix}_p${level}_ms", Stats.percentile(ms(ops), p), "ms", ops.size)
      }
}

/** Shared by the two CNPJ workloads: the site, and one lake per ingest. */
abstract class CnpjWorkload(env: Env) extends Workload {
  val pub = new Publication(env.seed, Workloads.Empresas, Workloads.Parts, Workloads.RefDate)
  val site = new Site(env.tracer, env.nproc)
  protected var spark: SparkSession = _
  private var lakes = 0

  /** Make the site list exactly `p`'s files. */
  protected def publish(p: Publication): Unit = {
    site.unpublishAll()
    p.files.foreach(f => site.publish(f, p.refDate))
  }

  protected def freshLake(): Pipeline = {
    lakes += 1
    val root = new File(env.work, s"lake$lakes")
    new Pipeline(spark, site, env.tracer, env.counts, root.getAbsolutePath,
      new File(env.work, s"staging$lakes").getAbsolutePath, s"lake$lakes")
  }

  protected def dropLake(p: Pipeline): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `${p.db}` CASCADE")
    deleteTree(new File(p.lakeRoot))
  }

  protected def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  override def layerCounts(ops: Seq[OpResult]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val files = math.max(1, site.zipsRequested).toDouble
    Map("http.gets" -> site.gets.get / n, "http.bytes_served" -> site.bytesServed.get / n,
      "http.gets_per_file" -> (if (site.zipGets.get == 0) 0.0 else site.zipGets.get / files))
  }

  override def measuring(): Unit = site.resetCounts()
  override def close(): Unit = site.stop()
}

/** Each iteration ingests the whole publication into a fresh lake. */
final class IngestSnapshot(env: Env) extends CnpjWorkload(env) {
  private val warm = new Publication(env.seed + 1, Workloads.WarmEmpresas, 1, Workloads.RefDate)
  private var lake: Pipeline = _
  private var parquet = Seq.empty[(Long, Long)]

  def setup(s: SparkSession): Unit = {
    spark = s
    publish(warm)
    val p = freshLake()
    p.checkResults(p.ingest(), warm.rows)
    p.checkContents(warm)
    dropLake(p)
    publish(pub)
  }

  def warmupOps: Int = 1

  def op(i: Long): Op = Op("ingest", () => {
    lake = freshLake()
    val p = lake
    val res = p.ingest()
    () => {
      p.checkResults(res, pub.rows)
      p.checkContents(pub)
      val fp = p.parquetFootprint()
      parquet :+= fp
      env.counts.add(env.tracer.op, "ingest.csv_bytes", pub.csvBytes)
      env.counts.add(env.tracer.op, "ingest.parquet_bytes", fp._1)
      env.counts.add(env.tracer.op, "ingest.parquet_files", fp._2)
      teardown()
    }
  })

  override def teardown(): Unit = if (lake != null) { dropLake(lake); lake = null }

  def summary(ops: Seq[OpResult]): Summary = {
    val s = Stats.median(Workloads.ms(ops)) / 1000
    val ratio = if (parquet.isEmpty) 0.0 else Stats.median(parquet.map(_._1.toDouble)) / pub.csvBytes
    Summary(s * 1000, s, Seq(
      Figure("ingest_s", s, "s", ops.size),
      Figure("ingest_mb_s", pub.csvBytes / 1e6 / s, "MB/s", ops.size),
      Figure("lake_bytes_per_csv_byte", ratio, "ratio", parquet.size),
      Figure("csv_mb", pub.csvBytes / 1e6, "MB", 1)))
  }
}

/** Analyst reads against one lake, with a small refresh every `Cadence` ops. */
final class LakeServe(env: Env) extends CnpjWorkload(env) {
  private var lake: Pipeline = _
  private var setupIngests = Seq.empty[(Long, Long)] // (ns, parquet bytes)
  private var generation = 0
  private var latestCnaes = Workloads.RefDate
  private val Reads = Seq("read.municipality", "read.lookup", "read.nature", "read.cnaes")
  private val Cadence = 6

  def setup(s: SparkSession): Unit = {
    spark = s
    generation = 0
    latestCnaes = Workloads.RefDate
    publish(pub)
    lake = freshLake()
    val t0 = System.nanoTime()
    val res = lake.ingest()
    val ns = System.nanoTime() - t0
    lake.checkResults(res, pub.rows)
    lake.checkContents(pub)
    setupIngests :+= ((ns, lake.parquetFootprint()._1))
    // the first read of each kind on a session lists the table's files and
    // plans cold; serving starts after that
    Reads.indices.foreach(i => op(i).run()())
  }

  override def teardown(): Unit = if (lake != null) { dropLake(lake); lake = null }

  /** Two cycles: the first refresh after a set-up is the slowest. */
  def warmupOps: Int = 2 * Cadence

  def op(i: Long): Op =
    if (i % Cadence == Cadence - 1) refresh()
    // reads count without the refreshes, so every kind gets as many samples
    else Reads(((i - i / Cadence) % Reads.size).toInt) match {
      case k @ "read.municipality" => read(k, CnpjQueries.establishmentsPerMunicipality(spark, 10, lake.db),
        rows => Check.equal(k, rows.map(r => (r.getString(0), r.getLong(1))), pub.topMunicipalities(10)))
      case k @ "read.nature" => read(k, CnpjQueries.companiesByLegalNature(spark, lake.db),
        rows => Check.equal(k, rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))),
          pub.byLegalNature.map { case (d, n, c) => (d, n, java.math.BigDecimal.valueOf(c, 2).doubleValue) }))
      case k @ "read.lookup" =>
        val row = new SplittableRandom(env.seed * 31 + i).nextInt(pub.empresas)
        read(k, spark.table(s"`${lake.db}`.`empresas`")
          .where(col("ref_date") === pub.refDate.toString && col("cnpj_raiz") === pub.cnpjRaiz(row))
          .select("raz_soc", "cap_soc"),
          rows => Check.equal(k, rows.map(r => (r.getString(0), r.getDouble(1))),
            Seq((pub.razSoc(row), pub.capSocCents(row) / 100.0))))
      case k =>
        val (g, date) = (generation, latestCnaes)
        read(k, spark.table(s"`${lake.db}`.`cnaes`").where(col("ref_date") === date.toString)
          .agg(count(lit(1)), sum("codigo"), max("desc")),
          rows => Check.equal(k, rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))),
            Seq(Cnaes.answer(env.seed, g))))
    }

  /** Build, plan and execute a read, each in its own span. */
  private def read(kind: String, build: => DataFrame, check: Seq[Row] => Unit): Op =
    Op(kind, () => {
      val df = env.tracer.span("lake.build")(build)
      env.tracer.span("lake.plan")(df.queryExecution.executedPlan)
      val rows = env.tracer.span("lake.exec")(df.collect().toSeq)
      () => check(rows)
    })

  /** Publish the next `cnaes` generation with a newer date and re-run the
    * pipeline: the gate must skip the other 9 tables and append one
    * partition, which the `read.cnaes` reads then see. Off the clock, the
    * superseded partition is then retired, so every refresh and read meets
    * the same lake however many refreshes a run gets through.
    */
  private def refresh(): Op = Op("refresh", () => {
    val g = generation + 1
    val (date, superseded) = (Publication.yyyymmdd(Workloads.RefDate, g), latestCnaes)
    site.publish(Cnaes.file(env.seed, g), date)
    val res = lake.ingest()
    generation = g
    latestCnaes = date
    () => {
      spark.sql(s"ALTER TABLE `${lake.db}`.`cnaes` DROP IF EXISTS PARTITION (ref_date='$superseded')")
      deleteTree(new File(lake.lakeRoot, s"cnpj_db/cnaes/ref_date=$superseded"))
      val updated = res.filter(_.updated)
      Check.equal("refresh updated", updated.map(r => (r.table, r.rows, r.error)),
        Seq(("cnaes", Cnaes.rows(g).toLong, None)))
      Check.equal("refresh skipped", res.count(r => !r.updated && r.error.isEmpty),
        Schemas.AllowedTableNames.size - 1)
      env.counts.add(env.tracer.op, "ingest.csv_bytes", Cnaes.file(env.seed, g).csvBytes)
    }
  })

  def summary(ops: Seq[OpResult]): Summary = {
    val reads = ops.filter(_.kind.startsWith("read."))
    val refreshes = ops.filter(_.kind == "refresh")
    val midOf = (k: String) => {
      val xs = Workloads.ms(ops.filter(_.kind == k))
      if (xs.isEmpty) 0.0 else Stats.midMean(xs)
    }
    // one cycle of the op mix, every operation at its kind's typical time
    val cycleMs = (0 until Cadence).map(i =>
      if (i == Cadence - 1) midOf("refresh") else midOf(Reads(i % Reads.size))).sum
    // per kind first: the four kinds sit at different levels, and a median
    // of the mixed reads would jump between them with the mix a run gets
    val readMs = Stats.geomean(Reads.map(midOf).filter(_ > 0))
    val (bytes, files) = lake.parquetFootprint()
    val ingestS = Stats.median(setupIngests.map(_._1 / 1e9))
    Summary(readMs, cycleMs / 1000,
      Seq(Figure("ingest_s", ingestS, "s", setupIngests.size),
        Figure("ingest_mb_s", pub.csvBytes / 1e6 / ingestS, "MB/s", setupIngests.size),
        Figure("lake_bytes_per_csv_byte", Stats.median(setupIngests.map(_._2.toDouble)) / pub.csvBytes,
          "ratio", setupIngests.size), Figure("csv_mb", pub.csvBytes / 1e6, "MB", 1)) ++
      Workloads.latencyFigures("lake_query", reads) ++
        refreshes.headOption.map(_ => Figure("lake_refresh_ms", midOf("refresh"), "ms", refreshes.size)) ++
        Reads.map(k => Figure(s"$k.iqm_ms", midOf(k), "ms", ops.count(_.kind == k))) ++
        Seq(Figure("lake.parquet_files", files, "count", 1), Figure("lake.parquet_bytes", bytes, "bytes", 1)))
  }
}
