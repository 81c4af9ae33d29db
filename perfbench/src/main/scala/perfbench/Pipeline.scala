package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cnpj._

/** Thrown when an operation's output differs from the expected one. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new WrongAnswer(s"$what: got $got, want $want")
}

/** Counts a traced operation records at the layer boundaries, summed per
  * operation and reported as a mean over the operations that recorded them.
  */
final class LayerCounts {
  private val sums = scala.collection.mutable.Map.empty[String, (Double, Set[Long])]
  def add(op: Long, name: String, v: Double): Unit = if (op > 0) synchronized {
    val (s, ops) = sums.getOrElse(name, (0.0, Set.empty[Long]))
    sums(name) = (s + v, ops + op)
  }
  def meanPerOp(name: String): Double = synchronized {
    sums.get(name).map { case (s, ops) => s / ops.size }.getOrElse(0.0)
  }
}

/** The ingest pipeline as the benchmark drives it: the public calls
  * `IngestJob.run` makes, against the benchmark's site, into one lake.
  *
  * Untraced, an ingest is `IngestJob.run` itself. Traced, the same calls
  * are made one by one so each gets a span, and the layers that run
  * inside `IngestJob.runWithListing` are probed by calling them once more
  * with the same inputs beforehand (manifest build, partition listing) or
  * afterwards (table sync). The probes' cost is part of the tracing
  * overhead the report shows.
  */
final class Pipeline(spark: SparkSession, site: Site, tracer: Tracer, counts: LayerCounts,
                     val lakeRoot: String, staging: String, val db: String) {
  import tracer.span

  def ingest(): Seq[IngestJob.TableResult] = {
    val all = Schemas.AllowedTableNames
    if (!tracer.recording) return IngestJob.run(spark, all, site.url, lakeRoot, staging, db = db)
    val op = tracer.op
    val inCatalog = span("catalog.list_tables") { CatalogOps.listTables(spark, db) }
    val html = span("listing.fetch") { ListingScraper.fetch(site.url) }
    val listing = span("listing.parse") { ListingScraper.parse(html) }
    counts.add(op, "listing.entries", listing.size)
    val manifest = span("manifest.build") {
      ManifestBuilder.build(spark, listing, all, inCatalog, "local", site.url).collect().toSeq
    }
    counts.add(op, "manifest.tables", manifest.size)
    counts.add(op, "manifest.files", manifest.map(_.files.size).sum)
    span("catalog.list_partitions") {
      manifest.filter(_.exists).foreach(m => CatalogOps.listPartitions(spark, m.name, db))
    }
    val res = span("ingestjob.run") {
      IngestJob.runWithListing(spark, listing, all, inCatalog, site.url, lakeRoot, staging,
        "local", db)
    }
    span("catalog.ensure_table") {
      res.filter(_.updated).foreach(r => CatalogOps.ensureTable(spark, r.table, lakeRoot, db))
    }
    counts.add(op, "gate.tables_skipped", res.count(r => !r.updated && r.error.isEmpty))
    counts.add(op, "ingestjob.tables_failed", res.count(_.error.nonEmpty))
    res
  }

  /** Every table came back updated with its generated row count. */
  def checkResults(res: Seq[IngestJob.TableResult], want: Map[String, Long]): Unit = {
    Check.equal("tables ingested", res.map(_.table).toSet, want.keySet)
    res.foreach { r =>
      Check.equal(s"${r.table} result", (r.updated, r.error, r.rows), (true, None, want(r.table)))
    }
  }

  /** The exact `cap_soc` sum and one accented name, read back from the lake. */
  def checkContents(pub: Publication): Unit = {
    val empresas = spark.table(s"`$db`.`empresas`").where(col("ref_date") === pub.refDate.toString)
    val total = empresas.agg(sum(col("cap_soc").cast("decimal(28,2)"))).head().getDecimal(0)
    Check.equal("cap_soc sum", total, pub.capSocSum)
    val i = pub.accentedRow
    val name = empresas.where(col("cnpj_raiz") === pub.cnpjRaiz(i)).select("raz_soc").head().getString(0)
    Check.equal("accented raz_soc", name, pub.razSoc(i))
  }

  /** Bytes and files of Parquet under the lake's table directories. */
  def parquetFootprint(): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val parquet = walk(new File(lakeRoot, "cnpj_db")).filter(_.getName.endsWith(".parquet"))
    (parquet.map(_.length).sum, parquet.size.toLong)
  }
}
