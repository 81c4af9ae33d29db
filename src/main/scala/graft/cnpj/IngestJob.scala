package graft.cnpj

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** End-to-end ingestion driver (SURVEY §3.1): the Spark-native equivalent
  * of the reference's whole state machine.
  *
  *   listTables (S3) → scrape+parse listing (S1/S2) → manifest build
  *   (check_update ops, driver code) → per-table freshness gate (F1-F3)
  *   → per-file fetch tasks, one job per table (M2) → CSV decode
  *   (S7/T2/T5) → partitioned lake write (K1/K2) → catalog sync (K5).
  *
  * Table-level Map (M1): tables are processed CONCURRENTLY on a bounded
  * pool (reference fans out all tables via the INLINE Map state,
  * `state_machine.asl:24-131`), with per-table failure isolation — one
  * table's error is recorded in its TableResult and never aborts the
  * others. Spark job scheduling is thread-safe, so each table's fetch/
  * decode/write jobs interleave on the cluster; the bound keeps the big
  * tables (empresas/estabelecimentos at ~50M rows) from being starved by
  * many tiny dimension tables, whose wall-clock is dominated by per-table
  * fixed cost (HTTP + tiny write + partition recovery) and who benefit
  * most from running in parallel.
  */
object IngestJob {

  /** One table's outcome. `rows` is the row count of the snapshot this run
    * wrote (0 when the gate skipped the table or it failed); `error` is
    * the failure's message followed by each cause's that adds to it.
    */
  case class TableResult(table: String, updated: Boolean, rows: Long, error: Option[String])

  /** Test hook: thread that processed each table in the last run. */
  private[cnpj] val processingThreads =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def run(
      spark: SparkSession,
      requestedTables: Seq[String],
      repositoryUrl: String,
      lakeRoot: String,
      stagingDir: String,
      bucketName: String = "local",
      db: String = "default",
      maxConcurrentTables: Int = 4): Seq[TableResult] = {

    val tablesInCatalog = CatalogOps.listTables(spark, db) // S3
    val html = Retry.withBackoff(attempts = 3, firstDelayMs = 1000) {
      ListingScraper.fetch(repositoryUrl) // S1, 15s timeout + F4 retry
    }
    runWithListing(spark, ListingScraper.parse(html), requestedTables,
      tablesInCatalog, repositoryUrl, lakeRoot, stagingDir, bucketName, db,
      maxConcurrentTables)
  }

  /** Entry point with a pre-fetched listing (testable without network). */
  def runWithListing(
      spark: SparkSession,
      listing: Seq[ListingEntry],
      requestedTables: Seq[String],
      tablesInCatalog: Set[String],
      repositoryUrl: String,
      lakeRoot: String,
      stagingDir: String,
      bucketName: String,
      db: String = "default",
      maxConcurrentTables: Int = 4): Seq[TableResult] = {

    require(maxConcurrentTables >= 1,
      s"maxConcurrentTables must be >= 1; got $maxConcurrentTables")
    val manifest = ManifestBuilder.manifests(listing, requestedTables,
      tablesInCatalog, bucketName, repositoryUrl)
    if (manifest.isEmpty) return Seq.empty

    processingThreads.clear()
    val pool = Executors.newFixedThreadPool(math.min(maxConcurrentTables, manifest.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // one Future per table; results keep manifest order regardless of
      // completion order, and every exception is captured per-table
      val futures = manifest.map(tm => Future(processTable(spark, tm, lakeRoot, stagingDir, db)))
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  /** One table end-to-end: gate → fetch → decode → write → catalog.
    * Never throws — failures come back as TableResult.error (M1), with
    * the message of each cause that adds to it.
    *
    * `rows` is the decoded frame's row count, observed by the write job
    * itself; no job reads the table back. In its place, a table that
    * wrote rows must find its ref_date among the catalog's partitions
    * after the sync. A zero-row snapshot writes no partition and comes
    * back updated with 0 rows.
    */
  private def processTable(
      spark: SparkSession,
      tm: TableManifest,
      lakeRoot: String,
      stagingDir: String,
      db: String): TableResult = {
    processingThreads.put(tm.name, Thread.currentThread().getName)
    try {
      // F1/F2/F3: skip fresh tables (no-op branch, reference asl:90-92)
      val stale = !tm.exists ||
        FreshnessGate.shouldUpdate(tm, CatalogOps.listPartitions(spark, tm.name, db))
      if (!stale) TableResult(tm.name, updated = false, 0L, None)
      else {
        val staged = Ingest.fetchAndStage(
          spark, tm.files, s"$stagingDir/${tm.name}").collect() // M2
        val csvs = staged.flatMap(_.csvPath).toSeq
        try {
          staged.flatMap(_.error).headOption.foreach(sys.error)
          val rowCount = Observation(s"${tm.name} rows")
          val df = Ingest.readCsv(spark, tm.name, csvs).observe(rowCount, count(lit(1)).as("rows"))
          Ingest.writeSnapshot(df, lakeRoot, tm.name, tm.ref_date)
          val rows = rowCount.get("rows").asInstanceOf[Long]
          CatalogOps.ensureTable(spark, tm.name, lakeRoot, db) // K5
          if (rows > 0 && !CatalogOps.listPartitions(spark, tm.name, db).contains(tm.ref_date.toString))
            throw new IllegalStateException(
              s"wrote $rows rows but the catalog has no partition ref_date=${tm.ref_date} for `$db`.`${tm.name}`")
          TableResult(tm.name, updated = true, rows, None)
        } finally {
          // K4: scratch cleanup must also run on failed fetches and
          // decodes, or multi-GB extracted CSVs pile up across retried runs
          csvs.foreach(p => new java.io.File(p).delete())
        }
      }
    } catch {
      // M1: per-table failure isolation
      // Throwable, not NonFatal: a fatal error never completes its Future and Await.result(_, Inf) hangs
      case e: Throwable => TableResult(tm.name, updated = false, 0L, Some(Ingest.describe(e)))
    }
  }
}
