package graft.cnpj

import java.util.Locale
import org.apache.spark.sql.{Dataset, SparkSession}

/** Manifest build: listing → per-table download manifest (SURVEY §3.3).
  *
  * Driver code, as in the reference (`check_update.py:24-92`): the
  * listing is a few hundred rows, so the rules run over Scala collections
  * and submit no Spark job:
  *   P2 folder filter → T1 name normalization → T3 date parse → P1/P3
  *   whitelist ∩ requested (each name once) → P4 exists flag → A1
  *   table-level max date → T4 URL concat + A2 file list → P5 drop
  *   tables with no file. Each manifest's `files` are its FileTasks
  *   (IngestJob fetches each table's files in one Spark job).
  *
  * Preserved reference quirks (SURVEY appendix): every file carries the
  * TABLE's max ref_date (#3); requested-but-absent tables vanish silently
  * (#5); unknown names are whitelisted away silently (#6).
  */
object ManifestBuilder {

  /** T1: `Empresas0.zip` → `empresas`: the part before the first dot,
    * lower-cased, letters a-z only (reference `check_update.py:55-60`).
    */
  def normalizeName(fileName: String): String =
    fileName.takeWhile(_ != '.').toLowerCase(Locale.ROOT).filter(c => c >= 'a' && c <= 'z')

  /** T3: `"2023-05-16 09:18"` → 20230516: the first 10 characters without
    * their dashes, trimmed, read as an int (an optional '+', ASCII digits
    * only). None when that is no number: nav/header rows have no date
    * (the reference skips them positionally).
    */
  def fileDate(lastModified: String): Option[Int] = {
    val s = lastModified.take(10).replace("-", "").trim
    if (s.stripPrefix("+").forall(c => c >= '0' && c <= '9')) s.toIntOption else None
  }

  /** The manifest of each requested table found in `listing`, in request order. */
  def manifests(
      listing: Seq[ListingEntry],
      requestedTables: Seq[String],
      tablesInCatalog: Set[String],
      bucketName: String,
      repositoryUrl: String): Seq[TableManifest] = {
    val filesByTable = listing
      .filterNot(_.iconSrc.contains("folder")) // P2
      .flatMap(e => fileDate(e.lastModified).map(d => (normalizeName(e.fileName), e.href, d)))
      .groupBy(_._1)
    requestedTables.distinct
      .filter(Schemas.AllowedTableNames.contains) // P1
      .flatMap(name => filesByTable.get(name).map { files => // P3; P5 drops absent tables
        val refDate = files.map(_._3).max // A1
        // quirk #3: every file carries the table-level max ref_date
        val tasks = files.map { case (_, href, _) => // A2
          FileTask(repositoryUrl + href, name, bucketName, refDate) } // T4
        TableManifest(name, tablesInCatalog(name), tasks, refDate) // P4
      })
  }

  /** [[manifests]] as a Dataset. */
  def build(
      spark: SparkSession,
      listing: Seq[ListingEntry],
      requestedTables: Seq[String],
      tablesInCatalog: Set[String],
      bucketName: String,
      repositoryUrl: String): Dataset[TableManifest] = {
    import spark.implicits._
    manifests(listing, requestedTables, tablesInCatalog, bucketName, repositoryUrl).toDS()
  }
}
