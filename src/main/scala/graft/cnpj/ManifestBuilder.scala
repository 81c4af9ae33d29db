package graft.cnpj

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest build: listing → per-table download manifest (SURVEY §3.3).
  *
  * Re-expresses the reference's dict-juggling (`check_update.py:24-92`)
  * as declarative Dataset ops — the engine dogfoods itself on its own
  * metadata:
  *   P2 folder filter → T1 name normalization → P1/P3 whitelist ∩
  *   requested semi-join → T3 date parse + A1 grouped max → T4 URL concat
  *   + A2 collect-list → P4 exists flag (left join vs catalog) → P5 drop
  *   empty. Each manifest's `files` are its FileTasks (IngestJob fetches
  *   them as one Dataset per table).
  *
  * Preserved reference quirks (SURVEY appendix): every file carries the
  * TABLE's max ref_date (#3); requested-but-absent tables vanish silently
  * (#5); unknown names are whitelisted away silently (#6).
  */
object ManifestBuilder {

  /** T1: `Empresas0.zip` → `empresas` (lower, pre-dot, alpha-only;
    * reference `check_update.py:55-60`).
    */
  val normalizeName: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => regexp_replace(lower(expr_predot(c)), "[^a-z]", "")

  private def expr_predot(c: org.apache.spark.sql.Column) =
    split_part(c, lit("."), lit(1))

  def build(
      spark: SparkSession,
      listing: Seq[ListingEntry],
      requestedTables: Seq[String],
      tablesInCatalog: Set[String],
      bucketName: String,
      repositoryUrl: String): Dataset[TableManifest] = {
    import spark.implicits._

    val existsCol =
      if (tablesInCatalog.isEmpty) lit(false)
      else $"name".isin(tablesInCatalog.toSeq: _*)
    val requested = requestedTables.toDF("name")
      .filter($"name".isin(Schemas.AllowedTableNames: _*)) // P1 whitelist
      .withColumn("exists", existsCol) // P4

    val files = listing.toDS()
      .filter(!$"iconSrc".contains("folder")) // P2 folder-row filter
      .withColumn("table", normalizeName($"fileName")) // T1
      .withColumn("url", concat(lit(repositoryUrl), $"href")) // T4
      // T3: "2023-05-16 09:18" → 20230516. try_cast: nav/header rows have
      // no date (the reference skips them positionally); they can't
      // survive the whitelist join anyway.
      .withColumn("file_date",
        expr("try_cast(regexp_replace(substring(lastModified, 1, 10), '-', '') AS int)"))
      .filter($"file_date".isNotNull)

    val perTable = files
      .join(requested, $"table" === requested("name"), "inner") // P3 (inner keeps name+exists)
      .groupBy($"name", $"exists")
      .agg(
        max($"file_date").as("ref_date"), // A1 grouped max
        collect_list(struct($"url", $"file_date")).as("raw_files")) // A2
      .filter(size($"raw_files") > 0) // P5 (inner join already enforces)

    perTable.select(
      $"name", $"exists", $"ref_date",
      // quirk #3: every file carries the table-level max ref_date
      transform($"raw_files",
        f => struct(
          f.getField("url").as("url"),
          $"name".as("table_name"),
          lit(bucketName).as("bucket_name"),
          $"ref_date".as("date"))).as("files"))
      .as[TableManifest]
  }
}
