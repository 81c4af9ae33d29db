package graft.cnpj

/** Control-plane data model for the CNPJ ingestion pipeline.
  *
  * The reference passes JSON documents between Step Functions states
  * (reference `README.md:271-275`, manifest shape `README.md:379-477`);
  * here the same shapes are typed case classes carried in `Dataset[T]`.
  */

/** One row of the parsed HTTP listing (reference autoindex table,
  * `lambdas/check_update/check_update.py:40-70`).
  */
case class ListingEntry(
    iconSrc: String,
    fileName: String,
    href: String,
    lastModified: String)

/** One downloadable file task (reference `check_update.py:81-89`; payload
  * consumed by `fetch_data.py:48-55`). `date` is the TABLE's ref_date
  * (max over its files), not the file's own — reference quirk preserved
  * (`check_update.py:69-70,87`).
  */
case class FileTask(
    url: String,
    table_name: String,
    bucket_name: String,
    date: Int)

/** One fetch task's outcome (M2): the staged CSV's path, or the error
  * that failed its file, naming the zip. A task reports its failure
  * instead of throwing, so the table's job always runs every file to the
  * end and every staged CSV is known to the driver (K4).
  */
case class StagedFile(csvPath: Option[String], error: Option[String])

/** Per-table manifest entry (reference `check_update.py:24-38,72-92`). */
case class TableManifest(
    name: String,
    exists: Boolean,
    files: Seq[FileTask],
    ref_date: Int)
