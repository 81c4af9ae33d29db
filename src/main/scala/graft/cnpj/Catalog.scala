package graft.cnpj

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Catalog operations (SURVEY S3/S4/K5): the Spark session catalog plays
  * the reference's Glue Data Catalog role — external parquet tables over
  * the lake, partitions discovered with recoverPartitions (the crawler's
  * job, minus re-inference: schemas are declared).
  *
  * The two reads (S3, S4) are one metadata call each on the session
  * catalog, like the reference's single Glue API calls: they submit no
  * Spark job and resolve no per-table schema.
  */
object CatalogOps {

  /** S3: table names currently in the catalog database, temp views
    * included (reference GetTables, `state_machine.asl:5-13`).
    */
  def listTables(spark: SparkSession, db: String = "default"): Set[String] = {
    if (!spark.catalog.databaseExists(db)) return Set.empty
    spark.sessionState.catalog.listTables(db).map(_.table).toSet
  }

  /** K5: register <lakeRoot>/cnpj_db/<table> as an external partitioned
    * parquet table if absent, then sync partitions (reference crawler,
    * `state_machine.asl:132-138`). The database plays the reference's
    * Glue database role — one per lake.
    */
  // serializes DDL from concurrent table ingests (IngestJob M1 fan-out):
  // CREATE DATABASE/TABLE IF-NOT-EXISTS checks are not atomic across
  // threads in every catalog implementation
  private val ddlLock = new Object

  def ensureTable(spark: SparkSession, table: String, lakeRoot: String,
                  db: String = "default"): Unit = {
    ddlLock.synchronized {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
      if (!spark.catalog.tableExists(s"`$db`.`$table`")) {
        val cols = Schemas(table).map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        spark.sql(
          s"""CREATE TABLE `$db`.`$table` ($cols)
             |USING parquet
             |PARTITIONED BY (ref_date STRING)
             |LOCATION '$lakeRoot/cnpj_db/$table'""".stripMargin)
      }
    }
    spark.catalog.recoverPartitions(s"`$db`.`$table`")
  }

  /** S4: partition values of a table (reference GetPartitions,
    * `state_machine.asl:43-55`). Values of the single ref_date key.
    */
  def listPartitions(spark: SparkSession, table: String, db: String = "default"): Seq[String] =
    spark.sessionState.catalog.listPartitions(TableIdentifier(table, Some(db)))
      .map(_.spec("ref_date"))
}

/** Incremental-update gate (SURVEY F1-F3).
  *
  * Implements the reference's DOCUMENTED INTENT — site ref_date newer
  * than the max existing partition (`README.md:222`) — not its bug
  * (`lambda_function.py:6` compares against whichever partition Glue
  * returns first; see SURVEY §2 F3 and the pinning spec).
  */
object FreshnessGate {

  /** F3: should the table be (re)ingested? New tables (F1, exists=false)
    * always pass; otherwise site date must exceed the max partition.
    */
  def shouldUpdate(manifest: TableManifest, existingPartitions: Seq[String]): Boolean =
    if (!manifest.exists) true
    else existingPartitions match {
      case Nil => true
      case ps  => manifest.ref_date > ps.map(_.toInt).max
    }
}
