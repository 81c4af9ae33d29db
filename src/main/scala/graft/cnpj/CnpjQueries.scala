package graft.cnpj

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.queries.QueryCaches

/** The query surface over the ingested CNPJ lake — what the reference
  * delegates to Athena/Redshift ("Agora você já pode explorar os dados
  * com o Athena ou Redshift", reference `README.md:619`). This engine
  * subsumes it: registered external tables + curated views + the
  * DataFrame/SQL API.
  *
  * The two analytics reads are snapshot-scoped: nothing rewrites a
  * snapshot between publications, so a read keeps the frame it builds and
  * returns it again while every input table's newest snapshot is
  * unchanged. A snapshot is identified by its `ref_date` and by the
  * (name, length, modification time) of that partition's files, so a
  * newer publication and a same-date re-ingest (new files under dynamic
  * overwrite) both rebuild the frame, and no answer goes stale.
  * Collecting a kept frame again runs only its result stage: 1 Spark
  * job instead of 3 (broadcast, shuffle map, result). The reuse is the
  * returned frame's own: a frame derived from it (`.as[T]`, `.select`)
  * is planned and run afresh.
  *
  * A kept frame holds only its broadcast dimension and its shuffled
  * partial aggregates, at most one row per dimension key per map task,
  * so what stays held is bounded by the dimension (municipalities,
  * legal natures), not by the fact table. One entry per (session,
  * database, read, parameters) lives in [[graft.queries.QueryCaches]];
  * a new snapshot replaces it, and `QueryCaches.clear()` drops it with
  * its shuffle files.
  *
  * The entry is the plan, not a persisted result. `QueryCaches.persist`
  * would also serve derived frames, but it registers the frame until
  * `clear()`: every replaced snapshot would stay pinned, blocks,
  * shuffle files and all, unless the memo learned to unpersist what it
  * replaces. A dropped plan needs no such step; the ContextCleaner
  * frees its shuffle files. The cached blocks would also sit beside
  * those shuffle files, since the cached plan still references them.
  *
  * The gain assumes reads between publications, as in the reference's
  * monthly cycle. A read right after a new snapshot of one of its
  * tables runs the 3 jobs of a cold read plus the identity check: one
  * catalog partition lookup and one file listing per input table,
  * about 0.5 ms per table on a local lake.
  */
object CnpjQueries {

  /** Typed date views: lake `dt_*` columns are yyyymmdd ints (inference
    * legacy); `<table>_v` views expose real DATE columns alongside.
    */
  def registerDateViews(spark: SparkSession, db: String = "default"): Unit = {
    val dateCols = Map(
      "socios" -> Seq("dt_entrada"),
      "simples" -> Seq("dt_opcao_simpl", "dt_exclusao_simpl", "dt_opcao_mei", "dt_exclusao_mei"),
      "estabelecimentos" -> Seq("dt_ref_sit_cad", "dt_abrt", "dt_sit_espec"))
    dateCols.foreach { case (table, cols) =>
      if (spark.catalog.tableExists(s"`$db`.`$table`")) {
        val df = cols.foldLeft(spark.table(s"`$db`.`$table`")) { (d, c) =>
          d.withColumn(s"${c}_date", to_date(col(c).cast("string"), "yyyyMMdd"))
        }
        df.createOrReplaceTempView(s"${table}_v")
      }
    }
  }

  /** A table's newest snapshot: its `ref_date` and the (name, length,
    * modification time) of that partition's files; `None` for a table
    * with no partition.
    */
  private[cnpj] type Snapshot = Option[(String, Seq[(String, Long, Long)])]

  /** The newest `ref_date` comes from the catalog's partition listing
    * (S4, no job), its files from one listing of the partition location
    * the session catalog records.
    */
  private def snapshot(spark: SparkSession, table: String, db: String): Snapshot =
    CatalogOps.listPartitions(spark, table, db).maxByOption(_.toInt).map { d =>
      val loc = new Path(spark.sessionState.catalog
        .getPartition(TableIdentifier(table, Some(db)), Map("ref_date" -> d)).location)
      val files = loc.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(loc)
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sorted
      (d, files)
    }

  /** A lake table at a snapshot. Each monthly publication is a full
    * snapshot, so a read over every `ref_date` counts each row once per
    * snapshot; a table with no partition reads as it is.
    */
  private def latest(spark: SparkSession, table: String, db: String, snap: Snapshot): DataFrame = {
    val t = spark.table(s"`$db`.`$table`")
    snap.fold(t)(s => t.where(col("ref_date") === s._1))
  }

  /** Each read's frame with the snapshots it was built from, per
    * (session, database, read, parameter).
    */
  private[cnpj] val reads =
    QueryCaches.memo[(SparkSession, String, String, Int), ((Snapshot, Snapshot), DataFrame)]()

  /** `build` over the newest snapshots of a fact and a dimension table,
    * kept while both snapshots are unchanged.
    */
  private def snapshotScoped(spark: SparkSession, db: String, read: String, param: Int,
                             fact: String, dim: String)(
      build: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val snaps @ (factSnap, dimSnap) = (snapshot(spark, fact, db), snapshot(spark, dim, db))
    reads.refresh((spark, db, read, param))(_._1 != snaps) {
      (snaps, build(latest(spark, fact, db, factSnap), latest(spark, dim, db, dimSnap)))
    }._2
  }

  /** The reference README's motivating analysis (SURVEY §7.2): companies
    * per municipality — establishments joined to the municipality
    * dimension (broadcast), counted, top-k. Key columns per reference
    * `fetch_data.py:23,42` (end_cod_muni ↔ codigo). Both tables are read
    * at their newest snapshot.
    */
  def establishmentsPerMunicipality(spark: SparkSession, limit: Int = 10,
                                    db: String = "default"): DataFrame =
    snapshotScoped(spark, db, "municipality", limit, "estabelecimentos", "municipios") {
      (estab, muni) =>
        estab.join(broadcast(muni), col("end_cod_muni") === col("codigo"))
          .groupBy(col("desc"))
          .agg(count(lit(1)).as("n_estab"))
          .orderBy(col("n_estab").desc, col("desc"))
          .limit(limit)
    }

  /** Companies and their total capital per legal nature — `empresas`
    * joined to the `naturezas` dimension, each at its newest snapshot.
    * The aggregate has one row per nature (plus the left join's null
    * group), so it is bounded by the dimension, not by `empresas`: one
    * task sorts it, with no range-partitioning sample job or exchange.
    */
  def companiesByLegalNature(spark: SparkSession, db: String = "default"): DataFrame =
    snapshotScoped(spark, db, "nature", 0, "empresas", "naturezas") { (emp, nat) =>
      emp.join(broadcast(nat), col("nat_jud") === col("codigo"), "left")
        .groupBy(col("desc"))
        .agg(
          count(lit(1)).as("n_companies"),
          sum(col("cap_soc").cast("decimal(28,2)")).cast("double").as("total_capital"))
        .coalesce(1)
        .sortWithinPartitions(col("n_companies").desc, col("desc"))
    }
}
