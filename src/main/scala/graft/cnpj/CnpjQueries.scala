package graft.cnpj

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query surface over the ingested CNPJ lake — what the reference
  * delegates to Athena/Redshift ("Agora você já pode explorar os dados
  * com o Athena ou Redshift", reference `README.md:619`). This engine
  * subsumes it: registered external tables + curated views + the
  * DataFrame/SQL API.
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

  /** A lake table at its newest snapshot. Each monthly publication is a
    * full snapshot, so a read over every `ref_date` counts each row once
    * per snapshot. The newest one comes from the catalog's partition
    * listing (S4, no job); a table with no partition reads as it is.
    */
  private def latest(spark: SparkSession, table: String, db: String): DataFrame = {
    val t = spark.table(s"`$db`.`$table`")
    CatalogOps.listPartitions(spark, table, db).maxByOption(_.toInt)
      .fold(t)(d => t.where(col("ref_date") === d))
  }

  /** The reference README's motivating analysis (SURVEY §7.2): companies
    * per municipality — establishments joined to the municipality
    * dimension (broadcast), counted, top-k. Key columns per reference
    * `fetch_data.py:23,42` (end_cod_muni ↔ codigo). Both tables are read
    * at their newest snapshot.
    */
  def establishmentsPerMunicipality(spark: SparkSession, limit: Int = 10,
                                    db: String = "default"): DataFrame =
    latest(spark, "estabelecimentos", db)
      .join(broadcast(latest(spark, "municipios", db)),
        col("end_cod_muni") === col("codigo"))
      .groupBy(col("desc"))
      .agg(count(lit(1)).as("n_estab"))
      .orderBy(col("n_estab").desc, col("desc"))
      .limit(limit)

  /** Companies and their total capital per legal nature — `empresas`
    * joined to the `naturezas` dimension, each at its newest snapshot.
    * The aggregate has one row per nature (plus the left join's null
    * group), so it is bounded by the dimension, not by `empresas`: one
    * task sorts it, with no range-partitioning sample job or exchange.
    */
  def companiesByLegalNature(spark: SparkSession, db: String = "default"): DataFrame =
    latest(spark, "empresas", db)
      .join(broadcast(latest(spark, "naturezas", db)),
        col("nat_jud") === col("codigo"), "left")
      .groupBy(col("desc"))
      .agg(
        count(lit(1)).as("n_companies"),
        sum(col("cap_soc").cast("decimal(28,2)")).cast("double").as("total_capital"))
      .coalesce(1)
      .sortWithinPartitions(col("n_companies").desc, col("desc"))
}
