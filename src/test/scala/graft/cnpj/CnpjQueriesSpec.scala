package graft.cnpj

import java.io.{File, FileOutputStream}
import java.nio.charset.Charset
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.queries.QueryCaches

/** The analytics surface over an ingested CNPJ lake: the reference's
  * README motivating queries (delegated there to Athena), answered by
  * this engine over its own lake.
  */
class CnpjQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()

  val work: File = Files.createTempDirectory("cnpj_q_spec").toFile
  val repoDir = new File(work, "repo"); repoDir.mkdirs()
  val lakeRoot = new File(work, "lake").getAbsolutePath
  val staging = new File(work, "staging").getAbsolutePath

  def writeZip(name: String, csv: String, dir: File = repoDir): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(new File(dir, name)))
    zos.putNextEntry(new ZipEntry(name.stripSuffix(".zip") + ".CSV"))
    zos.write(csv.getBytes(Charset.forName("ISO-8859-1")))
    zos.closeEntry()
    zos.close()
  }

  // 30-column estabelecimentos row with only the fields under test filled
  def estabRow(raiz: Long, muni: Long, dtAbrt: Long): String =
    Seq(raiz, "1", "11", "1", "FANT", "2", "20230101", "0", "", "105",
      dtAbrt.toString, "47113", "", "RUA", "DAS FLORES", "100", "", "CENTRO",
      "01000000", "SP", muni.toString, "11", "99999999", "", "", "", "", "a@b.c", "", "")
      .mkString(";")

  writeZip("Municipios.zip", "100;CAMPINAS\n200;SANTOS\n")
  writeZip("Naturezas.zip", "2062;Sociedade Limitada\n2011;Empresa Publica\n")
  writeZip("Empresas7.zip",
    "111;ALFA LTDA;2062;49;1000,00;1;\n" +
      "222;BETA SA;2062;49;2000,50;3;SP\n" +
      "333;GAMA EP;2011;49;500,00;1;\n")
  writeZip("Estabelecimentos9.zip",
    Seq(estabRow(111, 100, 20200101), estabRow(111, 100, 20210101),
      estabRow(222, 100, 20220101), estabRow(333, 200, 20230101)).mkString("\n") + "\n")

  val html: String = Seq("Municipios.zip", "Naturezas.zip", "Empresas7.zip", "Estabelecimentos9.zip")
    .map(n => s"""<tr><td><img src="/icons/compressed.gif" alt=""></td>""" +
      s"""<td><a href="$n">$n</a></td><td align="right">2023-06-01 08:00</td></tr>""")
    .mkString("<table>", "", "</table>")

  test("ingest the 4-table lake, then answer the README's analytics over it") {
    import spark.implicits._
    val res = IngestJob.runWithListing(spark, ListingScraper.parse(html),
      Seq("municipios", "naturezas", "empresas", "estabelecimentos"),
      tablesInCatalog = Set(), repoDir.toURI.toString, lakeRoot, staging, "bkt", db = "cnpj_q")
    assert(res.forall(_.error.isEmpty), res.mkString("; "))

    val perMuni = CnpjQueries.establishmentsPerMunicipality(spark, db = "cnpj_q")
      .as[(String, Long)].collect().toSeq
    assert(perMuni == Seq(("CAMPINAS", 3L), ("SANTOS", 1L)))

    val byNature = CnpjQueries.companiesByLegalNature(spark, db = "cnpj_q")
      .select($"desc", $"n_companies", $"total_capital")
      .as[(String, Long, Double)].collect().toSeq
    assert(byNature == Seq(("Sociedade Limitada", 2L, 3000.50), ("Empresa Publica", 1L, 500.00)))
  }

  test("counters: the legal-nature read is 3 jobs, sorted in one task without range partitioning") {
    // cold: the first test's reads left their frames in the memo
    QueryCaches.clear()
    val df = CnpjQueries.companiesByLegalNature(spark, db = "cnpj_q")
    val (rows, jobs, _) = CnpjIngestSpec.recordJobs(spark)(df.collect().toSeq)
    assert(rows.map(_.getString(0)) == Seq("Sociedade Limitada", "Empresa Publica"))
    assert(jobs.size == 3, s"jobs: ${jobs.map(_._1).mkString("\n---\n")}")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
  }

  // the rows of the returned frame itself: a frame derived from it
  // (`.as[T]`, `.select`) is planned and run afresh
  def municipality(db: String): Seq[(String, Long)] =
    CnpjQueries.establishmentsPerMunicipality(spark, db = db).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))

  def nature(db: String): Seq[(String, Long, Double)] =
    CnpjQueries.companiesByLegalNature(spark, db = db).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

  val (muniAnswer, natureAnswer) = (Seq(("CAMPINAS", 3L), ("SANTOS", 1L)),
    Seq(("Sociedade Limitada", 2L, 3000.50), ("Empresa Publica", 1L, 500.00)))

  test("counters: on an unchanged lake each read is 3 jobs cold and 1 job warm, with identical rows") {
    def coldThenWarm[T](read: => Seq[T], answer: Seq[T]): Unit = {
      val (cold, coldJobs, _) = CnpjIngestSpec.recordJobs(spark)(read)
      val (warm, warmJobs, _) = CnpjIngestSpec.recordJobs(spark)(read)
      assert(cold == answer && warm == cold)
      assert(coldJobs.size == 3, s"cold jobs: ${coldJobs.map(_._1).mkString("\n---\n")}")
      assert(warmJobs.size == 1, s"warm jobs: ${warmJobs.map(_._1).mkString("\n---\n")}")
    }
    QueryCaches.clear()
    coldThenWarm(municipality("cnpj_q"), muniAnswer)
    coldThenWarm(nature("cnpj_q"), natureAnswer)
    QueryCaches.clear()
    val (_, again, _) = CnpjIngestSpec.recordJobs(spark)(municipality("cnpj_q"))
    assert(again.size == 3, "a read after QueryCaches.clear() must be cold")
  }

  test("two threads reading at once get identical rows") {
    QueryCaches.clear()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val reads = Seq.fill(2)(pool.submit(() => (municipality("cnpj_q"), nature("cnpj_q"))))
      assert(reads.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)) ==
        Seq.fill(2)((muniAnswer, natureAnswer)))
    } finally pool.shutdown()
  }

  test("a newer snapshot and a same-date re-ingest each change the answer; one memo entry per read") {
    val (lake, db) = (s"$lakeRoot-memo", "cnpj_memo")
    val tables = Seq("municipios", "naturezas", "empresas", "estabelecimentos")
    def ingest(repo: File, date: String, only: Seq[String], inCatalog: Set[String]): Unit = {
      val res = IngestJob.runWithListing(spark, ListingScraper.parse(html.replace("2023-06-01 08:00", date)),
        only, inCatalog, repo.toURI.toString, lake, staging, "bkt", db = db)
      assert(res.forall(r => r.updated && r.error.isEmpty), res)
    }
    def estabRepo(name: String, munis: Long*): File = {
      val dir = new File(work, name); dir.mkdirs()
      writeZip("Estabelecimentos9.zip", munis.zipWithIndex
        .map { case (m, i) => estabRow(111L * (i % 3 + 1), m, 20200101) }.mkString("\n") + "\n", dir)
      dir
    }
    QueryCaches.clear()
    ingest(repoDir, "2023-06-01 08:00", tables, Set())
    assert(municipality(db) == muniAnswer && municipality(db) == muniAnswer)
    assert(nature(db) == natureAnswer)

    // next month's estabelecimentos: three establishments in SANTOS
    ingest(estabRepo("repo-next", 200, 200, 200), "2023-07-01 08:00", Seq("estabelecimentos"),
      CatalogOps.listTables(spark, db))
    assert(CatalogOps.listPartitions(spark, "estabelecimentos", db).sorted == Seq("20230601", "20230701"))
    assert(municipality(db) == Seq(("SANTOS", 3L)))
    assert(nature(db) == natureAnswer)
    // the newer snapshot replaced each read's entry
    assert(CnpjQueries.reads.size == 2)

    // the same month re-ingested with other rows: the date is unchanged,
    // the partition's files are not
    ingest(estabRepo("repo-same", 100, 100, 100, 100), "2023-07-01 08:00", Seq("estabelecimentos"), Set())
    assert(CatalogOps.listPartitions(spark, "estabelecimentos", db).sorted == Seq("20230601", "20230701"))
    assert(municipality(db) == Seq(("CAMPINAS", 4L)))
    assert(CnpjQueries.reads.size == 2)
  }

  test("the reads count the newest snapshot only, however many the lake holds") {
    import spark.implicits._
    val tables = Seq("municipios", "naturezas", "empresas", "estabelecimentos")
    val (lake, db) = (s"$lakeRoot-snapshots", "cnpj_snapshots")
    def answers() = (
      CnpjQueries.establishmentsPerMunicipality(spark, db = db).as[(String, Long)].collect().toSeq,
      CnpjQueries.companiesByLegalNature(spark, db = db)
        .select($"desc", $"n_companies", $"total_capital").as[(String, Long, Double)].collect().toSeq)
    val first = IngestJob.runWithListing(spark, ListingScraper.parse(html), tables,
      tablesInCatalog = Set(), repoDir.toURI.toString, lake, staging, "bkt", db = db)
    assert(first.forall(r => r.updated && r.error.isEmpty), first)
    val once = answers()
    assert(once == (Seq(("CAMPINAS", 3L), ("SANTOS", 1L)),
      Seq(("Sociedade Limitada", 2L, 3000.50), ("Empresa Publica", 1L, 500.00))))

    // next month's publication: the same rows, a newer date on every file
    val republished = ListingScraper.parse(html.replace("2023-06-01 08:00", "2023-07-01 08:00"))
    val second = IngestJob.runWithListing(spark, republished, tables,
      CatalogOps.listTables(spark, db), repoDir.toURI.toString, lake, staging, "bkt", db = db)
    assert(second.forall(r => r.updated && r.error.isEmpty), second)
    assert(tables.forall(t => CatalogOps.listPartitions(spark, t, db).sorted == Seq("20230601", "20230701")))
    assert(answers() == once)
  }

  test("ref_date predicates prune partitions down to the matching snapshot files") {
    import spark.implicits._
    // second snapshot partition written directly (newer ref_date)
    val extra = Seq((900L, "NOVA CIDADE")).toDF("codigo", "desc")
    Ingest.writeSnapshot(extra, lakeRoot, "municipios", 20230701)
    CatalogOps.ensureTable(spark, "municipios", lakeRoot, db = "cnpj_q")
    assert(CatalogOps.listPartitions(spark, "municipios", db = "cnpj_q").sorted ==
      Seq("20230601", "20230701"))

    val pruned = spark.table("cnpj_q.municipios").where($"ref_date" === "20230601")
    // partition pruning: only the matching snapshot's files are read
    assert(pruned.inputFiles.nonEmpty)
    assert(pruned.inputFiles.forall(_.contains("ref_date=20230601")), pruned.inputFiles.mkString(","))
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
  }

  test("date views expose typed DATE columns over yyyymmdd ints") {
    import spark.implicits._
    CnpjQueries.registerDateViews(spark, db = "cnpj_q")
    val d = spark.table("estabelecimentos_v")
      .where($"cnpj_raiz" === 333L)
      .select($"dt_abrt_date").as[java.sql.Date].head()
    assert(d == java.sql.Date.valueOf("2023-01-01"))
  }
}
