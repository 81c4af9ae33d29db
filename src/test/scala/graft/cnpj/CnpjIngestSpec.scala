package graft.cnpj

import java.io.{File, FileOutputStream}
import java.nio.charset.Charset
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** End-to-end reference-fidelity tests: synthetic CNPJ-shaped fixtures
  * (headerless ; latin-1 decimal-comma CSVs inside zips, an Apache
  * autoindex HTML snapshot) driven through the full IngestJob, asserting
  * manifest semantics, lake layout, charset/decimal decoding, the
  * first-zip-member quirk, the freshness gate (documented-intent max
  * semantics, pinned against the reference's first-partition bug), and
  * idempotent re-runs.
  */
class CnpjIngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()

  val work: File = Files.createTempDirectory("cnpj_spec").toFile
  val repoDir = new File(work, "repo"); repoDir.mkdirs()
  val lakeRoot = new File(work, "lake").getAbsolutePath
  val staging = new File(work, "staging").getAbsolutePath

  def writeZip(name: String, members: Seq[(String, String)], dir: File = repoDir): File = {
    val f = new File(dir, name)
    val zos = new ZipOutputStream(new FileOutputStream(f))
    members.foreach { case (entryName, content) =>
      zos.putNextEntry(new ZipEntry(entryName))
      zos.write(content.getBytes(Charset.forName("ISO-8859-1")))
      zos.closeEntry()
    }
    zos.close()
    f
  }

  def autoindexRow(icon: String, name: String, modified: String): String =
    s"""<tr><td valign="top"><img src="$icon" alt=""></td>""" +
      s"""<td><a href="$name">$name</a></td>""" +
      s"""<td align="right">$modified</td><td align="right">1M</td></tr>"""

  // municipios: dim table (codigo;desc). empresas: includes decimal-comma
  // cap_soc and latin-1 accents. Empresas zip has TWO members — only the
  // first may be ingested (reference quirk #1).
  writeZip("Municipios.zip", Seq(
    "F.K03200$Z.D30513.MUNICCSV" -> "1;SÃO PAULO\n2;BRASÍLIA\n3;NITERÓI\n"))
  writeZip("Empresas0.zip", Seq(
    "K3241.K03200Y0.EMPRECSV" ->
      ("11111111;EMPRESA A LTDA;2062;49;1000,50;1;\n" +
        "22222222;AÇUCAR & CIA;2240;16;25000,99;3;DF\n"),
    "SHOULD_NOT_BE_READ.csv" -> "99999999;WRONG;0;0;0,0;0;\n"))
  writeZip("Empresas1.zip", Seq(
    "K3241.K03200Y1.EMPRECSV" -> "33333333;TERCEIRA SA;2046;10;500,00;5;RJ\n"))

  val html: String =
    """<html><body><table>
      |<tr><th>&nbsp;</th><th>Name</th><th>Last modified</th><th>Size</th></tr>
      |<tr><th colspan="4"><hr></th></tr>""".stripMargin +
      autoindexRow("/icons/back.gif", "/", "") +
      autoindexRow("/icons/folder.gif", "regime_tributario/", "2023-05-10 12:00") +
      autoindexRow("/icons/compressed.gif", "Municipios.zip", "2023-05-16 09:18") +
      autoindexRow("/icons/compressed.gif", "Empresas0.zip", "2023-05-15 10:00") +
      autoindexRow("/icons/compressed.gif", "Empresas1.zip", "2023-05-16 11:30") +
      autoindexRow("/icons/compressed.gif", "Unknown.zip", "2023-05-16 09:18") +
      "</table></body></html>"

  val repoUrl: String = repoDir.toURI.toString // file:/... ending with /

  test("scraper parses autoindex rows, skipping header and keeping folder flag") {
    val entries = ListingScraper.parse(html)
    assert(entries.map(_.fileName) ==
      Seq("/", "regime_tributario/", "Municipios.zip", "Empresas0.zip", "Empresas1.zip", "Unknown.zip"))
    assert(entries.count(_.iconSrc.contains("folder")) == 1)
  }

  test("manifest: whitelist, folder skip, T1/T3/T4, table-level max ref_date, silent drops") {
    val m = ManifestBuilder.build(spark, ListingScraper.parse(html),
      Seq("municipios", "empresas", "socios", "notatable"),
      tablesInCatalog = Set("municipios"), "bkt", repoUrl)
      .collect().map(t => t.name -> t).toMap

    assert(m.keySet == Set("municipios", "empresas")) // socios absent on site (#5), notatable whitelisted (#6)
    assert(m("municipios").exists && !m("empresas").exists)
    assert(m("municipios").ref_date == 20230516)
    // empresas ref_date = max(20230515, 20230516); BOTH files carry it (#3)
    assert(m("empresas").ref_date == 20230516)
    assert(m("empresas").files.map(_.date).toSet == Set(20230516))
    assert(m("empresas").files.map(_.url).toSet ==
      Set(s"${repoUrl}Empresas0.zip", s"${repoUrl}Empresas1.zip"))
  }

  test("end-to-end ingest: lake layout, latin-1, decimal comma, first-member-only, catalog") {
    import spark.implicits._
    val results = IngestJob.runWithListing(spark, ListingScraper.parse(html),
      Seq("municipios", "empresas"), tablesInCatalog = Set(),
      repoUrl, lakeRoot, staging, "bkt", db = "cnpj_ing")
    assert(results.forall(_.error.isEmpty), results.mkString("; "))
    assert(results.forall(_.updated))

    // K2 layout: lake/cnpj_db/<table>/ref_date=<yyyymmdd>/
    assert(new File(s"$lakeRoot/cnpj_db/municipios/ref_date=20230516").exists())
    assert(new File(s"$lakeRoot/cnpj_db/empresas/ref_date=20230516").exists())

    val mun = spark.table("cnpj_ing.municipios")
    assert(mun.count() == 3)
    // T5 latin-1 decode
    assert(mun.filter($"codigo" === 1).select($"desc").as[String].head() == "SÃO PAULO")

    val emp = spark.table("cnpj_ing.empresas").orderBy($"cnpj_raiz")
    // first-member-only: 3 rows from the two zips' FIRST members, none from the decoy
    assert(emp.count() == 3)
    assert(!emp.select($"raz_soc").as[String].collect().contains("WRONG"))
    // T2 decimal comma
    assert(emp.select($"cap_soc").as[Double].collect().toSeq == Seq(1000.50, 25000.99, 500.00))
    // empty trailing field -> null/empty string, latin-1 cedilla survives
    assert(emp.filter($"cnpj_raiz" === 22222222L).select($"raz_soc").as[String].head()
      == "AÇUCAR & CIA")
  }

  test("freshness gate: documented intent (true max), not the reference's [0] bug") {
    val tm = TableManifest("empresas", exists = true, Seq(), ref_date = 20230601)
    // partitions deliberately unordered: the reference bug would compare
    // against the first returned partition (20230101) and say "update";
    // intent semantics compare against max (20230701) and say "fresh".
    val parts = Seq("20230701", "20230101")
    assert(!FreshnessGate.shouldUpdate(tm, parts))
    assert(FreshnessGate.shouldUpdate(tm, Seq("20230101", "20230215")))
    assert(FreshnessGate.shouldUpdate(tm.copy(exists = false), Seq())) // F1: new table
    assert(FreshnessGate.shouldUpdate(tm, Seq())) // existing but no partitions
  }

  test("M1 fan-out: tables ingest concurrently; one table's failure is isolated") {
    // Cnaes.zip is listed on the site but missing on disk — its fetch must
    // fail without aborting the other two tables (reference TableLoop
    // isolation, state_machine.asl:24-131, now with the INLINE-Map fan-out)
    val htmlWithBroken = html.replace("</table>",
      autoindexRow("/icons/compressed.gif", "Cnaes.zip", "2023-05-16 09:18") + "</table>")
    val results = IngestJob.runWithListing(spark, ListingScraper.parse(htmlWithBroken),
      Seq("municipios", "empresas", "cnaes"), tablesInCatalog = Set(),
      repoUrl, s"$lakeRoot-par", s"$staging-par", "bkt", db = "cnpj_par",
      maxConcurrentTables = 3)
    val byName = results.map(r => r.table -> r).toMap
    assert(byName.keySet == Set("municipios", "empresas", "cnaes"))
    assert(byName("cnaes").error.isDefined && !byName("cnaes").updated)
    assert(byName("municipios").updated && byName("municipios").error.isEmpty)
    assert(byName("empresas").updated && byName("empresas").error.isEmpty)
    // the three tables were handled by the bounded pool, not one thread:
    // a fixed pool spawns one thread per queued task up to its bound
    val threads = Seq("municipios", "empresas", "cnaes")
      .map(IngestJob.processingThreads.get)
    assert(threads.forall(_ != null))
    assert(threads.distinct.size >= 2, s"expected concurrent threads, got $threads")
  }

  test("Retry.withBackoff retries an IOException `attempts` times; an interrupt propagates at once") {
    var calls = 0
    intercept[java.io.IOException] {
      Retry.withBackoff(attempts = 3, firstDelayMs = 1) {
        calls += 1; throw new java.io.IOException("connection reset")
      }
    }
    assert(calls == 3, s"a transient I/O failure gets every attempt; ran $calls")
    calls = 0
    intercept[InterruptedException] {
      Retry.withBackoff(attempts = 3, firstDelayMs = 1) {
        calls += 1; throw new InterruptedException("cancelled")
      }
    }
    assert(calls == 1, s"an interrupt must not be slept on and retried; ran $calls")
  }

  test("re-run with same site state is a no-op; newer site date re-ingests idempotently") {
    import spark.implicits._
    val second = IngestJob.runWithListing(spark, ListingScraper.parse(html),
      Seq("municipios", "empresas"), tablesInCatalog = Set("municipios", "empresas"),
      repoUrl, lakeRoot, staging, "bkt", db = "cnpj_ing")
    assert(second.forall(r => !r.updated && r.error.isEmpty), second.mkString("; ")) // F2 no-op branch

    // same-date re-ingest (forced, exists=false path) must not duplicate rows
    IngestJob.runWithListing(spark, ListingScraper.parse(html),
      Seq("municipios"), tablesInCatalog = Set(),
      repoUrl, lakeRoot, staging, "bkt", db = "cnpj_ing")
    assert(spark.table("cnpj_ing.municipios").count() == 3) // dynamic overwrite, not append
  }

  /** Regular files under `dir` whose names end in .zip or .csv. */
  def scratchLeft(dir: String): Seq[String] = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".zip") || p.endsWith(".csv")).toList
      finally walk.close()
    }
  }

  // a second site for the failure paths, so the main site's files stay as
  // the tests above expect (Cnaes.zip must stay missing there)
  val badRepo = new File(work, "repo-bad"); badRepo.mkdirs()
  writeZip("Municipios.zip", Seq("MUNICCSV" -> "1;SÃO PAULO\n2;BRASÍLIA\n3;NITERÓI\n"), badRepo)
  Files.write(new File(badRepo, "Paises.zip").toPath, "this is not a zip".getBytes("US-ASCII"))
  // end-of-central-directory record alone: a valid zip with no members
  Files.write(new File(badRepo, "Motivos.zip").toPath, Array[Byte](0x50, 0x4b, 5, 6) ++ new Array[Byte](18))
  writeZip("Naturezas.zip", Seq("NATJUCSV" -> "2062;SOCIEDADE LIMITADA\nx1;CODIGO NAO NUMERICO\n"), badRepo)
  // one table of two files: the first good, the second not a zip
  writeZip("Empresas0.zip", Seq("EMPRECSV" -> "11111111;EMPRESA A LTDA;2062;49;1000,50;1;\n"), badRepo)
  Files.write(new File(badRepo, "Empresas1.zip").toPath, "not a zip either".getBytes("US-ASCII"))
  writeZip("Qualificacoes.zip", Seq("QUALSCSV" -> ""), badRepo)

  def badSite(files: String*): Seq[ListingEntry] = ListingScraper.parse(
    "<table>" + files.map(autoindexRow("/icons/compressed.gif", _, "2023-05-16 09:18")).mkString +
      "</table>")

  test("K4: a corrupt zip and an empty zip fail only their own tables and leave no scratch") {
    val stagingBad = s"$staging-bad"
    val results = IngestJob.runWithListing(spark,
      badSite("Municipios.zip", "Paises.zip", "Motivos.zip"),
      Seq("municipios", "paises", "motivos"), tablesInCatalog = Set(),
      badRepo.toURI.toString, s"$lakeRoot-bad", stagingBad, "bkt", db = "cnpj_bad")
    val byName = results.map(r => r.table -> r).toMap
    assert(byName.keySet == Set("municipios", "paises", "motivos"))
    for (bad <- Seq("paises", "motivos"))
      assert(byName(bad).error.isDefined && !byName(bad).updated, byName(bad))
    assert(scratchLeft(stagingBad).isEmpty, s"scratch left in staging: ${scratchLeft(stagingBad)}")
    assert(byName("motivos").error.exists(_.contains("Motivos.zip has no members")), byName("motivos"))
    assert(byName("municipios") == IngestJob.TableResult("municipios", updated = true, 3L, None))
  }

  test("malformed CSV row: FAILFAST fails that table, by name; the other ingests; no CSV stays") {
    val stagingBad = s"$staging-malformed"
    val results = IngestJob.runWithListing(spark, badSite("Municipios.zip", "Naturezas.zip"),
      Seq("municipios", "naturezas"), tablesInCatalog = Set(),
      badRepo.toURI.toString, s"$lakeRoot-malformed", stagingBad, "bkt", db = "cnpj_malformed")
    val byName = results.map(r => r.table -> r).toMap
    val err = byName("naturezas").error
    assert(!byName("naturezas").updated && err.isDefined)
    // FAILFAST stops the read at the bad row; the error names the staged
    // file, which is the table's
    assert(err.exists(e => e.contains("FAILED_READ_FILE") && e.contains("naturezas/Naturezas.csv")),
      s"the error must name the table's file: $err")
    assert(byName("municipios") == IngestJob.TableResult("municipios", updated = true, 3L, None))
    assert(scratchLeft(stagingBad).isEmpty, s"scratch left in staging: ${scratchLeft(stagingBad)}")
  }

  test("repeated requested names: one manifest entry, distinct files, one ingest") {
    val m = ManifestBuilder.build(spark, ListingScraper.parse(html),
      Seq("municipios", "municipios", "empresas"), tablesInCatalog = Set(), "bkt", repoUrl)
      .collect().toSeq
    assert(m.map(_.name) == Seq("municipios", "empresas"))
    assert(m.head.files.map(_.url) == Seq(s"${repoUrl}Municipios.zip"))
    assert(m.forall(t => t.files.distinct == t.files))

    val results = IngestJob.runWithListing(spark, ListingScraper.parse(html),
      Seq("municipios", "municipios"), tablesInCatalog = Set(),
      repoUrl, s"$lakeRoot-dup", s"$staging-dup", "bkt", db = "cnpj_dup")
    assert(results == Seq(IngestJob.TableResult("municipios", updated = true, 3L, None)))
  }

  test("T1/T3 on the driver agree with the Catalyst expressions they replaced, on edge inputs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val names = Seq("Empresas0.zip", "Empresas0.tar.zip", "Municípios.zip", "SOCIOS9.ZIP",
      "/", "regime_tributario/", "", ".zip")
    val dates = Seq("2023-05-16 09:18", "2023-05-1", " 2023-05-16", "2023.05.16 09", "", "-",
      "+20230516", "2023-05-16.0", "20230516.5", "12.", "1.5", ".5", "\t20230516",
      "99999999999", "1e3", "+", "2023 05 16", "\u0662\u0660\u0662\u0663")
    // the oracle: the Spark SQL that computed T1 and T3 before the
    // manifest became driver code
    val oracleNames = names.toDF("n")
      .select(regexp_replace(lower(split_part($"n", lit("."), lit(1))), "[^a-z]", ""))
      .as[String].collect().toSeq
    val oracleDates = dates.toDF("d")
      .select(expr("try_cast(regexp_replace(substring(d, 1, 10), '-', '') AS int)"))
      .as[Option[Int]].collect().toSeq
    assert(names.map(ManifestBuilder.normalizeName) == oracleNames)
    assert(dates.map(ManifestBuilder.fileDate) == oracleDates,
      dates.zip(dates.map(ManifestBuilder.fileDate)).zip(oracleDates).mkString("\n"))
    assert(Seq("2023-05-1", " 2023-05-16", "2023.05.16 09").map(ManifestBuilder.fileDate) ==
      Seq(Some(2023051), Some(2023051), None))
  }

  private def recordJobs[T](body: => T): (T, Seq[(String, Set[Int])], Map[Int, (Int, Long)]) =
    CnpjIngestSpec.recordJobs(spark)(body)

  test("counters: the manifest submits no job; each stale table's fetch is one job, one task per file") {
    val listing = ListingScraper.parse(html)
    val tables = Seq("municipios", "empresas")
    val (manifest, manifestJobs, _) = recordJobs {
      ManifestBuilder.manifests(listing, tables, Set(), "bkt", repoUrl)
    }
    assert(manifestJobs.isEmpty, s"the manifest build ran Spark jobs: $manifestJobs")
    val filesPerTable = manifest.map(_.files.size).sorted
    assert(filesPerTable == Seq(1, 2))

    val (results, jobs, stages) = recordJobs {
      IngestJob.runWithListing(spark, listing, tables, tablesInCatalog = Set(),
        repoUrl, s"$lakeRoot-jobs", s"$staging-jobs", "bkt", db = "cnpj_jobs")
    }
    assert(results.forall(r => r.updated && r.error.isEmpty), results)
    // a job's layer is its first graft frame, as perfbench attributes it:
    // the fetch is fetchAndStage itself, or processTable collecting it
    def isFetch(callSite: String): Boolean = {
      val frames = callSite.split('\n').map(_.trim)
      val first = frames.indexWhere(_.startsWith("graft."))
      first >= 0 && (frames(first).contains("fetchAndStage") ||
        frames(first).contains("processTable") && frames.take(first).exists(_.contains("Dataset.collect")))
    }
    val fetch = jobs.filter(j => isFetch(j._1))
    assert(fetch.size == tables.size, s"fetch jobs: ${fetch.mkString("\n")}")
    assert(fetch.forall(_._2.size == 1), s"a fetch job ran more than one stage: $fetch")
    assert(fetch.map(_._2.toSeq.map(s => stages(s)._1).sum).sorted == filesPerTable)
    assert(fetch.flatMap(_._2).map(s => stages(s)._2).sum == 0L, "the fetch wrote shuffle bytes")
  }

  test("one bad zip of a multi-file table: the table fails naming that zip; no sibling CSV stays") {
    val stagingBad = s"$staging-siblings"
    val results = IngestJob.runWithListing(spark, badSite("Empresas0.zip", "Empresas1.zip"),
      Seq("empresas"), tablesInCatalog = Set(),
      badRepo.toURI.toString, s"$lakeRoot-siblings", stagingBad, "bkt", db = "cnpj_siblings")
    assert(scratchLeft(stagingBad).isEmpty, s"scratch left in staging: ${scratchLeft(stagingBad)}")
    val Seq(r) = results
    assert(!r.updated && r.error.exists(_.startsWith("Empresas1.zip: ")), r)
  }

  test("malformed CSV row: the table's error also carries the parse error of its cause") {
    val Seq(r) = IngestJob.runWithListing(spark, badSite("Naturezas.zip"),
      Seq("naturezas"), tablesInCatalog = Set(),
      badRepo.toURI.toString, s"$lakeRoot-cause", s"$staging-cause", "bkt", db = "cnpj_cause")
    assert(r.error.exists(e => e.contains("FAILED_READ_FILE") && e.contains("MALFORMED_RECORD_IN_PARSING")),
      s"the error must name the parse error: ${r.error}")
  }

  test("a zero-row CSV ingests as updated with 0 rows and registers no partition") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val run = Future(IngestJob.runWithListing(spark, badSite("Qualificacoes.zip"),
      Seq("qualificacoes"), tablesInCatalog = Set(),
      badRepo.toURI.toString, s"$lakeRoot-empty", s"$staging-empty", "bkt", db = "cnpj_empty"))
    // the row count is observed by the write job: waiting on it must end
    // even when the write saw no row
    assert(Await.result(run, 120.seconds) ==
      Seq(IngestJob.TableResult("qualificacoes", updated = true, 0L, None)))
    assert(CatalogOps.listPartitions(spark, "qualificacoes", "cnpj_empty").isEmpty)
  }

  test("counters: catalog reads submit no job; a refresh of one stale table is fetch + write") {
    val db = "cnpj_refresh"
    val (lake, stage) = (s"$lakeRoot-refresh", s"$staging-refresh")
    val tables = Seq("municipios", "empresas")
    val first = IngestJob.runWithListing(spark, ListingScraper.parse(html), tables,
      tablesInCatalog = Set(), repoUrl, lake, stage, "bkt", db = db)
    assert(first.forall(r => r.updated && r.error.isEmpty), first)

    val (read, readJobs, _) = recordJobs {
      (CatalogOps.listTables(spark, db), CatalogOps.listPartitions(spark, "empresas", db))
    }
    // the same names the public catalog API lists, temp views included
    assert(read == (spark.catalog.listTables(db).collect().map(_.name).toSet, Seq("20230516")))
    assert(Set("municipios", "empresas").subsetOf(read._1))
    assert(readJobs.isEmpty, s"catalog reads ran Spark jobs: ${readJobs.mkString("\n")}")

    // a newer Municipios.zip on the site: municipios is stale, empresas fresh
    val newer = ListingScraper.parse(html).map(e =>
      if (e.fileName == "Municipios.zip") e.copy(lastModified = "2023-06-16 09:18") else e)
    val (results, jobs, _) = recordJobs {
      IngestJob.runWithListing(spark, newer, tables, CatalogOps.listTables(spark, db),
        repoUrl, lake, stage, "bkt", db = db)
    }
    assert(results == Seq(IngestJob.TableResult("municipios", updated = true, 3L, None),
      IngestJob.TableResult("empresas", updated = false, 0L, None)))
    assert(CatalogOps.listPartitions(spark, "municipios", db).sorted == Seq("20230516", "20230616"))
    // a job's submitter is its first graft frame, as perfbench attributes it
    val sites = jobs.map(_._1.split('\n').map(_.trim).find(_.startsWith("graft.")).getOrElse(""))
    assert(sites.size == 2 && sites.head.contains("processTable") && sites(1).contains("writeSnapshot"),
      s"a refresh must run the fetch and the write only: ${jobs.map(_._1).mkString("\n---\n")}")
  }
}

object CnpjIngestSpec {
  /** The jobs `body` submits, as (call site, stage ids), and the task
    * count and shuffle-write bytes of each of their stages. A job that
    * adaptive execution submits from its own thread gets the call site of
    * its SQL execution. The listener bus delivers events in order, so a
    * marker job before and after `body` fences off earlier work and waits
    * for `body`'s last events.
    */
  def recordJobs[T](spark: SparkSession)(body: => T): (T, Seq[(String, Set[Int])], Map[Int, (Int, Long)]) = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val marker = "recordJobs marker"
    val executionSites = new ConcurrentHashMap[Long, String]()
    val jobs = new ConcurrentLinkedQueue[(Int, String, Set[Int])]()
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markersDone = new LinkedBlockingQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == marker))
          markerJobs.add(j.jobId)
        else {
          val site = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(executionSites.get(id.toLong)))
            .getOrElse(j.stageInfos.headOption.map(_.details).getOrElse(""))
          jobs.add((j.jobId, site, j.stageIds.toSet))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(j.jobId)) markersDone.add(j.jobId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.add((t.stageId,
          Option(t.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
    }
    def fence(): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      assert(markersDone.poll(60, TimeUnit.SECONDS) != null, "listener bus did not drain")
    }
    sc.addSparkListener(listener)
    try {
      fence(); jobs.clear(); tasks.clear()
      val result = body
      fence()
      val byStage = tasks.asScala.toSeq.groupBy(_._1)
        .map { case (sid, ts) => sid -> (ts.size, ts.map(_._2).sum) }
      (result, jobs.asScala.toSeq.sortBy(_._1).map(j => (j._2, j._3)), byStage)
    } finally sc.removeSparkListener(listener)
  }
}
