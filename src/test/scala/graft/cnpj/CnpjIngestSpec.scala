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

  def writeZip(name: String, members: Seq[(String, String)]): File = {
    val f = new File(repoDir, name)
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
}
