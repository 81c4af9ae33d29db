package perfbench

import java.io.{BufferedWriter, ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** One zip of a publication, as the site serves it. */
final case class PubFile(name: String, table: String, zip: Array[Byte], csvBytes: Long)

/** A synthetic monthly CNPJ publication: the 10 tables in the shapes of
  * `graft.cnpj.Schemas`, as `;`-separated, quoted, latin-1 CSV inside
  * zips, with decimal-comma `cap_soc` and accented names. The big tables
  * are split across numbered zips (`Empresas0.zip` ...), as the source
  * site splits them.
  *
  * Everything is a function of (seed, size): the same pair gives
  * byte-identical zips. Row counts depend on the size only, so every
  * seed has the same counts and different contents. Alongside the zips
  * the generator keeps what the checks need: per-table row counts, the
  * exact `cap_soc` sum and the answer of every `lake_serve` read.
  */
final class Publication(val seed: Long, val empresas: Int, val parts: Int, val refDate: Int) {
  import Publication._
  require(empresas >= 100 && parts >= 1, s"publication too small: $empresas rows, $parts parts")

  val nEstab: Int = empresas + (empresas + 2) / 3
  val nSocios: Int = (empresas + 1) / 2
  val nSimples: Int = (empresas + 3) / 4

  private def rnd(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  val municipios: IndexedSeq[String] = dimNames(rnd(1), Municipios, "")
  val naturezas: IndexedSeq[String] = dimNames(rnd(2), Naturezas, "NATUREZA ")
  val qualificacoes: IndexedSeq[String] = dimNames(rnd(3), Qualificacoes, "QUALIFICAÇÃO ")
  val paises: IndexedSeq[String] = dimNames(rnd(4), Paises, "")
  val motivos: IndexedSeq[String] = dimNames(rnd(5), Motivos, "MOTIVO ")

  // empresas: kept column-wise for the point lookups and the sums
  val razSoc = new Array[String](empresas)
  val capSocCents = new Array[Long](empresas)
  val natJud = new Array[Int](empresas)
  locally {
    val r = rnd(10)
    var i = 0
    while (i < empresas) {
      razSoc(i) = s"${words(r, 2 + r.nextInt(2))} ${i % 1000} LTDA"
      capSocCents(i) = r.nextLong(100000000L)
      natJud(i) = 1 + r.nextInt(Naturezas)
      i += 1
    }
  }
  def cnpjRaiz(i: Int): Long = 10000000L + 13L * i

  val capSocSum: java.math.BigDecimal =
    java.math.BigDecimal.valueOf(capSocCents.sum, 2)

  /** Municipality code (1-based) of each establishment, skewed to low
    * codes so the per-municipality ranking has a clear head.
    */
  val estabMuni: Array[Int] = {
    val r = rnd(11)
    Array.fill(nEstab)(1 + (r.nextInt(Municipios) * r.nextInt(Municipios)) / Municipios)
  }

  /** An empresas row whose name holds accents, for the round-trip check. */
  val accentedRow: Int = (0 until empresas).find(i => razSoc(i).exists(_ > '\u007f')).get

  val rows: Map[String, Long] = Map(
    "empresas" -> empresas, "estabelecimentos" -> nEstab, "socios" -> nSocios,
    "simples" -> nSimples, "municipios" -> Municipios, "naturezas" -> Naturezas,
    "qualificacoes" -> Qualificacoes, "paises" -> Paises, "motivos" -> Motivos,
    "cnaes" -> Cnaes.rows(0)).map { case (k, v) => k -> v.toLong }

  /** `CnpjQueries.establishmentsPerMunicipality(limit)`: (desc, n_estab). */
  def topMunicipalities(limit: Int): Seq[(String, Long)] =
    estabMuni.groupBy(identity).toSeq
      .map { case (code, hits) => (municipios(code - 1), hits.length.toLong) }
      .sortBy { case (name, n) => (-n, name) }.take(limit)

  /** `CnpjQueries.companiesByLegalNature`: (desc, n_companies, cents). */
  def byLegalNature: Seq[(String, Long, Long)] =
    natJud.indices.groupBy(natJud(_)).toSeq
      .map { case (code, is) => (naturezas(code - 1), is.length.toLong, is.map(capSocCents(_)).sum) }
      .sortBy { case (name, n, _) => (-n, name) }

  lazy val files: Seq[PubFile] = {
    val big = Seq(
      ("Empresas", "empresas", "EMPRECSV", empresas, (r: SplittableRandom, i: Int) => empresaLine(i)),
      ("Estabelecimentos", "estabelecimentos", "ESTABELE", nEstab, estabLine _),
      ("Socios", "socios", "SOCIOCSV", nSocios, socioLine _))
    val split = big.flatMap { case (stem, table, member, n, line) =>
      (0 until parts).map { p =>
        val (lo, hi) = (n.toLong * p / parts, n.toLong * (p + 1) / parts)
        val r = rnd(100 + stem.hashCode + p)
        zip(s"$stem$p.zip", table, s"K3241.K03200Y$p.D30708.$member",
          (lo until hi).iterator.map(i => line(r, i.toInt)))
      }
    }
    val simples = {
      val r = rnd(200)
      zip("Simples.zip", "simples", "F.K03200$W.SIMPLES.CSV.D30708",
        (0 until nSimples).iterator.map(i => simplesLine(r, i)))
    }
    val dims = Seq(
      ("Municipios.zip", "municipios", municipios), ("Naturezas.zip", "naturezas", naturezas),
      ("Qualificacoes.zip", "qualificacoes", qualificacoes), ("Paises.zip", "paises", paises),
      ("Motivos.zip", "motivos", motivos)).map { case (name, table, descs) =>
      zip(name, table, s"F.K03200$$W.SIRFOG.D30708.${table.toUpperCase}",
        descs.indices.iterator.map(i => csv(Seq((i + 1).toString, descs(i)))))
    }
    split ++ Seq(simples) ++ dims ++ Seq(Cnaes.file(seed, 0))
  }

  def csvBytes: Long = files.map(_.csvBytes).sum

  private def empresaLine(i: Int): String =
    csv(Seq(cnpjRaiz(i).toString, razSoc(i), natJud(i).toString,
      (1 + i % Qualificacoes).toString, f"${capSocCents(i) / 100},${capSocCents(i) % 100}%02d",
      Seq("1", "3", "5")(i % 3), if (i % 50 == 0) "SP" else ""))

  private def estabLine(r: SplittableRandom, j: Int): String = {
    val i = if (j < empresas) j else (j - empresas) * 3
    val filial = if (j < empresas) 1 else 2
    val muni = estabMuni(j)
    csv(Seq(cnpjRaiz(i).toString, f"$filial%04d", (j % 97).toString, filial.toString,
      if (r.nextInt(3) == 0) words(r, 2) else "", (1 + r.nextInt(8)).toString,
      date(r).toString, (1 + r.nextInt(Motivos)).toString, "", "",
      date(r).toString, (1 + r.nextInt(Cnaes.rows(0))).toString,
      Seq.fill(r.nextInt(3))(1 + r.nextInt(999)).mkString(","), "RUA", words(r, 2),
      (1 + r.nextInt(3000)).toString, if (r.nextBoolean()) "SALA " + r.nextInt(50) else "",
      words(r, 1), f"${r.nextInt(100000000)}%08d", Ufs(muni % Ufs.length), muni.toString,
      (11 + r.nextInt(88)).toString, (30000000 + r.nextInt(60000000)).toString, "", "", "", "",
      if (r.nextInt(4) == 0) s"contato${j}@exemplo.com.br" else "", "", ""))
  }

  private def socioLine(r: SplittableRandom, k: Int): String =
    csv(Seq(cnpjRaiz(k * 2).toString, (1 + r.nextInt(3)).toString, words(r, 3),
      f"***${r.nextInt(1000000)}%06d**", (1 + r.nextInt(Qualificacoes)).toString,
      date(r).toString, if (r.nextInt(10) == 0) (1 + r.nextInt(Paises)).toString else "",
      "***000000**", "", "0", (1 + r.nextInt(9)).toString))

  private def simplesLine(r: SplittableRandom, k: Int): String = {
    val mei = r.nextBoolean()
    csv(Seq(cnpjRaiz(k * 4).toString, "S", date(r).toString, "0",
      if (mei) "S" else "N", if (mei) date(r).toString else "0", "0"))
  }
}

object Publication {
  val Municipios = 120
  val Naturezas = 40
  val Qualificacoes = 30
  val Paises = 60
  val Motivos = 25

  private val Words = IndexedSeq("JOSÉ", "CONCEIÇÃO", "SÃO", "JOÃO", "MÁRIO", "PEÇAS", "ÓTICA",
    "CAFÉ", "AÇAÍ", "COMÉRCIO", "INDÚSTRIA", "SERVIÇOS", "ALIMENTAÇÃO", "CONSTRUÇÃO", "GESTÃO",
    "ÁGUA", "PÃO", "IRMÃOS", "ASSOCIAÇÃO", "PARANÁ", "PIAUÍ", "AMAPÁ", "CEARÁ", "MARANHÃO",
    "BOA", "VISTA", "NOVA", "SANTA", "LUZ", "CAMPO", "VERDE", "RIO")
  private val Ufs = IndexedSeq("SP", "RJ", "MG", "BA", "PR", "RS", "PE", "CE", "PA", "GO")

  private[perfbench] def words(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")

  /** Unique descriptions: random words, made unique by the code. */
  private def dimNames(r: SplittableRandom, n: Int, prefix: String): IndexedSeq[String] =
    (1 to n).map(code => s"$prefix${words(r, 2)} $code")

  private def date(r: SplittableRandom): Int = {
    val d = LocalDate.of(1990, 1, 1).plusDays(r.nextInt(12000))
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** Every field quoted, as the source files are; nulls left empty. */
  private def csv(fields: Seq[String]): String =
    fields.map(f => if (f.isEmpty) "" else "\"" + f + "\"").mkString(";")

  private[perfbench] def zip(name: String, table: String, member: String,
                             lines: Iterator[String]): PubFile = {
    val bytes = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bytes)
    val entry = new ZipEntry(member)
    entry.setTimeLocal(LocalDateTime.of(2023, 7, 8, 10, 0)) // fixed: identical bytes per seed
    zos.putNextEntry(entry)
    val w = new BufferedWriter(new OutputStreamWriter(zos, ISO_8859_1), 1 << 16)
    var n = 0L
    lines.foreach { l => w.write(l); w.write('\n'); n += l.length + 1 } // latin-1: 1 byte/char
    w.flush()
    zos.closeEntry()
    zos.close()
    PubFile(name, table, bytes.toByteArray, n)
  }

  def yyyymmdd(refDate: Int, plusDays: Int): Int = {
    val d = LocalDate.parse(refDate.toString, DateTimeFormatter.BASIC_ISO_DATE).plusDays(plusDays)
    d.format(DateTimeFormatter.BASIC_ISO_DATE).toInt
  }
}

/** The `cnaes` table of generation `g`: generation 0 ships with the
  * publication, generation g > 0 is the g-th `lake_serve` refresh.
  */
object Cnaes {
  def rows(g: Int): Int = 150 + g % 5

  def descs(seed: Long, g: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(seed * 1000003L + 7000 + g)
    (1 to rows(g)).map(code => s"ATIVIDADE ${Publication.words(r, 2)} G$g $code")
  }

  def file(seed: Long, g: Int): PubFile = {
    val ds = descs(seed, g)
    Publication.zip("Cnaes.zip", "cnaes", s"F.K03200$$W.SIRFOG.D30708.CNAECSV.G$g",
      ds.indices.iterator.map(i => "\"" + (i + 1) + "\";\"" + ds(i) + "\""))
  }

  /** Answer of the pruned read of generation g's partition:
    * (rows, sum of codigo, max desc).
    */
  def answer(seed: Long, g: Int): (Long, Long, String) = {
    val ds = descs(seed, g)
    (ds.length.toLong, ds.indices.map(_ + 1L).sum, ds.max)
  }
}
