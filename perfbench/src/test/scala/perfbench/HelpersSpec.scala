package perfbench

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail level leaves at least 10 samples beyond its rank") {
    assert(Stats.tailLevel(19).isEmpty)
    assert(Stats.tailLevel(20).contains(50.0))
    assert(Stats.tailLevel(99).contains(75.0))
    assert(Stats.tailLevel(100).contains(90.0))
    assert(Stats.tailLevel(200).contains(95.0))
    assert(Stats.tailLevel(1000).contains(99.0))
    assert(Stats.tailLevel(10000).contains(99.9))
    for (n <- 20 to 3000; p <- Stats.tailLevel(n)) {
      assert(n - Stats.rank(n, p) >= 10, s"n=$n p=$p")
      // no higher level would also qualify
      Stats.TailLevels.filter(_ > p).foreach(q => assert(n - Stats.rank(n, q) < 10, s"n=$n q=$q"))
    }
  }

  test("nearest-rank percentiles and medians are measured values") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.percentile(xs.reverse, 50) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }

  test("interquartile mean drops the outer quarters") {
    assert(Stats.midMean(Seq(5.0)) == 5.0)
    assert(Stats.midMean(Seq(1.0, 3.0, 2.0)) == 2.0)
    // n = 4 and 8: one and two samples cut from each end
    assert(Stats.midMean(Seq(100.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.midMean(Seq(9.0, 1.0, 7.0, 3.0, 5.0, 1000.0, 4.0, 6.0)) == 5.5)
    // two alternating levels: the median jumps with the sample count, this does not
    val two = Seq(1200.0, 1400.0, 1200.0, 1400.0, 1200.0)
    assert(Stats.median(two) == 1200.0 && Stats.median(two :+ 1400.0) == 1300.0)
    assert(math.abs(Stats.midMean(two) - 1266.67) < 0.01)
    assert(Stats.midMean(two :+ 1400.0) == 1300.0)
  }

  private def span(id: Long, parent: Long, s: Long, e: Long, name: String = "x") =
    Span(id, parent, 1, name, s, e)

  test("self time subtracts nested children") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60), span(4, 2, 15, 20))
    val self = Spans.selfTimes(spans)
    assert(self == Map(1L -> 70L, 2L -> 15L, 3L -> 10L, 4L -> 5L))
  }

  test("self time counts overlapping children once and clips them to the parent") {
    // children overlap each other (concurrent tables) and one outlives the parent
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70), span(4, 1, 90, 130))
    assert(Spans.selfTimes(spans)(1L) == 100 - (60 + 10))
    assert(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L)), 0, 100) == 20)
    assert(Spans.covered(Seq((0L, 10L)), 20, 30) == 0)
  }

  test("external spans attach to the innermost client span holding their start") {
    val spans = Seq(span(1, 0, 0, 100, "op"), span(2, 1, 10, 60, "inner"),
      Span(3, Spans.Unresolved, 1, "job:x", 20, 30, external = true),
      Span(4, Spans.Unresolved, 1, "job:y", 70, 80, external = true),
      Span(5, Spans.Unresolved, 2, "job:z", 20, 30, external = true))
    val byId = Spans.attach(spans).map(s => s.id -> s.parent).toMap
    assert(byId(3) == 2 && byId(4) == 1 && byId(5) == 0)
    val layers = Spans.byName(Spans.attach(spans)).map(l => l.name -> l.selfNs).toMap
    assert(layers("op") == 100 - 50 - 10 && layers("inner") == 40)
  }

  private def digest(p: Publication): String = {
    val md = MessageDigest.getInstance("SHA-256")
    p.files.foreach { f => md.update(f.name.getBytes("UTF-8")); md.update(f.zip) }
    md.digest().map("%02x".format(_)).mkString
  }

  test("generator: same seed gives identical zips, another seed other data, same counts") {
    val a = new Publication(7, 2000, 2, 20230708)
    val b = new Publication(7, 2000, 2, 20230708)
    val c = new Publication(8, 2000, 2, 20230708)
    assert(digest(a) == digest(b))
    assert(digest(a) != digest(c))
    assert(a.rows == c.rows)
    assert(a.files.map(_.name) == c.files.map(_.name))
    assert(a.files.map(_.name).count(_.startsWith("Empresas")) == 2)
    assert(a.capSocSum != c.capSocSum)
    assert(a.rows("estabelecimentos") == 2000 + 667 && a.rows("socios") == 1000 && a.rows("simples") == 500)
    assert(Cnaes.answer(7, 1) == Cnaes.answer(7, 1) && Cnaes.answer(7, 1) != Cnaes.answer(8, 1))
  }

  test("generated CSV is latin-1 with decimal-comma cap_soc and accents") {
    val p = new Publication(3, 500, 1, 20230708)
    val zip = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(p.files.find(_.name == "Empresas0.zip").get.zip))
    zip.getNextEntry
    val text = new String(zip.readAllBytes(), "ISO-8859-1")
    val lines = text.split('\n')
    assert(lines.length == 500)
    val first = lines(0).split(';').map(_.stripPrefix("\"").stripSuffix("\""))
    assert(first.length == 7)
    assert(first(4) == f"${p.capSocCents(0) / 100},${p.capSocCents(0) % 100}%02d")
    assert(text.exists(_ > '\u007f'), "accented names survive as latin-1")
    assert(p.razSoc(p.accentedRow).exists(_ > '\u007f'))
  }

  test("job call sites map to program layers by class and method") {
    val write = "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)\n" +
      "graft.cnpj.Ingest$.writeSnapshot(Ingest.scala:95)\ngraft.cnpj.IngestJob$.x(IngestJob.scala:1)"
    assert(SparkCounters.layerOf(write) == "ingest.decode_write")
    val fetch = "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n" +
      "graft.cnpj.IngestJob$.graft$cnpj$IngestJob$$processTable(IngestJob.scala:104)"
    assert(SparkCounters.layerOf(fetch) == "ingest.fetch_stage")
    assert(SparkCounters.layerOf(fetch.replace("collect", "count")) == "ingestjob.row_count")
    assert(SparkCounters.layerOf("org.apache.spark.rdd.RDD.collect(RDD.scala:1)\nperfbench.X.y(X.scala:1)") == "spark.job")
  }

  test("BENCHMARK.json lists exactly the metrics a run reports") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val names = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(_.group(1)).toSeq
    val expected = Main.Listed ++ Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
    assert(names.sorted == expected.sorted)
  }
}
