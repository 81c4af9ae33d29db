package graft.cnpj

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP listing fetch + Apache-autoindex HTML parse (SURVEY S1/S2).
  *
  * Control-plane code: the listing is a few hundred rows, so it runs on
  * the driver (reference runs it in a 15 s-timeout lambda,
  * `check_update.py:94-96`, `cnpj_infra_template.yml:135`), as does the
  * manifest build that reads it.
  *
  * The parser extracts, per `<tr>`: the icon `src` (folder-skip signal),
  * the anchor href + text (file name), and the last-modified cell —
  * column semantics per reference `check_update.py:48-65`. Rows without
  * an icon+anchor pair (header/footer rows) are skipped; this is
  * behavior-equivalent to the reference's positional `[3:-1]` slice on
  * autoindex pages.
  */
object ListingScraper {

  private val TrRe = "(?s)<tr>(.*?)</tr>".r
  private val TdRe = "(?s)<td[^>]*>(.*?)</td>".r
  private val ImgSrcRe = """<img[^>]*\bsrc="([^"]*)"""".r
  private val AnchorRe = "(?s)<a[^>]*\\bhref=\"([^\"]*)\"[^>]*>(.*?)</a>".r

  def fetch(url: String, timeout: Duration = Duration.ofSeconds(15)): String = {
    val client = HttpClient.newBuilder().connectTimeout(timeout).build()
    val req = HttpRequest.newBuilder(URI.create(url)).timeout(timeout).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    // Fail loud on non-2xx: an error page parsed as an empty listing would
    // turn a transient server failure into a silent ingest no-op, and the
    // retry wrapper only engages on a throw.
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"GET $url returned HTTP ${resp.statusCode()}")
    resp.body()
  }

  def parse(html: String): Seq[ListingEntry] =
    TrRe.findAllMatchIn(html).flatMap { tr =>
      val tds = TdRe.findAllMatchIn(tr.group(1)).map(_.group(1)).toSeq
      for {
        icon <- tds.headOption.flatMap(td => ImgSrcRe.findFirstMatchIn(td).map(_.group(1)))
        nameTd <- tds.lift(1)
        a <- AnchorRe.findFirstMatchIn(nameTd)
        modified <- tds.lift(2)
      } yield ListingEntry(
        iconSrc = icon,
        fileName = a.group(2).trim,
        href = a.group(1),
        lastModified = modified.trim)
    }.toSeq
}
