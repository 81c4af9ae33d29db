package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for the publication site: an Apache-autoindex page
  * at `/CNPJ/` (the markup `graft.cnpj.ListingScraper` parses) and the
  * zips it lists. Handlers run on a pool of at most `threads` threads.
  */
final class Site(tracer: Tracer, threads: Int) {
  import Site.Entry
  private val entries = new ConcurrentHashMap[String, Entry]()
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  val gets, zipGets, bytesServed = new AtomicLong
  private val zipsAsked = ConcurrentHashMap.newKeySet[String]()

  server.createContext("/CNPJ/", (ex: HttpExchange) => serve(ex))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/CNPJ/"

  /** Publish (or replace) a file, listed with last-modified `date`. */
  def publish(file: PubFile, date: Int): Unit = entries.put(file.name, Entry(file, date))

  def unpublishAll(): Unit = entries.clear()

  /** Distinct (operation, zip) pairs requested since the last `resetCounts`. */
  def zipsRequested: Int = zipsAsked.size

  def resetCounts(): Unit = {
    gets.set(0); zipGets.set(0); bytesServed.set(0); zipsAsked.clear()
  }

  def listing: String = {
    import scala.jdk.CollectionConverters._
    def row(icon: String, href: String, date: String, size: String) =
      s"""<tr><td valign="top"><img src="/icons/$icon" alt="[   ]"></td><td><a href="$href">$href</a></td><td align="right">$date  </td><td align="right">$size</td><td>&nbsp;</td></tr>\n"""
    val files = entries.values.asScala.toSeq.sortBy(_.file.name).map { e =>
      val d = e.date.toString
      row("compressed.gif", e.file.name, s"${d.take(4)}-${d.slice(4, 6)}-${d.drop(6)} 09:18",
        s"${e.file.zip.length / 1024}K")
    }
    "<html><head><title>Index of /CNPJ</title></head><body><h1>Index of /CNPJ</h1><table>\n" +
      """<tr><th valign="top"><img src="/icons/blank.gif" alt="[ICO]"></th><th><a href="?C=N;O=D">Name</a></th><th><a href="?C=M;O=A">Last modified</a></th><th><a href="?C=S;O=A">Size</a></th><th><a href="?C=D;O=A">Description</a></th></tr>""" + "\n" +
      """<tr><th colspan="5"><hr></th></tr>""" + "\n" +
      row("back.gif", "/dados/", "", "-") +
      row("folder.gif", "regime_tributario/", "2023-07-08 09:00", "-") +
      files.mkString + """<tr><th colspan="5"><hr></th></tr>""" + "\n</table></body></html>\n"
  }

  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val op = tracer.op
    try {
      val name = ex.getRequestURI.getPath.stripPrefix("/CNPJ/")
      val body: Option[Array[Byte]] =
        if (name.isEmpty) Some(listing.getBytes("UTF-8"))
        else Option(entries.get(name)).map(_.file.zip)
      gets.incrementAndGet()
      if (name.nonEmpty) { zipGets.incrementAndGet(); zipsAsked.add(s"$op/$name") }
      body match {
        case Some(b) =>
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
          bytesServed.addAndGet(b.length)
        case None => ex.sendResponseHeaders(404, -1)
      }
    } finally {
      ex.close()
      tracer.external(if (ex.getRequestURI.getPath.endsWith("/")) "http.listing" else "http.zip",
        op, t0, System.nanoTime())
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

object Site {
  private final case class Entry(file: PubFile, date: Int)
}
