package wbench

import graft.wbot.{Fixtures, GoUrl, Html, UrlFuncs}
import graft.wbot.Fixtures.SiteSpec
import Stats.median

/** Single-thread loops over the URL and HTML kernels the crawl runs per
  * page and per link, on an evenly strided sample of the workload's pages.
  * Each rate is the median of several passes after two untimed passes. */
object Kernels {
  def run(ctx: Ctx, spec: SiteSpec, maxBodySize: Long): Map[String, Double] = ctx.traced {
    val sampleSize = math.min(spec.totalPages, if (ctx.a.smoke) 100 else 20000)
    val stride = spec.totalPages / sampleSize
    val pages = Vector.tabulate(sampleSize)(i => Fixtures.page(spec, i * stride))
    val bases = pages.map(p => UrlFuncs.newUrl(p.url).fold(e => sys.error(e), identity).url)
    val hrefs = pages.map(p => Html.findLinksBytes(p.html, maxBodySize))
    val pairs = bases.zip(hrefs).flatMap { case (b, hs) => hs.map(h => (b, h)) }
    val urls = pairs.flatMap { case (b, h) => UrlFuncs.candidate(b, h).map(_.urlStr) }
    val passes = if (ctx.a.smoke) 1 else 7
    var sink = 0L

    /** Items per second, median over passes; `f` returns a checksum that
      * keeps the work observable. */
    def rate(name: String, items: Long)(f: => Long): Double = ctx.span(name) {
      sink += f; sink += f
      median((1 to passes).map { _ =>
        val t0 = System.nanoTime()
        sink += f
        items / ((System.nanoTime() - t0) / 1e9)
      })
    }

    val out = Map(
      "kern.findLinks_per_s" -> rate("Html.findLinksBytes", hrefs.map(_.size.toLong).sum)(
        pages.iterator.map(p => Html.findLinksBytes(p.html, maxBodySize).size.toLong).sum),
      "kern.extractText_pages_per_s" -> rate("Html.extractTextBytes", pages.size.toLong)(
        pages.iterator.map(p => Html.extractTextBytes(p.html).length.toLong).sum),
      "kern.goUrl_parse_per_s" -> rate("GoUrl.parse", urls.size.toLong)(
        urls.iterator.map(u => if (GoUrl.parse(u).isRight) 1L else 0L).sum),
      "kern.newUrl_per_s" -> rate("UrlFuncs.newUrl", urls.size.toLong)(
        urls.iterator.map(u => if (UrlFuncs.newUrl(u).isRight) 1L else 0L).sum),
      "kern.candidate_per_s" -> rate("UrlFuncs.candidate", pairs.size.toLong)(
        pairs.iterator.map { case (b, h) => if (UrlFuncs.candidate(b, h).isDefined) 1L else 0L }.sum))
    if (sink == 42L) System.err.println("[wbench] kernel checksum") // keeps `sink` live
    out
  }
}
