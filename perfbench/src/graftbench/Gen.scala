package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/**
 * Seeded input generator. The same seed gives the same inputs; the program
 * under test only ever sees the tables written from these values, while the
 * answers planted here (the canonical links of each page) are what each job
 * is checked against. See perfbench/README.md for why each property is what
 * it is.
 */
object Gen {

  /** One generated page and the answers planted in it. `links` holds the
    * canonical form of every crawlable `href` under a story row or product
    * item, built by hand from the page's base, never by the canonicalizer. */
  final case class Page(docId: Long, html: String, links: Array[String])

  /** Stories per hacker-news-shaped page: the front page lists 30. */
  val HnStories = 30
  /** Products per catalog page: Pareto(alpha) above `MinProducts` (the
    * listing default), capped at `MaxProducts` (a "view all" page), so a few
    * pages are ~20x the median and make straggler tasks. */
  val MinProducts = 24
  val MaxProducts = 960
  val ParetoAlpha = 1.3
  /** Category links in a catalog page's navigation. */
  val Categories = 20
  private val LayoutSeed = 0x5EEDL

  /** `n` pages, half hacker-news-shaped and half catalog-shaped. Catalog
    * sizes are the Pareto quantiles at (k + 0.5) / (n / 2), in an order that
    * does not depend on the seed: every seed has the same page sizes in the
    * same places, so the same tasks straggle and the total work is the same;
    * the seed fills in the content (hosts, ids, link spellings, external
    * links, boxes). */
  def pages(seed: Long, n: Int): Array[Page] = {
    val layout = new SplittableRandom(LayoutSeed)
    val catalogs = n / 2
    val sizes = Array.tabulate(n) { k =>
      if (k < catalogs) {
        val u = 1.0 - (k + 0.5) / catalogs
        math.min(MaxProducts, (MinProducts * math.pow(u, -1.0 / ParetoAlpha)).toInt)
      } else -1
    }
    var k = n - 1
    while (k > 0) {
      val j = layout.nextInt(k + 1)
      val t = sizes(k); sizes(k) = sizes(j); sizes(j) = t
      k -= 1
    }
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      if (sizes(i) < 0) hnPage(r, i.toLong) else catalogPage(r, i.toLong, sizes(i))
    }
  }

  /** A crawlable href in one of several raw spellings, with its canonical
    * form: relative, with a fragment, upper-case scheme/host with the
    * default port, or with dot segments; relative spellings resolve against
    * the page's base `https://<baseHost>/`. */
  private def spell(r: SplittableRandom, baseHost: String, path: String, query: String)
      : (String, String) = {
    val canonical = s"https://$baseHost$path$query"
    val raw = r.nextInt(5) match {
      case 0 => path.stripPrefix("/") + query
      case 1 => path.stripPrefix("/") + query + "#c" + r.nextInt(100)
      case 2 => s"HTTPS://${baseHost.toUpperCase}:443$path$query"
      case 3 => s"./x/..$path$query"
      case _ => s"$path$query"
    }
    (raw, canonical)
  }

  /** A front page in the markup of news.ycombinator.com: a header table of
    * navigation links, an `itemlist` table of 30 stories (a story row with
    * rank, vote link, title link and site link; a subtext row with score,
    * user, age, hide and comments links; a spacer row), a "More" link and a
    * footer of links and a search form. About 1 400 nodes. */
  private def hnPage(r: SplittableRandom, id: Long): Page = {
    val host = s"news${r.nextInt(50)}.example"
    val sb = new java.lang.StringBuilder(32768)
    val links = mutable.ArrayBuffer[String]()
    sb.append("<!DOCTYPE html><html lang=\"en\" op=\"news\"><head>")
      .append("<meta name=\"referrer\" content=\"origin\">")
      .append("<meta name=\"viewport\" content=\"width=device-width, initial-scale=1.0\">")
      .append("<link rel=\"stylesheet\" type=\"text/css\" href=\"news.css\">")
      .append("<title>News ").append(id).append("</title><base href=\"https://").append(host)
      .append("/\"></head><body><center><table id=\"hnmain\" border=\"0\" width=\"85%\">")
      .append("<tr><td bgcolor=\"#ff6600\"><table border=\"0\" width=\"100%\"><tr>")
      .append("<td style=\"width:18px\"><a href=\"/\"><img src=\"y18.svg\" width=\"18\"></a></td>")
      .append("<td><span class=\"pagetop\"><b class=\"hnname\"><a href=\"news\">News</a></b>")
    Seq("newest" -> "new", "front" -> "past", "newcomments" -> "comments", "ask" -> "ask",
      "show" -> "show", "jobs" -> "jobs", "submit" -> "submit").foreach { case (href, text) =>
      sb.append(" | <a href=\"").append(href).append("\">").append(text).append("</a>")
    }
    sb.append("</span></td><td style=\"text-align:right\"><span class=\"pagetop\">")
      .append("<a href=\"login?goto=news\">login</a></span></td></tr></table></td></tr>")
      .append("<tr id=\"pagespace\" style=\"height:10px\"></tr><tr><td>")
      .append("<table border=\"0\" class=\"itemlist\">")
    var i = 0
    while (i < HnStories) {
      val sid = id * 1000 + i
      sb.append("<tr class=\"athing\" id=\"").append(sid)
        .append("\"><td align=\"right\" valign=\"top\" class=\"title\"><span class=\"rank\">")
        .append(i + 1).append(".</span></td><td valign=\"top\" class=\"votelinks\"><center>")
        .append("<a id=\"up_").append(sid).append("\" href=\"vote?id=").append(sid)
        .append("&amp;how=up&amp;goto=news\"><div class=\"votearrow\" title=\"upvote\"></div>")
        .append("</a></center></td><td class=\"title\"><span class=\"titleline\">")
      links += s"https://$host/vote?id=$sid&how=up&goto=news"
      val ext = r.nextInt(3) != 0
      if (!ext && r.nextInt(7) == 0) {
        // not crawlable: canonicalizes to null and must not be counted
        sb.append("<a href=\"javascript:void(0)\">Ask ").append(sid).append("</a>")
      } else if (!ext) {
        val (raw, canon) = spell(r, host, "/item", s"?id=$sid")
        links += canon
        sb.append("<a href=\"").append(raw).append("\">Story ").append(sid).append("</a>")
      } else {
        val site = s"site${r.nextInt(400)}.example"
        val path = s"/s/${r.nextInt(10000)}"
        links += s"https://$site$path"
        links += s"https://$host/from?site=$site"
        sb.append("<a class=\"ext\" href=\"https://").append(site.capitalize).append(path)
          .append("\">Story ").append(sid).append("</a><span class=\"sitebit comhead\"> (")
          .append("<a href=\"from?site=").append(site).append("\"><span class=\"sitestr\">")
          .append(site).append("</span></a>)</span>")
      }
      val user = r.nextInt(5000)
      sb.append("</span></td></tr><tr><td colspan=\"2\"></td><td class=\"subtext\">")
        .append("<span class=\"subline\"><span class=\"score\" id=\"score_").append(sid)
        .append("\">").append(r.nextInt(900)).append(" points</span> by <a href=\"user?id=u")
        .append(user).append("\" class=\"hnuser\">u").append(user)
        .append("</a> <span class=\"age\" title=\"2024-01-01T00:00:00\"><a href=\"item?id=")
        .append(sid).append("\">").append(1 + r.nextInt(23)).append(" hours ago</a></span> ")
        .append("<span id=\"unv_").append(sid).append("\"></span> | <a href=\"hide?id=")
        .append(sid).append("&amp;goto=news\">hide</a> | <a href=\"item?id=").append(sid)
        .append("\">").append(r.nextInt(400)).append("&nbsp;comments</a></span></td></tr>")
        .append("<tr class=\"spacer\" style=\"height:5px\"></tr>")
      i += 1
    }
    sb.append("<tr class=\"morespace\" style=\"height:10px\"></tr><tr><td colspan=\"2\"></td>")
      .append("<td class=\"title\"><a href=\"?p=2\" class=\"morelink\" rel=\"next\">More</a>")
      .append("</td></tr></table></td></tr><tr><td><table width=\"100%\"><tr>")
      .append("<td bgcolor=\"#ff6600\"></td></tr></table><br><center><span class=\"yclinks\">")
    Seq("newsguidelines.html" -> "Guidelines", "newsfaq.html" -> "FAQ", "lists" -> "Lists",
      "security.html" -> "Security", "mailto:ops@" + host -> "Contact").foreach {
      case (href, text) =>
        sb.append("<a href=\"").append(href).append("\">").append(text).append("</a> | ")
    }
    sb.append("</span><br><br><form method=\"get\" action=\"//search.").append(host)
      .append("/\">Search: <input type=\"text\" name=\"q\" size=\"17\"></form></center>")
    val boxes = 1 + r.nextInt(3)
    var b = 0
    while (b < boxes) {
      sb.append("<div class=\"box\"><p>note ").append(b).append("</p></div>")
      b += 1
    }
    sb.append("</td></tr></table></center></body></html>")
    Page(id, sb.toString, links.toArray)
  }

  /** A shop's category listing: navigation with `Categories` category
    * links, `n` products in one or two `div.box > ul.products` lists (each
    * a product link with an image, a price, a stock note and sometimes a
    * maker link), and a footer. About 12 nodes per product plus 150. */
  private def catalogPage(r: SplittableRandom, id: Long, n: Int): Page = {
    val host = s"shop${r.nextInt(50)}.example"
    val section = s"/catalog/sec${r.nextInt(20)}/"
    val sb = new java.lang.StringBuilder(8192 + 300 * n)
    val links = mutable.ArrayBuffer[String]()
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\"><title>Catalog ")
      .append(id).append("</title><base href=\"https://").append(host).append(section)
      .append("\"><link rel=\"stylesheet\" href=\"/s.css\"></head><body><header>")
      .append("<div class=\"nav\"><a href=\"../../index.html\">home</a><ul class=\"cats\">")
    var c = 0
    while (c < Categories) {
      sb.append("<li><a href=\"../sec").append(c).append("/\">Section ").append(c)
        .append("</a></li>")
      c += 1
    }
    sb.append("</ul></div></header><main>")
    val boxes = 1 + r.nextInt(2)
    var b = 0
    while (b < boxes) {
      sb.append("<div class=\"box\"><h2>Results</h2><ul class=\"products\">")
      var i = b
      while (i < n) {
        val pid = id * 1000 + i
        sb.append("<li class=\"product\">")
        r.nextInt(4) match {
          case 0 =>
            links += s"https://$host/p/$pid"
            sb.append("<a class=\"plink\" href=\"../../p/").append(pid).append("\">")
          case 1 =>
            links += s"https://$host/p/$pid?ref=cat"
            sb.append("<a class=\"plink\" href=\"/p/").append(pid).append("?ref=cat\">")
          case 2 =>
            links += s"https://$host${section}p$pid.html"
            sb.append("<a class=\"plink\" href=\"p").append(pid).append(".html\">")
          case _ =>
            links += s"http://$host/p/$pid"
            sb.append("<a class=\"plink\" href=\"http://").append(host).append(":80/p/")
              .append(pid).append("?\">")
        }
        sb.append("<img src=\"/img/").append(pid).append(".jpg\" alt=\"\">Item ").append(pid)
          .append("</a> <span class=\"price\">").append(r.nextInt(10000) / 100.0)
          .append("</span> <span class=\"stock\">")
          .append(if (r.nextInt(5) == 0) "sold out" else "in stock").append("</span>")
        if (r.nextInt(4) == 0) {
          val maker = s"maker${r.nextInt(300)}.example"
          links += s"https://$maker/"
          sb.append(" <a class=\"ext\" href=\"https://").append(maker.toUpperCase)
            .append("\">maker</a>")
        }
        sb.append("</li>")
        i += boxes
      }
      sb.append("</ul></div>")
      b += 1
    }
    sb.append("</main><footer class=\"footer\"><a href=\"mailto:shop@").append(host)
      .append("\">mail</a><p>shop ").append(host).append("</p></footer></body></html>")
    Page(id, sb.toString, links.toArray)
  }

  /** A crawl-round input: candidate rows (url, host, priority, seq) and the
    * seen table. */
  final case class Frontier(urls: Array[String], hosts: Array[String],
      priorities: Array[Int], seqs: Array[Long], seen: Array[String])

  val Hosts = 2000
  val HostZipfS = 1.1
  val DuplicateFrac = 0.2
  val SeenCandidateFrac = 0.3
  val SeenToRound = 3

  /** `rows` candidate rows over Zipf(HostZipfS)-skewed hosts; a
    * DuplicateFrac share repeats an earlier url with another priority; a
    * SeenCandidateFrac share of the distinct candidates is already seen, and
    * the seen table holds SeenToRound x rows urls in total. */
  def frontier(seed: Long, rows: Int): Frontier = {
    val r = new SplittableRandom(seed)
    val cdf = new Array[Double](Hosts)
    var acc = 0.0
    var h = 0
    while (h < Hosts) { acc += 1.0 / math.pow(h + 1, HostZipfS); cdf(h) = acc; h += 1 }
    def host(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * acc)
      if (i >= 0) i else math.min(Hosts - 1, -i - 1)
    }
    var nextPath = 0L
    def url(hh: Int): String = { nextPath += 1; s"https://h$hh.example/p/$nextPath" }
    val urls = new Array[String](rows)
    val hosts = new Array[String](rows)
    val pri = new Array[Int](rows)
    val seqs = new Array[Long](rows)
    val seen = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < rows) {
      if (i > 0 && r.nextDouble() < DuplicateFrac) {
        val j = r.nextInt(i)
        urls(i) = urls(j); hosts(i) = hosts(j)
      } else {
        val hh = host()
        urls(i) = url(hh); hosts(i) = s"h$hh.example"
        if (r.nextDouble() < SeenCandidateFrac) seen += urls(i)
      }
      pri(i) = r.nextInt(10)
      seqs(i) = i.toLong
      i += 1
    }
    while (seen.length < SeenToRound * rows) seen += url(host())
    Frontier(urls, hosts, pri, seqs, seen.toArray)
  }
}
