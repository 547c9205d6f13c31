package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.model.Arena
import graft.sources.HtmlParser
import graft.spark.SynthDocs

/**
 * Parse-equivalence pin: a structural fingerprint of `HtmlParser.parse`
 * output over fixed corpora, compared against golden digests. The
 * fingerprint covers every field the tree builder decides — kind, name,
 * text, attributes in order, namespace, the five pointers, template
 * contents, the parse errors and the quirks mode — so any change to tree
 * construction (tag categories, scope checks, foster parenting, the
 * adoption agency) shows up as a digest mismatch naming the corpus.
 *
 * Corpora: the `SynthDocs` page shapes over the sf0.001 tables, hand-written
 * pages aimed at the recovery paths, and a seeded tag-soup generator over
 * every tag name the builder treats specially (plus upper-case spellings
 * and custom elements). Each is parsed both as a document and as a fragment.
 */
class ParseFingerprintSpec extends AnyFunSuite {

  import ParseFingerprintSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def check(corpus: String, pages: Seq[String]): Unit = {
    assert(pages.nonEmpty)
    val got = digest(pages)
    assert(got == Golden(corpus), s"$corpus: parse fingerprint changed (${pages.length} pages): $got")
  }

  test("SynthDocs part-catalog pages parse to the pinned fingerprint") {
    val pages = SynthDocs.partDocs(spark, sf).select("doc_id", "html")
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    check("synth_part", pages)
  }

  test("SynthDocs part-catalog html equals the lambda-built <li> list, byte for byte") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // the earlier form of partHtml: one <li> per split word, through a lambda
    def lambdaHtml(name: org.apache.spark.sql.Column) = concat(
      lit("<html><head><title>Part "), col("p_partkey"),
      lit("</title><base href=\"https://parts.example/catalog/\"></head><body>"),
      lit("<div id=\"main\" class=\"part "), lower(regexp_replace(col("p_brand"), "#", "-")),
      lit("\">"), lit("<a href=\"/part/"), col("p_partkey"), lit("\" class=\"plink\">"),
      col("p_type"), lit("</a>"), lit("<ul class=\"words\">"),
      concat_ws("", transform(split(name, " "), w => concat(lit("<li>"), w, lit("</li>")))),
      lit("</ul><p class=\"sz\">size "), col("p_size"), lit("</p></div></body></html>"))
    val edge = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "a  b"), (4L, " a "), (5L, "x"))
      .toDF("p_partkey", "p_name")
      .select(col("p_partkey"), col("p_name"), lit("Brand#13").as("p_brand"),
        lit("STANDARD TIN").as("p_type"), lit(7).as("p_size"))
    val part = spark.read.parquet("/root/testdata/sf0.01/part.parquet")
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    for (t <- Seq(part, edge)) {
      val both = t.select(
        SynthDocs.partHtml(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
          col("p_size")).as("a"),
        lambdaHtml(col("p_name")).as("b"))
      assert(t.count() > 0)
      val differ = both.filter(!col("a").eqNullSafe(col("b")))
      assert(differ.count() == 0, differ.limit(3).collect().mkString("\n"))
    }
  }

  test("SynthDocs hacker-news pages (single and multi story) parse to the pinned fingerprint") {
    val one = SynthDocs.hnDocs(spark, sf).select("doc_id", "html")
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val big = SynthDocs.hnBigDocs(spark, sf).select("doc_id", "html")
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    check("synth_hn", one ++ big)
  }

  test("hand-written recovery pages parse to the pinned fingerprint") {
    check("hand", HandPages)
  }

  test("seeded tag soup parses to the pinned fingerprint") {
    check("soup", tagSoup(seed = 8L, n = 1500))
  }
}

object ParseFingerprintSpec {

  /** Digest per corpus, recorded from the parser before tag atoms replaced
    * the name sets (the builder's output must not move). */
  val Golden: Map[String, String] = Map(
    "synth_part" ->
      "310605800b445cfe3f9e88edb4d56800ed6a7cba6e8eca74e826d391489cd90f",
    "synth_hn" ->
      "7fa1bd454756d74f94013693658367870ec1a555c579b220971db0bd4fcbfb37",
    "hand" ->
      "cca7c5993a80fec83a0ab40644286a75545d83b2c92b3e7c93bcdf5f3aa9c33c",
    "soup" ->
      "1391701a5e6a1a7e87c58a2c5541b834ecfd3baa252eeea2b6952524a1f18aa5"
  )

  /** One line per node plus the document-level state. */
  def fingerprint(a: Arena, sb: java.lang.StringBuilder): Unit = {
    sb.append("quirks=").append(a.quirksMode).append('\n')
    a.errors.foreach(e => sb.append("err=").append(e).append('\n'))
    var i = 0
    while (i < a.size) {
      val nd = a(i)
      sb.append(i).append('|').append(nd.kind).append('|').append(nd.name)
        .append('|').append(nd.text).append('|')
      if (nd.attrs != null) nd.attrs.foreach { case (k, v) =>
        sb.append(k).append('=').append(v).append('\u0001')
      }
      sb.append('|').append(if (nd.isElement) nd.ns else "-")
        .append('|').append(nd.parent).append(',').append(nd.prev).append(',')
        .append(nd.next).append(',').append(nd.firstChild).append(',')
        .append(nd.lastChild).append(',').append(nd.templateContents).append('\n')
      i += 1
    }
  }

  /** SHA-256 over the document and fragment parse of every page, in order. */
  def digest(pages: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    pages.foreach { html =>
      Seq(false, true).foreach { fragment =>
        val sb = new java.lang.StringBuilder
        sb.append(if (fragment) "#fragment\n" else "#document\n")
        fingerprint(HtmlParser.parse(html, fragment), sb)
        md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  val HandPages: Seq[String] = Seq(
    "",
    "plain text only",
    "<!DOCTYPE html><html><head><title>T</title></head><body><p>x</p></body></html>",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\"><p>quirky",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD XHTML 1.0 Transitional//EN\" \"x\"><p>limited",
    "<HTML><HEAD><TITLE>Up</TITLE><META CHARSET=utf-8></HEAD><BODY CLASS=a><DIV ID=X>" +
      "<P>One<P>Two</DIV><UL><LI>a<LI>b</UL><TABLE><TR><TD>c</TABLE></BODY></HTML>",
    "<Div Class=\"A\"><SPAN>mixed</span></DIV><bR><Br/></BR>",
    "<my-widget data-x=1><x-foo>custom <b>bold</b></x-foo></my-widget><My-Widget>again</MY-WIDGET>",
    "<custom-el><p>para in custom<div>block</custom-el></div>",
    "<svg viewbox=\"0 0 10 10\"><clippath id=c><rect/></clippath><foreignobject><p>html in svg</p>" +
      "</foreignobject><lineargradient gradientunits=x/><desc><b>d</b></desc><title>t</title>" +
      "<circle r=1></circle></svg><p>after",
    "<svg><![CDATA[raw <b> text]]><g><path d=M0></g><p>breakout</p><font color=red>f</font></svg>",
    "<svg><font>no breakout</font><script>var x = 1 < 2;</script><style>a{}</style></svg>",
    "<math definitionurl=u><mi>x</mi><mo>+</mo><mglyph/><annotation-xml encoding=\"text/html\">" +
      "<div>html ip</div></annotation-xml><annotation-xml><svg><g/></svg></annotation-xml>" +
      "<mtext><b>t</b></mtext></math>",
    "<math><ms><malignmark/></ms><mn><span>n</span></mn><annotation-xml encoding=application/xhtml+xml>" +
      "<p>x</p></annotation-xml></math><svg/><math/>",
    "<table>stray text<tr><td>1</td></tr>more<div>fostered</div><b>bold</b></table>",
    "<table><caption>cap<td>in caption</caption><colgroup><col><col></colgroup><thead><tr><th>h" +
      "<tbody><tr><td>a<td>b<tr><td>c</tbody><tfoot><td>f</table>",
    "<table><input type=hidden name=h><input type=text><form><tr><td>x</td></tr></form>" +
      "<script>s</script><style>t</style><template><tr><td>tt</td></tr></template></table>",
    "<table><tr><td><table><tr><td>nested</td></tr></table></td></tr><table><tr><td>second",
    "<div><tr><td>ignored structure</td></tr><caption>c</caption><col><thead></div>",
    "<table><td>x</td><th>y</th></tr></td></th></tbody></thead></tfoot></caption></table></table>",
    "<b><i>x</b>y</i>z",
    "<a href=1>a<div>b<a href=2>c</a>d</div>e</a>",
    "<p><b class=x><b class=x><b class=x><b class=x>noah</b></b></b></b></p><p>reopen",
    "<b>1<p>2</b>3</p>4",
    "<a><b><div><i><p>x</a>y</p>z</i></div>",
    "<nobr>a<nobr>b</nobr><s><strike><tt><u><big><small><em><strong><code><font>f</b></i>",
    "<b><b><b><b><b><b><b><b><b><b>deep</b></b></b>",
    "<table><tr><td><b>cell</td><td>next</b></td></tr></table><p>after",
    "<a href=x><table><tr><td><a href=y>in cell</a></td></tr></table></a>",
    "<select><option>a<option>b<optgroup><option>c</optgroup><div>ignored</div>" +
      "<select>nested</select><input>after",
    "<select><i>x</i><hr><script>1</script><template>t</template><textarea>ta</textarea>",
    "<dl><dt>t1<dd>d1<dt>t2<dd>d2</dl><dd>stray</dd></dt>",
    "<ul><li>a<ul><li>b<li>c</ul><li>d</li></li></ul></li>",
    "<h1>a<h2>b</h1>c</h3><h6>e</h4>",
    "<p>a<h1>h</p>b</h1></p><p></p></p>",
    "<button>a<button>b</button><p>in btn<button>c",
    "<pre>\nleading newline</pre><textarea>\nkept?</textarea><listing>\nlisting</listing>",
    "<title>a &amp; <b>b</b></title><textarea>x &lt; <i>y</i></TEXTAREA><script>if (a<b) {}</SCRIPT >",
    "<xmp><b>raw</b></xmp><iframe><p>i</p></iframe><noembed>n</noembed><noframes>f</noframes>",
    "<style>a</style><p><xmp>closes p</xmp>",
    "<template><p>t<template><div>inner</div></template></p></template><div>after</div>",
    "<head><template><meta charset=x><td>cell in template</td></template></head><body>",
    "<html lang=en><head><link rel=a><base href=\"http://h/\"><noscript>n</noscript>" +
      "</head><body a=1><body b=2><html c=3><head>stray head</head>",
    "<!-- c1 --><!DOCTYPE html><!-- c2 --><html><!--c3--><head></head>  <body></body></html><!--c4-->",
    "<?xml version=1?><!bogus><!DOCTYPE late>",
    "<p>x</br>y</p><//p></ p><p/>z",
    "<div title=a title=b Title=c>dup attrs</div><img src=a SRC=b alt>",
    "<address><article><aside><blockquote><center><details><dialog><dir><fieldset><figcaption>" +
      "<figure><footer><form><header><hgroup><main><menu><nav><section><summary>deep blocks" +
      "</summary></section></nav></menu></main></hgroup></header></form></footer></figure>" +
      "</figcaption></fieldset></dir></dialog></details></center></blockquote></aside>" +
      "</article></address>",
    "<applet><b>a</applet>b<marquee><i>m</marquee>i<object><u>o</object>u",
    "<ruby>r<rb>b<rt>t<rp>p<rtc>c</ruby>",
    "<p><table><tr><td><p>inner p</td></tr></table>",
    "<div><p>1<div><p>2</div>3</div>4",
    "<embed><area><wbr><track><source><param><keygen><basefont><bgsound><hr><frame><frameset>",
    "<a>1<a>2<a>3</a>",
    "<table><tr><td><a>x</td><td><a>y</a></td></tr></table>",
    "<plaintext><b>not raw here</b>",
    "<search><p>s</search><span></span>",
    "<font face=x><svg><font size=2>sz</font></svg></font>",
    "<svg><foreignObject><svg><desc><math><mi><svg><title>deep ip</title></svg></mi></math>" +
      "</desc></svg></foreignObject></svg>",
    "<div>&amp;&lt;&notit;&#x41;&#65&nbsp;</div><a href=\"?a=1&b=2&amp;c\">q</a>"
  )

  /** Tag names the builder treats specially, plus foreign and custom names. */
  private val Vocab: Array[String] = Array(
    "a", "address", "applet", "area", "article", "aside", "b", "base", "basefont",
    "bgsound", "big", "blockquote", "body", "br", "button", "caption", "center",
    "code", "col", "colgroup", "dd", "details", "dialog", "dir", "div", "dl", "dt",
    "em", "embed", "fieldset", "figcaption", "figure", "font", "footer", "form",
    "frame", "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header",
    "hgroup", "hr", "html", "i", "iframe", "img", "input", "keygen", "li", "link",
    "listing", "main", "marquee", "menu", "meta", "nav", "nobr", "noembed",
    "noframes", "noscript", "object", "ol", "optgroup", "option", "p", "param",
    "plaintext", "pre", "rb", "rp", "rt", "rtc", "s", "script", "search",
    "section", "select", "small", "source", "span", "strike", "strong", "style",
    "sub", "summary", "sup", "table", "tbody", "td", "template", "textarea",
    "tfoot", "th", "thead", "title", "tr", "track", "tt", "u", "ul", "wbr", "xmp",
    "svg", "math", "mi", "mo", "mn", "ms", "mtext", "mglyph", "malignmark",
    "annotation-xml", "foreignObject", "desc", "g", "path", "clipPath", "ruby",
    "label", "article", "my-widget", "x-foo", "q")

  private val AttrPool: Array[String] = Array(
    "class=c", "id=i", "href=\"/x?a=1&amp;b=2\"", "type=hidden", "type=TEXT", "color=red",
    "encoding=text/html", "encoding=\"application/xhtml+xml\"", "viewbox=\"0 0 1 1\"",
    "definitionurl=d", "CLASS=dup", "title", "style=\"a:b\"", "data-k=v")

  /** Seeded random token streams over [[Vocab]]: start, end and
    * self-closing tags (sometimes upper-cased), text, whitespace, comments
    * and CDATA, in any order — the builder's recovery paths, not well-formed
    * pages. */
  def tagSoup(seed: Long, n: Int): Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    (0 until n).map { _ =>
      val sb = new java.lang.StringBuilder
      if (r.nextInt(4) == 0) sb.append("<!DOCTYPE html>")
      val len = 5 + r.nextInt(40)
      var k = 0
      while (k < len) {
        def name = {
          val nm = Vocab(r.nextInt(Vocab.length))
          if (r.nextInt(6) == 0) nm.toUpperCase else nm
        }
        r.nextInt(10) match {
          case 0 | 1 | 2 | 3 =>
            sb.append('<').append(name)
            var a = r.nextInt(4) - 1
            while (a > 0) { sb.append(' ').append(AttrPool(r.nextInt(AttrPool.length))); a -= 1 }
            sb.append(if (r.nextInt(8) == 0) "/>" else ">")
          case 4 | 5 | 6 => sb.append("</").append(name).append('>')
          case 7 => sb.append(if (r.nextBoolean()) "text" + k else "  \n")
          case 8 => sb.append(if (r.nextBoolean()) "<!--c-->" else "<![CDATA[cd<x>]]>")
          case _ => sb.append("w&amp;").append(k)
        }
        k += 1
      }
      sb.toString
    }
  }
}
