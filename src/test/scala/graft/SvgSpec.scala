package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Doc

/**
 * HTML5 foreign-content (SVG/MathML) adjustments — VERDICT r2 ask #5.
 * Expected serializations follow the spec's "adjust SVG tag names"/"adjust
 * SVG attributes" tables, which is what html5ever applies for the reference.
 */
class SvgSpec extends AnyFunSuite {

  private def body(html: String): String =
    Doc.parse(html).select("body").innerHtml.getOrElse("")

  test("svg camelCase tag and attribute adjustment incl. the svg root") {
    assert(body("""<svg viewbox="0 0 10 10"><foreignobject><div>x</div></foreignobject></svg>""") ==
      """<svg viewBox="0 0 10 10"><foreignObject><div>x</div></foreignObject></svg>""")
    assert(body("""<svg><lineargradient gradienttransform="s"><stop></stop></lineargradient></svg>""") ==
      """<svg><linearGradient gradientTransform="s"><stop></stop></linearGradient></svg>""")
    assert(body("""<svg><text><textpath startoffset="5">t</textpath></text></svg>""") ==
      """<svg><text><textPath startOffset="5">t</textPath></text></svg>""")
  }

  test("breakout tags pop foreign content and reprocess as HTML") {
    assert(body("""<svg><circle/><div>out</div></svg>""") ==
      """<svg><circle></circle></svg><div>out</div>""")
    // font WITH color/face/size breaks out; plain font stays foreign
    assert(body("""<svg><font color="red">x</font></svg>""") ==
      """<svg></svg><font color="red">x</font>""")
    assert(body("""<svg><font>x</font></svg>""") ==
      """<svg><font>x</font></svg>""")
  }

  test("HTML integration points: foreignObject/desc and annotation-xml") {
    // HTML rules inside foreignObject: p closes p, names lowercase
    assert(body("""<svg><foreignobject><p>a<p>b</p></foreignobject></svg>""") ==
      """<svg><foreignObject><p>a</p><p>b</p></foreignObject></svg>""")
    assert(body("""<math><annotation-xml encoding="text/HTML"><p>x</p></annotation-xml></math>""") ==
      """<math><annotation-xml encoding="text/HTML"><p>x</p></annotation-xml></math>""")
  }

  test("MathML text integration points and definitionURL") {
    assert(body("""<math><mi><span>x</span></mi></math>""") ==
      """<math><mi><span>x</span></mi></math>""")
    assert(body("""<math definitionurl="u"><mglyph/></math>""") ==
      """<math definitionURL="u"><mglyph></mglyph></math>""")
  }

  test("foreign end tags match case-insensitively against adjusted names") {
    assert(body("""<svg><foreignobject></FOREIGNOBJECT><rect/></svg>""") ==
      """<svg><foreignObject></foreignObject><rect></rect></svg>""")
  }

  test("selectors: original case matches foreign names, lowered does not") {
    val d = Doc.parse("""<svg viewbox="0 0 1 1"><foreignobject><div id="in">x</div></foreignobject></svg>""")
    assert(d.select("foreignObject").length == 1)
    assert(d.select("foreignobject").length == 0) // reference: exact local-name compare
    assert(d.select("svg foreignObject #in").length == 1)
    assert(d.select("svg").attr("viewBox").contains("0 0 1 1"))
  }

  test("xlink attributes keep their qualified names") {
    assert(body("""<svg><a xlink:href="u">t</a></svg>""") ==
      """<svg><a xlink:href="u">t</a></svg>""")
  }

  test("svg inside a table is fostered out, contents intact") {
    assert(body("""<table><svg><circle/></svg><tr><td>x</td></tr></table>""") ==
      """<svg><circle></circle></svg><table><tbody><tr><td>x</td></tr></tbody></table>""")
  }

  test("CDATA sections: text in foreign content, bogus comment in HTML") {
    // adjusted current node in SVG ns → CDATA is a raw text span (no
    // character references, '>' allowed inside)
    assert(body("""<svg><desc><![CDATA[a < b & c]]></desc></svg>""") ==
      """<svg><desc>a &lt; b &amp; c</desc></svg>""")
    assert(body("""<svg><![CDATA[x > y]]></svg>""") ==
      """<svg>x &gt; y</svg>""")
    // HTML content → bogus comment ending at the FIRST '>' (html5ever)
    assert(body("""<div><![CDATA[x]]></div>""") ==
      """<div><!--[CDATA[x]]--></div>""")
  }

  test("void/raw-text serialization rules are HTML-namespace only") {
    // an SVG-ns element NAMED 'area' keeps its children and closing tag
    // (html5ever serializes by stored QualName; void-ness is an HTML rule)
    assert(body("""<svg><area>x</area><circle/></svg>""") ==
      """<svg><area>x</area><circle></circle></svg>""")
    // ...but a real HTML <br> inside a foreignObject integration point is
    // void again (children context returns to HTML)
    assert(body("""<svg><foreignobject><br></foreignobject></svg>""") ==
      """<svg><foreignObject><br></foreignObject></svg>""")
    // svg <title> text is escaped (RCDATA/raw rules are HTML-ns only)
    assert(body("""<svg><desc>a&amp;b</desc></svg>""") ==
      """<svg><desc>a&amp;b</desc></svg>""")
  }

  test("raw-text tokenizer states are HTML-only: svg title/script hold markup") {
    assert(body("""<svg><title><g>x</g></title><rect/></svg>""") ==
      """<svg><title><g>x</g></title><rect></rect></svg>""")
    val d = Doc.parse("""<svg><title><g id=t>x</g></title></svg>""")
    assert(d.select("svg title g").length == 1)
    // HTML <title> is still RCDATA (markup stays text)
    val h = Doc.parse("""<html><head><title><g>x</g></title></head></html>""")
    assert(h.select("title g").length == 0)
    assert(h.select("title").text == "<g>x</g>")
  }

  test("nested namespaces: math inside svg integration point and back") {
    // foreignObject returns to HTML; a <math> inside it opens MathML again
    assert(body("""<svg><foreignobject><math><mi>x</mi></math></foreignobject></svg>""") ==
      """<svg><foreignObject><math><mi>x</mi></math></foreignObject></svg>""")
    // annotation-xml WITHOUT the html encoding stays MathML — and <p> is a
    // BREAKOUT tag, so it pops clear out of the math (the annotation-xml
    // special case admits only <svg>); the trailing stray </p> then
    // inserts an empty <p> per the in-body rules
    assert(body("""<math><annotation-xml><p><p>x</p></p></annotation-xml></math>""") ==
      """<math><annotation-xml></annotation-xml></math><p></p><p>x</p><p></p>""")
    // a NON-breakout name (abbr — span/p/div are all in the breakout
    // list) does stay foreign inside it
    assert(body("""<math><annotation-xml><abbr>x</abbr></annotation-xml></math>""") ==
      """<math><annotation-xml><abbr>x</abbr></annotation-xml></math>""")
  }

  test("stored ns equals independent structural inference on parse-built trees") {
    // differential oracle: on a FRESHLY PARSED tree, the stored per-element
    // ns must coincide with a root-down structural fold (svg/math roots,
    // HTML/MathML-text integration points, annotation-xml encoding) written
    // here independently from the HTML spec's tree-construction rules
    def inferredNs(d: Doc): Map[Int, String] = {
      val a = d.arena
      val out = scala.collection.mutable.Map[Int, String]()
      def childCtx(id: Int, own: String): String = {
        val name = a(id).name
        val inner = if (name == "svg") "svg" else if (name == "math") "math" else own
        if (inner == "svg" && (name == "foreignObject" || name == "desc" || name == "title")) "html"
        else if (inner == "math" && Set("mi", "mo", "mn", "ms", "mtext")(name)) "html"
        else if (inner == "math" && name == "annotation-xml" && {
          val e = a(id).attr("encoding").getOrElse("")
          e.equalsIgnoreCase("text/html") || e.equalsIgnoreCase("application/xhtml+xml")
        }) "html"
        else inner
      }
      def walk(id: Int, ctx: String): Unit = {
        val own =
          if (!a(id).isElement) ctx
          else if (a(id).name == "svg") "svg"
          else if (a(id).name == "math") "math"
          else ctx
        if (a(id).isElement) out(id) = own
        val next = if (a(id).isElement) childCtx(id, own) else ctx
        a.childIds(id).foreach(walk(_, next))
        val tc = a(id).templateContents
        if (tc != -1) walk(tc, next)
      }
      walk(0, "html")
      out.toMap
    }
    val pages = Seq(
      """<svg><g><circle/></g><foreignObject><div><svg><rect/></svg></div></foreignObject></svg>""",
      """<math><mi><b>x</b></mi><annotation-xml encoding="text/html"><p><svg/></p></annotation-xml></math>""",
      """<math><annotation-xml><abbr>x</abbr><svg><area>a</area></svg></annotation-xml></math>""",
      """<div><svg><title><g/></title><desc><span/></desc></svg><map><area></map></div>""",
      """<template><svg><mtext/></svg></template><math><mtext><svg><circle/></svg></mtext></math>""",
      """<svg><font>x</font></svg><math><mglyph/></math>""",
      """<p><svg><script>raw</script><style>s</style></svg></p>""")
    pages.foreach { html =>
      val d = Doc.parse(html)
      val inf = inferredNs(d)
      (0 until d.arena.size).foreach { i =>
        if (d.arena(i).isElement)
          assert(d.arena(i).ns == inf(i),
            s"ns mismatch at node $i (${d.arena(i).name}) in $html: " +
              s"stored=${d.arena(i).ns} inferred=${inf(i)}")
      }
    }
  }

  test("stored ns survives cross-namespace reparenting (VERDICT r3 ask #5)") {
    // structural inference would flip a reparented svg <area> into an HTML
    // void element; the STORED ns column keeps closed-foreign semantics
    val d = Doc.parse("""<p id="t"></p><svg><area>x</area></svg>""")
    val areaId = d.select("svg area").ids.head
    val pId = d.select("#t").ids.head
    graft.ops.TreeOps.appendChild(d.arena, pId, areaId)
    assert(d.select("body").innerHtml.getOrElse("") ==
      """<p id="t"><area>x</area></p><svg></svg>""")
    // the ns column survives the Catalyst round trip (arenaToArrayData →
    // UnsafeArrayData → ArrayDataAccess) — the encoding the Spark
    // expressions perform
    val acc = Encoded(d.arena)
    val bodyId = (0 until acc.size).find(i => acc.name(i) == "body").get
    assert(graft.sources.Serializer.toHtml(acc, bodyId, includeRoot = false) ==
      """<p id="t"><area>x</area></p><svg></svg>""")
    // contrast: an HTML-ns <area> stays void (no end tag, children dropped
    // by the parser) — same local name, different stored ns
    assert(body("""<map><area alt="a"></map>""") == """<map><area alt="a"></map>""")
  }
}
