package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Doc

/**
 * Golden differential tests: fixtures + expected values are taken verbatim
 * from the reference's own test assertions (file:line cited per test) —
 * the engines must agree observable-behavior-for-observable-behavior.
 */
object Fixtures {
  // tests/data.rs:16-31
  val ANCESTORS = """<!DOCTYPE html>
    <html>
        <head><title>Test</title></head>
        <body>
            <!--Ancestors-->
           <div id="great-ancestor">
               <div id="grand-parent">
                   <div id="parent">
                       <div id="first-child" class="child">Child</div>
                       <div id="second-child" class="child">Child</div>
                   </div>
               </div>
               <div id="grand-parent-sibling"></div>
            </div>
        </body>
    </html>"""

  // tests/data.rs:33-46
  val LIST = """<!DOCTYPE html>
    <html lang="en">
        <head></head>
        <body>
            <div>
                <ul class="list">
                    <li>1</li><li>2</li><li>3</li>
                </ul>
                <ul class="list">
                    <li>4</li><li>5</li><li>6</li>
                </ul>
            <div>
        </body>
    </html>"""

  // tests/data.rs:48-59
  val HEADING = """<!DOCTYPE html>
    <html>
        <head><title>Test</title></head>
        <body>
            <div class="content heading">
                <h1>Test Page</h1>
            </div>
            <div class="content text-content">
                <p>This is a test page contents.</p>
            </div
        </body>
    </html>"""

  // tests/pseudo-classes.rs:23-33
  val LINKS = """<!DOCTYPE html>
    <html lang="en">
        <head><title>Test</title></head>
        <body>
        <div>
            <a class="link first-link" href="/1">One</a>
            <a class="link second-link" href="/2">Two</a>
            <a class="link" href="/3"><span>Three</span></a>
        </div>
        </body>
    </html>"""

  // tests/pseudo-classes.rs:8-21
  val SIMPLE_LIST = """<!DOCTYPE html>
    <html>
        <head><title>Test</title></head>
        <body>
           <ul class="list">
               <li>1</li>
               <li>2</li>
               <li>3</li>
           </ul>
           <ul>
               <li>4</li>
            </ul>
        </body>
    </html>"""

  // tests/pseudo-classes.rs:35-49
  val EMPTY_HEADINGS = """<!DOCTYPE html>
    <html>
        <head><title>Test</title></head>
        <body>
           <h1>
           </h1>
           <h2>
           </h2>
           <h3>
           </h3>
           <h1>1</h1>
           <h2>2</h2>
           <h3>3</h3>
        </body>
    </html>
    """

  // tests/data.rs:96-106
  val ATTRS = """<!DOCTYPE html>
    <html>
        <head></head>
        <body>
            <div id="main">
                <div><font face="Times" size="10" color="green">Lorem</font></div>
                <div><font face="Arial" size="8" color="red">ipsum dolor</font></div>
                <div><font face="Courier" size="5" color="red">sit amet</font></div>
            </div>
        </body>
    </html>"""

  // README.md:95-112
  val README_PAGE = """<!DOCTYPE html>
<html>
    <head>
        <meta charset="utf-8">
        <title>Test Page</title>
    </head>
    <body>
        <h1>Test Page</h1>
        <ul>
            <li>One</li>
            <li><a href="/2">Two</a></li>
            <li><a href="/3">Three</a></li>
        </ul>
    </body>
</html>"""
}

class EngineSpec extends AnyFunSuite {
  import Fixtures._

  test("select basics + document order (LIST)") {
    val doc = Doc.parse(LIST)
    assert(doc.select("ul.list").length == 2)
    assert(doc.select("ul.list li").length == 6)
    assert(doc.select("li").text == "123456")
  }

  test("chained select excludes roots (selection-traversal.rs:26-30)") {
    val doc = Doc.parse(HEADING)
    assert(doc.select("h1").select("h1").length == 0)
  }

  test("invalid selector throws; trySelect returns None (document.rs:201-227)") {
    val doc = Doc.parse(LIST)
    intercept[IllegalArgumentException](doc.select(":+ ^"))
    assert(doc.trySelect(":+ ^").isEmpty)
    // a valid selector with NO matches is also None (document.rs:220-225)
    assert(doc.trySelect("p").isEmpty)
    assert(doc.trySelect("li").isDefined)
  }

  test("nth-child text (README.md:112-117)") {
    val doc = Doc.parse(README_PAGE)
    assert(doc.select("ul li:nth-child(2)").text == "Two")
  }

  test("ul > li:has(a) are all li (README.md:118-121)") {
    val doc = Doc.parse(README_PAGE)
    val sel = doc.select("ul > li:has(a)")
    assert(sel.length == 2)
    assert(sel.is("li"))
  }

  test("nth-child / first/last/only (SIMPLE_LIST)") {
    val doc = Doc.parse(SIMPLE_LIST)
    assert(doc.select("ul.list li:first-child").text == "1")
    assert(doc.select("ul.list li:last-child").text == "3")
    assert(doc.select("ul.list li:nth-child(2)").text == "2")
    assert(doc.select("ul.list li:nth-child(odd)").text == "13")
    assert(doc.select("ul.list li:nth-child(even)").text == "2")
    assert(doc.select("ul.list li:nth-last-child(1)").text == "3")
    assert(doc.select("li:only-child").text == "4")
    assert(doc.select("ul li:nth-child(2n+1)").text == "134")
  }

  test("pseudo_class_has (pseudo-classes.rs:52-62)") {
    val doc = Doc.parse(LINKS)
    assert(doc.select("div:has(a[href]) a span").text == "Three")
  }

  test("pseudo_class_has_any_link (pseudo-classes.rs:64-73)") {
    val doc = Doc.parse(LINKS)
    assert(doc.select("div:has(*:any-link) a span").first.text == "Three")
  }

  test("pseudo_class_link (pseudo-classes.rs:75-84)") {
    val doc = Doc.parse(LINKS)
    assert(doc.select("div *:link").first.text == "One")
  }

  test("bad pseudo-class name panics (pseudo-classes.rs:86-95)") {
    val doc = Doc.parse(LINKS)
    intercept[IllegalArgumentException](doc.select("div:hasa(*:any-link) a span"))
  }

  test("has-text matches single text node (pseudo-classes.rs:97-106)") {
    val doc = Doc.parse(LINKS)
    assert(doc.select("""div a:has-text("Three")""").text == "Three")
  }

  test("has-text does NOT match split text; :contains does (pseudo-classes.rs:109-149)") {
    val html = """
    <div>
        <a href="/1">One</a>
        <a href="/2">Two</a>
        <a href="/3">It is not <span>how</span> it works</a>
    </div>"""
    val doc = Doc.parse(html)
    assert(doc.select("""div a:has-text("how it works")""").length == 0)
    assert(doc.select("""div a:contains("how it works")""").text == "It is not how it works")
  }

  test("only-text ignores whitespace-only divs (pseudo-classes.rs:151-180)") {
    val html = """<!DOCTYPE html>
    <html>
        <head>
            <title>Test</title>
        </head>
        <body>
            <div>
                <a href="/1">One</a>
                <a href="/2">Two</a>
                <a href="/3">Three</a>
            </div>
            <div>
            </div>
            <div>Only text</div>
        </body>
    </html>
    """
    val doc = Doc.parse(html)
    val sel = doc.select("body div:only-text")
    assert(sel.length == 1)
    assert(sel.innerHtml.contains("Only text"))
  }

  test(":not with selector list (pseudo-classes.rs:183-191)") {
    val doc = Doc.parse(LINKS)
    assert(doc.select("div a[class]:not(.first-link,.second-link)").first.text == "Three")
  }

  test(":is + :empty (pseudo-classes.rs:194-200)") {
    val doc = Doc.parse(EMPTY_HEADINGS)
    assert(doc.select(":is(h1,h2,h3):empty").length == 3)
  }

  test("descendants document order (node-traversal.rs:58-83)") {
    val doc = Doc.parse(ANCESTORS)
    val anc = doc.select("#great-ancestor")
    assert(anc.exists)
    val ids = doc.arena.descendants(anc.ids.head).toList
      .filter(doc.arena(_).isElement)
      .map(i => doc.acc.attr(i, "id"))
    assert(ids == List("grand-parent", "parent", "first-child", "second-child",
      "grand-parent-sibling"))
  }

  test("ancestors chain (ANCESTORS fixture)") {
    val doc = Doc.parse(ANCESTORS)
    val child = doc.select("#first-child")
    val anc = child.ancestors()
    val ids = anc.ids.map(i => Option(doc.acc.attr(i, "id")).getOrElse(doc.acc.name(i)))
    assert(ids == Seq("parent", "grand-parent", "great-ancestor", "body", "html"))
    val lim = child.ancestors(2)
    assert(lim.ids.map(i => doc.acc.attr(i, "id")) == Seq("parent", "grand-parent"))
  }

  test("parent / children / siblings (ANCESTORS fixture)") {
    val doc = Doc.parse(ANCESTORS)
    assert(doc.select("#parent").children.length == 2)
    assert(doc.select("#first-child").parent.id.contains("parent"))
    assert(doc.select("#first-child").nextSibling.id.contains("second-child"))
    assert(doc.select("#second-child").prevSibling.id.contains("first-child"))
    assert(doc.select("#grand-parent").nextSibling.id.contains("grand-parent-sibling"))
  }

  test("attribute operators (mini_selector/selector.rs:33-55 table)") {
    val doc = Doc.parse(ATTRS)
    assert(doc.select("font[face=Arial]").text == "ipsum dolor")
    assert(doc.select("font[color=red]").length == 2)
    assert(doc.select("font[face^=C]").text == "sit amet")
    assert(doc.select("font[face$=s]").text == "Lorem")
    assert(doc.select("font[face*=ria]").text == "ipsum dolor")
    assert(doc.select("font[size]").length == 3)
    assert(doc.select("[face~=Times]").length == 1)
    // dash-match: lang|=en matches lang="en" (on html)
    assert(doc.select("html").length == 1)
  }

  test("dash-match semantics") {
    val doc = Doc.parse("""<div><p lang="en">a</p><p lang="en-US">b</p><p lang="enx">c</p></div>""")
    assert(doc.select("p[lang|=en]").text == "ab")
  }

  test("is / is_selection / filter (selection-query.rs:15-80)") {
    val doc = Doc.parse(HEADING)
    val sel = doc.select("div.content")
    assert(sel.select("h1").exists)
    val filtered = sel.filter("div.text-content")
    assert(!filtered.select("h1").exists)
    assert(sel.select("h1").exists)
    assert(doc.select("div").isSelection(doc.select(".text-content")))
    assert(!doc.select("div").isSelection(doc.select("a")))
  }

  test("add / addSelection union keeps first-occurrence order (selection.rs:345-428)") {
    val doc = Doc.parse(LINKS)
    val a = doc.select(".first-link")
    val union = a.add(".second-link")
    assert(union.length == 2)
    val all = union.addSelection(doc.select("a"))
    assert(all.length == 3)
  }

  test("select_single / first early exit (Q2)") {
    val doc = Doc.parse(SIMPLE_LIST)
    assert(doc.selectSingle("ul li").text == "1")
    assert(doc.selectSingle("nothing").length == 0)
  }

  test("combinators: child, adjacent, sibling") {
    val doc = Doc.parse(SIMPLE_LIST)
    assert(doc.select("ul > li").length == 4)
    assert(doc.select("li + li").length == 2)
    assert(doc.select("li ~ li").length == 2)
    assert(doc.select("body ul li").length == 4)
  }

  test(":root matches html element") {
    val doc = Doc.parse(LIST)
    val r = doc.select(":root")
    assert(r.length == 1)
    assert(doc.acc.name(r.ids.head) == "html")
  }

  test("base_uri fast path (F5, tree.rs:86-95)") {
    val doc = Doc.parse("""<html><head><base href="https://ex.com/a/"></head><body></body></html>""")
    assert(doc.baseUri.contains("https://ex.com/a/"))
    assert(Doc.parse(LIST).baseUri.isEmpty)
  }

  test("find name path (F1)") {
    val doc = Doc.parse(README_PAGE)
    assert(doc.find(Seq("body", "ul", "li")).length == 3)
  }

  test("span-sequence invariant: preorder ids & subtree_end contiguity") {
    val doc = Doc.parse(ANCESTORS)
    val enc = Encoded(doc.arena)
    assert(enc.size == doc.arena.size)
    // preorder-numbered: children ids always greater than parent
    (0 until enc.size).foreach { i =>
      if (enc.parent(i) != -1) assert(enc.parent(i) < i)
      assert(enc.subtreeEnd(i) >= i)
    }
    // subtree of great-ancestor is the contiguous range (idx, subtree_end]
    val ga = doc.select("#great-ancestor").ids.head
    val inRange = (ga + 1) to enc.subtreeEnd(ga)
    val walked = doc.arena.descendants(ga).toList
    assert(walked.sorted == inRange.toList)
  }

  test("document/fragment roots + doctype handling (tests/parsing.rs)") {
    val doc = Doc.parse(HEADING)
    assert(doc.arena(0).kind == "document")
    // document keeps the doctype as its first child (parsing.rs:14-20)
    assert(doc.arena(doc.arena(0).firstChild).kind == "doctype")
    // no doctype in source → no doctype node (parsing.rs:23-41)
    val noDt = Doc.parse("\n    <html>\n        <head><title>T</title></head>\n        <body><p>x</p></body>\n    </html>")
    assert(noDt.arena(noDt.arena(0).firstChild).kind != "doctype")
    // fragments drop the doctype; root is a Fragment whose first child is
    // the scaffold <html> element (parsing.rs:44-53)
    val frag = Doc.fragment(HEADING)
    assert(frag.arena(0).kind == "fragment")
    val fc = frag.arena(0).firstChild
    assert(frag.arena(fc).kind != "doctype")
    assert(frag.arena(fc).name == "html")
    // content selectable through the scaffold
    assert(frag.select("h1").text == "Test Page")
  }

  test("structural validation oracle on fresh parses (C4)") {
    Seq(ANCESTORS, LIST, HEADING, LINKS, SIMPLE_LIST, EMPTY_HEADINGS, ATTRS, README_PAGE)
      .foreach { html => assert(Doc.parse(html).validate.isEmpty) }
  }

  test("attribute case-insensitivity flag [attr=v i] (selectors-crate eval_str)") {
    val d = Doc.parse("""<input type="TEXT"><input type="text"><a href="HTTP://X">x</a>""")
    assert(d.select("input[type=text i]").length == 2)
    assert(d.select("input[type=text]").length == 1)
    assert(d.select("input[type=TEXT s]").length == 1)
    assert(d.select("""a[href^="http" i]""").length == 1)
    assert(d.select("""a[href^="http"]""").length == 0)
  }

  test("[k=''] matches an empty attribute; substring ops never match empty value") {
    val d = Doc.parse("""<input value=""><input value="x">""")
    assert(d.select("""input[value=""]""").length == 1)
    assert(d.select("""input[value*=""]""").length == 0)
    assert(d.select("""input[value^=""]""").length == 0)
    assert(d.select("""input[value~=""]""").length == 0)
    assert(d.select("""input[value$="x"]""").length == 1)
  }

  test("malformed attribute operators are invalid selectors (reference panics)") {
    val d = Doc.parse("<div a='b'>x</div>")
    assert(d.trySelect("[a~b]").isEmpty)
    assert(d.trySelect("[a^b]").isEmpty)
    assert(d.trySelect("[a|b]").isEmpty)
    assert(d.trySelect("[a$b]").isEmpty)
    assert(d.trySelect("[a*b]").isEmpty)
  }

  test("find name-path walks with descent pruning (traversal.rs:90-138)") {
    val d = Doc.parse(
      "<div id=o><div id=i><span><a id=x>1</a></span></div><a id=y>2</a></div>")
    // ["div","a"]: step 1 matches the outer div only (inner pruned);
    // step 2 collects every a under it, in document order
    val f = d.find(Seq("div", "a"))
    assert(f.ids.map(i => d.acc.attr(i, "id")) == Seq("x", "y"))
    // ["div","div","a"]: inner div found at step 2, only #x at step 3
    val f2 = d.find(Seq("div", "div", "a"))
    assert(f2.ids.map(i => d.acc.attr(i, "id")) == Seq("x"))
    // last step descends into matches: nested same-name elements all found
    val nested = Doc.parse("<div id=a><div id=b><div id=c></div></div></div>")
    assert(nested.find(Seq("div")).length == 3)
    assert(nested.find(Seq("div", "div")).ids.map(i => nested.acc.attr(i, "id")) ==
      Seq("b", "c"))
    assert(d.find(Seq("span", "span")).isEmpty)
  }

  test("parse errors + quirks mode surfaced (document.rs:22-32)") {
    val clean = Doc.parse("<!DOCTYPE html><html><body><p>x</p></body></html>")
    assert(clean.arena.errors.isEmpty)
    assert(clean.arena.quirksMode == "no-quirks")
    // no doctype → quirks
    assert(Doc.parse("<div>x</div>").arena.quirksMode == "quirks")
    // legacy transitional public id without system id → quirks
    val legacy = Doc.parse(
      """<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN"><p>x""")
    assert(legacy.arena.quirksMode == "quirks")
    val limited = Doc.parse(
      """<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN" "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd"><p>x""")
    assert(limited.arena.quirksMode == "limited-quirks")
    // stray end tags and misnesting are recorded
    val messy = Doc.parse("<div><b>x</div></b></span>")
    assert(messy.arena.errors.nonEmpty)
    // fragments default to no-quirks (doctype dropped)
    assert(Doc.fragment("<p>x").arena.quirksMode == "no-quirks")
  }

  test("adoption agency: misnested formatting recovery (<b><i>x</b>y</i>)") {
    val d = Doc.parse("<p>1<b>2<i>3</b>4</i>5</p>")
    // html5ever: <p>1<b>2<i>3</i></b><i>4</i>5</p>
    assert(d.select("p").innerHtml.exists(_.contains("<b>2<i>3</i></b><i>4</i>")))
    assert(d.text == "12345")
    // block inside formatting: <b>1<p>2</b>3</p> → b is cloned into the p
    val d2 = Doc.parse("<b>1<p>2</b>3</p>")
    assert(d2.select("b").length == 2)
    assert(d2.select("p b").length == 1)
    assert(d2.text == "123")
  }

  test("chained select ancestry above the roots (examples/descendant_elements.rs)") {
    val d = Doc.parse("""<!DOCTYPE html>
      <html><head><title>Test</title></head><body>
        <h1>Test Page</h1>
        <ul class="list-a">
          <li>One</li>
          <li><a href="/2">Two</a></li>
          <li><a href="/3">Three</a></li>
        </ul>
        <ul class="list-b">
          <li><a href="/4">Four</a></li>
        </ul>
      </body></html>""")
    val uls = d.select("ul")
    // `body` and `ul.list-b` are satisfied at/above the ul roots — the
    // selectors-crate Matches iterator still finds the li
    val li = uls.select("body ul.list-b li")
    assert(li.length == 1)
    assert(li.text == "Four")
    // still strict-descendant: roots never match themselves
    assert(uls.select("ul").length == 0)
  }

  test("chained select_single (tests/selection-traversal.rs:167-175)") {
    val d = Doc.parse(Fixtures.LIST)
    assert(d.select("div").selectSingle(".list").length == 1)
    assert(d.select("div").select(".list").length == 2)
    assert(d.selectSingle(".list").length == 1)
    // first match in document order: the single selection is the 1-2-3 list
    assert(d.select("div").selectSingle(".list").text.replaceAll("\\s+", "") == "123")
  }

  test("Noah's ark: at most 3 identical formatting entries reconstruct") {
    // 7 unclosed identical <b> inside the first paragraph; closing the p pops
    // them off the stack but they stay in the active formatting list, where
    // the Noah's ark clause caps identical (name, attrs) entries at 3. The
    // second <p> inserts WITHOUT reconstructing (block start tags don't);
    // its text does the reconstruction — so exactly 3 nested b's appear
    // INSIDE the new paragraph (p > b b b > "y", html5ever's tree)
    val d = Doc.parse("<p><b><b><b><b><b><b><b>x</p><p>y</p>")
    val y = d.select("p:last-child")
    assert(y.text == "y")
    assert(d.select("p:last-child b b b").length == 1)
    assert(d.select("p:last-child b b b b").length == 0)
    assert(d.validate.isEmpty)
  }

  test("nested <a> scan stops at AFE markers: link inside a cell keeps the outer link") {
    val d = Doc.parse(
      """<a href="1">x<table><tr><td><a href="2">y</a></td></tr></table>z</a>""")
    assert(d.select("a[href='1']").length >= 1)
    assert(d.select("td a[href='2']").length == 1)
    // content after the table stays inside the outer link
    assert(d.select("a[href='1']").text.contains("z"))
  }

  test("duplicate <body> merges attributes without closing open elements") {
    val d = Doc.parse("<body><div>a<body class=x>b")
    assert(d.select("div").text == "ab")
    assert(d.body.attr("class").contains("x"))
  }

  test("stray <head> after body content is ignored") {
    val d = Doc.parse("<body><p>x</p><head><div>y")
    assert(d.select("head div").length == 0)
    assert(d.select("body div").length == 1)
    assert(d.body.text == "xy")
  }

  test("self-closing <svg/> at HTML level pops immediately") {
    val d = Doc.parse("<svg/><p>hi</p>")
    assert(d.select("svg").length == 1)
    assert(d.select("svg p").length == 0)
    assert(d.select("body > p").text == "hi")
  }

  test("li/dd/dt start tags close an open <p> in button scope") {
    val d = Doc.parse("<ul><p>a<li>b</li></ul>")
    assert(d.select("ul > li").length == 1)
    assert(d.select("li").text == "b")
    assert(d.select("p").text == "a")
    val d2 = Doc.parse("<dl><p>a<dd>b</dd></dl>")
    assert(d2.select("dl > dd").length == 1)
    assert(d2.select("p").text == "a")
  }

  test("in-select mode: illegal content ignored, nested select closes") {
    val d = Doc.parse("<select><option>a</option><div>x</div><option>b</option></select>")
    assert(d.select("select div").length == 0)
    assert(d.select("select option").length == 2)
    // the <div> tags are dropped but its character tokens stay (in-select
    // inserts characters; only the element is ignored)
    assert(d.select("select").text == "axb")
    // nested <select> acts as </select> (the token itself is discarded);
    // the following option lands outside the select
    val d2 = Doc.parse("<select><option>a<select><option>b</select>")
    assert(d2.select("select").length == 1)
    assert(d2.selectSingle("select").text == "a")
    assert(d2.select("body > option").text == "b")
    // <input> closes the select and continues in body
    val d3 = Doc.parse("<select><option>a<input name=q><p>after")
    assert(d3.select("select input").length == 0)
    assert(d3.select("body > input").length == 1)
    assert(d3.select("p").text == "after")
  }

  test("foster parenting: table-illegal content moves before the table") {
    val d = Doc.parse("<table>foo<tr><td>bar</td></tr></table>")
    // "foo" is fostered out; the table keeps only its legal structure
    assert(d.select("table").text == "bar")
    assert(d.body.text == "foobar")
    // fostered element before the table
    val d2 = Doc.parse("<div><table><div id=f>x</div><tr><td>y</td></tr></table></div>")
    val outer = d2.select("div").first
    assert(d2.select("div > div#f").length == 1)
    assert(d2.select("table div").length == 0)
  }

  // spec in-body <xmp>: closes the p, RECONSTRUCTS active formatting, then
  // swallows raw text — the xmp lands inside a reconstructed <b> clone
  test("xmp reconstructs active formatting before raw text") {
    val d = Doc.parse("<p><b>x</p><xmp>raw</xmp>")
    assert(d.select("b xmp").length == 1)
    assert(d.select("xmp").text == "raw")
    assert(d.validate.isEmpty)
  }

  // pseudo-classes.rs:286-309 — unsupported pseudo-classes are selector
  // ERRORS (unlike the inert parse-but-false set)
  test("unsupported pseudo-classes fail to parse") {
    val d = Doc.parse("<ul><li>1</li></ul>")
    intercept[IllegalArgumentException](d.select("*:required"))
    assert(d.trySelect("*:required").isEmpty)
    intercept[IllegalArgumentException](d.select(":lang(en-US)"))
    // :has-text/:contains REQUIRE quoted string args (matcher.rs:199-205)
    intercept[IllegalArgumentException](d.select(":contains(x)"))
    intercept[IllegalArgumentException](d.select(":has-text(x)"))
    assert(d.trySelect(""":contains("1")""").isDefined)
  }

  // selection-traversal.rs:265-281 test_doc_uppercase
  test("uppercase markup parses to lowercase tag names") {
    val d = Doc.parse(
      """<!DOCTYPE html><html lang="en"><head></head><body><div>
         <ul class="list"><li>1</li><li>2</li><li>3</li></ul>
         <ul class="list"><li>4</li><li>5</li><li>6</li></ul>
         </div></body></html>""".toUpperCase)
    val all = d.select("ul").ids.map(i =>
      graft.sources.Serializer.toHtml(d.acc, i, includeRoot = false,
        id => d.arena(id).templateContents).trim).mkString
    assert(all == "<li>1</li><li>2</li><li>3</li><li>4</li><li>5</li><li>6</li>")
  }

  // selection-traversal.rs:284-302 test_select_empty
  test(":empty selection can be removed") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div></div>
         <div>Some text</div>
         </body></html>""")
    val empty = d.select("div:empty")
    assert(empty.exists)
    empty.remove()
    assert(d.select("""div:has-text("Some text")""").exists)
    assert(!d.select("div:empty").exists)
  }

  // selection-traversal.rs:464-480 test_select_inside_noscript (scripting
  // disabled: noscript content is real markup)
  test("select inside noscript") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <noscript><div>Please enable javascript to run this site</div></noscript>
         </body></html>""")
    assert(d.select("noscript div").text == "Please enable javascript to run this site")
  }

  // selection-traversal.rs:571-588 test_selection_is_sorted
  test("chained selections come back in document order") {
    def sorted(xs: Seq[Int]) = xs.sliding(2).forall(w => w.length < 2 || w(0) <= w(1))
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div id="great-ancestor"><div id="grand-parent"><div id="parent">
         <div id="first-child" class="child">Child</div>
         <div id="second-child" class="child">Child</div></div></div>
         <div id="grand-parent-sibling"></div></div></body></html>""")
    assert(sorted(d.select("div").ids))
    assert(sorted(d.select("#great-ancestor > div").select("div > div").ids))
    assert(sorted(d.select("#great-ancestor div").select("div > div").ids))
  }

  // selection-traversal.rs:590-606 test_select_single_ancestors
  test("chained select_single through empty and matching selections") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div id="great-ancestor"><div id="grand-parent"><div id="parent">
         <div id="first-child" class="child">Child</div></div></div></div>
         </body></html>""")
    assert(!d.select("#ancestor").select("#parent").selectSingle("div").exists)
    assert(d.selectSingle("#great-ancestor").selectSingle("div").exists)
    assert(!d.selectSingle("#great-ancestor").selectSingle("p").exists)
  }

  // selection-traversal.rs:78-124, 303-315, 483-569 — positional/sibling/
  // getter batch on page.html + inline fixtures
  test("children/parent/next on empty and real selections; last/get/prev") {
    val pg = RealPages.doc("page.html")
    assert(pg.select(".non-existing").children.length == 0)
    assert(pg.select(".non-existing").parent.length == 0)

    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div id="parent"><div id="first-child" class="child">Child</div>
         <div id="second-child" class="child">Child</div></div></body></html>""")
    assert(d.select("#parent > div").last.is("#second-child"))
    assert(d.select("#non-existing > div").last.isEmpty)
    assert(d.select("#parent > #second-child").prevSibling.is("#first-child"))
    assert(d.select("#first-child").prevSibling.isEmpty)
    assert(d.select("#non-existing").prevSibling.isEmpty)
    val sel = d.select("#parent > div")
    assert(sel.get(1).isDefined)
    assert(sel.get(2).isEmpty)

    // class()/id() come from the FIRST node only
    assert(d.select("#parent > #first-child").className.contains("child"))
    assert(d.select("#parent").className.isEmpty)
    assert(d.select("#non-existing").className.isEmpty)
    assert(d.select("#parent > #first-child").id.contains("first-child"))
    assert(d.select("body").id.isEmpty)

    // whitespace-only span still counts as a child element (rs:303-315)
    val d2 = Doc.parse("""<div class="main"><div><span> </span></div></div>""")
    assert(d2.select("div.main").children.length == 1)
  }

  // selection-traversal.rs:527-545 selection-level formatted_text keeps the
  // trailing block break (doc-level golden in TextSpec trims differently)
  test("selection formatted_text golden") {
    val doc = Doc.parse((new TextSpec).DMC)
    val expected = "Listen up y'all, it's time to get down\n" +
      "'Bout that normalized_char_count in this town\n" +
      "Traversing nodes with style and grace\n" +
      "Counting chars at a steady pace\n\n" +
      "No split whitespace, that's old school\n" +
      "Direct counting's our golden rule\n" +
      "Skip them nodes that ain't text or element\n" +
      "That's how we keep our code development!\n\n"
    assert(doc.select("p").formattedText == expected)
  }

  // selection.rs:286-291, 599-615 — Selection-level nip/try_select/try_filter
  test("selection nip / try_select / try_filter semantics") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div id="parent"><div id="first-child" class="child">Child</div>
         <div id="second-child" class="child">Child</div></div></body></html>""")
    val parent = d.select("#parent")
    assert(parent.nip(".child").length == 2)
    assert(d.nip("#parent").length == 1)
    // try_select: None on invalid selector AND on empty sub-select
    assert(parent.trySelect(":+ ^").isEmpty)
    assert(parent.trySelect("p").isEmpty)
    assert(parent.trySelect(".child").map(_.length).contains(2))
    // try_filter: empty selection short-circuits to itself; invalid → None;
    // valid-but-empty result is Some(empty)
    val empty = d.select("#nope")
    assert(empty.tryFilter(":+ ^").exists(_.isEmpty))
    assert(parent.tryFilter(":+ ^").isEmpty)
    assert(d.select(".child").tryFilter("#first-child").map(_.length).contains(1))
    assert(d.select(".child").tryFilter("p").exists(_.isEmpty))
  }

  // selection-traversal.rs:319-402 ancestors family
  test("ancestors: full chain, empty selection, per-node limit with dedup") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div id="great-ancestor"><div id="grand-parent"><div id="parent">
         <div id="first-child" class="child">Child</div>
         <div id="second-child" class="child">Child</div></div></div>
         <div id="grand-parent-sibling"></div></div></body></html>""")
    val anc = d.select("#first-child").ancestors()
    assert(anc.is("html"))
    assert(anc.is("#parent"))
    assert(!anc.is("#first-child"))
    assert(d.select("#third-child").ancestors().isEmpty)

    val anc2 = d.select("#first-child").ancestors(2)
    assert(anc2.length == 2)
    assert(anc2.is("#grand-parent") && anc2.is("#parent"))
    assert(!anc2.is("#great-ancestor"))

    // two siblings share ancestors; the per-node limit dedups to the same 2
    val both = d.select("#first-child, #second-child")
    assert(both.length == 2)
    val anc3 = both.ancestors(2)
    assert(anc3.length == 2)
    assert(anc3.is("#grand-parent") && anc3.is("#parent"))
    assert(!anc3.is("#great-ancestor"))
  }

  // selection-traversal.rs:404-462 add family
  test("add/add_selection/try_add semantics incl. cross-tree panic") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div id="parent"><div id="first-child" class="child">Child</div>
         <div id="second-child" class="child">Child</div></div></body></html>""")
    val first = d.select("#first-child")
    val second = d.select("#second-child")
    assert(first.addSelection(second).length == 2)
    assert(d.select("#first-child").add("#second-child").length == 2)
    intercept[IllegalArgumentException](d.select("#first-child").add(":;'"))
    assert(first.tryAdd(":;'").isEmpty)
    assert(first.tryAdd("#second-child").map(_.length).contains(2))
    // selections from different trees never union (selection.rs:791-798)
    val other = Doc.parse("<div id=\"second-child\"></div>")
    intercept[IllegalArgumentException](
      first.addSelection(other.select("#second-child")))
    // EMPTY selection semantics (selection.rs:365-369, 380-387, 400-409):
    // try_add succeeds WITHOUT parsing (even an invalid selector), add/
    // add_matcher return the empty clone, add_selection returns the other
    // side before the same-tree assert (cross-tree with an empty side is OK)
    val empty = d.select("#no-such")
    assert(empty.isEmpty)
    assert(empty.tryAdd(":;'").map(_.length).contains(0))
    assert(empty.tryAdd("#second-child").map(_.length).contains(0))
    assert(empty.add("#second-child").isEmpty)
    assert(empty.addSelection(other.select("#second-child")).length == 1)
    assert(first.addSelection(other.select("#no-such")).length == 1)
  }

  // selection-query.rs:90-116 test_filter_selection_other
  test("filter_selection intersects with an unrelated selection") {
    val d = Doc.parse(
      """<!DOCTYPE html><html lang="en"><head><title>Test</title></head><body>
         <div class="content"><p>Content text has a <a href="/0">link</a></p></div>
         <footer><a href="/1">Footer Link</a></footer>
         </body></html>""")
    val links = d.select("a[href]")
    assert(links.length == 2)
    val content = d.select("div.content *")
    assert(links.filterSelection(content).length == 1)
  }

  // selection-query.rs:121-141 test_is_empty / test_is_empty_selection
  test("is/is_selection against empty selections") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div id="parent"><div id="first-child" class="child">Child</div>
         <div id="second-child" class="child">Child</div></div></body></html>""")
    val first = d.select("#parent > #first-child")
    assert(!first.isEmpty)
    assert(!first.is("#third-child"))
    val third = d.select("#parent > #third-child")
    assert(third.isEmpty)
    assert(!first.isSelection(third))
  }

  // selection-query.rs:143-161 test_is_has (prev element sibling + relative :has)
  test("is with :has(> img:only-child) on the previous element sibling") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><body>
         <div><img src="image.png"></div>
         <div id="anchor"></div>
         </body></html>""")
    val prev = d.select("#anchor").prevSibling
    assert(prev.length == 1)
    assert(prev.is("*:has( > img:only-child)"))
  }
}
