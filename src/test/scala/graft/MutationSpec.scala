package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Doc
import graft.ops.TreeOps

/** Mutation operators vs reference assertions (tests/node-manipulation.rs,
  * tests/selection-manipulation.rs), each followed by the C4 validate oracle
  * like the reference does (`tree.rs:531-589`). */
class MutationSpec extends AnyFunSuite {
  import Fixtures._

  // tests/data.rs:61-71
  val REPLACEMENT = """<!DOCTYPE html>
    <html lang="en">
        <head></head>
        <body>
            <div id="main">
                <p id="before-origin"></p>
                <p id="origin"><span id="inline">Something</span></p>
                <p id="after-origin"><span>About</span><span>Me</span></p>
            </div>
        </body>
    </html>"""

  private def ok(doc: Doc): Unit = assert(doc.validate.isEmpty, doc.validate)

  test("create element + append (node-manipulation.rs:14-34)") {
    val doc = Doc.parse(ANCESTORS)
    val main = doc.select("#parent").ids.head
    val el = doc.arena.createElement("p", Seq("id" -> "inline"))
    TreeOps.appendChild(doc.arena, main, el)
    assert(doc.select("#parent #inline").exists)
    ok(doc)
  }

  test("append existing element (node-manipulation.rs:38-53)") {
    val doc = Doc.parse(REPLACEMENT)
    assert(doc.selectSingle("#origin").text == "Something")
    val origin = doc.select("#origin").ids.head
    val span = doc.selectSingle("#after-origin span").ids.head
    TreeOps.appendChild(doc.arena, origin, span)
    assert(doc.selectSingle("#origin").text == "SomethingAbout")
    ok(doc)
  }

  test("append existing children moves sibling chain (node-manipulation.rs:56-72)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    val span = doc.selectSingle("#after-origin span").ids.head
    TreeOps.appendChildren(doc.arena, origin, span)
    assert(doc.selectSingle("#origin").text == "SomethingAboutMe")
    ok(doc)
  }

  test("prepend existing element (node-manipulation.rs:75-90)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    val span = doc.selectSingle("#after-origin span").ids.head
    TreeOps.prependChild(doc.arena, origin, span)
    assert(doc.selectSingle("#origin").text == "AboutSomething")
    ok(doc)
  }

  test("prepend existing children (node-manipulation.rs:93-109)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    val span = doc.selectSingle("#after-origin span").ids.head
    TreeOps.prependChildren(doc.arena, origin, span)
    assert(doc.selectSingle("#origin").text == "AboutMeSomething")
    ok(doc)
  }

  test("append_html (node-manipulation.rs:112-130)") {
    val doc = Doc.parse(REPLACEMENT)
    doc.select("#main").appendHtml("""<p id="second">Wonderful</p>""")
    assert(doc.select("#main #second").text == "Wonderful")
    assert(doc.select("#origin").exists)
    ok(doc)
  }

  test("set_html replaces children (node-manipulation.rs:134-152)") {
    val doc = Doc.parse(REPLACEMENT)
    doc.select("#main").setHtml("""<p id="second">Wonderful</p>""")
    assert(doc.select("#main #second").text == "Wonderful")
    assert(!doc.select("#origin").exists)
    ok(doc)
  }

  test("change parent node (node-manipulation.rs:156-176)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    val p = doc.arena.createElement("p", Seq("id" -> "outline"))
    TreeOps.insertBefore(doc.arena, origin, p)
    TreeOps.removeFromParent(doc.arena, origin)
    TreeOps.appendChild(doc.arena, p, origin)
    assert(doc.select("#outline > #origin > #inline").exists)
    ok(doc)
  }

  test("replace_with_html keeps sibling links (node-manipulation.rs:228-244)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    TreeOps.replaceWithHtml(doc.arena, origin,
      """<p id="replaced"><span id="inline">Something</span></p>""")
    assert(doc.select("#before-origin + #replaced > #inline").exists)
    assert(doc.select("#replaced + #after-origin").exists)
    ok(doc)
  }

  test("set_text on element and text node (node-manipulation.rs:298-319)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    TreeOps.setText(doc.arena, origin, "New text")
    assert(doc.selectSingle("#origin").text == "New text")
    assert(!doc.select("#origin #inline").exists)
    ok(doc)
  }

  test("before_html / after_html (node-manipulation.rs:497-528)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    TreeOps.beforeHtml(doc.arena, origin, """<p id="bef">B</p>""")
    TreeOps.afterHtml(doc.arena, origin, """<p id="aft1">A</p><p id="aft2">C</p>""")
    assert(doc.select("#bef + #origin").exists)
    assert(doc.select("#origin + #aft1 + #aft2").exists)
    ok(doc)
  }

  test("normalize merges adjacent text (node-manipulation.rs:452)") {
    val doc = Doc.parse("""<div id="x">a</div>""")
    val x = doc.select("#x").ids.head
    val t1 = doc.arena.createText("b")
    val t2 = doc.arena.createText("")
    val t3 = doc.arena.createText("c")
    TreeOps.appendChild(doc.arena, x, t1)
    TreeOps.appendChild(doc.arena, x, t2)
    TreeOps.appendChild(doc.arena, x, t3)
    TreeOps.normalize(doc.arena, 0)
    val kids = doc.arena.childIds(x)
    assert(kids.length == 1)
    assert(doc.arena(kids.head).text == "abc")
    ok(doc)
  }

  test("class ops: add/remove with order-preserving dedup (node_data.rs:136-177)") {
    val doc = Doc.parse("""<div id="z" class="a b">x</div>""")
    val z = doc.select("#z").ids.head
    TreeOps.addClass(doc.arena, z, "b c  d")
    assert(doc.acc.attr(z, "class") == "a b c d")
    TreeOps.removeClass(doc.arena, z, "a d")
    assert(doc.acc.attr(z, "class") == "b c")
    assert(doc.select(".c").length == 1)
    ok(doc)
  }

  test("attr ops: set/remove/retain/remove-all (node-manipulation.rs:603-653)") {
    val doc = Doc.parse("""<div id="m" a="1" b="2" c="3">x</div>""")
    val m = doc.select("#m").ids.head
    TreeOps.setAttr(doc.arena, m, "d", "4")
    assert(doc.acc.attr(m, "d") == "4")
    TreeOps.removeAttrs(doc.arena, m, Seq("a", "b"))
    assert(!doc.acc.hasAttr(m, "a") && !doc.acc.hasAttr(m, "b"))
    TreeOps.retainAttrs(doc.arena, m, Set("id"))
    assert(doc.acc.hasAttr(m, "id") && !doc.acc.hasAttr(m, "c"))
    TreeOps.removeAllAttrs(doc.arena, m)
    assert(!doc.acc.hasAttr(m, "id"))
    ok(doc)
  }

  test("empty class / empty attr-name ops are no-ops (selection-property.rs:54-125)") {
    val doc = Doc.parse("""<div id="e">x</div>""")
    val e = doc.select("#e").ids.head
    TreeOps.addClass(doc.arena, e, "")
    assert(!doc.acc.hasAttr(e, "class"))
    TreeOps.removeAttrs(doc.arena, e, Seq(""))
    assert(doc.acc.attr(e, "id") == "e")
    TreeOps.addClass(doc.arena, e, "odd")
    TreeOps.addClass(doc.arena, e, "odder")
    assert(doc.acc.hasClass(e, "odd") && doc.acc.hasClass(e, "odder"))
    TreeOps.removeClass(doc.arena, e, "odd")
    assert(!doc.acc.hasClass(e, "odd") && doc.acc.hasClass(e, "odder"))
    ok(doc)
  }

  test("rename (node-manipulation.rs:656)") {
    val doc = Doc.parse("""<div id="r">x</div>""")
    doc.select("#r").rename("span")
    // selection still holds the id; tag changed in place
    assert(doc.select("span").length == 1)
    ok(doc)
  }

  test("strip_elements promotes children (node-manipulation.rs:670)") {
    val doc = Doc.parse("""<div id="s"><b>one <i>two</i></b> three</div>""")
    val s = doc.select("#s").ids.head
    TreeOps.stripElements(doc.arena, s, Set("b", "i"))
    assert(!doc.select("b").exists && !doc.select("i").exists)
    assert(doc.selectSingle("#s").text == "one two three")
    ok(doc)
  }

  test("wrap_html / unwrap (node-manipulation.rs:736-795)") {
    val doc = Doc.parse("""<div id="w"><span id="t">x</span></div>""")
    val t = doc.select("#t").ids.head
    TreeOps.wrapHtml(doc.arena, t, """<em id="wrap"></em>""")
    assert(doc.select("#w > #wrap > #t").exists)
    TreeOps.unwrapNode(doc.arena, doc.select("#wrap").ids.head)
    assert(doc.select("#w > #t").exists)
    assert(!doc.select("#wrap").exists)
    ok(doc)
  }

  test("selection remove (selection.rs:434-438)") {
    val doc = Doc.parse(REPLACEMENT)
    doc.select("p span").remove()
    assert(doc.selectSingle("#main").text.trim.isEmpty)
    ok(doc)
  }

  test("append_selection copies cross-tree (selection-manipulation.rs:196-255)") {
    val src = Doc.parse("""<div><span class="source">example</span></div>""")
    val dst = Doc.parse(REPLACEMENT)
    dst.select("#origin").appendSelection(src.select(".source"))
    assert(dst.select("#origin .source").text == "example")
    // source doc unchanged (copy semantics, selection.rs:445-455)
    assert(src.select(".source").exists)
    ok(dst); ok(src)
  }

  test("replace_with_selection (selection-manipulation.rs)") {
    val src = Doc.parse("""<div><span class="source">example</span></div>""")
    val dst = Doc.parse(REPLACEMENT)
    dst.select("#origin").replaceWithSelection(src.select(".source"))
    assert(!dst.select("#origin").exists)
    assert(dst.select("#main .source").text == "example")
    ok(dst)
  }

  test("insert_siblings before/after splice whole chains (M5, ops.rs:302-321)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    // build a detached chain s1 -> s2
    val s1 = doc.arena.createElement("span", Seq("id" -> "s1"))
    val s2 = doc.arena.createElement("span", Seq("id" -> "s2"))
    doc.arena(s1).next = s2
    doc.arena(s2).prev = s1
    TreeOps.insertSiblingsBefore(doc.arena, origin, s1)
    assert(doc.select("#s1 + #s2 + #origin").exists)
    ok(doc)
    val doc2 = Doc.parse(REPLACEMENT)
    val origin2 = doc2.select("#origin").ids.head
    val t1 = doc2.arena.createElement("span", Seq("id" -> "t1"))
    val t2 = doc2.arena.createElement("span", Seq("id" -> "t2"))
    doc2.arena(t1).next = t2
    doc2.arena(t2).prev = t1
    TreeOps.insertSiblingsAfter(doc2.arena, origin2, t1)
    assert(doc2.select("#origin + #t1 + #t2").exists)
    ok(doc2)
  }

  test("to_fragment clones a standalone subtree (C3, node_ref.rs:743-767)") {
    val doc = Doc.parse(REPLACEMENT)
    val origin = doc.select("#origin").ids.head
    val frag = TreeOps.toFragment(doc.arena, origin)
    assert(TreeOps.validate(frag).isEmpty)
    val fragDoc = new Doc(frag)
    assert(fragDoc.select("#inline").length == 1)
    assert(fragDoc.acc.subtreeText(0) == "Something")
    // source untouched
    assert(doc.select("#origin #inline").exists)
    ok(doc)
  }

  test("template contents survive parse + serialize (document.rs:322-352)") {
    val doc = Doc.parse("""<div id="m"><template id="tpl"><p>inside</p></template></div>""")
    val tpl = doc.select("#tpl")
    assert(tpl.exists)
    // template children live in a detached fragment — not selectable from root
    assert(!doc.select("#tpl p").exists)
    assert(tpl.html.exists(_.contains("<p>inside</p>")))
    ok(doc)
  }

  test("set_html with empty string clears children (node-manipulation.rs:798-806)") {
    val doc = Doc.parse("""<div id="main"><p>a</p><p>b</p></div>""")
    val main = doc.select("#main").ids.head
    TreeOps.setHtml(doc.arena, main, "")
    assert(doc.select("#main").length == 1)
    assert(doc.select("#main").children.length == 0)
    ok(doc)
  }

  test("prepend meta into head; void serialization (node-manipulation.rs:821-845)") {
    val doc = Doc.parse("<!DOCTYPE html>\n<html>\n    <head>\n        <title>Test</title>\n    </head>\n    <body>\n    </body>\n</html>\n")
    val head = doc.head.ids.head
    val meta = doc.arena.createElement("meta",
      Seq("name" -> "viewport", "content" -> "width=1120"))
    TreeOps.prependChild(doc.arena, head, meta)
    val actual = doc.html
    assert(actual.contains("""<meta name="viewport" content="width=1120">"""))
    assert(!actual.contains("</meta>"))
    ok(doc)
  }

  test("svg foreign content honors self-closing (node-manipulation.rs test_add_svg)") {
    val doc = Doc.parse("""<svg><circle cx="50" cy="50" r="40"/><rect width="5"/></svg>""")
    val svg = doc.select("svg").ids.head
    val kids = doc.arena.childIds(svg).filter(doc.arena(_).isElement)
    assert(kids.map(doc.arena(_).name) == List("circle", "rect")) // siblings, not nested
    ok(doc)
  }

  test("inject templates via append_html (selection-manipulation.rs:471-543)") {
    def squash(s: String) = s.replaceAll("\\s+", "")
    val doc = Doc.parse("<!doctype html>\n    <html>\n        <head></head>\n        <body></body>\n    </html>")
    doc.select("body").appendHtml(
      "<button>X</button>\n    <template></template>\n    <script></script>")
    assert(squash(doc.html) == squash(
      "<!DOCTYPE html><html><head></head><body><button>X</button><template></template><script></script></body></html>"))
    ok(doc)

    val doc2 = Doc.parse("<!DOCTYPE html>\n    <html>\n      <head></head>\n      <body>\n        <p>before</p>\n      </body>\n    </html>")
    doc2.select("body").appendHtml(
      "<template>\n        <p>inside</p>\n    </template>\n    <p>after</p>\n    ")
    assert(squash(doc2.html) == squash(
      "<!DOCTYPE html><html><head></head><body><p>before</p><template><p>inside</p></template><p>after</p></body></html>"))
    ok(doc2)
  }

  test("replace-with-reparent composition (node-manipulation.rs:246-269)") {
    val doc = Doc.parse("""<!DOCTYPE html>
      <html lang="en"><head></head><body>
        <div id="main">
          <p id="before-origin"></p>
          <p id="origin"><span id="inline">Something</span></p>
          <p id="after-origin"><span>About</span><span>Me</span></p>
        </div>
      </body></html>""")
    val a = doc.arena
    val origin = doc.selectSingle("#origin").ids.head
    val p = a.createElement("p", Seq("id" -> "outline"))
    graft.ops.TreeOps.insertBefore(a, origin, p)
    graft.ops.TreeOps.removeFromParent(a, origin)
    graft.ops.TreeOps.reparentChildren(a, origin, p)
    assert(!doc.select("#origin").exists)
    assert(doc.select("#outline > #inline").exists)
    assert(doc.validate.isEmpty)
  }

  test("replace element with its own text node (node-manipulation.rs:271-295)") {
    val doc = Doc.parse("""<!DOCTYPE html>
      <html lang="en"><head></head><body>
        <div id="main"><p><a href="javascript:void(0)">Some text</a></p></div>
      </body></html>""")
    val aSel = doc.selectSingle("""a[href^="javascript:"]:only-text""")
    assert(aSel.exists)
    val aNode = aSel.ids.head
    val textNode = doc.arena(aNode).firstChild
    assert(doc.arena(textNode).isText)
    graft.ops.TreeOps.replaceWith(doc.arena, aNode, textNode)
    assert(doc.select("#main > p").innerHtml.contains("Some text"))
    assert(doc.validate.isEmpty)
  }

  test("id stability: removal never reclaims slots (ops.rs:350-383)") {
    val doc = Doc.parse(REPLACEMENT)
    val before = doc.arena.size
    doc.select("#origin").remove()
    assert(doc.arena.size == before)
    assert(!doc.select("#origin").exists)
    ok(doc)
  }
}
