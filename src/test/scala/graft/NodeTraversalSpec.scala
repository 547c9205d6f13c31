package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Doc
import graft.ops.TreeOps

/**
 * Node-level traversal differentials from the reference's
 * `tests/node-traversal.rs` cases not covered elsewhere (file:line per
 * test). The descendants-bound cases guard against walking past the
 * subtree root — the reference fixed exactly that bug in its iterator.
 */
class NodeTraversalSpec extends AnyFunSuite {

  val Ancestors: String =
    """<!DOCTYPE html>
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

  // node-traversal.rs:13-57 test_first_element_child_edge_cases
  test("first_element_child: empty, text-only, multiple, nested") {
    val d = Doc.parse("""
        <div id="empty"></div>
        <div id="text-only">Some text</div>
        <div id="multiple">
            <span>First</span>
            <span>Second</span>
        </div>
        <div id="nested">
            <div>
                <span>Nested</span>
            </div>
        </div>""")
    def fec(css: String): Int =
      TreeOps.firstElementChild(d.arena, d.selectSingle(css).ids.head)
    assert(fec("#empty") == -1)
    assert(fec("#text-only") == -1)
    val first = fec("#multiple")
    assert(first != -1 && d.arena(first).isElement)
    assert(d.acc.subtreeText(first) == "First")
    val nested = fec("#nested")
    assert(nested != -1 && d.arena(nested).isElement)
    assert(d.acc.subtreeText(TreeOps.firstElementChild(d.arena, nested)) == "Nested")
  }

  // node-traversal.rs:135-160 test_descendants_bound — the subtree walk must
  // stop at the root's boundary, never leaking following siblings
  test("descendants never walk past the subtree") {
    val d = Doc.parse(Ancestors)
    val parent = d.selectSingle("#parent").ids.head
    val ids = d.arena.descendants(parent)
      .filter(i => d.arena(i).isElement)
      .map(i => Option(d.arena(i).attrs).flatMap(_.get("id")).getOrElse(""))
      .toList
    assert(ids == List("first-child", "second-child"))
    val firstChild = d.selectSingle("#first-child").ids.head
    assert(d.arena.descendants(firstChild).size == 1) // the text node
    val noDesc = d.selectSingle("#grand-parent-sibling").ids.head
    assert(d.arena.descendants(noDesc).isEmpty)
  }

  // node-traversal.rs:163-186 test_descendants_after_mod — pointer-walk
  // descendants stay correct after replace_with + append_child surgery
  test("descendants after structural mutation") {
    val d = Doc.parse(Ancestors)
    val parent = d.selectSingle("#parent").ids.head
    val grandParent = d.selectSingle("#grand-parent").ids.head
    TreeOps.replaceWith(d.arena, grandParent, parent)
    TreeOps.appendChild(d.arena, parent, grandParent)
    val ids = d.arena.descendants(parent)
      .filter(i => d.arena(i).isElement)
      .map(i => Option(d.arena(i).attrs).flatMap(_.get("id")).getOrElse(""))
      .toList
    assert(ids == List("first-child", "second-child", "grand-parent"))
    assert(d.validate.isEmpty)
  }

  // node-traversal.rs:187-215 last_child / last_sibling are raw (may be text)
  test("last_child and last_sibling may be whitespace text nodes") {
    val d = Doc.parse(Ancestors)
    val parent = d.selectSingle("#parent").ids.head
    val lastChild = d.arena(parent).lastChild
    assert(lastChild != -1 && d.arena(lastChild).isText)
    val empty = d.selectSingle("#grand-parent-sibling").ids.head
    assert(d.arena(empty).lastChild == -1)

    val firstChild = d.selectSingle("#first-child").ids.head
    var last = firstChild
    while (d.arena(last).next != -1) last = d.arena(last).next
    assert(d.arena(last).isText)
  }

  // node-traversal.rs:217-234 test_is_comment
  test("comment nodes carry their contents") {
    val d = Doc.parse(Ancestors)
    val body = d.selectSingle("body").ids.head
    val comment = d.arena.childIds(body)
      .find(i => d.arena(i).kind == graft.model.NodeKind.Comment)
    assert(comment.isDefined)
    assert(d.arena(comment.get).text == "Ancestors")
  }

  // node-traversal.rs:563-589 test_copy_fragment
  test("to_fragment clones with the html scaffold; root/html clone whole tree") {
    val srcFrag = Doc.fragment(Ancestors)
    assert(srcFrag.htmlRoot.exists(i => srcFrag.acc.name(i) == "html"))
    assert(srcFrag.validate.isEmpty)
    val srcNode = srcFrag.select("#grand-parent").ids.head
    val dstFrag = new Doc(TreeOps.toFragment(srcFrag.arena, srcNode))
    assert(dstFrag.htmlRoot.exists(i => dstFrag.acc.name(i) == "html"))
    val dstNode = dstFrag.select("#grand-parent").ids.head
    def htmlOf(d: Doc, i: Int) =
      graft.sources.Serializer.toHtml(d.acc, i, includeRoot = true,
        id => d.arena(id).templateContents)
    assert(htmlOf(srcFrag, srcNode) == htmlOf(dstFrag, dstNode))
    assert(srcFrag.arena.childIds(srcNode).length ==
      dstFrag.arena.childIds(dstNode).length)
    // whole-tree clones for the root and for the html element
    assert(new Doc(TreeOps.toFragment(srcFrag.arena, 0)).select("html").length == 1)
    val htmlId = srcFrag.htmlRoot.get
    assert(new Doc(TreeOps.toFragment(srcFrag.arena, htmlId)).select("html").length == 1)
    assert(dstFrag.validate.isEmpty)
  }

  // node-traversal.rs:236-258 children vs element_children
  test("children include text nodes, element_children do not") {
    val d = Doc.parse(
      """<!DOCTYPE html><html><head><title>Test</title></head><body>
         <div class="main"><div>1</div><div>2</div><div>3</div>Inline text</div>
         <body></html>""")
    val main = d.selectSingle("div.main").ids.head
    assert(d.arena.childIds(main).length == 4)
    assert(d.arena.childIds(main).count(i => d.arena(i).isElement) == 3)
  }
}
