package graft.api

import graft.css.{ArenaAccess, Engine, SelectorAst}
import graft.model.Arena
import graft.ops.TreeOps
import graft.sources.{HtmlParser, Serializer}

/**
 * Single-document API mirroring the reference's `Document` / `Selection`
 * surface (`src/document.rs`, `src/selection.rs`) — the working type inside
 * per-row Spark expressions and in the golden differential tests.
 *
 * `Doc` wraps the arena; `Sel` is an ordered, deduplicated node-id list
 * (`src/selection.rs:15-18`).
 */
final class Doc(val arena: Arena) {
  lazy val acc = new ArenaAccess(arena)

  /** All descendants of root matching the selector, document order (Q1).
    * Panics on invalid selector like the reference (`document.rs:201-204`). */
  def select(css: String): Sel =
    new Sel(this, Engine.select(acc, Seq(0), SelectorAst.parseCached(css)).toSeq)

  /** `nip` is the reference's alias for select (`document.rs:206-214`). */
  def nip(css: String): Sel = select(css)

  /** None when the selector is invalid OR when nothing matches
    * (`document.rs:218-227` filters empty selections to None). */
  def trySelect(css: String): Option[Sel] =
    SelectorAst.tryParse(css)
      .map(l => new Sel(this, Engine.select(acc, Seq(0), l).toSeq))
      .filter(_.exists)

  def selectSingle(css: String): Sel = {
    val f = Engine.selectFirst(acc, Seq(0), SelectorAst.parseCached(css))
    new Sel(this, if (f == -1) Nil else Seq(f))
  }

  /** Name-only path search with descent pruning (F1, `node_ref.rs:796-803`,
    * `dom_tree/traversal.rs:90-138`). Reference-faithful edge case: an EMPTY
    * path returns the start node itself (`find_descendant_elements` returns
    * the initial stack unchanged, `traversal.rs:95-105`). */
  def find(path: Seq[String]): Sel =
    new Sel(this, Engine.findByNames(acc, Seq(0), path).toSeq)

  /** `html>head>base[href]` fast path (F5, `tree.rs:86-95`). */
  def baseUri: Option[String] = {
    val f = acc.baseUriNode
    if (f == -1) None else Option(acc.attr(f, "href"))
  }

  /** html5ever's MathML `annotation-xml` HTML-integration-point flag,
    * derived from name + encoding attr (reference stores it at parse time,
    * `dom_tree/tree.rs:115-121`, `node/node_data.rs:79`). */
  def isMathmlAnnotationXmlIntegrationPoint(id: Int): Boolean = {
    val nd = arena(id)
    nd.isElement && nd.name == "annotation-xml" &&
      nd.attr("encoding").exists { e =>
        val l = e.toLowerCase
        l == "text/html" || l == "application/xhtml+xml"
      }
  }

  /** First element child of root = the `<html>` node (`tree.rs:169-173`). */
  def htmlRoot: Option[Int] = Some(acc.htmlRoot).filter(_ != -1)
  def body: Sel = selectSingle("html > body")
  def head: Sel = selectSingle("html > head")

  def html: String = Serializer.toHtml(acc, 0, includeRoot = true, tc)
  def innerHtml: String = Serializer.toHtml(acc, 0, includeRoot = false, tc)
  def text: String = acc.subtreeText(0)
  def formattedText: String = Serializer.formattedText(acc, 0, includeRoot = false)
  def mdText: String = Serializer.toMd(acc, 0, includeRoot = false)
  private def tc: Int => Int = id => arena(id).templateContents

  def normalize(): Unit = TreeOps.normalize(arena, 0)
  def validate: Option[String] = TreeOps.validate(arena)
}

object Doc {
  def parse(html: String): Doc = new Doc(HtmlParser.parse(html, fragment = false))
  def fragment(html: String): Doc = new Doc(HtmlParser.parse(html, fragment = true))
}

final class Sel(val doc: Doc, val ids: Seq[Int]) {
  private def acc = doc.acc
  private def a = doc.arena

  // --- Q3-Q11: selection-level query ops ------------------------------------

  /** Sub-select under each selected node; roots never match themselves, and
    * the selector's ancestor compounds may be satisfied ABOVE the roots
    * (`selection.rs:567-641`; `tests/selection-traversal.rs:26-30`;
    * `examples/descendant_elements.rs`). */
  def select(css: String): Sel =
    new Sel(doc, Engine.selectChained(acc, ids, SelectorAst.parseCached(css)).toSeq)

  /** First sub-select match only (`selection.rs` select_single,
    * `tests/selection-traversal.rs:167-175`). */
  def selectSingle(css: String): Sel = {
    val f = Engine.selectChainedFirst(acc, ids, SelectorAst.parseCached(css))
    new Sel(doc, if (f == -1) Nil else Seq(f))
  }

  def filter(css: String): Sel = {
    val list = SelectorAst.parseCached(css)
    new Sel(doc, ids.filter(i => Engine.matches(acc, i, list)))
  }

  def filterSelection(other: Sel): Sel = {
    val s = other.ids.toSet
    new Sel(doc, ids.filter(s))
  }

  /** `nip` is the reference's alias for select (`selection.rs:599-601`). */
  def nip(css: String): Sel = select(css)

  /** None on an invalid selector OR an empty sub-select result
    * (`selection.rs:606-615`). */
  def trySelect(css: String): Option[Sel] =
    graft.css.SelectorAst.tryParse(css)
      .map(l => new Sel(doc, Engine.selectChained(acc, ids, l).toSeq))
      .filter(_.exists)

  /** Empty selection: Some(this); invalid selector: None; otherwise the
    * filtered selection, even when empty (`selection.rs:286-291`). */
  def tryFilter(css: String): Option[Sel] =
    if (ids.isEmpty) Some(this)
    else graft.css.SelectorAst.tryParse(css)
      .map(l => new Sel(doc, ids.filter(i => Engine.matches(acc, i, l))))

  /** Empty selection: the empty clone (reference `add_matcher`,
    * `selection.rs:380-387`, has no first node → no tree root → clone). */
  def add(css: String): Sel =
    if (ids.isEmpty) this else union(doc.select(css))

  /** Empty selection: Some(empty clone) WITHOUT parsing the selector — even
    * an invalid one succeeds (`selection.rs:365-369`); otherwise None on an
    * invalid selector. */
  def tryAdd(css: String): Option[Sel] =
    if (ids.isEmpty) Some(this)
    else graft.css.SelectorAst.tryParse(css)
      .map(l => union(new Sel(doc, graft.css.Engine.select(acc, Seq(0), l).toSeq)))

  /** Either side empty: the other side wins BEFORE the same-tree assert
    * (`selection.rs:400-409` — a cross-tree add with an empty side succeeds);
    * both non-empty from different trees panics
    * (`tests/selection-traversal.rs:418-429`). */
  def addSelection(other: Sel): Sel = {
    if (ids.isEmpty) return other
    if (other.ids.isEmpty) return this
    require(other.doc eq doc, "selections belong to different trees")
    union(other)
  }

  private def union(other: Sel): Sel = {
    val seen = scala.collection.mutable.LinkedHashSet[Int]()
    (ids ++ other.ids).foreach(seen += _)
    new Sel(doc, seen.toSeq)
  }

  def is(css: String): Boolean = {
    val list = SelectorAst.parseCached(css)
    ids.exists(i => Engine.matches(acc, i, list))
  }

  def isSelection(other: Sel): Boolean = ids.toSet.intersect(other.ids.toSet).nonEmpty

  def first: Sel = new Sel(doc, ids.take(1))
  def last: Sel = new Sel(doc, ids.takeRight(1))
  def get(i: Int): Option[Int] = ids.lift(i)
  def length: Int = ids.length
  def exists: Boolean = ids.nonEmpty
  def isEmpty: Boolean = ids.isEmpty

  // --- T1-T8: traversals ------------------------------------------------------

  /** Element children of each node, deduped (`selection.rs:667-687`). */
  def children: Sel = distinctElems(f => ids.foreach(acc.foreachChild(_)(f)))

  def parent: Sel = distinctSel(ids.map(i => a(i).parent).filter(p => p != -1 && a(p).isElement))

  def ancestors(maxDepth: Int = -1): Sel =
    distinctElems(f => ids.foreach(acc.foreachAncestor(_, maxDepth)(f)))

  def nextSibling: Sel = distinctSel(ids.map(acc.nextElemSibling).filter(_ != -1))
  def prevSibling: Sel = distinctSel(ids.map(acc.prevElemSibling).filter(_ != -1))

  private def distinctSel(xs: Seq[Int]): Sel = {
    val seen = scala.collection.mutable.LinkedHashSet[Int]()
    xs.foreach(seen += _)
    new Sel(doc, seen.toSeq)
  }

  /** The element ids a walk yields, deduped in first-seen order. */
  private def distinctElems(walk: (Int => Unit) => Unit): Sel = {
    val seen = scala.collection.mutable.LinkedHashSet[Int]()
    walk(i => if (acc.isElement(i)) seen += i)
    new Sel(doc, seen.toSeq)
  }

  // --- X1-X15: property extraction ---------------------------------------------

  def attr(name: String): Option[String] =
    ids.headOption.flatMap(i => Option(acc.attr(i, name)))
  def attrOr(name: String, default: String): String = attr(name).getOrElse(default)
  def attrs: Seq[(String, String)] =
    ids.headOption.map(i => acc.attrEntries(i)).getOrElse(Nil)
  def hasAttr(name: String): Boolean = ids.headOption.exists(i => acc.hasAttr(i, name))
  def id: Option[String] = attr("id")
  def className: Option[String] = attr("class")
  def hasClass(c: String): Boolean = ids.exists(i => acc.hasClass(i, c))

  /** Concatenated subtree text of ALL selected nodes (`selection.rs:204-206`). */
  def text: String = ids.map(acc.subtreeText).mkString("")
  def immediateText: String = ids.map(acc.immediateText).mkString("")
  def formattedText: String =
    ids.map(i => Serializer.formattedText(acc, i, includeRoot = true)).mkString("")
  def normalizedCharCount: Long = ids.map(acc.normCharCount).sum

  /** HTML of the FIRST selected node (`selection.rs:176-200`). */
  def html: Option[String] =
    ids.headOption.map(i => Serializer.toHtml(acc, i, includeRoot = true, tcf))
  def innerHtml: Option[String] =
    ids.headOption.map(i => Serializer.toHtml(acc, i, includeRoot = false, tcf))
  private def tcf: Int => Int = id => a(id).templateContents

  // --- M*: mutations applied to every selected node -----------------------------

  def remove(): Unit = ids.foreach(i => TreeOps.removeFromParent(a, i))
  def setAttr(k: String, v: String): Unit = ids.foreach(i => TreeOps.setAttr(a, i, k, v))
  def removeAttr(k: String): Unit = ids.foreach(i => TreeOps.removeAttrs(a, i, Seq(k)))
  def removeAttrs(ks: Seq[String]): Unit = ids.foreach(i => TreeOps.removeAttrs(a, i, ks))
  def retainAttrs(ks: Set[String]): Unit = ids.foreach(i => TreeOps.retainAttrs(a, i, ks))
  def removeAllAttrs(): Unit = ids.foreach(i => TreeOps.removeAllAttrs(a, i))
  def addClass(c: String): Unit = ids.foreach(i => TreeOps.addClass(a, i, c))
  def removeClass(c: String): Unit = ids.foreach(i => TreeOps.removeClass(a, i, c))
  def rename(n: String): Unit = ids.foreach(i => TreeOps.rename(a, i, n))
  def setText(t: String): Unit = ids.foreach(i => TreeOps.setText(a, i, t))
  def stripElements(names: Set[String]): Unit = ids.foreach(i => TreeOps.stripElements(a, i, names))

  /** Fragment re-parsed per target, like the reference (`selection.rs:813-818`). */
  def appendHtml(html: String): Unit = ids.foreach(i => TreeOps.appendHtml(a, i, html))
  def prependHtml(html: String): Unit = ids.foreach(i => TreeOps.prependHtml(a, i, html))
  def setHtml(html: String): Unit = ids.foreach(i => TreeOps.setHtml(a, i, html))
  def beforeHtml(html: String): Unit = ids.foreach(i => TreeOps.beforeHtml(a, i, html))
  def afterHtml(html: String): Unit = ids.foreach(i => TreeOps.afterHtml(a, i, html))
  def replaceWithHtml(html: String): Unit = ids.foreach(i => TreeOps.replaceWithHtml(a, i, html))
  def wrapHtml(html: String): Unit = ids.foreach(i => TreeOps.wrapHtml(a, i, html))

  /** Copy the other selection's subtrees into each target (M12,
    * goquery copy semantics, `selection.rs:445-486`). */
  def appendSelection(other: Sel): Unit =
    ids.foreach { t =>
      other.ids.foreach { s =>
        val c = TreeOps.copyNode(a, other.doc.arena, s)
        TreeOps.appendChild(a, t, c)
      }
    }

  def prependSelection(other: Sel): Unit =
    ids.foreach { t =>
      // prepend the copies in reverse so the source's document order is kept
      other.ids.reverse.foreach { s =>
        val c = TreeOps.copyNode(a, other.doc.arena, s)
        TreeOps.prependChild(a, t, c)
      }
    }

  def replaceWithSelection(other: Sel): Unit = {
    // empty source: full no-op — the targets are NOT removed
    // (`selection.rs:445-455` merges nothing and never detaches,
    // `tests/selection-manipulation.rs:279-299`)
    if (other.ids.isEmpty) return
    ids.foreach { t =>
      other.ids.foreach { s =>
        val c = TreeOps.copyNode(a, other.doc.arena, s)
        TreeOps.insertBefore(a, t, c)
      }
      TreeOps.removeFromParent(a, t)
    }
  }
}
