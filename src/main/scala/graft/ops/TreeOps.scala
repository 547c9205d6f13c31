package graft.ops

import graft.model.{Arena, MutNode, NodeKind}
import graft.sources.HtmlParser
import scala.collection.mutable

/**
 * Tree mutation operators (SURVEY.md §2.7 M1-M18, §2.8 C1-C4).
 *
 * All reference mutations go through `TreeNodeOps` (`src/dom_tree/ops.rs`) —
 * this is the equivalent closed write-op inventory, implemented as pointer
 * surgery over the append-only arena. Nodes are never deleted: removal only
 * unlinks pointers and the slot remains (`ops.rs:350-383`), so ids stay
 * stable — exactly the reference's id discipline.
 *
 * In the Spark engine these run inside per-row expressions
 * (`nodes -> nodes'`); the arena here is the per-row working representation.
 */
object TreeOps {

  // --- M2-M7: link surgery ---------------------------------------------------

  /** Unlink `id` from its parent/siblings; node stays in the arena (M7). */
  def removeFromParent(a: Arena, id: Int): Unit = {
    val n = a(id)
    val (p, prev, next) = (n.parent, n.prev, n.next)
    if (p != -1) {
      val par = a(p)
      if (par.firstChild == id) par.firstChild = next
      if (par.lastChild == id) par.lastChild = prev
    }
    if (prev != -1) a(prev).next = next
    if (next != -1) a(next).prev = prev
    n.parent = -1; n.prev = -1; n.next = -1
  }

  /** Link `child` as last child of `parent` (M2, `ops.rs:171-216`). */
  def appendChild(a: Arena, parent: Int, child: Int): Unit = {
    removeFromParent(a, child)
    val p = a(parent)
    val c = a(child)
    c.parent = parent
    if (p.lastChild == -1) { p.firstChild = child; p.lastChild = child }
    else {
      a(p.lastChild).next = child
      c.prev = p.lastChild
      p.lastChild = child
    }
  }

  /** Link `child` as first child of `parent` (M3, `ops.rs:219-241`). */
  def prependChild(a: Arena, parent: Int, child: Int): Unit = {
    removeFromParent(a, child)
    val p = a(parent)
    val c = a(child)
    c.parent = parent
    if (p.firstChild == -1) { p.firstChild = child; p.lastChild = child }
    else {
      a(p.firstChild).prev = child
      c.next = p.firstChild
      p.firstChild = child
    }
  }

  /** Insert `node` as previous sibling of `anchor` (M4, `ops.rs:244-272`). */
  def insertBefore(a: Arena, anchor: Int, node: Int): Unit = {
    removeFromParent(a, node)
    val an = a(anchor)
    val nd = a(node)
    nd.parent = an.parent
    nd.prev = an.prev
    nd.next = anchor
    if (an.prev != -1) a(an.prev).next = node
    else if (an.parent != -1) a(an.parent).firstChild = node
    an.prev = node
  }

  /** Insert `node` as next sibling of `anchor` (M4, `ops.rs:274-299`). */
  def insertAfter(a: Arena, anchor: Int, node: Int): Unit = {
    removeFromParent(a, node)
    val an = a(anchor)
    val nd = a(node)
    nd.parent = an.parent
    nd.next = an.next
    nd.prev = anchor
    if (an.next != -1) a(an.next).prev = node
    else if (an.parent != -1) a(an.parent).lastChild = node
    an.next = node
  }

  /** Splice a sibling chain starting at `first` before/after `anchor`
    * (M5, `ops.rs:302-321`): the node *and its following siblings*. */
  def insertSiblingsBefore(a: Arena, anchor: Int, first: Int): Unit = {
    var cur = first
    while (cur != -1) {
      val next = a(cur).next
      insertBefore(a, anchor, cur)
      cur = next
    }
  }

  def insertSiblingsAfter(a: Arena, anchor: Int, first: Int): Unit = {
    var prevAnchor = anchor
    var cur = first
    while (cur != -1) {
      val next = a(cur).next
      insertAfter(a, prevAnchor, cur)
      prevAnchor = cur
      cur = next
    }
  }

  /** Move a node and its following siblings in as children (M6). */
  def appendChildren(a: Arena, parent: Int, first: Int): Unit = {
    var cur = first
    while (cur != -1) {
      val next = a(cur).next
      appendChild(a, parent, cur)
      cur = next
    }
  }

  def prependChildren(a: Arena, parent: Int, first: Int): Unit = {
    // preserve chain order at the front
    val chain = mutable.ListBuffer[Int]()
    var cur = first
    while (cur != -1) { chain += cur; cur = a(cur).next }
    chain.reverseIterator.foreach(c => prependChild(a, parent, c))
  }

  /** Move all children of `from` to `to` (M8, `ops.rs:386-411`). */
  def reparentChildren(a: Arena, from: Int, to: Int): Unit = {
    val kids = a.childIds(from)
    kids.foreach(k => appendChild(a, to, k))
  }

  def removeChildren(a: Arena, id: Int): Unit =
    a.childIds(id).foreach(k => removeFromParent(a, k))

  /** M9 (`ops.rs:415-438`): element — detach children, add one text child;
    * text node — overwrite contents. */
  def setText(a: Arena, id: Int, text: String): Unit = {
    val n = a(id)
    if (n.isText) n.text = text
    else {
      removeChildren(a, id)
      val t = a.createText(text)
      appendChild(a, id, t)
    }
  }

  // --- M10: *_html family (fragment parse + arena merge + splice) ------------

  /** Merge a parsed fragment into `a`, offset-adjusting ids
    * (≡ `TreeNodeOps::merge_with_fn` + `TreeNode::adjust`,
    * `ops.rs:443-476`, `inner.rs:40-56`): the fragment's 3 scaffold nodes
    * (root, html, stray body — `ops.rs:16`) are skipped; ids shift by
    * `target_len - 3`. Returns the content top-level ids (the scaffold
    * html's children), in order. */
  def mergeFragment(a: Arena, frag: Arena): List[Int] = {
    val offset = a.size
    val skip = 3 // root(0), html(1), stray body(2)
    def adjust(x: Int): Int = if (x < skip) -1 else x - skip + offset
    val tops = frag.childIds(1).map(adjust)
    (skip until frag.size).foreach { i =>
      val src = frag(i)
      val m = src.deepCopyShallow()
      m.parent = if (src.parent == 1) -1 else adjust(src.parent)
      m.prev = adjust(src.prev)
      m.next = adjust(src.next)
      m.firstChild = adjust(src.firstChild)
      m.lastChild = adjust(src.lastChild)
      m.templateContents = adjust(src.templateContents)
      a.nodes += m
    }
    tops
  }

  /** Parsed-fragment memo: the `*_html` ops typically splice a CONSTANT
    * fragment into millions of rows (the reference re-parses per target,
    * `selection.rs:813-818`; we re-parse per ROW without this). The cache
    * is read-only — [[mergeFragment]] deep-copies nodes (attrs maps cloned)
    * so merged trees never alias the cached arena. Bounded: dynamic
    * fragments (per-row HTML) fall through to a plain parse. */
  private val fragCache = new java.util.concurrent.ConcurrentHashMap[String, Arena]()
  private final val FragCacheMax = 256

  def parseAndMerge(a: Arena, html: String): List[Int] = {
    val cached = fragCache.get(html)
    val frag =
      if (cached != null) cached
      else {
        val f = HtmlParser.parseFragment(html)
        if (html.length <= 4096 && fragCache.size < FragCacheMax)
          fragCache.putIfAbsent(html, f)
        f
      }
    mergeFragment(a, frag)
  }

  def appendHtml(a: Arena, target: Int, html: String): Unit =
    parseAndMerge(a, html).foreach(t => appendChild(a, target, t))

  def prependHtml(a: Arena, target: Int, html: String): Unit = {
    val tops = parseAndMerge(a, html)
    tops.reverseIterator.foreach(t => prependChild(a, target, t))
  }

  def setHtml(a: Arena, target: Int, html: String): Unit = {
    removeChildren(a, target)
    appendHtml(a, target, html)
  }

  def beforeHtml(a: Arena, anchor: Int, html: String): Unit =
    parseAndMerge(a, html).foreach(t => insertBefore(a, anchor, t))

  def afterHtml(a: Arena, anchor: Int, html: String): Unit = {
    var prev = anchor
    parseAndMerge(a, html).foreach { t => insertAfter(a, prev, t); prev = t }
  }

  def replaceWithHtml(a: Arena, anchor: Int, html: String): Unit = {
    beforeHtml(a, anchor, html)
    removeFromParent(a, anchor)
  }

  /** Wrap target in the first element of the parsed fragment — the new
    * wrapper takes target's place and target becomes its (deepest first
    * element descendant's) child, matching `wrap_html` semantics
    * (`node_ref.rs:361-375`). */
  def wrapHtml(a: Arena, target: Int, html: String): Unit = {
    val tops = parseAndMerge(a, html)
    tops.find(t => a(t).isElement).foreach { wrapper =>
      insertBefore(a, target, wrapper)
      // descend to deepest first element child
      var host = wrapper
      var fc = firstElementChild(a, host)
      while (fc != -1) { host = fc; fc = firstElementChild(a, host) }
      appendChild(a, host, target)
    }
  }

  def firstElementChild(a: Arena, id: Int): Int = {
    var c = a(id).firstChild
    while (c != -1 && !a(c).isElement) c = a(c).next
    c
  }

  // --- M11-M13 ---------------------------------------------------------------

  def replaceWith(a: Arena, anchor: Int, node: Int): Unit = {
    insertBefore(a, anchor, node)
    removeFromParent(a, anchor)
  }

  /** Wrap target in an existing (detached) element node (M13). */
  def wrapNode(a: Arena, target: Int, wrapper: Int): Unit = {
    insertBefore(a, target, wrapper)
    appendChild(a, wrapper, target)
  }

  /** Remove target, promoting its children into its place (M13 unwrap,
    * `node_ref.rs:379-393`). */
  def unwrapNode(a: Arena, target: Int): Unit = {
    // a parentless node (the root) cannot be unwrapped — reference no-op
    // (`node_ref.rs:379-393` splices into the parent, which must exist)
    if (a(target).parent == -1) return
    val kids = a.childIds(target)
    kids.foreach(k => insertBefore(a, target, k))
    removeFromParent(a, target)
  }

  /** M17 (`node_ref.rs:714-740`): remove named elements promoting children,
    * repeated until no matches remain (nested occurrences). */
  def stripElements(a: Arena, root: Int, names: Set[String]): Unit = {
    var changed = true
    while (changed) {
      changed = false
      val targets = a.descendants(root).filter(i => a(i).isElement && names(a(i).name)).toList
      targets.foreach { t =>
        // node may have been detached by an earlier unwrap this round
        if (a(t).parent != -1) { unwrapNode(a, t); changed = true }
      }
    }
  }

  /** M18 (`node_ref.rs:685-706`): merge adjacent text children, drop empty
    * text nodes, recursively. */
  def normalize(a: Arena, root: Int): Unit = {
    a.preorder(root).toList.foreach { id =>
      var c = a(id).firstChild
      while (c != -1) {
        val next = a(c).next
        val n = a(c)
        if (n.isText) {
          if (n.text == null || n.text.isEmpty) removeFromParent(a, c)
          else if (next != -1 && a(next).isText) {
            a(next).text = n.text + a(next).text
            removeFromParent(a, c)
          }
        }
        c = next
      }
    }
  }

  // --- M14-M16: attribute / class / name writes ------------------------------

  def setAttr(a: Arena, id: Int, key: String, value: String): Unit = {
    val n = a(id)
    if (n.attrs == null) n.attrs = mutable.LinkedHashMap()
    n.attrs(key) = value
  }

  def removeAttrs(a: Arena, id: Int, keys: Seq[String]): Unit = {
    val n = a(id)
    // empty attr names are ignored (tests/selection-property.rs:54-60)
    if (n.attrs != null) keys.filter(_.nonEmpty).foreach(n.attrs.remove)
  }

  def retainAttrs(a: Arena, id: Int, keys: Set[String]): Unit = {
    val n = a(id)
    if (n.attrs != null) n.attrs.filterInPlace { case (k, _) => keys(k) }
  }

  def removeAllAttrs(a: Arena, id: Int): Unit = {
    val n = a(id)
    if (n.attrs != null) n.attrs.clear()
  }

  /** M15 (`node_data.rs:136-177`): whitespace-set semantics with
    * order-preserving dedup. */
  def addClass(a: Arena, id: Int, classes: String): Unit = {
    val n = a(id)
    if (!n.isElement) return
    val incoming = graft.model.AsciiWs.split(classes)
    if (incoming.isEmpty) return // empty class string is a no-op
    // (tests/selection-property.rs:120-125: class attr stays absent)
    val merged = (n.classList ++ incoming).distinct
    setAttr(a, id, "class", merged.mkString(" "))
  }

  def removeClass(a: Arena, id: Int, classes: String): Unit = {
    val n = a(id)
    if (!n.isElement || n.attrs == null || !n.attrs.contains("class")) return
    val rm = graft.model.AsciiWs.split(classes).toSet
    val remaining = n.classList.filterNot(rm)
    setAttr(a, id, "class", remaining.mkString(" "))
  }

  def rename(a: Arena, id: Int, name: String): Unit = {
    val n = a(id)
    if (n.isElement) n.name = name.toLowerCase
  }

  // --- C1-C3: cross-tree copies ----------------------------------------------

  /** Deep-copy the subtree rooted at `srcId` in `src` into `dst`; returns the
    * new root id (C1, `tree.rs:422-479`). Includes template contents. */
  def copyNode(dst: Arena, src: Arena, srcId: Int): Int = {
    val idMap = mutable.HashMap[Int, Int]()
    val order = src.preorder(srcId).toList
    // also collect template-content subtrees
    val extra = mutable.ListBuffer[Int]()
    order.foreach { i =>
      val tc = src(i).templateContents
      if (tc != -1) extra ++= src.preorder(tc)
    }
    val all = order ++ extra
    all.foreach { i =>
      val m = src(i).deepCopyShallow()
      idMap(i) = dst.create(m)
    }
    all.foreach { i =>
      val m = dst(idMap(i))
      def mp(x: Int) = if (x == -1) -1 else idMap.getOrElse(x, -1)
      val s = src(i)
      m.parent = if (i == srcId) -1 else mp(s.parent)
      m.prev = if (i == srcId) -1 else mp(s.prev)
      m.next = if (i == srcId) -1 else mp(s.next)
      m.firstChild = mp(s.firstChild)
      m.lastChild = mp(s.lastChild)
      m.templateContents = mp(s.templateContents)
    }
    idMap(srcId)
  }

  /** Clone a subtree as a standalone fragment arena (C3, `node_ref.rs:743-767`). */
  def toFragment(src: Arena, srcId: Int): Arena = {
    // the root or the <html> element clone the WHOLE tree
    // (`node_ref.rs:744-749` returns `tree.clone()`)
    if (srcId == 0 || (src(srcId).isElement && src(srcId).name == "html")) {
      val out = new Arena
      src.nodes.foreach { s =>
        val m = s.deepCopyShallow()
        m.parent = s.parent
        m.prev = s.prev
        m.next = s.next
        m.firstChild = s.firstChild
        m.lastChild = s.lastChild
        out.nodes += m
      }
      return out
    }
    // otherwise build the parser's fragment scaffold — root(0), html(1),
    // detached stray body(2) — and hang the clone under <html>
    // (`node_ref.rs:751-766`; layout matches parseFragment so merge/select
    // treat constructed and parsed fragments identically)
    val out = new Arena
    out.create(new MutNode(NodeKind.Fragment))
    val html = out.createElement("html")
    appendChild(out, 0, html)
    out.createElement("body") // stray, stays detached (parser layout parity)
    val newRoot = copyNode(out, src, srcId)
    appendChild(out, html, newRoot)
    out
  }

  // --- C4: structural validation oracle ---------------------------------------

  /** Full structural integrity check (C4, `src/dom_tree/validation.rs:39-206`):
    * returns None if valid, Some(message) describing the first violation.
    * Used as the property-test oracle after every mutation. */
  def validate(a: Arena): Option[String] = {
    val n = a.size
    if (n == 0) return Some("empty arena")
    if (a(0).parent != -1) return Some("root has a parent")
    var i = 0
    while (i < n) {
      val nd = a(i)
      def chk(x: Int, what: String): Option[String] =
        if (x != -1 && (x < 0 || x >= n)) Some(s"node $i: invalid $what id $x") else None
      val bad = chk(nd.parent, "parent").orElse(chk(nd.prev, "prev"))
        .orElse(chk(nd.next, "next")).orElse(chk(nd.firstChild, "first_child"))
        .orElse(chk(nd.lastChild, "last_child"))
      if (bad.isDefined) return bad
      // sibling link consistency
      if (nd.next != -1 && a(nd.next).prev != i) return Some(s"node $i: next.prev mismatch")
      if (nd.prev != -1 && a(nd.prev).next != i) return Some(s"node $i: prev.next mismatch")
      if (nd.next != -1 && a(nd.next).parent != nd.parent) return Some(s"node $i: next sibling parent mismatch")
      // child list consistency
      if (nd.firstChild != -1) {
        if (a(nd.firstChild).parent != i) return Some(s"node $i: first_child parent mismatch")
        if (a(nd.firstChild).prev != -1) return Some(s"node $i: first_child has prev")
      }
      if (nd.lastChild != -1) {
        if (a(nd.lastChild).parent != i) return Some(s"node $i: last_child parent mismatch")
        if (a(nd.lastChild).next != -1) return Some(s"node $i: last_child has next")
      }
      if ((nd.firstChild == -1) != (nd.lastChild == -1)) return Some(s"node $i: half-open child list")
      // children's parent pointers
      var c = nd.firstChild
      var steps = 0
      while (c != -1) {
        if (a(c).parent != i) return Some(s"node $i: child $c parent mismatch")
        c = a(c).next
        steps += 1
        if (steps > n) return Some(s"node $i: sibling cycle")
      }
      i += 1
    }
    // parent-chain cycle detection
    i = 0
    while (i < n) {
      var p = a(i).parent
      var steps = 0
      while (p != -1) {
        p = a(p).parent
        steps += 1
        if (steps > n) return Some(s"node $i: parent cycle")
      }
      i += 1
    }
    None
  }
}
