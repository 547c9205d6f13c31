package graft.css

import graft.model.Arena
import scala.collection.mutable

/**
 * Abstract read view over a document's node array, so the same matcher runs
 * over the Scala arena (tests, mutation ops) and over Spark InternalRow data
 * (the Catalyst expression in [[graft.expr]]) without conversion.
 * Pointer fields use -1 for "none".
 */
trait NodeAccess {
  def size: Int
  def kind(i: Int): String
  def name(i: Int): String
  def text(i: Int): String
  def attr(i: Int, key: String): String // null if absent
  def hasAttr(i: Int, key: String): Boolean
  def parent(i: Int): Int
  def prevSibling(i: Int): Int
  def nextSibling(i: Int): Int
  def firstChild(i: Int): Int
  def lastChild(i: Int): Int
  /** Stored element namespace ("html" | "svg" | "math") — state carried per
    * element like the reference's QualName (`src/node/node_data.rs:64`), so
    * serialization/void rules survive cross-namespace reparenting. */
  def ns(i: Int): String = "html"

  // --- derived helpers (pointer walks; always correct, even post-mutation) ---
  // overridable so columnar views can compare kind bytes without allocating
  def isElement(i: Int): Boolean = kind(i) == "element"
  def isText(i: Int): Boolean = kind(i) == "text"
  /** `name(i) == tag` — overridable so columnar views compare UTF8 bytes
    * without materializing a String per node visit (r6, selector hot path). */
  def nameIs(i: Int, tag: String): Boolean = name(i) == tag
  /** `attr(i, key) == value` for non-null value — same rationale. */
  def attrIs(i: Int, key: String, value: String): Boolean = attr(i, key) == value

  final def prevElemSibling(i: Int): Int = {
    var p = prevSibling(i)
    while (p != -1 && !isElement(p)) p = prevSibling(p)
    p
  }
  final def nextElemSibling(i: Int): Int = {
    var p = nextSibling(i)
    while (p != -1 && !isElement(p)) p = nextSibling(p)
    p
  }
  /** 1-based position among element siblings (reference sibling walks skip
    * non-elements, `src/node/selector.rs:59-67`). */
  final def elemPos(i: Int): Int = {
    var c = 1; var p = prevElemSibling(i)
    while (p != -1) { c += 1; p = prevElemSibling(p) }
    c
  }
  final def elemPosFromEnd(i: Int): Int = {
    var c = 1; var p = nextElemSibling(i)
    while (p != -1) { c += 1; p = nextElemSibling(p) }
    c
  }
  final def typePos(i: Int): Int = {
    val nm = name(i)
    var c = 1; var p = prevElemSibling(i)
    while (p != -1) { if (name(p) == nm) c += 1; p = prevElemSibling(p) }
    c
  }
  final def typePosFromEnd(i: Int): Int = {
    val nm = name(i)
    var c = 1; var p = nextElemSibling(i)
    while (p != -1) { if (name(p) == nm) c += 1; p = nextElemSibling(p) }
    c
  }
  def hasClass(i: Int, cls: String): Boolean = {
    val v = attr(i, "class")
    if (v == null || v.isEmpty) return false
    // whitespace-split contains (reference has_class_bytes, node_data.rs:126-133)
    var start = 0
    val n = v.length
    while (start < n) {
      while (start < n && isSelWs(v.charAt(start))) start += 1
      var end = start
      while (end < n && !isSelWs(v.charAt(end))) end += 1
      if (end > start && end - start == cls.length && v.regionMatches(start, cls, 0, cls.length))
        return true
      start = end
    }
    false
  }
  private def isSelWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  // --- read walks: the one implementation behind api/Doc, the Catalyst
  //     expressions, the serializer and `:contains`. They yield raw ids;
  //     callers apply their own element filters and dedup rules. ---

  /** Push `i`'s children so that pops come out first-to-last. */
  private[css] final def pushChildrenReversed(i: Int, st: IntStack): Unit = {
    var c = lastChild(i)
    while (c != -1) { st.push(c); c = prevSibling(c) }
  }

  /** Preorder visit of `root`'s subtree, `root` included (reference
    * `DescendantNodes`, `src/node/iters.rs:142-200`). */
  final def foreachPreorder(root: Int)(f: Int => Unit): Unit = {
    val st = new IntStack()
    st.push(root)
    while (st.nonEmpty) {
      val cur = st.pop()
      f(cur)
      pushChildrenReversed(cur, st)
    }
  }

  /** Text nodes of `root`'s subtree in document order (`ops.rs:32-47`). */
  final def foreachSubtreeText(root: Int)(f: Int => Unit): Unit =
    foreachPreorder(root)(i => if (isText(i)) f(i))

  /** `id` itself when it is text, then its text children (`ops.rs:85-99`). */
  final def foreachImmediateText(id: Int)(f: Int => Unit): Unit = {
    if (isText(id)) f(id)
    foreachChild(id)(c => if (isText(c)) f(c))
  }

  /** Child ids of any kind, in order (reference `ChildNodes`,
    * `src/node/iters.rs:64-94`). */
  final def foreachChild(id: Int)(f: Int => Unit): Unit = {
    var c = firstChild(id)
    while (c != -1) { f(c); c = nextSibling(c) }
  }

  /** Ancestor ids nearest-first, the document node included; at most
    * `maxDepth` of them, `maxDepth <= 0` = unbounded (reference
    * `AncestorNodes`, `src/node/iters.rs:96-140`). */
  final def foreachAncestor(id: Int, maxDepth: Int)(f: Int => Unit): Unit = {
    var p = parent(id)
    var d = 0
    while (p != -1 && (maxDepth <= 0 || d < maxDepth)) { f(p); d += 1; p = parent(p) }
  }

  /** Concatenated subtree text. */
  final def subtreeText(root: Int): String = joinText(foreachSubtreeText(root))
  /** Own + direct-children text only. */
  final def immediateText(id: Int): String = joinText(foreachImmediateText(id))
  private def joinText(visit: (Int => Unit) => Unit): String = {
    val sb = new java.lang.StringBuilder
    visit { i => val t = text(i); if (t != null) sb.append(t) }
    sb.toString
  }

  /** Whitespace-normalized char count of the subtree text, streamed without
    * materializing it (reference `ops.rs:66-82`, `dom_tree/helpers.rs:1-13`). */
  final def normCharCount(root: Int): Long = {
    var count = 0L
    var lastWasWs = true // leading whitespace is skipped
    foreachSubtreeText(root) { i =>
      val t = text(i)
      if (t != null) {
        var k = 0
        while (k < t.length) {
          val ch = t.charAt(k)
          // Unicode White_Space (Rust char::is_whitespace includes U+00A0)
          val ws = Character.isWhitespace(ch) || Character.isSpaceChar(ch)
          if (!(lastWasWs && ws)) count += 1
          lastWasWs = ws
          k += 1
        }
      }
    }
    if (lastWasWs && count > 0) count -= 1 // trailing normalized space doesn't count
    count
  }

  /** First element child of the root = the `<html>` node, -1 when there is
    * none (reference `tree.rs:169-173`). */
  final def htmlRoot: Int = {
    if (size == 0) return -1
    var c = firstChild(0)
    while (c != -1 && !isElement(c)) c = nextSibling(c)
    c
  }

  /** The `html > head > base[href]` node, -1 when there is none
    * (F5, `tree.rs:86-95`). */
  final def baseUriNode: Int =
    if (size == 0) -1 else Engine.selectFirst(this, Seq(0), NodeAccess.baseUriPlan)
}

object NodeAccess {
  private lazy val baseUriPlan = SelectorAst.parse("html > head > base[href]")
}

final class ArenaAccess(a: Arena) extends NodeAccess with graft.sources.AttrIterable {
  def attrEntries(id: Int): Seq[(String, String)] = {
    val at = a(id).attrs
    if (at == null) Nil else at.toSeq
  }
  def templateContents(id: Int): Int = a(id).templateContents
  def size: Int = a.size
  def kind(i: Int): String = a(i).kind
  def name(i: Int): String = a(i).name
  def text(i: Int): String = a(i).text
  def attr(i: Int, key: String): String = a(i).attrOrNull(key)
  def hasAttr(i: Int, key: String): Boolean = a(i).attrOrNull(key) != null
  def parent(i: Int): Int = a(i).parent
  def prevSibling(i: Int): Int = a(i).prev
  def nextSibling(i: Int): Int = a(i).next
  def firstChild(i: Int): Int = a(i).firstChild
  def lastChild(i: Int): Int = a(i).lastChild
  override def ns(i: Int): String = a(i).ns
}

/**
 * Selector evaluation: descending, set-at-a-time (the reference's own data
 * shows this beats ascending per-candidate matching ~5× —
 * `dom-query-bench/README.md:17`, architecture from
 * `src/mini_selector/extension.rs:34-93`), but *without* the mini engine's
 * descent pruning so results carry full selectors-crate / CSS semantics.
 */
/** Allocation-free int stack for the hot DFS walks. */
private[graft] final class IntStack(initial: Int = 64) {
  private var arr = new Array[Int](initial)
  private var n = 0
  def push(x: Int): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = x; n += 1
  }
  def pop(): Int = { n -= 1; arr(n) }
  def nonEmpty: Boolean = n > 0
  def clear(): Unit = n = 0
}

object Engine {
  import SelectorAst._

  /** All strict descendants of `roots` matching the selector list, in
    * document order (Q1/Q3). Roots themselves never match
    * (`tests/selection-traversal.rs:26-30`). */
  def select(acc: NodeAccess, roots: Seq[Int], list: List[Complex]): Array[Int] = {
    val matched = new java.util.BitSet(acc.size)
    list.foreach { cx => selectComplex(acc, roots, cx, matched) }
    orderByDocument(acc, roots, matched)
  }

  /** Chained sub-select (Q3): strict descendants of the roots matched with
    * the reference's ASCENDING semantics — the selector's ancestor compounds
    * may be satisfied ABOVE the sub-root (`examples/descendant_elements.rs`:
    * `uls.select("body ul.list-b li")` finds the li even though `body` sits
    * above the ul roots; the selectors-crate Matches iterator walks the full
    * ancestor chain). Roots themselves never match. From the document root
    * this coincides with the descending evaluation (nothing exists above
    * the root), so `select` keeps the faster set-at-a-time path there and
    * for :has anchoring. */
  def selectChained(acc: NodeAccess, roots: Seq[Int], list: List[Complex]): Array[Int] = {
    if (roots == Seq(0)) return select(acc, roots, list)
    val matched = new java.util.BitSet(acc.size)
    val seen = new java.util.BitSet(acc.size)
    val walk = new IntStack()
    roots.foreach { r =>
      walk.clear()
      acc.pushChildrenReversed(r, walk)
      while (walk.nonEmpty) {
        val cur = walk.pop()
        if (!seen.get(cur)) {
          seen.set(cur)
          if (acc.isElement(cur) && matches(acc, cur, list)) matched.set(cur)
          acc.pushChildrenReversed(cur, walk)
        }
      }
    }
    orderByDocument(acc, roots, matched)
  }

  /** First chained match in document order (early exit). */
  def selectChainedFirst(acc: NodeAccess, roots: Seq[Int], list: List[Complex]): Int = {
    if (roots == Seq(0)) return selectFirst(acc, roots, list)
    val seen = new java.util.BitSet(acc.size)
    val walk = new IntStack()
    var res = -1
    roots.foreach { r =>
      if (res == -1) {
        walk.clear()
        acc.pushChildrenReversed(r, walk)
        while (res == -1 && walk.nonEmpty) {
          val cur = walk.pop()
          if (!seen.get(cur)) {
            seen.set(cur)
            if (acc.isElement(cur) && matches(acc, cur, list)) res = cur
            else acc.pushChildrenReversed(cur, walk)
          }
        }
      }
    }
    res
  }

  /** Name-path `find` with descent pruning (F1): at every non-final path
    * step the walk does NOT descend into a matched node; at the final step
    * it does (reference `dom_tree/traversal.rs:90-138`). This differs from
    * CSS descendant select on nested same-name matches — `find(["div","div"])`
    * skips grandchildren of an outer matched div. */
  def findByNames(acc: NodeAccess, roots: Seq[Int], path: Seq[String]): Array[Int] = {
    var frontier: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer(roots: _*)
    var step = 0
    while (step < path.length && frontier.nonEmpty) {
      val name = path(step)
      val isLast = step == path.length - 1
      val next = new mutable.ArrayBuffer[Int]()
      def collect(cur: Int): Unit = {
        var c = acc.firstChild(cur)
        while (c != -1) {
          if (acc.isElement(c)) {
            val matched = acc.name(c) == name
            if (matched) next += c
            if (!matched || isLast) collect(c)
          }
          c = acc.nextSibling(c)
        }
      }
      frontier.foreach(collect)
      frontier = next
      step += 1
    }
    frontier.toArray
  }

  /** First match only (Q2) — document-order first. From the document root
    * this is a lazy preorder scan with ascending matching that stops at the
    * first hit (the reference's `Matches` iterator semantics) — for early
    * matches it does a small fraction of the full select's work. From
    * sub-roots it falls back to the full descending select (ascending
    * matching would let the leftmost compound match ABOVE the sub-root). */
  def selectFirst(acc: NodeAccess, roots: Seq[Int], list: List[Complex]): Int = {
    if (roots == Seq(0)) {
      val stack = new IntStack()
      acc.pushChildrenReversed(0, stack)
      while (stack.nonEmpty) {
        val cur = stack.pop()
        if (acc.isElement(cur) && matches(acc, cur, list)) return cur
        acc.pushChildrenReversed(cur, stack)
      }
      -1
    } else {
      val all = select(acc, roots, list)
      if (all.isEmpty) -1 else all(0)
    }
  }

  /** Does node `i` itself match any selector in the list (Q4/Q8 `is`)? */
  def matches(acc: NodeAccess, i: Int, list: List[Complex]): Boolean =
    list.exists(cx => matchesComplex(acc, i, cx))

  // --- descending complex evaluation --------------------------------------

  private def selectComplex(acc: NodeAccess, roots: Seq[Int], cx: Complex,
      out: java.util.BitSet): Unit = {
    var frontier = new java.util.BitSet(acc.size)
    roots.foreach(frontier.set)
    val walk = new IntStack()
    cx.steps.foreach { case (comb, compound) =>
      val next = new java.util.BitSet(acc.size)
      comb match {
        case Descendant =>
          // visit strict descendants of every frontier node, dedup via seen
          val seen = new java.util.BitSet(acc.size)
          var f = frontier.nextSetBit(0)
          while (f >= 0) {
            walk.clear()
            acc.pushChildrenReversed(f, walk)
            while (walk.nonEmpty) {
              val cur = walk.pop()
              if (!seen.get(cur)) {
                seen.set(cur)
                if (acc.isElement(cur) && matchCompound(acc, cur, compound)) next.set(cur)
                acc.pushChildrenReversed(cur, walk)
              }
            }
            f = frontier.nextSetBit(f + 1)
          }
        case Child =>
          var f = frontier.nextSetBit(0)
          while (f >= 0) {
            var c = acc.firstChild(f)
            while (c != -1) {
              if (acc.isElement(c) && matchCompound(acc, c, compound)) next.set(c)
              c = acc.nextSibling(c)
            }
            f = frontier.nextSetBit(f + 1)
          }
        case Adjacent =>
          var f = frontier.nextSetBit(0)
          while (f >= 0) {
            val s = acc.nextElemSibling(f)
            if (s != -1 && matchCompound(acc, s, compound)) next.set(s)
            f = frontier.nextSetBit(f + 1)
          }
        case Sibling =>
          var f = frontier.nextSetBit(0)
          while (f >= 0) {
            var s = acc.nextElemSibling(f)
            while (s != -1) {
              if (matchCompound(acc, s, compound)) next.set(s)
              s = acc.nextElemSibling(s)
            }
            f = frontier.nextSetBit(f + 1)
          }
      }
      frontier = next
    }
    out.or(frontier)
  }


  /** Order a matched bitset by document order: preorder walk from each root.
    * For preorder-numbered trees this equals ascending id order, but after
    * mutations ids are stable while order changes — walk the pointers. */
  private def orderByDocument(acc: NodeAccess, roots: Seq[Int],
      matched: java.util.BitSet): Array[Int] = {
    if (matched.isEmpty) return Array.empty
    val total = matched.cardinality()
    val out = new Array[Int](total)
    var n = 0
    val emitted = new java.util.BitSet(acc.size)
    val stack = new IntStack()
    roots.foreach { r =>
      stack.clear()
      acc.pushChildrenReversed(r, stack)
      while (stack.nonEmpty && n < total) {
        val cur = stack.pop()
        if (matched.get(cur) && !emitted.get(cur)) { emitted.set(cur); out(n) = cur; n += 1 }
        acc.pushChildrenReversed(cur, stack)
      }
    }
    if (n == total) out else java.util.Arrays.copyOf(out, n)
  }

  // --- ascending single-node matching (for `is`/`filter` and combinators
  //     inside :not/:is arguments) ------------------------------------------

  def matchesComplex(acc: NodeAccess, i: Int, cx: Complex): Boolean = {
    // match rightmost compound on i, then walk left
    val steps = cx.stepsReversed
    if (!acc.isElement(i) || !matchCompound(acc, i, steps.head._2)) return false
    matchesLeft(acc, i, steps.head._1, steps.tail)
  }

  private def matchesLeft(acc: NodeAccess, i: Int, combToLeft: Combinator,
      rest: List[(Combinator, Compound)]): Boolean = {
    if (rest.isEmpty) return true // leftmost: scope relation unconstrained here
    val (nextComb, compound) = rest.head
    combToLeft match {
      case Child =>
        val p = acc.parent(i)
        p != -1 && acc.isElement(p) && matchCompound(acc, p, compound) &&
          matchesLeft(acc, p, nextComb, rest.tail)
      case Descendant =>
        var p = acc.parent(i)
        while (p != -1) {
          if (acc.isElement(p) && matchCompound(acc, p, compound) &&
              matchesLeft(acc, p, nextComb, rest.tail)) return true
          p = acc.parent(p)
        }
        false
      case Adjacent =>
        val s = acc.prevElemSibling(i)
        s != -1 && matchCompound(acc, s, compound) && matchesLeft(acc, s, nextComb, rest.tail)
      case Sibling =>
        var s = acc.prevElemSibling(i)
        while (s != -1) {
          if (matchCompound(acc, s, compound) && matchesLeft(acc, s, nextComb, rest.tail))
            return true
          s = acc.prevElemSibling(s)
        }
        false
    }
  }

  // --- compound matching ----------------------------------------------------

  def matchCompound(acc: NodeAccess, i: Int, c: Compound): Boolean = {
    c.tag match {
      // lowered form matches HTML-ns (lowercase) names; tagExact carries the
      // selector's original case for adjusted foreign names (foreignObject)
      case Some(t) =>
        if (!acc.nameIs(i, t) &&
            !c.tagExact.exists(acc.nameIs(i, _))) return false
      case None =>
    }
    c.preds.forall(p => matchPred(acc, i, p))
  }

  private def nthMatches(pos: Int, a: Int, b: Int): Boolean = {
    // ∃ k ≥ 0 : pos = a*k + b
    if (a == 0) pos == b
    else if (a > 0) pos >= b && (pos - b) % a == 0
    else pos <= b && (b - pos) % (-a) == 0
  }

  private def matchPred(acc: NodeAccess, i: Int, p: Pred): Boolean = p match {
    case PId(v) => acc.attrIs(i, "id", v)
    case PClass(v) => acc.hasClass(i, v)
    case PAttrExists(k) => acc.hasAttr(i, k)
    case PAttr(k, op, v, ci) =>
      val ev = acc.attr(i, k)
      // Locale.ROOT: ASCII-stable folding (default-locale toLowerCase turns
      // 'I' into dotless ı under tr_TR — selector semantics must not vary
      // by platform)
      ev != null && (if (ci) attrOpMatch(ev.toLowerCase(java.util.Locale.ROOT), op,
                       v.toLowerCase(java.util.Locale.ROOT))
                     else attrOpMatch(ev, op, v))
    case PNth(a, b, fromEnd, ofType) =>
      val pos =
        if (!fromEnd && !ofType) acc.elemPos(i)
        else if (fromEnd && !ofType) acc.elemPosFromEnd(i)
        else if (!fromEnd) acc.typePos(i)
        else acc.typePosFromEnd(i)
      // only elements with a parent element/container participate
      acc.parent(i) != -1 && nthMatches(pos, a, b)
    case POnlyChild =>
      acc.parent(i) != -1 && acc.prevElemSibling(i) == -1 && acc.nextElemSibling(i) == -1
    case POnlyOfType =>
      acc.parent(i) != -1 && acc.typePos(i) == 1 && acc.typePosFromEnd(i) == 1
    case PEmpty => isEmptyElement(acc, i)
    case PRoot =>
      // :root matches the element whose parent is the document node
      // (reference maps is_root → parent is_document, selector.rs:212-214)
      val par = acc.parent(i)
      par != -1 && (acc.kind(par) == "document" || acc.kind(par) == "fragment")
    case PAnyLink =>
      (acc.nameIs(i, "a") || acc.nameIs(i, "area") || acc.nameIs(i, "link")) &&
        acc.hasAttr(i, "href")
    case PNot(list) => !list.exists(cx => matchesComplex(acc, i, cx))
    case PIs(list) => list.exists(cx => matchesComplex(acc, i, cx))
    case PHas(list) =>
      // Relative selector anchored at i (`:has(> a)`, `:has(+ p)`):
      // the leading combinator of each complex encodes the relation to the
      // anchor, and selectComplex applies exactly that relation from the
      // root set — so evaluating from roots = {i} is the full semantics.
      list.exists { cx => select(acc, Seq(i), List(cx)).nonEmpty }
    case PHasText(s) =>
      // node or descendants contain a *single text node* containing s
      // (node_ref.rs:628-640)
      subtreeExists(acc, i, j => acc.isText(j) && acc.text(j) != null && acc.text(j).contains(s))
    case PContains(s) =>
      // merged subtree text contains s (selector.rs:144)
      acc.subtreeText(i).contains(s)
    case POnlyText =>
      // exactly one child, and it is a non-empty text node (node_ref.rs:643-659)
      val fc = acc.firstChild(i)
      fc != -1 && acc.nextSibling(fc) == -1 && acc.isText(fc) &&
        acc.text(fc) != null && acc.text(fc).trim.nonEmpty
    case PFalse => false
  }

  def attrOpMatch(ev: String, op: AttrOp, v: String): Boolean = op match {
    // selectors-crate semantics (`AttrSelectorOperation::eval_str`): `=` and
    // `|=` compare empty strings ([k=""] matches <input k="">); the
    // substring-family operators never match an empty selector value
    case AEquals => ev == v
    case AIncludes => v.nonEmpty && graft.model.AsciiWs.containsToken(ev, v)
    case ADashMatch => ev == v || (ev.startsWith(v) && ev.length > v.length && ev.charAt(v.length) == '-')
    case APrefix => v.nonEmpty && ev.startsWith(v)
    case ASuffix => v.nonEmpty && ev.endsWith(v)
    case ASubstring => v.nonEmpty && ev.contains(v)
  }

  def isEmptyElement(acc: NodeAccess, i: Int): Boolean = {
    // element without element children and without non-blank text
    // (node_ref.rs:665-680)
    if (!acc.isElement(i)) return false
    var c = acc.firstChild(i)
    while (c != -1) {
      if (acc.isElement(c)) return false
      if (acc.isText(c) && acc.text(c) != null && acc.text(c).exists(!_.isWhitespace)) return false
      c = acc.nextSibling(c)
    }
    true
  }

  def subtreeExists(acc: NodeAccess, root: Int, pred: Int => Boolean): Boolean = {
    val stack = new IntStack()
    stack.push(root)
    while (stack.nonEmpty) {
      val cur = stack.pop()
      if (pred(cur)) return true
      acc.pushChildrenReversed(cur, stack)
    }
    false
  }
}
