package graft.model

import scala.collection.mutable

/** Canonical interchange span (BASELINE.json input_hint): one row of the
  * preorder-flattened document. `offset` == preorder position. */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** The canonical input-table row: `docs(doc_id, spans)`. */
case class DocRow(doc_id: String, spans: Seq[Span])

/** Allocation-conscious ASCII-whitespace (space \t \n \r \f — the HTML spec
  * set) string utilities shared by class-list handling and `[attr~=]`
  * matching; `String.split(regex)` compiles a Pattern per call. */
object AsciiWs {
  @inline def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Non-empty whitespace-separated tokens. */
  def split(s: String): Array[String] = {
    var count = 0
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) { count += 1; while (i < n && !isWs(s.charAt(i))) i += 1 }
    }
    val out = new Array[String](count)
    var k = 0
    i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val j = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > j) { out(k) = s.substring(j, i); k += 1 }
    }
    out
  }

  /** Does any whitespace-separated token of `s` equal `tok`? (the `[attr~=]`
    * / has-class test without materializing the token array) */
  def containsToken(s: String, tok: String): Boolean = {
    if (tok.isEmpty) return false
    val n = s.length
    val m = tok.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val j = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i - j == m && s.regionMatches(j, tok, 0, m)) return true
    }
    false
  }
}

object NodeKind {
  val Document = "document"
  val Fragment = "fragment"
  val Doctype = "doctype"
  val Element = "element"
  val Text = "text"
  val Comment = "comment"
  val Pi = "pi"
}

/**
 * Mutable arena node — the engine-internal working representation used by the
 * parser, the selector engine and the mutation ops. Mirrors the reference
 * `TreeNode` (`src/node/inner.rs:8-23`): five pointers + tagged payload.
 */
final class MutNode(
    var kind: String,
    var name: String = null,
    var text: String = null,
    var mediaRef: String = null
) {
  var attrs: mutable.LinkedHashMap[String, String] = null // null for non-elements
  /** element namespace ("html" | "svg" | "math"); ignored for non-elements */
  var ns: String = "html"
  var parent: Int = -1
  var prev: Int = -1
  var next: Int = -1
  var firstChild: Int = -1
  var lastChild: Int = -1
  var templateContents: Int = -1

  def isElement: Boolean = kind == NodeKind.Element
  def isText: Boolean = kind == NodeKind.Text

  def attr(key: String): Option[String] =
    if (attrs == null) None else attrs.get(key)

  /** Allocation-free attr lookup for the selector hot path (r6): `attr`
    * builds an Option per call, and [[graft.css.ArenaAccess]] sits under
    * every per-document select/hasAttr check of the micro bench. */
  def attrOrNull(key: String): String =
    if (attrs == null) null else attrs.getOrElse(key, null)

  def classList: Seq[String] = {
    // manual ASCII-whitespace split (space \t \n \r \f, the HTML spec set) -
    // String.split(regex) compiled a Pattern per ELEMENT here (a top leaf of
    // the ingest-conversion profile)
    val s = if (attrs == null) null else attrs.getOrElse("class", null)
    if (s == null) return Nil
    var out: List[String] = Nil
    var i = s.length - 1
    var end = -1
    while (i >= 0) {
      val c = s.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
      if (ws) {
        if (end != -1) { out = s.substring(i + 1, end) :: out; end = -1 }
      } else if (end == -1) end = i + 1
      i -= 1
    }
    if (end != -1) out = s.substring(0, end) :: out
    out
  }

  def deepCopyShallow(): MutNode = {
    val n = new MutNode(kind, name, text, mediaRef)
    if (attrs != null) n.attrs = attrs.clone()
    n.ns = ns
    n.templateContents = templateContents
    n
  }
}

/**
 * Arena of tree nodes: append-only Vec semantics — node ids are stable, removal
 * only unlinks pointers (reference `src/dom_tree/ops.rs:350-383`, "The node
 * remains in the tree"). All mutation operators live in [[graft.ops.TreeOps]].
 */
final class Arena {
  val nodes = new mutable.ArrayBuffer[MutNode]()

  /** Parse errors recorded by the tree builder (reference `Document.errors`,
    * `src/document.rs:22-32`); empty for programmatically-built arenas. */
  var errors: List[String] = Nil
  /** no-quirks | quirks | limited-quirks (reference `Document.quirks_mode`). */
  var quirksMode: String = "no-quirks"

  def apply(id: Int): MutNode = nodes(id)
  def size: Int = nodes.length

  /** Append a node to the arena — id = current length (`ops.rs:164-168`). */
  def create(n: MutNode): Int = { nodes += n; nodes.length - 1 }

  def createElement(name: String, attrs: Seq[(String, String)] = Nil,
      ns: String = "html"): Int = {
    val n = new MutNode(NodeKind.Element, name)
    n.attrs = mutable.LinkedHashMap(attrs: _*)
    n.ns = ns
    create(n)
  }

  def createText(contents: String): Int = create(new MutNode(NodeKind.Text, text = contents))

  def childIds(id: Int): List[Int] = {
    val buf = mutable.ListBuffer[Int]()
    var c = nodes(id).firstChild
    while (c != -1) { buf += c; c = nodes(c).next }
    buf.toList
  }

  def root: Int = 0

  /** Preorder walk of the subtree rooted at `id` (inclusive), by pointers —
    * matches reference `DescendantNodes` (`src/node/iters.rs:142-200`). */
  def preorder(id: Int): Iterator[Int] = new Iterator[Int] {
    private var stack = List(id)
    def hasNext: Boolean = stack.nonEmpty
    def next(): Int = {
      val cur = stack.head
      stack = stack.tail
      // push children in reverse so leftmost pops first
      var kids: List[Int] = Nil
      var c = nodes(cur).firstChild
      while (c != -1) { kids = c :: kids; c = nodes(c).next }
      stack = kids reverse_::: stack
      cur
    }
  }

  /** Descendants of `id` (exclusive of `id` itself), document order. */
  def descendants(id: Int): Iterator[Int] = preorder(id).drop(1)

  /** Derived structural columns, computed in one pass by
    * [[graft.spark.NodeSchema.arenaToArrayData]] (contract on
    * [[graft.spark.NodeSchema.nodeStruct]]). */
  final class Derived(n: Int) {
    val depth = Array.fill(n)(-1)
    val subtreeEnd = Array.tabulate(n)(identity)
    val elemPos = new Array[Int](n)
    val elemPosEnd = new Array[Int](n)
    val typePos = new Array[Int](n)
    val nElemChildren = new Array[Int](n)
    val prevElem = Array.fill(n)(-1)
    val nextElem = Array.fill(n)(-1)
  }

  def computeDerived: Derived = {
    val n = nodes.length
    val d = new Derived(n)
    import d._

    // depth + subtree_end over every attached tree (root 0 plus any template
    // fragments referenced via templateContents; detached nodes keep -1).
    // Flat int-array DFS (no List/tuple allocation — this pass runs once per
    // parsed document and was ~30% of the ingest-conversion profile): depth
    // comes from the parent's already-filled slot, subtree_end folds
    // bottom-up over the recorded preorder.
    val order = new Array[Int](n)
    val stack = new Array[Int](n)
    def walk(rootId: Int, rootDepth: Int): Unit = {
      var top = 0
      var len = 0
      stack(top) = rootId
      top += 1
      depth(rootId) = rootDepth
      while (top > 0) {
        top -= 1
        val id = stack(top)
        order(len) = id
        len += 1
        // push children in reverse so leftmost pops first
        var c = nodes(id).lastChild
        val dd = depth(id) + 1
        while (c != -1) {
          depth(c) = dd
          stack(top) = c
          top += 1
          c = nodes(c).prev
        }
      }
      // reverse preorder: children are processed before their parent
      var i = len - 1
      while (i >= 0) {
        val id = order(i)
        var m = id
        var c = nodes(id).firstChild
        while (c != -1) {
          if (subtreeEnd(c) > m) m = subtreeEnd(c)
          c = nodes(c).next
        }
        subtreeEnd(id) = m
        i -= 1
      }
    }
    if (n > 0) walk(0, 0)
    // template contents subtrees
    var ti = 0
    while (ti < n) {
      val tc = nodes(ti).templateContents
      if (tc != -1 && depth(tc) == -1) walk(tc, 0)
      ti += 1
    }

    // sibling positions: one firstChild/next pointer walk per parent, no
    // intermediate Lists. type_pos uses ONE arena-wide versioned count map
    // (version = parent id) — O(1) per element with zero per-parent
    // allocation or clear, and no quadratic blowup on wide fan-outs (a
    // 10k-link list is a normal crawled page). Parsed tag names are the
    // parser's canonical atom strings, so the map hashes each known name
    // once per JVM, not once per element.
    val typeCount = new java.util.HashMap[String, Array[Int]]()
    var p = 0
    while (p < n) {
      var lastElem = -1
      var nElems = 0
      var c = nodes(p).firstChild
      while (c != -1) {
        if (nodes(c).isElement) {
          if (lastElem != -1) { prevElem(c) = lastElem; nextElem(lastElem) = c }
          lastElem = c
          nElems += 1
          elemPos(c) = nElems
          val e = typeCount.get(nodes(c).name)
          if (e == null) {
            typeCount.put(nodes(c).name, Array(p, 1))
            typePos(c) = 1
          } else if (e(0) != p) {
            e(0) = p; e(1) = 1
            typePos(c) = 1
          } else {
            e(1) += 1
            typePos(c) = e(1)
          }
        }
        c = nodes(c).next
      }
      nElemChildren(p) = nElems
      // elem_pos_from_end from the now-known total
      var e = lastElem
      while (e != -1) {
        elemPosEnd(e) = nElems - elemPos(e) + 1
        e = prevElem(e)
      }
      p += 1
    }
    d
  }
}
