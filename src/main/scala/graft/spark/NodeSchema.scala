package graft.spark

import graft.css.NodeAccess
import graft.sources.AttrIterable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Canonical Spark schema of the per-document `nodes` array — the columnar
 * encoding of the reference arena (SURVEY.md §1.4), and the one place the
 * node layout is written out: [[nodeStruct]] declares it,
 * [[arenaToArrayData]] writes it and [[ArrayDataAccess]] reads it.
 */
object NodeSchema {

  /**
   * One element of a document's `nodes` array.
   *
   * A dom_query document is an arena of tree nodes (`Tree { nodes: Vec<TreeNode> }`,
   * reference `src/dom_tree/tree.rs:20-22`); a node's identity is its array index
   * (`src/node.rs:24-27`) and each node carries five intra-tree pointers
   * (`src/node/inner.rs:8-23`). We keep exactly that relational encoding, plus
   * derived structural columns computed once at encode time so CSS structural
   * pseudo-classes become integer comparisons (SURVEY.md §1.4, §2.2 P7).
   * Field order is the contract for the expressions in [[DomExpressions]].
   *
   * `-1` encodes "no pointer" (reference `Option<NodeId>` = None).
   *
   * Derived columns (valid for preorder-numbered, freshly-ingested trees):
   *  - depth:              distance from root (root = 0); -1 for detached nodes
   *  - subtree_end:        largest arena index in this node's subtree (inclusive);
   *                        preorder numbering makes subtrees contiguous ranges
   *                        (reference ids are assigned in parse order,
   *                        `src/dom_tree/ops.rs:164-168`)
   *  - elem_pos_in_parent: 1-based position among *element* siblings (for :nth-child
   *                        semantics over elements, reference skips non-elements,
   *                        `src/node/selector.rs:59-67`); 0 for non-elements
   *  - elem_pos_from_end:  1-based position from the end among element siblings
   *  - type_pos_in_parent: 1-based position among element siblings with same tag name
   *  - n_elem_children:    number of element children
   *  - prev_elem_sib / next_elem_sib: nearest element sibling indices (-1 = none)
   *
   * `attrs` keeps the attribute insertion order (reference keeps attrs as an
   * ordered `Vec<Attr>`, `node_data.rs:66`) — needed for byte-exact HTML
   * serialization. `class_list` holds the ASCII-whitespace-split tokens of
   * the class attribute for elements, null otherwise.
   */
  val nodeStruct: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false), // document|fragment|doctype|element|text|comment|pi
    StructField("name", StringType), // element tag (lowercase) or doctype name; null otherwise
    StructField("attrs", MapType(StringType, StringType)),
    StructField("class_list", ArrayType(StringType)),
    StructField("text", StringType), // text/comment/pi contents; null otherwise
    StructField("media_ref", StringType), // opaque media pointer for interleaved media spans
    StructField("parent", IntegerType, nullable = false),
    StructField("prev_sibling", IntegerType, nullable = false),
    StructField("next_sibling", IntegerType, nullable = false),
    StructField("first_child", IntegerType, nullable = false),
    StructField("last_child", IntegerType, nullable = false),
    StructField("template_contents", IntegerType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("subtree_end", IntegerType, nullable = false),
    StructField("elem_pos_in_parent", IntegerType, nullable = false),
    StructField("elem_pos_from_end", IntegerType, nullable = false),
    StructField("type_pos_in_parent", IntegerType, nullable = false),
    StructField("n_elem_children", IntegerType, nullable = false),
    StructField("prev_elem_sib", IntegerType, nullable = false),
    StructField("next_elem_sib", IntegerType, nullable = false),
    // stored element namespace ("html"|"svg"|"math"; null for non-elements) —
    // STATE, not structural inference (reference carries QualName per
    // element, `src/node/node_data.rs:64`): a reparented foreign subtree
    // keeps its namespace, so serialization/void rules can't silently flip
    // on a legal mutation
    StructField("ns", StringType)
  ))

  val nodesArrayType: ArrayType = ArrayType(nodeStruct, containsNull = false)

  // field ordinals (must match nodeStruct above)
  final val KIND = 0
  final val NAME = 1
  final val ATTRS = 2
  final val CLASS_LIST = 3
  final val TEXT = 4
  final val MEDIA_REF = 5
  final val PARENT = 6
  final val PREV_SIBLING = 7
  final val NEXT_SIBLING = 8
  final val FIRST_CHILD = 9
  final val LAST_CHILD = 10
  final val TEMPLATE_CONTENTS = 11
  final val DEPTH = 12
  final val SUBTREE_END = 13
  final val ELEM_POS_IN_PARENT = 14
  final val ELEM_POS_FROM_END = 15
  final val TYPE_POS_IN_PARENT = 16
  final val N_ELEM_CHILDREN = 17
  final val PREV_ELEM_SIB = 18
  final val NEXT_ELEM_SIB = 19
  final val NS = 20
  final val N_FIELDS = 21

  /** Bounded UTF8String intern table for the closed-ish vocabularies of the
    * node relation — kinds (7 values), tag names, attribute keys, class
    * tokens. `UTF8String.fromString` re-encodes to UTF-8 bytes on every
    * call; these strings repeat on nearly every node of every document, so
    * interning removes ~half the ingest encoding work. Capped because tag /
    * class names are open-world (crawled markup chooses them): past the cap
    * we fall back to plain encoding rather than growing without bound.
    * Parsed tag names and common attribute keys are the parser's canonical
    * atom strings ([[graft.sources.Atoms]]), so their lookups reuse a
    * cached `String` hash and usually meet the same key instance. */
  private val utf8Cache = new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
  private final val UTF8_CACHE_MAX = 4096
  /** Shared bounded intern table (also the [[ArrayDataAccess]] selector-side
    * cache for tag/key/class literals — the same closed-ish vocabularies). */
  private[spark] def internUtf8(s: String): UTF8String = utf8(s)
  private def utf8(s: String): UTF8String = {
    val hit = utf8Cache.get(s)
    if (hit != null) hit
    else {
      val v = UTF8String.fromString(s)
      if (utf8Cache.size < UTF8_CACHE_MAX) utf8Cache.putIfAbsent(s, v)
      v
    }
  }

  /** Boxed-int cache for the 14 pointer/position fields per node: JDK's
    * Integer cache stops at 127, node indices don't — without this every
    * node row allocates ~14 Integers. Covers [-1, 65535) (id -1 = None);
    * larger arenas fall back to plain boxing. */
  private val intBox: Array[java.lang.Integer] =
    Array.tabulate(65537)(i => java.lang.Integer.valueOf(i - 1))
  @inline private def box(i: Int): Any =
    if (i >= -1 && i < 65536) intBox(i + 1) else java.lang.Integer.valueOf(i)

  /** Arena → Catalyst conversion (the parse hot path and the only encoder):
    * computes the derived columns and emits one InternalRow per node. */
  def arenaToArrayData(a: graft.model.Arena): GenericArrayData = {
    val n = a.size
    val d = a.computeDerived
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      val nd = a(i)
      val vals = new Array[Any](N_FIELDS)
      vals(KIND) = utf8(nd.kind)
      vals(NAME) = if (nd.name == null) null else utf8(nd.name)
      vals(ATTRS) =
        if (nd.attrs == null) null
        else {
          val sz = nd.attrs.size
          val ks = new Array[Any](sz)
          val vs = new Array[Any](sz)
          var j = 0
          nd.attrs.foreach { case (k, v) =>
            ks(j) = utf8(k); vs(j) = UTF8String.fromString(v); j += 1
          }
          new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
        }
      vals(CLASS_LIST) =
        if (!nd.isElement) null
        else new GenericArrayData(nd.classList.map(c => utf8(c)).toArray[Any])
      vals(TEXT) = if (nd.text == null) null else UTF8String.fromString(nd.text)
      vals(MEDIA_REF) = if (nd.mediaRef == null) null else UTF8String.fromString(nd.mediaRef)
      vals(PARENT) = box(nd.parent)
      vals(PREV_SIBLING) = box(nd.prev)
      vals(NEXT_SIBLING) = box(nd.next)
      vals(FIRST_CHILD) = box(nd.firstChild)
      vals(LAST_CHILD) = box(nd.lastChild)
      vals(TEMPLATE_CONTENTS) = box(nd.templateContents)
      vals(DEPTH) = box(d.depth(i))
      vals(SUBTREE_END) = box(d.subtreeEnd(i))
      vals(ELEM_POS_IN_PARENT) = box(d.elemPos(i))
      vals(ELEM_POS_FROM_END) = box(d.elemPosEnd(i))
      vals(TYPE_POS_IN_PARENT) = box(d.typePos(i))
      vals(N_ELEM_CHILDREN) = box(d.nElemChildren(i))
      vals(PREV_ELEM_SIB) = box(d.prevElem(i))
      vals(NEXT_ELEM_SIB) = box(d.nextElem(i))
      vals(NS) = if (nd.isElement) utf8(nd.ns) else null
      // GenericInternalRow wraps the array without copying (fromSeq copies)
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/**
 * Zero-copy [[NodeAccess]] view over a Catalyst `ARRAY<STRUCT<node>>` value —
 * the selector engine runs directly on Tungsten data (UnsafeArrayData /
 * GenericArrayData), no Row conversion. Kind checks compare UTF8String bytes.
 */
final class ArrayDataAccess(arr: ArrayData) extends NodeAccess with AttrIterable {
  import NodeSchema._
  import ArrayDataAccess._

  private val n = arr.numElements()
  // cache the per-node InternalRows (getStruct is O(1) but repeated calls add up)
  private val rows = new Array[InternalRow](n)
  private def row(i: Int): InternalRow = {
    var r = rows(i)
    if (r == null) { r = arr.getStruct(i, N_FIELDS); rows(i) = r }
    r
  }

  // lazily decoded per-node kind byte (r6): isElement/isText are the hottest
  // calls of every selector walk, and getUTF8String allocates a view object
  // per call on Unsafe rows — decode each node's kind at most once
  private val kindBytes = new Array[Byte](n)
  private def kindByte(i: Int): Byte = {
    var k = kindBytes(i)
    if (k == 0) {
      val u = row(i).getUTF8String(KIND)
      k = if (u.equals(ELEMENT_U)) 1 else if (u.equals(TEXT_U)) 2 else 3
      kindBytes(i) = k
    }
    k
  }

  // one-entry String → UTF8String caches for the selector-literal arguments
  // (tag / attr key / attr value / class): a selector compares the SAME
  // string instance against many nodes in a row, so a reference-equality
  // cache hits nearly always; misses fall back to the shared intern table
  private var lastTagS: String = null
  private var lastTagU: UTF8String = null
  private def tagU(s: String): UTF8String = {
    if (s eq lastTagS) lastTagU
    else { val u = NodeSchema.internUtf8(s); lastTagS = s; lastTagU = u; u }
  }
  private var lastKeyS: String = null
  private var lastKeyU: UTF8String = null
  private def keyU(s: String): UTF8String = {
    if (s eq lastKeyS) lastKeyU
    else { val u = NodeSchema.internUtf8(s); lastKeyS = s; lastKeyU = u; u }
  }
  private var lastValS: String = null
  private var lastValU: UTF8String = null
  private def valU(s: String): UTF8String = {
    if (s eq lastValS) lastValU
    else { val u = NodeSchema.internUtf8(s); lastValS = s; lastValU = u; u }
  }

  def size: Int = n
  def kind(i: Int): String = row(i).getUTF8String(KIND).toString
  override def isElement(i: Int): Boolean = kindByte(i) == 1
  override def isText(i: Int): Boolean = kindByte(i) == 2
  override def nameIs(i: Int, tag: String): Boolean = {
    val nm = nameU(i)
    nm != null && nm.equals(tagU(tag))
  }
  override def attrIs(i: Int, key: String, value: String): Boolean = {
    val v = attrU(i, keyU(key))
    v != null && v.equals(valU(value))
  }
  /** hasClass over the precomputed `class_list` tokens — no per-call string
    * materialization or whitespace re-scan (the column stores exactly the
    * ASCII-whitespace-split tokens of the class attribute). */
  override def hasClass(i: Int, cls: String): Boolean = {
    val r = row(i)
    if (r.isNullAt(CLASS_LIST)) return false
    val a = r.getArray(CLASS_LIST)
    val target = valU(cls)
    var j = 0
    val m = a.numElements()
    while (j < m) {
      if (a.getUTF8String(j).equals(target)) return true
      j += 1
    }
    false
  }
  def name(i: Int): String = {
    val r = row(i)
    if (r.isNullAt(NAME)) null else r.getUTF8String(NAME).toString
  }
  def nameU(i: Int): UTF8String = {
    val r = row(i)
    if (r.isNullAt(NAME)) null else r.getUTF8String(NAME)
  }
  def text(i: Int): String = {
    val r = row(i)
    if (r.isNullAt(TEXT)) null else r.getUTF8String(TEXT).toString
  }
  def mediaRef(i: Int): String = {
    val r = row(i)
    if (r.isNullAt(MEDIA_REF)) null else r.getUTF8String(MEDIA_REF).toString
  }
  override def ns(i: Int): String = {
    val r = row(i)
    if (r.isNullAt(NS)) "html" else r.getUTF8String(NS).toString
  }
  def textU(i: Int): UTF8String = {
    val r = row(i)
    if (r.isNullAt(TEXT)) null else r.getUTF8String(TEXT)
  }
  /** Text of the nodes a walk yields, byte-concatenated from the Tungsten
    * values: the UTF8 form of [[graft.css.NodeAccess.subtreeText]], with no
    * UTF8→String→UTF8 round trip. */
  def joinTextU(walk: (Int => Unit) => Unit): UTF8String = {
    val parts = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    walk { i => val t = textU(i); if (t != null) parts += t }
    UTF8String.concat(parts.toSeq: _*)
  }
  def attr(i: Int, key: String): String = {
    val u = attrU(i, keyU(key))
    if (u == null) null else u.toString
  }
  def attrU(i: Int, key: UTF8String): UTF8String = {
    val r = row(i)
    if (r.isNullAt(ATTRS)) return null
    val m: MapData = r.getMap(ATTRS)
    val ks = m.keyArray()
    var j = 0
    val cnt = m.numElements()
    while (j < cnt) {
      if (ks.getUTF8String(j).equals(key)) return m.valueArray().getUTF8String(j)
      j += 1
    }
    null
  }
  def hasAttr(i: Int, key: String): Boolean = attrU(i, keyU(key)) != null
  def parent(i: Int): Int = row(i).getInt(PARENT)
  def prevSibling(i: Int): Int = row(i).getInt(PREV_SIBLING)
  def nextSibling(i: Int): Int = row(i).getInt(NEXT_SIBLING)
  def firstChild(i: Int): Int = row(i).getInt(FIRST_CHILD)
  def lastChild(i: Int): Int = row(i).getInt(LAST_CHILD)
  def templateContents(i: Int): Int = row(i).getInt(TEMPLATE_CONTENTS)
  def subtreeEnd(i: Int): Int = row(i).getInt(SUBTREE_END)

  def attrEntries(id: Int): Seq[(String, String)] = {
    val r = row(id)
    if (r.isNullAt(ATTRS)) return Nil
    val m = r.getMap(ATTRS)
    (0 until m.numElements()).map { j =>
      (m.keyArray().getUTF8String(j).toString, m.valueArray().getUTF8String(j).toString)
    }
  }

  /** ArrayData → mutable Arena decode for the mutation/validate/copy
    * expressions (the inverse of [[NodeSchema.arenaToArrayData]]): derived
    * columns are recomputed on encode, so only kind/name/payload/attrs/ns/
    * pointers are read. */
  def toArena: graft.model.Arena = {
    val a = new graft.model.Arena
    var i = 0
    while (i < n) {
      val r = row(i)
      val m = new graft.model.MutNode(kind(i), name(i), text(i), mediaRef(i))
      if (!r.isNullAt(NodeSchema.ATTRS)) {
        val mp = r.getMap(NodeSchema.ATTRS)
        val lhm = new scala.collection.mutable.LinkedHashMap[String, String]()
        val ks = mp.keyArray()
        val vs = mp.valueArray()
        var j = 0
        val cnt = mp.numElements()
        while (j < cnt) {
          lhm.put(ks.getUTF8String(j).toString, vs.getUTF8String(j).toString)
          j += 1
        }
        m.attrs = lhm
      }
      m.ns = ns(i)
      m.parent = parent(i)
      m.prev = prevSibling(i)
      m.next = nextSibling(i)
      m.firstChild = firstChild(i)
      m.lastChild = lastChild(i)
      m.templateContents = templateContents(i)
      a.nodes += m
      i += 1
    }
    a
  }
}

object ArrayDataAccess {
  // shared across instances: one ArrayDataAccess is built per expression
  // call per row, so per-instance construction cost matters
  private val ELEMENT_U = UTF8String.fromString("element")
  private val TEXT_U = UTF8String.fromString("text")
}
