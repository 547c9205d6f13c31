package graft.sources

import graft.model.{Arena, MutNode, NodeKind}
import scala.collection.mutable

/**
 * Deterministic HTML → arena parser (S1/S2 in SURVEY.md §2.1).
 *
 * The reference parses with html5ever via a `TreeSink` that appends straight
 * into the arena (`src/document.rs:44-55, 258-494`); ids are assigned in parse
 * order so fresh trees are preorder-numbered. We reimplement a pragmatic
 * HTML5-lite tokenizer + tree builder in pure Scala (no external deps are
 * available offline): doctype/comments/void/raw-text elements, implicit
 * html/head/body scaffolding, implied end tags (p/li/dt/dd/tr/td/th/option),
 * tbody insertion, `<template>` contents as a detached Fragment subtree
 * (`document.rs:330-349`), duplicate attributes dropped (first wins,
 * `node_data.rs:244-257`), and adjacent-text merging at parse time
 * (`document.rs:374-396`).
 *
 * Tag and attribute names are [[Atoms]]: the tokenizer resolves each name
 * to its atom once, from the scanned characters, and the tree builder tests
 * the atom's category bits. That table is the one place the tag categories
 * (void, raw text, special, the scope stops, formatting, …) are written
 * down.
 *
 * Not a port: this is a from-scratch Scala implementation that matches the
 * reference's observable behavior on its test fixtures.
 */
object HtmlParser {

  import Atoms.{Unknown, fold}

  /** HTML5 "rules for parsing tokens in foreign content" data (public spec
    * tables; html5ever applies the same adjustments, which is how the
    * reference gets camelCase SVG names like `viewBox`/`foreignObject`). */
  private[sources] object ForeignContent {
    def isBreakout(tag: Int, attrs: List[(String, String)]): Boolean =
      (Atoms.bits(tag) & Atoms.Breakout) != 0 || (tag == Atoms.Font &&
        attrs.exists { case (k, _) => k == "color" || k == "face" || k == "size" })

    /** SVG tag-name case fixups (spec "adjust SVG tag names"). */
    val SvgTagAdjust: Map[String, String] = Seq(
      "altGlyph", "altGlyphDef", "altGlyphItem", "animateColor",
      "animateMotion", "animateTransform", "clipPath", "feBlend",
      "feColorMatrix", "feComponentTransfer", "feComposite",
      "feConvolveMatrix", "feDiffuseLighting", "feDisplacementMap",
      "feDistantLight", "feDropShadow", "feFlood", "feFuncA", "feFuncB",
      "feFuncG", "feFuncR", "feGaussianBlur", "feImage", "feMerge",
      "feMergeNode", "feMorphology", "feOffset", "fePointLight",
      "feSpecularLighting", "feSpotLight", "feTile", "feTurbulence",
      "foreignObject", "glyphRef", "linearGradient", "radialGradient",
      "textPath").map(t => t.toLowerCase -> t).toMap

    /** SVG attribute case fixups (spec "adjust SVG attributes"). */
    val SvgAttrAdjust: Map[String, String] = Seq(
      "attributeName", "attributeType", "baseFrequency", "baseProfile",
      "calcMode", "clipPathUnits", "diffuseConstant", "edgeMode",
      "filterUnits", "glyphRef", "gradientTransform", "gradientUnits",
      "kernelMatrix", "kernelUnitLength", "keyPoints", "keySplines",
      "keyTimes", "lengthAdjust", "limitingConeAngle", "markerHeight",
      "markerUnits", "markerWidth", "maskContentUnits", "maskUnits",
      "numOctaves", "pathLength", "patternContentUnits", "patternTransform",
      "patternUnits", "pointsAtX", "pointsAtY", "pointsAtZ", "preserveAlpha",
      "preserveAspectRatio", "primitiveUnits", "refX", "refY", "repeatCount",
      "repeatDur", "requiredExtensions", "requiredFeatures",
      "specularConstant", "specularExponent", "spreadMethod", "startOffset",
      "stdDeviation", "stitchTiles", "surfaceScale", "systemLanguage",
      "tableValues", "targetX", "targetY", "textLength", "viewBox",
      "viewTarget", "xChannelSelector", "yChannelSelector", "zoomAndPan")
      .map(t => t.toLowerCase -> t).toMap

    def adjustTagName(name: String): String = SvgTagAdjust.getOrElse(name, name)

    /** Adjust SVG/MathML attributes. The xlink:/xml:/xmlns foreign-attribute
      * namespace adjustment keeps the serialized qualified name identical
      * (html5ever re-emits `prefix:local`), so the lowercased source string
      * is already the output form — no rename needed for those. */
    def adjustAttrs(ns: String, attrs: List[(String, String)]): List[(String, String)] =
      if (ns == "svg")
        attrs.map { case (k, v) => (SvgAttrAdjust.getOrElse(k, k), v) }
      else
        attrs.map { case (k, v) => (if (k == "definitionurl") "definitionURL" else k, v) }

    def isMathTextIP(ns: String, name: String): Boolean =
      ns == "math" && (name == "mi" || name == "mo" || name == "mn" ||
        name == "ms" || name == "mtext")

    def isSvgHtmlIP(ns: String, name: String): Boolean =
      ns == "svg" && (name == "foreignObject" || name == "desc" || name == "title")
  }

  // --- Tokenizer -----------------------------------------------------------

  sealed trait Tok
  case class TText(s: String) extends Tok
  /** `tag` is the name's atom id ([[Atoms.Unknown]] for a name outside the
    * table); `name` is then the canonical atom string. */
  case class TStart(name: String, tag: Int, attrs: List[(String, String)],
      selfClosing: Boolean) extends Tok
  case class TEnd(name: String, tag: Int) extends Tok
  case class TComment(s: String) extends Tok
  case class TDoctype(name: String, publicId: String, systemId: String) extends Tok

  def tokenize(html: String): List[Tok] = {
    val toks = mutable.ListBuffer[Tok]()
    tokenizeStreaming(html, () => false)(toks += _)
    toks.toList
  }

  /** Streaming tokenizer with tree-builder feedback: tokens are emitted as
    * produced so `inForeign` can consult the CURRENT open-element stack —
    * the HTML5 tokenizer/tree-construction coupling that makes
    * `<![CDATA[...]]>` a text span inside SVG/MathML (adjusted current node
    * not in the HTML namespace) but a bogus comment in HTML content. */
  def tokenizeStreaming(html: String, inForeign: () => Boolean)(emit: Tok => Unit): Unit = {
    val n = html.length
    var i = 0
    val text = new java.lang.StringBuilder

    def flushText(): Unit =
      if (text.length > 0) { emit(TText(Entities.decode(text.toString))); text.setLength(0) }

    def isNameStart(c: Char) = Character.isLetter(c)

    while (i < n) {
      val c = html.charAt(i)
      if (c != '<') {
        // bulk text scan to the next tag open (char-by-char dominated here)
        val next = html.indexOf('<', i)
        val stop = if (next == -1) n else next
        text.append(html, i, stop)
        i = stop
      } else if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.regionMatches(i + 2, "--", 0, 2)) {
            flushText()
            val end = html.indexOf("-->", i + 4)
            val stop = if (end == -1) n else end
            emit(TComment(html.substring(i + 4, stop)))
            i = if (end == -1) n else end + 3
          } else if (html.regionMatches(true, i + 2, "DOCTYPE", 0, 7)) {
            flushText()
            val end = html.indexOf('>', i + 2)
            val stop = if (end == -1) n else end
            val body = html.substring(i + 9, stop).trim
            emit(parseDoctype(body))
            i = if (end == -1) n else end + 1
          } else if (html.regionMatches(i + 2, "[CDATA[", 0, 7) && inForeign()) {
            // CDATA section (foreign content only): raw text to ]]>, no
            // character references
            flushText()
            val end = html.indexOf("]]>", i + 9)
            val stop = if (end == -1) n else end
            val content = html.substring(i + 9, stop)
            if (content.nonEmpty) emit(TText(content))
            i = if (end == -1) n else end + 3
          } else { // bogus comment
            flushText()
            val end = html.indexOf('>', i + 2)
            val stop = if (end == -1) n else end
            emit(TComment(html.substring(i + 2, stop)))
            i = if (end == -1) n else end + 1
          }
        } else if (c1 == '?') { // bogus comment per HTML5 (reference gets Comment)
          flushText()
          val end = html.indexOf('>', i + 2)
          val stop = if (end == -1) n else end
          emit(TComment("?" + html.substring(i + 2, stop)))
          i = if (end == -1) n else end + 1
        } else if (c1 == '/') {
          if (i + 2 < n && isNameStart(html.charAt(i + 2))) {
            flushText()
            var j = i + 2
            while (j < n && html.charAt(j) != '>') j += 1
            if (j < n) {
              emit(endTag(html, i + 2, j))
              i = j + 1
            } else i = n // eof-in-tag: the token is dropped (html5ever)
          } else { text.append(c); i += 1 }
        } else if (isNameStart(c1)) {
          flushText()
          val (tok, next, closed) = parseStartTag(html, i)
          if (!closed) { i = n } // eof-in-tag: drop the token (html5ever fuzz golden)
          else {
            emit(tok)
            i = next
            tok match {
              // raw-text/RCDATA consumption is an HTML-namespace tokenizer
              // state: inside foreign content <title>/<script>/<style> are
              // ordinary elements whose children are parsed markup
              // (html5ever's tokenizer-state feedback) — inForeign() is
              // consulted AFTER emit, so the builder has already pushed
              // this element with its namespace
              case TStart(name, tag, _, false)
                  if (Atoms.bits(tag) & (Atoms.RawText | Atoms.Rcdata)) != 0 && !inForeign() =>
                // consume raw text until the matching close tag — manual
                // case-insensitive scan (a compiled regex per element instance
                // dominated tokenizer cost)
                val rawEnd = findCloseTag(html, i, name)
                val stop = if (rawEnd == -1) n else rawEnd
                val raw = html.substring(i, stop)
                val content = if ((Atoms.bits(tag) & Atoms.Rcdata) != 0) Entities.decode(raw) else raw
                if (content.nonEmpty) emit(TText(content))
                if (rawEnd != -1) {
                  val gt = html.indexOf('>', rawEnd)
                  emit(TEnd(name, tag))
                  i = if (gt == -1) n else gt + 1
                } else i = n
              case _ =>
            }
          }
        } else { text.append(c); i += 1 }
      } else { text.append(c); i += 1 }
    }
    flushText()
  }

  /** The token of the end tag whose name starts at `from`, with its `>`
    * at `gt`. The name runs to whitespace or `>`; an all-ASCII name
    * resolves its atom from the range, anything else lower-cases as a
    * String (`String.toLowerCase` differs from per-char folding outside
    * ASCII). */
  private def endTag(html: String, from: Int, gt: Int): Tok = {
    var k = from
    var h = 0
    var ascii = true
    while (k < gt && !Character.isWhitespace(html.charAt(k))) {
      val ch = html.charAt(k)
      if (ch >= 128) ascii = false
      h = 31 * h + fold(ch)
      k += 1
    }
    var tag = if (ascii) Atoms.lookupFolded(html, from, k, h) else Unknown
    val name = if (tag != Unknown) Atoms.names(tag) else html.substring(from, k).toLowerCase
    if (!ascii) tag = Atoms.idOf(name)
    // spec: </br> acts as <br>
    if (tag == Atoms.Br) TStart(name, tag, Nil, selfClosing = false) else TEnd(name, tag)
  }

  /** Index of `</name` (case-insensitive, followed by ws/>//) at or after
    * `from`; -1 if absent. */
  private def findCloseTag(html: String, from: Int, name: String): Int = {
    val n = html.length
    var i = from
    while (true) {
      i = html.indexOf('<', i)
      if (i == -1 || i + 1 >= n) return -1
      if (html.charAt(i + 1) == '/' &&
          html.regionMatches(true, i + 2, name, 0, name.length)) {
        val after = i + 2 + name.length
        if (after >= n) return i
        val c = html.charAt(after)
        if (c == '>' || c == '/' || Character.isWhitespace(c)) return i
      }
      i += 1
    }
    -1
  }

  private def parseDoctype(body: String): TDoctype = {
    // loose parse: name [PUBLIC "pub" ["sys"] | SYSTEM "sys"]
    val name = body.takeWhile(!Character.isWhitespace(_)).toLowerCase
    var publicId = ""
    var systemId = ""
    val rest = body.drop(name.length).trim
    def quoted(s: String): (String, String) = {
      if (s.isEmpty) ("", "")
      else {
        val q = s.charAt(0)
        if (q == '"' || q == '\'') {
          val e = s.indexOf(q, 1)
          if (e == -1) (s.substring(1), "") else (s.substring(1, e), s.substring(e + 1).trim)
        } else ("", s)
      }
    }
    if (rest.toUpperCase.startsWith("PUBLIC")) {
      val (p, r2) = quoted(rest.drop(6).trim)
      publicId = p
      val (s, _) = quoted(r2)
      systemId = s
    } else if (rest.toUpperCase.startsWith("SYSTEM")) {
      val (s, _) = quoted(rest.drop(6).trim)
      systemId = s
    }
    TDoctype(name, publicId, systemId)
  }

  /** Lowercase a scanned slice; substring-only when already lowercase (the
    * common case — per-char StringBuilder+toLowerCase appends were a top
    * tokenizer leaf in the parse profile). */
  private def lowerSlice(html: String, from: Int, until: Int, anyUpper: Boolean): String = {
    if (!anyUpper) return html.substring(from, until)
    val sb = new java.lang.StringBuilder(until - from)
    var i = from
    while (i < until) { sb.append(Character.toLowerCase(html.charAt(i))); i += 1 }
    sb.toString
  }

  private def parseStartTag(html: String, start: Int): (TStart, Int, Boolean) = {
    val n = html.length
    var i = start + 1
    val n0 = i
    var anyUpper = false
    var h = 0
    while (i < n && {
      val ch = html.charAt(i)
      !Character.isWhitespace(ch) && ch != '>' && ch != '/'
    }) {
      val ch = html.charAt(i)
      val lc = fold(ch)
      if (lc != ch) anyUpper = true
      h = 31 * h + lc
      i += 1
    }
    val tag = Atoms.lookupFolded(html, n0, i, h)
    val name = if (tag != Unknown) Atoms.names(tag) else lowerSlice(html, n0, i, anyUpper)
    val attrs = mutable.ListBuffer[(String, String)]()
    var selfClosing = false
    var closed = false
    var done = false
    while (!done && i < n) {
      while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true; closed = true
        case '/' =>
          i += 1
          if (i < n && html.charAt(i) == '>') { selfClosing = true; i += 1; done = true; closed = true }
        case _ =>
          val k0 = i
          var kUpper = false
          var kh = 0
          while (i < n && {
            val ch = html.charAt(i)
            !Character.isWhitespace(ch) && ch != '=' && ch != '>' && ch != '/'
          }) {
            val ch = html.charAt(i)
            val lc = fold(ch)
            if (lc != ch) kUpper = true
            kh = 31 * kh + lc
            i += 1
          }
          val kid = Atoms.lookupFolded(html, k0, i, kh)
          val key = if (kid != Unknown) Atoms.names(kid) else lowerSlice(html, k0, i, kUpper)
          while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
          var value = ""
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
            if (i < n) {
              val q = html.charAt(i)
              if (q == '"' || q == '\'') {
                i += 1
                val e = html.indexOf(q, i)
                val stop = if (e == -1) n else e
                value = Entities.decode(html.substring(i, stop), inAttr = true)
                i = if (e == -1) n else e + 1
              } else {
                val v0 = i
                while (i < n && !Character.isWhitespace(html.charAt(i)) && html.charAt(i) != '>') i += 1
                value = Entities.decode(html.substring(v0, i), inAttr = true)
              }
            }
          }
          // duplicate attrs: first wins (linear probe — tags carry few attrs;
          // a per-tag HashSet allocation showed in the parse profile)
          if (key.nonEmpty && !attrs.exists(_._1 == key)) attrs += (key -> value)
      }
    }
    (TStart(name, tag, attrs.toList, selfClosing), i, closed)
  }

  // --- Tree builder --------------------------------------------------------

  /** Parse a full document: root = Document node at id 0 (`tree.rs:126-128`). */
  def parseDocument(html: String): Arena = build(html, fragment = false)

  /** Parse a fragment: root = Fragment node; doctype dropped
    * (`document.rs:60-88`, drops DOCTYPE at `:70-71`). Content nodes attach
    * directly under the fragment root (we skip html5ever's html/body
    * scaffolding, which the reference's merge also skips — `ops.rs:443-452`). */
  def parseFragment(html: String): Arena = build(html, fragment = true)

  private def build(html: String, fragment: Boolean): Arena = buildFlagged(html, fragment)._1

  /** The arena, and whether every node of it was attached in preorder
    * (then [[Renumber.isPreorder]] holds without its walk). */
  private[graft] def buildFlagged(html: String, fragment: Boolean): (Arena, Boolean) = {
    val b = new TreeBuilder(html, fragment)
    val a = b.run()
    (a, b.inPreorder && b.last == a.size - 1)
  }

  /** Quirks-mode determination from the doctype (html5ever `QuirksMode`;
    * reference surfaces it as `Document.quirks_mode`, `document.rs:22-32`). */
  private[sources] def quirksFor(sawDoctype: Boolean, name: String,
      publicId: String, systemId: String): String = {
    if (!sawDoctype) return "quirks"
    val pub = publicId.toLowerCase
    val quirkyPubPrefixes = List(
      "+//silmaril//", "-//advasoft ltd//", "-//as//", "-//ietf//dtd html",
      "-//microsoft//", "-//netscape comm. corp.//", "-//o'reilly and associates//",
      "-//softquad//", "-//spyglass//", "-//sun microsystems corp.//",
      "-//w3c//dtd html 3", "-//w3c//dtd html 4.0 frameset//",
      "-//w3c//dtd html 4.0 transitional//", "-//w3c//dtd w3 html//",
      "-//w3o//dtd w3 html//", "-//webtechs//")
    if (name != "html") "quirks"
    else if (pub == "-//w3o//dtd w3 html strict 3.0//en//" ||
      pub == "-/w3c/dtd html 4.0 transitional/en" || pub == "html" ||
      systemId.equalsIgnoreCase("http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd") ||
      quirkyPubPrefixes.exists(pub.startsWith) ||
      (systemId.isEmpty && (pub.startsWith("-//w3c//dtd html 4.01 frameset//") ||
        pub.startsWith("-//w3c//dtd html 4.01 transitional//")))) "quirks"
    else if (pub.startsWith("-//w3c//dtd xhtml 1.0 frameset//") ||
      pub.startsWith("-//w3c//dtd xhtml 1.0 transitional//") ||
      (systemId.nonEmpty && (pub.startsWith("-//w3c//dtd html 4.01 frameset//") ||
        pub.startsWith("-//w3c//dtd html 4.01 transitional//")))) "limited-quirks"
    else "no-quirks"
  }

  /**
   * HTML5 tree builder: scaffolding, implied end tags with proper scopes,
   * table foster parenting, and the active-formatting-elements list with the
   * spec adoption agency algorithm — the recovery behaviors html5ever gives
   * the reference for free on real-world markup (`document.rs:258-494`).
   * From-scratch implementation of the public WHATWG algorithm, not a port.
   *
   * Tags are [[Atoms]] ids: category tests are bit tests, and a per-id count
   * of open elements answers "is any `<p>` (or `<li>`, `<td>`…) in scope"
   * with false at once when none is open, so scope checks do not walk the
   * stack of a deeply nested document. A per-node open flag replaces the
   * "is this node on the stack" scans.
   */
  private final class TreeBuilder(html: String, fragment: Boolean) {
    import Atoms._

    /** An open element. `tag` is always `Atoms.idOf(name)`, so two entries
      * name the same known tag exactly when their ids are equal. */
    private final class Open(val id: Int, val name: String, val tag: Int, val ns: String) {
      val bits: Long = Atoms.bits(tag)
      @inline def is(cat: Long): Boolean = (bits & cat) != 0
    }
    private final class Fmt(var id: Int, val name: String, val tag: Int,
        val attrs: List[(String, String)])

    private val arena = new Arena
    private val stack = mutable.ArrayBuffer[Open]()
    /** Open elements per tag id (index 0 lumps all unknown names). */
    private val openCount = new Array[Int](Atoms.size)
    /** Arena ids currently on the stack. */
    private val onStack = new java.util.BitSet
    private val afe = mutable.ArrayBuffer[Fmt]() // null entry = scope marker
    private val errors = mutable.ListBuffer[String]()
    private var quirks = "quirks" // no doctype → quirks
    private var sawDoctype = false

    private var htmlId = -1
    private var headId = -1
    private var bodyId = -1
    private var headClosed = false
    private var bodyStarted = fragment

    /** Bottom entries never popped: #root (+ fragment scaffold html). */
    private val floor = if (fragment) 2 else 1

    private def top: Open = stack(stack.length - 1)
    private def curParent: Int = top.id
    private def error(msg: String): Unit = if (errors.length < 64) errors += msg

    // --- the stack of open elements: every change goes through these --------

    private def push(id: Int, name: String, tag: Int, ns: String = "html"): Unit = {
      stack += new Open(id, name, tag, ns)
      openCount(tag) += 1
      onStack.set(id)
    }
    private def insertAt(i: Int, e: Open): Unit = {
      stack.insert(i, e)
      openCount(e.tag) += 1
      onStack.set(e.id)
    }
    private def removeAt(i: Int): Open = {
      val e = stack.remove(i)
      openCount(e.tag) -= 1
      onStack.clear(e.id)
      e
    }
    /** Stack position of arena node `id`, or -1 (a node is open at most once). */
    private def stackIndexOf(id: Int): Int =
      if (!onStack.get(id)) -1
      else { var i = stack.length - 1; while (stack(i).id != id) i -= 1; i }

    // --- pointer surgery -----------------------------------------------------

    /** Ids are still preorder: each node so far was attached in id order as
      * the last child of `last` (the last node in preorder) or of one of its
      * ancestors. A node inserted any other way breaks the id sequence, and
      * a detach clears the flag. */
    var inPreorder = true
    var last = 0
    private def attached(parentId: Int, id: Int): Unit = if (inPreorder) {
      var a = last
      while (a != -1 && a != parentId) a = arena(a).parent
      inPreorder = a == parentId && id == last + 1
      last = id
    }

    private def detach(id: Int): Unit = {
      inPreorder = false
      val nd = arena(id)
      val p = nd.parent
      if (p != -1) {
        val pn = arena(p)
        if (pn.firstChild == id) pn.firstChild = nd.next
        if (pn.lastChild == id) pn.lastChild = nd.prev
      }
      if (nd.prev != -1) arena(nd.prev).next = nd.next
      if (nd.next != -1) arena(nd.next).prev = nd.prev
      nd.parent = -1; nd.prev = -1; nd.next = -1
    }

    private def appendChild(parentId: Int, id: Int): Unit = {
      attached(parentId, id)
      val p = arena(parentId)
      val nd = arena(id)
      nd.parent = parentId
      if (p.lastChild == -1) { p.firstChild = id; p.lastChild = id }
      else {
        arena(p.lastChild).next = id
        nd.prev = p.lastChild
        p.lastChild = id
      }
    }

    private def insertBefore(refId: Int, id: Int): Unit = {
      val ref = arena(refId)
      val nd = arena(id)
      nd.parent = ref.parent
      nd.next = refId
      nd.prev = ref.prev
      if (ref.prev != -1) arena(ref.prev).next = id
      else if (ref.parent != -1) arena(ref.parent).firstChild = id
      ref.prev = id
    }

    private def moveChildren(from: Int, to: Int): Unit = {
      var c = arena(from).firstChild
      while (c != -1) {
        val nxt = arena(c).next
        detach(c)
        appendChild(to, c)
        c = nxt
      }
    }

    // --- scopes ---------------------------------------------------------------

    /** Is an element with known tag `tag` in the scope bounded by `stops`?
      * False without a walk when no such element is open. */
    private def inScope(tag: Int, stops: Long = ScopeStop): Boolean = {
      if (openCount(tag) == 0) return false
      var i = stack.length - 1
      while (i >= 0) {
        val e = stack(i)
        if (e.tag == tag) return true
        if (e.is(stops)) return false
        i -= 1
      }
      false
    }
    private def inButtonScope(tag: Int) = inScope(tag, ButtonScopeStop)
    private def inListScope(tag: Int) = inScope(tag, ListScopeStop)
    private def inTableScope(tag: Int) = inScope(tag, TableScopeStop)
    private def idInScope(id: Int): Boolean = {
      if (!onStack.get(id)) return false
      var i = stack.length - 1
      while (i >= 0) {
        val e = stack(i)
        if (e.id == id) return true
        if (e.is(ScopeStop)) return false
        i -= 1
      }
      false
    }

    // --- stack helpers ----------------------------------------------------------

    private def popTop(): Unit = {
      val e = removeAt(stack.length - 1)
      if (e.is(Marker)) clearAfeToMarker()
    }
    private def popThrough(tag: Int): Unit = {
      var done = false
      while (!done && stack.length > floor) {
        val t = top.tag
        popTop()
        if (t == tag) done = true
      }
    }
    private def generateImplied(except: Int = Unknown): Unit =
      while (stack.length > floor && top.is(ImpliedEnd) && top.tag != except) popTop()

    private def clearAfeToMarker(): Unit = {
      var done = false
      while (!done && afe.nonEmpty) {
        val e = afe.remove(afe.length - 1)
        if (e == null) done = true
      }
    }

    // --- foster-aware insertion ---------------------------------------------------

    /** (parent, before): before == -1 means append at end of parent. Foster
      * parenting (HTML5 "appropriate place for inserting a node"): content
      * illegal directly inside table/section/row goes BEFORE the table. */
    private def insertionPoint(foster: Boolean): (Int, Int) = {
      if (!foster || !top.is(TableContext)) return (curParent, -1)
      var i = stack.length - 1
      while (i >= 0) {
        val e = stack(i)
        if (e.tag == Template) return (e.id, -1)
        if (e.tag == Table) {
          val p = arena(e.id).parent
          if (p != -1) return (p, e.id)
          return (stack(i - 1).id, -1)
        }
        i -= 1
      }
      (curParent, -1)
    }

    private def insertNode(id: Int, foster: Boolean): Unit = {
      val (p, before) = insertionPoint(foster)
      if (before == -1) appendChild(p, id) else insertBefore(before, id)
    }

    private def insertText(s0: String, foster: Boolean): Unit = {
      val (p, before) = insertionPoint(foster)
      if (before == -1) {
        val pn = arena(p)
        // HTML5: newline immediately after a pre/textarea/listing start is dropped
        val s =
          if (pn.firstChild == -1 && pn.isElement &&
              (pn.name == "pre" || pn.name == "textarea" || pn.name == "listing") &&
              s0.startsWith("\n")) s0.substring(1)
          else s0
        if (s.isEmpty) return
        if (pn.lastChild != -1 && arena(pn.lastChild).isText)
          arena(pn.lastChild).text = arena(pn.lastChild).text + s
        else appendChild(p, arena.createText(s))
      } else {
        // merge with an existing text node just before the table
        val prev = arena(before).prev
        if (prev != -1 && arena(prev).isText) arena(prev).text = arena(prev).text + s0
        else { val t = arena.createText(s0); insertBefore(before, t) }
      }
    }

    // --- active formatting elements ------------------------------------------------

    /** Re-open formatting elements not currently on the stack (HTML5
      * "reconstruct the active formatting elements"). */
    private def reconstructAfe(): Unit = {
      if (afe.isEmpty) return
      val lastE = afe(afe.length - 1)
      if (lastE == null || onStack.get(lastE.id)) return
      var i = afe.length - 1
      while (i > 0 && { val e = afe(i - 1); e != null && !onStack.get(e.id) }) i -= 1
      while (i < afe.length) {
        val e = afe(i)
        val id = arena.createElement(e.name, e.attrs)
        insertNode(id, foster = true)
        push(id, e.name, e.tag)
        e.id = id
        i += 1
      }
    }

    /** Push with the Noah's ark clause (≤3 identical entries per marker scope). */
    private def pushFormatting(id: Int, name: String, tag: Int,
        attrs: List[(String, String)]): Unit = {
      var count = 0
      var earliest = -1
      var i = afe.length - 1
      var run = true
      while (run && i >= 0) {
        val e = afe(i)
        if (e == null) run = false
        else {
          if (e.tag == tag && e.attrs == attrs) { count += 1; earliest = i }
          i -= 1
        }
      }
      if (count >= 3 && earliest != -1) afe.remove(earliest)
      afe += new Fmt(id, name, tag, attrs)
    }

    /** The HTML5 adoption agency algorithm (misnested formatting end tags,
      * e.g. `<b><i>x</b>y</i>`). Max 8 outer / 3 inner iterations per spec. */
    private def adoptionAgency(subject: String, tag: Int): Unit = {
      if (top.tag == tag && !afe.exists(e => e != null && e.id == top.id)) {
        popTop(); return
      }
      var outer = 0
      while (outer < 8) {
        outer += 1
        // last AFE entry for subject after the last marker
        var fi = -1
        var i = afe.length - 1
        var scan = true
        while (scan && i >= 0) {
          val e = afe(i)
          if (e == null) scan = false
          else if (e.tag == tag) { fi = i; scan = false }
          else i -= 1
        }
        if (fi == -1) { anyOtherEndTag(subject, tag); return }
        val fmt = afe(fi)
        val si = stackIndexOf(fmt.id)
        if (si == -1) { error(s"</$subject>: formatting element not open"); afe.remove(fi); return }
        if (!idInScope(fmt.id)) { error(s"</$subject> out of scope"); return }
        if (top.id != fmt.id) error(s"misnested </$subject>")
        // furthest block: first special element above fmt on the stack
        var fb = -1
        var j = si + 1
        while (j < stack.length && fb == -1) {
          if (stack(j).is(Special)) fb = j else j += 1
        }
        if (fb == -1) {
          while (stack.length > si) popTop()
          val fiNow = afe.indexOf(fmt)
          if (fiNow != -1) afe.remove(fiNow)
          return
        }
        val furthestBlockId = stack(fb).id
        val common = stack(si - 1)
        val commonAncestor = common.id
        var bookmark = fi
        var nodeIdx = fb
        var lastNodeId = furthestBlockId
        var inner = 0
        var looping = true
        while (looping) {
          nodeIdx -= 1
          val node = stack(nodeIdx)
          if (node.id == fmt.id) looping = false
          else {
            inner += 1
            val ai = afe.indexWhere(e => e != null && e.id == node.id)
            if (inner > 3 && ai != -1) {
              afe.remove(ai)
              if (ai < bookmark) bookmark -= 1
              removeAt(nodeIdx)
            } else if (ai == -1) {
              removeAt(nodeIdx)
            } else {
              val entry = afe(ai)
              val cloneId = arena.createElement(node.name, entry.attrs)
              entry.id = cloneId
              removeAt(nodeIdx)
              insertAt(nodeIdx, new Open(cloneId, node.name, node.tag, "html"))
              if (lastNodeId == furthestBlockId) bookmark = ai + 1
              detach(lastNodeId)
              appendChild(cloneId, lastNodeId)
              lastNodeId = cloneId
            }
          }
        }
        // reparent lastNode under the common ancestor (foster-aware); the
        // stack entry names the ancestor's element (the template and
        // scaffold entries are never table context)
        detach(lastNodeId)
        if (common.is(TableContext)) {
          var t = commonAncestor
          while (t != -1 && !(arena(t).isElement && arena(t).name == "table")) t = arena(t).parent
          if (t != -1 && arena(t).parent != -1) insertBefore(t, lastNodeId)
          else appendChild(commonAncestor, lastNodeId)
        } else appendChild(commonAncestor, lastNodeId)
        // clone fmt; furthest block's children move into the clone
        val newFmtId = arena.createElement(subject, fmt.attrs)
        moveChildren(furthestBlockId, newFmtId)
        appendChild(furthestBlockId, newFmtId)
        val fiNow = afe.indexOf(fmt)
        if (fiNow != -1) {
          afe.remove(fiNow)
          if (fiNow < bookmark) bookmark -= 1
        }
        afe.insert(math.min(math.max(bookmark, 0), afe.length),
          new Fmt(newFmtId, subject, tag, fmt.attrs))
        val siNow = stackIndexOf(fmt.id)
        if (siNow != -1) removeAt(siNow)
        val fbNow = stackIndexOf(furthestBlockId)
        insertAt(fbNow + 1, new Open(newFmtId, subject, tag, "html"))
      }
    }

    /** HTML5 "any other end tag": walk up, pop through a match, stop at
      * special elements (stray end tags never pop past block structure). */
    private def anyOtherEndTag(name: String, tag: Int): Unit = {
      var i = stack.length - 1
      while (i >= floor) {
        val e = stack(i)
        if (if (tag != Unknown) e.tag == tag else e.name == name) {
          generateImplied(except = tag)
          while (onStack.get(e.id)) popTop()
          return
        }
        if (e.is(Special)) { error(s"unexpected end tag </$name>"); return }
        i -= 1
      }
      error(s"stray end tag </$name>")
    }

    // --- implied closes on start tags ------------------------------------------------

    private def closeCellIfOpen(): Unit = {
      if (inTableScope(Td)) { generateImplied(); popThrough(Td) }
      else if (inTableScope(Th)) { generateImplied(); popThrough(Th) }
    }

    /** Is the nearest enclosing table/template boundary a table or a
      * template (templates may host bare rows/cells — `<template><tr>…`),
      * rather than the document root? */
    private def inTableHost: Boolean = {
      if (openCount(Table) == 0 && openCount(Template) == 0) return false
      var i = stack.length - 1
      while (i >= 0) {
        val t = stack(i).tag
        if (t == Table || t == Template) return true
        if (t == Root || t == FragmentHtml) return false
        i -= 1
      }
      false
    }

    /** HTML5 "clear the stack back to a table/row/body context": pop open
      * elements (e.g. stray formatting) until a context element or the
      * document scaffold. */
    private def clearToContext(stops: Long): Unit =
      while (stack.length > floor && !top.is(stops)) popTop()

    private def closeP(): Unit =
      if (inButtonScope(P)) { generateImplied(except = P); popThrough(P) }

    private def closeImplied(tag: Int): Unit = {
      if ((Atoms.bits(tag) & ClosesP) != 0) closeP()
      tag match {
        case Li =>
          if (inListScope(Li)) { generateImplied(except = Li); popThrough(Li) }
          closeP() // spec li step 3: also close an open <p> in button scope
        case Dt | Dd =>
          if (inScope(Dt)) { generateImplied(except = Dt); popThrough(Dt) }
          else if (inScope(Dd)) { generateImplied(except = Dd); popThrough(Dd) }
          closeP()
        case OptionTag => if (top.tag == OptionTag) popTop()
        case Optgroup =>
          if (top.tag == OptionTag) popTop()
          if (top.tag == Optgroup) popTop()
        case Button =>
          if (inScope(Button)) { generateImplied(); popThrough(Button) }
        case Tr =>
          closeCellIfOpen()
          if (inTableScope(Tr)) popThrough(Tr)
          else clearToContext(BodyClearStop)
        case Td | Th =>
          closeCellIfOpen()
          clearToContext(RowClearStop)
        case Tbody | Thead | Tfoot =>
          closeCellIfOpen()
          if (inTableScope(Tr)) popThrough(Tr)
          if (top.is(TableSection)) popTop()
          clearToContext(TableClearStop)
        case Caption | Colgroup | Col =>
          closeCellIfOpen()
          if (tag != Caption && inTableScope(Tr)) popThrough(Tr)
          clearToContext(TableClearStop)
        case Table =>
          // <table> while directly in table context closes the current table
          if (top.is(TableContext) && inTableScope(Table)) popThrough(Table)
        case _ =>
      }
    }

    /** Implicit tbody/tr insertion for bare rows/cells in a table. */
    private def tableFixups(tag: Int): Unit =
      if (tag == Tr || tag == Td || tag == Th) {
        if (top.tag == Table) {
          val tb = arena.createElement("tbody")
          appendChild(curParent, tb)
          push(tb, "tbody", Tbody)
        }
        if (tag != Tr && top.is(TableSection)) {
          val tr = arena.createElement("tr")
          appendChild(curParent, tr)
          push(tr, "tr", Tr)
        }
      }

    // --- scaffolding --------------------------------------------------------------

    private def ensureHtml(): Unit = if (!fragment && htmlId == -1) {
      htmlId = arena.createElement("html")
      appendChild(0, htmlId)
      push(htmlId, "html", Html)
    }

    private def ensureHead(): Unit = if (!fragment && headId == -1) {
      ensureHtml()
      headId = arena.createElement("head")
      appendChild(htmlId, headId)
    }

    private def ensureBody(): Unit = {
      if (fragment) return
      if (bodyId == -1) {
        ensureHtml(); ensureHead(); headClosed = true
        while (top.tag != Html && top.tag != Root) popTop()
        bodyId = arena.createElement("body")
        appendChild(htmlId, bodyId)
        push(bodyId, "body", Body)
      }
      bodyStarted = true
    }

    // --- token dispatch --------------------------------------------------------------

    /** "select scope": only option/optgroup sit between here and the select. */
    private def inSelect: Boolean = {
      if (openCount(Select) == 0) return false
      var i = stack.length - 1
      while (i >= 0) {
        val t = stack(i).tag
        if (t == Select) return true
        if (t != OptionTag && t != Optgroup) return false
        i -= 1
      }
      false
    }

    /** HTML integration point: svg foreignObject/desc/title, or MathML
      * annotation-xml whose encoding attr is (application/)xhtml. */
    private def isHtmlIP(o: Open): Boolean =
      ForeignContent.isSvgHtmlIP(o.ns, o.name) || {
        o.ns == "math" && o.name == "annotation-xml" && {
          val enc = arena(o.id).attrs.getOrElse("encoding", "")
          enc.equalsIgnoreCase("text/html") ||
            enc.equalsIgnoreCase("application/xhtml+xml")
        }
      }

    /** Namespace to process a token with tag id `tag` (Unknown for text)
      * under per the spec's tree-construction dispatcher, or null for the
      * normal HTML rules. */
    private def foreignNsFor(tag: Int): String = {
      val t = top
      if (t.ns == "html") null
      else if (ForeignContent.isMathTextIP(t.ns, t.name) &&
        tag != Mglyph && tag != Malignmark) null
      else if (t.ns == "math" && t.name == "annotation-xml" && tag == Svg) null
      else if (isHtmlIP(t)) null
      else t.ns
    }

    /** Foreign-content start tag: breakout back to HTML, or insert the
      * (case-adjusted) foreign element. Fostering never applies here. */
    private def foreignStartTag(ns: String, name: String, tag: Int,
        attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      if (ForeignContent.isBreakout(tag, attrs)) {
        error(s"HTML <$name> breaks out of foreign content")
        while (top.ns != "html" &&
          !ForeignContent.isMathTextIP(top.ns, top.name) && !isHtmlIP(top)) popTop()
        startTagInBody(name, tag, attrs, selfClosing) // reprocess per HTML rules
      } else {
        val adjName = if (ns == "svg") ForeignContent.adjustTagName(name) else name
        val id = arena.createElement(adjName, ForeignContent.adjustAttrs(ns, attrs), ns)
        insertNode(id, foster = false)
        if (!selfClosing)
          push(id, adjName, if (adjName eq name) tag else Atoms.idOf(adjName), ns)
      }
    }

    /** Foreign-content end tag (spec "any other end tag"): pop to the
      * nearest case-insensitive name match above the first HTML element;
      * returns false when an HTML element is reached first (caller then
      * processes by the normal HTML rules). */
    private def foreignEndTag(name: String): Boolean = {
      if (top.name.toLowerCase != name) error(s"unexpected </$name> in foreign content")
      var i = stack.length - 1
      while (i >= floor) {
        val nd = stack(i)
        if (nd.ns == "html") return false
        if (nd.name.toLowerCase == name) {
          while (stack.length > i) popTop()
          return true
        }
        i -= 1
      }
      true // no match above the scaffold: ignored
    }

    private def startTagInBody(name: String, tag: Int, attrs: List[(String, String)],
        selfClosing: Boolean): Unit = {
      val fns = foreignNsFor(tag)
      if (fns != null) { foreignStartTag(fns, name, tag, attrs, selfClosing); return }
      val bits = Atoms.bits(tag)
      // entering foreign content from HTML: <svg>/<math> adjust their own
      // attributes too (viewBox on the svg root itself)
      val inForeign = tag == Svg || tag == MathTag
      val attrsAdj = if (inForeign) ForeignContent.adjustAttrs(name, attrs) else attrs
      // HTML5 "in select": only option/optgroup/hr/script/template content is
      // legal; a nested <select> acts as </select>; input/keygen/textarea
      // close the select and reprocess; anything else is ignored
      if (inSelect) tag match {
        case OptionTag | Optgroup | Hr | Script | Template => ()
        case Select =>
          error("nested <select>")
          popThrough(Select)
          return
        case Input | Keygen | Textarea =>
          error(s"<$name> closes open <select>")
          popThrough(Select)
        case _ =>
          error(s"ignored <$name> in select")
          return
      }
      // table-structure tags outside any table/template are IGNORED per the
      // HTML5 "in body" rules (html5ever drops a bare <tr> in a div)
      if ((bits & TableStructure) != 0 && !inTableHost) {
        error(s"ignored <$name> outside table"); return
      }
      closeImplied(tag)
      // spec: a nested <a> runs the adoption agency for the open one — but
      // only if an <a> entry exists BETWEEN the end of the AFE list and the
      // last marker (an <a> inside a table cell does not see one outside it)
      def lastAAfterMarker: Int = {
        var i = afe.length - 1
        while (i >= 0) {
          val e = afe(i)
          if (e == null) return -1
          if (e.tag == A) return i
          i -= 1
        }
        -1
      }
      if (tag == A && lastAAfterMarker != -1) {
        error("nested <a>")
        adoptionAgency(name, A)
        val ai = lastAAfterMarker
        if (ai != -1) {
          val stale = afe(ai)
          afe.remove(ai)
          val si = stackIndexOf(stale.id)
          if (si != -1) removeAt(si)
        }
      }
      tableFixups(tag)
      val inTableCtx = top.is(TableContext)
      val hiddenInput = tag == Input &&
        attrs.exists { case (k, v) => k == "type" && v.equalsIgnoreCase("hidden") }
      // table-structure tokens never reconstruct formatting (the in-table/
      // in-row/in-cell modes insert structure directly); neither does
      // anything inside a select (in-select mode has no reconstruction).
      // The in-body block family (the p-closing tags plus li/dd/dt) also
      // inserts WITHOUT reconstructing — the spec reconstructs at the first
      // phrasing content inside the block instead, which is what nests the
      // formatting clone inside the block (html5ever yields div > a for
      // <a><div>text, not a > div)
      // exception inside the block family: <xmp> closes the p but DOES
      // reconstruct before entering raw text (spec in-body xmp steps)
      if ((bits & TableStructure) == 0 && !inSelect &&
          ((bits & ClosesP) == 0 || tag == Xmp) &&
          tag != Li && tag != Dd && tag != Dt &&
          (!inTableCtx || ((bits & TableLegal) == 0 && !hiddenInput))) reconstructAfe()
      val fosterNow = top.is(TableContext) && (bits & TableLegal) == 0 && !hiddenInput
      if (fosterNow) error(s"fostered <$name> out of table")
      // the element itself counts: a self-closing <svg/>/<math/> pops
      // immediately per the in-body foreign-element rules
      val id = arena.createElement(name, attrsAdj, if (inForeign) name else "html")
      insertNode(id, fosterNow)
      if (tag == Template) {
        val frag = arena.create(new MutNode(NodeKind.Fragment))
        arena(id).templateContents = frag
        attached(id, frag)
        push(frag, name, Template)
        afe += null // marker
      } else if ((bits & Formatting) != 0) {
        push(id, name, tag)
        pushFormatting(id, name, tag, attrs)
      } else if ((bits & Void) == 0 && !(selfClosing && inForeign)) {
        push(id, name, tag, if (inForeign) name else "html")
        if ((bits & Marker) != 0) afe += null
      }
    }

    /** Merge `attrs` into arena node `id`, keeping attributes it already has. */
    private def mergeAttrs(id: Int, attrs: List[(String, String)]): Unit =
      attrs.foreach { case (k, v) =>
        val nd = arena(id)
        if (!nd.attrs.contains(k)) nd.attrs(k) = v
      }

    private def handle(tok: Tok): Unit = tok match {
      case TDoctype(name, pub, sys) =>
        if (!fragment && htmlId == -1 && bodyId == -1 && !sawDoctype) {
          sawDoctype = true
          quirks = quirksFor(sawDoctype = true, name, pub, sys)
          val m = new MutNode(NodeKind.Doctype, name)
          m.text = if (pub.isEmpty && sys.isEmpty) null else s"$pub|$sys"
          val id = arena.create(m)
          appendChild(0, id)
        } else if (!fragment) error("unexpected doctype")
        // fragments drop the doctype (document.rs:70-71)

      case TComment(s) =>
        val target = if (fragment || bodyStarted || htmlId != -1) curParent else 0
        val id = arena.create(new MutNode(NodeKind.Comment, text = s))
        appendChild(target, id)

      case TText(s) =>
        def underHead: Boolean = {
          if (headId == -1) false
          else {
            var p = curParent
            var found = false
            while (p != -1 && !found) {
              if (p == headId) found = true else p = arena(p).parent
            }
            found
          }
        }
        val allWs = s.forall(Character.isWhitespace)
        if (fragment || bodyStarted) {
          if (!allWs) {
            if (top.is(TableContext)) error("fostered text out of table")
            // in-select inserts chars plainly; foreign content (outside
            // integration points) neither reconstructs nor fosters
            if (!inSelect && foreignNsFor(Unknown) == null) reconstructAfe()
            insertText(s, foster = true)
          } else insertText(s, foster = false)
        } else if (underHead) insertText(s, foster = false)
        else if (allWs) {
          // before-html/before-head: ignore; in-head: insert into head;
          // after-head: insert under html (spec "insert the character")
          if (headId != -1 && !headClosed && top.id != htmlId && top.id != 0) {
            insertText(s, foster = false)
          } else if (headClosed && htmlId != -1) appendChild(htmlId, arena.createText(s))
          // else ignore
        } else {
          ensureBody()
          reconstructAfe()
          insertText(s, foster = true)
        }

      case TStart(name, tag, attrs, selfClosing) =>
        tag match {
          case Html =>
            if (fragment) mergeAttrs(1, attrs)
            else if (htmlId == -1) {
              htmlId = arena.createElement(name, attrs)
              appendChild(0, htmlId)
              push(htmlId, name, Html)
            } else mergeAttrs(htmlId, attrs)
          case Head | Body if fragment => () // body-context fragment: flow through
          case Head =>
            // a stray <head> after the head exists is a parse error, ignored
            // (it must NOT re-route body content into the emitted head)
            if (headId == -1) {
              ensureHtml()
              headId = arena.createElement(name, attrs)
              appendChild(htmlId, headId)
              push(headId, name, Head)
            } else error("stray <head>")
          case Body =>
            if (bodyId == -1) {
              ensureHtml(); ensureHead(); headClosed = true
              while (top.tag != Html && top.tag != Root) popTop()
              bodyId = arena.createElement(name, attrs)
              appendChild(htmlId, bodyId)
              push(bodyId, name, Body)
              bodyStarted = true
            } else {
              // duplicate <body>: parse error; merge attributes, leave the
              // open-element stack untouched (html5ever)
              error("duplicate <body>")
              mergeAttrs(bodyId, attrs)
              bodyStarted = true
            }
          case _ =>
            val bits = Atoms.bits(tag)
            if (!fragment && !bodyStarted && (bits & HeadContent) != 0) {
              ensureHead()
              val id = arena.createElement(name, attrs)
              appendChild(headId, id)
              if (tag == Template) {
                val frag = arena.create(new MutNode(NodeKind.Fragment))
                arena(id).templateContents = frag
                attached(id, frag)
                push(frag, name, Template)
                afe += null
              } else if ((bits & Void) == 0) {
                push(id, name, tag)
              }
            } else {
              if (!fragment) ensureBody()
              startTagInBody(name, tag, attrs, selfClosing)
            }
        }

      case TEnd(name, _) if top.ns != "html" && foreignEndTag(name) => ()

      case TEnd(name, tag) =>
        // in-select: only option/optgroup/select/template end tags apply;
        // everything else (stray </i>, </li>, …) is ignored
        if (inSelect && tag != OptionTag && tag != Optgroup &&
            tag != Select && tag != Template) {
          error(s"ignored </$name> in select")
        } else tag match {
          case Html => () // after-html: ignore (doc); fragment scaffold never pops
          case Body =>
            if (!fragment && bodyId != -1) {
              while (top.id != bodyId && top.tag != Root) popTop()
            }
          // body stays open so trailing content still lands in it
          case Head =>
            headClosed = true
            if (top.tag == Head) popTop()
          case P =>
            if (inButtonScope(P)) { generateImplied(except = P); popThrough(P) }
            else if (bodyStarted || fragment) {
              // spec: </p> with no open p inserts an empty <p>
              val id = arena.createElement(name)
              insertNode(id, foster = top.is(TableContext))
            }
          case Template =>
            if (openCount(Template) > 0) popThrough(Template)
          case Table =>
            if (inTableScope(Table)) popThrough(Table) else error("stray </table>")
          case Tr | Td | Th | Tbody | Thead | Tfoot | Caption =>
            if (inTableScope(tag)) { generateImplied(); popThrough(tag) }
            else error(s"stray </$name>")
          case Li =>
            if (inListScope(Li)) { generateImplied(except = Li); popThrough(Li) }
            else error("stray </li>")
          case Dd | Dt =>
            if (inScope(tag)) { generateImplied(except = tag); popThrough(tag) }
            else error(s"stray </$name>")
          case _ =>
            val bits = Atoms.bits(tag)
            if ((bits & BlockEnd) != 0) {
              if (inScope(tag)) { generateImplied(); popThrough(tag) }
              else error(s"stray </$name>")
            } else if ((bits & Heading) != 0) {
              if (Headings.exists(h => inScope(h))) {
                generateImplied()
                while (stack.length > floor && !top.is(Heading)) popTop()
                if (top.is(Heading)) popTop()
              } else error(s"stray </$name>")
            } else if ((bits & Formatting) != 0) adoptionAgency(name, tag)
            else anyOtherEndTag(name, tag)
        }
    }

    def run(): Arena = {
      arena.create(new MutNode(if (fragment) NodeKind.Fragment else NodeKind.Document))
      push(0, "#root", Root)
      if (fragment) {
        // html5ever fragment layout (reference merge skips exactly these 3
        // scaffold nodes: root, stray body, html — ops.rs:443-452): content
        // lives under an <html> element child of the Fragment root, and a
        // detached body occupies arena id 2
        val htmlEl = arena.createElement("html") // id 1
        appendChild(0, htmlEl)
        arena.createElement("body") // id 2, detached
        push(htmlEl, "#fragment-html", FragmentHtml)
        quirks = "no-quirks"
      }
      tokenizeStreaming(html, () => stack.nonEmpty && top.ns != "html")(handle)
      // html5ever emits the html/head/body scaffold at EOF even for empty or
      // garbage input (test_html_root: Document::from("") has an html root)
      if (!fragment) ensureBody()
      arena.errors = errors.toList
      arena.quirksMode = quirks
      arena
    }
  }

  /** Parse a document or fragment and renumber it to preorder — the ingest
    * path behind `parse_html`, `parse_html_meta` and `Doc.parse`. */
  def parse(html: String, fragment: Boolean): Arena = {
    val (a, inPreorder) = buildFlagged(html, fragment)
    if (inPreorder) a else Renumber.preorder(a)
  }
}

/**
 * Renumber an arena so that arena index == preorder position. Fresh html5ever
 * parses are naturally preorder-numbered for non-reparented content; our
 * builder can create nodes out of order (implicit scaffolding, foster
 * parenting), so we canonicalize once at ingest — this is what makes
 * `subtree_end` a contiguous range (SURVEY.md §2.4 T4). `HtmlParser.parse`
 * skips it when the builder attached every node in preorder.
 */
object Renumber {
  /** Is arena id order already preorder? True for almost every fresh parse
    * (nodes are appended while descending) — skipping the rebuild then. */
  def isPreorder(a: Arena): Boolean = {
    if (a.size == 0) return false
    var expected = 0
    val stack = new Array[Int](a.size)
    var top = 0
    stack(top) = 0; top += 1
    while (top > 0) {
      top -= 1
      val cur = stack(top)
      if (cur != expected) return false
      expected += 1
      // children (and template contents first) in reverse push order
      var c = a(cur).lastChild
      while (c != -1) { stack(top) = c; top += 1; c = a(c).prev }
      val tc = a(cur).templateContents
      if (tc != -1) { stack(top) = tc; top += 1 }
    }
    expected == a.size
  }

  def preorder(a: Arena): Arena = {
    if (isPreorder(a)) return a
    val order = mutable.ArrayBuffer[Int]()
    val pos = mutable.HashMap[Int, Int]()
    def visit(id: Int): Unit = {
      val stack = mutable.ListBuffer[Int](id)
      while (stack.nonEmpty) {
        val cur = stack.remove(0)
        pos(cur) = order.length
        order += cur
        // push children in order (they'll be visited before later siblings
        // because we prepend)
        val kids = a.childIds(cur)
        stack.prependAll(kids)
        // also walk template contents fragments right after the element
        val tc = a(cur).templateContents
        if (tc != -1) stack.prepend(tc)
      }
    }
    visit(0)
    // any detached nodes (shouldn't exist fresh from parse) appended at end
    (0 until a.size).foreach(i => if (!pos.contains(i)) { pos(i) = order.length; order += i })
    val out = new Arena
    out.errors = a.errors
    out.quirksMode = a.quirksMode
    order.foreach { old =>
      val src = a(old)
      val m = src.deepCopyShallow()
      def mp(x: Int) = if (x == -1) -1 else pos(x)
      m.parent = mp(src.parent)
      m.prev = mp(src.prev)
      m.next = mp(src.next)
      m.firstChild = mp(src.firstChild)
      m.lastChild = mp(src.lastChild)
      m.templateContents = mp(src.templateContents)
      out.nodes += m
    }
    out
  }
}

/** HTML entity decoding with the FULL HTML5 named-reference table
 * ([[EntityTable]], 2,231 names) — the coverage html5ever gives the
 * reference. Semantics per the spec's character-reference states:
 *  - `&name;` exact match against the 2,125-name table (longest run first)
 *  - otherwise the longest LEGACY prefix (the 106 no-semicolon names)
 *    decodes — except in an ATTRIBUTE value when the next character is
 *    alphanumeric or `=` (`&notit;` -> `\u00ACit;` in text, untouched in an
 *    attribute; `<base foo=&amp>` -> `&`)
 *  - numeric references decode with or without the trailing semicolon,
 *    with the spec's windows-1252 remap of the C1 range, and U+FFFD for
 *    NUL / surrogates / out-of-range. */
object Entities {
  private val withSemi = EntityTable.withSemi
  private val legacy = EntityTable.legacy

  /** Spec numeric-character-reference-end remapping. */
  private def remapNumeric(cp: Int): Int = cp match {
    case 0x00 => 0xFFFD
    case 0x80 => 0x20AC; case 0x82 => 0x201A; case 0x83 => 0x0192
    case 0x84 => 0x201E; case 0x85 => 0x2026; case 0x86 => 0x2020
    case 0x87 => 0x2021; case 0x88 => 0x02C6; case 0x89 => 0x2030
    case 0x8A => 0x0160; case 0x8B => 0x2039; case 0x8C => 0x0152
    case 0x8E => 0x017D; case 0x91 => 0x2018; case 0x92 => 0x2019
    case 0x93 => 0x201C; case 0x94 => 0x201D; case 0x95 => 0x2022
    case 0x96 => 0x2013; case 0x97 => 0x2014; case 0x98 => 0x02DC
    case 0x99 => 0x2122; case 0x9A => 0x0161; case 0x9B => 0x203A
    case 0x9C => 0x0153; case 0x9E => 0x017E; case 0x9F => 0x0178
    case c if c > 0x10FFFF || (c >= 0xD800 && c <= 0xDFFF) => 0xFFFD
    case c => c
  }

  private def isAsciiAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  def decode(s: String): String = decode(s, inAttr = false)

  def decode(s: String, inAttr: Boolean): String = {
    if (s.indexOf('&') == -1) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else if (i + 1 < n && s.charAt(i + 1) == '#') {
        // numeric reference: decodes with or without the semicolon
        val hex = i + 2 < n && (s.charAt(i + 2) == 'x' || s.charAt(i + 2) == 'X')
        var j = i + (if (hex) 3 else 2)
        var cp = 0L
        var any = false
        while (j < n && {
          val d = Character.digit(s.charAt(j), if (hex) 16 else 10); d >= 0
        } && cp <= 0x10FFFF) {
          cp = cp * (if (hex) 16 else 10) + Character.digit(s.charAt(j), if (hex) 16 else 10)
          any = true; j += 1
        }
        while (j < n && Character.digit(s.charAt(j), if (hex) 16 else 10) >= 0) j += 1
        if (any) {
          sb.appendCodePoint(remapNumeric(math.min(cp, 0x110000L).toInt))
          i = j + (if (j < n && s.charAt(j) == ';') 1 else 0)
        } else { sb.append(c); i += 1 }
      } else {
        // named reference: longest alphanumeric run (names are [A-Za-z0-9]+)
        var j = i + 1
        val runEnd = math.min(n, i + 1 + EntityTable.maxNameLen)
        while (j < runEnd && isAsciiAlnum(s.charAt(j))) j += 1
        var decoded: String = null
        var consumed = 0
        if (j > i + 1 && j < n && s.charAt(j) == ';') {
          val v = withSemi.get(s.substring(i + 1, j))
          if (v != null) { decoded = v; consumed = j - i + 1 }
        }
        if (decoded == null && j > i + 1) {
          // longest legacy prefix of the run
          var len = math.min(EntityTable.legacyMaxLen, j - (i + 1))
          while (decoded == null && len >= 2) {
            val v = legacy.get(s.substring(i + 1, i + 1 + len))
            if (v != null) {
              val after = i + 1 + len
              val blocked = inAttr && after < n &&
                (isAsciiAlnum(s.charAt(after)) || s.charAt(after) == '=')
              if (!blocked) { decoded = v; consumed = 1 + len }
              else len = 0 // a shorter prefix would be blocked the same way
            } else len -= 1
          }
        }
        if (decoded != null) { sb.append(decoded); i += consumed }
        else { sb.append(c); i += 1 }
      }
    }
    sb.toString
  }

  /** Escape text content for HTML serialization (html5ever rules:
    * `&`, `<`, `>`, and U+00A0 → `&nbsp;`). */
  def escapeText(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case ' ' => sb.append("&nbsp;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Escape attribute values (`&`, `"`, U+00A0, plus `<`/`>` — html5ever
    * hardens attribute serialization against mutation-XSS; golden
    * `<base foo="<'>">` → `foo="&lt;'&gt;"`). */
  def escapeAttr(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '"' => sb.append("&quot;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case ' ' => sb.append("&nbsp;")
      case c => sb.append(c)
    }
    sb.toString
  }
}
