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
 * Not a port: this is a from-scratch Scala implementation that matches the
 * reference's observable behavior on its test fixtures.
 */
object HtmlParser {

  val VoidElements: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  val RawTextElements: Set[String] = Set("script", "style", "xmp", "iframe", "noembed", "noframes")
  val RcdataElements: Set[String] = Set("title", "textarea")

  /** HTML5 "rules for parsing tokens in foreign content" data (public spec
    * tables; html5ever applies the same adjustments, which is how the
    * reference gets camelCase SVG names like `viewBox`/`foreignObject`). */
  private[sources] object ForeignContent {
    /** Start tags that break out of foreign content back to HTML. */
    private val Breakout: Set[String] = Set(
      "b", "big", "blockquote", "body", "br", "center", "code", "dd", "div",
      "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4", "h5", "h6", "head",
      "hr", "i", "img", "li", "listing", "menu", "meta", "nobr", "ol", "p",
      "pre", "ruby", "s", "small", "span", "strong", "strike", "sub", "sup",
      "table", "tt", "u", "ul", "var")

    def isBreakout(name: String, attrs: List[(String, String)]): Boolean =
      Breakout(name) || (name == "font" &&
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

  /** Start tags that close an open <p> (button scope), per HTML5 spec. */
  private val ClosesP: Set[String] = Set(
    "address", "article", "aside", "blockquote", "center", "details",
    "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header",
    "hgroup", "hr", "listing", "main", "menu", "nav", "ol", "p",
    "plaintext", "pre", "section", "summary", "table", "ul", "xmp")

  private val HeadContent: Set[String] = Set("title", "base", "link", "meta", "style", "script", "noscript", "template")

  private val TableSections = Set("thead", "tbody", "tfoot")

  // --- Tokenizer -----------------------------------------------------------

  sealed trait Tok
  case class TText(s: String) extends Tok
  case class TStart(name: String, attrs: List[(String, String)], selfClosing: Boolean) extends Tok
  case class TEnd(name: String) extends Tok
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
              val raw = html.substring(i + 2, j)
              val name = raw.takeWhile(ch => !Character.isWhitespace(ch)).toLowerCase
              if (name == "br") emit(TStart("br", Nil, selfClosing = false)) // spec: </br> acts as <br>
              else emit(TEnd(name))
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
              case TStart(name, _, false)
                  if (RawTextElements(name) || RcdataElements(name)) && !inForeign() =>
                // consume raw text until the matching close tag — manual
                // case-insensitive scan (a compiled regex per element instance
                // dominated tokenizer cost)
                val rawEnd = findCloseTag(html, i, name)
                val stop = if (rawEnd == -1) n else rawEnd
                val raw = html.substring(i, stop)
                val content = if (RcdataElements(name)) Entities.decode(raw) else raw
                if (content.nonEmpty) emit(TText(content))
                if (rawEnd != -1) {
                  val gt = html.indexOf('>', rawEnd)
                  emit(TEnd(name))
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
    while (i < n && {
      val ch = html.charAt(i)
      !Character.isWhitespace(ch) && ch != '>' && ch != '/'
    }) {
      if (Character.toLowerCase(html.charAt(i)) != html.charAt(i)) anyUpper = true
      i += 1
    }
    val name = lowerSlice(html, n0, i, anyUpper)
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
          while (i < n && {
            val ch = html.charAt(i)
            !Character.isWhitespace(ch) && ch != '=' && ch != '>' && ch != '/'
          }) {
            if (Character.toLowerCase(html.charAt(i)) != html.charAt(i)) kUpper = true
            i += 1
          }
          val key = lowerSlice(html, k0, i, kUpper)
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
    (TStart(name, attrs.toList, selfClosing), i, closed)
  }

  // --- Tree builder --------------------------------------------------------

  /** Formatting elements subject to the adoption agency algorithm
    * (HTML5 "active formatting elements"; html5ever gives the reference the
    * full algorithm via `Document::from`, `/root/reference/src/document.rs:44-55`). */
  val FormattingTags: Set[String] = Set(
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u")

  /** The HTML5 "special" element category (stops "any other end tag" walks
    * and defines the adoption agency furthest block). */
  private val Special: Set[String] = Set(
    "address", "applet", "area", "article", "aside", "base", "basefont",
    "bgsound", "blockquote", "body", "br", "button", "caption", "center",
    "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "frame", "frameset",
    "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup", "hr",
    "html", "iframe", "img", "input", "keygen", "li", "link", "listing",
    "main", "marquee", "menu", "meta", "nav", "noembed", "noframes",
    "noscript", "object", "ol", "p", "param", "plaintext", "pre", "script",
    "search", "section", "select", "source", "style", "summary", "table",
    "tbody", "td", "template", "textarea", "tfoot", "th", "thead", "title",
    "tr", "track", "ul", "wbr", "xmp", "#root", "#fragment-html")

  /** Elements whose stack entries bound the default scope. */
  private val BaseScopeStops: Set[String] = Set(
    "applet", "caption", "html", "table", "td", "th", "marquee", "object",
    "template", "#root", "#fragment-html")

  private val TableScopeStops: Set[String] =
    Set("html", "table", "template", "#root", "#fragment-html")

  // precomputed scope variants — building these per inButtonScope/inListScope
  // CALL was the top leaf of the tree-builder profile (a Set union per
  // start tag: closeImplied probes button scope for every ClosesP tag)
  private val ButtonScopeStops: Set[String] = BaseScopeStops + "button"
  private val ListScopeStops: Set[String] = BaseScopeStops ++ Set("ol", "ul")

  /** AFE marker elements: entering one pushes a marker; popping one clears
    * the active formatting list back to the marker. */
  private val MarkerTags: Set[String] =
    Set("applet", "caption", "marquee", "object", "template", "td", "th")

  private val ImpliedEnd: Set[String] =
    Set("dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc")

  /** Block end tags with default-scope close semantics. */
  private val BlockEnd: Set[String] = Set(
    "address", "article", "aside", "blockquote", "button", "center",
    "details", "dialog", "dir", "div", "dl", "fieldset", "figcaption",
    "figure", "footer", "header", "hgroup", "listing", "main", "menu",
    "nav", "ol", "pre", "section", "summary", "ul")

  private val Headings: Set[String] = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Start tags legal directly inside table/section/row context (anything
    * else is foster-parented before the table, per HTML5 "in table"). */
  private val TableLegal: Set[String] = Set(
    "caption", "colgroup", "col", "tbody", "tfoot", "thead", "tr", "td",
    "th", "script", "style", "template", "form")

  private val TableContext: Set[String] =
    Set("table", "tbody", "tfoot", "thead", "tr")

  /** Parse a full document: root = Document node at id 0 (`tree.rs:126-128`). */
  def parseDocument(html: String): Arena = build(html, fragment = false)

  /** Parse a fragment: root = Fragment node; doctype dropped
    * (`document.rs:60-88`, drops DOCTYPE at `:70-71`). Content nodes attach
    * directly under the fragment root (we skip html5ever's html/body
    * scaffolding, which the reference's merge also skips — `ops.rs:443-452`). */
  def parseFragment(html: String): Arena = build(html, fragment = true)

  private def build(html: String, fragment: Boolean): Arena =
    new TreeBuilder(html, fragment).run()

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
   */
  private final class TreeBuilder(html: String, fragment: Boolean) {

    private case class Open(id: Int, name: String, ns: String = "html")
    private final class Fmt(var id: Int, val name: String, val attrs: List[(String, String)])

    private val arena = new Arena
    private val stack = mutable.ArrayBuffer[Open]()
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

    // --- pointer surgery -----------------------------------------------------

    private def detach(id: Int): Unit = {
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

    private def inScope(name: String, stops: Set[String] = BaseScopeStops): Boolean = {
      var i = stack.length - 1
      while (i >= 0) {
        val e = stack(i)
        if (e.name == name) return true
        if (stops(e.name)) return false
        i -= 1
      }
      false
    }
    private def inButtonScope(name: String) = inScope(name, ButtonScopeStops)
    private def inListScope(name: String) = inScope(name, ListScopeStops)
    private def inTableScope(name: String) = inScope(name, TableScopeStops)
    private def idInScope(id: Int): Boolean = {
      var i = stack.length - 1
      while (i >= 0) {
        val e = stack(i)
        if (e.id == id) return true
        if (BaseScopeStops(e.name)) return false
        i -= 1
      }
      false
    }

    // --- stack helpers ----------------------------------------------------------

    private def popTop(): Unit = {
      val e = stack.remove(stack.length - 1)
      if (MarkerTags(e.name)) clearAfeToMarker()
    }
    private def popThrough(name: String): Unit = {
      var done = false
      while (!done && stack.length > floor) {
        val t = top.name
        popTop()
        if (t == name) done = true
      }
    }
    private def generateImplied(except: String = ""): Unit =
      while (stack.length > floor && ImpliedEnd(top.name) && top.name != except) popTop()

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
      if (!foster || !TableContext(top.name)) return (curParent, -1)
      var i = stack.length - 1
      while (i >= 0) {
        val e = stack(i)
        if (e.name == "template") return (e.id, -1)
        if (e.name == "table") {
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
      if (lastE == null || stack.exists(_.id == lastE.id)) return
      var i = afe.length - 1
      while (i > 0 && { val e = afe(i - 1); e != null && !stack.exists(_.id == e.id) }) i -= 1
      while (i < afe.length) {
        val e = afe(i)
        val id = arena.createElement(e.name, e.attrs)
        insertNode(id, foster = true)
        stack += Open(id, e.name)
        e.id = id
        i += 1
      }
    }

    /** Push with the Noah's ark clause (≤3 identical entries per marker scope). */
    private def pushFormatting(id: Int, name: String, attrs: List[(String, String)]): Unit = {
      var count = 0
      var earliest = -1
      var i = afe.length - 1
      var run = true
      while (run && i >= 0) {
        val e = afe(i)
        if (e == null) run = false
        else {
          if (e.name == name && e.attrs == attrs) { count += 1; earliest = i }
          i -= 1
        }
      }
      if (count >= 3 && earliest != -1) afe.remove(earliest)
      afe += new Fmt(id, name, attrs)
    }

    /** The HTML5 adoption agency algorithm (misnested formatting end tags,
      * e.g. `<b><i>x</b>y</i>`). Max 8 outer / 3 inner iterations per spec. */
    private def adoptionAgency(subject: String): Unit = {
      if (top.name == subject && !afe.exists(e => e != null && e.id == top.id)) {
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
          else if (e.name == subject) { fi = i; scan = false }
          else i -= 1
        }
        if (fi == -1) { anyOtherEndTag(subject); return }
        val fmt = afe(fi)
        val si = stack.indexWhere(_.id == fmt.id)
        if (si == -1) { error(s"</$subject>: formatting element not open"); afe.remove(fi); return }
        if (!idInScope(fmt.id)) { error(s"</$subject> out of scope"); return }
        if (top.id != fmt.id) error(s"misnested </$subject>")
        // furthest block: first special element above fmt on the stack
        var fb = -1
        var j = si + 1
        while (j < stack.length && fb == -1) {
          if (Special(stack(j).name)) fb = j else j += 1
        }
        if (fb == -1) {
          while (stack.length > si) popTop()
          val fiNow = afe.indexOf(fmt)
          if (fiNow != -1) afe.remove(fiNow)
          return
        }
        val furthestBlockId = stack(fb).id
        val commonAncestor = stack(si - 1).id
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
              stack.remove(nodeIdx)
            } else if (ai == -1) {
              stack.remove(nodeIdx)
            } else {
              val entry = afe(ai)
              val cloneId = arena.createElement(node.name, entry.attrs)
              entry.id = cloneId
              stack(nodeIdx) = Open(cloneId, node.name)
              if (lastNodeId == furthestBlockId) bookmark = ai + 1
              detach(lastNodeId)
              appendChild(cloneId, lastNodeId)
              lastNodeId = cloneId
            }
          }
        }
        // reparent lastNode under the common ancestor (foster-aware)
        detach(lastNodeId)
        val caNode = arena(commonAncestor)
        if (caNode.isElement && TableContext(caNode.name)) {
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
        afe.insert(math.min(math.max(bookmark, 0), afe.length), new Fmt(newFmtId, subject, fmt.attrs))
        val siNow = stack.indexWhere(_.id == fmt.id)
        if (siNow != -1) stack.remove(siNow)
        val fbNow = stack.indexWhere(_.id == furthestBlockId)
        stack.insert(fbNow + 1, Open(newFmtId, subject))
      }
    }

    /** HTML5 "any other end tag": walk up, pop through a match, stop at
      * special elements (stray end tags never pop past block structure). */
    private def anyOtherEndTag(name: String): Unit = {
      var i = stack.length - 1
      while (i >= floor) {
        val e = stack(i)
        if (e.name == name) {
          generateImplied(except = name)
          while (stack.exists(_.id == e.id)) popTop()
          return
        }
        if (Special(e.name)) { error(s"unexpected end tag </$name>"); return }
        i -= 1
      }
      error(s"stray end tag </$name>")
    }

    // --- implied closes on start tags ------------------------------------------------

    private def closeCellIfOpen(): Unit = {
      if (inTableScope("td")) { generateImplied(); popThrough("td") }
      else if (inTableScope("th")) { generateImplied(); popThrough("th") }
    }

    /** Nearest enclosing table/template boundary for table-structure tokens
      * (templates may host bare rows/cells — `<template><tr>…`). */
    private def nearestTableHost(): String = {
      var i = stack.length - 1
      while (i >= 0) {
        val nm = stack(i).name
        if (nm == "table" || nm == "template" ||
            nm == "#root" || nm == "#fragment-html") return nm
        i -= 1
      }
      "#root"
    }

    /** HTML5 "clear the stack back to a table/row/body context": pop open
      * elements (e.g. stray formatting) until a context element. */
    private def clearToContext(stops: Set[String]): Unit =
      while (stack.length > floor && !stops(top.name) &&
          top.name != "#root" && top.name != "#fragment-html" &&
          top.name != "html" && top.name != "body") popTop()

    private def closeImplied(incoming: String): Unit = {
      if (ClosesP(incoming) && inButtonScope("p")) {
        generateImplied(except = "p")
        popThrough("p")
      }
      def closeP(): Unit =
        if (inButtonScope("p")) { generateImplied(except = "p"); popThrough("p") }
      incoming match {
        case "li" =>
          if (inListScope("li")) { generateImplied(except = "li"); popThrough("li") }
          closeP() // spec li step 3: also close an open <p> in button scope
        case "dt" | "dd" =>
          if (inScope("dt")) { generateImplied(except = "dt"); popThrough("dt") }
          else if (inScope("dd")) { generateImplied(except = "dd"); popThrough("dd") }
          closeP()
        case "option" => if (top.name == "option") popTop()
        case "optgroup" =>
          if (top.name == "option") popTop()
          if (top.name == "optgroup") popTop()
        case "button" =>
          if (inScope("button")) { generateImplied(); popThrough("button") }
        case "tr" =>
          closeCellIfOpen()
          if (inTableScope("tr")) popThrough("tr")
          else clearToContext(Set("tbody", "tfoot", "thead", "table", "template"))
        case "td" | "th" =>
          closeCellIfOpen()
          clearToContext(Set("tr", "tbody", "tfoot", "thead", "table", "template"))
        case s if TableSections(s) =>
          closeCellIfOpen()
          if (inTableScope("tr")) popThrough("tr")
          if (TableSections(top.name)) popTop()
          clearToContext(Set("table", "template"))
        case "caption" | "colgroup" | "col" =>
          closeCellIfOpen()
          if (incoming != "caption" && inTableScope("tr")) popThrough("tr")
          clearToContext(Set("table", "template"))
        case "table" =>
          // <table> while directly in table context closes the current table
          if (TableContext(top.name) && inTableScope("table")) popThrough("table")
        case _ =>
      }
    }

    /** Implicit tbody/tr insertion for bare rows/cells in a table. */
    private def tableFixups(incoming: String): Unit = {
      incoming match {
        case "tr" if top.name == "table" =>
          val tb = arena.createElement("tbody")
          appendChild(curParent, tb)
          stack += Open(tb, "tbody")
        case "td" | "th" =>
          if (top.name == "table") {
            val tb = arena.createElement("tbody")
            appendChild(curParent, tb)
            stack += Open(tb, "tbody")
          }
          if (TableSections(top.name)) {
            val tr = arena.createElement("tr")
            appendChild(curParent, tr)
            stack += Open(tr, "tr")
          }
        case _ =>
      }
    }

    // --- scaffolding --------------------------------------------------------------

    private def ensureHtml(): Unit = if (!fragment && htmlId == -1) {
      htmlId = arena.createElement("html")
      appendChild(0, htmlId)
      stack += Open(htmlId, "html")
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
        while (top.name != "html" && top.name != "#root") popTop()
        bodyId = arena.createElement("body")
        appendChild(htmlId, bodyId)
        stack += Open(bodyId, "body")
      }
      bodyStarted = true
    }

    // --- token dispatch --------------------------------------------------------------

    private val TableStructure = Set(
      "caption", "col", "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr")

    /** "select scope": only option/optgroup sit between here and the select. */
    private def inSelect: Boolean = {
      var i = stack.length - 1
      while (i >= 0) {
        val nm = stack(i).name
        if (nm == "select") return true
        if (nm != "option" && nm != "optgroup") return false
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

    /** Namespace to process `tokName` under per the spec's tree-construction
      * dispatcher, or null for the normal HTML rules. */
    private def foreignNsFor(tokName: String): String = {
      val t = top
      if (t.ns == "html") null
      else if (ForeignContent.isMathTextIP(t.ns, t.name) &&
        tokName != "mglyph" && tokName != "malignmark") null
      else if (t.ns == "math" && t.name == "annotation-xml" && tokName == "svg") null
      else if (isHtmlIP(t)) null
      else t.ns
    }

    /** Foreign-content start tag: breakout back to HTML, or insert the
      * (case-adjusted) foreign element. Fostering never applies here. */
    private def foreignStartTag(ns: String, name: String,
        attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      if (ForeignContent.isBreakout(name, attrs)) {
        error(s"HTML <$name> breaks out of foreign content")
        while (top.ns != "html" &&
          !ForeignContent.isMathTextIP(top.ns, top.name) && !isHtmlIP(top)) popTop()
        startTagInBody(name, attrs, selfClosing) // reprocess per HTML rules
      } else {
        val adjName = if (ns == "svg") ForeignContent.adjustTagName(name) else name
        val id = arena.createElement(adjName, ForeignContent.adjustAttrs(ns, attrs), ns)
        insertNode(id, foster = false)
        if (!selfClosing) stack += Open(id, adjName, ns)
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

    private def startTagInBody(name: String, attrs: List[(String, String)],
        selfClosing: Boolean): Unit = {
      val fns = foreignNsFor(name)
      if (fns != null) { foreignStartTag(fns, name, attrs, selfClosing); return }
      // entering foreign content from HTML: <svg>/<math> adjust their own
      // attributes too (viewBox on the svg root itself)
      val attrsAdj =
        if (name == "svg" || name == "math") ForeignContent.adjustAttrs(name, attrs)
        else attrs
      // HTML5 "in select": only option/optgroup/hr/script/template content is
      // legal; a nested <select> acts as </select>; input/keygen/textarea
      // close the select and reprocess; anything else is ignored
      if (inSelect) name match {
        case "option" | "optgroup" | "hr" | "script" | "template" => ()
        case "select" =>
          error("nested <select>")
          popThrough("select")
          return
        case "input" | "keygen" | "textarea" =>
          error(s"<$name> closes open <select>")
          popThrough("select")
        case _ =>
          error(s"ignored <$name> in select")
          return
      }
      // table-structure tags outside any table/template are IGNORED per the
      // HTML5 "in body" rules (html5ever drops a bare <tr> in a div)
      if (TableStructure(name)) {
        nearestTableHost() match {
          case "table" | "template" => ()
          case _ => error(s"ignored <$name> outside table"); return
        }
      }
      closeImplied(name)
      // spec: a nested <a> runs the adoption agency for the open one — but
      // only if an <a> entry exists BETWEEN the end of the AFE list and the
      // last marker (an <a> inside a table cell does not see one outside it)
      def lastAAfterMarker: Int = {
        var i = afe.length - 1
        while (i >= 0) {
          val e = afe(i)
          if (e == null) return -1
          if (e.name == "a") return i
          i -= 1
        }
        -1
      }
      if (name == "a" && lastAAfterMarker != -1) {
        error("nested <a>")
        adoptionAgency("a")
        val ai = lastAAfterMarker
        if (ai != -1) {
          val stale = afe(ai)
          afe.remove(ai)
          val si = stack.indexWhere(_.id == stale.id)
          if (si != -1) stack.remove(si)
        }
      }
      tableFixups(name)
      val inTableCtx = TableContext(top.name)
      val hiddenInput = name == "input" &&
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
      if (!TableStructure(name) && !inSelect &&
          (!ClosesP(name) || name == "xmp") &&
          name != "li" && name != "dd" && name != "dt" &&
          (!inTableCtx || (!TableLegal(name) && !hiddenInput))) reconstructAfe()
      val fosterNow = TableContext(top.name) && !TableLegal(name) && !hiddenInput
      if (fosterNow) error(s"fostered <$name> out of table")
      // the element itself counts: a self-closing <svg/>/<math/> pops
      // immediately per the in-body foreign-element rules
      val inForeign = name == "svg" || name == "math"
      val id = arena.createElement(name, attrsAdj, if (inForeign) name else "html")
      insertNode(id, fosterNow)
      if (name == "template") {
        val frag = arena.create(new MutNode(NodeKind.Fragment))
        arena(id).templateContents = frag
        stack += Open(frag, "template")
        afe += null // marker
      } else if (FormattingTags(name)) {
        stack += Open(id, name)
        pushFormatting(id, name, attrs)
      } else if (!VoidElements(name) && !(selfClosing && inForeign)) {
        stack += Open(id, name, if (inForeign) name else "html")
        if (MarkerTags(name)) afe += null
      }
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
            if (TableContext(top.name)) error("fostered text out of table")
            // in-select inserts chars plainly; foreign content (outside
            // integration points) neither reconstructs nor fosters
            if (!inSelect && foreignNsFor("#text") == null) reconstructAfe()
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

      case TStart(name, attrs, selfClosing) =>
        name match {
          case "html" if fragment =>
            attrs.foreach { case (k, v) =>
              val h = arena(1)
              if (!h.attrs.contains(k)) h.attrs(k) = v
            }
          case "head" | "body" if fragment => () // body-context fragment: flow through
          case "html" if !fragment =>
            if (htmlId == -1) {
              htmlId = arena.createElement("html", attrs)
              appendChild(0, htmlId)
              stack += Open(htmlId, "html")
            } else attrs.foreach { case (k, v) =>
              val h = arena(htmlId)
              if (!h.attrs.contains(k)) h.attrs(k) = v
            }
          case "head" if !fragment =>
            // a stray <head> after the head exists is a parse error, ignored
            // (it must NOT re-route body content into the emitted head)
            if (headId == -1) {
              ensureHtml()
              headId = arena.createElement("head", attrs)
              appendChild(htmlId, headId)
              stack += Open(headId, "head")
            } else error("stray <head>")
          case "body" if !fragment =>
            if (bodyId == -1) {
              ensureHtml(); ensureHead(); headClosed = true
              while (top.name != "html" && top.name != "#root") popTop()
              bodyId = arena.createElement("body", attrs)
              appendChild(htmlId, bodyId)
              stack += Open(bodyId, "body")
              bodyStarted = true
            } else {
              // duplicate <body>: parse error; merge attributes, leave the
              // open-element stack untouched (html5ever)
              error("duplicate <body>")
              attrs.foreach { case (k, v) =>
                val b = arena(bodyId)
                if (!b.attrs.contains(k)) b.attrs(k) = v
              }
              bodyStarted = true
            }
          case _ =>
            if (!fragment && !bodyStarted && HeadContent(name)) {
              ensureHead()
              val id = arena.createElement(name, attrs)
              appendChild(headId, id)
              if (name == "template") {
                val frag = arena.create(new MutNode(NodeKind.Fragment))
                arena(id).templateContents = frag
                stack += Open(frag, "template")
                afe += null
              } else if (!VoidElements(name)) {
                stack += Open(id, name)
              }
            } else {
              if (!fragment) ensureBody()
              startTagInBody(name, attrs, selfClosing)
            }
        }

      case TEnd(name) if top.ns != "html" && foreignEndTag(name) => ()

      case TEnd(name) =>
        // in-select: only option/optgroup/select/template end tags apply;
        // everything else (stray </i>, </li>, …) is ignored
        if (inSelect && name != "option" && name != "optgroup" &&
            name != "select" && name != "template") {
          error(s"ignored </$name> in select")
        } else name match {
          case "html" => () // after-html: ignore (doc); fragment scaffold never pops
          case "body" =>
            if (!fragment && bodyId != -1) {
              while (top.id != bodyId && top.name != "#root") popTop()
            }
          // body stays open so trailing content still lands in it
          case "head" =>
            headClosed = true
            if (top.name == "head") popTop()
          case "p" =>
            if (inButtonScope("p")) { generateImplied(except = "p"); popThrough("p") }
            else if (bodyStarted || fragment) {
              // spec: </p> with no open p inserts an empty <p>
              val id = arena.createElement("p")
              insertNode(id, foster = TableContext(top.name))
            }
          case "template" =>
            if (stack.exists(_.name == "template")) popThrough("template")
          case "table" =>
            if (inTableScope("table")) popThrough("table") else error("stray </table>")
          case "tr" | "td" | "th" | "tbody" | "thead" | "tfoot" | "caption" =>
            if (inTableScope(name)) { generateImplied(); popThrough(name) }
            else error(s"stray </$name>")
          case "li" =>
            if (inListScope("li")) { generateImplied(except = "li"); popThrough("li") }
            else error("stray </li>")
          case "dd" | "dt" =>
            if (inScope(name)) { generateImplied(except = name); popThrough(name) }
            else error(s"stray </$name>")
          case n if BlockEnd(n) =>
            if (inScope(n)) { generateImplied(); popThrough(n) }
            else error(s"stray </$n>")
          case n if Headings(n) =>
            if (Headings.exists(h => inScope(h))) {
              generateImplied()
              while (stack.length > floor && !Headings(top.name)) popTop()
              if (Headings(top.name)) popTop()
            } else error(s"stray </$n>")
          case n if FormattingTags(n) => adoptionAgency(n)
          case n => anyOtherEndTag(n)
        }
    }

    def run(): Arena = {
      arena.create(new MutNode(if (fragment) NodeKind.Fragment else NodeKind.Document))
      stack += Open(0, "#root")
      if (fragment) {
        // html5ever fragment layout (reference merge skips exactly these 3
        // scaffold nodes: root, stray body, html — ops.rs:443-452): content
        // lives under an <html> element child of the Fragment root, and a
        // detached body occupies arena id 2
        val htmlEl = arena.createElement("html") // id 1
        appendChild(0, htmlEl)
        arena.createElement("body") // id 2, detached
        stack += Open(htmlEl, "#fragment-html")
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
  def parse(html: String, fragment: Boolean): Arena =
    Renumber.preorder(build(html, fragment))
}

/**
 * Renumber an arena so that arena index == preorder position. Fresh html5ever
 * parses are naturally preorder-numbered for non-reparented content; our
 * builder can create nodes out of order (implicit scaffolding, foster
 * parenting), so we canonicalize once at ingest — this is what makes
 * `subtree_end` a contiguous range (SURVEY.md §2.4 T4).
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
