package graft.sources

import scala.collection.mutable

/**
 * The tag and attribute name table of the HTML parser, and the one place
 * the tree builder's tag categories are written down.
 *
 * Every known name (the HTML, SVG and MathML tag names the builder or the
 * serializer treats specially, and the common attribute names) is an atom:
 * a small int id, one canonical lower-case `String` instance and a bitmask
 * of the categories below. The tokenizer resolves each scanned tag or
 * attribute name to its atom straight from the character range
 * ([[lookupFolded]]), so a known name allocates no substring and the tree
 * builder tests categories by bit and compares tags by id.
 * Canonical instances flow into the arena, so everything downstream that
 * hashes a node name (the encoder's UTF-8 intern table, the type-position
 * counts) hits a `String` whose hash is already cached.
 *
 * An unknown name (a custom element, say) has id [[Unknown]] and no bits;
 * the tokenizer gives it a fresh lower-cased `String`, as any name had
 * before the table existed. Html5ever, the reference's parser, does the same
 * with its interned `LocalName` atoms.
 */
private[graft] object Atoms {

  /** Id of every name not in the table. */
  final val Unknown = 0

  // --- categories: one bit each ---------------------------------------------

  final val Void = 1L << 0
  final val RawText = 1L << 1
  final val Rcdata = 1L << 2
  /** Start tags that close an open `<p>` in button scope. */
  final val ClosesP = 1L << 3
  /** Start tags that go to `<head>` before the body starts. */
  final val HeadContent = 1L << 4
  final val TableSection = 1L << 5
  /** Formatting elements subject to the adoption agency algorithm. */
  final val Formatting = 1L << 6
  /** The HTML5 "special" category: stops "any other end tag" walks and
    * defines the adoption agency's furthest block. */
  final val Special = 1L << 7
  /** Stack entries that bound the default scope. */
  final val ScopeStop = 1L << 8
  final val ButtonScopeStop = 1L << 9
  final val ListScopeStop = 1L << 10
  final val TableScopeStop = 1L << 11
  /** Entering one pushes an active-formatting marker; popping one clears
    * the list back to it. */
  final val Marker = 1L << 12
  /** Popped by "generate implied end tags". */
  final val ImpliedEnd = 1L << 13
  /** Block end tags with default-scope close semantics. */
  final val BlockEnd = 1L << 14
  final val Heading = 1L << 15
  /** Start tags legal directly inside table/section/row context (anything
    * else is foster-parented before the table). */
  final val TableLegal = 1L << 16
  final val TableContext = 1L << 17
  /** Table-structure start tags: ignored outside a table or template. */
  final val TableStructure = 1L << 18
  /** Start tags that break out of foreign (SVG/MathML) content. */
  final val Breakout = 1L << 19
  /** Stops of "clear the stack back to a table context" (`<caption>`,
    * `<colgroup>`, `<col>`, a table section start). */
  final val TableClearStop = 1L << 20
  /** Stops of "clear the stack back to a table body context" (`<tr>`). */
  final val BodyClearStop = 1L << 21
  /** Stops of "clear the stack back to a table row context" (`<td>`, `<th>`). */
  final val RowClearStop = 1L << 22

  private val bitsByName = mutable.LinkedHashMap[String, Long]()
  private def cat(bit: Long, names: String*): Unit =
    names.foreach(n => bitsByName(n) = bitsByName.getOrElse(n, 0L) | bit)

  cat(Void, "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")
  cat(RawText, "script", "style", "xmp", "iframe", "noembed", "noframes")
  cat(Rcdata, "title", "textarea")
  cat(ClosesP, "address", "article", "aside", "blockquote", "center", "details",
    "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header",
    "hgroup", "hr", "listing", "main", "menu", "nav", "ol", "p",
    "plaintext", "pre", "section", "summary", "table", "ul", "xmp")
  cat(HeadContent, "title", "base", "link", "meta", "style", "script", "noscript", "template")
  cat(TableSection, "thead", "tbody", "tfoot")
  cat(Formatting, "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u")
  cat(Special, "address", "applet", "area", "article", "aside", "base", "basefont",
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
  private val baseScopeStops = Seq("applet", "caption", "html", "table", "td", "th",
    "marquee", "object", "template", "#root", "#fragment-html")
  cat(ScopeStop, baseScopeStops: _*)
  cat(ButtonScopeStop, baseScopeStops :+ "button": _*)
  cat(ListScopeStop, baseScopeStops ++ Seq("ol", "ul"): _*)
  cat(TableScopeStop, "html", "table", "template", "#root", "#fragment-html")
  cat(Marker, "applet", "caption", "marquee", "object", "template", "td", "th")
  cat(ImpliedEnd, "dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc")
  cat(BlockEnd, "address", "article", "aside", "blockquote", "button", "center",
    "details", "dialog", "dir", "div", "dl", "fieldset", "figcaption",
    "figure", "footer", "header", "hgroup", "listing", "main", "menu",
    "nav", "ol", "pre", "section", "summary", "ul")
  cat(Heading, "h1", "h2", "h3", "h4", "h5", "h6")
  cat(TableLegal, "caption", "colgroup", "col", "tbody", "tfoot", "thead", "tr", "td",
    "th", "script", "style", "template", "form")
  cat(TableContext, "table", "tbody", "tfoot", "thead", "tr")
  cat(TableStructure, "caption", "col", "colgroup", "tbody", "td", "tfoot", "th",
    "thead", "tr")
  cat(Breakout, "b", "big", "blockquote", "body", "br", "center", "code", "dd", "div",
    "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "hr", "i", "img", "li", "listing", "menu", "meta", "nobr", "ol", "p",
    "pre", "ruby", "s", "small", "span", "strong", "strike", "sub", "sup",
    "table", "tt", "u", "ul", "var")
  // the stack-clearing walks also stop at the document scaffold
  private val clearStops = Seq("table", "template", "html", "body", "#root", "#fragment-html")
  cat(TableClearStop, clearStops: _*)
  cat(BodyClearStop, clearStops ++ Seq("tbody", "tfoot", "thead"): _*)
  cat(RowClearStop, clearStops ++ Seq("tbody", "tfoot", "thead", "tr"): _*)
  // names without a category that the builder compares by id
  cat(0L, "option", "optgroup", "select", "svg", "math", "mglyph", "malignmark")
  // attribute names (the tokenizer resolves attribute keys too): ten common
  // ones, and every other name with at least a 1 % share of the attribute
  // keys on the benchmark pages (perfbench `Gen.pages`, seed 801: valign
  // 3.6 %, colspan 1.9 %, align 1.8 %)
  cat(0L, "href", "class", "id", "src", "rel", "type", "name", "style", "title",
    "alt", "valign", "colspan", "align")

  /** Id → canonical name; id 0 is [[Unknown]]. */
  val names: Array[String] = ("" +: bitsByName.keys.toSeq).toArray
  /** Id → category bits. */
  val bits: Array[Long] = (0L +: bitsByName.values.toSeq).toArray
  def size: Int = names.length

  // open-addressing table keyed by `String.hashCode` of the lower-case name
  // (the tokenizer computes the same polynomial while scanning)
  private val mask = Integer.highestOneBit(size * 4) * 2 - 1
  private val slots = new Array[Int](mask + 1)
  names.indices.drop(1).foreach { id =>
    var s = spread(names(id).hashCode) & mask
    while (slots(s) != Unknown) s = (s + 1) & mask
    slots(s) = id
  }
  @inline private def spread(h: Int): Int = h ^ (h >>> 16)

  /** Id of exactly `name` (case-sensitive), or [[Unknown]]. */
  def idOf(name: String): Int = {
    var s = spread(name.hashCode) & mask
    while (true) {
      val id = slots(s)
      if (id == Unknown || names(id) == name) return id
      s = (s + 1) & mask
    }
    Unknown
  }

  /** Is `name` (exact spelling) in category `cat`? */
  def is(name: String, cat: Long): Boolean = (bits(idOf(name)) & cat) != 0

  /** The lower-case form of one name character, as `Character.toLowerCase`
    * gives it, with an ASCII fast path. */
  @inline def fold(c: Char): Char =
    if (c < 128) { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c }
    else Character.toLowerCase(c)

  /** Id of the lower-cased form of `src[from, until)`, or [[Unknown]].
    * `hash` is the `String.hashCode` of that lower-cased form (the caller
    * folds it in while scanning the name: `h = 31 * h + fold(c)`). */
  def lookupFolded(src: String, from: Int, until: Int, hash: Int): Int = {
    val len = until - from
    var s = spread(hash) & mask
    while (true) {
      val id = slots(s)
      if (id == Unknown) return Unknown
      val nm = names(id)
      if (nm.length == len) {
        var k = 0
        while (k < len && fold(src.charAt(from + k)) == nm.charAt(k)) k += 1
        if (k == len) return id
      }
      s = (s + 1) & mask
    }
    Unknown
  }

  // ids the tree builder compares against
  val A: Int = idOf("a")
  val Body: Int = idOf("body")
  val Br: Int = idOf("br")
  val Button: Int = idOf("button")
  val Caption: Int = idOf("caption")
  val Col: Int = idOf("col")
  val Colgroup: Int = idOf("colgroup")
  val Dd: Int = idOf("dd")
  val Dt: Int = idOf("dt")
  val Font: Int = idOf("font")
  val FragmentHtml: Int = idOf("#fragment-html")
  val Head: Int = idOf("head")
  val Html: Int = idOf("html")
  val Hr: Int = idOf("hr")
  val Input: Int = idOf("input")
  val Keygen: Int = idOf("keygen")
  val Li: Int = idOf("li")
  val Malignmark: Int = idOf("malignmark")
  val MathTag: Int = idOf("math")
  val Mglyph: Int = idOf("mglyph")
  val Optgroup: Int = idOf("optgroup")
  val OptionTag: Int = idOf("option")
  val P: Int = idOf("p")
  val Root: Int = idOf("#root")
  val Script: Int = idOf("script")
  val Select: Int = idOf("select")
  val Svg: Int = idOf("svg")
  val Table: Int = idOf("table")
  val Tbody: Int = idOf("tbody")
  val Td: Int = idOf("td")
  val Template: Int = idOf("template")
  val Textarea: Int = idOf("textarea")
  val Tfoot: Int = idOf("tfoot")
  val Th: Int = idOf("th")
  val Thead: Int = idOf("thead")
  val Tr: Int = idOf("tr")
  val Xmp: Int = idOf("xmp")
  /** The six heading ids, for "any heading in scope". */
  val Headings: Array[Int] = names.indices.filter(i => (bits(i) & Heading) != 0).toArray
}
