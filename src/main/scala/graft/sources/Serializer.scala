package graft.sources

import graft.css.NodeAccess

/**
 * Serialization operators (S4/S5/S6 in SURVEY.md §2.1), implemented over the
 * abstract [[NodeAccess]] view, like the reference
 * (`src/node/serializing.rs:25-86`, `src/node/text_formatting.rs`).
 * [[toHtml]] and [[formattedText]] walk the tree with an explicit stack (no
 * recursion); [[toMd]] recurses through `writeElement`/`writeList`, so its
 * JVM stack grows with the nesting depth.
 */
object Serializer {

  private sealed trait Op
  private case class Open(id: Int) extends Op
  private case class Close(name: String) extends Op

  private def childOps(acc: NodeAccess, id: Int): List[Op] = {
    var kids: List[Op] = Nil
    var c = acc.lastChild(id)
    while (c != -1) { kids = Open(c) :: kids; c = acc.prevSibling(c) }
    kids
  }

  /** Serialize to HTML. `includeRoot=true` ≈ `html()`, false ≈ `inner_html()`
    * (reference `node_ref.rs:560-602`). Template contents are serialized
    * inside their host element (serializing.rs:60-63). Void-element and
    * raw-text serialization rules apply to HTML-namespace elements only: an
    * SVG element that happens to be NAMED `area`/`title` keeps its children
    * and escaping. Namespace is the STORED per-element `ns` column (the
    * reference serializes by stored QualName, `node_data.rs:64`) — state,
    * not structural inference, so a foreign subtree reparented under an HTML
    * ancestor keeps closed-foreign semantics (VERDICT r3 ask #5). */
  def toHtml(acc: NodeAccess, root: Int, includeRoot: Boolean,
      templateContents: Int => Int = _ => -1): String = {
    val sb = new java.lang.StringBuilder
    var stack: List[Op] =
      if (includeRoot) List(Open(root)) else childOps(acc, root)
    while (stack.nonEmpty) {
      val op = stack.head
      stack = stack.tail
      op match {
        case Open(id) =>
          acc.kind(id) match {
            case "element" =>
              val name = acc.name(id)
              sb.append('<').append(name)
              attrSeq(acc, id).foreach { case (k, v) =>
                sb.append(' ').append(k).append("=\"").append(Entities.escapeAttr(v)).append('"')
              }
              sb.append('>')
              if (!(acc.ns(id) == "html" && Atoms.is(name, Atoms.Void))) {
                stack = Close(name) :: stack
                var kids = childOps(acc, id)
                val tc = templateContents(id)
                if (tc != -1) kids = Open(tc) :: kids
                stack = kids ::: stack
              }
            case "text" =>
              val t = acc.text(id)
              if (t != null) {
                // raw-text element contents are not escaped (html5ever
                // serializer) — HTML-namespace raw-text elements only
                val p = acc.parent(id)
                val rawParent = p != -1 && acc.isElement(p) && acc.ns(p) == "html" &&
                  (Atoms.is(acc.name(p), Atoms.RawText) || acc.name(p) == "plaintext")
                sb.append(if (rawParent) t else Entities.escapeText(t))
              }
            case "comment" =>
              sb.append("<!--").append(if (acc.text(id) == null) "" else acc.text(id)).append("-->")
            case "doctype" =>
              sb.append("<!DOCTYPE ").append(acc.name(id)).append('>')
            case "pi" =>
              sb.append("<?").append(if (acc.text(id) == null) "" else acc.text(id)).append('>')
            case _ => // document/fragment: children only
              stack = childOps(acc, id) ::: stack
          }
        case Close(name) =>
          sb.append("</").append(name).append('>')
      }
    }
    sb.toString
  }

  /** Attribute iteration in stored order. NodeAccess has no attr iterator —
    * provided by the concrete views. */
  private def attrSeq(acc: NodeAccess, id: Int): Seq[(String, String)] = acc match {
    case aa: AttrIterable => aa.attrEntries(id)
    case _ => Nil
  }

  /** Whitespace-normalized text with block-element line-break rules —
    * S6/X8, semantics from `src/node/text_formatting.rs:11-144`:
    *  - text runs whitespace-collapsed, word-joined by single spaces
    *  - block elements (article blockquote section div p pre h1-h6 ul ol dl
    *    table) force "\n\n" after (and a "\n" before if text doesn't already
    *    end with a break)
    *  - br/hr/li/tr force "\n"; td/th force a single space
    *  - `<pre>` subtree text is included verbatim
    *  - for includeRoot=false, trailing whitespace is trimmed. */
  def formattedText(acc: NodeAccess, root: Int, includeRoot: Boolean): String = {
    val text = new java.lang.StringBuilder
    var stack: List[Op] =
      if (includeRoot) List(Open(root)) else childOps(acc, root)

    def endsWith(s: String): Boolean =
      text.length >= s.length && text.substring(text.length - s.length) == s
    def endsWithAny(cs: Char*): Boolean =
      text.length > 0 && cs.contains(text.charAt(text.length - 1))
    def trimRightSpace(): Unit =
      while (text.length > 0 && text.charAt(text.length - 1) == ' ')
        text.setLength(text.length - 1)

    // Rust char::is_whitespace = Unicode White_Space (includes U+00A0);
    // Java Character.isWhitespace does NOT — match the reference exactly.
    def isUws(c: Char): Boolean =
      if (c == '\u0085') true
      else if (c >= '\u001C' && c <= '\u001F') false
      else Character.isWhitespace(c) || Character.isSpaceChar(c)
    def pushNormalized(newText: String): Unit = {
      val followsNewline = text.length == 0 || endsWithAny('\n', ' ')
      val pushStartWs = !followsNewline && newText.nonEmpty && isUws(newText.charAt(0))
      val pushEndWs = newText.nonEmpty && isUws(newText.charAt(newText.length - 1))
      val words = splitUws(newText)
      val result = new java.lang.StringBuilder
      if (words.nonEmpty) {
        if (pushStartWs) result.append(' ')
        result.append(words.mkString(" "))
      }
      if (result.length == 0 && followsNewline) return
      text.append(result)
      if (pushEndWs && !(text.length > 0 && isUws(text.charAt(text.length - 1))))
        text.append(' ')
    }
    def splitUws(s: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val b = new java.lang.StringBuilder
      s.foreach { c =>
        if (isUws(c)) { if (b.length > 0) { out += b.toString; b.setLength(0) } }
        else b.append(c)
      }
      if (b.length > 0) out += b.toString
      out.toArray
    }

    val lineBreakElems = Set("article", "blockquote", "section", "div", "p", "pre",
      "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "dl", "table")

    def closeAdjust(name: String): Unit = {
      if (text.length == 0 || endsWith("\n\n")) return
      if (lineBreakElems(name)) { trimRightSpace(); text.append("\n\n") }
      else if (name == "br" || name == "hr" || name == "li" || name == "tr") {
        trimRightSpace(); text.append('\n')
      } else if ((name == "td" || name == "th") && !endsWithAny('\n', ' ')) text.append(' ')
    }

    while (stack.nonEmpty) {
      val op = stack.head
      stack = stack.tail
      op match {
        case Open(id) =>
          acc.kind(id) match {
            case "text" => if (acc.text(id) != null) pushNormalized(acc.text(id))
            case "element" =>
              val name = acc.name(id)
              if (!(text.length == 0 || endsWith("\n\n")) && lineBreakElems(name))
                text.append('\n')
              stack = Close(name) :: stack
              if (name == "pre") {
                text.append(acc.subtreeText(id))
              } else {
                stack = childOps(acc, id) ::: stack
              }
            case _ => stack = childOps(acc, id) ::: stack
          }
        case Close(name) => closeAdjust(name)
      }
    }
    var out = text.toString
    if (!includeRoot) {
      var end = out.length
      while (end > 0 && isUws(out.charAt(end - 1))) end -= 1
      out = out.substring(0, end)
    }
    out
  }

  /**
   * Markdown serialization (S5) — a behavioral re-expression of the
   * reference's stack-driven writer (`src/serializing/md/serializer.rs:95-168`
   * `write`, `:190-214` element dispatch, text normalization
   * `md/text_utils.rs:6-47`, constants `md/constants.rs:1-7`):
   * normalized+escaped prose (escape set ``` ` * _ { } [ ] < > ( ) # + . ! | " ```),
   * *italic* / **bold** prefixes-suffixes, `[label](href "title")` links
   * (label is text-only; no-href links degrade to content,
   * `serializer.rs:311-337`), `![alt](src "title")` images, fenced ``` pre
   * blocks with data-lang / data-language / `language-*`-class detection
   * (`serializer.rs:340-379`), inline vs multiline `code`
   * (`serializer.rs:383-403`), `> `-prefixed blockquotes built from a
   * recursive sub-render (`serializer.rs:405-425`), "- "/"1. " lists with
   * 4-space nesting, paragraph continuation inside items and list-breaking
   * non-li blocks (`serializer.rs:216-290`), pipe tables with th headers,
   * nested-table/ragged-row degradation and `<br>`-mode cell rendering
   * (`serializer.rs:427-483,545-563`), and `  \n` hard breaks for br/li/tr
   * closes outside their context (`serializer.rs:150-159`). Default skip
   * list: script, style, meta, head; a skipped tag drops its whole subtree.
   * includeRoot=true keeps leading/trailing whitespace (`serializer.rs:162-167`).
   */
  def toMd(acc: NodeAccess, root: Int, includeRoot: Boolean,
      skipTags: Seq[String] = Seq("script", "style", "meta", "head")): String = {
    val skip = skipTags.toSet
    val EscapeChars: Set[Char] = Set('`', '*', '_', '{', '}', '[', ']', '<',
      '>', '(', ')', '#', '+', '.', '!', '|', '"')
    val ListOffsetBase = 4
    val LangAttrs = Seq("data-lang", "data-language")
    val mdBlocks = Set("article", "blockquote", "section", "div", "p",
      "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "dl", "table", "hr")

    case class Opts(includeNode: Boolean = false, ignoreLinebreak: Boolean = false,
        skipEscape: Boolean = false, offset: Int = 0, br: Boolean = false)

    type B = java.lang.StringBuilder
    def lb(opts: Opts): String = if (opts.br) "<br>" else "\n"
    // Rust char::is_whitespace = Unicode White_Space exactly: Java
    // isWhitespace misses U+0085/U+00A0/U+2007/U+202F (NEL + no-break
    // spaces — &nbsp; is everywhere in real HTML) and wrongly includes
    // U+001C..U+001F; isSpaceChar supplies Zs/Zl/Zp including no-break.
    def isWs(c: Char): Boolean =
      if (c == '\u0085') true
      else if (c >= '\u001C' && c <= '\u001F') false
      else Character.isWhitespace(c) || Character.isSpaceChar(c)

    /** Rust `split_whitespace()`: split on White_Space runs, no empties. */
    def splitWs(s: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0; val n = s.length
      while (i < n) {
        while (i < n && isWs(s.charAt(i))) i += 1
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        if (i > start) out += s.substring(start, i)
      }
      out.toArray
    }

    def trimRightSpace(sb: B): Unit =
      while (sb.length > 0 && sb.charAt(sb.length - 1) == ' ') sb.setLength(sb.length - 1)

    def endsWith(sb: B, s: String): Boolean = {
      val n = sb.length
      s.length <= n && sb.subSequence(n - s.length, n).toString == s
    }

    def addLinebreaks(sb: B, linebreak: String, end: String): Unit = {
      trimRightSpace(sb)
      while (!endsWith(sb, end)) sb.append(linebreak)
    }

    def pushEscapedChunk(sb: B, chunk: String, escapeAll: Boolean): Unit = {
      var prevEscape = false
      var i = 0
      while (i < chunk.length) {
        val c = chunk.charAt(i)
        val should = if (escapeAll) EscapeChars(c) else c == '`'
        if (should && !prevEscape) sb.append('\\')
        prevEscape = c == '\\'
        sb.append(c)
        i += 1
      }
    }

    /** `md/text_utils.rs:6-33`: whitespace-normalized, escaped word push with
      * boundary-space bookkeeping against the buffer tail. */
    def pushNormalizedText(sb: B, s: String, escapeAll: Boolean): Unit = {
      val followsNewline = sb.length == 0 || {
        val c = sb.charAt(sb.length - 1); c == '\n' || c == ' '
      }
      val pushStart = !followsNewline && s.nonEmpty && isWs(s.charAt(0))
      val pushEnd = s.nonEmpty && isWs(s.charAt(s.length - 1))
      val words = splitWs(s)
      val result = new java.lang.StringBuilder
      if (words.nonEmpty) {
        if (pushStart) result.append(' ')
        pushEscapedChunk(result, words(0), escapeAll)
        var i = 1
        while (i < words.length) {
          result.append(' '); pushEscapedChunk(result, words(i), escapeAll); i += 1
        }
      }
      if (result.length == 0 && followsNewline) return
      sb.append(result)
      if (pushEnd && (sb.length == 0 || !isWs(sb.charAt(sb.length - 1)))) sb.append(' ')
    }

    def mdPrefix(nm: String): String = nm match {
      case "h1" => "# "; case "h2" => "## "; case "h3" => "### "
      case "h4" => "#### "; case "h5" => "##### "; case "h6" => "###### "
      case "strong" | "b" => "**"
      case "em" | "i" => "*"
      case "hr" => "---"
      case _ => ""
    }
    def mdSuffix(nm: String): String = nm match {
      case "strong" | "b" => "**"
      case "em" | "i" => "*"
      case _ => ""
    }

    def childIds(id: Int): List[Int] = {
      val b = List.newBuilder[Int]
      var c = acc.firstChild(id)
      while (c != -1) { b += c; c = acc.nextSibling(c) }
      b.result()
    }

    def sanitizeAttrValue(raw: String): String =
      splitWs(raw).headOption.getOrElse("").filter(ch =>
        (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
        (ch >= '0' && ch <= '9') || ch == '-' || ch == '_' || ch == '+' ||
        ch == '.' || ch == '#')

    def langAttr(i: Int): Option[String] =
      LangAttrs.iterator.map(a => acc.attr(i, a)).find(_ != null).map(sanitizeAttrValue)

    /** `serializer.rs:340-365`: data-lang on the node, then up to 3 ancestors,
      * then a `language-*` class on the first `code` element child. */
    def findCodeLanguage(id: Int): Option[String] =
      langAttr(id)
        .orElse {
          var p = acc.parent(id); var depth = 0; var found: Option[String] = None
          while (p != -1 && depth < 3 && found.isEmpty) {
            found = langAttr(p); p = acc.parent(p); depth += 1
          }
          found
        }
        .orElse {
          var c = acc.firstChild(id); var res: Option[String] = None; var done = false
          while (c != -1 && !done) {
            if (acc.isElement(c) && acc.name(c) == "code") {
              done = true
              val cls = acc.attr(c, "class")
              if (cls != null)
                res = splitWs(cls).find(_.startsWith("language-"))
                  .map(s => sanitizeAttrValue(s.substring("language-".length)))
            } else c = acc.nextSibling(c)
          }
          res
        }

    def anyDescendantTextMultiline(id: Int): Boolean = {
      var stack = childIds(id)
      while (stack.nonEmpty) {
        val i = stack.head; stack = stack.tail
        if (acc.isText(i)) {
          val t = acc.text(i)
          if (t != null && t.trim.contains('\n')) return true
        } else if (acc.isElement(i)) stack = childIds(i) ::: stack
      }
      false
    }

    def hasDescendantTable(id: Int): Boolean = {
      var stack = childIds(id)
      while (stack.nonEmpty) {
        val i = stack.head; stack = stack.tail
        if (acc.isElement(i)) {
          if (acc.name(i) == "table") return true
          stack = childIds(i) ::: stack
        }
      }
      false
    }

    sealed trait Op
    final case class Open(id: Int) extends Op
    final case class CloseTag(name: String) extends Op

    def write(sb: B, rootId: Int, opts: Opts): Unit = {
      val linebreak = lb(opts)
      val dbl = linebreak * 2
      var ops: List[Op] =
        if (opts.includeNode) List(Open(rootId))
        else childIds(rootId).map(Open(_))
      while (ops.nonEmpty) {
        val op = ops.head; ops = ops.tail
        op match {
          case Open(id) =>
            if (acc.isText(id)) {
              val t = acc.text(id)
              pushNormalizedText(sb, if (t == null) "" else t, !opts.skipEscape)
            } else if (acc.isElement(id)) {
              val nm = acc.name(id)
              if (!skip(nm)) {
                if (!opts.ignoreLinebreak && mdBlocks(nm)) addLinebreaks(sb, linebreak, dbl)
                val pre = mdPrefix(nm)
                if (pre.nonEmpty) sb.append(pre)
                if (!writeElement(sb, id, nm, opts))
                  ops = childIds(id).map(Open(_)) ::: (CloseTag(nm) :: ops)
              }
            }
          case CloseTag(nm) =>
            val suf = mdSuffix(nm)
            if (suf.nonEmpty) sb.append(suf)
            if (!endsWith(sb, dbl)) {
              if (!opts.ignoreLinebreak && mdBlocks(nm)) addLinebreaks(sb, linebreak, dbl)
              else if (nm == "br" || nm == "li" || nm == "tr") {
                // <br> as a markdown hard break; li/tr fallback outside context
                trimRightSpace(sb)
                sb.append("  ").append(linebreak)
              }
            }
        }
      }
      if (!opts.includeNode) {
        while (sb.length > 0 && isWs(sb.charAt(sb.length - 1))) sb.setLength(sb.length - 1)
        var lead = 0
        while (lead < sb.length && isWs(sb.charAt(lead))) lead += 1
        if (lead > 0) sb.delete(0, lead)
      }
    }

    /** text-only flattening for link labels (`serializer.rs:170-186`). */
    def writeTextOnly(sb: B, rootId: Int): Unit = {
      var stack = List(rootId)
      while (stack.nonEmpty) {
        val i = stack.head; stack = stack.tail
        if (acc.isText(i)) {
          val t = acc.text(i)
          pushNormalizedText(sb, if (t == null) "" else t, escapeAll = true)
        } else if (acc.isElement(i)) stack = childIds(i) ::: stack
      }
    }

    def writeElement(sb: B, id: Int, nm: String, opts: Opts): Boolean = nm match {
      case "ul" => writeList(sb, id, if (opts.br) "+ " else "- ", opts); true
      case "ol" => writeList(sb, id, "1. ", opts); true
      case "a" => writeLink(sb, id); true
      case "img" => writeImg(sb, id); true
      case "pre" => writePre(sb, id); true
      case "blockquote" => writeBlockquote(sb, id); true
      case "table" => writeTable(sb, id); true
      case "code" => writeCode(sb, id); true
      case _ => false
    }

    def writeListItemBlocks(sb: B, li: Int, ctxOpts: Opts, linebreak: String,
        indent: String, prefix: String): Unit = {
      val blockIndent = " " * prefix.length
      trimRightSpace(sb)
      sb.append(indent).append(prefix)
      var first = true
      var c = acc.firstChild(li)
      while (c != -1) {
        val isListTag = acc.isElement(c) &&
          (acc.name(c) == "ul" || acc.name(c) == "ol")
        val isBlock = acc.isElement(c) && !isListTag && mdBlocks(acc.name(c))
        if (isBlock) {
          if (first) first = false else sb.append(blockIndent)
          write(sb, c, ctxOpts)
          sb.append(linebreak).append(linebreak)
        } else write(sb, c, ctxOpts.copy(includeNode = true))
        c = acc.nextSibling(c)
      }
    }

    def writeList(sb: B, listId: Int, prefix: String, opts: Opts): Unit = {
      val indent = " " * (opts.offset * ListOffsetBase)
      val ctxOpts = opts.copy(offset = opts.offset + 1)
      val linebreak = lb(opts)
      var c = acc.firstChild(listId)
      while (c != -1) {
        val isLi = acc.isElement(c) && acc.name(c) == "li"
        val hasBlocks = childIds(c).exists { k =>
          acc.isElement(k) && acc.name(k) != "ul" && acc.name(k) != "ol" &&
          mdBlocks(acc.name(k))
        }
        if (isLi && hasBlocks) writeListItemBlocks(sb, c, ctxOpts, linebreak, indent, prefix)
        else if (isLi) {
          trimRightSpace(sb)
          sb.append(indent).append(prefix)
          write(sb, c, ctxOpts)
          sb.append(linebreak)
        } else write(sb, c, Opts(includeNode = true))
        c = acc.nextSibling(c)
      }
    }

    def writeLink(sb: B, id: Int): Unit = {
      val href = acc.attr(id, "href")
      if (href != null) {
        val label = new java.lang.StringBuilder
        writeTextOnly(label, id)
        if (label.length > 0) {
          sb.append('[')
          pushNormalizedText(sb, label.toString, escapeAll = true)
          sb.append("](").append(href)
          val title = acc.attr(id, "title")
          if (title != null) {
            sb.append(" \"")
            pushNormalizedText(sb, title, escapeAll = true)
            sb.append('"')
          }
          sb.append(')')
        }
      } else write(sb, id, Opts())
    }

    def writeImg(sb: B, id: Int): Unit = {
      val src = acc.attr(id, "src")
      if (src != null) {
        sb.append("![")
        val alt = acc.attr(id, "alt")
        if (alt != null) sb.append(alt)
        sb.append("](").append(src)
        val title = acc.attr(id, "title")
        if (title != null) sb.append(" \"").append(title).append('"')
        sb.append(')')
      }
    }

    def writePre(sb: B, id: Int): Unit = {
      sb.append("\n```")
      findCodeLanguage(id).foreach(sb.append)
      sb.append('\n')
      sb.append(acc.subtreeText(id))
      sb.append("\n```\n")
    }

    def writeCode(sb: B, id: Int): Unit = {
      if (anyDescendantTextMultiline(id)) writePre(sb, id)
      else {
        sb.append('`')
        val buf = new java.lang.StringBuilder
        write(buf, id, Opts(skipEscape = true))
        sb.append(buf)
        sb.append('`')
      }
    }

    def writeBlockquote(sb: B, id: Int): Unit = {
      val buf = new java.lang.StringBuilder
      write(buf, id, Opts())
      if (buf.length == 0) return
      while (!endsWith(sb, "\n\n")) sb.append('\n')
      buf.toString.split("\n", -1).foreach { line =>
        sb.append("> ").append(line).append('\n')
      }
      sb.append('\n')
    }

    /** `serializer.rs:545-563`: a table renders as a pipe table only if it
      * has no nested table and every row has the same nonzero td count. */
    def tableWritable(tableId: Int): Boolean = {
      if (hasDescendantTable(tableId)) return false
      var common = 0
      var ok = true
      graft.css.Engine.findByNames(acc, Seq(tableId), Seq("tr")).foreach { tr =>
        val cnt = graft.css.Engine.findByNames(acc, Seq(tr), Seq("td")).length
        if (common == 0) common = cnt
        else if (cnt != common) ok = false
      }
      ok && common != 0
    }

    def writeTable(sb: B, tableId: Int): Unit = {
      if (!tableWritable(tableId)) { write(sb, tableId, Opts()); return }
      val cellOpts = Opts(ignoreLinebreak = true, br = true)
      def cell(id: Int): String = {
        val b = new java.lang.StringBuilder; write(b, id, cellOpts); b.toString
      }
      val headings = scala.collection.mutable.ArrayBuffer[String]()
      graft.css.Engine.findByNames(acc, Seq(tableId), Seq("tr", "th"))
        .foreach(th => headings += cell(th))
      val rows = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      graft.css.Engine.findByNames(acc, Seq(tableId), Seq("tr")).foreach { tr =>
        val row = graft.css.Engine.findByNames(acc, Seq(tr), Seq("td")).map(cell).toSeq
        if (row.nonEmpty) rows += row
      }
      while (headings.length < rows.head.length) headings += " "
      sb.append("\n| ").append(headings.mkString(" | ")).append(" |\n")
      sb.append("| ").append(headings.map(h => "-" * h.length).mkString(" | "))
        .append(" |\n")
      rows.foreach(r => sb.append("| ").append(r.mkString(" | ")).append(" |\n"))
      sb.append('\n')
    }

    val sb = new java.lang.StringBuilder
    write(sb, root, Opts(includeNode = includeRoot))
    sb.toString
  }
}

/** Concrete NodeAccess views that can iterate attributes in stored order. */
trait AttrIterable {
  def attrEntries(id: Int): Seq[(String, String)]
}
