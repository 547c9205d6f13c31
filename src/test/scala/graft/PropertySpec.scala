package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.api.Doc
import graft.model.Arena
import graft.ops.TreeOps

/**
 * Property tests: random mutation sequences over random small documents must
 * keep the arena structurally valid (C4 oracle, `validation.rs:39-206`) and
 * preserve the id-stability / span-sequence invariants. The reference has no
 * property-based tests — this is the upgrade SURVEY.md §5 commits to.
 *
 * Deterministic seeded sampling (the scalatestplus bridge isn't in the
 * offline dependency cache): same cases every run.
 */
class PropertySpec extends AnyFunSuite {

  /** deterministic generator sampling */
  def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i * 977L)))

  def forAll[A, B](ga: Gen[A], gb: Gen[B], n: Int = 60)(body: (A, B) => Unit): Unit =
    samples(Gen.zip(ga, gb), n).foreach { case (a, b) => body(a, b) }

  def forAll[A](ga: Gen[A], n: Int)(body: A => Unit): Unit =
    samples(ga, n).foreach(body)

  val tag: Gen[String] = Gen.oneOf("div", "p", "span", "b", "ul", "li", "a")
  val word: Gen[String] = Gen.oneOf("alpha", "beta", "gamma", "delta", "x")

  /** random small HTML document */
  val genHtml: Gen[String] = {
    def node(depth: Int): Gen[String] =
      if (depth >= 3) word
      else Gen.frequency(
        3 -> word,
        5 -> (for {
          t <- tag
          n <- Gen.choose(0, 3)
          kids <- Gen.listOfN(n, node(depth + 1))
          id <- Gen.choose(0, 999)
        } yield s"""<$t id="n$id">${kids.mkString}</$t>"""))
    for {
      n <- Gen.choose(1, 6)
      kids <- Gen.listOfN(n, node(0))
    } yield s"<html><body>${kids.mkString}</body></html>"
  }

  sealed trait Op
  case class OpAppendHtml(html: String) extends Op
  case class OpRemove(k: Int) extends Op
  case class OpSetText(k: Int, t: String) extends Op
  case class OpWrap(k: Int) extends Op
  case class OpUnwrap(k: Int) extends Op
  case class OpAddClass(k: Int, c: String) extends Op
  case class OpReplaceHtml(k: Int) extends Op
  case class OpNormalize() extends Op

  val genOp: Gen[Op] = Gen.oneOf(
    word.map(w => OpAppendHtml(s"<p>$w</p>")),
    Gen.choose(0, 100).map(OpRemove),
    Gen.zip(Gen.choose(0, 100), word).map { case (k, t) => OpSetText(k, t) },
    Gen.choose(0, 100).map(OpWrap),
    Gen.choose(0, 100).map(OpUnwrap),
    Gen.zip(Gen.choose(0, 100), word).map { case (k, c) => OpAddClass(k, c) },
    Gen.choose(0, 100).map(OpReplaceHtml),
    Gen.const(OpNormalize()))

  /** pick the k-th element node that is still attached under the root */
  private def pickAttached(a: Arena, k: Int): Option[Int] = {
    val attached = a.preorder(0).filter(i => i != 0 && a(i).isElement).toVector
    if (attached.isEmpty) None else Some(attached(k % attached.length))
  }

  private def applyOp(a: Arena, op: Op): Unit = op match {
    case OpAppendHtml(h) => pickAttached(a, 0).foreach(t => TreeOps.appendHtml(a, t, h))
    case OpRemove(k) => pickAttached(a, k).foreach(t => TreeOps.removeFromParent(a, t))
    case OpSetText(k, t) => pickAttached(a, k).foreach(n => TreeOps.setText(a, n, t))
    case OpWrap(k) => pickAttached(a, k).foreach(t => TreeOps.wrapHtml(a, t, "<div class=\"w\"></div>"))
    case OpUnwrap(k) => pickAttached(a, k).foreach(t => TreeOps.unwrapNode(a, t))
    case OpAddClass(k, c) => pickAttached(a, k).foreach(t => TreeOps.addClass(a, t, c))
    case OpReplaceHtml(k) =>
      pickAttached(a, k).foreach(t => TreeOps.replaceWithHtml(a, t, "<span>r</span>"))
    case OpNormalize() => TreeOps.normalize(a, 0)
  }

  /** Token soup: arbitrary interleavings of open/close/void/formatting/table
    * tags, rawtext, comments, half-finished entities and stray brackets —
    * the input shape a crawler actually sees. */
  val genSoup: Gen[String] = {
    val soupTag = Gen.oneOf("div", "p", "b", "i", "a", "table", "tr", "td",
      "ul", "li", "span", "em", "h1", "pre", "select", "option", "template",
      "svg", "br", "img", "script", "title")
    val piece: Gen[String] = Gen.frequency(
      4 -> word,
      4 -> soupTag.map(t => s"<$t>"),
      4 -> soupTag.map(t => s"</$t>"),
      1 -> soupTag.map(t => s"<$t class='c x' id=z data-k=1>"),
      1 -> Gen.const("<!-- c -->"),
      1 -> Gen.const("&amp; &bogus; &#65; &lt"),
      1 -> Gen.const("< 3 > & </ nope"),
      1 -> Gen.const("<b><i><u>"),
      1 -> Gen.const("</i></b></u>"))
    for {
      n <- Gen.choose(1, 40)
      ps <- Gen.listOfN(n, piece)
    } yield ps.mkString(" ")
  }

  /** The encoded tree (arenaToArrayData → Unsafe → toArena) is valid and
    * serializes byte-identically to the parsed one. */
  def assertEncodeRoundTrip(doc: Doc, soup: String): Unit = {
    val back = new Doc(Encoded(doc.arena).toArena)
    assert(back.validate.isEmpty, s"encoded tree invalid for soup: $soup")
    assert(back.html == doc.html, s"encode round trip changed the tree for soup: $soup")
  }

  test("parser fuzz: token soup never throws, always yields a valid tree") {
    forAll(genSoup, 300) { soup =>
      for ((doc, reparse) <- Seq[(Doc, String => Doc)](
          (Doc.parse(soup), Doc.parse _),
          (Doc.fragment(soup), Doc.fragment _))) {
        assert(doc.validate.isEmpty, s"invalid tree for soup: $soup")
        assertEncodeRoundTrip(doc, soup)
        // serialization fixpoint: reparse (same mode) serializes identically
        // (idempotent normal form — what makes stored HTML stable at rest)
        val once = doc.html
        val twice = reparse(once).html
        assert(twice == once, s"serialization not a fixpoint for soup: $soup")
      }
    }
  }

  /** Richer soup incl. select/form/doctype-midstream/PI and misnesting
    * storms. The serialization FIXPOINT deliberately isn't asserted here:
    * the adoption agency can legitimately produce DOMs (e.g. <a> nested in
    * <a> via reparenting) whose serialization reparses differently — true
    * for html5ever as well. Structural validity and total recovery must
    * still always hold. */
  val genRichSoup: Gen[String] = {
    val soupTag = Gen.oneOf("div", "p", "b", "i", "a", "table", "tr", "td",
      "ul", "li", "span", "em", "h1", "pre", "select", "option", "template",
      "svg", "br", "img", "script", "title", "form", "dl", "dt", "dd",
      "caption", "colgroup", "thead", "button", "nobr",
      // foreign-content storm: namespaces, integration points, breakouts,
      // camelCase adjustment + case-insensitive foreign end tags (round 3)
      "math", "mi", "foreignobject", "desc", "circle", "textpath",
      "annotation-xml", "mglyph", "font")
    val piece: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf("alpha", "beta", "x", "<", "&", "]]>"),
      5 -> soupTag.map(t => s"<$t>"),
      5 -> soupTag.map(t => s"</$t>"),
      1 -> soupTag.map(t => s"<$t class='c x' id=z>"),
      1 -> Gen.const("<!-- c -->"),
      1 -> Gen.const("&amp; &bogus; &#65; &lt &#x41; &notit; &Ouml;"),
      1 -> Gen.const("<b><i><u><a href=x>"),
      1 -> Gen.const("</a></i></b></u>"),
      1 -> Gen.const("<!doctype html>"),
      1 -> Gen.const("<![CDATA[ x < y ]]>"),
      1 -> Gen.const("<svg viewbox='0 0 1 1'><lineargradient>"),
      1 -> Gen.const("</FOREIGNOBJECT></SVG>"),
      1 -> Gen.const("<?pi >"))
    for { n <- Gen.choose(1, 60); ps <- Gen.listOfN(n, piece) } yield ps.mkString(" ")
  }

  test("parser fuzz (rich): recovery is total and trees stay valid") {
    forAll(genRichSoup, 200) { soup =>
      for (doc <- Seq(Doc.parse(soup), Doc.fragment(soup))) {
        assert(doc.validate.isEmpty, s"invalid tree for soup: $soup")
        assertEncodeRoundTrip(doc, soup)
        // re-serialization of the reparse must itself be stable (even when
        // parse∘serialize isn't a fixpoint, serialize∘parse∘serialize is)
        val once = doc.html
        val d2 = Doc.parse(once)
        assert(d2.validate.isEmpty)
      }
    }
  }

  test("the tree builder's preorder flag is conservative: flagged arenas pass isPreorder") {
    import graft.sources.{HtmlParser, Renumber}
    val fixtures = Seq(Fixtures.ANCESTORS, Fixtures.LIST, Fixtures.HEADING, Fixtures.LINKS,
      Fixtures.SIMPLE_LIST, Fixtures.EMPTY_HEADINGS, Fixtures.ATTRS, Fixtures.README_PAGE)
    val benchPages = graftbench.Gen.pages(seed = 1L, n = 64).map(_.html).toSeq
    val corpora = Seq(
      "fixtures" -> (fixtures ++ ParseFingerprintSpec.HandPages),
      "tag soup" -> ParseFingerprintSpec.tagSoup(seed = 8L, n = 300),
      "perfbench pages" -> benchPages,
      "deep nesting" -> DeepNestingSpec.shapes,
      "fuzz" -> (samples(genSoup, 300) ++ samples(genRichSoup, 200) ++ samples(genHtml, 100)))
    for ((name, pages) <- corpora) {
      var (preorder, flagged) = (0, 0)
      for (html <- pages; fragment <- Seq(false, true)) {
        val (a, inPreorder) = HtmlParser.buildFlagged(html, fragment)
        val isPreorder = Renumber.isPreorder(a)
        assert(isPreorder || !inPreorder, s"$name: flagged preorder but is not: $html")
        if (isPreorder) preorder += 1
        if (inPreorder) flagged += 1
      }
      info(s"$name: ${pages.length * 2} parses, $preorder preorder, $flagged of them flagged")
    }
    // every generated page parses in preorder, so the flag skips the walk for all of them
    assert(benchPages.forall(HtmlParser.buildFlagged(_, fragment = false)._2))
  }

  test("random mutation sequences keep the tree structurally valid (C4)") {
    forAll(genHtml, Gen.listOfN(12, genOp)) { (html, ops) =>
      val doc = Doc.parse(html)
      assert(doc.validate.isEmpty, s"fresh parse invalid for: $html")
      val sizeBefore = doc.arena.size
      ops.foreach(op => applyOp(doc.arena, op))
      val v = doc.validate
      assert(v.isEmpty, s"invalid after $ops on $html: $v")
      // id stability: arena only grows (ops.rs:164-168, 350-383)
      assert(doc.arena.size >= sizeBefore)
    }
  }

  test("selector parser fuzz: tryParse is total over arbitrary strings") {
    val soup: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("div", "p", "a", ".c", "#i", "[k=v]", ":nth-child(2n+1)",
        ":not(", ":has(", ")", "]", ">", "+", "~", ",", " ", "*", "'", "\"",
        "\\", ":", "::", "i]", "0", "-n+3"),
      1 -> Gen.asciiPrintableChar.map(_.toString)
    )).map(_.mkString)
    forAll(soup, 400) { css =>
      // must never throw — Some(plan) or None, and a returned plan must
      // evaluate without crashing
      graft.css.SelectorAst.tryParse(css).foreach { plan =>
        val d = Doc.parse("<div id=i class=c><p>x</p><a k=v>y</a></div>")
        graft.css.Engine.select(d.acc, Seq(0), plan)
      }
    }
  }

  test("serializers are total over random mutated trees (md/formatted/html)") {
    forAll(genHtml, Gen.listOfN(8, genOp), n = 40) { (html, ops) =>
      val doc = Doc.parse(html)
      ops.foreach(op => applyOp(doc.arena, op))
      assert(doc.validate.isEmpty)
      // every serializer must terminate and not throw on any reachable tree
      val h = doc.html
      val m = doc.mdText
      val f = doc.formattedText
      assert(h != null && m != null && f != null)
      // reparsing the serialization yields a valid tree whose serializers
      // are also total (NO fixpoint claim: reparse may legally normalize
      // mutation-created structures, e.g. foster-parenting table text)
      val doc2 = Doc.parse(h)
      assert(doc2.validate.isEmpty)
      assert(doc2.mdText != null && doc2.formattedText != null)
    }
  }

  test("serialization round-trip: parse(html(d)) preserves the span sequence") {
    forAll(genHtml, 60) { html =>
      val doc = Doc.parse(html)
      val doc2 = Doc.parse(doc.html)
      // span-sequence equality on (kind, text, order) — input_hint invariant
      def spans(d: Doc) = d.arena.preorder(0).map { i =>
        val n = d.arena(i)
        (n.kind, Option(n.name).getOrElse(""), Option(n.text).getOrElse(""))
      }.toVector
      assert(spans(doc2) == spans(doc))
    }
  }

  test("selector engine matches brute-force matcher after random mutations") {
    val sels = Seq("div", "p > span", "li:first-child", "a[k]", ".c",
      "div b", "p + a", "li:nth-child(2)", "*:empty")
    forAll(genHtml, Gen.listOfN(10, genOp), n = 40) { (html, ops) =>
      val doc = Doc.parse(html)
      ops.foreach(op => applyOp(doc.arena, op))
      assert(doc.validate.isEmpty)
      for (css <- sels) {
        val plan = graft.css.SelectorAst.parseCached(css)
        val got = graft.css.Engine.select(doc.acc, Seq(0), plan).toSet
        // brute force over ATTACHED elements only (descending select can
        // only reach nodes still linked under the root)
        val attached = doc.arena.preorder(0).toSet
        val brute = (0 until doc.arena.size)
          .filter(i => attached(i) && doc.arena(i).isElement &&
            graft.css.Engine.matches(doc.acc, i, plan)).toSet
        assert(got == brute, s"'$css' after $ops on $html")
      }
    }
  }

  test("selector engine matches brute-force single-node matcher on random docs") {
    val genSel = Gen.oneOf("div", "p", "span", "div p", "p > span", "li + li",
      "div.w", "[id^=n1]", "p:first-child", "span:last-child",
      "div:has(p)", ":not(p)", "ul li", "b ~ span")
    forAll(genHtml, genSel) { (html, sel) =>
      val doc = Doc.parse(html)
      val fast = doc.select(sel).ids.toSet
      // brute force: test every element with the ascending matcher
      val list = graft.css.SelectorAst.parse(sel)
      val brute = (1 until doc.arena.size)
        .filter(i => doc.arena(i).isElement)
        .filter(i => doc.arena.preorder(0).contains(i)) // attached only
        .filter(i => graft.css.Engine.matchesComplex(doc.acc, i, list.head) ||
          list.tail.exists(cx => graft.css.Engine.matchesComplex(doc.acc, i, cx)))
        .toSet
      assert(fast == brute, s"selector '$sel' on $html")
    }
  }
}
