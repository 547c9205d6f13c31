package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Atoms

/**
 * The atom table carries exactly the tag categories the parser used to keep
 * as `Set[String]` tables: every name of each former set has the matching
 * bit, and no other name does. The sets are written out here as the parser
 * had them, so a category edit in [[Atoms]] has to be made here too.
 */
class TagAtomSpec extends AnyFunSuite {

  private val baseScope = Set("applet", "caption", "html", "table", "td", "th", "marquee",
    "object", "template", "#root", "#fragment-html")
  private val scaffold = Set("html", "body", "#root", "#fragment-html")

  private val formerSets: Seq[(String, Long, Set[String])] = Seq(
    ("VoidElements", Atoms.Void, Set("area", "base", "br", "col", "embed", "hr", "img",
      "input", "link", "meta", "param", "source", "track", "wbr")),
    ("RawTextElements", Atoms.RawText,
      Set("script", "style", "xmp", "iframe", "noembed", "noframes")),
    ("RcdataElements", Atoms.Rcdata, Set("title", "textarea")),
    ("ClosesP", Atoms.ClosesP, Set("address", "article", "aside", "blockquote", "center",
      "details", "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
      "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hgroup", "hr",
      "listing", "main", "menu", "nav", "ol", "p", "plaintext", "pre", "section",
      "summary", "table", "ul", "xmp")),
    ("HeadContent", Atoms.HeadContent, Set("title", "base", "link", "meta", "style",
      "script", "noscript", "template")),
    ("TableSections", Atoms.TableSection, Set("thead", "tbody", "tfoot")),
    ("FormattingTags", Atoms.Formatting, Set("a", "b", "big", "code", "em", "font", "i",
      "nobr", "s", "small", "strike", "strong", "tt", "u")),
    ("Special", Atoms.Special, Set("address", "applet", "area", "article", "aside", "base",
      "basefont", "bgsound", "blockquote", "body", "br", "button", "caption", "center",
      "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
      "fieldset", "figcaption", "figure", "footer", "form", "frame", "frameset",
      "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup", "hr",
      "html", "iframe", "img", "input", "keygen", "li", "link", "listing",
      "main", "marquee", "menu", "meta", "nav", "noembed", "noframes",
      "noscript", "object", "ol", "p", "param", "plaintext", "pre", "script",
      "search", "section", "select", "source", "style", "summary", "table",
      "tbody", "td", "template", "textarea", "tfoot", "th", "thead", "title",
      "tr", "track", "ul", "wbr", "xmp", "#root", "#fragment-html")),
    ("BaseScopeStops", Atoms.ScopeStop, baseScope),
    ("ButtonScopeStops", Atoms.ButtonScopeStop, baseScope + "button"),
    ("ListScopeStops", Atoms.ListScopeStop, baseScope ++ Set("ol", "ul")),
    ("TableScopeStops", Atoms.TableScopeStop,
      Set("html", "table", "template", "#root", "#fragment-html")),
    ("MarkerTags", Atoms.Marker,
      Set("applet", "caption", "marquee", "object", "template", "td", "th")),
    ("ImpliedEnd", Atoms.ImpliedEnd,
      Set("dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc")),
    ("BlockEnd", Atoms.BlockEnd, Set("address", "article", "aside", "blockquote",
      "button", "center", "details", "dialog", "dir", "div", "dl", "fieldset",
      "figcaption", "figure", "footer", "header", "hgroup", "listing", "main", "menu",
      "nav", "ol", "pre", "section", "summary", "ul")),
    ("Headings", Atoms.Heading, Set("h1", "h2", "h3", "h4", "h5", "h6")),
    ("TableLegal", Atoms.TableLegal, Set("caption", "colgroup", "col", "tbody", "tfoot",
      "thead", "tr", "td", "th", "script", "style", "template", "form")),
    ("TableContext", Atoms.TableContext, Set("table", "tbody", "tfoot", "thead", "tr")),
    ("TableStructure", Atoms.TableStructure, Set("caption", "col", "colgroup", "tbody",
      "td", "tfoot", "th", "thead", "tr")),
    ("ForeignContent.Breakout", Atoms.Breakout, Set("b", "big", "blockquote", "body",
      "br", "center", "code", "dd", "div", "dl", "dt", "em", "embed", "h1", "h2", "h3",
      "h4", "h5", "h6", "head", "hr", "i", "img", "li", "listing", "menu", "meta",
      "nobr", "ol", "p", "pre", "ruby", "s", "small", "span", "strong", "strike",
      "sub", "sup", "table", "tt", "u", "ul", "var")),
    // the closeImplied literals, plus the scaffold clearToContext never pops
    ("clear to table context", Atoms.TableClearStop, Set("table", "template") ++ scaffold),
    ("clear to body context", Atoms.BodyClearStop,
      Set("tbody", "tfoot", "thead", "table", "template") ++ scaffold),
    ("clear to row context", Atoms.RowClearStop,
      Set("tr", "tbody", "tfoot", "thead", "table", "template") ++ scaffold)
  )

  test("every former tag set is exactly one category bit") {
    val allBits = formerSets.map(_._2)
    assert(allBits.distinct.length == allBits.length, "two categories share a bit")
    for ((set, bit, names) <- formerSets) {
      names.foreach(n => assert(Atoms.idOf(n) != Atoms.Unknown, s"$set: $n is not an atom"))
      for (id <- 1 until Atoms.size) {
        val nm = Atoms.names(id)
        assert(((Atoms.bits(id) & bit) != 0) == names(nm),
          s"$set: atom '$nm' bit ${(Atoms.bits(id) & bit) != 0}, set says ${names(nm)}")
      }
    }
  }

  test("names are unique, lower-case, and found by exact and folded lookup") {
    val names = Atoms.names.drop(1)
    assert(names.distinct.length == names.length)
    names.zipWithIndex.foreach { case (nm, i) =>
      val id = i + 1
      assert(nm == nm.toLowerCase, nm)
      assert(Atoms.idOf(nm) == id, nm)
      val upper = s"<${nm.toUpperCase}>"
      assert(Atoms.lookupFolded(upper, 1, upper.length - 1, nm.hashCode) == id, upper)
    }
  }

  test("an unknown or differently spelled name has no atom and no bits") {
    Seq("my-widget", "x-foo", "foreignObject", "DIV", "divx", "", "clipPath").foreach { nm =>
      assert(Atoms.idOf(nm) == Atoms.Unknown, nm)
      assert(!Atoms.is(nm, -1L), nm)
    }
    val s = "<my-widget>"
    assert(Atoms.lookupFolded(s, 1, s.length - 1, "my-widget".hashCode) == Atoms.Unknown)
  }
}
