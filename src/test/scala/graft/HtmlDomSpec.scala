package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Doc
import graft.sources.Serializer

/**
 * The reference's html-dom.rs parse→serialize roundtrip goldens (adopted from
 * html5ever's own suite): fragment-parse the input, serialize the scaffold
 * <html> node's children, compare byte-for-byte
 * (`/root/reference/tests/html-dom.rs:15-161`).
 */
class HtmlDomSpec extends AnyFunSuite {

  private def parseAndSerialize(input: String): String = {
    val d = Doc.fragment(input)
    assert(d.validate.isEmpty, s"invalid tree for: $input")
    val htmlId = d.htmlRoot.get
    Serializer.toHtml(d.acc, htmlId, includeRoot = false,
      id => d.arena(id).templateContents)
  }

  private def golden(name: String, input: String, expected: String): Unit =
    test(s"html-dom.rs: $name") { assert(parseAndSerialize(input) == expected) }
  private def golden(name: String, io: String): Unit = golden(name, io, io)

  golden("empty", "")
  golden("fuzz", "<a a=\r\n", "")
  golden("smoke_test", "<p><i>Hello</i>, World!</p>")
  golden("misnest", "<p><i>Hello!</p>, World!</i>",
    "<p><i>Hello!</i></p><i>, World!</i>")

  golden("attr_literal", """<base foo="<'>">""", """<base foo="&lt;'&gt;">""")
  golden("attr_escape_amp", """<base foo="&amp;">""")
  golden("attr_escape_amp_2", "<base foo=&amp>", """<base foo="&amp;">""")
  golden("attr_escape_nbsp", "<base foo=x y>", """<base foo="x&nbsp;y">""")
  golden("attr_escape_quot", """<base foo='"'>""", """<base foo="&quot;">""")
  golden("attr_escape_several", """<span foo=3 title='test "with" &amp;quot;'>""",
    """<span foo="3" title="test &quot;with&quot; &amp;quot;"></span>""")

  golden("text_literal", """<p>"'"</p>""")
  golden("text_escape_amp", "<p>&amp;</p>")
  golden("text_escape_amp_2", "<p>&amp</p>", "<p>&amp;</p>")
  golden("text_escape_nbsp", "<p>x y</p>", "<p>x&nbsp;y</p>")
  golden("text_escape_lt", "<p>&lt;</p>")
  golden("text_escape_gt", "<p>&gt;</p>")
  golden("text_escape_gt2", "<p>></p>", "<p>&gt;</p>")

  golden("script_literal", """<script>(x & 1) < 2; y > "foo" + 'bar'</script>""")
  golden("style_literal", """<style>(x & 1) < 2; y > "foo" + 'bar'</style>""")
  golden("xmp_literal", """<xmp>(x & 1) < 2; y > "foo" + 'bar'</xmp>""")
  golden("iframe_literal", """<iframe>(x & 1) < 2; y > "foo" + 'bar'</iframe>""")
  golden("noembed_literal", """<noembed>(x & 1) < 2; y > "foo" + 'bar'</noembed>""")
  golden("noframes_literal", """<noframes>(x & 1) < 2; y > "foo" + 'bar'</noframes>""")

  golden("pre_lf_0", "<pre>foo bar</pre>")
  golden("pre_lf_1", "<pre>\nfoo bar</pre>", "<pre>foo bar</pre>")
  golden("pre_lf_2", "<pre>\n\nfoo bar</pre>", "<pre>\nfoo bar</pre>")
  golden("textarea_lf_0", "<textarea>foo bar</textarea>")
  golden("textarea_lf_1", "<textarea>\nfoo bar</textarea>", "<textarea>foo bar</textarea>")
  golden("textarea_lf_2", "<textarea>\n\nfoo bar</textarea>", "<textarea>\nfoo bar</textarea>")
  golden("listing_lf_0", "<listing>foo bar</listing>")
  golden("listing_lf_1", "<listing>\nfoo bar</listing>", "<listing>foo bar</listing>")
  golden("listing_lf_2", "<listing>\n\nfoo bar</listing>", "<listing>\nfoo bar</listing>")

  golden("comment_1", "<p>hi <!--world--></p>")
  golden("comment_2", "<p>hi <!-- world--></p>")
  golden("comment_3", "<p>hi <!--world --></p>")
  golden("comment_4", "<p>hi <!-- world --></p>")

  golden("attr_ns_1", """<svg xmlns="bleh"></svg>""")
  golden("attr_ns_2", """<svg xmlns:foo="bleh"></svg>""")
  golden("attr_ns_3", """<svg xmlns:xlink="bleh"></svg>""")
  golden("attr_ns_4", """<svg xlink:href="bleh"></svg>""")

  // html-dom.rs:163-187
  test("html-dom.rs: doctype serializes alone as <!DOCTYPE html>") {
    val d = Doc.parse("<!doctype html>")
    val dt = d.arena(0).firstChild
    assert(d.arena(dt).kind == "doctype")
    assert(Serializer.toHtml(d.acc, dt, includeRoot = true,
      id => d.arena(id).templateContents) == "<!DOCTYPE html>")
    assert(d.validate.isEmpty)
  }

  // node-traversal.rs:523-560 — html_root exists for every input shape
  test("html_root exists for empty/garbage/plain inputs (doc + fragment)") {
    for (contents <- Seq("", "<something-bad", "<div></div>",
        "<table><td>x</td></table>")) {
      val doc = Doc.parse(contents)
      assert(doc.htmlRoot.exists(i => doc.arena(i).name == "html"), s"doc: '$contents'")
      val frag = Doc.fragment(contents)
      assert(frag.htmlRoot.exists(i => frag.arena(i).name == "html"), s"frag: '$contents'")
    }
  }
}
