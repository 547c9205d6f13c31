package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Doc

/** Serialization + text extraction goldens from the reference
  * (tests/node-traversal.rs formatted_text/normalized_char_count suites). */
class TextSpec extends AnyFunSuite {

  // tests/data.rs:108-131
  val DMC = """<!DOCTYPE html>
<html>
    <head></head>
    <body>
        <div id="main">
            <div>
                <p>Listen up y'all, it's time to get down<br>
                'Bout that <b>normalized_char_count</b> in this town<br>
                Traversing nodes with style and grace<br>
                Counting chars at a steady pace</p>
            </div>

            <div>
                <p>No split whitespace, that's old school<br>
                Direct counting's our golden rule<br>
                Skip them nodes that ain't text or element<br>
                That's how we keep our code development!</p>
            </div>
            <pre>
            WORD!
            </pre>
        </div>
    </body>
</html>"""

  // tests/data.rs:133-150
  val MINI_TABLE = """<!DOCTYPE html>
<html>
    <head></head>
    <body>
        <table>
            <tr>
                <td>1</td>
                <td>2</td>
                <td>3</td>
            </tr>
            <tr>
                <td>4</td>
                <td>5</td>
                <td>6</td>
            </tr>
        </table>
    </body>
</html>"""

  test("formatted_text DMC golden (node-traversal.rs:427-443)") {
    val doc = Doc.parse(DMC)
    val expected = """Listen up y'all, it's time to get down
'Bout that normalized_char_count in this town
Traversing nodes with style and grace
Counting chars at a steady pace

No split whitespace, that's old school
Direct counting's our golden rule
Skip them nodes that ain't text or element
That's how we keep our code development!

            WORD!"""
    assert(doc.formattedText == expected)
  }

  test("formatted_text complex inline (node-traversal.rs:446-460)") {
    val contents = "<p>The <code><span>match</span></code> and <code><span>if</span><span> </span>" +
      "<span>let</span></code> expressions can be used for <a>pattern matching</a>. For example, " +
      "<code><span>match</span></code> can be used to double an optional integer value if present, " +
      "and return zero otherwise:<sup><a ><span>&#91;</span>57<span>&#93;</span></a></sup>\n</p>"
    val doc = Doc.parse(contents)
    val expected = "The match and if let expressions can be used for pattern matching. " +
      "For example, match can be used to double an optional integer value if present, " +
      "and return zero otherwise:[57]"
    assert(doc.formattedText == expected)
  }

  test("formatted_text table with nbsp (node-traversal.rs:463-480)") {
    val contents = "<table>\n    <tr>\n        <td><span>\n                " +
      "<span>568 points</span> by <a>sbarre</a> <span><a>" +
      "14 hours ago</a></span> <span></span> | <a>hide</a> | <a>167&nbsp;comments</a>\n" +
      "            </span>\n        </td>\n    </tr>\n</table>"
    val doc = Doc.parse(contents)
    assert(doc.formattedText == "568 points by sbarre 14 hours ago | hide | 167 comments")
  }

  test("formatted_text mini table golden (node-traversal.rs:483-489)") {
    val doc = Doc.parse(MINI_TABLE)
    assert(doc.formattedText == "1 2 3\n4 5 6")
  }

  test("formatted_text div after inline (node-traversal.rs:492-508)") {
    val contents = "<table>\n    <tr>\n        <td>&nbsp;</td>\n        <td>        " +
      "<a>https://example.com</a>\n            <div>\n                " +
      "<p><span></span>         Some text</p>\n            </div>\n        </td>\n    </tr>\n</table>"
    val doc = Doc.parse(contents)
    assert(doc.formattedText == "https://example.com \n\nSome text")
  }

  test("normalized_char_count == split_whitespace join length (node-traversal.rs:395-421)") {
    val contents = """
        <div id="main">
        A           very
                                messy content
            <span>. A something       that</span>
            <p>
            asks to be     normalized     </p>


        </div>
    """
    val doc = Doc.parse(contents)
    val main = doc.select("#main").ids.head
    val expected = doc.acc.subtreeText(main).split("\\s+").filter(_.nonEmpty).mkString(" ").length
    assert(doc.acc.normCharCount(main) == expected.toLong)
  }

  test("immediate_text vs text (X6/X7, ops.rs:32-99)") {
    val doc = Doc.parse("""<div id="m">own <span>inner</span> tail</div>""")
    val m = doc.select("#m").ids.head
    assert(doc.acc.subtreeText(m) == "own inner tail")
    assert(doc.acc.immediateText(m) == "own  tail")
  }

  test("html serialization roundtrip basics (S4)") {
    val doc = Doc.parse("""<div id="a" class="x y"><p>hi &amp; low</p><br><img src="i.png"></div>""")
    val html = doc.select("#a").html.get
    assert(html == """<div id="a" class="x y"><p>hi &amp; low</p><br><img src="i.png"></div>""")
    val inner = doc.select("#a").innerHtml.get
    assert(inner == """<p>hi &amp; low</p><br><img src="i.png">""")
    // roundtrip: parse(serialize(x)) == x
    val doc2 = Doc.fragment(html)
    assert(doc2.select("#a").html.get == html)
  }

  test("document html has scaffolding (html-dom.rs)") {
    val doc = Doc.parse("<span>hello</span>")
    assert(doc.html == "<html><head></head><body><span>hello</span></body></html>")
  }

  test("comment + doctype serialization") {
    val doc = Doc.parse("<!DOCTYPE html><html><head></head><body><!--note--><p>x</p></body></html>")
    assert(doc.html == "<!DOCTYPE html><html><head></head><body><!--note--><p>x</p></body></html>")
  }

  // --- markdown goldens from the reference's own serializer tests
  // (src/serializing/md.rs) — html_2md_compare uses include_node=false ---

  private def md(html: String): String = Doc.parse(html).mdText

  test("md headings + escapes + hr (md.rs test_headings)") {
    val contents = "<h1>Heading 1</h1>\n        <h2>Heading 2</h2>\n        " +
      "<h3>Heading 3</h3>\n        <h4>Heading 4</h4>\n        <h5>Heading 5</h5>\n        " +
      "<h6>Heading 6</h6>\n        <h3><span>III.</span> Heading With Span</h3>\n        " +
      "<h3><span></span>Early years (2006\u20132009)</h3>\n        " +
      "<h3><span> </span> Early years (2006\u20132009)</h3>\n        <hr>"
    val expected = "\n\n# Heading 1\n\n## Heading 2\n\n### Heading 3\n\n" +
      "#### Heading 4\n\n##### Heading 5\n\n###### Heading 6\n\n" +
      "### III\\. Heading With Span\n\n### Early years \\(2006\u20132009\\)\n\n" +
      "### Early years \\(2006\u20132009\\)\n\n---\n\n"
    val doc = Doc.parse(contents)
    val body = doc.select("body").ids.head
    val got = graft.sources.Serializer.toMd(doc.acc, body, includeRoot = true)
    assert(got == expected)
  }

  test("md italic / bold-italic / code (md.rs)") {
    assert(md("<h4><i>Italic Text</i></h4>") == "#### *Italic Text*")
    assert(md("<span>It`s like <i>that</i></span>") == "It\\`s like *that*")
    assert(md("<span>It`s like <b><i>that</i></b></span>") == "It\\`s like ***that***")
    assert(md("<span>It`s like <code>that</code></span>") == "It\\`s like `that`")
  }

  test("md false multiline code collapses to inline (md.rs)") {
    val contents = "<span>\n        It`s like \n        <code>\n        that\n        </code>\n        </span>"
    assert(md(contents) == "It\\`s like `that`")
  }

  test("md multiline code becomes a fence (md.rs test_multiline_code)") {
    val contents = "<code>$ cargo new hello\n    Created binary (application) `hello` package\n\n$ cd hello</code>"
    val expected = "```\n$ cargo new hello\n    Created binary (application) `hello` package\n\n$ cd hello\n```"
    assert(md(contents) == expected)
  }

  test("md ul / ol / broken ol (md.rs test_ul/test_ol/test_bad_ol)") {
    val ul = "<h3>Pizza Margherita Ingredients</h3><ul><li>Pizza Dough</li>" +
      "<li>Mozzarella cheese</li><li>Tomatoes</li><li>Olive Oil</li>" +
      "<li><i>Basil</i></li><li><b>Salt</b></li></ul>"
    assert(md(ul) == "### Pizza Margherita Ingredients\n\n- Pizza Dough\n" +
      "- Mozzarella cheese\n- Tomatoes\n- Olive Oil\n- *Basil*\n- **Salt**")
    val ol = ul.replace("<ul>", "<ol>").replace("</ul>", "</ol>")
    assert(md(ol) == "### Pizza Margherita Ingredients\n\n1. Pizza Dough\n" +
      "1. Mozzarella cheese\n1. Tomatoes\n1. Olive Oil\n1. *Basil*\n1. **Salt**")
    val badOl = "<h3>Pizza Margherita Ingredients</h3><ol><li>Pizza Dough</li>" +
      "<li>Mozzarella cheese</li><li>Tomatoes</li><li>Olive Oil</li>" +
      "<div><i>Basil</i></div><li><b>Salt</b></li></ol>"
    assert(md(badOl) == "### Pizza Margherita Ingredients\n\n1. Pizza Dough\n" +
      "1. Mozzarella cheese\n1. Tomatoes\n1. Olive Oil\n\n*Basil*\n\n1. **Salt**")
  }

  test("md table golden (node-traversal.rs test_doc_format_md_table)") {
    val doc = Doc.parse(MINI_TABLE)
    assert(doc.mdText ==
      "|   |   |   |\n| - | - | - |\n| 1 | 2 | 3 |\n| 4 | 5 | 6 |")
  }

  test("md skips script/style by default (md/constants.rs:5)") {
    val got = md("<p>keep</p><script>var x=1;</script><style>.a{}</style>")
    assert(got.contains("keep"))
    assert(!got.contains("var x"))
    assert(!got.contains(".a{}"))
  }
}
