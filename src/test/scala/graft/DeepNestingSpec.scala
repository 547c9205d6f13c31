package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.HtmlParser
import graft.spark.NodeSchema

/**
 * Deeply nested documents parse in linear time: the tree builder's scope
 * checks (`<p>` in button scope before every block start tag, `<li>` in list
 * scope) answer from per-tag open counts instead of walking the open-element
 * stack, so 10^5 nesting levels cost 10^5 constant-time checks, not 10^10
 * stack steps. Each shape is parsed, renumbered and encoded; the wall bound
 * is far above the linear cost and far below the quadratic one.
 */
class DeepNestingSpec extends AnyFunSuite {

  import DeepNestingSpec._

  val WallBoundMs = 10000L

  /** Parse + encode `html`; returns (elements named `tag`, depth of the
    * text node, wall ms). */
  private def run(html: String, tag: String): (Int, Int, Long) = {
    val t0 = System.nanoTime()
    val a = HtmlParser.parse(html, fragment = false)
    val encoded = NodeSchema.arenaToArrayData(a)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(encoded.numElements() == a.size)
    val count = (0 until a.size).count(i => a(i).isElement && a(i).name == tag)
    val textId = (0 until a.size).find(i => a(i).isText).get
    var depth = 0
    var p = a(textId).parent
    while (p != -1) { depth += 1; p = a(p).parent }
    (count, depth, ms)
  }

  test("10^5 nested <div> levels parse in linear time") {
    val (divs, depth, ms) = run(deep("<div>", "</div>", "core"), "div")
    assert(divs == Levels)
    assert(depth == Levels + 3) // text < div × Levels < body < html < document
    info(s"nested div: $ms ms")
    assert(ms < WallBoundMs, s"nested div took $ms ms")
  }

  test("10^5 nested <ul><li> levels parse in linear time") {
    val (lis, depth, ms) = run(deep("<ul><li>", "</li></ul>", "core"), "li")
    assert(lis == Levels)
    assert(depth == 2 * Levels + 3)
    info(s"nested ul>li: $ms ms")
    assert(ms < WallBoundMs, s"nested ul>li took $ms ms")
  }

  test("10^5 nested <blockquote> levels parse in linear time") {
    val (bqs, depth, ms) = run(deep("<blockquote>", "</blockquote>", "core"), "blockquote")
    assert(bqs == Levels)
    assert(depth == Levels + 3)
    info(s"nested blockquote: $ms ms")
    assert(ms < WallBoundMs, s"nested blockquote took $ms ms")
  }
}

object DeepNestingSpec {

  val Levels = 100000

  def deep(open: String, close: String, text: String): String = {
    val sb = new java.lang.StringBuilder((open.length + close.length) * Levels + 64)
    sb.append("<!DOCTYPE html><html><body>")
    var i = 0
    while (i < Levels) { sb.append(open); i += 1 }
    sb.append(text)
    i = 0
    while (i < Levels) { sb.append(close); i += 1 }
    sb.append("</body></html>").toString
  }

  /** The three nested shapes the spec parses. */
  def shapes: Seq[String] = Seq(
    deep("<div>", "</div>", "core"),
    deep("<ul><li>", "</li></ul>", "core"),
    deep("<blockquote>", "</blockquote>", "core"))
}
