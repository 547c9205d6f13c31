package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import graft.PlanSpec.{domOutsideCodegen, isDom}
import graft.spark.{GraftFunctions => F}

/**
 * Codegen vs interpreted differential for every DOM expression and for
 * `canonicalize_url` / `url_host`: each case runs in a session that compiles
 * everything (whole-stage codegen on, `CODEGEN_ONLY` projections) and in one
 * that compiles nothing (whole-stage codegen off, `NO_CODEGEN`), and the two
 * must give the same rows. Both sessions set `spark.sql.codegen.fallback=false`:
 * with it on, generated Java that fails to compile silently runs the
 * interpreted path, and a broken `doGenCode` would pass.
 *
 * The compiled side must also run the expression inside a
 * `WholeStageCodegenExec`, not in an interpreted operator beside it.
 *
 * Inputs: the hand-written recovery pages of [[ParseFingerprintSpec]], a few
 * link pages, a null html and an empty document; ids, attribute keys, bases
 * and mutation arguments come from nullable columns, not literals.
 */
class CodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session on the shared context that compiles every expression, or none. */
  private def session(compiled: Boolean): SparkSession = {
    val s = spark.newSession()
    Seq("spark.sql.codegen.wholeStage" -> compiled.toString,
      "spark.sql.codegen.factoryMode" -> (if (compiled) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.adaptive.enabled" -> "false"
    ).foreach { case (k, v) => s.conf.set(k, v) }
    F.register(s)
    s
  }
  private lazy val compiledSession = session(compiled = true)
  private lazy val interpretedSession = session(compiled = false)

  private val pages: Seq[String] = Seq(
    null,
    "",
    """<html><head><base href="https://h.ex/d/"><title>t</title></head><body>
      |<div class=row id=r1><a href="p1?q=1#f" class=x>one <b>bold</b></a>
      |<a href="/abs">two</a><a>no href</a><img src="i.png" alt=""></div>
      |<ul><li>a<li>b <i>c</i></ul><p>para <a href="mailto:x@y">m</a></p>
      |<template><p>tpl</p></template></body></html>""".stripMargin,
    """<html><body><div><p>x<p>y</div><table><tr><td><a href="//cdn.ex/z">z</a></table>
      |<video src="v.mp4"></video><!-- c --></body></html>""".stripMargin
  ) ++ ParseFingerprintSpec.HandPages

  /** `i`, `html`, a second page `other`, a nullable `key`, `base` and
    * `flag`, and the parsed `n`. The repartition stands for a scan: over a
    * bare local relation the optimizer would evaluate the projections
    * itself, at plan time. */
  private def docs(s: SparkSession): DataFrame = {
    import s.implicits._
    pages.zipWithIndex.map { case (h, i) =>
      (i, h, pages((i + 3) % pages.length),
        if (i % 4 == 1) null else Seq("href", "class", "id", "src")(i % 4),
        if (i % 3 == 0) null else s"https://b$i.ex/x/",
        if (i % 5 == 2) None else Some(i % 2 == 0))
    }.toDF("i", "html", "other", "key", "base", "flag")
      .repartition(2)
      .select(col("*"), F.parse_html(col("html")).as("n"))
  }

  private val n = col("n")
  /** Nullable, non-literal ids: null on every third row. */
  private val ids = when(col("i") % 3 === 1, lit(null)).otherwise(F.css_select(n, "a, p, div, li, b"))

  /** name → column; every column reads at least one nullable input. */
  private val cases: Seq[(String, Column)] = Seq(
    "parse_html" -> F.parse_html(col("html")),
    "parse_fragment" -> F.parse_fragment(col("other")),
    "parse_html_meta" -> F.parse_html_meta(col("html")),
    "parse_fragment_meta" -> F.parse_fragment_meta(col("html")),
    "css_select" -> F.css_select(n, "a[href], li"),
    "css_select_first" -> F.css_select_first(n, "p"),
    "css_select_under" -> F.css_select_under(n, ids, "a, i"),
    "css_filter" -> F.css_filter(n, ids, "a, li"),
    "css_is" -> F.css_is(n, ids, "p"),
    "dom_find" -> F.dom_find(n, Seq("body", "div")),
    "dom_copy_selection append" ->
      F.dom_copy_selection(n, "div", F.parse_html(col("other")), "p, a", "append"),
    "dom_copy_selection replace" ->
      F.dom_copy_selection(n, "li, td", F.parse_html(col("other")), "b", "replace"),
    "dom_text" -> F.dom_text(n, ids),
    "dom_immediate_text" -> F.dom_immediate_text(n, ids),
    "dom_text_each" -> F.dom_text_each(n, ids),
    "dom_attr_each" -> call_function("dom_attr_each", n, ids, col("key")),
    "dom_attr" -> call_function("dom_attr", n, ids, col("key")),
    "dom_has_attr" -> call_function("dom_has_attr", n, ids, col("key")),
    "dom_html_root" -> F.dom_html_root(n),
    "dom_html" -> call_function("dom_html", n, ids, col("flag")),
    "dom_formatted_text" -> F.dom_formatted_text(n, ids),
    "dom_md" -> F.dom_md(n, ids),
    "dom_norm_char_count" -> F.dom_norm_char_count(n, ids),
    "dom_mutate" -> F.dom_mutate(n, "a", "set_attr", lit("rel"), col("key")),
    "dom_mutate_ops" -> F.dom_mutate_ops(n, Seq(
      ("p, li", "add_class", lit("c"), lit(null)),
      ("a", "set_attr", lit("data-k"), col("key")),
      ("b", "unwrap", lit(null), lit(null)),
      ("div", "append_html", lit("<span>s</span>"), col("base")))),
    "dom_spans" -> F.dom_spans(n),
    "dom_ancestors" -> F.dom_ancestors(n, ids, 2),
    "dom_children" -> F.dom_children(n, ids),
    "dom_validate" -> F.dom_validate(F.dom_mutate(n, "div", "remove")),
    "dom_base_uri" -> F.dom_base_uri(n),
    "canonicalize_url" -> F.canonicalize_url(col("key"), col("base")),
    "canonicalize_url of links" ->
      F.canonicalize_url(call_function("dom_attr", n, F.css_select(n, "a[href]"), lit("href")),
        coalesce(F.dom_base_uri(n), col("base"))),
    "url_host" -> F.url_host(F.canonicalize_url(col("key"), col("base")))
  )

  /** The DOM and URL expression classes of the SQL function table. */
  private lazy val registered: Set[Class[_]] = F.functions.flatMap { case (_, _, build) =>
    scala.util.Try(build(Seq.fill(5)(Literal("a")))).toOption.filter(isDom).map(_.getClass)
  }.toSet

  private def rows(s: SparkSession, c: Column): Seq[String] =
    docs(s).select(col("i"), c.as("v")).collect()
      .sortBy(_.getInt(0)).map(_.toString).toSeq

  test("the cases cover every DOM and URL expression of the function table") {
    val covered = cases.flatMap { case (_, c) =>
      docs(interpretedSession).select(c).queryExecution.analyzed.expressions
        .flatMap(_.collect { case e if isDom(e) => e.getClass })
    }.toSet
    assert(registered.size == 26, registered)
    assert(registered -- covered == Set.empty)
  }

  for ((name, c) <- cases) test(s"$name: codegen gives the interpreted rows, inside whole-stage codegen") {
    val got = rows(compiledSession, c)
    assert(got == rows(interpretedSession, c))
    assert(got.length == pages.length)
    val plan = docs(compiledSession).select(col("i"), c.as("v")).queryExecution.executedPlan
    val outside = domOutsideCodegen(plan)
    assert(outside.isEmpty, s"$name runs outside whole-stage codegen:\n$plan")
  }
}
