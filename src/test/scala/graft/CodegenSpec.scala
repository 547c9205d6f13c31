package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.PlanSpec.{domOutsideCodegen, isGraft}
import graft.spark.{GraftFunctions => F}

/**
 * Codegen vs interpreted differential for every graft expression — the DOM
 * expressions, `canonicalize_url` / `url_host`, the pipeline kernels and the
 * two broadcast probes (`ivf_assign_bc`, `bloom_might_contain_bc`): each case runs in a session that compiles
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
 * and mutation arguments come from nullable columns, not literals. The
 * kernels read null and empty text and arrays, vectors of unequal length,
 * zero vectors and a vector with a null element.
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

  /** Kernel inputs: text `t`, token hashes `h`, tokens `w`, embeddings `e`
    * and `f`, hash `k`. Row 0 is all null, row 1 all empty; `f` differs from
    * `e` in length on row 4, both are zero vectors on row 3, and `e` holds a
    * null element on row 5. */
  private def kernelDocs(s: SparkSession): DataFrame = {
    def vec(seed: Int, n: Int): Seq[Any] =
      (0 until n).map(d => ((seed * 131 + d * 37) % 23 - 11) / 7.0f)
    val rows = Seq(
      Row(0, null, null, null, null, null, null),
      Row(1, "", Seq(), Seq(), Seq(), Seq(), 0L),
      Row(2, "  The quick  brown\tfox jumps über the lazy dog  ", Seq(3L, 99L, 1000000006L, 3L),
        Seq("the", "and", "der", "le", "y"), vec(2, 64), vec(5, 64), 42L),
      Row(3, "Le chat et le chien sont dans la maison", Seq(5L), Seq(null, "la", "et"),
        Seq.fill(64)(0.0f), Seq.fill(64)(0.0f), -7L),
      Row(4, "Der Hund und die Katze 12 3!! \u00a0 x\n", Seq(7L, 7L), Seq("und", "die"),
        vec(4, 64), vec(4, 32), 1L << 40),
      Row(5, "a", Seq(0L), Seq(""), vec(1, 63) :+ null, vec(3, 64), null))
    val schema = StructType(Seq(
      StructField("i", IntegerType),
      StructField("t", StringType),
      StructField("h", ArrayType(LongType)),
      StructField("w", ArrayType(StringType)),
      StructField("e", ArrayType(FloatType)),
      StructField("f", ArrayType(FloatType)),
      StructField("k", LongType)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema).repartition(2)
  }

  /** name → column over [[kernelDocs]]. */
  private val kernelCases: Seq[(String, Column)] = Seq(
    "minhash_sig" -> F.minhash_sig(col("h")),
    "simhash_bits" -> F.simhash_bits(col("h")),
    "simhash_bits of word_hashes" -> F.simhash_bits(F.word_hashes(col("t"))),
    "norm_fingerprint" -> F.norm_fingerprint(col("t")),
    "text_profile" -> F.text_profile(col("t")),
    "word_hashes" -> F.word_hashes(col("t")),
    "text_lang_stats" -> F.text_lang_stats(col("w")),
    "cos_sim" -> F.cos_sim(col("e"), col("f")),
    "cos_sim of a vector with itself" -> F.cos_sim(col("e"), col("e")),
    "lsh_bits 1 bit" -> F.lsh_bits(col("e"), 0, 1),
    "lsh_bits 12 bits" -> F.lsh_bits(col("e"), 5, 12)
  )

  /** The graft expression classes of the SQL function table that build from
    * literals (the two broadcast probes need a registered broadcast). */
  private lazy val registered: Set[Class[_]] = F.functions.flatMap { case (_, _, build) =>
    scala.util.Try(build(Seq.fill(5)(Literal("a")))).toOption.filter(isGraft).map(_.getClass)
  }.toSet

  test("the cases cover every DOM and URL expression of the function table") {
    def classes(frame: DataFrame, cs: Seq[(String, Column)]) = cs.flatMap { case (_, c) =>
      frame.select(c).queryExecution.analyzed.expressions
        .flatMap(_.collect { case e if isGraft(e) => e.getClass })
    }
    val covered = (classes(docs(interpretedSession), cases) ++
      classes(kernelDocs(interpretedSession), kernelCases)).toSet
    assert(registered.size == 34, registered)
    assert(registered -- covered == Set.empty)
  }

  /** The compiled rows equal the interpreted ones, and the compiled plan
    * runs every graft expression inside whole-stage codegen. */
  private def differential(name: String, frame: SparkSession => DataFrame)(c: => Column): Unit =
    test(s"$name: codegen gives the interpreted rows, inside whole-stage codegen") {
      val v = c
      def q(s: SparkSession) = frame(s).select(col("i"), v.as("v"))
      def rows(s: SparkSession) = q(s).collect().sortBy(_.getInt(0)).map(_.toString).toSeq
      val got = rows(compiledSession)
      assert(got == rows(interpretedSession))
      assert(got.length == frame(interpretedSession).count())
      val plan = q(compiledSession).queryExecution.executedPlan
      val outside = domOutsideCodegen(plan)
      assert(outside.isEmpty, s"$name runs outside whole-stage codegen:\n$plan")
    }

  for ((name, c) <- cases) differential(name, docs)(c)
  for ((name, c) <- kernelCases) differential(name, kernelDocs)(c)

  differential("ivf_assign_bc", kernelDocs) {
    val cents = Array(Array.fill(64)(1.0f), Array.tabulate(64)(d => if (d % 2 == 0) 1.0f else -1.0f),
      Array.fill(32)(-0.5f))
    F.ivf_assign_bc(spark, "codegen-spec", graft.spark.IvfQuantizer.build(Array(3L, 8L, 11L), cents),
      col("e"))
  }

  differential("bloom_might_contain_bc", kernelDocs) {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100)
    Seq(0L, 42L, 1L << 40).foreach(bloom.putLong)
    F.bloom_probe_bc(spark, "codegen-spec", bloom, col("k"))
  }
}
