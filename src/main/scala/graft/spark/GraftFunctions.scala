package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{call_function, lit}

/**
 * Session-level registration of the dom_query expression surface, plus typed
 * Column wrappers. Registered in the session FunctionRegistry so the
 * operators are usable from both the DataFrame API and plain SQL
 * (`SELECT css_select(nodes, 'div.a') FROM docs`).
 *
 * Idempotent — call `GraftFunctions.register(spark)` at the top of every
 * entry point, or build the session with [[GraftExtensions]], which injects
 * the same [[functions]] table and [[optimizerRules]].
 */
object GraftFunctions {

  private def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The shape `SparkSessionExtensions.injectFunction` takes. */
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def fn(name: String)(builder: FunctionBuilder): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo("graft.spark", name), builder)

  /** The one name → builder table of the dom_query SQL surface: [[register]]
    * adds it to a live session, [[GraftExtensions]] injects it at session
    * build. */
  val functions: Seq[FunctionDescription] = Seq(
    fn("parse_html")(es => ParseHtml(es.head, fragment = false)),
    fn("parse_fragment")(es => ParseHtml(es.head, fragment = true)),
    fn("css_select")(es => CssSelect(es(0), es(1))),
    fn("css_select_first")(es => CssSelectFirst(es(0), es(1))),
    fn("css_select_under")(es => CssSelectUnder(es(0), es(1), es(2))),
    fn("css_filter")(es => CssFilter(es(0), es(1), es(2))),
    fn("css_is")(es => CssIs(es(0), es(1), es(2))),
    fn("dom_text")(es => DomText(es(0), es(1))),
    fn("dom_immediate_text")(es => DomText(es(0), es(1), immediate = true)),
    fn("dom_attr")(es => DomAttr(es(0), es(1), es(2))),
    fn("dom_text_each")(es => DomTextEach(es(0), es(1))),
    fn("dom_attr_each")(es => DomAttrEach(es(0), es(1), es(2))),
    fn("dom_html")(es => DomHtml(es(0), es(1), es(2))),
    fn("dom_formatted_text")(es => DomFormattedText(es(0), es(1))),
    fn("dom_md")(es => DomMd(es(0), es(1))),
    fn("dom_norm_char_count")(es => DomNormCharCount(es(0), es(1))),
    fn("dom_mutate")(DomMutateOps.single),
    fn("dom_mutate_ops")(es => DomMutateOps(es)),
    fn("dom_has_attr")(es => DomHasAttr(es(0), es(1), es(2))),
    fn("dom_html_root")(es => DomHtmlRoot(es.head)),
    fn("dom_find")(es => DomFind(es(0), es(1))),
    fn("dom_ancestors")(es => DomAncestors(es(0), es(1), es(2))),
    fn("dom_children")(es => DomChildren(es(0), es(1))),
    fn("lsh_bits")(es => LshBitsExpr(es(0), es(1), es(2))),
    fn("cos_sim")(es => CosSim(es(0), es(1))),
    fn("word_hashes")(es => WordHashes(es.head)),
    fn("text_profile")(es => TextProfile(es.head)),
    fn("minhash_sig")(es => MinhashSig(es.head)),
    fn("simhash_bits")(es => SimhashBits(es.head)),
    fn("norm_fingerprint")(es => NormFingerprint(es.head)),
    fn("text_lang_stats")(es => TextLangStats(es.head)),
    fn("parse_html_meta")(es => ParseHtml(es.head, fragment = false, meta = true)),
    fn("parse_fragment_meta")(es => ParseHtml(es.head, fragment = true, meta = true)),
    fn("dom_copy_selection")(es => DomCopySelection(es)),
    fn("dom_spans")(es => DomSpans(es.head)),
    fn("dom_validate")(es => DomValidate(es.head)),
    fn("dom_base_uri")(es => DomBaseUri(es.head)),
    fn("bloom_might_contain_bc")(es => graft.crawl.BloomMightContainBc(es(1),
      graft.crawl.BloomBroadcasts.get(
        es(0).eval(org.apache.spark.sql.catalyst.InternalRow.empty).toString))),
    fn("ivf_assign_bc")(es => IvfAssignBc(es(1),
      IvfBroadcasts.get(
        es(0).eval(org.apache.spark.sql.catalyst.InternalRow.empty).toString))),
    fn("canonicalize_url")(es => graft.crawl.CanonicalizeUrl(es(0), es(1))),
    fn("url_host")(es => graft.crawl.UrlHostExpr(es.head))
  )

  /** The optimizer rules of the dom_query surface: [[register]] adds them
    * to a live session, [[GraftExtensions]] injects them at session build.
    * The two land in different optimizer batches: `register` appends to
    * `experimental.extraOptimizations` ("User Provided Optimizers", run once
    * after the operator-optimization batch), `injectOptimizerRule` places
    * them inside the operator-optimization fixed point, next to
    * `CollapseProject` and `ColumnPruning`. Each rule must give the same plan
    * in both; PlanSpec checks the rewrite under both session kinds. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(PushDomBelowGenerate)

  def register(spark: SparkSession): Unit = {
    val reg = classic(spark).sessionState.functionRegistry
    if (reg.functionExists(FunctionIdentifier("css_select"))) return // idempotent
    functions.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
    val exp = classic(spark).experimental
    exp.extraOptimizations = exp.extraOptimizations ++
      optimizerRules.filterNot(exp.extraOptimizations.contains)
  }

  // --- typed Column wrappers --------------------------------------------------

  def parse_html(html: Column): Column = call_function("parse_html", html)
  def parse_fragment(html: Column): Column = call_function("parse_fragment", html)
  def css_select(nodes: Column, css: String): Column =
    call_function("css_select", nodes, lit(css))
  def css_select_first(nodes: Column, css: String): Column =
    call_function("css_select_first", nodes, lit(css))
  def css_select_under(nodes: Column, ids: Column, css: String): Column =
    call_function("css_select_under", nodes, ids, lit(css))
  def css_filter(nodes: Column, ids: Column, css: String): Column =
    call_function("css_filter", nodes, ids, lit(css))
  def css_is(nodes: Column, ids: Column, css: String): Column =
    call_function("css_is", nodes, ids, lit(css))
  def dom_text(nodes: Column, ids: Column): Column = call_function("dom_text", nodes, ids)
  def dom_immediate_text(nodes: Column, ids: Column): Column =
    call_function("dom_immediate_text", nodes, ids)
  def dom_attr(nodes: Column, ids: Column, key: String): Column =
    call_function("dom_attr", nodes, ids, lit(key))
  def dom_text_each(nodes: Column, ids: Column): Column =
    call_function("dom_text_each", nodes, ids)
  def dom_attr_each(nodes: Column, ids: Column, key: String): Column =
    call_function("dom_attr_each", nodes, ids, lit(key))
  def dom_html(nodes: Column, ids: Column, includeRoot: Boolean = true): Column =
    call_function("dom_html", nodes, ids, lit(includeRoot))
  def dom_formatted_text(nodes: Column, ids: Column): Column =
    call_function("dom_formatted_text", nodes, ids)
  def dom_md(nodes: Column, ids: Column): Column = call_function("dom_md", nodes, ids)
  def dom_norm_char_count(nodes: Column, ids: Column): Column =
    call_function("dom_norm_char_count", nodes, ids)
  def dom_mutate(nodes: Column, css: String, op: String,
      arg1: Column = lit(null), arg2: Column = lit(null)): Column =
    call_function("dom_mutate", nodes, lit(css), lit(op), arg1, arg2)
  /** Multi-op mutation pipeline: one decode/rebuild per row for all ops. */
  def dom_mutate_ops(nodes: Column, ops: Seq[(String, String, Column, Column)]): Column =
    call_function("dom_mutate_ops",
      nodes +: ops.flatMap { case (css, op, a1, a2) => Seq(lit(css), lit(op), a1, a2) }: _*)
  def minhash_sig(shingles: Column): Column = call_function("minhash_sig", shingles)
  def simhash_bits(tokenHashes: Column): Column = call_function("simhash_bits", tokenHashes)
  def norm_fingerprint(text: Column): Column = call_function("norm_fingerprint", text)
  def text_lang_stats(toks: Column): Column = call_function("text_lang_stats", toks)
  def lsh_bits(embedding: Column, jStart: Int, nBits: Int): Column =
    call_function("lsh_bits", embedding, lit(jStart), lit(nBits))
  def cos_sim(a: Column, b: Column): Column = call_function("cos_sim", a, b)
  def word_hashes(text: Column): Column = call_function("word_hashes", text)
  def text_profile(text: Column): Column = call_function("text_profile", text)
  def dom_has_attr(nodes: Column, ids: Column, key: String): Column =
    call_function("dom_has_attr", nodes, ids, lit(key))
  def dom_html_root(nodes: Column): Column = call_function("dom_html_root", nodes)
  def dom_find(nodes: Column, path: Seq[String]): Column =
    call_function("dom_find", nodes, lit(path.mkString(",")))
  def dom_ancestors(nodes: Column, ids: Column, maxDepth: Int): Column =
    call_function("dom_ancestors", nodes, ids, lit(maxDepth))
  def dom_children(nodes: Column, ids: Column): Column =
    call_function("dom_children", nodes, ids)
  def parse_html_meta(html: Column): Column = call_function("parse_html_meta", html)
  def parse_fragment_meta(html: Column): Column = call_function("parse_fragment_meta", html)
  def dom_copy_selection(target: Column, targetCss: String, source: Column,
      sourceCss: String, mode: String): Column =
    call_function("dom_copy_selection", target, lit(targetCss), source, lit(sourceCss), lit(mode))
  def dom_spans(nodes: Column): Column = call_function("dom_spans", nodes)
  def dom_validate(nodes: Column): Column = call_function("dom_validate", nodes)
  def dom_base_uri(nodes: Column): Column = call_function("dom_base_uri", nodes)
  /** Probe a driver-cached bloom filter via broadcast transport + codegen
    * (see [[graft.crawl.BloomMightContainBc]]). One live broadcast per
    * `slot`; re-broadcasts on every call since callers may mutate the
    * filter between calls. Only the benchmark calls it; the crawl round
    * probes no bloom. */
  def bloom_probe_bc(spark: SparkSession, slot: String,
      bloom: org.apache.spark.util.sketch.BloomFilter, hash: Column): Column = {
    register(spark)
    val bc = spark.sparkContext.broadcast(bloom)
    val key = graft.crawl.BloomBroadcasts.install(slot, bc)
    call_function("bloom_might_contain_bc", lit(key), hash)
  }
  /** argmax-cosine IVF cell over a broadcast-carried quantizer (see
    * [[IvfAssignBc]]). One live broadcast per `slot`. */
  def ivf_assign_bc(spark: SparkSession, slot: String, q: IvfQuantizer,
      embedding: Column): Column = {
    register(spark)
    val bc = spark.sparkContext.broadcast(q)
    val key = IvfBroadcasts.install(slot, bc)
    call_function("ivf_assign_bc", lit(key), embedding)
  }
  def canonicalize_url(url: Column, base: Column): Column =
    call_function("canonicalize_url", url, base)
  def url_host(url: Column): Column = call_function("url_host", url)
}
