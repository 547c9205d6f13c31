package graft.spark

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Session-extension entry point for spark-submit deployments:
 *
 *   spark-submit --conf spark.sql.extensions=graft.spark.GraftExtensions ...
 *
 * injects the whole dom_query function surface at session build time, so SQL
 * users get `css_select` / `dom_text` / `canonicalize_url` / ... without any
 * driver-side registration call. `GraftFunctions.register(spark)` remains the
 * runtime-idempotent path for sessions we don't construct (the test driver).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    def inject(name: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.spark", name), builder))

    inject("parse_html")(es => ParseHtml(es.head, fragment = false))
    inject("parse_fragment")(es => ParseHtml(es.head, fragment = true))
    inject("css_select")(es => CssSelect(es(0), es(1)))
    inject("css_select_first")(es => CssSelectFirst(es(0), es(1)))
    inject("css_select_under")(es => CssSelectUnder(es(0), es(1), es(2)))
    inject("css_filter")(es => CssFilter(es(0), es(1), es(2)))
    inject("css_is")(es => CssIs(es(0), es(1), es(2)))
    inject("dom_text")(es => DomText(es(0), es(1)))
    inject("dom_immediate_text")(es => DomText(es(0), es(1), immediate = true))
    inject("dom_attr")(es => DomAttr(es(0), es(1), es(2)))
    inject("dom_html")(es => DomHtml(es(0), es(1), es(2)))
    inject("dom_formatted_text")(es => DomFormattedText(es(0), es(1)))
    inject("dom_md")(es => DomMd(es(0), es(1)))
    inject("dom_norm_char_count")(es => DomNormCharCount(es(0), es(1)))
    inject("dom_mutate")(DomMutateOps.single)
    inject("dom_spans")(es => DomSpans(es.head))
    inject("dom_validate")(es => DomValidate(es.head))
    inject("dom_base_uri")(es => DomBaseUri(es.head))
    inject("canonicalize_url")(es => graft.crawl.CanonicalizeUrl(es(0), es(1)))
    inject("url_host")(es => graft.crawl.UrlHostExpr(es.head))
  }
}
