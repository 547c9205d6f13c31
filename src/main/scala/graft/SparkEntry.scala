package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{GraftFunctions => F, SynthDocs}
import graft.crawl.Frontier
import graft.pipeline.{Similarity, TextPipeline}

/**
 * Driver contract (see SURVEY.md §7). Every entry exercises one operator
 * family from SURVEY.md §2 through the real engine (HTML synthesis →
 * parse_html → selector/extraction/mutation expressions), while the DuckDB
 * oracle computes the expected output *relationally* from the same base
 * parquet — the outputs agree iff the engine is correct.
 */
object SparkEntry {

  /** Flagship: the reference's hacker_news link-extraction workload
    * (`examples/hacker_news.rs:7-13`) over synthesized docs at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    qLinks(spark, "/root/testdata/sf0.001")

  // --- shared builders --------------------------------------------------------

  private def parts(s: SparkSession, dir: String): DataFrame =
    SynthDocs.partDocs(s, dir)

  /** The flagship extraction: select story rows, then chained sub-selects —
    * the serial-decomposition pattern the reference benches as fastest
    * (dom-query-bench/README.md:15). */
  private def qLinks(s: SparkSession, dir: String): DataFrame = {
    val docs = SynthDocs.hnDocs(s, dir)
    docs
      .withColumn("athing", F.css_select(col("nodes"), "tr.athing:has(a[href][id])"))
      .withColumn("title_a", F.css_select_under(col("nodes"), col("athing"), ".title a.storylink"))
      .select(
        col("doc_id"),
        F.dom_attr(col("nodes"), col("title_a"), "href").as("href"),
        F.dom_text(col("nodes"), col("title_a")).as("title"),
        F.dom_text(col("nodes"),
          F.css_select_under(col("nodes"), col("athing"), ".sitebit a")).as("source"))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: parse — node count is a pure function of p_name word count
    "q_dom_parse_count" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"), size(col("nodes")).cast("long").as("n_nodes"))
        .orderBy("doc_id")),

    // P3/Q1: tag select
    "q_dom_select_tag" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          size(F.css_select(col("nodes"), "li")).cast("long").as("n_li"))
        .orderBy("doc_id")),

    // P5/P7: class + first-child + text extraction
    "q_dom_first_child_text" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_text(col("nodes"),
            F.css_select(col("nodes"), "ul.words li:first-child")).as("first_word"))
        .orderBy("doc_id")),

    // P7: nth-child
    "q_dom_nth_child" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_text(col("nodes"),
            F.css_select(col("nodes"), "ul.words li:nth-child(2)")).as("second_word"))
        .orderBy("doc_id")),

    // X1: attribute extraction
    "q_dom_attr" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_attr(col("nodes"), F.css_select(col("nodes"), "a.plink"), "href").as("href"))
        .orderBy("doc_id")),

    // X6 + child combinator
    "q_dom_text" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_text(col("nodes"), F.css_select(col("nodes"), "#main > a")).as("type_text"))
        .orderBy("doc_id")),

    // F5: base_uri fast path
    "q_dom_base_uri" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"), F.dom_base_uri(col("nodes")).as("base_uri"))
        .orderBy("doc_id")),

    // Q3: chained select under a selection
    "q_dom_select_under" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          size(F.css_select_under(col("nodes"),
            F.css_select(col("nodes"), "#main"), ".words li")).cast("long").as("n_under"))
        .orderBy("doc_id")),

    // Q4: filter with is-semantics (odd positions)
    "q_dom_filter" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          size(F.css_filter(col("nodes"),
            F.css_select(col("nodes"), "ul.words li"), ":nth-child(odd)")).cast("long")
            .as("n_odd"))
        .orderBy("doc_id")),

    // Q8: is
    "q_dom_is" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.css_is(col("nodes"), F.css_select(col("nodes"), "#main"), "div.part")
            .as("is_part"))
        .orderBy("doc_id")),

    // S4: HTML serialization
    "q_dom_html" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_html(col("nodes"), F.css_select(col("nodes"), "a.plink")).as("a_html"))
        .orderBy("doc_id")),

    // X11: normalized char count (streaming fold)
    "q_dom_norm_chars" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_norm_char_count(col("nodes"),
            F.css_select(col("nodes"), "#main")).as("n_chars"))
        .orderBy("doc_id")),

    // M15 via dom_mutate + re-select
    "q_dom_mutate_class" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate(col("nodes"), "ul.words li", "add_class", lit("marked")))
        .select(col("doc_id"),
          size(F.css_select(col("nodes2"), "ul.words li.marked")).cast("long").as("n_marked"))
        .orderBy("doc_id")),

    // M7: removal keeps ids stable, selection shrinks
    "q_dom_mutate_remove" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate(col("nodes"), "ul.words li:first-child", "remove"))
        .select(col("doc_id"),
          size(F.css_select(col("nodes2"), "li")).cast("long").as("n_li_left"))
        .orderBy("doc_id")),

    // C4: validate after a mutation pipeline — dom_mutate_ops runs the whole
    // op list with ONE ArrayData→Arena decode + rebuild per row
    "q_dom_mutate_validate" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2",
          F.dom_mutate_ops(col("nodes"), Seq(
            ("a.plink", "set_attr", lit("rel"), lit("nofollow")),
            ("ul.words", "append_html", lit("<li class=\"extra\">tail</li>"), lit(null)))))
        .select(col("doc_id"),
          F.dom_validate(col("nodes2")).isNull.as("is_valid"),
          size(F.css_select(col("nodes2"), "li.extra")).cast("long").as("n_extra"))
        .orderBy("doc_id")),

    // P12: adjacent (+) and general (~) sibling combinators
    "q_dom_combinators" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_text(col("nodes"),
            F.css_select(col("nodes"), "a.plink + ul.words > li:first-child")).as("adj_first"),
          F.dom_text(col("nodes"),
            F.css_select(col("nodes"), "a.plink ~ p.sz")).as("sib_text"))
        .orderBy("doc_id")),

    // P9: the non-standard text pseudo-classes :contains / :has-text
    "q_dom_contains" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          size(F.css_select(col("nodes"), "ul.words li:contains('e')")).cast("long")
            .as("n_contains"),
          size(F.css_select(col("nodes"), "ul.words li:has-text('e')")).cast("long")
            .as("n_has_text"))
        .orderBy("doc_id")),

    // X7: immediate_text vs subtree text (append_html gives #main a direct
    // text child; immediate_text sees only it, dom_text sees the subtree)
    "q_dom_immediate_text" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate(col("nodes"), "#main", "append_html",
          concat(lit(" tail "), col("doc_id"))))
        .select(col("doc_id"),
          F.dom_immediate_text(col("nodes2"),
            F.css_select(col("nodes2"), "#main")).as("im_text"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "#main")).as("full_text"))
        .orderBy("doc_id")),

    // F1: descent-pruned name-path find + Q2 select_single
    "q_dom_find" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          size(F.dom_find(col("nodes"), Seq("body", "ul", "li"))).cast("long").as("n_li"),
          size(F.dom_find(col("nodes"), Seq("li", "li"))).cast("long").as("n_nested"),
          F.dom_text(col("nodes"),
            array(F.css_select_first(col("nodes"), "ul.words li"))).as("first_li"))
        .orderBy("doc_id")),

    // Q6/Q7: selection union keeps first-selection order, dedups
    "q_dom_union" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_text(col("nodes"),
            array_union(F.css_select(col("nodes"), "p.sz"),
              F.css_select(col("nodes"), "a.plink, p.sz"))).as("union_text"))
        .orderBy("doc_id")),

    // M11/M12/C1/C2: cross-tree selection copy (append + replace modes)
    "q_dom_cross_copy" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("src_nodes", F.parse_fragment(
          concat(lit("<em class=\"badge\">ex-"), col("doc_id"), lit("</em>"))))
        .withColumn("nodes2",
          F.dom_copy_selection(col("nodes"), "p.sz", col("src_nodes"), "em.badge", "append"))
        .withColumn("nodes3",
          F.dom_copy_selection(col("nodes2"), "a.plink", col("src_nodes"), "em.badge", "replace"))
        .select(col("doc_id"),
          F.dom_text(col("nodes3"), F.css_select(col("nodes3"), "p.sz")).as("p_text"),
          size(F.css_select(col("nodes3"), "em.badge")).cast("long").as("n_badges"),
          size(F.css_select(col("nodes3"), "a.plink")).cast("long").as("n_links"))
        .orderBy("doc_id")),

    // S1 meta surface: parse errors + quirks mode (document.rs:22-32)
    "q_dom_parse_errors" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("meta", F.parse_html_meta(concat(
          when(col("doc_id").cast("long") % 2 === 0, lit("<!DOCTYPE html>"))
            .otherwise(lit("")),
          col("html"),
          when(col("doc_id").cast("long") % 3 === 0, lit("</section>"))
            .when(col("doc_id").cast("long") % 3 === 1, lit("<b><i>x</b></i>"))
            .otherwise(lit("")))))
        .select(col("doc_id"),
          size(col("meta.errors")).cast("long").as("n_errors"),
          col("meta.quirks_mode").as("quirks"))
        .orderBy("doc_id")),

    // input_hint interchange: preorder span flattening (kind:text signature)
    "q_dom_spans" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          expr("""array_join(transform(dom_spans(nodes),
                    sp -> concat(sp.kind, ':', coalesce(sp.text, ''))), '|')""")
            .as("span_sig"))
        .orderBy("doc_id")),

    // S5: markdown serialization of the #main subtree
    "q_dom_md" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          regexp_replace(regexp_replace(
            F.dom_md(col("nodes"), F.css_select(col("nodes"), "#main")),
            "^[\\n ]+", ""), "[\\n ]+$", "").as("md"))
        .orderBy("doc_id")),

    // S6/X8: formatted text with block-element line-break rules
    "q_dom_formatted_text" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          regexp_replace(
            F.dom_formatted_text(col("nodes"), F.css_select(col("nodes"), "#main")),
            "[\\n ]+$", "").as("ftext"))
        .orderBy("doc_id")),

    // M13 wrap_html + unwrap: wrap the link, then splice the list's children up
    "q_dom_wrap" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate_ops(col("nodes"), Seq(
          ("a.plink", "wrap_html", lit("<span class=\"wrap\"></span>"), lit(null)),
          ("ul.words", "unwrap", lit(null), lit(null)))))
        .select(col("doc_id"),
          size(F.css_select(col("nodes2"), "span.wrap > a.plink")).cast("long").as("n_wrapped"),
          size(F.css_select(col("nodes2"), "#main > li")).cast("long").as("n_top_li"),
          F.dom_validate(col("nodes2")).isNull.as("is_valid"))
        .orderBy("doc_id")),

    // M16 rename + M17 strip_elements: subtree text survives both rewrites
    "q_dom_rename_strip" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate_ops(col("nodes"), Seq(
          ("p.sz", "rename", lit("h2"), lit(null)),
          ("#main", "strip_elements", lit("ul"), lit(null)))))
        .select(col("doc_id"),
          size(F.css_select(col("nodes2"), "h2.sz")).cast("long").as("n_h2"),
          size(F.css_select(col("nodes2"), "#main > li")).cast("long").as("n_top_li"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "#main")).as("main_text"))
        .orderBy("doc_id")),

    // M9 set_text + M18 normalize: two appended text runs merge into one node
    "q_dom_set_text_normalize" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate_ops(col("nodes"), Seq(
          ("a.plink", "set_text", concat(lit("X-"), col("doc_id")), lit(null)),
          ("p.sz", "append_html", lit(" a"), lit(null)),
          ("p.sz", "append_html", lit(" b"), lit(null)),
          ("p.sz", "normalize", lit(null), lit(null)))))
        .withColumn("p_idx", expr("element_at(css_select(nodes2, 'p.sz'), 1)"))
        .select(col("doc_id"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "a.plink")).as("a_text"),
          expr("size(filter(nodes2, n -> n.parent = p_idx AND n.kind = 'text'))")
            .cast("long").as("n_text_children"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "p.sz")).as("p_text"))
        .orderBy("doc_id")),

    // S3: <template> contents live in a detached fragment — selection and
    // subtree text never see them, only the template element itself
    "q_dom_template" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.parse_html(regexp_replace(col("html"),
          "<p class=", "<template><li>hidden</li></template><p class=")))
        .select(col("doc_id"),
          size(F.css_select(col("nodes2"), "li")).cast("long").as("n_li"),
          size(F.css_select(col("nodes2"), "template")).cast("long").as("n_tpl"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "#main")).as("main_text"))
        .orderBy("doc_id")),

    // Q5 filter_selection (array_intersect) + Q9 is_selection (arrays_overlap)
    "q_dom_intersect" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("sel_li", F.css_select(col("nodes"), "ul.words li"))
        .select(col("doc_id"),
          size(array_intersect(col("sel_li"),
            F.css_select(col("nodes"), "ul.words li:nth-child(-n+3)")))
            .cast("long").as("n_common"),
          arrays_overlap(col("sel_li"),
            F.css_select(col("nodes"), "li:first-child")).as("overlap_li"),
          arrays_overlap(col("sel_li"),
            F.css_select(col("nodes"), "p.sz")).as("overlap_p"))
        .orderBy("doc_id")),

    // T3/T5/T6: the stored pointer/depth columns are the traversal surface —
    // read them straight off the nodes structs (no selector round trips)
    "q_dom_pointer_fields" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("ul", expr("element_at(nodes, element_at(css_select(nodes, 'ul.words'), 1) + 1)"))
        .select(col("doc_id"),
          expr("element_at(nodes, ul.prev_elem_sib + 1).name").as("prev_name"),
          expr("element_at(nodes, ul.next_elem_sib + 1).name").as("next_name"),
          expr("element_at(nodes, ul.first_child + 1).depth").cast("long").as("li_depth"),
          expr("element_at(nodes, element_at(nodes, ul.last_child + 1).first_child + 1).text")
            .as("last_word"))
        .orderBy("doc_id")),

    // Q2: select_single / css_select_first — first match id + miss → null
    "q_dom_select_first" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          F.dom_text(col("nodes"),
            array(F.css_select_first(col("nodes"), "ul.words li"))).as("first_li"),
          (F.css_select_first(col("nodes"), "li.zzz") < 0).as("miss_null"))
        .orderBy("doc_id")),

    // Q10: first/last/get over a selection = O(1) id-array slices (empty
    // slice → '' like the reference's empty-selection text())
    "q_dom_first_last_get" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("sel", F.css_select(col("nodes"), "ul.words li"))
        .select(col("doc_id"),
          F.dom_text(col("nodes"), slice(col("sel"), 1, 1)).as("first_w"),
          F.dom_text(col("nodes"), slice(col("sel"), -1, 1)).as("last_w"),
          F.dom_text(col("nodes"), expr("slice(sel, 3, 1)")).as("third_w"))
        .orderBy("doc_id")),

    // X10 subtree has-text at a non-leaf + X14/:only-text structural counts
    "q_dom_has_text_only" -> ((s, dir) =>
      parts(s, dir)
        .select(col("doc_id"),
          size(F.css_select(col("nodes"), "#main:has-text('size ')")).cast("long")
            .as("n_main_sz"),
          size(F.css_select(col("nodes"), "div:has-text('no-such-zz')")).cast("long")
            .as("n_miss"),
          size(F.css_select(col("nodes"), "ul.words li:only-text")).cast("long")
            .as("n_li_only"),
          size(F.css_select(col("nodes"), "#main > :only-text")).cast("long")
            .as("n_main_only"))
        .orderBy("doc_id")),

    // X2: attrs() in stored order (map insertion order = source order)
    "q_dom_attrs" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("aid", expr("element_at(css_select(nodes, 'a.plink'), 1)"))
        .select(col("doc_id"),
          expr("array_join(map_keys(element_at(nodes, aid + 1).attrs), ',')")
            .as("attr_names"),
          expr("array_join(map_values(element_at(nodes, aid + 1).attrs), ',')")
            .as("attr_values"))
        .orderBy("doc_id")),

    // M3 prepend + M4/M5 sibling inserts + M10 set_html + P8 :any-link +
    // F1/F6 body find — the insert family end-to-end with re-selection
    "q_dom_insert_family" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate_ops(col("nodes"), Seq(
          ("ul.words", "prepend_html", lit("<li class=\"first\">zero</li>"), lit(null)),
          ("a.plink", "before_html",
            concat(lit("<span class=\"pre\">"), col("doc_id"), lit("</span>")), lit(null)),
          ("a.plink", "after_html", lit("<span class=\"post\">]</span>"), lit(null)),
          ("p.sz", "set_html", lit("<em>resized</em>"), lit(null)))))
        .select(col("doc_id"),
          F.dom_text(col("nodes2"),
            F.css_select(col("nodes2"), "ul.words li:first-child")).as("first_li"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "span.pre")).as("pre_mark"),
          F.dom_text(col("nodes2"),
            F.css_select(col("nodes2"), "span.pre + a.plink + span.post")).as("post_mark"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "p.sz")).as("p_text"),
          size(F.css_select(col("nodes2"), ":any-link")).cast("long").as("n_links"),
          size(F.dom_find(col("nodes2"), Seq("body"))).cast("long").as("n_body"))
        .orderBy("doc_id")),

    // F6 head()/body() + T7 first_element_child + X4 id()/class() + X15
    // :empty — the remaining API-surface cluster, oracle-gated (r4)
    "q_dom_head_meta" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("bodykids",
          F.dom_children(col("nodes"), F.css_select(col("nodes"), "body")))
        .select(col("doc_id"),
          F.dom_text(col("nodes"), F.css_select(col("nodes"), "head > title"))
            .as("head_title"),
          expr("""element_at(nodes, element_at(
                    filter(bodykids, i -> element_at(nodes, i + 1).kind = 'element'),
                    1) + 1).name""").as("body_first_elem"),
          expr("element_at(element_at(nodes, element_at(css_select(nodes, '#main'), 1) + 1).attrs, 'id')")
            .as("main_id"),
          expr("element_at(element_at(nodes, element_at(css_select(nodes, 'a.plink'), 1) + 1).attrs, 'class')")
            .as("a_class"),
          size(F.css_select(col("nodes"), "li:empty")).cast("long").as("n_empty_li"))
        .orderBy("doc_id")),

    // T1/T2/T3 traversal surface: child walk + ancestor chains (bounded and
    // unbounded max_depth) straight off the pointer columns — r3 ask #7
    "q_dom_traverse" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("li1", array(F.css_select_first(col("nodes"), "ul.words li")))
        .select(col("doc_id"),
          expr("""array_join(transform(dom_ancestors(nodes, li1, 3),
                    i -> element_at(nodes, i + 1).name), ',')""").as("anc3_names"),
          size(F.dom_ancestors(col("nodes"), col("li1"), -1)).cast("long").as("n_anc_all"),
          expr("""array_join(transform(dom_children(nodes, css_select(nodes, '#main')),
                    i -> element_at(nodes, i + 1).name), ',')""").as("child_names"),
          size(F.dom_children(col("nodes"), F.css_select(col("nodes"), "ul.words")))
            .cast("long").as("n_ul_children"))
        .orderBy("doc_id")),

    // Q7/M12: append_selection — copies of one selection appended to every
    // node of another (same-tree source), plus add_selection as array_union
    "q_dom_append_selection" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_copy_selection(col("nodes"),
          "ul.words li:nth-child(-n+2)", col("nodes"), "a.plink", "append"))
        .select(col("doc_id"),
          size(F.css_select(col("nodes2"), "a.plink")).cast("long").as("n_links"),
          F.dom_text(col("nodes2"),
            F.css_select(col("nodes2"), "ul.words li:first-child")).as("first_li"),
          size(array_union(F.css_select(col("nodes2"), "ul.words li"),
            F.css_select(col("nodes2"), "a.plink"))).cast("long").as("n_union"))
        .orderBy("doc_id")),

    // M6 append/prepend_children + M8 reparent/remove_children + T8
    // html_root + Q11 length/exists/is_empty — the assembly wrapper cluster,
    // oracle-gated (r4 ask #4a): a five-stage child-chain shuffle whose
    // final layout is a pure function of p_name
    "q_dom_assemble" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodes2", F.dom_mutate_ops(col("nodes"), Seq(
          ("body", "append_html", lit("<div id=\"stash\"></div>"), lit(null)),
          // M6: ul.words AND its following sibling p.sz move into #stash
          ("#stash", "append_children", lit("#main > ul.words"), lit(null)),
          // M8: the li's move back under #main (after a.plink)
          ("ul.words", "reparent_children", lit("#main"), lit(null)),
          // M8: p.sz loses its text child
          ("#stash p.sz", "remove_children", lit(null), lit(null)),
          // M6: the li chain returns to the (now empty) ul, order preserved
          ("ul.words", "prepend_children", lit("#main li"), lit(null)))))
        .select(col("doc_id"),
          expr("""array_join(transform(dom_children(nodes2, css_select(nodes2, '#stash')),
                    i -> element_at(nodes2, i + 1).name), ',')""").as("stash_kids"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "#stash ul.words"))
            .as("ul_text"),
          F.dom_text(col("nodes2"), F.css_select(col("nodes2"), "#main")).as("main_text"),
          size(F.css_select(col("nodes2"), "#stash :empty")).cast("long").as("n_empty_stash"),
          // T8: first element child of the root — stable at 1 through surgery
          F.dom_html_root(col("nodes2")).cast("long").as("html_root_id"),
          // Q11 length / is_empty as cardinalities
          size(F.css_select(col("nodes2"), "li")).cast("long").as("n_li"),
          size(F.css_select(col("nodes2"), "#main li")).cast("long").as("n_main_li"))
        .orderBy("doc_id")),

    // X3 has_attr (presence, incl. the empty-value case dom_attr can't
    // distinguish) + X14 :only-text + P11 inert pseudo-classes (parse but
    // never match) + C2 copy_nodes_with_fn (batch C1 + per-copy callback,
    // composed as copy_selection then add_class on the copies) + C3
    // to_fragment — oracle-gated (r4 ask #4b)
    "q_dom_reflect" -> ((s, dir) =>
      parts(s, dir)
        .withColumn("nodesC", F.dom_mutate(
          F.dom_copy_selection(col("nodes"), "p.sz", col("nodes"), "ul.words li", "append"),
          "p.sz li", "add_class", lit("copied")))
        .withColumn("nodesF", F.dom_mutate(col("nodes"), "ul.words", "to_fragment"))
        .select(col("doc_id"),
          F.dom_has_attr(col("nodes"), F.css_select(col("nodes"), "a.plink"), "href")
            .as("a_has_href"),
          F.dom_has_attr(col("nodes"), F.css_select(col("nodes"), "a.plink"), "ping")
            .as("a_has_ping"),
          size(F.css_select(col("nodes"), "#main *:only-text")).cast("long")
            .as("n_only_text"),
          size(F.css_select(col("nodes"), "a.plink:hover, li:visited, p:focus"))
            .cast("long").as("n_inert"),
          size(F.css_select(col("nodesC"), "p.sz li.copied")).cast("long").as("n_copied"),
          size(F.css_select(col("nodesC"), "ul.words li.copied")).cast("long")
            .as("n_orig_tagged"),
          F.dom_text(col("nodesC"), F.css_select(col("nodesC"), "p.sz")).as("copied_text"),
          size(col("nodesF")).cast("long").as("n_frag_nodes"),
          F.dom_html(col("nodesF"), F.css_select(col("nodesF"), "ul")).as("frag_html"))
        .orderBy("doc_id")),

    // flagship link extraction (P10 :has + Q3 chains + X1/X6)
    "q_links" -> ((s, dir) => qLinks(s, dir)),

    // flagship at reference scale: multi-story pages, per-story extraction
    // batched in ONE projection (dom_*_each) then exploded — the nodes array
    // is never duplicated per output row
    "q_links_big" -> ((s, dir) => {
      val docs = SynthDocs.hnBigDocs(s, dir)
      docs
        .withColumn("athing", F.css_select(col("nodes"), "tr.athing:has(a[href][id])"))
        .withColumn("title_a", F.css_select_under(col("nodes"), col("athing"), ".title a.storylink"))
        .withColumn("site_a", F.css_select_under(col("nodes"), col("athing"), ".sitebit a"))
        .select(col("doc_id"),
          explode(arrays_zip(
            F.dom_attr_each(col("nodes"), col("title_a"), "href").as("href"),
            F.dom_text_each(col("nodes"), col("title_a")).as("title"),
            F.dom_text_each(col("nodes"), col("site_a")).as("source"))).as("x"))
        .select(col("doc_id"), col("x.href").as("href"),
          col("x.title").as("title"), col("x.source").as("source"))
        .orderBy("doc_id", "href")
    }),

    // windowed aggregation over the events table (same plan batch/streaming)
    "q_events_windowed" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        // decimal sum: exact and order-independent (double sums drift with
        // partial-aggregation order, breaking cross-engine equality)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("total"))
        .orderBy("day", "event_type")),

    // sessionization: 30-minute-gap sessions per user (lag + running sum)
    "q_events_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        // exact microsecond arithmetic: second-level truncation rounds
        // differently across engines on fractional timestamps
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_sess").over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          ((unix_micros(max("ts")) - unix_micros(min("ts"))) / lit(1000000L))
            .cast("long").as("duration_sec"))
        .orderBy("user_id", "session_id")
    }),

    // crawl layer: URL canonicalizer over deterministic messy variants
    "q_url_canonicalize" -> ((s, dir) => {
      graft.spark.GraftFunctions.register(s)
      val part = s.read.parquet(s"$dir/part.parquet")
      val raw = when(pmod(col("p_partkey"), lit(5)) === 0,
          concat(lit("HTTPS://Parts.Example:443/catalog/x/../item/"), col("p_partkey"), lit("#frag")))
        .when(pmod(col("p_partkey"), lit(5)) === 1,
          concat(lit("item/"), col("p_partkey"), lit("?a=1")))
        .when(pmod(col("p_partkey"), lit(5)) === 2,
          concat(lit("http://parts.example:80/item/"), col("p_partkey")))
        .when(pmod(col("p_partkey"), lit(5)) === 3, lit("mailto:someone@example.com"))
        .otherwise(concat(lit("/rooted/"), col("p_partkey")))
      part.select(col("p_partkey").cast("string").as("doc_id"),
          F.canonicalize_url(raw, lit("https://parts.example/catalog/")).as("canon"))
        .orderBy("doc_id")
    }),

    // crawl layer: candidate dedup + URL-seen anti-join, per-host counts
    "q_crawl_dedup" -> ((s, dir) => {
      val (frontier, seen) = synthFrontier(s, dir)
      Frontier.filterUnseen(Frontier.dedupCandidates(frontier), seen)
        .groupBy("host").agg(count(lit(1)).as("n_new"))
        .orderBy("host")
    }),

    // crawl layer: the former bloom-prefiltered URL-seen path. The round
    // has no bloom prefilter any more, so this runs the exact path and
    // returns the same rows as q_crawl_dedup; the name stays as one of the
    // 67 oracle gates
    "q_crawl_dedup_bloom" -> ((s, dir) => {
      val (frontier, seen) = synthFrontier(s, dir)
      Frontier.filterUnseen(Frontier.dedupCandidates(frontier), seen)
        .groupBy("host").agg(count(lit(1)).as("n_new"))
        .orderBy("host")
    }),

    // crawl layer: full round — politeness top-B per host + global priority order
    "q_crawl_schedule" -> ((s, dir) => {
      val (frontier, seen) = synthFrontier(s, dir)
      val (sched, _, _) = Frontier.round(frontier, seen, budgetPerHost = 3)
      sched.select(col("url"), col("host"),
          col("priority").cast("long").as("priority"),
          col("seq").cast("long").as("seq"),
          col("slot").cast("long").as("slot"))
        .orderBy(col("priority").desc, col("seq").asc, col("url").asc)
    }),

    // crawl layer: robots gate + token-bucket ready times (north_star)
    "q_crawl_robots" -> ((s, dir) => {
      val (frontier, seen) = synthFrontier(s, dir)
      val (sched, _, _) = Frontier.round(frontier, seen, budgetPerHost = 3,
        robots = Some(synthRobots(s)))
      sched.select(col("url"), col("host"),
          col("priority").cast("long").as("priority"),
          col("seq").cast("long").as("seq"),
          col("slot").cast("long").as("slot"),
          col("ready_s").cast("long").as("ready_s"))
        .orderBy(col("priority").desc, col("seq").asc, col("url").asc)
    }),

    // --- training-data pipeline over documents/embeddings ---

    "q_text_analysis" -> ((s, dir) =>
      TextPipeline.textAnalysis(TextPipeline.documents(s, dir)).orderBy("doc_id")),

    // quality filtering: the scoring components applied as a corpus filter,
    // reported per source (what a training-data pipeline actually does)
    "q_quality_filter" -> ((s, dir) => {
      val docs = TextPipeline.documents(s, dir)
      val scored = TextPipeline.textAnalysis(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      scored
        .filter(col("n_tokens") >= 20 && col("n_stopwords") >= 1 &&
          col("long_word_pct") >= 30)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "q_dedup_exact" -> ((s, dir) =>
      TextPipeline.exactDedup(
        TextPipeline.withSyntheticDups(TextPipeline.documents(s, dir)))
        .orderBy("canonical_id")),

    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      TextPipeline.ngramJaccardPairs(
        TextPipeline.withSyntheticDups(TextPipeline.documents(s, dir)), minJ = 0.6)
        .orderBy("id_a", "id_b")),

    "q_dedup_minhash" -> ((s, dir) =>
      TextPipeline.minhashPairs(
        TextPipeline.withSyntheticDups(TextPipeline.documents(s, dir)), minJ = 0.6)
        .orderBy("id_a", "id_b")),

    // Incremental dedup against a persisted signature table (PLANS residual
    // #3): round 1 ingests the base corpus (doc_id < 1000000), round 2 the
    // synthetic-dup batch — every emitted pair has ≥1 round-2 side, which
    // the oracle mirrors as id_b >= 1000000 (pairs are ordered and the new
    // batch holds the largest ids). Round outputs union to the batch result.
    "q_dedup_minhash_inc" -> ((s, dir) => {
      val full = TextPipeline.withSyntheticDups(TextPipeline.documents(s, dir))
      val sigDir = "/tmp/graft-sig-inc"
      val p = new org.apache.hadoop.fs.Path(sigDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
      TextPipeline.minhashPairsIncremental(
        full.filter(col("doc_id") < 1000000), sigDir, minJ = 0.6).count()
      TextPipeline.minhashPairsIncremental(
        full.filter(col("doc_id") >= 1000000), sigDir, minJ = 0.6)
        .orderBy("id_a", "id_b")
    }),

    // Structured Streaming dedup: the corpus arrives as 3 file-source
    // micro-batches, each deduped vs the stream history by the foreachBatch
    // sink (replay-idempotent tag-keyed writes); the union over all batches
    // equals the batch pair set, so the oracle is the batch minhash SQL.
    "q_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val corpus = TextPipeline.withSyntheticDups(TextPipeline.documents(s, dir))
      val base = "/tmp/graft-stream-dedup"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
      (0 until 3).foreach(r => corpus.filter(pmod(col("doc_id"), lit(3)) === r)
        .repartition(1).write.parquet(s"$base/in/f$r.parquet"))
      val q = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch(graft.streaming.StreamingDedup.minhashSink(
          s"$base/sig", s"$base/pairs", minJ = 0.6))
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/pairs")
        .orderBy("id_a", "id_b")
    }),

    // maxHam 6 ≡ the r4 threshold 3 scaled with the signature widening
    // (30 → 60 usable bits, VERDICT r4 ask #2)
    "q_dedup_simhash" -> ((s, dir) =>
      TextPipeline.simhashPairs(
        TextPipeline.withSyntheticDups(TextPipeline.documents(s, dir)), maxHam = 6)
        .orderBy("id_a", "id_b")),

    "q_embed_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(Similarity.embeddings(s, dir), minCos = 0.9)
        .orderBy("id_a", "id_b")),

    // low-cap variant (cap=8 BINDS at sf0.01: 8 buckets exceed it, max 13)
    // that oracle-gates the r5 star-fallback path: over-cap members pair
    // with the bucket representative instead of being silently dropped
    "q_embed_neardup_capped" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(Similarity.embeddings(s, dir), minCos = 0.9,
        maxBucket = 8)
        .orderBy("id_a", "id_b")),

    "q_ann_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Similarity.embeddings(s, dir), nQueries = 20, k = 5)
        .orderBy("query_id", "rank")),

    // LSH ANN: approximate vs brute force by design, but fully deterministic —
    // the DuckDB oracle mirrors the multi-table signature + re-rank exactly;
    // recall vs brute force is additionally asserted in PipelineSpec
    "q_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Similarity.embeddings(s, dir), nQueries = 20, k = 5)
        .orderBy("query_id", "rank")),

    "q_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Similarity.embeddings(s, dir), nQueries = 20, k = 5)
        .orderBy("query_id", "rank")),

    // low-cap variant (cellCap=16 BINDS at sf0.01: 14 of 16 cells exceed
    // it, max 42) that oracle-gates the r5 hot-cell SPLIT path: an
    // over-cap cell fans out into deterministic LSH sub-cells (every
    // member stays searchable, probes take the exact sub + 1-bit flips)
    // instead of dropping its over-cap members
    "q_ann_ivf_hot" -> ((s, dir) =>
      Similarity.ivfTopK(Similarity.embeddings(s, dir), nQueries = 20, k = 5,
        cellCap = 16, maxSubBits = 2)
        .orderBy("query_id", "rank")),

    "q_multimodal_decode" -> ((s, dir) =>
      graft.pipeline.Multimodal.withDecoded(
        graft.pipeline.Multimodal.mediaTable(s, dir))
        .withColumn("width", col("width").cast("long"))
        .withColumn("height", col("height").cast("long"))
        .orderBy("doc_id")),

    "q_multimodal_frames" -> ((s, dir) =>
      graft.pipeline.Multimodal.frameSamples(
        graft.pipeline.Multimodal.mediaTable(s, dir))
        .select(col("doc_id"),
          size(col("frame_indices")).cast("long").as("n_frames"),
          expr("array_join(transform(frame_indices, i -> cast(i as string)), ',')")
            .as("frames"))
        .orderBy("doc_id")),

    "q_multimodal_resize" -> ((s, dir) =>
      graft.pipeline.Multimodal.resizePlan(
        graft.pipeline.Multimodal.mediaTable(s, dir), maxDim = 256)
        .select(col("doc_id"), col("media_ref"),
          col("out_width").cast("long").as("out_width"),
          col("out_height").cast("long").as("out_height"))
        .orderBy("doc_id"))
  )

  /** Deterministic synthetic frontier from lineitem: url repeats across
    * orders (same supplier-host × part) so dedup is meaningful; the seen set
    * is derivable from the same table on both engines. */
  private def synthFrontier(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // the base table is a single small parquet file = ONE scan task; without
    // a repartition the url synthesis AND the dedup groupBy's map-side
    // partial aggregation run single-threaded (r6: measured 0.98 s vs 0.18 s
    // for the same dedup over pre-partitioned input). Repartition the narrow
    // numeric columns BEFORE building url strings so the exchange carries
    // ~35-byte rows. HASH repartition on the near-unique row key, not
    // round-robin: a keyless repartition first pays sortBeforeRepartition —
    // a local sort of the whole table on the 1-2 scan tasks (guide §2.5) —
    // measured 0.63 s vs 0.38 s for the same noop at sf0.1.
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .repartition(s.sparkContext.defaultParallelism * 2,
        col("l_orderkey"), col("l_linenumber"))
    // mixed schemes and non-default ports so robots path derivation is
    // exercised on more than the fixed 'https://' prefix
    val hostIdx = pmod(col("l_suppkey"), lit(50))
    val scheme = when(pmod(hostIdx, lit(3)) === 1, lit("http://")).otherwise(lit("https://"))
    val hostCol = concat(lit("host-"), hostIdx, lit(".example"),
      when(pmod(hostIdx, lit(7)) === 2, lit(":8081")).otherwise(lit("")))
    val f = li.select(
      concat(scheme, hostCol, lit("/part/"), col("l_partkey")).as("url"),
      hostCol.as("host"),
      col("l_linenumber").cast("int").as("priority"),
      (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("seq"),
      col("l_quantity"))
    val seen = f.filter(col("l_quantity") < 5).select("url").distinct()
    (f.drop("l_quantity"), seen)
  }

  /** Deterministic robots cache for the 50 synthetic hosts: every 4th host
    * disallows the `/part/1` and `/part/3` path prefixes but re-allows
    * `/part/13` (Allow-precedence, longest-match), hosts ≡ 2 (mod 4)
    * disallow `/part/5` (multi-rule robots.txt shape); crawl_delay =
    * host % 5 + 1. */
  private def synthRobots(s: SparkSession): DataFrame =
    s.range(0, 50).select(
      concat(lit("host-"), col("id"), lit(".example")).as("host"),
      when(col("id") % 4 === 0, array(lit("/part/1"), lit("/part/3")))
        .when(col("id") % 4 === 2, array(lit("/part/5")))
        .otherwise(lit(null).cast("array<string>"))
        .as("disallow_prefixes"),
      when(col("id") % 4 === 0, array(lit("/part/13")))
        .otherwise(lit(null).cast("array<string>"))
        .as("allow_prefixes"),
      (col("id") % 5 + 1).cast("int").as("crawl_delay_s"))

  def oracleSql: Map[String, String] = {
    val W = "len(string_split(p_name, ' '))" // word count
    Map(
      "q_dom_parse_count" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast(13 + 2 * $W as bigint) AS n_nodes
            FROM part ORDER BY doc_id""",
      "q_dom_select_tag" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast($W as bigint) AS n_li
            FROM part ORDER BY doc_id""",
      "q_dom_first_child_text" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           string_split(p_name, ' ')[1] AS first_word
           FROM part ORDER BY doc_id""",
      "q_dom_nth_child" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            CASE WHEN $W >= 2 THEN string_split(p_name, ' ')[2] ELSE '' END AS second_word
            FROM part ORDER BY doc_id""",
      "q_dom_attr" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           '/part/' || p_partkey AS href
           FROM part ORDER BY doc_id""",
      "q_dom_text" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           p_type AS type_text
           FROM part ORDER BY doc_id""",
      "q_dom_base_uri" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'https://parts.example/catalog/' AS base_uri
           FROM part ORDER BY doc_id""",
      "q_dom_select_under" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast($W as bigint) AS n_under
            FROM part ORDER BY doc_id""",
      "q_dom_filter" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast(($W + 1) // 2 as bigint) AS n_odd
            FROM part ORDER BY doc_id""",
      "q_dom_is" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           true AS is_part
           FROM part ORDER BY doc_id""",
      "q_dom_html" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           '<a href="/part/' || p_partkey || '" class="plink">' || p_type || '</a>' AS a_html
           FROM part ORDER BY doc_id""",
      "q_dom_norm_chars" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           cast(length(p_type) + length(replace(p_name, ' ', ''))
                + 5 + length(cast(p_size as varchar)) as bigint) AS n_chars
           FROM part ORDER BY doc_id""",
      "q_dom_mutate_class" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast($W as bigint) AS n_marked
            FROM part ORDER BY doc_id""",
      "q_dom_mutate_remove" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast($W - 1 as bigint) AS n_li_left
            FROM part ORDER BY doc_id""",
      "q_dom_mutate_validate" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           true AS is_valid, cast(1 as bigint) AS n_extra
           FROM part ORDER BY doc_id""",
      "q_dom_combinators" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           string_split(p_name, ' ')[1] AS adj_first,
           'size ' || p_size AS sib_text
           FROM part ORDER BY doc_id""",
      "q_dom_contains" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast(len(list_filter(string_split(p_name, ' '), w -> contains(w, 'e')))
                 as bigint) AS n_contains,
            cast(len(list_filter(string_split(p_name, ' '), w -> contains(w, 'e')))
                 as bigint) AS n_has_text
            FROM part ORDER BY doc_id""",
      "q_dom_immediate_text" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           ' tail ' || p_partkey AS im_text,
           p_type || replace(p_name, ' ', '') || 'size ' || p_size
             || ' tail ' || p_partkey AS full_text
           FROM part ORDER BY doc_id""",
      "q_dom_find" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast($W as bigint) AS n_li,
            cast(0 as bigint) AS n_nested,
            string_split(p_name, ' ')[1] AS first_li
            FROM part ORDER BY doc_id""",
      "q_dom_union" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'size ' || p_size || p_type AS union_text
           FROM part ORDER BY doc_id""",
      "q_dom_cross_copy" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'size ' || p_size || 'ex-' || p_partkey AS p_text,
           cast(2 as bigint) AS n_badges,
           cast(0 as bigint) AS n_links
           FROM part ORDER BY doc_id""",
      "q_dom_parse_errors" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           cast(CASE p_partkey % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END as bigint)
             AS n_errors,
           CASE WHEN p_partkey % 2 = 0 THEN 'no-quirks' ELSE 'quirks' END AS quirks
           FROM part ORDER BY doc_id""",
      "q_dom_spans" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'document:|element:|element:|element:|text:Part ' || p_partkey ||
           '|element:|element:|element:|element:|text:' || p_type ||
           '|element:|' ||
           array_to_string(list_transform(string_split(p_name, ' '),
                                          w -> 'element:|text:' || w), '|') ||
           '|element:|text:size ' || p_size AS span_sig
           FROM part ORDER BY doc_id""",
      "q_dom_md" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           '[' || p_type || '](/part/' || p_partkey || ')' || chr(10) || chr(10) ||
           array_to_string(list_transform(string_split(p_name, ' '), w -> '- ' || w),
                           chr(10)) ||
           chr(10) || chr(10) || 'size ' || p_size AS md
           FROM part ORDER BY doc_id""",
      "q_dom_formatted_text" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           p_type || chr(10) ||
           array_to_string(string_split(p_name, ' '), chr(10)) ||
           chr(10) || chr(10) || chr(10) || 'size ' || p_size AS ftext
           FROM part ORDER BY doc_id""",
      "q_dom_wrap" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast(1 as bigint) AS n_wrapped,
            cast($W as bigint) AS n_top_li,
            true AS is_valid
            FROM part ORDER BY doc_id""",
      "q_dom_rename_strip" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           cast(1 as bigint) AS n_h2,
           cast(len(string_split(p_name, ' ')) as bigint) AS n_top_li,
           p_type || replace(p_name, ' ', '') || 'size ' || p_size AS main_text
           FROM part ORDER BY doc_id""",
      "q_dom_set_text_normalize" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'X-' || p_partkey AS a_text,
           cast(1 as bigint) AS n_text_children,
           'size ' || p_size || ' a b' AS p_text
           FROM part ORDER BY doc_id""",
      "q_dom_template" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast($W as bigint) AS n_li,
            cast(1 as bigint) AS n_tpl,
            p_type || replace(p_name, ' ', '') || 'size ' || p_size AS main_text
            FROM part ORDER BY doc_id""",
      "q_dom_intersect" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast(least($W, 3) as bigint) AS n_common,
            true AS overlap_li,
            false AS overlap_p
            FROM part ORDER BY doc_id""",
      "q_dom_pointer_fields" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            'a' AS prev_name,
            'p' AS next_name,
            cast(5 as bigint) AS li_depth,
            string_split(p_name, ' ')[$W] AS last_word
            FROM part ORDER BY doc_id""",
      "q_dom_select_first" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           string_split(p_name, ' ')[1] AS first_li,
           true AS miss_null
           FROM part ORDER BY doc_id""",
      "q_dom_first_last_get" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            string_split(p_name, ' ')[1] AS first_w,
            string_split(p_name, ' ')[$W] AS last_w,
            CASE WHEN $W >= 3 THEN string_split(p_name, ' ')[3] ELSE '' END AS third_w
            FROM part ORDER BY doc_id""",
      "q_dom_has_text_only" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast(1 as bigint) AS n_main_sz,
            cast(0 as bigint) AS n_miss,
            cast($W as bigint) AS n_li_only,
            cast(2 as bigint) AS n_main_only
            FROM part ORDER BY doc_id""",
      "q_dom_attrs" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'href,class' AS attr_names,
           '/part/' || p_partkey || ',plink' AS attr_values
           FROM part ORDER BY doc_id""",
      "q_dom_head_meta" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'Part ' || p_partkey AS head_title,
           'div' AS body_first_elem,
           'main' AS main_id,
           'plink' AS a_class,
           cast(0 as bigint) AS n_empty_li
           FROM part ORDER BY doc_id""",
      "q_dom_traverse" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            'ul,div,body' AS anc3_names,
            cast(5 as bigint) AS n_anc_all,
            'a,ul,p' AS child_names,
            cast($W as bigint) AS n_ul_children
            FROM part ORDER BY doc_id""",
      "q_dom_append_selection" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            cast(1 + least($W, 2) as bigint) AS n_links,
            string_split(p_name, ' ')[1] || p_type AS first_li,
            cast($W + 1 + least($W, 2) as bigint) AS n_union
            FROM part ORDER BY doc_id""",
      "q_dom_assemble" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            'ul,p' AS stash_kids,
            replace(p_name, ' ', '') AS ul_text,
            p_type AS main_text,
            cast(1 as bigint) AS n_empty_stash,
            cast(1 as bigint) AS html_root_id,
            cast($W as bigint) AS n_li,
            cast(0 as bigint) AS n_main_li
            FROM part ORDER BY doc_id""",
      "q_dom_reflect" ->
        s"""SELECT cast(p_partkey as varchar) AS doc_id,
            true AS a_has_href,
            false AS a_has_ping,
            cast($W + 2 as bigint) AS n_only_text,
            cast(0 as bigint) AS n_inert,
            cast($W as bigint) AS n_copied,
            cast(0 as bigint) AS n_orig_tagged,
            'size ' || p_size || replace(p_name, ' ', '') AS copied_text,
            cast(4 + 2 * $W as bigint) AS n_frag_nodes,
            '<ul class="words"><li>' || replace(p_name, ' ', '</li><li>')
              || '</li></ul>' AS frag_html
            FROM part ORDER BY doc_id""",
      "q_dom_insert_family" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           'zero' AS first_li,
           cast(p_partkey as varchar) AS pre_mark,
           ']' AS post_mark,
           'resized' AS p_text,
           cast(1 as bigint) AS n_links,
           cast(1 as bigint) AS n_body
           FROM part ORDER BY doc_id""",
      "q_events_windowed" ->
        """SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
           event_type, cast(count(*) as bigint) AS n,
           cast(sum(cast(value as DECIMAL(18,6))) as double) AS total
           FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
      "q_events_sessions" ->
        """WITH e AS (
             SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           s AS (
             SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             FROM e)
           SELECT user_id, cast(session_id as bigint) AS session_id,
                  cast(count(*) as bigint) AS n_events,
                  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
           FROM s GROUP BY user_id, session_id
           ORDER BY user_id, session_id""",
      "q_links" ->
        """SELECT cast(o_orderkey as varchar) AS doc_id,
           'item?id=' || o_orderkey AS href,
           'Order ' || o_orderkey || ' [' || o_orderpriority || ']' AS title,
           'cust-' || o_custkey || '.example' AS source
           FROM orders ORDER BY doc_id""",
    ) ++ pipelineOracles ++ Map(
      "q_links_big" ->
        """SELECT cast(o_orderkey // 25 as varchar) AS doc_id,
           'item?id=' || o_orderkey AS href,
           'Order ' || o_orderkey || ' [' || o_orderpriority || ']' AS title,
           'cust-' || o_custkey || '.example' AS source
           FROM orders ORDER BY doc_id, href""",
      "q_url_canonicalize" ->
        """SELECT cast(p_partkey as varchar) AS doc_id,
           CASE p_partkey % 5
             WHEN 0 THEN 'https://parts.example/catalog/item/' || p_partkey
             WHEN 1 THEN 'https://parts.example/catalog/item/' || p_partkey || '?a=1'
             WHEN 2 THEN 'http://parts.example/item/' || p_partkey
             WHEN 3 THEN NULL
             ELSE 'https://parts.example/rooted/' || p_partkey
           END AS canon
           FROM part ORDER BY doc_id""",
      "q_crawl_dedup" -> crawlDedupSql,
      "q_crawl_robots" ->
        s"""WITH $frontierCte,
            robots AS (SELECT 'host-' || i || '.example' AS host,
                              CASE WHEN i % 4 = 0 THEN ['/part/1', '/part/3']
                                   WHEN i % 4 = 2 THEN ['/part/5'] END AS disallow_prefixes,
                              CASE WHEN i % 4 = 0 THEN ['/part/13'] END AS allow_prefixes,
                              i % 5 + 1 AS crawl_delay_s
                       FROM range(0, 50) t(i)),
            cand AS (SELECT url, host, max(priority) AS priority, min(seq) AS seq
                     FROM f GROUP BY url, host),
            unseen AS (SELECT * FROM cand WHERE url NOT IN (SELECT url FROM seen)),
            scored AS (SELECT u.*,
                         list_max(list_transform(list_filter(r.disallow_prefixes, p ->
                           starts_with(regexp_replace(u.url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''), p)),
                           p -> length(p))) AS dis_len,
                         list_max(list_transform(list_filter(r.allow_prefixes, p ->
                           starts_with(regexp_replace(u.url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''), p)),
                           p -> length(p))) AS alw_len
                       FROM unseen u LEFT JOIN robots r USING (host)),
            allowed AS (SELECT url, host, priority, seq FROM scored
                        WHERE dis_len IS NULL
                           OR (alw_len IS NOT NULL AND alw_len >= dis_len)),
            ranked AS (SELECT *, row_number() OVER
                         (PARTITION BY host ORDER BY priority DESC, seq ASC, url ASC) - 1 AS slot
                       FROM allowed)
            SELECT k.url, k.host, cast(k.priority as bigint) AS priority,
                   cast(k.seq as bigint) AS seq, cast(k.slot as bigint) AS slot,
                   cast(k.slot * coalesce(r.crawl_delay_s, 1) as bigint) AS ready_s
            FROM ranked k LEFT JOIN robots r USING (host)
            WHERE k.slot < 3
            ORDER BY priority DESC, seq ASC, url ASC""",
      "q_crawl_dedup_bloom" -> crawlDedupSql,
      "q_crawl_schedule" ->
        s"""WITH $frontierCte,
            cand AS (SELECT url, host, max(priority) AS priority, min(seq) AS seq
                     FROM f GROUP BY url, host),
            unseen AS (SELECT * FROM cand WHERE url NOT IN (SELECT url FROM seen)),
            ranked AS (SELECT *, row_number() OVER
                         (PARTITION BY host ORDER BY priority DESC, seq ASC, url ASC) - 1 AS slot
                       FROM unseen)
            SELECT url, host, cast(priority as bigint) AS priority,
                   cast(seq as bigint) AS seq, cast(slot as bigint) AS slot
            FROM ranked WHERE slot < 3
            ORDER BY priority DESC, seq ASC, url ASC"""
    )
  }

  private val frontierCte =
    """f AS (SELECT (CASE WHEN (l_suppkey % 50) % 3 = 1 THEN 'http://' ELSE 'https://' END)
                    || 'host-' || (l_suppkey % 50) || '.example'
                    || (CASE WHEN (l_suppkey % 50) % 7 = 2 THEN ':8081' ELSE '' END)
                    || '/part/' || l_partkey AS url,
              'host-' || (l_suppkey % 50) || '.example'
              || (CASE WHEN (l_suppkey % 50) % 7 = 2 THEN ':8081' ELSE '' END) AS host,
              l_linenumber AS priority,
              l_orderkey * 8 + l_linenumber AS seq,
              l_quantity FROM lineitem),
       seen AS (SELECT DISTINCT url FROM f WHERE l_quantity < 5)"""

  private val crawlDedupSql =
    s"""WITH $frontierCte,
        cand AS (SELECT url, host, max(priority) AS priority, min(seq) AS seq
                 FROM f GROUP BY url, host),
        unseen AS (SELECT * FROM cand WHERE url NOT IN (SELECT url FROM seen))
        SELECT host, cast(count(*) as bigint) AS n_new
        FROM unseen GROUP BY host ORDER BY host"""

  // --- DuckDB dialect mirrors of the TextPipeline/Similarity SQL snippets ---

  private val P = TextPipeline.P
  private def dTokens(t: String) = s"string_split_regex(trim(lower($t)), '\\s+')"
  private def dWordHash(w: String) =
    s"CAST(concat('0x', substring(md5($w), 1, 15)) AS BIGINT) % $P"
  private def dTokenHashes(t: String) =
    s"list_transform(${dTokens(t)}, w -> ${dWordHash("w")})"
  private val dShingles =
    s"""CASE WHEN len(th) < 3 THEN th
        ELSE [((th[i]*1009 + th[i+1])*1013 + th[i+2]) % $P
              for i in range(1, len(th) - 1)] END"""
  private val dSig =
    s"""[list_min(list_transform(shingles, h -> (h*(2*i+3) + 5*i+7) % $P))
         for i in range(0, 16)]"""
  // 60-bit simhash ≡ TextPipeline.simhashSql: low 30 bits vote on th, high
  // 30 bits on the derived (h*1009+7) % P per-token hash
  private val dSimhash =
    s"""(list_sum([CASE WHEN 2 * len(list_filter(th, h -> (h // (1::BIGINT << b)) % 2 = 1))
                         >= len(th)
                   THEN (1::BIGINT << b) ELSE 0::BIGINT END
                   for b in range(0, 30)])
         + list_sum([CASE WHEN 2 * len(list_filter(th,
                           h -> (((h * 1009 + 7) % $P) // (1::BIGINT << b)) % 2 = 1))
                         >= len(th)
                   THEN (1::BIGINT << (30 + b)) ELSE 0::BIGINT END
                   for b in range(0, 30)]))"""
  private def dFingerprint(t: String) =
    s"""list_reduce(list_prepend(0::BIGINT,
          list_transform(string_split(regexp_replace(trim($t), '\\s+', ' ', 'g'), ''),
                         c -> ascii(c)::BIGINT)),
        (a, c) -> (a * 31 + c) % $P)"""

  private val dCorpus =
    s"""corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
          UNION ALL
          SELECT doc_id + 2000000,
                 array_to_string(list_slice(${dTokens("text")}, 1,
                   greatest(len(${dTokens("text")}) - 2, 1)), ' ')
          FROM documents WHERE doc_id % 10 = 0)"""

  private val dShinglePrep =
    s"""tok AS (SELECT doc_id, ${dTokenHashes("text")} AS th FROM corpus),
        sh AS (SELECT doc_id, list_distinct($dShingles) AS shingles FROM tok)"""

  private def dJaccardSelect(minJ: Double) =
    s"""SELECT id_a, id_b FROM cand
        WHERE len(list_intersect(sh_a, sh_b))
              / len(list_distinct(list_concat(sh_a, sh_b))) >= $minJ
        ORDER BY id_a, id_b"""

  /** The batch MinHash-LSH pair oracle (banded signatures, BandCap slice,
    * exact-Jaccard verify) — shared by q_dedup_minhash and the streaming
    * q_stream_dedup, whose per-micro-batch union equals the batch set. */
  private def dMinhashPairsSql =
    s"""WITH $dCorpus, $dShinglePrep,
        sigs AS (SELECT doc_id, shingles, $dSig AS sig FROM sh),
        bands AS (SELECT doc_id, shingles,
                         unnest([concat_ws(':', b, sig[4*b+1], sig[4*b+2],
                                           sig[4*b+3], sig[4*b+4])
                                 for b in range(0, 4)]) AS band
                  FROM sigs),
        bucketed AS (SELECT band, list_slice(list_sort(list(doc_id)), 1,
                                             ${TextPipeline.BandCap}) AS ids
                     FROM bands GROUP BY band),
        capped AS (SELECT band, unnest(ids) AS doc_id FROM bucketed),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        sa.shingles AS sh_a, sb.shingles AS sh_b
                 FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id
                 JOIN sh sa ON sa.doc_id = a.doc_id
                 JOIN sh sb ON sb.doc_id = b.doc_id)
        ${dJaccardSelect(0.6)}"""

  private def dDot(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(list_zip($a, $b), t -> t[1]::DOUBLE * t[2]::DOUBLE)),
        (acc, v) -> acc + v)"""
  private def dCosine(a: String, b: String) =
    s"${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)}))"
  /** DuckDB-side plane literals, generated from the same
    * `PipelineExprOps.planeVal` the native kernel reads — double
    * literals round-trip exactly, so the two engines can never diverge on
    * plane formula or precision. */
  private def dPlaneList(j: Int): String =
    (0 until 64).map(d => graft.spark.PipelineExprOps.planeVal(j, d).toString)
      .mkString("[", ", ", "]")

  /** DuckDB mirror of the native `lsh_bits(vec, jStart, nBits)` kernel:
    * bit b (value 1<<b) set iff the sequential double fold of
    * vec·plane(jStart+b) is ≥ 0 — plane literals from the same
    * `planeVal` single source as the kernel. */
  private def dLshBitsAt(vec: String, jStart: Int, nBits: Int) =
    (0 until nBits).map { b =>
      s"""CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(list_zip($vec, ${dPlaneList(jStart + b)}),
              t -> t[1]::DOUBLE * t[2]::DOUBLE)),
            (acc, v) -> acc + v) >= 0.0
          THEN ${1L << b}::BIGINT ELSE 0::BIGINT END"""
    }.mkString(" + ")

  private def dLshBucket(vec: String, nBits: Int) = dLshBitsAt(vec, 0, nBits)

  private def pipelineOracles: Map[String, String] = {
    val langScores = TextPipeline.langMarkers.map { case (lang, markers) =>
      val arr = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      (lang, s"len(list_filter(${dTokens("text")}, w -> list_contains($arr, w)))")
    }
    val maxScore = langScores.map(_._2).mkString("greatest(", ", ", ")")
    val langCase = langScores.map { case (l, s) => s"WHEN $s >= $maxScore THEN '$l'" }
      .mkString("CASE ", " ", " END")
    val stopArr = TextPipeline.langMarkers.flatMap(_._2).distinct
      .map(m => s"'$m'").mkString("[", ", ", "]")
    Map(
      "q_text_analysis" ->
        s"""SELECT doc_id,
             cast(len(${dTokens("text")}) as bigint) AS n_tokens,
             cast(length(regexp_replace(trim(text), '\\s+', ' ', 'g')) as bigint) AS n_chars_norm,
             $langCase AS lang_guess,
             cast(len(list_filter(${dTokens("text")}, w -> list_contains($stopArr, w))) as bigint)
               AS n_stopwords,
             cast(CASE WHEN len(${dTokens("text")}) = 0 THEN 0
                  ELSE (len(list_filter(${dTokens("text")}, w -> length(w) >= 4)) * 100)
                       // len(${dTokens("text")}) END as bigint) AS long_word_pct,
             cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
                  as bigint) AS n_bpe_tokens,
             ${dFingerprint("text")} AS fingerprint
           FROM documents ORDER BY doc_id""",
      "q_quality_filter" ->
        s"""WITH scored AS (
              SELECT doc_id, source,
                     len(${dTokens("text")}) AS n_tokens,
                     len(list_filter(${dTokens("text")}, w -> list_contains($stopArr, w)))
                       AS n_stopwords,
                     CASE WHEN len(${dTokens("text")}) = 0 THEN 0
                          ELSE (len(list_filter(${dTokens("text")}, w -> length(w) >= 4)) * 100)
                               // len(${dTokens("text")}) END AS long_word_pct
              FROM documents)
            SELECT source, cast(count(*) as bigint) AS n_kept
            FROM scored
            WHERE n_tokens >= 20 AND n_stopwords >= 1 AND long_word_pct >= 30
            GROUP BY source ORDER BY source""",
      "q_dedup_exact" ->
        s"""WITH $dCorpus,
            g AS (SELECT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
                         min(doc_id) AS canonical_id, count(*) AS group_size
                  FROM corpus GROUP BY 1)
            SELECT canonical_id, cast(group_size as bigint) AS group_size
            FROM g WHERE group_size > 1 ORDER BY canonical_id""",
      "q_dedup_ngram_jaccard" ->
        s"""WITH $dCorpus, $dShinglePrep,
            inv AS (SELECT doc_id, shingles, unnest(shingles) AS s FROM sh),
            dfreq AS (SELECT s, count(*) AS df FROM inv GROUP BY s),
            invd AS (SELECT inv.doc_id, inv.shingles, inv.s, dfreq.df
                     FROM inv JOIN dfreq USING (s)),
            rare AS (SELECT doc_id, shingles, s FROM invd WHERE df <= 1000),
            fb AS (SELECT doc_id, shingles, s FROM (
                     SELECT *, row_number() OVER
                       (PARTITION BY doc_id ORDER BY df ASC, s ASC) AS rn
                     FROM invd
                     WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM rare)) z
                   WHERE rn = 1),
            invr AS (SELECT * FROM rare UNION ALL SELECT * FROM fb),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.shingles AS sh_a, b.shingles AS sh_b
                     FROM invr a JOIN invr b ON a.s = b.s AND a.doc_id < b.doc_id)
            ${dJaccardSelect(0.6)}""",
      "q_dedup_minhash" -> dMinhashPairsSql,
      // the streaming foreachBatch union over ALL micro-batches IS the batch
      // pair set (each pair emitted once, in the batch where its later doc
      // arrives) — gated by the identical batch oracle
      "q_stream_dedup" -> dMinhashPairsSql,
      "q_dedup_minhash_inc" ->
        // the batch pipeline restricted to pairs with ≥1 round-2 side: the
        // incremental round-2 output is exactly the batch pairs whose later
        // doc is in the new batch (all new ids ≥ 1000000 and id_a < id_b,
        // so the restriction is id_b >= 1000000)
        s"""WITH $dCorpus, $dShinglePrep,
            sigs AS (SELECT doc_id, shingles, $dSig AS sig FROM sh),
            bands AS (SELECT doc_id, shingles,
                             unnest([concat_ws(':', b, sig[4*b+1], sig[4*b+2],
                                               sig[4*b+3], sig[4*b+4])
                                     for b in range(0, 4)]) AS band
                      FROM sigs),
            bucketed AS (SELECT band, list_slice(list_sort(list(doc_id)), 1,
                                                 ${TextPipeline.BandCap}) AS ids
                         FROM bands GROUP BY band),
            capped AS (SELECT band, unnest(ids) AS doc_id FROM bucketed),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            sa.shingles AS sh_a, sb.shingles AS sh_b
                     FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id
                     JOIN sh sa ON sa.doc_id = a.doc_id
                     JOIN sh sb ON sb.doc_id = b.doc_id
                     WHERE b.doc_id >= 1000000)
            ${dJaccardSelect(0.6)}""",
      "q_dedup_simhash" ->
        s"""WITH $dCorpus,
            tok AS (SELECT doc_id, ${dTokenHashes("text")} AS th FROM corpus),
            sims AS (SELECT doc_id, $dSimhash AS sim FROM tok),
            bands AS (SELECT doc_id, sim,
                             unnest([concat_ws(':', b, (sim // (1::BIGINT << (15*b))) % 32768)
                                     for b in range(0, 4)]) AS band
                      FROM sims),
            bucketed AS (SELECT band, list_slice(list_sort(list(doc_id)), 1,
                                                 ${TextPipeline.BandCap}) AS ids
                         FROM bands GROUP BY band),
            capped AS (SELECT band, unnest(ids) AS doc_id FROM bucketed)
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id
            JOIN sims sa ON sa.doc_id = a.doc_id
            JOIN sims sb ON sb.doc_id = b.doc_id
            WHERE bit_count(xor(sa.sim, sb.sim)) <= 6
            ORDER BY id_a, id_b""",
      "q_embed_neardup" ->
        // mirrors Similarity.embeddingNearDupPairs exactly, INCLUDING the
        // deterministic sorted-slice bucket cap (r3 ask #3)
        s"""WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000,
                     list_concat([cast(embedding[1] * 1.001 as FLOAT4)], embedding[2:])
              FROM embeddings WHERE vec_id % 10 = 0),
            sig AS (SELECT vec_id, embedding,
                           ${dLshBucket("embedding", 12)} AS bucket FROM corpus),
            bucketed AS (SELECT bucket,
                                list_slice(list_sort(list(vec_id)), 1,
                                           ${Similarity.NearDupBucketCap}) AS ids
                         FROM sig GROUP BY bucket),
            capped AS (SELECT bucket, unnest(ids) AS vec_id FROM bucketed),
            cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                     FROM capped a JOIN capped b
                       ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT id_a, id_b
            FROM cand JOIN sig sa ON sa.vec_id = cand.id_a
                      JOIN sig sb ON sb.vec_id = cand.id_b
            WHERE ${dCosine("sa.embedding", "sb.embedding")} >= 0.9
            ORDER BY id_a, id_b""",
      "q_embed_neardup_capped" ->
        // mirrors the r5 window-rank cap + star fallback exactly: first 8
        // ids per bucket do all-pairs, members past the cap pair with the
        // bucket representative (min vec_id)
        s"""WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000,
                     list_concat([cast(embedding[1] * 1.001 as FLOAT4)], embedding[2:])
              FROM embeddings WHERE vec_id % 10 = 0),
            sig AS (SELECT vec_id, embedding,
                           ${dLshBucket("embedding", 12)} AS bucket FROM corpus),
            ranked AS (SELECT vec_id, bucket,
                              row_number() OVER (PARTITION BY bucket
                                ORDER BY vec_id) AS rn FROM sig),
            capped AS (SELECT bucket, vec_id FROM ranked WHERE rn <= 8),
            rep AS (SELECT bucket, vec_id AS rep_id FROM ranked WHERE rn = 1),
            pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                      FROM capped a JOIN capped b
                        ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
            star AS (SELECT r.rep_id AS id_a, k.vec_id AS id_b
                     FROM ranked k JOIN rep r ON k.bucket = r.bucket
                     WHERE k.rn > 8),
            cand AS (SELECT * FROM pairs UNION ALL SELECT * FROM star)
            SELECT id_a, id_b
            FROM cand JOIN sig sa ON sa.vec_id = cand.id_a
                      JOIN sig sb ON sb.vec_id = cand.id_b
            WHERE ${dCosine("sa.embedding", "sb.embedding")} >= 0.9
            ORDER BY id_a, id_b""",
      "q_ann_topk" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 20),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
            scored AS (SELECT query_id, neighbor_id, ${dCosine("qv", "cv")} AS cos
                       FROM q, c WHERE query_id <> neighbor_id),
            ranked AS (SELECT query_id, neighbor_id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
                       FROM scored)
            SELECT query_id, neighbor_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      "q_ann_lsh" -> {
        // exact mirror of Similarity.lshTopK: LshTables × LshBits-bit
        // signatures (plane index j = t*bits + b, bit value 1<<b), sorted
        // per-bucket id cap, 1-bit-flip multi-probe on the query side,
        // cosine re-rank — deterministic, so fully oracle-gated
        val nT = Similarity.LshTables
        val nB = Similarity.LshBits
        def tableBits(t: Int) =
          (0 until nB).map { b =>
            val j = t * nB + b
            s"""CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(list_zip(embedding, ${dPlaneList(j)}),
                    t -> t[1]::DOUBLE * t[2]::DOUBLE)),
                  (acc, v) -> acc + v) >= 0.0
                THEN ${1L << b}::BIGINT ELSE 0::BIGINT END"""
          }.mkString(" + ")
        val bitsCase = (0 until nT).map(t => s"WHEN $t THEN ${tableBits(t)}")
          .mkString("CASE tbl ", " ", " END")
        val probeList = ("bits" +: (0 until nB).map(b => s"xor(bits, ${1L << b})"))
          .mkString("[", ", ", "]")
        s"""WITH sig AS (SELECT vec_id, tbl, $bitsCase AS bits
                         FROM embeddings, range(0, $nT) t(tbl)),
            bucketed AS (SELECT tbl, bits,
                                list_slice(list_sort(list(vec_id)), 1,
                                           ${Similarity.LshBucketCap}) AS ids
                         FROM sig GROUP BY tbl, bits),
            corpus_side AS (SELECT tbl, bits, unnest(ids) AS neighbor_id FROM bucketed),
            probes AS (SELECT vec_id AS query_id, tbl, unnest($probeList) AS bits
                       FROM sig WHERE vec_id < 20),
            cand AS (SELECT DISTINCT query_id, neighbor_id
                     FROM probes JOIN corpus_side USING (tbl, bits)
                     WHERE query_id <> neighbor_id),
            scored AS (SELECT query_id, neighbor_id,
                              ${dCosine("qe.embedding", "ce.embedding")} AS cos
                       FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                                 JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
            ranked AS (SELECT query_id, neighbor_id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
                       FROM scored)
            SELECT query_id, neighbor_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
      },
      "q_ann_ivf" ->
        // exact mirror of Similarity.ivfTopK: seed centroids (vec_id < 16),
        // argmax-cosine assignment (cos DESC, cell ASC tie-break), the
        // deterministic sorted-slice per-cell cap (r4 ask #5), nProbe=4
        // probed cells per query, exact cosine re-rank — deterministic
        s"""WITH cent AS (SELECT vec_id AS cell, embedding AS centroid
                          FROM embeddings WHERE vec_id < 16),
            sc AS (SELECT e.vec_id, c.cell,
                          ${dCosine("e.embedding", "c.centroid")} AS ccos
                   FROM embeddings e CROSS JOIN cent c),
            rk AS (SELECT vec_id, cell,
                          row_number() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cell ASC) AS r
                   FROM sc),
            assigned AS (SELECT vec_id, cell FROM rk WHERE r = 1),
            capped AS (SELECT cell, unnest(list_slice(list_sort(list(vec_id)), 1,
                                                      ${Similarity.IvfCellCap})) AS vec_id
                       FROM assigned GROUP BY cell),
            probes AS (SELECT vec_id AS query_id, cell FROM rk
                       WHERE vec_id < 20 AND r <= 4),
            cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
                     FROM probes p JOIN capped a USING (cell)
                     WHERE p.query_id <> a.vec_id),
            scored AS (SELECT query_id, neighbor_id,
                              ${dCosine("qe.embedding", "ce.embedding")} AS cos
                       FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                                 JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
            ranked AS (SELECT query_id, neighbor_id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
                       FROM scored)
            SELECT query_id, neighbor_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      "q_ann_ivf_hot" ->
        // exact mirror of Similarity.ivfTopK(cellCap=16, maxSubBits=2):
        // cells past the cap split into LSH sub-cells on planes
        // j=40..41 (bit widths from a pure-integer case chain), members
        // key on (cell, sub_full & mask), the cap guards each (cell, sub),
        // probes take the exact masked sub + every 1-bit flip within the
        // cell's bit width, exact cosine re-rank
        s"""WITH cent AS (SELECT vec_id AS cell, embedding AS centroid
                          FROM embeddings WHERE vec_id < 16),
            sc AS (SELECT e.vec_id, c.cell,
                          ${dCosine("e.embedding", "c.centroid")} AS ccos
                   FROM embeddings e CROSS JOIN cent c),
            rk AS (SELECT vec_id, cell,
                          row_number() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cell ASC) AS r
                   FROM sc),
            assigned AS (SELECT vec_id, cell FROM rk WHERE r = 1),
            subf AS (SELECT vec_id,
                            ${dLshBitsAt("embedding", Similarity.IvfSplitPlaneStart, 2)}
                              AS sub_full
                     FROM embeddings),
            bits AS (SELECT cell,
                            -- mirror of subBitsCase(cap=16, max=2): bound(0)=cap,
                            -- bound(b>=1)=cap*2^(b-1) (cap/2 expected-size target;
                            -- the b=1 branch is dead at this cap, kept for the
                            -- literal chain mirror)
                            CASE WHEN count(*) <= 16 THEN 0
                                 WHEN count(*) <= 16 THEN 1
                                 ELSE 2 END AS sub_bits
                     FROM assigned GROUP BY cell),
            members AS (SELECT a.vec_id, a.cell,
                               s.sub_full & ((1::BIGINT << b.sub_bits) - 1) AS sub
                        FROM assigned a JOIN bits b USING (cell)
                                        JOIN subf s USING (vec_id)),
            capped AS (SELECT cell, sub, vec_id
                       FROM (SELECT cell, sub, vec_id,
                                    row_number() OVER (PARTITION BY cell, sub
                                      ORDER BY vec_id) AS rn
                             FROM members)
                       WHERE rn <= 16),
            -- split-failure flag: a cell whose hottest sub-cell still
            -- exceeds the cap (e.g. an identical-vector family collapsing
            -- into one sub) makes its queries probe ALL 2^b subs
            pall AS (SELECT cell, max(n) > 16 AS probe_all
                     FROM (SELECT cell, sub, count(*) AS n
                           FROM members GROUP BY cell, sub)
                     GROUP BY cell),
            probes0 AS (SELECT rk.vec_id AS query_id, rk.cell, b.sub_bits,
                               pa.probe_all,
                               s.sub_full & ((1::BIGINT << b.sub_bits) - 1) AS qsub
                        FROM rk JOIN bits b USING (cell)
                                JOIN pall pa USING (cell)
                                JOIN subf s ON s.vec_id = rk.vec_id
                        WHERE rk.vec_id < 20 AND rk.r <= 4),
            probes AS (SELECT query_id, cell,
                              unnest(CASE WHEN probe_all
                                THEN list_transform(range(0, (1::BIGINT << sub_bits)::INT),
                                                    x -> x::BIGINT)
                                ELSE list_slice([qsub, xor(qsub, 1), xor(qsub, 2)],
                                                1, sub_bits + 1) END) AS sub
                       FROM probes0),
            cand AS (SELECT DISTINCT p.query_id, m.vec_id AS neighbor_id
                     FROM probes p JOIN capped m USING (cell, sub)
                     WHERE p.query_id <> m.vec_id),
            scored AS (SELECT query_id, neighbor_id,
                              ${dCosine("qe.embedding", "ce.embedding")} AS cos
                       FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                                 JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
            ranked AS (SELECT query_id, neighbor_id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
                       FROM scored)
            SELECT query_id, neighbor_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      "q_multimodal_decode" ->
        s"""SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN concat('img-', doc_id)
               WHEN 1 THEN concat('aud-', doc_id) ELSE concat('vid-', doc_id) END AS media_ref,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             cast(64 + (doc_id % 16) * 32 as bigint) AS width,
             cast(64 + (doc_id % 9) * 32 as bigint) AS height,
             cast(length(concat('payload-', doc_id, '-', repeat('x', cast(doc_id % 50 as int))))
                  as bigint) AS n_bytes,
             ${dFingerprint(s"concat('payload-', doc_id, '-', repeat('x', cast(doc_id % 50 as int)))")}
               AS checksum
           FROM documents ORDER BY doc_id""",
      "q_multimodal_frames" ->
        s"""SELECT doc_id,
             cast(least(doc_id % 300, 7) + 1 as bigint) AS n_frames,
             array_to_string(list_transform(
               range(0, cast(least(doc_id % 300, 7) + 1 as int)),
               i -> cast(i as varchar)), ',') AS frames
           FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""",
      "q_multimodal_resize" ->
        """SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN concat('img-', doc_id)
               WHEN 1 THEN concat('aud-', doc_id) ELSE concat('vid-', doc_id) END AS media_ref,
             cast(floor((64 + (doc_id % 16) * 32) *
               least(1.0, 256 / cast(greatest(64 + (doc_id % 16) * 32,
                                              64 + (doc_id % 9) * 32) as double))) as bigint)
               AS out_width,
             cast(floor((64 + (doc_id % 9) * 32) *
               least(1.0, 256 / cast(greatest(64 + (doc_id % 16) * 32,
                                              64 + (doc_id % 9) * 32) as double))) as bigint)
               AS out_height
           FROM documents ORDER BY doc_id"""
    )
  }
}
