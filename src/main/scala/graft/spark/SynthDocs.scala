package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthesized document tables over the driver's read-only
 * parquet testdata (TESTDATA.md; FIXTURES.md §4). No randomness, no external
 * data — every value is a pure function of the base tables, so the DuckDB
 * oracle can compute expected query outputs relationally from the same
 * parquet while the Spark side exercises the real engine
 * (HTML synthesis → parse_html → selector engine → extraction).
 *
 * Two shapes:
 *  - `partDocs`: one catalog-like page per `part` row — fixed scaffold +
 *    variable-length <li> list (one per word of p_name).
 *  - `hnDocs`: one hacker_news-like page per `orders` row (the reference's
 *    flagship workload, `examples/hacker_news.rs:7-13` + BASELINE.md selector
 *    `body td.title a[href]`).
 */
object SynthDocs {

  /** class-safe brand token: "Brand#13" → "brand-13" */
  private def brandCls(c: Column): Column = lower(regexp_replace(c, "#", "-"))

  def partHtml(partkey: Column, name: Column, brand: Column, ptype: Column,
      size: Column): Column =
    concat(
      lit("<html><head><title>Part "), partkey,
      lit("</title><base href=\"https://parts.example/catalog/\"></head><body>"),
      lit("<div id=\"main\" class=\"part "), brandCls(brand), lit("\">"),
      lit("<a href=\"/part/"), partkey, lit("\" class=\"plink\">"), ptype, lit("</a>"),
      lit("<ul class=\"words\">"),
      // one <li> per space-separated word, null name → no <li>; built
      // without a lambda so the parse projection stays in whole-stage codegen
      coalesce(concat(lit("<li>"), replace(name, lit(" "), lit("</li><li>")), lit("</li>")),
        lit("")),
      lit("</ul><p class=\"sz\">size "), size, lit("</p></div></body></html>")
    )

  /** part-catalog docs: (doc_id, html, nodes).
    *
    * Sort-first shape (r6, guide §2.4/§3.3): every consumer ends with
    * `orderBy("doc_id")`, and a range exchange SAMPLES its child to compute
    * partition bounds — with the parse projection below the sort, parse_html
    * ran twice per query (once for sampling, once for the shuffle) and the
    * shuffle carried the parsed node arrays. Establishing the global doc_id
    * order HERE on the ~40-byte base rows and parsing downstream (order- and
    * partitioning-preserving projections) makes the final orderBy a no-op —
    * RangePartitioning(doc_id) satisfies its OrderedDistribution, so no
    * second exchange and no re-parse. `repartitionByRange` with an explicit
    * partition count (REPARTITION_BY_NUM) also keeps AQE from coalescing the
    * small post-shuffle partitions into a handful of giant parse tasks (the
    * base rows are tiny; the downstream per-row parse work is not). This
    * also replaces the old round-robin repartition that existed only to
    * spread the single-file scan — the range shuffle does that job. */
  def partDocs(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .select(
        col("p_partkey").cast("string").as("doc_id"),
        col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
      .repartitionByRange(spark.sparkContext.defaultParallelism * 2, col("doc_id"))
      .sortWithinPartitions("doc_id")
    part
      .select(
        col("doc_id"),
        partHtml(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
          col("p_size")).as("html"))
      .withColumn("nodes", GraftFunctions.parse_html(col("html")))
  }

  /** Typed view per the input_hint contract: `Dataset[DocRow]` with the
    * preorder span flattening. Type-safe boundary for consumers that want
    * compile-time checks over the interchange schema. */
  def asDocRows(docs: DataFrame): org.apache.spark.sql.Dataset[graft.model.DocRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), GraftFunctions.dom_spans(col("nodes")).as("spans"))
      .as[graft.model.DocRow]
  }

  /** hacker_news-like docs from orders: one story row per order.
    * Story link = /item?id=<orderkey>; site = host derived from custkey. */
  def hnHtml(orderkey: Column, custkey: Column, status: Column, priority: Column): Column =
    concat(
      lit("<html><head><title>News</title>"),
      lit("<base href=\"https://news.example/\"></head><body><table class=\"itemlist\">"),
      lit("<tr class=\"athing\" id=\""), orderkey, lit("\">"),
      lit("<td class=\"title\"><a href=\"item?id="), orderkey,
      lit("\" id=\"link-"), orderkey, lit("\" class=\"storylink\">Order "), orderkey,
      lit(" ["), priority, lit("]</a>"),
      lit("<span class=\"sitebit\"><a href=\"https://cust-"), custkey,
      lit(".example/\">cust-"), custkey, lit(".example</a></span></td></tr>"),
      lit("<tr><td class=\"subtext\"><span class=\"score\">"),
      (custkey % 500) + 1, lit(" points</span>"),
      lit(" status <b>"), status, lit("</b></td></tr>"),
      lit("</table></body></html>")
    )

  /** Multi-story hacker_news-like pages: `storiesPerPage` athing rows per
    * document (the reference's bench page has ~30 stories) — one doc per
    * orderkey-range group, rows ordered by orderkey for determinism. */
  def hnBigDocs(spark: SparkSession, sfDir: String, storiesPerPage: Int = 25): DataFrame = {
    GraftFunctions.register(spark)
    // sort-first (see partDocs) on the story rows: the range exchange puts
    // every story of a page in one partition, so the page aggregate needs no
    // second exchange, and the consumer's orderBy(doc_id, ...) reuses it —
    // the range sampler reads story rows, never parse + explode
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("doc_id",
        (col("o_orderkey") / storiesPerPage).cast("long").cast("string"))
      .repartitionByRange(spark.sparkContext.defaultParallelism * 2, col("doc_id"))
    val rows = orders.select(
      col("doc_id"),
      col("o_orderkey"),
      concat(
        lit("<tr class=\"athing\" id=\""), col("o_orderkey"), lit("\">"),
        lit("<td class=\"title\"><a href=\"item?id="), col("o_orderkey"),
        lit("\" id=\"link-"), col("o_orderkey"),
        lit("\" class=\"storylink\">Order "), col("o_orderkey"),
        lit(" ["), col("o_orderpriority"), lit("]</a>"),
        lit("<span class=\"sitebit\"><a href=\"https://cust-"), col("o_custkey"),
        lit(".example/\">cust-"), col("o_custkey"), lit(".example</a></span></td></tr>"),
        lit("<tr><td class=\"subtext\"><span class=\"score\">"),
        (col("o_custkey") % 500) + 1, lit(" points</span></td></tr>")).as("row_html"))
    rows.groupBy("doc_id")
      .agg(concat_ws("",
        sort_array(collect_list(struct(col("o_orderkey"), col("row_html"))))
          .getField("row_html")).as("rows_html"))
      .sortWithinPartitions("doc_id")
      .select(
        col("doc_id"),
        concat(
          lit("<html><head><title>News</title><base href=\"https://news.example/\">"),
          lit("</head><body><table class=\"itemlist\">"),
          col("rows_html"),
          lit("</table></body></html>")).as("html"))
      .withColumn("nodes", GraftFunctions.parse_html(col("html")))
  }

  def hnDocs(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    // see partDocs: sort-first — the consumer's orderBy("doc_id") is
    // satisfied by this range partitioning, so the parse projection below
    // is never re-executed for range-bound sampling
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(
        col("o_orderkey").cast("string").as("doc_id"),
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
      .repartitionByRange(spark.sparkContext.defaultParallelism * 2, col("doc_id"))
      .sortWithinPartitions("doc_id")
    orders
      .select(
        col("doc_id"),
        hnHtml(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority")).as("html"))
      .withColumn("nodes", GraftFunctions.parse_html(col("html")))
  }
}
