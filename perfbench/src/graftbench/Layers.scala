package graftbench

import graft.crawl.{Frontier, UrlCanon}
import graft.css.{ArenaAccess, Engine, SelectorAst}
import graft.model.Arena
import graft.ops.TreeOps
import graft.sources.{HtmlParser, Renumber, Serializer}
import graft.spark.{ArrayDataAccess, GraftFunctions, NodeSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.sketch.BloomFilter

/**
 * Per-layer measurements for the traced run, taken from outside the program:
 * single-thread timing of each engine layer's public entry point over a fixed
 * sample of the run's pages, and step-prefix Spark jobs for the crawl round.
 * Every timed loop is one span, so the spans written at the end of the run
 * carry the same numbers.
 */
object Layers {

  /** Timed passes per layer after one untimed pass; the median is reported. */
  val Reps = 5

  /** Median over `Reps` passes of µs per element of `xs`. `fresh` builds the
    * per-pass input outside the timed region (mutation consumes its arenas). */
  def perItemUs[A, B: scala.reflect.ClassTag](t: Tracer, layer: String, xs: Array[A],
      fresh: A => B)(body: B => Any): Double = {
    var sink = 0
    val times = (0 to Reps).map { _ =>
      val in = xs.map(fresh)
      val t0 = System.nanoTime()
      t.span(layer) {
        var i = 0
        while (i < in.length) { if (body(in(i)) != null) sink += 1; i += 1 }
      }
      (System.nanoTime() - t0) / 1e3 / xs.length
    }.drop(1)
    if (sink == -1) println()
    Stats.median(times)
  }

  private def rootElement(acc: ArrayDataAccess): Int = {
    var c = acc.firstChild(0)
    while (c != -1 && !acc.isElement(c)) c = acc.nextSibling(c)
    c
  }

  /** The rewrite timed by `ops.mutate_us`: the one a crawler applies
    * before storing a page (external links marked nofollow, a row appended
    * to every box). */
  val Ext = "a.ext"
  val Box = "div.box"
  val Appended = "<p class=\"added\">sponsored</p>"

  /**
   * Engine layers over `pages`: tokenize, parse (tree build), renumber,
   * encode, decode, selector compile and walk, mutation, serialization and
   * URL canonicalization. `select` is the workload's selector walk over one
   * stored page and returns its match count; `selectors` are the selector
   * texts it compiles; `links` extracts the (href, base) pairs it feeds to
   * the canonicalizer.
   */
  def dom(t: Tracer, pages: Array[String], selectors: Seq[String],
      select: ArrayDataAccess => Int, links: ArrayDataAccess => Seq[(String, String)])
      : Map[String, Double] = t.span("layers.dom") {
    val toUnsafe = UnsafeProjection.create(Array[DataType](NodeSchema.nodesArrayType))
    val arenas = pages.map(h => Renumber.preorder(HtmlParser.parseDocument(h)))
    val stored: Array[ArrayData] = arenas.map { a =>
      toUnsafe(InternalRow(NodeSchema.arenaToArrayData(a))).getArray(0).copy()
    }
    val access = stored.map(new ArrayDataAccess(_))
    val extPlan = SelectorAst.parse(Ext)
    val boxPlan = SelectorAst.parse(Box)
    val pageLinks = access.map(links)
    val allLinks = pageLinks.flatten
    val sels = selectors.toArray
    def decodedWithTargets(s: ArrayData) = {
      val a = new ArrayDataAccess(s).toArena
      val acc = new ArenaAccess(a)
      (a, Engine.select(acc, Seq(0), extPlan), Engine.select(acc, Seq(0), boxPlan))
    }
    Map(
      "sources.tokenize_us" -> perItemUs(t, "sources.tokenize", pages, identity[String])(
        HtmlParser.tokenize),
      "sources.parse_us" -> perItemUs(t, "sources.parse", pages, identity[String])(
        HtmlParser.parseDocument),
      "sources.renumber_us" -> perItemUs(t, "sources.renumber", pages,
        HtmlParser.parseDocument)(Renumber.preorder),
      "spark.encode_us" -> perItemUs(t, "spark.encode", arenas, identity[Arena])(
        NodeSchema.arenaToArrayData),
      "spark.encoded_bytes" -> Stats.mean(stored.map(_.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData].getSizeInBytes.toDouble)),
      "spark.decode_us" -> perItemUs(t, "spark.decode", stored, identity[ArrayData])(
        s => new ArrayDataAccess(s).toArena),
      "css.compile_us" -> perItemUs(t, "css.compile", Array.fill(100)(sels).flatten,
        identity[String])(
        SelectorAst.parse),
      "css.select_us" -> perItemUs(t, "css.select", access, identity[ArrayDataAccess])(
        select(_)),
      "css.matches_per_doc" -> Stats.mean(access.map(select(_).toDouble)),
      "ops.mutate_us" -> perItemUs(t, "ops.mutate", stored, decodedWithTargets) {
        case (a, exts, boxes) =>
          exts.foreach(TreeOps.setAttr(a, _, "rel", "nofollow"))
          boxes.foreach(TreeOps.appendHtml(a, _, Appended))
          a
      },
      "sources.serialize_us" -> perItemUs(t, "sources.serialize", access,
        identity[ArrayDataAccess])(acc =>
        Serializer.toHtml(acc, rootElement(acc), includeRoot = true, acc.templateContents)),
      "crawl.canon_us" -> perItemUs(t, "crawl.canon", allLinks,
        identity[(String, String)]) { case (href, base) => UrlCanon.canonicalize(href, base) },
      "sources.nodes_per_doc" -> Stats.mean(arenas.map(_.size.toDouble)),
      "links_per_doc" -> Stats.mean(pageLinks.map(_.size.toDouble)))
  }

  /** Step-prefix repetitions; the median of each prefix is used. */
  val StepReps = 5

  /** Plans and runs `df` into `sink`; the frame is built (analysed) before
    * the clock starts, as the traced job's `crawl.analyze` span is apart
    * from its plan and execute spans. */
  private def timed(df: DataFrame)(sink: DataFrame => Any): Double = {
    val t0 = System.nanoTime()
    sink(df)
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /**
   * Crawl-round steps as prefix jobs: dedup and dedup + seen filter forced
   * to the noop sink, then dedup + seen filter + schedule into `sink`, the
   * job's own sink, so that the three steps add up to the job's plan and
   * execute time. Each repetition first runs `round`, one whole job, so
   * that the steps and the jobs they are compared with run at the same point
   * of the JIT's warm-up. The step times are the medians' differences. Also measures the bloom's maybe-seen slice and its
   * false-positive rate against the exact anti-join.
   */
  def crawl(spark: SparkSession, t: Tracer, frontier: DataFrame, seen: DataFrame,
      bloom: BloomFilter, budget: Int, sink: DataFrame => Any, round: () => Any)
      : Map[String, Double] = t.span("layers.crawl") {
    def dedup = Frontier.dedupCandidates(frontier)
    def unseen = Frontier.filterUnseenCached(dedup, seen, bloom)
    val runs = (1 to StepReps).map { _ =>
      round()
      (t.span("crawl.dedup")(timed(dedup)(noop)),
        t.span("crawl.dedup+seen_filter")(timed(unseen)(noop)),
        t.span("crawl.dedup+seen_filter+schedule")(timed(Frontier.schedule(unseen, budget))(sink)))
    }
    val m1 = Stats.median(runs.map(_._1))
    val m2 = Stats.median(runs.map(_._2))
    val m3 = Stats.median(runs.map(_._3))
    val probed = dedup.withColumn("maybe",
      GraftFunctions.bloom_probe_bc(spark, "perfbench-probe", bloom, xxhash64(col("url"))))
    val counts = t.span("crawl.bloom_probe") {
      probed.agg(count(lit(1)), sum(when(col("maybe"), 1L).otherwise(0L))).head()
    }
    val candidates = counts.getLong(0).toDouble
    val maybe = counts.getLong(1).toDouble
    val maybeSeen = t.span("crawl.bloom_exact") {
      probed.filter(col("maybe")).join(seen, Seq("url"), "left_semi").count().toDouble
    }
    Map(
      "crawl.dedup_s" -> m1,
      "crawl.seen_filter_s" -> (m2 - m1),
      "crawl.schedule_s" -> (m3 - m2),
      "crawl.bloom_maybe_frac" -> maybe / candidates,
      "crawl.bloom_fpr" -> (if (maybe == 0) 0.0 else (maybe - maybeSeen) / maybe))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated quantile of `xs`; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
