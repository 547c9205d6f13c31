package graftbench

import graft.crawl.{BloomBroadcasts, Frontier, OracleCrawler}
import graft.css.{Engine, SelectorAst}
import graft.spark.{ArrayDataAccess, GraftFunctions => F}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import scala.collection.mutable

/**
 * One benchmark workload over the tables under `dir`. A fresh JVM writes
 * them with `generate(seed, write = true)`; a set-up JVM only calls `setup`;
 * the run's JVM calls `setup` (timed), `generate(seed, write = false)` and
 * `prepareChecks` (untimed), then `run` + `check` per job; only `run` is
 * timed.
 */
trait Workload {
  def name: String
  /** Items one job completes (pages, or candidate-URL rows). */
  def items: Long
  /** Warm-up deadline, counted from the end of set-up: long enough that the
    * JIT has settled and job times have stopped falling. */
  def warmupSeconds: Double
  /** Generates this run's inputs from `seed` and keeps the planted answers;
    * writes the tables only when `write`. */
  def generate(seed: Long, write: Boolean): Unit
  /** The program-side set-up a deployment does once before its first job. */
  def setup(spark: SparkSession): Unit
  /** Computes answers that need more than the generator (the crawl oracle). */
  def prepareChecks(spark: SparkSession): Unit = ()
  /** One job: the part that is timed. `t` records its phases when traced. */
  def run(spark: SparkSession, t: Tracer): AnyRef
  /** None when `run`'s output matches the planted answers, else the difference. */
  def check(out: AnyRef): Option[String]
  /** Drops state a job leaves in the session. */
  def afterJob(spark: SparkSession): Unit = ()
  /** Per-layer metrics for the traced run. `t` holds the traced jobs'
    * spans; `exec` is the listener's account of the last traced job. */
  def layers(spark: SparkSession, t: Tracer, exec: ExecMetrics): Map[String, Double]
}

object Workload {
  def apply(name: String, dir: String): Workload = name match {
    case "dom_links" => new DomLinks(dir)
    case "crawl_round" => new CrawlRound(dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (dom_links, crawl_round)")
  }

  /** Files per stored page table: several per thread, so a large page is
    * one straggler task among many rather than a quarter of the job. */
  val PageFiles = 32

  /** Writes rows 0 until `n` as `files` parquet files (snappy, one row
    * group each) with the given parquet message type; `fill` sets row i's
    * fields. Written directly through parquet-hadoop, not through Spark, so
    * that generating inputs starts no session. */
  def write(path: String, schema: String, files: Int, n: Int)(fill: (Group, Int) => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val rows = new SimpleGroupFactory(t)
    val conf = new Configuration()
    (0 until files).foreach { f =>
      val w = ExampleParquetWriter.builder(new Path(f"$path/part-$f%05d.snappy.parquet"))
        .withType(t).withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      try (f * n / files until (f + 1) * n / files).foreach { i =>
        val g = rows.newGroup()
        fill(g, i)
        w.write(g)
      } finally w.close()
    }
  }

  val PageSchema = "message pages { required int64 doc_id; required binary html (UTF8); }"

  def writePages(path: String, pages: Array[Gen.Page]): Unit =
    write(path, PageSchema, PageFiles, pages.length) { (g, i) =>
      g.append("doc_id", pages(i).docId).append("html", pages(i).html)
    }

  /** Order-insensitive fingerprint of a url multiset: count and the sums of
    * the low and high halves of Spark's `xxhash64` (seed 42) of each url. */
  def fingerprint(urls: Iterator[String]): (Long, Long, Long) = {
    var n, lo, hi = 0L
    urls.foreach { u =>
      val h = XXH64.hashUTF8String(UTF8String.fromString(u), 42L)
      n += 1; lo += h & 0xffffffffL; hi += h >>> 32
    }
    (n, lo, hi)
  }

  /** The html of every n-th page, about `size` pages: the per-layer sample. */
  def sample(pages: Array[Gen.Page], size: Int): Array[String] =
    pages.indices.by(math.max(1, pages.length / size)).map(pages(_).html).toArray
}

/** Raw pages → parse_html → css_select / css_select_under →
  * dom_attr_each(href) → canonicalize_url. */
final class DomLinks(dir: String) extends Workload {
  val name = "dom_links"
  val Pages = 640
  val Rows = "table.itemlist tr.athing, ul.products li.product"
  val Links = "a[href]"
  def items: Long = Pages
  // job times stop falling ~15 s after set-up
  val warmupSeconds = 22.0
  private val path = s"$dir/pages"
  private var expected: (Long, Long, Long) = _
  private var sample: Array[String] = _

  def generate(seed: Long, write: Boolean): Unit = {
    val pages = Gen.pages(seed, Pages)
    expected = Workload.fingerprint(pages.iterator.flatMap(_.links))
    sample = Workload.sample(pages, 200)
    if (write) Workload.writePages(path, pages)
  }

  def setup(spark: SparkSession): Unit = ()

  /** Builds the query (analysis runs on the driver as it is built), then
    * plans and runs it. */
  def run(spark: SparkSession, t: Tracer): AnyRef = {
    val n = col("n")
    val q = t.span("dom.analyze") {
      spark.read.parquet(path)
        .select(F.parse_html(col("html")).as("n"))
        .select(F.dom_base_uri(n).as("base"),
          explode(F.dom_attr_each(n, F.css_select_under(n, F.css_select(n, Rows), Links),
            "href")).as("href"))
        .select(F.canonicalize_url(col("href"), col("base")).as("url"))
        .select(col("url"), xxhash64(col("url")).as("h"))
        .agg(count(col("url")),
          sum(when(col("url").isNotNull, col("h").bitwiseAND(0xffffffffL))),
          sum(when(col("url").isNotNull, shiftrightunsigned(col("h"), 32))))
    }
    t.span("dom.plan")(q.queryExecution.executedPlan)
    t.span("dom.execute")(q.head())
  }

  def check(out: AnyRef): Option[String] = {
    val r = out.asInstanceOf[Row]
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (got == expected) None
    else Some(s"links (count, lo-hash sum, hi-hash sum) = $got, planted $expected")
  }

  /** Also reports `dom.layer_share`: the per-page cost of the engine layers
    * the job runs (parse, which includes the tokenizer, renumber, encode,
    * selector walk and canonicalization), single-threaded, over the
    * executor time per page of the last traced job. */
  def layers(spark: SparkSession, t: Tracer, exec: ExecMetrics): Map[String, Double] = {
    val rows = SelectorAst.parse(Rows)
    val links = SelectorAst.parse(Links)
    val base = SelectorAst.parse("html > head > base[href]")
    def linkIds(acc: ArrayDataAccess) =
      Engine.selectChained(acc, Engine.select(acc, Seq(0), rows), links)
    val m = Layers.dom(t, sample, Seq(Rows, Links), linkIds(_).length,
      acc => {
        val b = Engine.selectFirst(acc, Seq(0), base)
        val href = if (b == -1) null else acc.attr(b, "href")
        linkIds(acc).map(i => (acc.attr(i, "href"), href)).toSeq
      })
    val perPageUs = m("sources.parse_us") + m("sources.renumber_us") + m("spark.encode_us") +
      m("css.select_us") + m("crawl.canon_us") * m("links_per_doc")
    m + ("dom.layer_share" -> perPageUs * Pages / 1e6 / exec.runS)
  }
}

/** Stored frontier + seen table + prebuilt bloom → Frontier.round → the
  * scheduled set, checked against OracleCrawler on the same input. */
final class CrawlRound(dir: String) extends Workload {
  val name = "crawl_round"
  val Rows = 150000
  /** Per-host politeness budget: below the hot hosts' candidate counts, so
    * the budget binds and `deferred` is non-empty. */
  val Budget = 50
  val BloomBitsPerUrl = 8
  /** Files per stored table: the rows are uniform in size, two per thread. */
  val Files = 8
  def items: Long = Rows
  // job times still fell in a timed window that began 22 s after set-up
  val warmupSeconds = 27.0
  private val frontierPath = s"$dir/frontier"
  private val seenPath = s"$dir/seen"
  private var gen: Gen.Frontier = _
  private var bloom: BloomFilter = _
  private var expected: Vector[(String, String, Int, Long, Int)] = _
  private var expectedDeferred = 0L
  /** The executed plan of the last job, for its operators' metrics. */
  private var lastPlan: SparkPlan = _

  def generate(seed: Long, write: Boolean): Unit = {
    gen = Gen.frontier(seed, Rows)
    if (write) writeTables(gen)
  }

  private def writeTables(g: Gen.Frontier): Unit = {
    Workload.write(frontierPath, "message frontier { required binary url (UTF8); " +
      "required binary host (UTF8); required int32 priority; required int64 seq; }",
      Files, Rows) { (row, i) =>
      row.append("url", g.urls(i)).append("host", g.hosts(i))
        .append("priority", g.priorities(i)).append("seq", g.seqs(i))
    }
    Workload.write(seenPath, "message seen { required binary url (UTF8); }", Files,
      g.seen.length)((row, i) => row.append("url", g.seen(i)))
  }

  private def frontier(spark: SparkSession) = spark.read.parquet(frontierPath)
  private def seen(spark: SparkSession) = spark.read.parquet(seenPath)

  /** The seen-url bloom is built once and carried across rounds. */
  def setup(spark: SparkSession): Unit = {
    val s = seen(spark)
    val n = s.count()
    bloom = Frontier.urlBloom(s, n, BloomBitsPerUrl * n)
  }

  override def prepareChecks(spark: SparkSession): Unit = {
    val rows = gen.urls.indices.map(i =>
      OracleCrawler.Url(gen.urls(i), gen.hosts(i), gen.priorities(i), gen.seqs(i)))
    // only candidate urls can be looked up: the rest of the seen table
    // cannot change a round
    val candidates = gen.urls.toSet
    val seenSet = mutable.HashSet.from(gen.seen.iterator.filter(candidates))
    val (res, deferred) = OracleCrawler.round(rows, seenSet, Budget)
    expected = res.scheduled.map(u => (u.url, u.host, u.priority, u.seq, res.slots(u.url)))
    expectedDeferred = deferred.size.toLong
    gen = null
  }

  /** The scheduled set's columns, as the job collects them. */
  val Columns = Seq("url", "host", "priority", "seq", "slot")

  private def round(spark: SparkSession) =
    Frontier.round(frontier(spark), seen(spark), Budget, seenBloom = Some(bloom))

  /** Builds the round's frames (analysis runs on the driver as they are
    * built), then plans and runs the scheduled set. */
  def run(spark: SparkSession, t: Tracer): AnyRef = {
    val sched = t.span("crawl.analyze") {
      round(spark)._1.select(Columns.map(col): _*)
    }
    lastPlan = t.span("crawl.plan")(sched.queryExecution.executedPlan)
    t.span("crawl.execute")(sched.collect())
  }

  def check(out: AnyRef): Option[String] = {
    val got = out.asInstanceOf[Array[Row]]
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      .sortBy(x => (-x._3, x._4, x._1)).toVector
    if (got == expected) None
    else {
      val i = got.zip(expected).indexWhere { case (a, b) => a != b }
      Some(s"scheduled ${got.size} rows, oracle ${expected.size}; first difference at " +
        s"$i: ${got.lift(i)} vs ${expected.lift(i)}")
    }
  }

  /** Releases the round's bloom broadcast: the slot keeps one live filter
    * until the next install, so a placeholder install frees it. */
  override def afterJob(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    BloomBroadcasts.install(s"url-seen-${sc.applicationId}",
      sc.broadcast(BloomFilter.create(1, 64)))
  }

  /**
   * Also checks the round's deferred frame against the oracle's count, and
   * reports how far the step times plus the driver's analysis fall short of
   * the median of the whole rounds run between the steps
   * (`crawl.steps_gap_frac`) and what share of the last traced job's
   * executor time went to the exchange (shuffle write and fetch wait) and
   * the window sorts (`crawl.exchange_sort_share`).
   */
  def layers(spark: SparkSession, t: Tracer, exec: ExecMetrics): Map[String, Double] = {
    val deferred = t.span("crawl.deferred_count")(round(spark)._3.count())
    if (deferred != expectedDeferred)
      throw new IllegalStateException(s"deferred = $deferred, oracle $expectedDeferred")
    val sortS = lastPlan.collect { case s: SortExec => s.metrics("sortTime").value / 1e3 }.sum
    val steps = Layers.crawl(spark, t, frontier(spark), seen(spark), bloom, Budget,
      _.select(Columns.map(col): _*).collect(), () => {
        val out = t.span("crawl.round")(run(spark, t))
        check(out).foreach(d => throw new IllegalStateException(s"round between steps: $d"))
        afterJob(spark)
      })
    val analyze = Stats.median(t.seconds("crawl.analyze"))
    val job = Stats.median(t.seconds("crawl.round"))
    val stepSum = steps("crawl.dedup_s") + steps("crawl.seen_filter_s") +
      steps("crawl.schedule_s")
    steps ++ Map(
      "crawl.analyze_s" -> analyze,
      "crawl.plan_s" -> Stats.median(t.seconds("crawl.plan")),
      "crawl.steps_gap_frac" -> (1 - (analyze + stepSum) / job),
      "crawl.sort_s" -> sortS,
      "crawl.exchange_sort_share" -> (exec.shuffleWriteS + exec.fetchWaitS + sortS) / exec.runS,
      "crawl.scheduled" -> expected.size.toDouble,
      "crawl.deferred" -> deferred.toDouble)
  }
}
