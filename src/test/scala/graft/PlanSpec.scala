package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.crawl.Frontier
import graft.pipeline.TextPipeline

/**
 * Physical-plan quality gates: these assert the *shape* of the plans Catalyst
 * produces — filters reach the parquet scan, projections prune columns,
 * expression stages stay inside WholeStageCodegen, and the dedup → seen
 * anti-join reuses the url-keyed exchange instead of reshuffling. A plan
 * regression here is a 100 TB regression even when results stay correct.
 */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown: documents filter reaches the parquet scan") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === "en").select("doc_id", "n_chars")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), p)
  }

  test("column pruning: projection reaches ReadSchema") {
    val df = spark.read.parquet(s"$sf/documents.parquet").select("doc_id")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("text analysis stays in one codegen'd projection stage (no shuffle)") {
    val df = TextPipeline.textAnalysis(
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = plan(df)
    // `*(n)` marks whole-stage-codegen'd operators; the HOF projection
    // itself evaluates interpreted (Spark doesn't codegen lambda functions)
    // but the scan + tokenize stage must stay inside codegen
    assert(p.contains("*("), p)
    assert(!p.contains("Exchange"), s"unexpected shuffle in a narrow pipeline:\n$p")
  }

  test("dedup + seen anti-join: big side shuffles ONCE on url (exchange reuse)") {
    import spark.implicits._
    val frontier = (0 until 1000)
      .map(i => (s"https://h${i % 7}.ex/p/${i % 300}", s"h${i % 7}.ex", i % 5, i.toLong))
      .toDF("url", "host", "priority", "seq")
    val seen = (0 until 100 by 3).map(i => s"https://h${i % 7}.ex/p/$i").toDF("url")
    val unseen = Frontier.filterUnseen(Frontier.dedupCandidates(frontier), seen)
    val p = plan(unseen)
    // the candidates (big) side must be hash-partitioned by url exactly once
    val bigSideShuffles = "hashpartitioning\\(url".r.findAllIn(p).length
    assert(bigSideShuffles <= 2, s"url shuffled >2 times (big side + seen side):\n$p")
  }

  test("flagship q_links plan: per-document narrow stage, single final sort") {
    // parse+select+extract is one narrow projection chain above the one
    // exchange, the range repartition of the base rows that the final
    // orderBy reuses (sort-first, SynthDocs.partDocs): a range exchange
    // samples its child, so a parse below it would run twice
    for (q <- Seq("q_links", "q_dom_parse_count")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("Exchange".r.findAllIn(p).length == 1, s"$q: one exchange expected:\n$p")
      val (parse, ex) = (p.indexOf("parse_html"), p.indexOf("Exchange rangepartitioning"))
      assert(parse >= 0 && ex > parse, s"$q: parse must sit above the range exchange:\n$p")
    }
  }

  test("bucketed tables co-locate the seen join: zero exchanges in the join plan") {
    import spark.implicits._
    // the 100 TB lever for the recurring frontier-vs-seen join: both sides
    // bucketed by url at write time → the per-round anti-join needs no
    // shuffle at all
    val frontier = (0 until 500)
      .map(i => (s"https://h${i % 5}.ex/p/$i", i % 5)).toDF("url", "priority")
    val seen = (0 until 500 by 3).map(i => s"https://h${i % 5}.ex/p/$i").toDF("url")
    spark.sql("DROP TABLE IF EXISTS bkt_frontier")
    spark.sql("DROP TABLE IF EXISTS bkt_seen")
    // the in-memory catalog forgets tables across sessions but the managed
    // locations persist — clear them or saveAsTable refuses
    Seq("bkt_frontier", "bkt_seen").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    frontier.write.bucketBy(8, "url").sortBy("url").saveAsTable("bkt_frontier")
    seen.write.bucketBy(8, "url").sortBy("url").saveAsTable("bkt_seen")
    // at test scale the planner prefers broadcast; disable it so the plan
    // shows what happens at 10^10 rows where broadcast is impossible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_frontier")
        .join(spark.table("bkt_seen"), Seq("url"), "left_anti")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("Bucketed: true"), p)
      assert(joined.count() == (0 until 500).count(i => i % 3 != 0))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("minhash candidate shuffle carries id pairs only; shingles persisted once") {
    import spark.implicits._
    val corpus = (0 until 200)
      .map(i => (i.toLong, s"word${i % 37} and some shared text body number ${i % 9} tail"))
      .toDF("doc_id", "text")
    val pairs = TextPipeline.minhashPairs(corpus, 0.6)
    val p = plan(pairs)
    // the shingle table is a single persisted relation feeding all branches
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"shingle table not persisted (would recompute per branch):\n$p")
    // the band-join + distinct shuffles must NOT carry the shingle arrays:
    // every hashpartitioning on band/doc-id pair keys is over narrow rows
    val badExchange = "hashpartitioning\\((?:band|id_a)[^\\n]*shingles".r.findFirstIn(p)
    assert(badExchange.isEmpty, s"candidate shuffle carries shingle payload:\n$p")
  }

  test("incremental dedup semi-prunes stored history and window-caps band keys") {
    import spark.implicits._
    graft.spark.GraftFunctions.register(spark)
    val mk = (ids: Range) => ids
      .map(i => (i.toLong, s"word${i % 37} and some shared text body number ${i % 9} tail"))
      .toDF("doc_id", "text")
    val newSh = TextPipeline.withShingles(mk(200 until 300))
      .select(col("doc_id"), col("shingles"))
    val storedSh = TextPipeline.withShingles(mk(0 until 200))
      .select(col("doc_id"), col("shingles"))
    val p = plan(TextPipeline.incrementalPairs(
      newSh, TextPipeline.minhashBands(newSh),
      storedSh, TextPipeline.minhashBands(storedSh), 0.6))
    // stored bands must be pruned to the batch's band keys BEFORE the
    // candidate join — at 100 TB the history side is the whole corpus
    assert(p.contains("LeftSemi"), s"missing stored-history semi-prune:\n$p")
    // the per-key cap is a spillable window rank, not a collect_list buffer
    assert(p.contains("row_number"), s"missing window cap:\n$p")
    assert(!p.contains("collect_list"), s"whole-key aggregation buffer:\n$p")
    // candidate shuffles stay narrow: no exchange keyed on band/ids may
    // carry the shingle arrays
    val badExchange = "hashpartitioning\\((?:band|id_a)[^\\n]*shingles".r.findFirstIn(p)
    assert(badExchange.isEmpty, s"candidate shuffle carries shingle payload:\n$p")
  }

  test("politeness window is two-phase (salted partial then exact per-host)") {
    import spark.implicits._
    val unseen = (0 until 1000)
      .map(i => (s"https://h${i % 3}.ex/p/$i", s"h${i % 3}.ex", i % 5, i.toLong))
      .toDF("url", "host", "priority", "seq")
    val p = plan(Frontier.schedule(unseen, 10))
    val windows = "Window".r.findAllIn(p).length
    assert(windows >= 2, s"expected the two-phase top-B windows:\n$p")
    assert(p.contains("host") && p.contains("salt"), p)
  }
}
