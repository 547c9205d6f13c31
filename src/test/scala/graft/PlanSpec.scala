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

  /** The shuffles keyed on a candidate key (band, shingle or the id pair)
    * whose rows carry an array column. An `Exchange` line prints only its
    * keys, so this reads the exchange nodes of the physical plan. */
  private def wideCandidateShuffles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    physical.collect { case e: ShuffleExchangeExec => e }.flatMap { e =>
      val keys = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet
        case _ => Set.empty[String]
      }
      val candidateKey = keys("band") || keys("sh") || (keys("id_a") && keys("id_b"))
      val carriesArray = e.child.output
        .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      if (candidateKey && carriesArray)
        Some(s"${e.simpleString(200)} over ${e.child.output.mkString(", ")}")
      else None
    }
  }

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
    // with broadcast on, the tiny seen side would be broadcast and hide a
    // second shuffle of the candidates; at scale neither side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Frontier.filterUnseen(Frontier.dedupCandidates(frontier), seen))
      // the candidates (big) side is hash-partitioned by url exactly once,
      // the seen side once
      val urlShuffles = "hashpartitioning\\(url".r.findAllIn(p).length
      assert(urlShuffles == 2, s"expected 2 url shuffles (big side + seen side):\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("crawl round: one url exchange per input, no (url, host) exchange, no bloom probe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_round").toString
    (0 until 1000)
      .map(i => (s"https://h${i % 7}.ex/p/${i % 300}", s"h${i % 7}.ex", i % 5, i.toLong))
      .toDF("url", "host", "priority", "seq").write.parquet(s"$dir/frontier")
    (0 until 100 by 3).map(i => s"https://h${i % 7}.ex/p/$i").toDF("url")
      .write.parquet(s"$dir/seen")
    val seen = spark.read.parquet(s"$dir/seen")
    val bloom = Frontier.urlBloom(seen, 1000, 1L << 16)
    // the shape at scale: no broadcast join, and AQE off so the executed
    // plan is the whole static plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (sched, _, _) = Frontier.round(spark.read.parquet(s"$dir/frontier"), seen,
        budgetPerHost = 3, seenBloom = Some(bloom))
      val p = plan(sched)
      val urlOnly = "hashpartitioning\\(url#\\d+, \\d+\\)".r.findAllIn(p).length
      assert(urlOnly == 2, s"expected one url exchange per input (frontier, seen):\n$p")
      assert("hashpartitioning\\(url#\\d+, host".r.findFirstIn(p).isEmpty,
        s"(url, host) exchange:\n$p")
      // the frontier is the only input with a priority column
      val frontierScans = "FileScan parquet \\[[^\\]]*priority".r.findAllIn(p).length
      assert(frontierScans == 1, s"frontier scanned $frontierScans times:\n$p")
      assert(!p.contains("bloom_might_contain_bc"), s"bloom probe in the round:\n$p")
      assert(sched.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("crawl round: the seen filter is a hash join built on the candidates, no url sort") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.RightOuter
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val dir = java.nio.file.Files.createTempDirectory("plan_seen_hash").toString
    (0 until 1000)
      .map(i => (s"https://h${i % 7}.ex/p/${i % 300}", s"h${i % 7}.ex", i % 5, i.toLong))
      .toDF("url", "host", "priority", "seq").write.parquet(s"$dir/frontier")
    (0 until 100 by 3).map(i => s"https://h${i % 7}.ex/p/$i").toDF("url")
      .write.parquet(s"$dir/seen")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (sched, _, _) = Frontier.round(spark.read.parquet(s"$dir/frontier"),
        spark.read.parquet(s"$dir/seen"), budgetPerHost = 3)
      val physical = sched.queryExecution.executedPlan
      val p = physical.toString
      def readsSeen(q: SparkPlan) = q.exists {
        case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.getName == "seen")
        case _ => false
      }
      val hashJoins = physical.collect { case j: ShuffledHashJoinExec => j }
      assert(hashJoins.length == 1 && hashJoins.forall(j =>
        j.joinType == RightOuter && j.buildSide == BuildRight && readsSeen(j.left) &&
          !readsSeen(j.right)),
        s"expected one RightOuter BuildRight hash join streaming the seen table:\n$p")
      assert(!p.contains("Sort [url"), s"url sort in the round:\n$p")
      val seenExchanges = hashJoins.head.left.collect { case e: ShuffleExchangeExec => e }
      assert(seenExchanges.nonEmpty &&
        seenExchanges.forall(_.child.output.map(_.name) == Seq("url")),
        s"the seen exchange carries more than url:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("robots round: newSeen splits the one robots verdict, no anti-join against unseen") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // stored inputs, so the optimizer cannot fold them away and the seen
    // table is recognised by its directory
    val dir = java.nio.file.Files.createTempDirectory("plan_robots").toString
    (0 until 1000)
      .map(i => (s"https://h${i % 7}.ex/p/${i % 300}", s"h${i % 7}.ex", i % 5, i.toLong))
      .toDF("url", "host", "priority", "seq").write.parquet(s"$dir/frontier")
    (0 until 100 by 3).map(i => s"https://h${i % 7}.ex/p/$i").toDF("url")
      .write.parquet(s"$dir/seen")
    val robots = (0 until 7).map(h => (s"h$h.ex", Seq("/p/1"), Seq("/p/10"), 1 + h % 3))
      .toDF("host", "disallow_prefixes", "allow_prefixes", "crawl_delay_s")
    val (_, newSeen, _) = Frontier.round(spark.read.parquet(s"$dir/frontier"),
      spark.read.parquet(s"$dir/seen"), budgetPerHost = 3, robots = Some(robots))
    val optimized = newSeen.queryExecution.optimizedPlan
    def readsSeen(p: LogicalPlan) = p.exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.getName == "seen")
        case _ => false
      }
      case _ => false
    }
    // a robots-gated subtree: candidates (they read seen) that went through
    // the robots rules
    def gated(p: LogicalPlan) = readsSeen(p) && p.exists(_.output.exists(a =>
      a.name == "disallow_prefixes" || a.name == "allow_prefixes"))
    val seenJoins = optimized.collect {
      case j: Join if readsSeen(j.left) || readsSeen(j.right) => j
    }
    // the seen filter is still there; no seen join has the robots-gated set
    // on its other side
    assert(seenJoins.nonEmpty, optimized.toString)
    val gatedOther = seenJoins.filter(j =>
      (readsSeen(j.left) && gated(j.right)) || (readsSeen(j.right) && gated(j.left)))
    assert(gatedOther.isEmpty,
      s"newSeen joins seen against the robots-filtered unseen set:\n${gatedOther.mkString("\n")}")
  }

  test("flagship q_links plan: per-document narrow stage, single final sort") {
    // parse+select+extract is one narrow projection chain above the one
    // exchange, the range repartition of the base rows that the final
    // orderBy reuses (sort-first, SynthDocs.partDocs): a range exchange
    // samples its child, so a parse below it would run twice. q_links_big's
    // page aggregate runs on that range partitioning, with no exchange of its own
    for (q <- Seq("q_links", "q_dom_parse_count", "q_links_big")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("Exchange".r.findAllIn(p).length == 1, s"$q: one exchange expected:\n$p")
      val (parse, ex) = (p.indexOf("parse_html"), p.indexOf("Exchange rangepartitioning"))
      assert(parse >= 0 && ex > parse, s"$q: parse must sit above the range exchange:\n$p")
    }
  }

  // --- PushDomBelowGenerate ------------------------------------------------

  /** A second session on the shared context, built with [[graft.spark.GraftExtensions]]
    * and without `register`: the extension injects the optimizer rule into a
    * different batch than `register` does. With an active or default session
    * `getOrCreate` would hand that one back and ignore the extension, so both
    * are cleared around the build and restored. */
  private lazy val extSession: SparkSession = {
    spark.sparkContext // the shared context, with this spec's master and conf
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new graft.spark.GraftExtensions).getOrCreate()
    finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  /** 40 parsed pages with 0–6 links each; every fifth has no `<base>`. The
    * repartition stands for a scan: over a bare local relation the optimizer
    * would evaluate the DOM projections itself, at plan time. */
  private def linkPages(s: SparkSession) = {
    import s.implicits._
    import graft.spark.{GraftFunctions => F}
    (0 until 40).map { i =>
      val links = (0 until (i % 7)).map(k => s"""<a href="p$k?i=$i#f">$k</a>""").mkString
      val base = if (i % 5 == 0) "" else s"""<base href="https://h${i % 3}.ex/d$i/">"""
      (i, s"<html><head>$base</head><body><div class=row>$links<a>no href</a></div></body></html>")
    }.toDF("i", "html").repartition(2).select(col("i"), F.parse_html(col("html")).as("n"))
  }

  private def sortedStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(r => String.valueOf(r.getString(0))).sorted.toSeq

  private def domExprsIn(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      cls: Class[_]): Boolean = p.expressions.exists(_.exists(cls.isInstance))

  /** The dom_links shape (base and explode in one select) runs `dom_base_uri`
    * below the `Generate`, and gives the rows of the query written with the
    * base computed in a separate select before the explode. */
  private def checkBaseUriBelowGenerate(s: SparkSession): Unit = {
    import graft.spark.{DomBaseUri, GraftFunctions => F}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val parsed = linkPages(s)
    val n = col("n")
    def links(withBase: org.apache.spark.sql.DataFrame) =
      withBase.select(col("base"),
          explode(F.dom_attr_each(n, F.css_select(n, "a[href]"), "href")).as("href"))
        .select(F.canonicalize_url(col("href"), col("base")).as("url"))
    val q = parsed
      .select(F.dom_base_uri(n).as("base"),
        explode(F.dom_attr_each(n, F.css_select(n, "a[href]"), "href")).as("href"))
      .select(F.canonicalize_url(col("href"), col("base")).as("url"))
    val opt = q.queryExecution.optimizedPlan
    val gen = opt.collectFirst { case g: Generate => g }
    assert(gen.isDefined, opt.treeString)
    assert(gen.get.child.exists(domExprsIn(_, classOf[DomBaseUri])),
      s"dom_base_uri not below Generate:\n${opt.treeString}")
    assert(!opt.exists(p => domExprsIn(p, classOf[DomBaseUri]) && p.exists(_.isInstanceOf[Generate])),
      s"dom_base_uri still evaluated above Generate:\n${opt.treeString}")
    val reference = links(parsed.select(n, F.dom_base_uri(n).as("base")))
    val got = sortedStrings(q)
    assert(got.length == (0 until 40).map(_ % 7).sum)
    assert(got == sortedStrings(reference))
  }

  test("per-document dom_base_uri is evaluated below the explode, once per page") {
    graft.spark.GraftFunctions.register(spark)
    checkBaseUriBelowGenerate(spark)
  }

  test("dom_base_uri below the explode in a GraftExtensions session too") {
    checkBaseUriBelowGenerate(extSession)
  }

  test("lambda bodies and guarded branches stay above the explode") {
    import graft.spark.{DomBaseUri, DomHtml, DomText, GraftFunctions => F}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    F.register(spark)
    val parsed = linkPages(spark)
    val n = col("n")
    def hrefs = explode(F.dom_attr_each(n, F.css_select(n, "a[href]"), "href")).as("href")
    // a lambda body runs per array element, or never: a DOM call on the
    // lambda variable cannot move below the Generate, where `x` is unbound,
    // and one that reads only `n` stays in the body too
    val perLink = transform(F.css_select(n, "a"),
      x => concat(F.dom_html(n, array(x), true), F.dom_text(n, F.css_select(n, "div"))))
    // a DOM call in a CASE branch or on the right of AND runs only when the
    // guard holds, so it stays with its guard
    val guarded = when(col("i") % 2 === 0, F.dom_base_uri(n))
    val rightOfAnd = col("i") > 100 && F.dom_base_uri(n).isNotNull
    val q = parsed.select(hrefs, perLink.as("html"), guarded.as("base"), rightOfAnd.as("flag"))
    val opt = q.queryExecution.optimizedPlan
    val gen = opt.collectFirst { case g: Generate => g }.get
    assert(!gen.child.exists(p => domExprsIn(p, classOf[DomHtml]) || domExprsIn(p, classOf[DomText])),
      s"lambda body moved below Generate:\n${opt.treeString}")
    assert(!gen.child.exists(domExprsIn(_, classOf[DomBaseUri])),
      s"guarded branch moved below Generate:\n${opt.treeString}")
    // same rows as the per-document values computed before the explode
    val reference = parsed
      .select(n, perLink.as("html"), guarded.as("base"), rightOfAnd.as("flag"))
      .select(hrefs, col("html"), col("base"), col("flag"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getSeq[String](1).mkString("|"),
        String.valueOf(r.getString(2)), r.getBoolean(3))).sortBy(_.toString).toSeq
    val got = rows(q)
    assert(got.length == (0 until 40).map(_ % 7).sum)
    assert(got.forall(_._2.contains("<a href=")))
    assert(got == rows(reference))
  }

  test("dom_links shape and q_links: DOM expressions and the Generate run inside whole-stage codegen") {
    import graft.spark.{GraftFunctions => F}
    F.register(spark)
    val n = col("n")
    val links = linkPages(spark)
      .select(F.dom_base_uri(n).as("base"),
        explode(F.dom_attr_each(n, F.css_select_under(n, F.css_select(n, "div.row"), "a[href]"),
          "href")).as("href"))
      .select(F.canonicalize_url(col("href"), col("base")).as("url"))
      .agg(count(col("url")), countDistinct(col("url")))
    for ((name, q) <- Seq("dom_links" -> links, "q_links" -> SparkEntry.queries("q_links")(spark, sf))) {
      q.collect()
      val p = q.queryExecution.executedPlan
      assert(p.toString.contains("parse_html"), p)
      val outside = PlanSpec.domOutsideCodegen(p)
      assert(outside.isEmpty, s"$name: outside whole-stage codegen:\n${outside.mkString("\n")}\n$p")
    }
  }

  test("q_dom_parse_count: parse_html of the part-catalog pages runs inside whole-stage codegen") {
    val q = SparkEntry.queries("q_dom_parse_count")(spark, sf)
    q.collect()
    val p = q.queryExecution.executedPlan
    assert(p.toString.contains("parse_html"), p)
    val outside = PlanSpec.domOutsideCodegen(p)
    assert(outside.isEmpty, s"outside whole-stage codegen:\n${outside.mkString("\n")}\n$p")
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

  test("minhash and ngram: id-pair candidate shuffle, no cache, no hashing in a lambda") {
    // a parquet corpus: over a local relation the optimizer folds the whole
    // shingle projection into the relation and the plan would show nothing
    val corpus = TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf))
    for ((name, pairs) <- Seq(
        "minhash" -> TextPipeline.minhashPairs(corpus, 0.6),
        "ngram" -> TextPipeline.ngramJaccardPairs(corpus, 0.6))) {
      val p = plan(pairs)
      // each operator is one lazy plan: nothing is read back from a cache
      assert(!p.contains("InMemoryTableScan") && !p.contains("TableCacheQueryStage"),
        s"$name plan reads a cached relation:\n$p")
      // the token hashes are computed once per document, in their own
      // projection; a filter pushed below the shingle projection would
      // inline word_hashes(text) into every element_at of the shingle lambda
      val optimized = pairs.queryExecution.optimizedPlan.toString
      val inlined = "lambdafunction\\(.*word_hashes".r.findFirstIn(optimized)
      assert(inlined.isEmpty, s"$name plan hashes tokens inside a lambda:\n$optimized")
      // the band-join + distinct shuffles must NOT carry the shingle arrays:
      // every shuffle on band/shingle/id-pair keys is over narrow rows
      val wide = wideCandidateShuffles(pairs)
      assert(wide.isEmpty, s"$name candidate shuffle carries a payload:\n${wide.mkString("\n")}")
    }
  }

  test("building the dedup and near-dup frames runs no job beyond the input read") {
    val docs = TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf))
    val emb = graft.pipeline.Similarity.embeddings(spark, sf)
    for ((name, build) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "minhash" -> (() => TextPipeline.minhashPairs(docs, 0.6)),
        "simhash" -> (() => TextPipeline.simhashPairs(docs, 6)),
        "ngram" -> (() => TextPipeline.ngramJaccardPairs(docs, 0.6)),
        "neardup" -> (() => graft.pipeline.Similarity.embeddingNearDupPairs(emb, 0.9)))) {
      val group = s"build-$name-${java.util.UUID.randomUUID}"
      spark.sparkContext.setJobGroup(group, s"build $name")
      try build() finally spark.sparkContext.clearJobGroup()
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
        s"building the $name frame ran a job")
    }
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
    val incremental = TextPipeline.incrementalPairs(
      newSh, TextPipeline.minhashBands(newSh),
      storedSh, TextPipeline.minhashBands(storedSh), 0.6)
    val p = plan(incremental)
    // stored bands must be pruned to the batch's band keys BEFORE the
    // candidate join — at 100 TB the history side is the whole corpus
    assert(p.contains("LeftSemi"), s"missing stored-history semi-prune:\n$p")
    // the per-key cap is a spillable window rank, not a collect_list buffer
    assert(p.contains("row_number"), s"missing window cap:\n$p")
    assert(!p.contains("collect_list"), s"whole-key aggregation buffer:\n$p")
    // candidate shuffles stay narrow: no exchange keyed on band/ids may
    // carry the shingle arrays
    val wide = wideCandidateShuffles(incremental)
    assert(wide.isEmpty, s"candidate shuffle carries a payload:\n${wide.mkString("\n")}")
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

object PlanSpec {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** The graft expressions: the DOM and URL expressions, the pipeline
    * kernels and the broadcast probes — every expression class of this
    * project, whatever codegen path it takes. */
  def isGraft(e: Expression): Boolean = e.getClass.getName.startsWith("graft.")

  /** The operators of an executed plan that are `Generate`s or hold a graft
    * expression, but run outside any whole-stage codegen stage. Reads the
    * final adaptive plan, query stages included. */
  def domOutsideCodegen(p: SparkPlan, fused: Boolean = false): Seq[String] = {
    val dom = p.isInstanceOf[GenerateExec] || p.expressions.exists(_.exists(isGraft))
    (if (dom && !fused) Seq(p.simpleString(200)) else Nil) ++ (p match {
      case w: WholeStageCodegenExec => domOutsideCodegen(w.child, fused = true)
      case i: InputAdapter => domOutsideCodegen(i.child)
      case a: AdaptiveSparkPlanExec => domOutsideCodegen(a.executedPlan)
      case s: QueryStageExec => domOutsideCodegen(s.plan)
      case _ => p.children.flatMap(domOutsideCodegen(_, fused))
    })
  }
}
