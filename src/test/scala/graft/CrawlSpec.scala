package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.crawl.{Frontier, OracleCrawler, UrlCanon}
import java.nio.file.Files

/** Crawl-order + URL-seen equality: the distributed Frontier must match the
  * single-threaded OracleCrawler exactly, round by round, under the same seed
  * list + politeness budget (north_rule). */
class CrawlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import OracleCrawler.Url

  /** Deterministic seed list: 4 hosts, skewed (host-0 gets 5× the urls).
    * host-1 is http:// and host-2 carries a non-default port, so the robots
    * path derivation is exercised beyond the fixed 'https://' prefix. */
  def seed: Seq[Url] = (0 until 200).map { i =>
    val idx = Seq(0, 0, 0, 0, 0, 1, 2, 3)(i % 8)
    val host = idx match {
      case 2 => "host-2.example:8443"
      case n => s"host-$n.example"
    }
    val scheme = if (idx == 1) "http" else "https"
    Url(s"$scheme://$host/p/${i % 120}", host, priority = i % 5, seq = i.toLong)
  }

  /** Deterministic discovery: each scheduled url yields one child url. */
  def discoverOracle(scheduled: Vector[Url]): Seq[Url] =
    scheduled.map(u => Url(u.url + "/c", u.host, (u.priority + 3) % 5, u.seq + 10000))

  def toDf(us: Seq[Url]) = {
    import spark.implicits._
    us.map(u => (u.url, u.host, u.priority, u.seq)).toDF("url", "host", "priority", "seq")
  }

  /** [[discoverOracle]] as a frame transform, for `Frontier.crawl`. */
  val disc: DataFrame => Option[DataFrame] = sched => Some(
    sched.select(
      concat(col("url"), lit("/c")).as("url"),
      col("host"),
      pmod(col("priority") + 3, lit(5)).cast("int").as("priority"),
      (col("seq") + 10000).cast("long").as("seq")))

  /** The oracle's 4-round crawl of [[seed]] at budget 2: (rounds, final seen). */
  lazy val oracleCrawl = OracleCrawler.crawl(seed, rounds = 4, budgetPerHost = 2, discoverOracle)

  /** Each round's scheduled order under `root`, and the last round's seen
    * set, equal [[oracleCrawl]]'s. */
  def assertMatchesOracle(root: String): Unit = {
    val (oracleRounds, oracleSeen) = oracleCrawl
    oracleRounds.zipWithIndex.foreach { case (or, i) =>
      val sparkRound = spark.read.parquet(s"${Frontier.snapshotDir(root, i)}/scheduled")
        .orderBy(col("priority").desc, col("seq").asc, col("url").asc)
        .collect().map(_.getAs[String]("url")).toVector
      assert(sparkRound == or.scheduled.map(_.url), s"round $i order mismatch ($root)")
    }
    val lastSeen = spark.read
      .parquet(s"${Frontier.snapshotDir(root, oracleRounds.length - 1)}/seen")
      .collect().map(_.getString(0)).toSet
    assert(lastSeen == oracleSeen)
  }

  /** Every third seed url: a non-empty seen set, so the URL-seen anti-join
    * has something to drop. */
  def preSeen: Seq[String] = seed.filter(_.seq % 3 == 0).map(_.url).distinct

  /** A 2^20-bit bloom over [[preSeen]]: `round` takes one as `seenBloom`
    * and must give the same rows as without it. */
  def preSeenBloom = {
    import spark.implicits._
    Frontier.urlBloom(preSeen.toDF("url"), Frontier.bloomExpectedItems(1L << 20), 1L << 20)
  }

  test("single round: scheduled order, slots, seen set match oracle (exact + bloom)") {
    // non-empty initial seen; a passed seenBloom must not change the rows
    import spark.implicits._
    for (seenBloom <- Seq(None, Some(preSeenBloom))) {
      val seen0 = scala.collection.mutable.Set[String](preSeen: _*)
      val (oracleRes, _) = OracleCrawler.round(seed, seen0, budgetPerHost = 3)

      val (sched, newSeen, _) = Frontier.round(toDf(seed),
        preSeen.toDF("url"), budgetPerHost = 3, seenBloom = seenBloom)
      val sparkSched = sched
        .orderBy(col("priority").desc, col("seq").asc, col("url").asc)
        .collect()
        .map(r => (r.getAs[String]("url"), r.getAs[Int]("slot")))

      assert(sparkSched.map(_._1).toVector == oracleRes.scheduled.map(_.url),
        s"order mismatch (bloom=${seenBloom.isDefined})")
      sparkSched.foreach { case (url, slot) =>
        assert(slot == oracleRes.slots(url), s"slot mismatch for $url")
      }
      val sparkSeen = newSeen.collect().map(_.getString(0)).toSet
      assert(sparkSeen == seen0.toSet)
    }
  }

  test("filterUnseen leaves no temp view behind (catalog stays clean)") {
    import spark.implicits._
    val before = spark.catalog.listTables().count()
    val seen = preSeen.toDF("url")
    (1 to 3).foreach { _ =>
      Frontier.filterUnseen(Frontier.dedupCandidates(toDf(seed)), seen).count()
    }
    assert(spark.catalog.listTables().count() == before,
      "filterUnseen leaked temp views into the session catalog")
  }

  test("filterUnseen gives the left_anti rows and the candidates' columns") {
    import spark.implicits._
    val cands = Seq((1, "https://a.ex/1", "a.ex"),
      (2, "https://a.ex/2", "a.ex"), (3, null, "a.ex"), (4, "https://b.ex/1", "b.ex"),
      (5, "https://b.ex/2", "b.ex")).toDF("priority", "url", "host")
    val seen = Seq("https://a.ex/1", "https://a.ex/1", null, "https://b.ex/2", null,
      "https://c.ex/9").toDF("url")
    val frontier = Frontier.dedupCandidates(toDf(seed))
    // a seen table derived from the frontier's own lineage (a self-join)
    val ownSeen = frontier.filter(col("priority") >= 3).select("url")
    val cases = Seq(
      "null candidate url, null and duplicated seen urls" -> (cands, seen),
      "empty seen" -> (cands, seen.limit(0)),
      "empty candidates" -> (cands.limit(0), seen),
      "seed frontier" -> (frontier, preSeen.toDF("url")),
      "seen from the frontier's lineage" -> (frontier, ownSeen))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (adaptive <- Seq("true", "false"); (what, (c, s)) <- cases) {
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
        val got = Frontier.filterUnseen(c, s)
        assert(got.columns.toSeq == c.columns.toSeq, s"columns: $what")
        val want = c.join(s.select("url"), Seq("url"), "left_anti")
          .select(c.columns.toIndexedSeq.map(col): _*)
        def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf)).toSeq
          .sortBy(_.mkString("\u0000"))
        assert(rows(got) == rows(want), s"rows: $what (adaptive=$adaptive)")
      }
      // the edge cases by value: the null url is kept once, a/1 (seen twice)
      // and b/2 are dropped, and the null seen urls match nothing
      assert(Frontier.filterUnseen(cands, seen).select("priority").as[Int].collect().sorted
        .toSeq == Seq(2, 3, 4))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("dedup with every url in every input partition matches oracle, AQE on and off") {
    // dedupCandidates shuffles raw rows (no map-side combine): four input
    // partitions each hold one copy of every url, and for four urls in five
    // the max priority and the min seq sit in different copies
    val copies = 4
    val urls = seed.map(u => (u.url, u.host)).distinct
    val rows = (0 until copies).flatMap { k =>
      urls.zipWithIndex.map { case ((url, host), i) =>
        Url(url, host, priority = (i + k) % 5, seq = (i * copies + (k + 1) % copies).toLong)
      }
    }
    val frontier = {
      import spark.implicits._
      spark.sparkContext.parallelize(rows.map(u => (u.url, u.host, u.priority, u.seq)), copies)
        .toDF("url", "host", "priority", "seq")
    }
    assert(frontier.rdd.glom().collect().forall(_.map(_.getString(0)).toSet.size == urls.size),
      "every input partition must hold every url")
    val seen0 = preSeen
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (adaptive <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
        val seen = scala.collection.mutable.Set[String](seen0: _*)
        val (oracleRes, oracleDeferred) = OracleCrawler.round(rows, seen, budgetPerHost = 3)
        val (sched, newSeen, deferred) = {
          import spark.implicits._
          Frontier.round(frontier, seen0.toDF("url"), budgetPerHost = 3)
        }
        val got = sched.orderBy(col("priority").desc, col("seq").asc, col("url").asc)
          .collect().map(r => (Url(r.getAs[String]("url"), r.getAs[String]("host"),
            r.getAs[Int]("priority"), r.getAs[Long]("seq")), r.getAs[Int]("slot"))).toVector
        assert(got.map(_._1) == oracleRes.scheduled, s"scheduled rows (adaptive=$adaptive)")
        got.foreach { case (u, slot) =>
          assert(slot == oracleRes.slots(u.url), s"slot mismatch for ${u.url} (adaptive=$adaptive)")
        }
        val gotDeferred = deferred.collect().map(r => Url(r.getAs[String]("url"),
          r.getAs[String]("host"), r.getAs[Int]("priority"), r.getAs[Long]("seq"))).toSet
        assert(gotDeferred == oracleDeferred.toSet, s"deferred rows (adaptive=$adaptive)")
        assert(newSeen.collect().map(_.getString(0)).toSet == seen.toSet,
          s"seen set (adaptive=$adaptive)")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("multi-round crawl with discovery: per-round schedule + final seen match oracle") {
    val root = Files.createTempDirectory("crawl_ck").toString
    val metrics = Frontier.crawl(spark, root, toDf(seed), rounds = 4, budgetPerHost = 2,
      discover = disc)
    assert(metrics.length == oracleCrawl._1.length)
    assertMatchesOracle(root)
  }

  test("crawl across rounds + resume: equality holds, no bloom sidecar") {
    val root = Files.createTempDirectory("crawl_bloom_ck").toString
    // 2 rounds, then "crash", then resume to 4; the round keeps no URL-seen
    // bloom, so no snapshot carries a bloom sidecar
    Frontier.crawl(spark, root, toDf(seed), rounds = 2, budgetPerHost = 2,
      discover = disc)
    assert(!Files.exists(
      java.nio.file.Paths.get(s"${Frontier.snapshotDir(root, 1)}/bloom.bin")))
    Frontier.crawl(spark, root, toDf(seed), rounds = 4, budgetPerHost = 2,
      discover = disc)
    assertMatchesOracle(root)
  }

  test("a bloom.bin left in an older snapshot is ignored on resume") {
    val root = Files.createTempDirectory("crawl_bloom_legacy").toString
    Frontier.crawl(spark, root, toDf(seed), rounds = 2, budgetPerHost = 2,
      discover = disc)
    // an older build's sidecar: a raw-url-STRING-keyed filter, which probed
    // via xxhash64(url) longs would return noise and, through false
    // negatives, reschedule already-seen urls
    val p = java.nio.file.Paths.get(s"${Frontier.snapshotDir(root, 1)}/bloom.bin")
    val legacy = spark.read.parquet(s"${Frontier.snapshotDir(root, 1)}/seen")
      .stat.bloomFilter("url", 1000000L, 1L << 20)
    val bos = new java.io.ByteArrayOutputStream()
    legacy.writeTo(bos)
    java.nio.file.Files.write(p, bos.toByteArray)
    // resume reads the seen table, not the sidecar, so the remaining rounds
    // still reproduce the oracle exactly
    Frontier.crawl(spark, root, toDf(seed), rounds = 4, budgetPerHost = 2,
      discover = disc)
    assertMatchesOracle(root)
  }

  test("checkpoint resume: restart mid-crawl reproduces identical final state") {
    val root = Files.createTempDirectory("crawl_resume").toString
    // run 2 rounds, then "crash", then resume to 4
    Frontier.crawl(spark, root, toDf(seed), rounds = 2, budgetPerHost = 2, discover = disc)
    assert(Frontier.latestSnapshot(root).contains(1))
    Frontier.crawl(spark, root, toDf(seed), rounds = 4, budgetPerHost = 2, discover = disc)
    assert(Frontier.latestSnapshot(root).contains(3))
    assertMatchesOracle(root)
  }

  test("crawl keeps no cache, even if discover throws; one seen anti-join per round") {
    // the listener reads each action's logical plan; a cached frame would
    // hide its joins there, which the cache checks rule out
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def assertClean(what: String): Unit = {
      assert(cacheManager.isEmpty, s"$what left a CacheManager entry")
      assert(sc.getPersistentRDDs.isEmpty,
        s"$what left persistent RDDs ${sc.getPersistentRDDs.keys.mkString(", ")}")
    }
    // suites share the session: start from an empty cache and no persisted RDD
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val failRoot = Files.createTempDirectory("crawl_hygiene_fail").toString
    val e = intercept[IllegalStateException] {
      Frontier.crawl(spark, failRoot, toDf(seed), rounds = 2, budgetPerHost = 2,
        discover = _ => throw new IllegalStateException("discover failed"))
    }
    assert(e.getMessage == "discover failed")
    assertClean("a crawl whose discover threw")

    // round 0, then round 1 with every action's plan recorded
    val root = Files.createTempDirectory("crawl_hygiene").toString
    Frontier.crawl(spark, root, toDf(seed), rounds = 1, budgetPerHost = 2, discover = disc)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.optimizedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      Frontier.crawl(spark, root, toDf(seed), rounds = 2, budgetPerHost = 2, discover = disc)
      // the listener is called asynchronously, in order: wait for a marker
      spark.range(1).toDF("crawl_hygiene_marker").collect()
      def marked = plans.asScala.exists(_.output.exists(_.name == "crawl_hygiene_marker"))
      val deadline = System.nanoTime() + 30000000000L
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marked, "the listener never saw the marker action")
    } finally spark.listenerManager.unregister(listener)
    assertClean("a completed crawl")
    def readsSeen(p: LogicalPlan) = p.exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.getName == "seen")
        case _ => false
      }
      case _ => false
    }
    // the seen filter is a join with one side that reads the seen table
    val seenJoins = plans.asScala.toSeq.filter(_.exists {
      case j: Join => readsSeen(j.left) || readsSeen(j.right)
      case _ => false
    })
    assert(seenJoins.length == 1,
      s"${seenJoins.length} actions join the seen table in one round:\n" +
        seenJoins.mkString("\n"))

  }

  test("robots path derivation handles scheme and port shapes") {
    import spark.implicits._
    val urls = Seq(
      "https://h.example/p/1",
      "http://h.example/p/1",
      "https://h.example:8443/p/1?q=2",
      "http://h.example:80/",
      "https://h.example").toDF("url")
    val got = urls.select(Frontier.urlPath(col("url")).as("p"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("/p/1", "/p/1", "/p/1?q=2", "/", ""))
  }

  test("robots gate + token-bucket ready times match oracle") {
    import spark.implicits._
    // disallow on host-0 (https), host-1 (http) and host-2 (https + :8443) —
    // the path must be derived correctly for every scheme/port shape;
    // host-0 carries TWO disallow rules, host-1 an Allow override whose
    // longer match re-admits /p/1* URLs (Google longest-match precedence)
    val robotsMap = Map(
      "host-0.example" -> OracleCrawler.Robots(Seq("/p/1", "/p/3"), 1),
      "host-1.example" -> OracleCrawler.Robots(Seq("/p/"), 2, allowPrefixes = Seq("/p/1")),
      "host-2.example:8443" -> OracleCrawler.Robots(Seq("/p/1"), 3),
      "host-3.example" -> OracleCrawler.Robots(Nil, 1))
    val robotsDf = robotsMap.toSeq.map { case (h, r) =>
      (h, if (r.disallowPrefixes.isEmpty) null else r.disallowPrefixes,
        if (r.allowPrefixes.isEmpty) null else r.allowPrefixes, r.crawlDelayS)
    }.toDF("host", "disallow_prefixes", "allow_prefixes", "crawl_delay_s")

    // an empty seen set, then a non-empty one with a (ignored) seenBloom
    for ((pre, seenBloom) <- Seq((Nil, None), (preSeen, Some(preSeenBloom)))) {
      val seen0 = scala.collection.mutable.Set[String](pre: _*)
      val (oracleRes, _) = OracleCrawler.round(seed, seen0, budgetPerHost = 4, robotsMap)

      val (sched, newSeen, _) = Frontier.round(toDf(seed), pre.toDF("url"),
        budgetPerHost = 4, robots = Some(robotsDf), seenBloom = seenBloom)
      val rows = sched.orderBy(col("priority").desc, col("seq").asc, col("url").asc)
        .collect()
        .map(r => (r.getAs[String]("url"), r.getAs[Int]("slot"), r.getAs[Long]("ready_s")))
      val what = s"bloom=${seenBloom.isDefined}"
      assert(rows.map(_._1).toVector == oracleRes.scheduled.map(_.url), what)
      rows.foreach { case (url, slot, ready) =>
        assert(slot == oracleRes.slots(url), s"slot mismatch for $url ($what)")
        assert(ready == oracleRes.readyS(url), s"ready_s mismatch for $url ($what)")
      }
      // disallowed urls are in seen even though never scheduled
      val sparkSeen = newSeen.collect().map(_.getString(0))
      assert(sparkSeen.toSet == seen0.toSet, what)
      assert(sparkSeen.length == sparkSeen.distinct.length, s"duplicate seen urls ($what)")
    }
  }

  test("robots cache with a missing or mistyped column fails before any job runs") {
    import spark.implicits._
    val frontier = toDf(seed)
    val seen = preSeen.toDF("url")
    val noAllow = Seq(("host-0.example", Seq("/p/1"), 1))
      .toDF("host", "disallow_prefixes", "crawl_delay_s")
    val legacy = Seq(("host-0.example", "/p/1", 1))
      .toDF("host", "disallow_prefix", "crawl_delay_s")
    val mistyped = Seq(("host-0.example", "/p/1", Seq("/p/1/a"), 1))
      .toDF("host", "disallow_prefixes", "allow_prefixes", "crawl_delay_s")
    for ((robots, column) <- Seq(noAllow -> "allow_prefixes",
        legacy -> "disallow_prefixes", mistyped -> "disallow_prefixes")) {
      val group = s"robots-check-${java.util.UUID.randomUUID}"
      spark.sparkContext.setJobGroup(group, "robots schema check")
      val e = try intercept[IllegalArgumentException] {
        Frontier.round(frontier, seen, budgetPerHost = 4, robots = Some(robots))
      } finally spark.sparkContext.clearJobGroup()
      assert(e.getMessage.contains(s"`$column`"), e.getMessage)
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
        s"a job ran before the robots check failed on `$column`")
    }
  }

  test("manifest carries metrics + per-partition lineage") {
    val root = Files.createTempDirectory("crawl_manifest").toString
    val m = Frontier.crawl(spark, root, toDf(seed), rounds = 1, budgetPerHost = 2).head
    val manifest = Files.readString(
      java.nio.file.Paths.get(s"${Frontier.snapshotDir(root, 0)}/manifest.json"))
    assert(manifest.contains("\"round\":0"))
    assert(manifest.contains("\"scheduled\":"))
    assert(manifest.contains(s"\"candidates\":${m("candidates")}"))
    assert(manifest.contains("\"lineage\":["))
    // no discovery: the next frontier is exactly the deferred candidates
    assert(m("candidates") == m("scheduled") + m("frontier_next"), m)
  }

  test("url canonicalization rules") {
    val base = "https://ex.com/dir/page.html"
    assert(UrlCanon.canonicalize("HTTPS://EX.com:443/a/../b#f", null) == "https://ex.com/b")
    assert(UrlCanon.canonicalize("child", base) == "https://ex.com/dir/child")
    assert(UrlCanon.canonicalize("/rooted?q=1", base) == "https://ex.com/rooted?q=1")
    assert(UrlCanon.canonicalize("http://ex.com:8080/x", null) == "http://ex.com:8080/x")
    assert(UrlCanon.canonicalize("http://ex.com", null) == "http://ex.com/")
    assert(UrlCanon.canonicalize("mailto:a@b", base) == null)
    assert(UrlCanon.canonicalize("javascript:void(0)", base) == null)
    assert(UrlCanon.canonicalize("#anchor", base) == null)
    assert(UrlCanon.canonicalize("//cdn.ex.com/lib.js", base) == "https://cdn.ex.com/lib.js")
    assert(UrlCanon.host("https://a.B.com/x") == "a.b.com")
  }

  test("url canonicalization reuses the parsed base without changing any result") {
    val bases = Seq("https://ex.com/dir/page.html", "http://other.org:8080/a/b/",
      "https://ex.com/dir/page.html", "not a uri{}", null, "", "https://third.net")
    val links = Seq("child", "../up?q=1", "/rooted#f", "./x/../y", "HTTPS://EX.com:443/z",
      "//cdn.ex.com/lib.js", "mailto:a@b", "")
    // a fresh thread starts with an empty cache: its one call per pair is
    // the uncached path
    def uncached(link: String, base: String): String = {
      var out: String = null
      val t = new Thread(() => out = UrlCanon.canonicalize(link, base))
      t.start(); t.join()
      out
    }
    val pairs = for (l <- links; b <- bases) yield (l, b) // bases alternate per link
    val expected = pairs.map { case (l, b) => uncached(l, b) }
    assert(pairs.map { case (l, b) => UrlCanon.canonicalize(l, b) } == expected)
    assert(pairs.reverse.map { case (l, b) => UrlCanon.canonicalize(l, b) } == expected.reverse)
    assert(UrlCanon.canonicalize("child", "https://ex.com/dir/page.html") ==
      "https://ex.com/dir/child")
    assert(UrlCanon.canonicalize("child", "http://other.org:8080/a/b/") ==
      "http://other.org:8080/a/b/child")
    assert(UrlCanon.canonicalize("child", "not a uri{}") == null) // invalid base: still null
    assert(UrlCanon.canonicalize("child", null) == null)
    assert(UrlCanon.canonicalize("child", "https://ex.com/dir/page.html") ==
      "https://ex.com/dir/child") // after the invalid base, the cache holds no stale URI
  }
}
