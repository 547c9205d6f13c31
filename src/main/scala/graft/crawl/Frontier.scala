package graft.crawl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * The distributed crawl frontier (BASELINE.json north_rule): URL-seen dedup,
 * per-host politeness gate, priority scheduling — Spark built-ins
 * (groupBy/window/hash join), shuffles and skew handled explicitly. This
 * layer is NEW construction (the reference is a single-doc
 * library, SURVEY.md §2.9); semantics are fixed by [[OracleCrawler]], the
 * single-threaded reference-faithful model both engines must match.
 *
 * Round semantics (deterministic):
 *  1. candidate dedup: group by url, keep (max priority, min seq)
 *  2. URL-seen: drop urls already in the seen set (exact, on url: a hash
 *     join that streams the seen history past the round's candidates)
 *  3. politeness: at most `budgetPerHost` urls per host per round, picked by
 *     (priority DESC, seq ASC, url ASC)
 *  4. scheduled set ordered globally by (priority DESC, seq ASC, url ASC),
 *     fetch slot assigned per host in that order
 *  5. seen' = seen ∪ scheduled; deferred (over-budget) urls stay for the
 *     next round
 *
 * Scale design (10^10-URL frontier, SURVEY.md §7.2.8):
 *  - one url exchange per input: the frontier is hash-partitioned by url
 *    once, and both the dedup aggregate and the seen filter run on that
 *    partitioning; the seen side is shuffled once by url, no broadcast of
 *    big sides. That seen shuffle moves the whole history once a round
 *    ([[crawl]] runs the one seen filter into its `candidates` table)
 *    until the seen table is stored bucketed by url (then the seen join
 *    needs no exchange at all — PlanSpec's bucketed test)
 *  - the seen filter is a hash join that streams the seen history: its
 *    hash table holds one partition of the round's deduped candidates,
 *    so per-round memory follows the round, not the history, and no side
 *    is sorted by url
 *  - politeness is the skew point (a hot host = one window partition), so
 *    top-B per host runs TWO-PHASE: local top-B per (host, salt-of-url,
 *    16 buckets) then global top-B per host — the per-host partition the
 *    final window sees is ≤ 16·B rows no matter how hot the host
 *  - no bloom prefilter: a filter probed on the candidate side never
 *    prunes the seen side (every seen url is in it), so it saved no
 *    shuffle and cost a second frontier scan and a second exchange of the
 *    maybe-seen slice
 *  - AQE handles residual skew/coalescing (enabled in session conf)
 */
object Frontier {

  val SALT_BUCKETS = 16

  /** Candidate dedup (step 1). Input: url, host, priority, seq.
    * Repartitions the frontier by url, then groups on `(url, host)` — host
    * is a pure function of the url, so the groups are identical to
    * url-alone, but keeping host OUT of the aggregate list matters
    * physically: a `max(host)` STRING aggregation buffer forces
    * SortAggregate (a per-partition sort of the whole frontier); with only
    * fixed-width buffers (max int, min long) the dedup runs as
    * HashAggregate.
    *
    * The url exchange sits BELOW the aggregate: url partitioning satisfies
    * the aggregate's `(url, host)` clustering, and the output stays
    * hash-partitioned by url, so [[filterUnseen]]'s hash join reuses it and
    * shuffles only the seen side. This regains the exchange reuse that the
    * `(url, host)`-partitioned HashAggregate gave up (r4 ADVICE: there the
    * anti-join re-shuffled the deduped candidates by url). The price is the
    * map-side partial combine before the shuffle, which is gone; on
    * perfbench's `crawl_round` input it only cut the shuffled rows from
    * 150 000 to 141 616.
    *
    * INVARIANT the grouping relies on: `host` must be byte-identical for
    * every occurrence of a url. Both producers guarantee it by
    * construction — [[UrlCanon]] derives host from the canonical url in one
    * place, and the synthetic frontiers build host from the same key as the
    * url — and CrawlSpec's dedup oracle equality would fail on any url
    * splitting across two host spellings. */
  def dedupCandidates(frontier: DataFrame): DataFrame =
    frontier.repartition(col("url")).groupBy("url", "host")
      .agg(max("priority").as("priority"), min("seq").as("seq"))

  /** URL-seen filter (step 2), exact: the candidates whose url is not in
    * `seen`, with exactly the candidates' columns, in order. Same rows as a
    * `left_anti` join on url: a null candidate url is kept, a null seen url
    * matches nothing, and duplicate seen urls drop a candidate once.
    *
    * Planned as `seen RIGHT OUTER JOIN candidates`, a shuffled hash join
    * that builds on the candidates and streams the seen history past them,
    * keeping the rows with no seen match: `===` never matches a null, so
    * only an unmatched candidate has a null seen url. The hash table holds
    * one shuffle partition of the deduped frontier, never the seen history,
    * and neither side is sorted by url (a sort-merge anti-join sorts both
    * every round). The candidates' url is renamed after their exchange: the
    * rename keeps [[dedupCandidates]]' url partitioning, so only the seen
    * side shuffles, keyed by and carrying `url` alone. */
  def filterUnseen(candidates: DataFrame, seen: DataFrame): DataFrame = {
    val cols = candidates.columns.toIndexedSeq
    def renamed(from: String, to: String) =
      cols.map(c => if (c == "url") col(from).as(to) else col(c))
    seen.select("url")
      .join(candidates.select(renamed("url", CandidateUrl): _*).hint("shuffle_hash"),
        col("url") === col(CandidateUrl), "right_outer")
      .filter(col("url").isNull)
      .select(renamed(CandidateUrl, "url"): _*)
  }

  /** The candidates' url inside [[filterUnseen]]'s join. */
  private val CandidateUrl = "__cand_url"

  def bloomExpectedItems(bloomBits: Long): Long = math.max(1000000L, bloomBits / 16)

  /** Same rows as [[filterUnseen]], which it runs; `bloom` is not read.
    * Kept only because the benchmark under `perfbench/` compiles against
    * it; it goes at the next change to the benchmark, with [[round]]'s
    * `seenBloom`. */
  @deprecated("use filterUnseen; the bloom is not read", "0.1.0")
  def filterUnseenCached(candidates: DataFrame, seen: DataFrame,
      bloom: BloomFilter): DataFrame =
    filterUnseen(candidates, seen)

  /** A [[BloomFilter]] over `xxhash64(url)` longs. The crawl round reads no
    * bloom; the benchmark builds this one to measure the filter's maybe-seen
    * slice and false-positive rate (through `bloom_probe_bc`). */
  def urlBloom(urls: DataFrame, expectedItems: Long, bloomBits: Long): BloomFilter =
    urls.select(xxhash64(col("url")).as("h")).stat.bloomFilter("h", expectedItems, bloomBits)

  /**
   * Politeness + priority scheduling (steps 3-4). Returns the scheduled set
   * with per-host `slot` (0-based fetch slot inside the round's host queue).
   * Two-phase top-B per host for hot-host skew.
   */
  def schedule(unseen: DataFrame, budgetPerHost: Int): DataFrame = {
    val order = Seq(col("priority").desc, col("seq").asc, col("url").asc)
    // phase 1: local top-B inside (host, salt) — caps hot-host partitions
    val salted = unseen.withColumn("salt", pmod(xxhash64(col("url")), lit(SALT_BUCKETS)))
    val w1 = Window.partitionBy("host", "salt").orderBy(order: _*)
    val local = salted
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= budgetPerHost)
      .drop("r1", "salt")
    // phase 2: exact top-B per host over ≤ 16·B rows per host
    val w2 = Window.partitionBy("host").orderBy(order: _*)
    local
      .withColumn("slot", row_number().over(w2) - 1)
      .filter(col("slot") < budgetPerHost)
  }

  /** Deferred = deduped unseen candidates beyond the host budget. */
  def deferred(unseen: DataFrame, scheduled: DataFrame): DataFrame =
    unseen.join(scheduled.select("url"), Seq("url"), "left_anti")

  /** The robots cache schema [[round]] reads (through [[applyRobots]] and
    * [[withReadyTime]]), one row per host: column → accepted
    * `simpleString` types. */
  private val RobotsColumns: Seq[(String, Set[String])] = Seq(
    "host" -> Set("string"),
    "disallow_prefixes" -> Set("array<string>"),
    "allow_prefixes" -> Set("array<string>"),
    "crawl_delay_s" -> Set("tinyint", "smallint", "int", "bigint"))

  /** Fails with an `IllegalArgumentException` naming the first missing or
    * mistyped robots column — at plan construction, before any job runs. */
  private def checkRobots(robots: DataFrame): Unit = {
    val types = robots.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    RobotsColumns.foreach { case (name, want) =>
      val got = types.get(name)
      require(got.exists(want), s"robots column `$name` must be " +
        s"${want.mkString(" or ")}, got ${got.getOrElse("no such column")}")
    }
  }

  /** The BOOLEAN column [[applyRobots]] adds: false iff robots.txt
    * disallows the url. */
  val RobotsAllowed = "robots_allowed"

  /**
   * robots.txt gate with Allow-rule precedence: the cache table carries one
   * row per host with `disallow_prefixes ARRAY<STRING>` and `allow_prefixes
   * ARRAY<STRING>` — a real robots.txt has many rules of both kinds. A URL
   * is disallowed iff some disallow prefix matches its path AND no matching
   * allow prefix is at least as long (longest-match wins, Allow wins ties —
   * the Google robots.txt rule). Null/empty = allow all. Returns
   * `candidates` plus a non-null BOOLEAN [[RobotsAllowed]] column, so a
   * caller splits the candidates on one evaluation of the rules. Broadcast —
   * the robots cache is host-cardinality, tiny next to the frontier.
   */
  def applyRobots(candidates: DataFrame, robots: DataFrame): DataFrame = {
    // longest matching prefix per rule list (null when nothing matches —
    // array_max over an empty/null filter result is null in Spark & DuckDB)
    def longest(ps: org.apache.spark.sql.Column) =
      array_max(transform(filter(ps, p => col("__path").startsWith(p)), p => length(p)))
    candidates
      .join(broadcast(robots.select("host", "disallow_prefixes", "allow_prefixes")),
        Seq("host"), "left")
      .withColumn("__path", urlPath(col("url")))
      .withColumn("__dis", longest(col("disallow_prefixes")))
      .withColumn("__alw", longest(col("allow_prefixes")))
      .select(candidates.columns.toIndexedSeq.map(col) :+
        (col("__dis").isNull || (col("__alw").isNotNull && col("__alw") >= col("__dis")))
          .as(RobotsAllowed): _*)
  }

  /** Path(+query) part of a URL: strip `scheme://authority`. Handles http vs
    * https and `:port` authorities (the canonicalizer keeps non-default
    * ports), unlike a fixed-prefix substring. */
  def urlPath(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(url, lit("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"), lit(""))

  /**
   * Token-bucket fetch scheduling: per-host slot × crawl_delay_s gives each
   * URL its earliest fetch offset (seconds from round start). Hosts without
   * a robots row get `defaultDelay`.
   */
  def withReadyTime(scheduled: DataFrame, robots: DataFrame,
      defaultDelay: Int = 1): DataFrame =
    scheduled
      .join(broadcast(robots.select("host", "crawl_delay_s")), Seq("host"), "left")
      .withColumn("ready_s",
        (col("slot") * coalesce(col("crawl_delay_s"), lit(defaultDelay))).cast("long"))
      .drop("crawl_delay_s")

  /** One full crawl round. Returns (scheduled, newSeen, deferredFrontier).
    * With a robots cache table, disallowed urls are dropped (and still
    * marked seen so they never re-enter) and scheduled urls get a
    * token-bucket `ready_s` offset; a robots table without the
    * [[RobotsColumns]] schema fails here, before any job runs.
    * `seenBloom` is ignored (the URL-seen step is always [[filterUnseen]]);
    * it stays only because the benchmark under `perfbench/` passes it. */
  def round(frontier: DataFrame, seen: DataFrame, budgetPerHost: Int,
      robots: Option[DataFrame] = None, seenBloom: Option[BloomFilter] = None)
      : (DataFrame, DataFrame, DataFrame) =
    policy(frontier, seen, budgetPerHost, robots, (_, df) => df)

  /** The round policy, for [[round]] and [[crawl]]: seen' = seen ∪
    * scheduled ∪ robots-disallowed, deferred = unseen − scheduled. Later
    * steps read `store(name, df)` in place of `df`: identity in [[round]]
    * (lazy frames), write-then-read in [[crawl]]. */
  private def policy(frontier: DataFrame, seen: DataFrame, budgetPerHost: Int,
      robots: Option[DataFrame], store: (String, DataFrame) => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    robots.foreach(checkRobots)
    val unseenAll = filterUnseen(dedupCandidates(frontier), seen)
    // one robots verdict per url, split both ways: allowed urls go on to
    // scheduling, disallowed ones straight into seen'
    val candidates = store("candidates", robots.fold(unseenAll)(applyRobots(unseenAll, _)))
    val unseen = robots.fold(candidates)(_ =>
      candidates.filter(col(RobotsAllowed)).drop(RobotsAllowed))
    val sched0 = schedule(unseen, budgetPerHost)
    val sched = store("scheduled", robots.fold(sched0)(withReadyTime(sched0, _)))
    // disallowed urls also become seen (never revisited), deferred ones do
    // NOT. No distinct (r6): seen, sched and disallowed are each url-distinct
    // and mutually DISJOINT (sched and disallowed split the candidates, which
    // are anti-joined against seen), so the union is already a set; a
    // .distinct() would re-shuffle the ENTIRE seen table every round.
    val seenPlusSched = seen.select("url").unionByName(sched.select("url"))
    val newSeen = robots.fold(seenPlusSched)(_ => seenPlusSched.unionByName(
      candidates.filter(!col(RobotsAllowed)).select("url")))
    (sched, newSeen, deferred(unseen, sched))
  }

  // --- snapshot checkpointing (Iceberg-shaped stand-in; no Iceberg jars in
  // the image, SURVEY.md §7.0: atomic snapshot dirs + manifest JSON,
  // LATEST written last = commit point) -------------------------------------

  def snapshotDir(root: String, roundNo: Int): String =
    f"$root/snapshots/round=$roundNo%05d"

  /** Writes a round's manifest, then `LATEST`, the commit point: it names
    * the newest complete snapshot. */
  private def commit(root: String, roundNo: Int, manifest: String): Unit = {
    val dir = snapshotDir(root, roundNo)
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(s"$dir/manifest.json.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, Paths.get(s"$dir/manifest.json"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val latestTmp = Paths.get(s"$root/LATEST.tmp")
    Files.createDirectories(Paths.get(root))
    Files.writeString(latestTmp, roundNo.toString)
    Files.move(latestTmp, Paths.get(s"$root/LATEST"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def latestSnapshot(root: String): Option[Int] = {
    val p = Paths.get(s"$root/LATEST")
    if (Files.exists(p)) Some(Files.readString(p).trim.toInt) else None
  }

  def readSnapshot(spark: SparkSession, root: String, roundNo: Int)
      : (DataFrame, DataFrame) = {
    val dir = snapshotDir(root, roundNo)
    (spark.read.parquet(s"$dir/seen"), spark.read.parquet(s"$dir/frontier"))
  }

  /**
   * Multi-round crawl loop with checkpoint/resume. `discover` maps a
   * scheduled batch to newly discovered frontier rows (url, host, priority,
   * seq) — in production this is fetch + parse + link extraction; tests and
   * benches pass a deterministic expansion. Resumes from the latest complete
   * snapshot under `root` if present; a `bloom.bin` left in an older
   * snapshot is not read.
   *
   * The snapshot is the only materialization (nothing is cached). A round
   * writes and reads back `candidates` (its one seen filter),
   * `scheduled`, `frontier` (deferred ∪ discovered: an anti-join of two
   * round-sized tables) and `seen`, then the manifest and `LATEST`. The
   * manifest counts read the stored tables; `wall_ms` is the whole round.
   */
  def crawl(spark: SparkSession, root: String, seed: DataFrame, rounds: Int,
      budgetPerHost: Int,
      discover: DataFrame => Option[DataFrame] = _ => None): Seq[Map[String, Long]] = {
    import spark.implicits._
    val start = latestSnapshot(root)
    var (seen, frontier) = start match {
      case Some(r) => readSnapshot(spark, root, r)
      case None => (Seq.empty[String].toDF("url"), seed)
    }
    val metricsOut = scala.collection.mutable.ListBuffer[Map[String, Long]]()
    var r = start.map(_ + 1).getOrElse(0)
    // emptiness from the frontier_next count — no extra isEmpty job per
    // round (only the very first iteration checks the seed directly)
    var frontierCount = -1L
    while (r < rounds &&
        (if (frontierCount >= 0) frontierCount > 0 else !frontier.isEmpty)) {
      val tRound = System.nanoTime()
      val dir = snapshotDir(root, r)
      def store(name: String, df: DataFrame): DataFrame = {
        df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
        spark.read.parquet(s"$dir/$name")
      }
      val (sched, newSeen, defer) = policy(frontier, seen, budgetPerHost, None, store)
      frontier = store("frontier", discover(sched).fold(defer)(defer.unionByName(_)))
      seen = store("seen", newSeen)
      // rows per partition of the stored scheduled set
      val lineage = sched.withColumn("pid", spark_partition_id())
        .groupBy("pid").count().collect()
        .map(row => s"""{"partition":${row.getInt(0)},"rows":${row.getLong(1)}}""")
        .mkString("[", ",", "]")
      val metrics = Map(
        "candidates" -> spark.read.parquet(s"$dir/candidates").count(),
        "scheduled" -> sched.count(),
        "seen_total" -> seen.count(),
        "frontier_next" -> frontier.count(),
        "wall_ms" -> (System.nanoTime() - tRound) / 1000000L)
      val m = metrics.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      commit(root, r, s"""{"round":$r,$m,"lineage":$lineage}""")
      metricsOut += (metrics + ("round" -> r.toLong))
      frontierCount = metrics("frontier_next")
      r += 1
    }
    metricsOut.toList
  }
}
