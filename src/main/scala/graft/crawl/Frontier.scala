package graft.crawl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * The distributed crawl frontier (BASELINE.json north_rule): URL-seen dedup,
 * per-host politeness gate, priority scheduling — Spark built-ins
 * (groupBy/window/anti-join) plus one broadcast bloom probe, shuffles and
 * skew handled explicitly. This layer is NEW construction (the reference is a single-doc
 * library, SURVEY.md §2.9); semantics are fixed by [[OracleCrawler]], the
 * single-threaded reference-faithful model both engines must match.
 *
 * Round semantics (deterministic):
 *  1. candidate dedup: group by url, keep (max priority, min seq)
 *  2. URL-seen: drop urls already in the seen set
 *     (bloom prefilter at scale → exact anti-join on the maybe-seen slice)
 *  3. politeness: at most `budgetPerHost` urls per host per round, picked by
 *     (priority DESC, seq ASC, url ASC)
 *  4. scheduled set ordered globally by (priority DESC, seq ASC, url ASC),
 *     fetch slot assigned per host in that order
 *  5. seen' = seen ∪ scheduled; deferred (over-budget) urls stay for the
 *     next round
 *
 * Scale design (10^10-URL frontier, SURVEY.md §7.2.8):
 *  - the frontier/seen tables are hash-partitioned by url — dedup and the
 *    seen anti-join co-partition on the join key, one shuffle each, no
 *    broadcast of big sides
 *  - politeness is the skew point (a hot host = one window partition), so
 *    top-B per host runs TWO-PHASE: local top-B per (host, salt-of-url,
 *    16 buckets) then global top-B per host — the per-host partition the
 *    final window sees is ≤ 16·B rows no matter how hot the host
 *  - the bloom prefilter (a driver-cached filter over `xxhash64(url)`,
 *    grown incrementally by [[crawl]] and probed as a broadcast by
 *    [[filterUnseenCached]]) keeps the per-round anti-join input to the
 *    small maybe-seen slice instead of shuffling the whole 10^10-row seen
 *    table
 *  - AQE handles residual skew/coalescing (enabled in session conf)
 */
object Frontier {

  val SALT_BUCKETS = 16

  /** Candidate dedup (step 1). Input: url, host, priority, seq.
    * Groups on `(url, host)` — host is a pure function of the url, so the
    * groups are identical to url-alone, but keeping host OUT of the
    * aggregate list matters physically: a `max(host)` STRING aggregation
    * buffer forces SortAggregate (a per-partition sort of the whole
    * frontier); with only fixed-width buffers (max int, min long) the
    * dedup runs as HashAggregate with map-side partial combine.
    *
    * Trade-off, measured (r4 ADVICE): the output is HashPartitioned on
    * (url, host), so the url-only seen anti-join downstream re-shuffles
    * where the old url-grouped SortAggregate's exchange was reused. The A/B
    * round-wall probe (BASELINE.md r5) puts the (url,host) HashAggregate at
    * parity-or-better vs url-only overall — the SortAggregate it removed
    * cost more than the lost reuse — so the HashAggregate shape stays.
    *
    * INVARIANT the grouping relies on: `host` must be byte-identical for
    * every occurrence of a url. Both producers guarantee it by
    * construction — [[UrlCanon]] derives host from the canonical url in one
    * place, and the synthetic frontiers build host from the same key as the
    * url — and CrawlSpec's dedup oracle equality would fail on any url
    * splitting across two host spellings. */
  def dedupCandidates(frontier: DataFrame): DataFrame =
    frontier.groupBy("url", "host")
      .agg(max("priority").as("priority"), min("seq").as("seq"))

  /** URL-seen filter (step 2), exact: anti-join on `url` against `seen`.
    * The bloom-prefiltered form of the same decision is
    * [[filterUnseenCached]]; [[round]] picks it when it is handed a filter. */
  def filterUnseen(candidates: DataFrame, seen: DataFrame): DataFrame =
    candidates.join(seen.select("url"), Seq("url"), "left_anti")

  def bloomExpectedItems(bloomBits: Long): Long = math.max(1000000L, bloomBits / 16)

  /**
   * URL-seen filter with a CACHED driver-side bloom filter (multi-round crawl
   * path): the filter is built incrementally — each round merges a small
   * filter over just that round's newly-seen urls — so per-round cost stays
   * flat as the seen table grows (a filter rebuilt over the full seen set
   * would re-scan 10^10 rows every round). Definite negatives skip the
   * join; only the maybe-seen slice is anti-joined exactly, so false
   * positives are resolved and the rows equal [[filterUnseen]]'s.
   *
   * The probe is a native codegen expression over `xxhash64(url)` LONGS
   * (the key space [[urlBloom]] builds — VERDICT r3 ask #4 kept the hottest
   * filter out of a per-row Scala UDF), with the filter riding as a
   * BROADCAST, not a plan Literal ([[BloomMightContainBc]]): the r4 Literal
   * shape serialized the 2 MiB sketch into every stage's task binary every
   * round and DOUBLED the steady-state crawl-round wall (~6 s → ~12.4 s on
   * the A/B probe, BASELINE.md r5); at 10^10-URL scale the filter is GBs
   * and only broadcast transport survives at all.
   */
  def filterUnseenCached(candidates: DataFrame, seen: DataFrame,
      bloom: BloomFilter): DataFrame = {
    val spark = candidates.sparkSession
    graft.spark.GraftFunctions.register(spark)
    val slot = s"url-seen-${spark.sparkContext.applicationId}"
    val withFlag = candidates.withColumn("maybe_seen",
      graft.spark.GraftFunctions.bloom_probe_bc(spark, slot, bloom,
        xxhash64(col("url"))))
    val definiteNew = withFlag.filter(!col("maybe_seen")).drop("maybe_seen")
    val maybeSeen = withFlag.filter(col("maybe_seen")).drop("maybe_seen")
      .join(seen.select("url"), Seq("url"), "left_anti")
    definiteNew.unionByName(maybeSeen)
  }

  /** Build a [[BloomFilter]] over `xxhash64(url)` longs — the key space
    * [[filterUnseenCached]]'s native probe expects. */
  def urlBloom(urls: DataFrame, expectedItems: Long, bloomBits: Long): BloomFilter =
    urls.select(xxhash64(col("url")).as("h")).stat.bloomFilter("h", expectedItems, bloomBits)

  /** bloom.bin header: magic + key-space version. A filter persisted by a
    * build with a DIFFERENT key space (pre-r4 snapshots were keyed on raw
    * url strings) probed via `xxhash64(url)` returns noise — and a bloom
    * FALSE NEGATIVE skips the exact anti-join entirely, silently
    * rescheduling already-seen URLs (r4 ADVICE). The tag turns that silent
    * divergence into a rebuild: on mismatch (or a legacy headerless file)
    * the sidecar is discarded and the filter is rebuilt from the seen table
    * via [[urlBloom]] — the existing resume fallback. */
  private val BloomHeader: Array[Byte] =
    "GRAFT-BLOOM keyspace=xxhash64(url) v1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** [[BloomHeader]]-prefixed serialization (what snapshots store). */
  def taggedBloomBytes(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(BloomHeader)
    b.writeTo(bos)
    bos.toByteArray
  }

  /** Read a snapshot bloom sidecar; None unless the key-space tag matches. */
  def readTaggedBloom(p: java.nio.file.Path): Option[BloomFilter] = {
    val in = Files.newInputStream(p)
    try {
      val hdr = in.readNBytes(BloomHeader.length)
      if (java.util.Arrays.equals(hdr, BloomHeader)) Some(BloomFilter.readFrom(in))
      else None
    } catch { case _: java.io.IOException => None } finally in.close()
  }

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
    * [[RobotsColumns]] schema fails here, before any job runs. */
  def round(frontier: DataFrame, seen: DataFrame, budgetPerHost: Int,
      robots: Option[DataFrame] = None, seenBloom: Option[BloomFilter] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    robots.foreach(checkRobots)
    val candidates = dedupCandidates(frontier)
    val unseenAll = seenBloom match {
      case Some(b) => filterUnseenCached(candidates, seen, b)
      case None => filterUnseen(candidates, seen)
    }
    // one robots verdict per url, split both ways: allowed urls go on to
    // scheduling, disallowed ones straight into seen'
    val gated = robots.map(applyRobots(unseenAll, _))
    val unseen = gated.fold(unseenAll)(_.filter(col(RobotsAllowed)).drop(RobotsAllowed))
    val sched0 = schedule(unseen, budgetPerHost)
    val sched = robots.fold(sched0)(withReadyTime(sched0, _))
    // seen' = seen ∪ scheduled; robots-disallowed urls also become seen
    // (never revisited, like real crawlers) — deferred urls do NOT.
    // No distinct (r6): the three inputs are each url-distinct and mutually
    // DISJOINT — sched ⊆ unseen (anti-joined against seen, internally
    // deduped), disallowed = the other side of the robots split of
    // unseenAll (url-distinct, also anti-joined against seen), so the union
    // is already a set. The old .distinct() re-shuffled the ENTIRE seen
    // table every round — per-round cost ∝ seen size instead of round size,
    // exactly the scale class the incremental bloom exists to avoid (at
    // 10^10 seen urls one round would shuffle the whole table to dedup rows
    // that cannot collide).
    val seenPlusSched = seen.select("url").unionByName(sched.select("url"))
    val newSeen = gated.fold(seenPlusSched)(g =>
      seenPlusSched.unionByName(g.filter(!col(RobotsAllowed)).select("url")))
    val defer = deferred(unseen, sched)
    (sched, newSeen, defer)
  }

  // --- snapshot checkpointing (Iceberg-shaped stand-in; no Iceberg jars in
  // the image, SURVEY.md §7.0: atomic snapshot dirs + manifest JSON,
  // LATEST written last = commit point) -------------------------------------

  def snapshotDir(root: String, roundNo: Int): String =
    f"$root/snapshots/round=$roundNo%05d"

  def writeSnapshot(spark: SparkSession, root: String, roundNo: Int,
      scheduled: DataFrame, seen: DataFrame, frontier: DataFrame,
      metrics: Map[String, Long], bloomBytes: Option[Array[Byte]] = None): Unit = {
    val dir = snapshotDir(root, roundNo)
    scheduled.write.mode(SaveMode.Overwrite).parquet(s"$dir/scheduled")
    seen.write.mode(SaveMode.Overwrite).parquet(s"$dir/seen")
    frontier.write.mode(SaveMode.Overwrite).parquet(s"$dir/frontier")
    bloomBytes.foreach { bytes =>
      Files.createDirectories(Paths.get(dir))
      val tmp = Paths.get(s"$dir/bloom.bin.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, Paths.get(s"$dir/bloom.bin"), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    // per-partition lineage: rows per output partition of the scheduled set
    val lineage = scheduled.withColumn("pid", spark_partition_id())
      .groupBy("pid").count().collect()
      .map(r => s"""{"partition":${r.getInt(0)},"rows":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    val m = metrics.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val manifest = s"""{"round":$roundNo,$m,"lineage":$lineage}"""
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(s"$dir/manifest.json.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, Paths.get(s"$dir/manifest.json"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // commit point: LATEST names the newest complete snapshot
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
   * snapshot under `root` if present.
   */
  def crawl(spark: SparkSession, root: String, seed: DataFrame, rounds: Int,
      budgetPerHost: Int, bloomBits: Long = 0L,
      discover: DataFrame => Option[DataFrame] = _ => None): Seq[Map[String, Long]] = {
    import spark.implicits._
    val start = latestSnapshot(root)
    var (seen, frontier) = start match {
      case Some(r) => readSnapshot(spark, root, r)
      case None => (Seq.empty[String].toDF("url"), seed)
    }
    // cached URL-seen bloom: loaded from the snapshot on resume, else built
    // once (from the resumed seen table, or empty on a fresh crawl), then
    // grown INCREMENTALLY — per-round bloom cost ∝ round size, not seen size
    val estItems = bloomExpectedItems(bloomBits)
    var bloom: Option[BloomFilter] =
      if (bloomBits <= 0) None
      else start.flatMap { r =>
        // key-space-tagged sidecar: mismatch/legacy → None → rebuild below
        val p = Paths.get(s"${snapshotDir(root, r)}/bloom.bin")
        if (Files.exists(p)) readTaggedBloom(p) else None
      }.orElse(Some(start match {
        case Some(_) => urlBloom(seen, estItems, bloomBits)
        case None => BloomFilter.create(estItems, bloomBits)
      }))
    def bloomBytes: Option[Array[Byte]] = bloom.map(taggedBloomBytes)
    val metricsOut = scala.collection.mutable.ListBuffer[Map[String, Long]]()
    var r = start.map(_ + 1).getOrElse(0)
    val endRound = rounds
    // emptiness from the metrics we compute anyway — no extra isEmpty job
    // per round (only the very first iteration checks the seed directly)
    var frontierCount = -1L
    while (r < endRound &&
        (if (frontierCount >= 0) frontierCount > 0 else !frontier.isEmpty)) {
      val tRound = System.nanoTime()
      val (sched, newSeen, defer) = round(frontier, seen, budgetPerHost,
        seenBloom = bloom)
      val schedCached = sched.cache()
      val nSched = schedCached.count()
      // merge only this round's additions into the cached filter (same
      // (n, m) parameters → same hash count → mergeable)
      bloom.foreach(_.mergeInPlace(urlBloom(schedCached, estItems, bloomBits)))
      val discovered = discover(schedCached)
      val nextFrontier = discovered match {
        case Some(d) => defer.unionByName(d)
        case None => defer
      }
      val newSeenCached = newSeen.cache()
      val nextFrontierCached = nextFrontier.cache()
      val metrics = Map(
        "scheduled" -> nSched,
        "seen_total" -> newSeenCached.count(),
        "frontier_next" -> nextFrontierCached.count(),
        // per-round wall (compute, not snapshot IO): the flat-cost evidence
        // for the incremental bloom — cost ∝ round size, not seen size
        "wall_ms" -> (System.nanoTime() - tRound) / 1000000L)
      writeSnapshot(spark, root, r, schedCached, newSeenCached, nextFrontierCached,
        metrics, bloomBytes)
      metricsOut += (metrics + ("round" -> r.toLong))
      frontierCount = metrics("frontier_next")
      // reload from the snapshot to truncate lineage (long-loop safety)
      seen = spark.read.parquet(s"${snapshotDir(root, r)}/seen")
      frontier = spark.read.parquet(s"${snapshotDir(root, r)}/frontier")
      schedCached.unpersist(); newSeenCached.unpersist(); nextFrontierCached.unpersist()
      r += 1
    }
    metricsOut.toList
  }
}
