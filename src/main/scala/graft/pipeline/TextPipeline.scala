package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Large-scale training-data pipeline operators over the `documents` table:
 * deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), text analysis
 * (language-ID, quality scoring, token counting, fingerprinting).
 *
 * Everything here is Spark SQL built-ins / higher-order functions (plus one
 * native expression, [[graft.spark.MinhashSig]], that computes exactly the
 * documented HOF signature in a single pass) — no UDFs — and every hash is
 * md5-derived or modular arithmetic (P = 1e9+7) so the DuckDB oracle can
 * reproduce results bit-for-bit (xxhash64 would be Spark-only). At 100 TB
 * these run as one narrow projection stage per doc + one shuffle per
 * groupBy/join, with LSH banding keeping the join fan-out bounded.
 */
object TextPipeline {

  val P = 1000000007L

  /** Deterministic per-band-key doc cap for the LSH band self-joins (VERDICT
    * r3 ask #6): a boilerplate-flooded corpus puts one band key on millions
    * of documents, making the candidate self-join quadratic in that key —
    * the same failure class as a degenerate ANN bucket. Sorted-slice (doc_id
    * ASC) keeps the cap deterministic and DuckDB-oracle-mirrored; the bench
    * reports `minhash_max_band` / `simhash_max_band` beside it so a binding
    * cap is visible, never silent. Members of one dup cluster share ALL
    * their bands, so the slice still pairs the cluster's smallest-id docs;
    * docs past the cap in EVERY shared band fall back to nothing — which is
    * exactly the documented trade: bounded work over exhaustive recall on
    * degenerate keys (ngramJaccardPairs keeps the exhaustive path via its
    * df-cap + rarest-shingle fallback). */
  val BandCap = 1024

  /** Sorted-slice cap on a (key, doc_id) band table: ≤ `cap` smallest doc
    * ids survive per key — the band join is then bounded at cap² per key.
    * r5 shape: a spillable window rank (same set as the former
    * `sort_array(collect_list)` slice, oracle unchanged) — an over-cap
    * band key no longer materializes as ONE aggregation buffer, the
    * executor-OOM class the near-dup cap closed first; WindowExec sorts
    * per partition and spills. */
  private def capBands(bands: DataFrame, keyCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy("doc_id")
    bands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap).select(keyCol, "doc_id")
  }

  // --- shared SQL snippets (mirrored verbatim in the DuckDB oracles) --------

  /** normalized whitespace-split tokens of lowercased text */
  def tokensSql(text: String) = s"split(trim(lower($text)), '\\\\s+')"

  /** word hash: top 60 bits of md5, mod P. md5 is a single codegen'd call
    * per word (DuckDB-reproducible via hex cast) — the earlier per-char
    * polynomial fold allocated a one-char UTF8String per character and ran
    * an interpreted lambda per char, dominating map-side CPU at scale. */
  def wordHashSql(w: String) =
    s"cast(conv(substr(md5($w), 1, 15), 16, 10) as bigint) % ${P}L"

  /** per-token hash array */
  def tokenHashesSql(text: String) =
    s"transform(${tokensSql(text)}, w -> ${wordHashSql("w")})"

  /** 16-hash MinHash signature over the shingle set:
    * sig[i] = min over shingles of (h*(2i+3) + 5i+7) % P */
  def minhashSigSql(shingles: String) =
    s"""transform(sequence(0, 15),
          i -> array_min(transform($shingles,
            h -> (h * (2 * i + 3) + 5 * i + 7) % ${P}L)))"""

  /** One 30-bit SimHash half over a hash array: bit b set iff the majority
    * of the hashes have bit b set. 30 bits because every hash is mod
    * P = 1e9+7 < 2^30, so bits ≥ 30 are constant-zero — a wider loop would
    * only manufacture dead signature bits. */
  def simhashHalfSql(hashes: String) =
    s"""aggregate(sequence(0, 29), 0L,
          (acc, b) -> acc + CASE WHEN
            2 * size(filter($hashes, h -> (h div shiftleft(1L, b)) % 2 = 1))
              >= size($hashes)
            THEN shiftleft(1L, b) ELSE 0L END)"""

  /** 60-bit SimHash over token hashes: two independent 30-bit halves — the
    * low half over the token hashes themselves, the high half over the
    * derived hash `(h*1009+7) % P` per token (a second universal-family
    * draw, DuckDB-reproducible). Widened from the r4 32-bit signature: a
    * 4×8-bit band space (~256 keys/position) saturated its cap at sf0.1
    * already (`simhash_max_band` 1600 > 1024) — at 100 TB every band key
    * collapses and pairing degenerates to cap-limited sampling. 4×15-bit
    * bands give ~32k keys per position, restoring the cap to non-binding
    * guard duty (VERDICT r4 ask #2). */
  def simhashSql(tokenHashes: String) =
    s"""(${simhashHalfSql(tokenHashes)}
         + shiftleft(${simhashHalfSql(s"transform($tokenHashes, h -> (h * 1009 + 7) % ${P}L)")}, 30))"""

  /** document fingerprint: char-fold of whitespace-normalized text (X-analog
    * of the reference's streaming normalized fold, `ops.rs:66-82`). */
  def fingerprintSql(text: String) =
    s"""aggregate(split(regexp_replace(trim($text), '\\\\s+', ' '), ''),
          0L, (a, c) -> (a * 31 + ascii(c)) % ${P}L)"""

  /** stopword-scoring language-ID: argmax over per-language marker hits,
    * ties broken by language code ascending. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "nicht", "das"),
    "en" -> Seq("the", "and", "of", "is", "to", "a"),
    "es" -> Seq("el", "los", "que", "y", "de", "la"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "zh" -> Seq("de5", "shi4", "le5", "he2", "zai4", "wo3"))

  /** `toks` is a token-array SQL expression (pass a materialized column). */
  def langScoreSql(toks: String, markers: Seq[String]) = {
    val arr = markers.map(m => s"'$m'").mkString("array(", ", ", ")")
    s"size(filter($toks, w -> array_contains($arr, w)))"
  }

  // --- operators --------------------------------------------------------------

  def documents(spark: SparkSession, dir: String): DataFrame =
    // NOTE (r6): deliberately NOT repartitioned. The single-file scan is one
    // task, but an explicit repartition(2·cores) pinned 64 un-coalescable
    // partitions under every downstream stage and REGRESSED the dedup suite
    // ~2× at sf0.1 (A/B in OPTIMIZATION_r06.md) — at this input size the
    // task orchestration costs more than the serial narrow work, and at
    // production scale a multi-file corpus splits at the scan anyway.
    spark.read.parquet(s"$dir/documents.parquet")

  /** Deterministic dup-augmented corpus: every 20th doc gets an exact copy
    * (id+1000000), every 10th a near-dup with the last 2 words dropped
    * (id+2000000). Pure SQL — the oracle constructs the identical corpus. */
  def withSyntheticDups(docs: DataFrame): DataFrame =
    // single-pass form (r6): the former three filtered branches re-read and
    // re-shuffled the corpus once each (union of three scans) — one inline
    // explode emits the identical row set in one pass with one partition
    // layout; the near-dup text slice is guarded by its CASE so it is only
    // computed for the 1-in-10 rows that emit it
    docs.select(expr(
      s"""inline(concat(
            array(struct(doc_id, text)),
            CASE WHEN doc_id % 20 = 0
              THEN array(struct(doc_id + 1000000L AS doc_id, text))
              ELSE array() END,
            CASE WHEN doc_id % 10 = 0
              THEN array(struct(doc_id + 2000000L AS doc_id,
                array_join(slice(${tokensSql("text")}, 1,
                  greatest(size(${tokensSql("text")}) - 2, 1)), ' ') AS text))
              ELSE array() END))"""))

  /** Exact dedup: normalize → group by md5(norm) → canonical id + group size
    * (groups > 1). Grouping on the 128-bit digest instead of the full
    * normalized text keeps the shuffle rows fixed-width at 100 TB (md5 is
    * reproducible in the DuckDB oracle, unlike xxhash64; collisions are
    * negligible at 2^64 docs). */
  def exactDedup(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("norm_h", md5(expr("regexp_replace(trim(lower(text)), '\\\\s+', ' ')")))
      .groupBy("norm_h")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
      .select("canonical_id", "group_size")

  /** Materialize tokens → token hashes → distinct shingles as separate
    * projection columns. CRITICAL for performance: inlining the token-hash
    * subtree inside the shingle lambda would re-evaluate it per array
    * element (HOF lambdas don't share subexpressions) — with columns each
    * stage computes once per row. A filter pushed below this projection
    * undoes that (see ngramJaccardPairs); PlanSpec pins it. */
  def withShingles(corpus: DataFrame): DataFrame = {
    graft.spark.GraftFunctions.register(corpus.sparkSession)
    // native one-pass token hashes (≡ the tokensSql/wordHashSql HOF chain,
    // PipelineSpec differential); size(th) == size(toks) by construction,
    // so the token array itself is never materialized here
    corpus
      .withColumn("th", graft.spark.GraftFunctions.word_hashes(col("text")))
      .withColumn("shingles", expr(
        s"""array_distinct(CASE WHEN size(th) < 3 THEN th
            ELSE transform(sequence(1, size(th) - 2),
              i -> ((element_at(th, i) * 1009 + element_at(th, i + 1)) * 1013
                    + element_at(th, i + 2)) % ${P}L) END)"""))
  }

  /** MinHash-LSH near-dup pairs: 16-hash signature, 4 bands × 4 rows;
    * candidates share ≥1 band; verified with true shingle Jaccard ≥ minJ.
    * At scale the band-bucket join bounds fan-out to real near-dup clusters
    * (no all-pairs); the verify step is per-candidate-pair only. */
  def minhashPairs(corpus: DataFrame, minJ: Double): DataFrame = {
    graft.spark.GraftFunctions.register(corpus.sparkSession)
    val sh = withShingles(corpus).select(col("doc_id"), col("shingles"))
    // band keys capped at a deterministic sorted slice (r3 ask #6,
    // oracle-mirrored)
    val capped = capBands(minhashBands(sh), "band", BandCap)
    verifyPairs(bandCandidates(capped, "band"), sh, jaccardAtLeast(minJ))
  }

  /** Candidate id pairs `(id_a < id_b)` of docs sharing a `key` value in a
    * (key, doc_id) table, deduped: the self-join and the distinct carry two
    * longs per row, never a payload. */
  private def bandCandidates(keyed: DataFrame, key: String): DataFrame =
    keyed.as("a").join(keyed.as("b"),
        col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** Shared verify tail of the dedup operators: id-pair candidates → two
    * narrow rejoins of a (doc_id, value) payload → `keep(value_a, value_b)`
    * → (id_a, id_b). Payloads join only after the candidate distinct. */
  private def verifyPairs(candIds: DataFrame, payload: DataFrame,
      keep: (Column, Column) => Column): DataFrame = {
    val Array(id, v) = payload.columns
    candIds
      .join(payload.select(col(id).as("id_a"), col(v).as("v_a")), Seq("id_a"))
      .join(payload.select(col(id).as("id_b"), col(v).as("v_b")), Seq("id_b"))
      .filter(keep(col("v_a"), col("v_b")))
      .select("id_a", "id_b")
  }

  /** Exact shingle-set Jaccard ≥ minJ. */
  private def jaccardAtLeast(minJ: Double)(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b)) >= minJ

  /** LSH band table of a (doc_id, shingles) frame: 16-hash signature
    * (native one-pass kernel ≡ minhashSigSql, PipelineSpec differential),
    * 4 bands × 4 rows → (doc_id, band). */
  private[graft] def minhashBands(sh: DataFrame): DataFrame =
    sh.withColumn("sig", graft.spark.GraftFunctions.minhash_sig(col("shingles")))
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(0, 3), b ->
               concat_ws(':', b, element_at(sig, 4*b+1), element_at(sig, 4*b+2),
                         element_at(sig, 4*b+3), element_at(sig, 4*b+4)))""")))
      .withColumnRenamed("col", "band")
      .select("doc_id", "band")

  /** Incremental MinHash-LSH dedup against a STORED signature table (PLANS
    * residual #3) — the dedup analog of the crawl loop's snapshot resume.
    * Each crawl round calls this with its NEW documents only:
    * the expensive per-word hash folds run over the new batch alone, the
    * batch is deduped against the entire crawl history via the stored
    * band table, and the new signatures are appended to `sigDir` for the
    * next round. Emits exactly the pairs with ≥1 new-side doc, each pair
    * exactly once — in the round where its later doc arrives — so the
    * union of per-round outputs equals the batch `minhashPairs` output
    * over the union corpus (spec-gated). Cap semantics: the per-key
    * `BandCap` slice is computed over the full population-so-far of each
    * touched key; a non-binding cap (the designed regime) gives EXACT
    * batch equality, and a binding cap gives a SUPERSET of the batch
    * output — the so-far slice contains every doc of the batch slice, so
    * no batch pair is ever lost, while an early round may emit pairs the
    * batch cap would have sampled away (recall never degrades vs batch;
    * when new ids are larger than all stored ids, e.g. monotone crawl
    * ids, equality is exact even when binding). Caller contract: doc_ids
    * unique across rounds (the crawl URL-seen set guarantees this
    * upstream).
    *
    * Scale shape: stored bands are left-semi-pruned to the new batch's
    * band keys BEFORE the candidate join — the shuffle is proportional
    * to the new batch plus touched history keys, not the full history;
    * Jaccard verification rejoins stored shingles narrowly by id; the
    * per-key cap is a spillable window rank (no whole-key aggregation
    * buffer). The result is localCheckpoint-materialized before the
    * append so it never races the `sigDir` mutation.
    *
    * Replay idempotence (`batchTag`): a streaming caller passes its
    * micro-batch id — the new signatures then land in an OVERWRITTEN
    * per-tag subdirectory instead of a root append, and the stored-side
    * read EXCLUDES the caller's own tag. A replayed micro-batch (failure
    * recovery re-runs the last uncommitted batch) therefore reads exactly
    * the pre-failure history and rewrites the same subdirectory, instead
    * of double-appending its signatures and pairing its docs against
    * half-written copies of themselves ([[graft.streaming.StreamingDedup]]
    * composes this into a foreachBatch sink). */
  def minhashPairsIncremental(newDocs: DataFrame, sigDir: String,
      minJ: Double, batchTag: Option[String] = None): DataFrame = {
    val spark = newDocs.sparkSession
    graft.spark.GraftFunctions.register(spark)
    val shPath = s"$sigDir/shingles"
    val bandPath = s"$sigDir/bands"
    // stored side = every committed part of the signature table except the
    // caller's own tag (root part-files from untagged appends + per-tag
    // subdirectories from streaming callers; _SUCCESS etc. skipped)
    def storedParts(root: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".") && !batchTag.contains(n)
        }
        .map(_.getPath.toString)
    }
    val (shStored, bandStored) = (storedParts(shPath), storedParts(bandPath))
    val newSh = withShingles(newDocs).select(col("doc_id"), col("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = minhashBands(newSh)
    val storedSh =
      if (shStored.nonEmpty) spark.read.parquet(shStored: _*) else newSh.limit(0)
    val storedBands =
      if (bandStored.nonEmpty) spark.read.parquet(bandStored: _*)
      else newBands.limit(0)
    val result =
      incrementalPairs(newSh, newBands, storedSh, storedBands, minJ)
        .localCheckpoint()
    batchTag match {
      case Some(tag) =>
        newSh.write.mode("overwrite").parquet(s"$shPath/$tag")
        newBands.write.mode("overwrite").parquet(s"$bandPath/$tag")
      case None =>
        newSh.write.mode("append").parquet(shPath)
        newBands.write.mode("append").parquet(bandPath)
    }
    newSh.unpersist(false)
    result
  }

  /** The incremental operator's lazy core (PlanSpec gates its shape):
    * semi-prune stored bands to the new batch's keys, spillable per-key
    * `BandCap` window rank, ≥1-new-side candidate pairs deduped as id
    * pairs, narrow shingle rejoin, exact-Jaccard verify. */
  private[graft] def incrementalPairs(newSh: DataFrame, newBands: DataFrame,
      storedSh: DataFrame, storedBands: DataFrame, minJ: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // only history rows sharing a band key with the new batch can pair
    val touched = storedBands
      .join(newBands.select("band").distinct(), Seq("band"), "left_semi")
    val unionBands = newBands.withColumn("is_new", lit(true))
      .unionByName(touched.withColumn("is_new", lit(false)))
    val wB = Window.partitionBy("band").orderBy("doc_id")
    val capped = unionBands.withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= BandCap).select("band", "doc_id", "is_new")
    val candIds = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id") &&
          (col("a.is_new") || col("b.is_new")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyPairs(candIds, newSh.unionByName(storedSh), jaccardAtLeast(minJ))
  }

  /** Exact n-gram Jaccard pairs (the dedup correctness oracle path):
    * inverted index on shingles → pairs sharing ≥1 RARE shingle → exact
    * J ≥ minJ. Co-partitions on the shingle key; candidate set bounded by
    * shared shingles, not all pairs. `maxShingleDf` caps the document
    * frequency of index shingles: stopword-grade shingles (df above the
    * cap) appear in so many documents that they generate quadratic
    * candidate noise and hot-key skew in the self-join while carrying no
    * near-dup signal — a real pair shares rare shingles too. Mirrored in
    * the DuckDB oracle, so the cap is part of the verified semantics. */
  def ngramJaccardPairs(corpus: DataFrame, minJ: Double,
      maxShingleDf: Int = 1000): DataFrame = {
    val sh = withShingles(corpus).select(col("doc_id"), col("shingles"))
    // explode_outer + null filter, not explode: for a plain explode of a
    // column Catalyst infers `size(shingles) > 0` and pushes it below the
    // shingle projection, inlining word_hashes(text) into every element_at
    // of the shingle lambda (O(tokens²) hashing per document). An empty
    // shingle array emits one null row here, which the filter drops.
    val inv = sh.select(col("doc_id"), explode_outer(col("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
    // df per shingle (shingle arrays are distinct per doc, so count = docs);
    // tiny fixed-width rows, one extra shuffle keyed like the index join
    val dfreq = inv.groupBy("sh").agg(count(lit(1)).as("df"))
    val invDf = inv.join(dfreq, Seq("sh"))
    val rareRows = invDf.filter(col("df") <= maxShingleDf)
    // ADVICE r2: a dup cluster larger than the cap has NO sub-cap shingle —
    // without a fallback exactly the largest clusters silently vanish. Such
    // docs index their rarest shingle (df ASC, sh ASC — deterministic)
    // regardless of df; cluster members share their rarest shingle, so the
    // cluster still pairs. Doc-keyed anti-join + window: bounded per doc.
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)
    val fallback = invDf
      .join(rareRows.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .withColumn("rn", row_number().over(wDoc)).filter(col("rn") === 1)
      .select("doc_id", "sh")
    val invRare = rareRows.select("doc_id", "sh").unionByName(fallback)
    verifyPairs(bandCandidates(invRare, "sh"), sh, jaccardAtLeast(minJ))
  }

  /** SimHash near-dup pairs: 60-bit signature, 4 15-bit bands; candidates
    * share a band; verified with hamming distance ≤ maxHam. */
  def simhashPairs(corpus: DataFrame, maxHam: Int): DataFrame = {
    graft.spark.GraftFunctions.register(corpus.sparkSession)
    val sig = simhashSigs(corpus)
    // band keys capped at a deterministic sorted slice (r3 ask #6); with the
    // r5 60-bit signature each band position has ~32k possible keys, so the
    // cap is back to non-binding guard duty against boilerplate-flooded keys
    val capped = capBands(simhashBands(sig), "band", BandCap)
    verifyPairs(bandCandidates(capped, "band"), sig,
      (a, b) => bit_count(a.bitwiseXOR(b)) <= maxHam)
  }

  /** (doc_id, sim) signature table: native one-pass 60-bit SimHash over
    * the token hashes (≡ simhashSql, PipelineSpec differential). */
  private def simhashSigs(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("th", graft.spark.GraftFunctions.word_hashes(col("text")))
      .withColumn("sim", graft.spark.GraftFunctions.simhash_bits(col("th")))
      .select("doc_id", "sim")

  /** SimHash band table of a (doc_id, sim) frame: 4 15-bit bands →
    * (doc_id, band). */
  private def simhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> concat_ws(':', b, (sim div shiftleft(1L, 15*b)) % 32768))")))
      .withColumnRenamed("col", "band")
      .select("doc_id", "band")

  /** Max minhash band-key population over the dup-augmented corpus — the
    * bench reports this beside [[BandCap]] (binding caps visible, not silent). */
  def minhashMaxBand(corpus: DataFrame): Long = {
    graft.spark.GraftFunctions.register(corpus.sparkSession)
    maxBand(minhashBands(withShingles(corpus).select(col("doc_id"), col("shingles"))))
  }

  /** Max simhash band-key population over the dup-augmented corpus. */
  def simhashMaxBand(corpus: DataFrame): Long = {
    graft.spark.GraftFunctions.register(corpus.sparkSession)
    maxBand(simhashBands(simhashSigs(corpus)))
  }

  private def maxBand(bands: DataFrame): Long =
    bands.groupBy("band").count().agg(max("count")).collect()(0).getLong(0)

  /** The documented lang-ID HOF SQL: argmax with lang-code-ascending
    * tie-break — first lang (asc) whose score equals the max, a CASE chain
    * both engines express identically. The engine runs the native
    * [[graft.spark.TextLangStats]] one-pass equivalent (PipelineSpec
    * differential); this form stays as the spec + the DuckDB oracle shape. */
  def langGuessSql(toks: String): String = {
    val scores = langMarkers.map { case (_, markers) => langScoreSql(toks, markers) }
    val maxScore = scores.mkString("greatest(", ", ", ")")
    langMarkers.map(_._1).zip(scores).map { case (l, s) =>
      s"WHEN $s >= $maxScore THEN '$l'"
    }.mkString("CASE ", " ", " END")
  }

  /** Stopword-count HOF SQL over the union marker set (spec/oracle shape). */
  def stopwordCountSql(toks: String): String = {
    val stop = langMarkers.flatMap(_._2).distinct.map(m => s"'$m'")
      .mkString("array(", ", ", ")")
    s"size(filter($toks, w -> array_contains($stop, w)))"
  }

  /** Text analysis: tokens, language guess, quality components, fingerprint —
    * one narrow projection, fully codegen. Lang-ID + stopword count run as
    * ONE native token pass (`text_lang_stats`): the HOF CASE chain evaluated
    * ~30 interpreted `filter` passes per row — the dominant term of this
    * query's wall time (r3 ask #1; round-3 decomposition, BASELINE.md
    * "Measurement history"). */
  def textAnalysis(docs: DataFrame): DataFrame = {
    graft.spark.GraftFunctions.register(docs.sparkSession)
    // r6: ONE fused native pass per row (text_profile) replaces the split +
    // two regex passes + HOF filters — each struct field reproduces its
    // documented SQL form bit-for-bit (kernel scaladoc lists them;
    // PipelineSpec differential per column). n_bpe_tokens is the BPE-ish
    // GPT-2-pretokenizer stand-in (letter runs + single digits +
    // punctuation); lang/stopword scoring is the text_lang_stats semantics.
    docs
      .withColumn("tp", graft.spark.GraftFunctions.text_profile(col("text")))
      .select(
        col("doc_id"),
        col("tp.n_tokens").as("n_tokens"),
        col("tp.n_chars_norm").as("n_chars_norm"),
        col("tp.lang_guess").as("lang_guess"),
        col("tp.n_stopwords").as("n_stopwords"),
        col("tp.long_word_pct").as("long_word_pct"),
        col("tp.n_bpe_tokens").as("n_bpe_tokens"),
        col("tp.fingerprint").as("fingerprint"))
  }
}
