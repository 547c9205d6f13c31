package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.api.Doc
import graft.pipeline.{Multimodal, Similarity, TextPipeline}

/** Pipeline-operator properties that the DuckDB oracle can't express:
  * ANN recall, streaming ingestion, multimodal batch shapes. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("native minhash_sig equals the documented SQL-HOF signature") {
    graft.spark.GraftFunctions.register(spark)
    val corpus = TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf))
    val sh = TextPipeline.withShingles(corpus).select(col("doc_id"), col("shingles"))
    val diff = sh
      .withColumn("a", graft.spark.GraftFunctions.minhash_sig(col("shingles")))
      .withColumn("b", expr(TextPipeline.minhashSigSql("shingles")))
      .filter(expr("a IS DISTINCT FROM b"))
      .count()
    assert(diff == 0L)
  }

  test("incremental minhash over three rounds unions to the batch result") {
    graft.spark.GraftFunctions.register(spark)
    val corpus = TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf))
    val sigDir = "/tmp/graft-sig-inc-spec"
    val p = new org.apache.hadoop.fs.Path(sigDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    // pmod split scatters each dup cluster across rounds, so cross-round
    // candidate generation (new batch vs stored history) is exercised in
    // rounds 2 and 3, not just new-vs-new
    val rounds = (0 until 3).map(r =>
      TextPipeline.minhashPairsIncremental(
        corpus.filter(pmod(col("doc_id"), lit(3)) === r), sigDir, minJ = 0.6))
    val batch = TextPipeline.minhashPairs(corpus, minJ = 0.6)
    val union = rounds.reduce(_ unionByName _)
    // each pair exactly once across rounds, and the union IS the batch set:
    // same cardinality + no duplicates + adds nothing to batch ⇒ equality
    val (nUnion, nBatch) = (union.count(), batch.count())
    assert(nUnion == nBatch)
    assert(union.distinct().count() == nUnion)
    assert(union.unionByName(batch).distinct().count() == nBatch)
    fs.delete(p, true)
  }

  test("streaming minhash dedup: foreachBatch unions to batch, replay-idempotent") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingDedup
    graft.spark.GraftFunctions.register(spark)
    val corpus = TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf))
    val dir = java.nio.file.Files.createTempDirectory("stream_dedup").toString
    // 3 files → 3 micro-batches (maxFilesPerTrigger=1); pmod split scatters
    // each dup cluster across batches so new-vs-history candidates dominate
    (0 until 3).foreach(r => corpus.filter(pmod(col("doc_id"), lit(3)) === r)
      .repartition(1).write.parquet(s"$dir/in/f$r.parquet"))
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
    val sink = StreamingDedup.minhashSink(s"$dir/sig", s"$dir/pairs", minJ = 0.6)
    val q = stream.writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    def streamed = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$dir/pairs")
    def assertEquals(expect: org.apache.spark.sql.DataFrame): Unit = {
      val (nS, nB) = (streamed.count(), expect.count())
      assert(nS == nB)
      assert(streamed.distinct().count() == nS, "duplicate pair emissions")
      assert(streamed.unionByName(expect).distinct().count() == nB)
    }
    assertEquals(TextPipeline.minhashPairs(corpus, minJ = 0.6))
    // simulated failure recovery: a 4th micro-batch delivered TWICE with the
    // same batch id — the tag-keyed overwrites + own-tag-excluded history
    // read must leave the output identical to a single delivery
    val extra = corpus.filter(col("doc_id") < 1000000 && col("doc_id") % 7 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"), col("text"))
    sink(extra, 3L)
    sink(extra, 3L)
    assertEquals(TextPipeline.minhashPairs(corpus.unionByName(extra), minJ = 0.6))
  }

  test("native ivf_assign_bc equals the documented SQL-fold assignment") {
    graft.spark.GraftFunctions.register(spark)
    val emb = Similarity.embeddings(spark, sf)
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val native = Similarity.assignCells(emb, cent)
    val sql = Similarity.assignCellsSql(emb, cent)
    assert(native.join(sql, Seq("vec_id", "cell")).count() == emb.count(),
      "native assignment diverges from the SQL fold")
  }

  test("native text_profile equals the documented per-column SQL forms") {
    graft.spark.GraftFunctions.register(spark)
    import spark.implicits._
    val extra = Seq("", " ", "  The  And of  ", "a\tb\nc", "der die und ist",
      "é ünï çödé 42 x-y!", "  mixed \r\n runs  7 here ", "ABCDE fg",
      "el los que y de la", " nbsp ", "one").toDF("text")
    val texts = TextPipeline.documents(spark, sf).select("text").unionByName(extra)
    val toks = TextPipeline.tokensSql("text")
    val diff = texts
      .withColumn("tp", graft.spark.GraftFunctions.text_profile(col("text")))
      .withColumn("toks", expr(toks))
      .filter(expr(
        s"""tp.n_tokens IS DISTINCT FROM cast(size(toks) as bigint)
            OR tp.n_chars_norm IS DISTINCT FROM
               cast(length(regexp_replace(trim(text), '\\\\s+', ' ')) as bigint)
            OR tp.lang_guess IS DISTINCT FROM ${TextPipeline.langGuessSql("toks")}
            OR tp.n_stopwords IS DISTINCT FROM
               cast(${TextPipeline.stopwordCountSql("toks")} as bigint)
            OR tp.long_word_pct IS DISTINCT FROM
               cast(CASE WHEN size(toks) = 0 THEN 0
                 ELSE (size(filter(toks, w -> length(w) >= 4)) * 100) div size(toks) END
                 as bigint)
            OR tp.n_bpe_tokens IS DISTINCT FROM
               cast(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]', 0)) as bigint)
            OR tp.fingerprint IS DISTINCT FROM ${TextPipeline.fingerprintSql("text")}"""))
      .count()
    assert(diff == 0L)
  }

  test("native word_hashes equals the documented split+md5 HOF chain") {
    graft.spark.GraftFunctions.register(spark)
    import spark.implicits._
    val extra = Seq("", " ", "  Mixed  CASE  ", "a\tb\nc", "\tlead", "trail\t",
      "é ünï çödé", "one").toDF("text")
    val texts = TextPipeline.documents(spark, sf).select("text").unionByName(extra)
    val diff = texts
      .withColumn("a", graft.spark.GraftFunctions.word_hashes(col("text")))
      .withColumn("b", expr(TextPipeline.tokenHashesSql("text")))
      .filter(expr("a IS DISTINCT FROM b"))
      .count()
    assert(diff == 0L)
  }

  test("native cos_sim equals the documented SQL-HOF cosine") {
    graft.spark.GraftFunctions.register(spark)
    // all-pairs over a slice: exercises self-cosine (1.0), near-dup pairs,
    // and arbitrary pairs; plus edge shapes (unequal length, null element,
    // zero vector) where the HOF yields null / NaN
    val emb = Similarity.withSyntheticNearDups(Similarity.embeddings(spark, sf))
      .filter(col("vec_id") % 25 === 0 || col("vec_id") >= 1000000)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("vb")))
    val diff = pairs
      .withColumn("a", graft.spark.GraftFunctions.cos_sim(col("va"), col("vb")))
      .withColumn("b", expr(Similarity.cosineSql("va", "vb")))
      .filter(expr("a IS DISTINCT FROM b"))
      .count()
    assert(diff == 0L)
    // (zero-norm vectors excluded: under ANSI — Spark 4's default — the HOF
    // form throws DIVIDE_BY_ZERO there, while the kernel yields NaN; the
    // corpus has no zero vectors, so the operators never reach that case)
    val edge = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f)), // unequal length → null
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))
    import spark.implicits._
    val ediff = edge.toDF("va", "vb")
      .withColumn("a", graft.spark.GraftFunctions.cos_sim(col("va"), col("vb")))
      .withColumn("b", expr(Similarity.cosineSql("va", "vb")))
      .filter(expr("a IS DISTINCT FROM b"))
      .count()
    assert(ediff == 0L)
  }

  test("native simhash_bits equals the documented SQL-HOF simhash") {
    graft.spark.GraftFunctions.register(spark)
    val corpus = TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf))
    val th = corpus
      .withColumn("toks", expr(TextPipeline.tokensSql("text")))
      .withColumn("th", expr(s"transform(toks, w -> ${TextPipeline.wordHashSql("w")})"))
    val diff = th
      .withColumn("a", graft.spark.GraftFunctions.simhash_bits(col("th")))
      .withColumn("b", expr(TextPipeline.simhashSql("th")))
      .filter(expr("a IS DISTINCT FROM b"))
      .count()
    assert(diff == 0L)
  }

  test("native text_lang_stats equals the documented CASE-chain + filter HOFs") {
    graft.spark.GraftFunctions.register(spark)
    import spark.implicits._
    // corpus rows plus adversarial shapes: empty text (one "" token), pure
    // stopwords, ties between languages (la: es+fr; de/la mixes)
    val extra = Seq("", "the the der der", "la la", "de la", "zzz qqq",
      "el le the der de5").toDF("text")
    val texts = TextPipeline.documents(spark, sf).select("text").unionByName(extra)
    val diff = texts
      .withColumn("toks", expr(TextPipeline.tokensSql("text")))
      .withColumn("ls", graft.spark.GraftFunctions.text_lang_stats(col("toks")))
      .withColumn("lg", expr(TextPipeline.langGuessSql("toks")))
      .withColumn("ns", expr(TextPipeline.stopwordCountSql("toks")).cast("long"))
      .filter(expr("ls.lang_guess IS DISTINCT FROM lg OR ls.n_stopwords IS DISTINCT FROM ns"))
      .count()
    assert(diff == 0L)
  }

  test("native norm_fingerprint equals the documented SQL-HOF fold") {
    graft.spark.GraftFunctions.register(spark)
    import spark.implicits._
    // corpus rows plus adversarial whitespace/unicode shapes
    val extra = Seq("", " ", "  a  b  ", "a\t\nb", "\nx\n", "tabvt",
      "é ünï çödé", "mixed \r\n runs   here ").toDF("text")
    val texts = TextPipeline.documents(spark, sf).select("text").unionByName(extra)
    val diff = texts
      .withColumn("a", graft.spark.GraftFunctions.norm_fingerprint(col("text")))
      .withColumn("b", expr(TextPipeline.fingerprintSql("text")))
      .filter(expr("a IS DISTINCT FROM b"))
      .count()
    assert(diff == 0L)
  }

  test("native lsh_bits equals the documented HOF hyperplane fold") {
    graft.spark.GraftFunctions.register(spark)
    val emb = Similarity.withSyntheticNearDups(Similarity.embeddings(spark, sf))
    // 12-bit single-table form (near-dup path)
    val d1 = emb
      .withColumn("a", graft.spark.GraftFunctions.lsh_bits(col("embedding"), 0, 12))
      .withColumn("b", expr(Similarity.lshSignatureSql("embedding", 12, 64)))
      .filter(expr("a IS DISTINCT FROM b")).count()
    assert(d1 == 0L)
    // the 8x3 multi-table form (plane index j = t*3 + b, bit value 1<<b);
    // plane literals come from planeVal — the differential checks the HOF
    // fold mechanics against the native kernel's loop, not the plane source
    val hof = (0 until Similarity.LshTables).map { t =>
      val bits = (0 until Similarity.LshBits).map { b =>
        val j = t * Similarity.LshBits + b
        val lits = (0 until 64)
          .map(d => s"${graft.spark.PipelineExprOps.planeVal(j, d)}D")
          .mkString(", ")
        s"""CASE WHEN aggregate(zip_with(embedding, array($lits),
              (x, p) -> cast(x as double) * p), 0.0D, (acc, v) -> acc + v) >= 0.0D
            THEN ${1L << b}L ELSE 0L END"""
      }.mkString(" + ")
      expr(bits)
    }
    val native = (0 until Similarity.LshTables).map { t =>
      graft.spark.GraftFunctions.lsh_bits(col("embedding"), t * Similarity.LshBits,
        Similarity.LshBits)
    }
    val d2 = emb.withColumn("a", array(native: _*)).withColumn("b", array(hof: _*))
      .filter(expr("a IS DISTINCT FROM b")).count()
    assert(d2 == 0L)
  }

  test("LSH ANN recall@5 vs brute force is usable (approximate by design)") {
    val emb = Similarity.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, nQueries = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall@5 too low: $recall") // multiprobe 8x3 bar
  }

  test("IVF ANN recall@5 vs brute force is usable (approximate by design)") {
    val emb = Similarity.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, nQueries = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall@5 too low: $recall")
  }

  test("IVF hot-cell split: binding cap splits cells, drops no member, keeps recall") {
    graft.spark.GraftFunctions.register(spark)
    import spark.implicits._
    val emb = Similarity.embeddings(spark, sf)
    val n = emb.count()
    // cellCap=16 binds at this sf → hot cells split into up-to-4 LSH
    // sub-cells
    val maxCell = Similarity.ivfMaxCell(emb)
    val maxSub = Similarity.ivfMaxSubcell(emb, cellCap = 16, maxSubBits = 2)
    assert(maxCell > 16, s"cap must bind for this gate (max cell $maxCell)")
    assert(maxSub < maxCell, s"split did not shrink the hottest list ($maxSub vs $maxCell)")
    // the probe_all flag count and the max-subcell audit must tell the
    // same story: some cell is flagged iff some sub-cell exceeds the cap
    val flagged = Similarity.ivfFlaggedCells(emb, cellCap = 16, maxSubBits = 2)
    assert(flagged > 0, "this gate must reach the probe_all branch")
    assert((flagged > 0) == (maxSub > 16),
      s"flag count $flagged inconsistent with max sub-cell $maxSub")
    // the driver-side width rule (subBitsOf, used by the one-pass metadata)
    // and the Column form (subBitsCase, used by the audit metric and the
    // oracle mirror generator) must be the same function — sweep counts
    // across every bound boundary ±1 for several (cap, maxBits) configs
    for ((cap, mb) <- Seq((16, 2), (64, 3), (1024, 4))) {
      val boundary = (0 to mb).flatMap { b =>
        val bound = if (b == 0) cap.toLong else cap.toLong << (b - 1)
        Seq(bound - 1, bound, bound + 1)
      }
      val cnts = (Seq(1L, 2L, 3L) ++ boundary ++
        Seq(cap.toLong << mb, (cap.toLong << mb) + 7)).distinct.filter(_ > 0)
      val fromCol = cnts.toDF("cnt")
        .select(col("cnt"), Similarity.subBitsCase(col("cnt"), cap, mb).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      cnts.foreach { n =>
        assert(fromCol(n) == Similarity.subBitsOf(n, cap, mb),
          s"width-rule drift at cnt=$n cap=$cap maxBits=$mb")
      }
    }
    // membership preservation: the post-split capped inverted lists hold
    // EVERY corpus member minus only what the (cell, sub) guard trims —
    // the pre-r5 slice dropped max(0, cell - cap) members per hot cell
    // from search entirely
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val assigned = Similarity.assignCells(emb, cent)
      .join(emb.select(col("vec_id"),
        graft.spark.GraftFunctions.lsh_bits(col("embedding"),
          Similarity.IvfSplitPlaneStart, 2).as("sub_full")), Seq("vec_id"))
    val cellBits = assigned.groupBy("cell").agg(count(lit(1)).as("cnt"))
      .select(col("cell"),
        Similarity.subBitsCase(col("cnt"), 16, 2).as("sub_bits"))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy("cell", "sub").orderBy("vec_id")
    val searchable = assigned.join(broadcast(cellBits), Seq("cell"))
      .withColumn("sub", col("sub_full")
        .bitwiseAND(expr("shiftleft(1L, sub_bits) - 1L")))
      .withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= 16).count()
    val guardTrim = n - searchable
    assert(guardTrim == 0 || maxSub > 16,
      s"split dropped $guardTrim members with a non-binding guard")
    val preSplitDrop = Similarity.assignCells(emb, cent)
      .groupBy("cell").count()
      .select(sum(greatest(col("count") - 16, lit(0)))).collect()(0).getLong(0)
    assert(searchable > n - preSplitDrop,
      "split must keep more members searchable than the pre-r5 slice did")
    // and the split config still ranks usefully
    val exact = Similarity.bruteForceTopK(emb, nQueries = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hot = Similarity.ivfTopK(emb, nQueries = 20, k = 5,
      cellCap = 16, maxSubBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(hot).size.toDouble / exact.size
    assert(recall >= 0.2, s"hot-split IVF recall@5 too low: $recall")
    // width exhaustion: an identical-vector family (200 exact copies of
    // query vector 17) shares every split-plane bit, so its sub-cell stays
    // over the cap at any width and flags its cell, cell 0. Without the
    // family no cell is flagged at cap 64. Query 17 sits inside the family.
    // Query 0 probes cell 0 from sub 0 while the family sits in sub 3: two
    // bits away, outside 1-bit multiprobe, so only probe_all reaches it,
    // and the family (cosine 0.33 to query 0) belongs in its exact top 5.
    assert(Similarity.ivfFlaggedCells(emb, cellCap = 64, maxSubBits = 2) == 0)
    val famBase = emb.agg(max("vec_id")).collect()(0).getLong(0) + 1
    val famIds = famBase until famBase + 200
    val withFamily = emb.select("vec_id", "embedding").unionByName(
      emb.filter(col("vec_id") === 17L).select("embedding")
        .crossJoin(famIds.toDF("vec_id")).select("vec_id", "embedding"))
    assert(Similarity.ivfFlaggedCells(withFamily, cellCap = 64, maxSubBits = 2) > 0,
      "an identical-vector family past the cap must flag its cell")
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("query_id").isin(0L, 17L)).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val famExact = top5(Similarity.bruteForceTopK(withFamily, nQueries = 20, k = 5))
    val famIvf = top5(Similarity.ivfTopK(withFamily, nQueries = 20, k = 5,
      cellCap = 64, maxSubBits = 2))
    assert(famExact(17L) == famIds.take(5).toSet,
      s"brute force must rank family members first for query 17: ${famExact(17L)}")
    assert(famExact(0L).exists(famIds.contains),
      s"the family must be in query 0's exact top 5: ${famExact(0L)}")
    for (q <- Seq(17L, 0L))
      assert(famIvf(q) == famExact(q),
        s"flagged-cell probe missed the family for query $q: ${famIvf(q)} vs ${famExact(q)}")
  }

  test("embedding near-dup: every constructed dup pairs with its source") {
    val pairs = Similarity.embeddingNearDupPairs(Similarity.embeddings(spark, sf), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 500L by 10L).map(i => (i, i + 1000000L)).toSet
    assert(expected.subsetOf(pairs),
      s"missing dup pairs: ${expected.diff(pairs).take(5)}")
  }

  test("exact dedup matches an independent in-memory computation") {
    val groups = TextPipeline.exactDedup(
      TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // independent Scala model of the same corpus construction + grouping
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val corpus = docs.map { case (id, t) => (id, t) } ++
      docs.filter(_._1 % 20 == 0).map { case (id, t) => (id + 1000000, t) } ++
      docs.filter(_._1 % 10 == 0).map { case (id, t) =>
        val toks = t.trim.toLowerCase.split("\\s+")
        (id + 2000000, toks.take(math.max(toks.length - 2, 1)).mkString(" "))
      }
    val expected = corpus.groupBy { case (_, t) => norm(t) }
      .values.filter(_.length > 1)
      .map(g => (g.map(_._1).min, g.length.toLong)).toMap
    assert(groups == expected)
    // the constructed exact copies are all present
    assert((0L until 500L by 20L).forall(groups.contains))
  }

  test("ngram-jaccard df-cap fallback still pairs clusters larger than the cap") {
    import spark.implicits._
    // 6 identical docs (every shingle df=6) + 2 unrelated docs; cap=4 means
    // the cluster has NO sub-cap shingle — the rarest-shingle fallback must
    // still index it, or the largest dup cluster silently disappears
    val clusterText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((0L until 6L).map(i => (i, clusterText)) ++
      Seq((10L, "one two three four five six seven"),
          (11L, "eight nine ten eleven twelve thirteen fourteen"))).toDF("doc_id", "text")
    val pairs = TextPipeline.ngramJaccardPairs(docs, minJ = 0.6, maxShingleDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for (a <- 0L until 6L; b <- (a + 1) until 6L) yield (a, b)).toSet
    assert(pairs == expected, s"got $pairs")
  }

  test("minhash-LSH finds the constructed near-dups (high-jaccard prefix copies)") {
    val pairs = TextPipeline.minhashPairs(
      TextPipeline.withSyntheticDups(TextPipeline.documents(spark, sf)), 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dups: id+2000000 with 2 words dropped; most should pair with source
    val expected = (0L until 500L by 10L).map(i => (i, i + 2000000L))
    val found = expected.count(pairs.contains)
    assert(found >= expected.size * 0.8,
      s"minhash found only $found/${expected.size} constructed near-dups")
  }

  test("multimodal: payload bytes survive binary round-trip; decode stub is deterministic") {
    val media = Multimodal.mediaTable(spark, sf)
    val row = media.filter(col("doc_id") === 7).collect().head
    val payload = row.getAs[Array[Byte]]("payload")
    assert(new String(payload, "UTF-8") == "payload-7-xxxxxxx")
    val (n, c1) = Multimodal.decodeStub(payload)
    val (_, c2) = Multimodal.decodeStub(payload)
    assert(n == payload.length && c1 == c2)
    // typed metadata plumbing (7 % 3 == 1 → audio/wav)
    assert(row.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("format") == "wav")
    assert(row.getAs[String]("media_type") == "audio")
  }

  test("frame sampling emits bounded deterministic indices for video refs only") {
    val frames = Multimodal.frameSamples(Multimodal.mediaTable(spark, sf))
    val rows = frames.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("media_ref").startsWith("vid-"))
      val idx = r.getAs[scala.collection.Seq[Int]]("frame_indices")
      assert(idx.length <= 8 && idx == idx.sorted)
    }
  }

  test("span-sequence invariant: dom_spans tracks mutations, typed Dataset[DocRow] works") {
    import graft.spark.{GraftFunctions => F, SynthDocs}
    F.register(spark)
    val docs = SynthDocs.partDocs(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id").cast("long") < 20)
    // typed boundary
    val ds = SynthDocs.asDocRows(docs)
    val row = ds.filter(_.doc_id == "7").collect().head
    assert(row.spans.head.kind == "documen" + "t")
    assert(row.spans.map(_.offset) == row.spans.indices)
    // invariant after mutation: removing the <ul> removes exactly the li/text spans
    val before = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      F.dom_spans(org.apache.spark.sql.functions.col("nodes")).as("s")).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).length).toMap
    val after = docs
      .withColumn("nodes2", F.dom_mutate(org.apache.spark.sql.functions.col("nodes"),
        "ul.words", "remove"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        F.dom_spans(org.apache.spark.sql.functions.col("nodes2")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).length).toMap
    before.foreach { case (id, n) =>
      assert(after(id) < n, s"doc $id: spans did not shrink after subtree removal")
    }
  }

  test("bad selector / op / mode literals fail at analysis, before any task runs") {
    import graft.spark.{GraftFunctions => F}
    import org.apache.spark.sql.{AnalysisException, Column}
    F.register(spark)
    val docs = spark.range(1).select(F.parse_html(lit("<p>x</p>")).as("nodes"),
      lit("p").as("css"), lit(1).as("depth"))
    val nodes = col("nodes")
    // DataFrame.select analyzes eagerly: no action is run here
    def rejected(c: Column, msg: String): Unit = {
      val e = intercept[AnalysisException](docs.select(c))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    // ops and modes are checked even when the selector matches nothing
    rejected(F.dom_mutate(nodes, "p.none", "bogus_op"), "invalid dom_mutate op 'bogus_op'")
    rejected(F.dom_mutate_ops(nodes, Seq(("p", "add_class", lit("a"), lit(null)),
      ("p.none", "bogus_op", lit(null), lit(null)))), "invalid dom_mutate op 'bogus_op'")
    rejected(F.dom_copy_selection(nodes, "p.none", nodes, "p", "bogus_mode"),
      "invalid mode 'bogus_mode'")
    rejected(F.dom_mutate(nodes, ":+ ^", "remove"), "invalid selector ':+ ^'")
    rejected(F.dom_copy_selection(nodes, "p", nodes, "[[", "append"), "invalid selector '[['")
    rejected(F.css_select(nodes, ":+ ^"), "invalid selector ':+ ^'")
    rejected(F.css_select_first(nodes, "p:bogus"), "invalid selector 'p:bogus'")
    rejected(F.css_select_under(nodes, F.css_select(nodes, "p"), "[["), "invalid selector '[['")
    rejected(F.css_filter(nodes, F.css_select(nodes, "p"), "[["), "invalid selector '[['")
    rejected(F.css_is(nodes, F.css_select(nodes, "p"), "[["), "invalid selector '[['")
    rejected(call_function("css_select", nodes, col("css")), "selector must be a literal")
    rejected(call_function("dom_find", nodes, col("css")), "find path must be a literal")
    rejected(call_function("dom_ancestors", nodes, F.css_select(nodes, "p"), col("depth")),
      "max_depth must be a literal")
    rejected(call_function("dom_mutate", nodes, lit("p"), lit(null)),
      "dom_mutate op must not be null")
    // the SQL surface gets the same check
    docs.createOrReplaceTempView("bad_literal_docs")
    val e = intercept[AnalysisException](
      spark.sql("SELECT dom_mutate(nodes, 'p', 'bogus_op') FROM bad_literal_docs"))
    assert(e.getMessage.contains("invalid dom_mutate op 'bogus_op'"), e.getMessage)
    spark.catalog.dropTempView("bad_literal_docs")
    // valid literals still analyze and run
    val out = docs.select(size(F.css_select(
      F.dom_mutate(nodes, "p", "add_class", lit("k")), "p.k"))).head().getInt(0)
    assert(out == 1)
  }

  /** `frame.select(c)` fails analysis with a message holding `msg`, and no
    * job ran. */
  private def rejectedBeforeAnyJob(frame: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.Column, msg: String): Unit = {
    val group = s"analysis-${java.util.UUID.randomUUID}"
    spark.sparkContext.setJobGroup(group, "analysis check")
    val e = try intercept[org.apache.spark.sql.AnalysisException](frame.select(c))
      finally spark.sparkContext.clearJobGroup()
    assert(e.getMessage.contains(msg), e.getMessage)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      s"a job ran before $c failed")
  }

  /** One row: embedding `e` (64 floats), int column `j`, string `s`,
    * token hashes `h`. */
  private def kernelInputs = spark.range(1).select(
    array((0 until 64).map(d => lit(d - 31.5f)): _*).as("e"),
    col("id").cast("int").as("j"), lit("abc").as("s"), array(lit(7L)).as("h"))

  test("lsh_bits with a column, null or out-of-range jStart / nBits fails at analysis, before any job runs") {
    import graft.spark.{GraftFunctions => F}
    F.register(spark)
    val in = kernelInputs
    val e = col("e")
    rejectedBeforeAnyJob(in, call_function("lsh_bits", e, col("j"), lit(3)),
      "lsh_bits jStart must be a literal")
    rejectedBeforeAnyJob(in, call_function("lsh_bits", e, lit(0), col("j")),
      "lsh_bits nBits must be a literal")
    rejectedBeforeAnyJob(in, call_function("lsh_bits", e, lit(0), lit(null).cast("int")),
      "lsh_bits nBits must not be null")
    rejectedBeforeAnyJob(in, F.lsh_bits(e, -1, 3), "invalid lsh_bits jStart '-1'")
    rejectedBeforeAnyJob(in, F.lsh_bits(e, 0, 0), "invalid lsh_bits nBits '0'")
    rejectedBeforeAnyJob(in, F.lsh_bits(e, 0, 64), "invalid lsh_bits nBits '64'")
    // the SQL surface gets the same check
    in.createOrReplaceTempView("lsh_inputs")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT lsh_bits(e, j, 3) FROM lsh_inputs"))
    assert(err.getMessage.contains("lsh_bits jStart must be a literal"), err.getMessage)
    spark.catalog.dropTempView("lsh_inputs")
    // the bounds themselves analyze and run
    assert(in.select(F.lsh_bits(e, 0, 1), F.lsh_bits(e, 0, 63)).head().toSeq.forall(_ != null))
  }

  test("a pipeline kernel given a wrongly typed argument fails at analysis, before any job runs") {
    import graft.spark.{GraftFunctions => F}
    F.register(spark)
    val in = kernelInputs
    val (e, s, h) = (col("e"), col("s"), col("h"))
    val quant = graft.spark.IvfQuantizer.build(Array(1L), Array(Array.fill(64)(1.0f)))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(10)
    for (c <- Seq(F.minhash_sig(s), F.minhash_sig(e), F.simhash_bits(s), F.norm_fingerprint(h),
        F.text_profile(h), F.word_hashes(e), F.text_lang_stats(s), F.cos_sim(h, e),
        F.cos_sim(e, s), F.lsh_bits(s, 0, 3), F.ivf_assign_bc(spark, "type-check", quant, s),
        F.bloom_probe_bc(spark, "type-check", bloom, s)))
      rejectedBeforeAnyJob(in, c, "UNEXPECTED_INPUT_TYPE")
    val err = intercept[org.apache.spark.sql.AnalysisException](spark.sql("SELECT minhash_sig('abc')"))
    assert(err.getMessage.contains("UNEXPECTED_INPUT_TYPE"), err.getMessage)
  }

  test("a GraftExtensions session resolves every function of the table") {
    import graft.spark.{GraftExtensions, GraftFunctions => F}
    // a second session on the shared context, built WITHOUT register: with
    // an active or default session getOrCreate would hand that one back and
    // ignore the extension, so both are cleared around the build and restored
    val sc = spark.sparkContext
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        default.foreach(SparkSession.setDefaultSession)
        active.foreach(SparkSession.setActiveSession)
      }
    assert(!(ext eq spark))
    assert(ext.sparkContext eq sc)
    val reg = ext.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val names = F.functions.map(_._1)
    assert(names.length == names.distinct.length, "duplicate names in the function table")
    val missing = names.filterNot(reg.functionExists)
    assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
    val row = ext.sql("""SELECT size(dom_find(n, 'body,p')),
        parse_html_meta('<!DOCTYPE html><p>x').quirks_mode,
        size(css_select(dom_mutate_ops(n, 'p', 'remove', NULL, NULL), 'p'))
      FROM (SELECT parse_html('<p>a</p><p>b</p>') AS n)""").head()
    assert(row.getInt(0) == 2)
    assert(row.getString(1) == "no-quirks")
    assert(row.getInt(2) == 0)
  }

  test("dom_has_attr, dom_html_root, dom_ancestors and dom_children: known answers") {
    import graft.spark.{GraftFunctions => F}
    F.register(spark)
    // preorder ids: 0 document, 1 doctype, 2 html, 3 head, 4 body,
    // 5 div#a, 6 p#p, 7 text, 8 div#b
    val html = """<!DOCTYPE html><html><head></head><body>""" +
      """<div id="a" data-x=""><p id="p">t</p></div><div id="b"></div></body></html>"""
    val n = col("nodes")
    val row = spark.range(1).select(F.parse_html(lit(html)).as("nodes")).select(
      F.dom_has_attr(n, F.css_select(n, "#a"), "data-x"),
      F.dom_has_attr(n, F.css_select(n, "#b"), "data-x"),
      F.dom_has_attr(n, F.css_select(n, "span"), "data-x"),
      F.dom_attr(n, F.css_select(n, "#a"), "data-x"),
      F.dom_html_root(n),
      // only the doctype is left: no element child of the document
      F.dom_html_root(F.dom_mutate(n, "html", "remove")),
      F.dom_ancestors(n, F.css_select(n, "#p"), 0),
      F.dom_ancestors(n, F.css_select(n, "#p"), 2),
      F.dom_ancestors(n, F.css_select(n, "#a, #p"), -1),
      F.dom_children(n, array(lit(0), lit(5)))
    ).head()
    assert(row.getBoolean(0)) // attr="" is present
    assert(!row.getBoolean(1)) // absent
    assert(!row.getBoolean(2)) // empty selection
    assert(row.getString(3) == "")
    assert(row.getInt(4) == 2) // the doctype is skipped
    assert(row.getInt(5) == -1)
    // dom_ancestors keeps the document node (0); Sel.ancestors keeps elements only
    assert(row.getSeq[Int](6) == Seq(5, 4, 2, 0))
    assert(row.getSeq[Int](7) == Seq(5, 4))
    assert(row.getSeq[Int](8) == Seq(4, 2, 0, 5)) // merged, first-seen order
    assert(Doc.parse(html).select("#p").ancestors().ids == Seq(5, 4, 2))
    // dom_children keeps every kind (the doctype); Sel.children elements only
    assert(row.getSeq[Int](9) == Seq(1, 2, 6))
    assert(Doc.parse(html).select("#a").children.ids == Seq(6))
    assert(Doc.parse(html).htmlRoot.contains(2))
  }

  test("structured streaming: dom expressions run inside a streaming plan") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.spark.{GraftFunctions => F}
    F.register(spark)
    val schema = spark.read.parquet(s"$sf/orders.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(sf)
      .select(col("o_orderkey").cast("string").as("doc_id"),
        graft.spark.SynthDocs.hnHtml(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")).as("html"))
      .withColumn("nodes", F.parse_html(col("html")))
      .select(col("doc_id"),
        F.dom_attr(col("nodes"),
          F.css_select(col("nodes"), "tr.athing .title a.storylink"), "href").as("href"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("stream_links")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT * FROM stream_links")
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(out.count() == total)
    assert(out.filter(col("href").startsWith("item?id=")).count() == total)
  }

  test("structured streaming: events stream through windowed aggregation") {
    import org.apache.spark.sql.streaming.Trigger
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    // the directory contains all tables; read just events via pathGlobFilter
    val events = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sf)
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → event-time
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_windowed")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT * FROM ev_windowed")
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    assert(out.count() == batch.count())
    assert(out.agg(sum("n")).collect().head.getLong(0) ==
      spark.read.parquet(s"$sf/events.parquet").count())
  }
}
