package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over the `embeddings` table (`Array[Float]`, dim 64):
 * brute-force cosine top-k as the exactness baseline, and an LSH-bucketed
 * (random-hyperplane signature) variant as the 100 TB scale path. All Spark
 * built-ins: `zip_with` for the elementwise product, `aggregate` for the
 * fold — double precision, strictly sequential, so the DuckDB oracle can
 * reproduce the exact ranking.
 */
object Similarity {

  /** dot(a, b) folded sequentially in double (both engines identical). */
  def dotSql(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), 0.0D, (acc, v) -> acc + v)"

  def normSql(a: String) = s"sqrt(${dotSql(a, a)})"

  def cosineSql(a: String, b: String) =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    // NOT repartitioned — same A/B result as TextPipeline.documents (r6):
    // pinning 64 partitions under the ANN paths regressed them at sf0.1;
    // filters (queries/centroids) also keep their parquet pushdown this way
    spark.read.parquet(s"$dir/embeddings.parquet")

  /**
   * Brute-force cosine top-k: queries × corpus. At bench scale the corpus
   * side is broadcast when small; at 100 TB one replaces this with the LSH
   * variant below (this exact form remains the verification oracle on
   * samples). Output: (query_id, neighbor_id, rank) — rank by
   * (cosine DESC, neighbor_id ASC), floats excluded from the output so the
   * comparison is drift-free.
   */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    graft.spark.GraftFunctions.register(emb.sparkSession)
    // native cos_sim ≡ cosineSql (PipelineSpec differential): bit-identical
    // sequential double folds, codegen instead of 3 interpreted HOF passes
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.spark.GraftFunctions.cos_sim(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /**
   * Random-hyperplane LSH signature: `nBits` deterministic pseudo-random
   * hyperplanes with components from `PipelineExprOps.planeVal` — the
   * single source of truth; this SQL form inlines the values as double
   * LITERALS so the HOF differential and the DuckDB mirrors can never
   * drift from the native kernel on formula or precision. (r5: planeVal
   * replaced the raw-LCG planes, whose Marsaglia lattice correlation
   * skewed bucket occupancy ~17× above uniform — see its scaladoc.)
   * Bucket = signature; search within bucket (plus per-bucket top-k).
   * This is the ANN scale path: the all-pairs join becomes a bucket-equi-join.
   */
  def lshSignatureSql(vec: String, nBits: Int, dim: Int): String = {
    val bit = (j: Int) => {
      val lits = (0 until dim)
        .map(d => s"${graft.spark.PipelineExprOps.planeVal(j, d)}D")
        .mkString(", ")
      s"""CASE WHEN aggregate(zip_with($vec, array($lits),
            (x, p) -> cast(x as double) * p), 0.0D, (acc, v) -> acc + v) >= 0.0D
          THEN ${1L << j}L ELSE 0L END"""
    }
    (0 until nBits).map(bit).mkString(" + ")
  }

  /** Default LSH config, shared with the DuckDB oracle generator in
    * SparkEntry so both engines always describe the same tables/planes. */
  val LshTables = 8
  val LshBits = 3
  /** Deterministic per-bucket id cap (VERDICT r2 ask #6): `collect_list` on
    * a degenerate bucket (e.g. all-zero vectors) is an unbounded single-row
    * array → straggler/OOM at 100 TB. Sorted-slice makes the cap
    * deterministic, the oracle mirrors it exactly, and the bench reports
    * `lsh_max_bucket` so a binding cap is visible, never silent. */
  val LshBucketCap = 1024

  /**
   * ANN via multi-probe multi-table LSH: `nTables` independent
   * `bitsPerTable`-bit signatures; each query probes its own bucket PLUS
   * every 1-bit-flip neighbor bucket (Lv et al.'s multi-probe LSH — the
   * per-table hit probability rises from p^b to p^b + b·p^(b-1)(1-p)
   * without coarsening the buckets, which is what keeps bucket size ~n/2^b
   * at 100 TB; plain 4×4 tables measured recall@5 = 0.37 on this data,
   * this config measures ≥ 0.9, gated in PipelineSpec). Candidates = union
   * over tables/probes, exact cosine re-rank. All shuffles carry
   * fixed-width (table, bits, id) rows; embeddings rejoin narrowly after
   * the id-pair dedup.
   */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int,
      nTables: Int = LshTables, bitsPerTable: Int = LshBits,
      maxBucket: Int = LshBucketCap): DataFrame = {
    graft.spark.GraftFunctions.register(emb.sparkSession)
    // native one-pass signatures (≡ the per-table HOF fold, PipelineSpec
    // differential) — ONE scan computes all tables (a self-join would
    // evaluate the hyperplane folds twice); (tbl, bits, vec_id) rows only
    // from here on
    val tables = (0 until nTables).map { t =>
      graft.spark.GraftFunctions.lsh_bits(col("embedding"), t * bitsPerTable, bitsPerTable)
    }
    val sig = emb.withColumn("sigs", array(tables: _*))
      .select(col("vec_id"), posexplode(col("sigs")).as(Seq("tbl", "bits")))
    // r5: spillable window rank (same capped set as the former
    // sort_array(collect_list) slice) — a degenerate bucket never
    // materializes as one aggregation buffer
    val wBucket = Window.partitionBy("tbl", "bits").orderBy("vec_id")
    val corpusSide = sig.withColumn("rn", row_number().over(wBucket))
      .filter(col("rn") <= maxBucket)
      .select(col("tbl"), col("bits"), col("vec_id").as("neighbor_id"))
    val probeBits = col("bits") +:
      (0 until bitsPerTable).map(b => col("bits").bitwiseXOR(lit(1L << b)))
    val probes = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(array(probeBits: _*)).as("bits"))
    val candIds = probes.join(corpusSide, Seq("tbl", "bits"))
      .select("query_id", "neighbor_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .distinct()
    rerank(candIds, emb, k)
  }

  /** Max LSH bucket population under the default config — the bench reports
    * this next to [[LshBucketCap]] so a binding cap is visible, not silent. */
  def lshMaxBucket(emb: DataFrame): Long = {
    graft.spark.GraftFunctions.register(emb.sparkSession)
    val tables = (0 until LshTables).map { t =>
      graft.spark.GraftFunctions.lsh_bits(col("embedding"), t * LshBits, LshBits)
    }
    emb.withColumn("sigs", array(tables: _*))
      .select(posexplode(col("sigs")).as(Seq("tbl", "bits")))
      .groupBy("tbl", "bits").count()
      .agg(max("count")).collect()(0).getLong(0)
  }

  /** Max near-dup 12-bit bucket population (dup-augmented corpus) — reported
    * beside [[NearDupBucketCap]] so a binding cap is visible, never silent. */
  def neardupMaxBucket(emb: DataFrame): Long = {
    graft.spark.GraftFunctions.register(emb.sparkSession)
    withSyntheticNearDups(emb)
      .withColumn("bucket", graft.spark.GraftFunctions.lsh_bits(col("embedding"), 0, 12))
      .groupBy("bucket").count()
      .agg(max("count")).collect()(0).getLong(0)
  }

  /** Shared re-rank tail: id-pair candidates → narrow payload rejoin →
    * exact cosine → top-k per query (the shuffle up to here carried id pairs
    * only, never two embeddings per candidate row). */
  private def rerank(candIds: DataFrame, emb: DataFrame, k: Int): DataFrame = {
    val payload = emb.select(col("vec_id"), col("embedding"))
    val cand = candIds
      .join(payload.select(col("vec_id").as("query_id"), col("embedding").as("qv")), Seq("query_id"))
      .join(payload.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")), Seq("neighbor_id"))
    graft.spark.GraftFunctions.register(emb.sparkSession)
    val scored = cand.withColumn("cos",
      graft.spark.GraftFunctions.cos_sim(col("qv"), col("cv"))) // ≡ cosineSql
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /**
   * ANN via IVF-flat: a coarse quantizer of `nCells` centroids partitions the
   * corpus into inverted lists; a query scans only its `nProbe` nearest
   * cells. Centroids here are the first `nCells` corpus vectors (a
   * deterministic seeding both engines reproduce bit-for-bit — production
   * swaps in offline-trained k-means centroids; float mean refinement is
   * order-dependent, so a trained quantizer arrives as DATA, not as an
   * in-query aggregation). The 100 TB shape: assignment is one broadcast
   * join against nCells rows + per-vector argmax; the search join carries
   * (cell, id) rows only, candidates bounded by the probed lists — never
   * all-pairs, and the inverted lists co-partition on cell.
   */
  /** Deterministic per-cell cap on the IVF inverted lists (VERDICT r4 ask
    * #5, closing the PLANS.md hot-cell residual): a degenerate centroid
    * (e.g. the zero-vector cell every boilerplate embedding lands in) makes
    * one inverted list a constant fraction of the corpus, so a probe into
    * it rescores O(corpus) candidates — the straggler class the LSH and
    * near-dup bucket caps already guard. r5: a cell that exceeds the cap is
    * no longer sliced (the slice dropped over-cap members from search
    * entirely — a recall hole, not just a straggler); it SPLITS into
    * deterministic LSH sub-cells (see [[ivfTopK]]), and the cap survives
    * only as the per-(cell, sub) guard for the pathological case where
    * [[IvfMaxSubBits]] is exhausted. The bench reports `ivf_max_cell` and
    * `ivf_max_subcell` beside it so a binding guard is visible, never
    * silent. Production recurses the split (or re-trains the quantizer);
    * one parameterized level is the bound that keeps the query alive until
    * then. */
  val IvfCellCap = 1024

  /** Hyperplane index base for the hot-cell split signature — clear of the
    * 8×3 ANN-table planes (j 0..23) and the 12 near-dup planes (j 24 is
    * unused; near-dup uses 0..11), and inside `PipelineExprOps`' cached
    * j < 64 hot range. */
  val IvfSplitPlaneStart = 40

  /** Max sub-cell bits for one split level: a hot cell fans out into at
    * most 2^4 = 16 sub-cells, so one level absorbs cells up to 16× the cap
    * with zero recall loss (every member stays searchable). */
  val IvfMaxSubBits = 4

  /** Corpus → cell assignment as ONE zero-exchange codegen'd projection:
    * the quantizer is COLLECTED (bounded by nCells — a trained production
    * quantizer arrives as exactly this kind of small driver-side data, the
    * same transport class as `bloom_might_contain_bc`'s filter) and rides to
    * executors as one broadcast probed by the native `ivf_assign_bc`
    * expression. Round 5: this replaces a 16×-explode + window argmax —
    * the per-vector window forced a corpus-sized hash(vec_id) exchange AND
    * 16n broadcast-join rows, the only assignment-side shuffle that grew
    * with the corpus; an intermediate SQL-HOF fold (kept below as
    * [[assignCellsSql]], the documented/differential shape) was rejected
    * because AQE stage planning re-materializes an exchange-free
    * interpreted fold ~2-3×. Bit-exact vs the SQL form (PipelineSpec).
    * `ivfTopK` and the audits read the same [[cellOf]] column through
    * [[assignSplit]]. */
  private[graft] def assignCells(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.select(col("vec_id"), cellOf(emb, cent).as("cell"))

  /** The `ivf_assign_bc` cell column of [[assignCells]] over `emb`'s
    * `embedding`, with the collected quantizer riding in its broadcast. */
  private def cellOf(emb: DataFrame, cent: DataFrame): Column = {
    val rows = cent.orderBy("cell").collect()
    val q = graft.spark.IvfQuantizer.build(
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray))
    graft.spark.GraftFunctions.ivf_assign_bc(emb.sparkSession, "ivf-quantizer", q,
      col("embedding"))
  }

  /** The deterministic seed quantizer: the first `nCells` corpus vectors. */
  private def seedCentroids(emb: DataFrame, nCells: Int): DataFrame =
    emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))

  /** ONE zero-exchange pass: (vec_id, cell, sub_full) — the cell and the
    * full-width split signature (the sub bits cost nothing when no cell is
    * hot — they only ever gate a join key). */
  private def assignSplit(emb: DataFrame, nCells: Int, maxSubBits: Int): DataFrame = {
    graft.spark.GraftFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), cellOf(emb, seedCentroids(emb, nCells)).as("cell"),
      graft.spark.GraftFunctions.lsh_bits(col("embedding"),
        IvfSplitPlaneStart, maxSubBits).as("sub_full"))
  }

  /** Per-cell split metadata: member count, sub-bit width, hottest masked
    * sub-cell. */
  private case class CellStat(cell: Long, size: Long, subBits: Int, maxSub: Long)

  /** ONE aggregation of an [[assignSplit]] frame gives every cell's
    * [[CellStat]]: (cell, full-width sub) counts are ≤ nCells·2^maxSubBits
    * rows, and per-cell totals → bit widths → masked sub-cell maxima all
    * derive from them driver-side (masking the aggregated key ≡
    * aggregating the masked key, since full-width grouping refines every
    * masked grouping). Inverted-list sizes are quantizer metadata — the
    * same driver-side transport class as the trained quantizer itself. */
  private def cellStats(assigned: DataFrame, cellCap: Int,
      maxSubBits: Int): Seq[CellStat] = {
    val counts = assigned.groupBy("cell", "sub_full").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    counts.groupBy(_._1).map { case (cell, rs) =>
      val size = rs.map(_._3).sum
      val bits = subBitsOf(size, cellCap, maxSubBits)
      val mask = (1L << bits) - 1
      CellStat(cell, size, bits,
        rs.groupBy(t => t._2 & mask).values.map(_.map(_._3).sum).max)
    }.toSeq.sortBy(_.cell)
  }

  /** The assignment's documented SQL shape — the mirror of the DuckDB
    * oracle and the differential gate for the native kernel (PipelineSpec
    * asserts row-for-row equality with [[assignCells]]); not on the
    * runtime path. */
  private[graft] def assignCellsSql(emb: DataFrame, cent: DataFrame): DataFrame = {
    val centArr = cent
      .agg(sort_array(collect_list(struct(col("cell"), col("centroid"))))
        .as("cents"))
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), expr(
        s"""aggregate(
              transform(cents, c ->
                struct(${cosineSql("embedding", "c.centroid")} AS ccos,
                       c.cell AS cell)),
              cast(named_struct('ccos', -2.0, 'cell', -1)
                   as struct<ccos:double, cell:bigint>),
              (acc, s) -> IF(s.ccos > acc.ccos, s, acc),
              acc -> acc.cell)""").as("cell"))
  }

  /** Per-cell sub-bit width for one split level: the smallest b ≥ 1 with
    * expected sub-cell `cnt/2^b ≤ cap/2` (b = 0 iff `cnt ≤ cap`), capped at
    * maxSubBits — pure INTEGER bounds, so the DuckDB mirror can never
    * drift on float log/ceil rounding. The cap/2 target (rather than cap)
    * spends one extra margin bit to absorb within-cluster skew: a tight
    * cluster shares most split-plane bits, so its members concentrate in
    * few sub-cells — measured on a 4000-member degenerate cluster (round
    * 5, BASELINE.md "Measurement history"), the margin bit lifts hot-query
    * recall@5 0.750 → 0.830 (the pre-split slice reads 0.640) and shrinks
    * the hottest list.
    * [[subBitsOf]] (driver-side, [[cellStats]]) and [[subBitsCase]]
    * (Column form, the shape the PipelineSpec differentials and the DuckDB
    * mirror use) both read these bounds — one source of truth. */
  private def subBitBound(cellCap: Int, b: Int): Long =
    if (b == 0) cellCap.toLong else cellCap.toLong << (b - 1)

  private[graft] def subBitsOf(cnt: Long, cellCap: Int, maxSubBits: Int): Int =
    (0 until maxSubBits).find(b => cnt <= subBitBound(cellCap, b))
      .getOrElse(maxSubBits)

  private[graft] def subBitsCase(cnt: org.apache.spark.sql.Column, cellCap: Int,
      maxSubBits: Int): org.apache.spark.sql.Column =
    (0 until maxSubBits).foldRight(lit(maxSubBits)) { (b, rest) =>
      when(cnt <= subBitBound(cellCap, b), lit(b)).otherwise(rest)
    }

  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, cellCap: Int = IvfCellCap,
      maxSubBits: Int = IvfMaxSubBits): DataFrame = {
    val spark = emb.sparkSession
    val cent = seedCentroids(emb, nCells)
    val assigned = assignSplit(emb, nCells, maxSubBits)
    // hot-cell split (r5, closes the PLANS.md residual): a cell past the
    // cap fans out into 2^b deterministic LSH sub-cells (smallest b with
    // expected sub-cell ≤ cap/2 — the margin bit absorbs within-cluster
    // skew, see subBitsCase) instead of dropping its over-cap members from
    // search; near vectors share sub-bits with high probability, and the
    // query multi-probes 1-bit flips, so recall degrades gracefully
    // instead of cliffing at the cap.
    //
    // split-failure detector (PipelineSpec "IVF hot-cell split", its
    // identical-family input): an identical-vector family shares every
    // split-plane bit, so it collapses into ONE
    // sub-cell no width can separate — and a query whose own sub differs
    // by ≥2 bits would miss the whole family under 1-bit multiprobe (the
    // pre-split slice incidentally found it, since it ignored subs). Any
    // cell whose hottest sub-cell still exceeds the cap is flagged, and
    // queries probing a flagged cell probe ALL 2^b of its sub-cells —
    // deterministic, mirrored in the oracle, and bounded at 2^maxSubBits
    // × cap candidates per probe: strictly more reachable members than
    // the old slice's flat cap, never unbounded.
    val cellMeta = {
      import spark.implicits._
      cellStats(assigned, cellCap, maxSubBits)
        .map(c => (c.cell, c.subBits, c.maxSub > cellCap))
        .toDF("cell", "sub_bits", "probe_all")
    }
    val members = assigned.join(broadcast(cellMeta.select("cell", "sub_bits")), Seq("cell"))
      .withColumn("sub", col("sub_full")
        .bitwiseAND(expr("shiftleft(1L, sub_bits) - 1L")))
    // the cap survives as the per-(cell, sub) GUARD for maxSubBits
    // exhaustion (cell > 2^maxSubBits × cap): spillable window rank, never
    // a whole-key aggregation buffer; `ivf_max_subcell` reports whether it
    // binds
    val wCap = Window.partitionBy("cell", "sub").orderBy("vec_id")
    val capped = members.withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= cellCap).select("cell", "sub", "vec_id")
    // only the QUERY subset ranks all cells for its nProbe list — the
    // vec_id filter reaches the scan, so this window is over nQueries rows
    val wCell = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cell").asc)
    val probeFlips = col("qsub") +: (0 until maxSubBits)
      .map(b => col("qsub").bitwiseXOR(lit(1L << b)))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        graft.spark.GraftFunctions.cos_sim(col("embedding"), col("centroid"))) // ≡ cosineSql
      .withColumn("r", row_number().over(wCell))
      .filter(col("r") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cell"),
        graft.spark.GraftFunctions.lsh_bits(col("embedding"),
          IvfSplitPlaneStart, maxSubBits).as("qsub_full"))
      .join(broadcast(cellMeta), Seq("cell"))
      .withColumn("qsub", col("qsub_full")
        .bitwiseAND(expr("shiftleft(1L, sub_bits) - 1L")))
      // probe the exact sub-cell + every 1-bit flip WITHIN the cell's bit
      // width: slice(…, 1, sub_bits + 1) keeps [exact] for a cold cell
      // (sub_bits = 0) and [exact, flip b0 … flip b(n-1)] for a hot one;
      // a split-failed cell (probe_all) probes its whole sub range instead
      .withColumn("sub", explode(
        when(col("probe_all"),
          expr("sequence(0L, shiftleft(1L, sub_bits) - 1L)"))
          .otherwise(slice(array(probeFlips: _*), lit(1), col("sub_bits") + 1))))
      .select(col("query_id"), col("cell"), col("sub"))
    val candIds = probes.join(capped, Seq("cell", "sub"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .distinct()
    rerank(candIds, emb, k)
  }

  /** Max IVF cell population (pre-split) — the bench reports this beside
    * [[IvfCellCap]] (binding caps visible, not silent). */
  def ivfMaxCell(emb: DataFrame, nCells: Int = 16): Long =
    cellStats(assignSplit(emb, nCells, IvfMaxSubBits), IvfCellCap, IvfMaxSubBits)
      .map(_.size).max

  /** Number of probe_all-flagged cells (hottest sub-cell still over the
    * cap — split-failed, e.g. an identical-vector family): queries probing
    * such a cell rescore up to 2^maxSubBits·cap candidates instead of
    * (1+bits)·cap. Reported in the bench JSON so the wider probe set is
    * visible, never silent (house rule for every guard). */
  def ivfFlaggedCells(emb: DataFrame, nCells: Int = 16,
      cellCap: Int = IvfCellCap, maxSubBits: Int = IvfMaxSubBits): Long =
    cellStats(assignSplit(emb, nCells, maxSubBits), cellCap, maxSubBits)
      .count(_.maxSub > cellCap).toLong

  /** Max IVF (cell, sub) population AFTER the hot-cell split — the list
    * size a probe actually rescores, and the guard audit for the residual
    * per-(cell, sub) cap: the guard binds iff this exceeds [[IvfCellCap]]
    * (i.e. a cell blew through all [[IvfMaxSubBits]] split bits). */
  def ivfMaxSubcell(emb: DataFrame, nCells: Int = 16,
      cellCap: Int = IvfCellCap, maxSubBits: Int = IvfMaxSubBits): Long =
    cellStats(assignSplit(emb, nCells, maxSubBits), cellCap, maxSubBits)
      .map(_.maxSub).max

  /** Embedding near-dup pairs: constructed perturbed copies (id+1000000,
    * first component nudged 0.1%) must pair with their source at cosine ≥
    * minCos; random 64-dim pairs sit far below. Candidate generation via
    * LSH bucket join, verification exact. */
  def withSyntheticNearDups(emb: DataFrame): DataFrame =
    // single-pass form (r6, see TextPipeline.withSyntheticDups): one inline
    // explode instead of a union of two scans of the same file
    emb.select(expr(
      """inline(concat(
           array(struct(vec_id, embedding)),
           CASE WHEN vec_id % 10 = 0
             THEN array(struct(vec_id + 1000000L AS vec_id,
               transform(embedding, (x, i) ->
                 CASE WHEN i = 0 THEN cast(x * 1.001D as float) ELSE x END)
               AS embedding))
             ELSE array() END))"""))

  /** Deterministic per-bucket cap for the near-dup pair join (VERDICT r3 ask
    * #3): without it one degenerate 12-bit bucket (all-zero or boilerplate
    * embeddings) is an O(b²) candidate blowup — the same straggler/OOM class
    * [[LshBucketCap]] guards in `lshTopK`. Sorted-slice keeps the cap
    * deterministic and oracle-mirrored; the bench reports
    * `neardup_max_bucket` beside it so a binding cap is visible. */
  val NearDupBucketCap = 1024

  def embeddingNearDupPairs(emb: DataFrame, minCos: Double,
      maxBucket: Int = NearDupBucketCap): DataFrame = {
    val corpus = withSyntheticNearDups(emb)
    // id-pair + narrow-rerank pattern (same as lshTopK/minhashPairs,
    // VERDICT r2 ask #3): the bucket self-join shuffles (bucket, vec_id)
    // rows only — never two 64-float embeddings per candidate row; the
    // payloads rejoin on the deduped id pairs. One signature per vector ⇒
    // each pair appears in at most one bucket, so no distinct is needed.
    graft.spark.GraftFunctions.register(emb.sparkSession)
    // native one-pass 12-bit signature (≡ lshSignatureSql, differential)
    val sig = corpus.withColumn("bucket",
        graft.spark.GraftFunctions.lsh_bits(col("embedding"), 0, 12))
      .select(col("vec_id"), col("bucket"))
    // deterministic bucket cap (r3 ask #3, oracle-mirrored), r5 shape: a
    // spillable window rank replaces sort_array(collect_list) — the slice
    // semantics are identical (first maxBucket ids ascending), but an
    // over-cap bucket no longer materializes as ONE aggregation buffer
    // (a 10^8-member boilerplate bucket at 100 TB = executor OOM);
    // WindowExec sorts rows per partition and spills.
    val wB = Window.partitionBy("bucket").orderBy("vec_id")
    val ranked = sig.withColumn("rn", row_number().over(wB))
    val capped = ranked.filter(col("rn") <= maxBucket).select("bucket", "vec_id")
    // Star fallback for over-cap buckets (r5, closes for near-dup the
    // cap-limited-sampling recall hole the r4 verdict flagged on simhash):
    // members PAST the cap slice — which previously got zero candidate
    // edges — each pair with the bucket representative (min vec_id). O(b)
    // extra work instead of O(b²), and every member of a giant
    // near-identical cluster keeps ≥1 edge, so union-find connectivity of
    // the cluster survives the cap. Disjoint from the all-pairs set (id_b
    // has rn > cap there), so no distinct is needed.
    val rep = ranked.filter(col("rn") === 1)
      .select(col("bucket"), col("vec_id").as("rep_id"))
    val starIds = ranked.filter(col("rn") > maxBucket)
      .join(rep, Seq("bucket"))
      .select(col("rep_id").as("id_a"), col("vec_id").as("id_b"))
    val candIds = capped.as("a").join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .unionByName(starIds)
    val payload = corpus.select(col("vec_id"), col("embedding"))
    candIds
      .join(payload.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(payload.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
      .withColumn("cos",
        graft.spark.GraftFunctions.cos_sim(col("va"), col("vb"))) // ≡ cosineSql
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b")
  }
}
