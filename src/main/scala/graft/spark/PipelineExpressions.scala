package graft.spark

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native expressions for the training-data pipeline hot paths. These compute
 * EXACTLY the values of the documented SQL-HOF forms in
 * [[graft.pipeline.TextPipeline]] (asserted by PipelineSpec's differential),
 * so the DuckDB oracles are unchanged — only the per-row cost drops.
 *
 * The kernels live in [[PipelineExprOps]] (and [[IvfQuantizer.assign]]).
 * Each expression's `nullSafeEval` calls one, and [[BodyCodegen]] calls that
 * `nullSafeEval` from the generated code, so a projection containing these
 * stays inside ONE whole-stage codegen stage. Each declares its input types
 * (`ExpectsInputTypes`), so a wrongly typed argument fails analysis instead
 * of a task.
 */
object PipelineExprOps {
  private final val P = graft.pipeline.TextPipeline.P
  private final val K = 16

  /** One-pass 16-hash MinHash signature; empty input → 16 nulls (like
    * `array_min([])`). */
  def minhashSig(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](K)
    if (n == 0) return new GenericArrayData(out)
    val mins = Array.fill(K)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < K) {
        val v = (h * (2 * i + 3) + 5 * i + 7) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    var i = 0
    while (i < K) { out(i) = mins(i); i += 1 }
    new GenericArrayData(out)
  }

  /** One-pass 60-bit SimHash: bits 0..29 vote on the token hashes, bits
    * 30..59 on the derived per-token hash `(h*1009+7) % P` (a second
    * universal-family draw — token hashes are mod P < 2^30, so a single
    * hash only carries 30 usable bits). Bit b set iff ≥ half the hashes
    * have it set (empty input sets every bit, matching the HOF's 0 >= 0).
    * ≡ `TextPipeline.simhashSql`, differentially tested in PipelineSpec. */
  def simhashBits(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](60)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      val h2 = (h * 1009L + 7L) % 1000000007L
      var b = 0
      while (b < 30) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        if (((h2 >>> b) & 1L) == 1L) counts(30 + b) += 1
        b += 1
      }
      j += 1
    }
    var sim = 0L
    var b = 0
    while (b < 60) {
      if (2 * counts(b) >= n) sim += (1L << b)
      b += 1
    }
    sim
  }

  /** Deterministic pseudo-random hyperplane component, the SINGLE source of
    * truth for every LSH plane in the engine (native kernel here, the HOF
    * SQL in `Similarity.lshSignatureSql`, and the DuckDB oracle mirrors all
    * inline literals generated from this function). r5: the previous raw
    * LCG (`(j*64+d)*2654435761 % 1000003`) left consecutive planes as
    * adjacent windows of one LCG stream — Marsaglia lattice correlation
    * made the 12-bit near-dup signature occupy only ~1832 of 4096 buckets
    * with max occupancy 341 on UNIFORM vectors (~17× uniform expectation) —
    * a hot-bucket skew multiplier on every LSH operator at 100 TB. Two
    * xor-shift/multiply avalanche rounds decorrelate the planes: same
    * uniform input measures 3806 buckets, max 36 (~10× better worst
    * bucket). */
  def planeVal(j: Int, d: Int): Double =
    if (j < PlaneCacheJ) planeCache(j * 64 + d) else mixPlane(j, d)

  private def mixPlane(j: Int, d: Int): Double = {
    var h = ((j * 64 + d).toLong * 2654435761L) & 0xFFFFFFFFL
    h ^= h >>> 16
    h = (h * 73244475L) & 0xFFFFFFFFL
    h ^= h >>> 16
    h / 4294967296.0 - 0.5
  }

  // every configured signature uses j < 36 (8×3 ANN tables + 12 near-dup
  // bits); cache the hot range so the per-vector fold is a table read
  private final val PlaneCacheJ = 64
  private lazy val planeCache: Array[Double] =
    Array.tabulate(PlaneCacheJ * 64)(i => mixPlane(i / 64, i % 64))

  /** Random-hyperplane LSH bits ≡ `Similarity.lshSignatureSql` /
    * `lshTopK`'s per-table SQL: bit b (value 1<<b) set iff the sequential
    * double fold of embedding·plane(jStart+b) is ≥ 0, plane components from
    * [[planeVal]]. Mirrors the HOF's null semantics: a non-64-dim or
    * null-holding array zips with nulls → null fold → every bit 0. */
  def lshBits(arr: ArrayData, jStart: Int, nBits: Int): Long = {
    val n = arr.numElements()
    if (n != 64) return 0L
    var d0 = 0
    while (d0 < 64) { if (arr.isNullAt(d0)) return 0L; d0 += 1 }
    var out = 0L
    var b = 0
    while (b < nBits) {
      val j = jStart + b
      var acc = 0.0
      var d = 0
      while (d < 64) {
        acc += arr.getFloat(d).toDouble * planeVal(j, d)
        d += 1
      }
      if (acc >= 0.0) out |= (1L << b)
      b += 1
    }
    out
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** One-pass token hashes ≡ `TextPipeline.tokenHashesSql` (PipelineSpec
    * differential): `transform(split(trim(lower(text)), '\s+'),
    * w -> cast(conv(substr(md5(w),1,15),16,10) as bigint) % P)`. The HOF
    * form runs an interpreted lambda per token whose body re-does
    * digest→hex→parse-hex; this takes the first 60 bits of the digest
    * directly (15 hex digits = bytes 0..6 plus the high nibble of byte 7)
    * and reuses one MessageDigest per thread. lower/trim use the same
    * UTF8String kernels as the built-in expressions; the split is Java
    * regex `\s+` with limit -1, exactly `UTF8String.split`'s behavior
    * (leading/trailing empty tokens preserved identically). */
  def wordHashes(text: UTF8String): ArrayData = {
    val s = text.toLowerCase.trim().toString
    val toks = wsPattern.split(s, -1)
    val md = md5Local.get()
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      v = (v << 4) | ((d(7) & 0xffL) >>> 4)
      out(i) = v % P
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact-cosine kernel ≡ `Similarity.cosineSql` (PipelineSpec
    * differential): dot/norm folds are SEQUENTIAL double accumulations in
    * element order with independent accumulators, exactly the three
    * `aggregate(zip_with(...))` folds of the SQL form, so the result is
    * bit-identical — only the per-row cost drops (the HOF form allocates an
    * intermediate 64-double array and dispatches an interpreted lambda per
    * element, three times per pair). Null semantics mirror the HOF: arrays
    * of unequal length zip with nulls and any null element nulls the fold,
    * so those return null (boxed). */
  def cosSim(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var dot = 0.0
    var aa = 0.0
    var bb = 0.0
    i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (java.lang.Math.sqrt(aa) * java.lang.Math.sqrt(bb)))
  }

  private def isJavaS(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  /** Streaming (acc*31 + codepoint) % P fold over
    * `regexp_replace(trim(text), '\s+', ' ')` — Spark `trim` strips 0x20
    * only; Java regex `\s` is [ \t\n\x0B\f\r]; runs collapse to one 0x20. */
  def normFingerprint(s: UTF8String): Long = {
    val s0 = s.toString
    var start = 0
    var end = s0.length
    while (start < end && s0.charAt(start) == ' ') start += 1
    while (end > start && s0.charAt(end - 1) == ' ') end -= 1
    var acc = 0L
    var pendingSpace = false
    var i = start
    while (i < end) {
      val cp = s0.codePointAt(i)
      if (isJavaS(cp)) pendingSpace = true
      else {
        if (pendingSpace) { acc = (acc * 31 + 32) % P; pendingSpace = false }
        acc = (acc * 31 + cp) % P
      }
      i += Character.charCount(cp)
    }
    if (pendingSpace) acc = (acc * 31 + 32) % P
    acc
  }

  // lang-ID marker tables, built once from TextPipeline.langMarkers (single
  // source of truth shared with the HOF SQL and the DuckDB oracles)
  private val langCodes: Array[UTF8String] =
    graft.pipeline.TextPipeline.langMarkers.map(m => UTF8String.fromString(m._1)).toArray
  private val markerLangs: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    graft.pipeline.TextPipeline.langMarkers.zipWithIndex.foreach { case ((_, ws), i) =>
      ws.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  private val markerLangsS: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    graft.pipeline.TextPipeline.langMarkers.zipWithIndex.foreach { case ((_, ws), i) =>
      ws.foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  /** Fused one-pass text profile ≡ the seven documented per-column SQL
    * forms of `TextPipeline.textAnalysis` (PipelineSpec differential,
    * column by column):
    *   n_tokens       = size(split(trim(lower(text)), '\s+'))
    *   n_chars_norm   = length(regexp_replace(trim(text), '\s+', ' '))
    *   lang_guess / n_stopwords = the langGuessSql / stopwordCountSql
    *                    marker scoring (argmax, code-ascending tie-break)
    *   long_word_pct  = (#tokens with length ≥ 4 · 100) div n_tokens
    *   n_bpe_tokens   = size(regexp_extract_all(text,
    *                    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]', 0))
    *   fingerprint    = the normFingerprint fold
    * Tokenization is the exact built-in chain (UTF8String lower/trim +
    * Java regex split, limit -1); lengths count code points like `length`;
    * the BPE scan reproduces the regex alternation (letter runs; single
    * digits; any single non-letter/digit/ASCII-ws code point — non-ASCII
    * whitespace is NOT Java `\s` and is counted, exactly like the regex).
    * Replaces one split + two regex passes + several HOF filters per row. */
  def textProfile(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = wsPattern.split(text.toLowerCase.trim().toString, -1)
    val nTokens = toks.length.toLong
    val scores = new Array[Long](langCodes.length)
    var nStop = 0L
    var longWords = 0L
    var t = 0
    while (t < toks.length) {
      val w = toks(t)
      if (w.codePointCount(0, w.length) >= 4) longWords += 1
      val langs = markerLangsS.get(w)
      if (langs != null) {
        nStop += 1
        var i = 0
        while (i < langs.length) { scores(langs(i)) += 1; i += 1 }
      }
      t += 1
    }
    var best = 0
    var i = 1
    while (i < scores.length) { if (scores(i) > scores(best)) best = i; i += 1 }
    val longPct = if (nTokens == 0) 0L else longWords * 100L / nTokens

    // normalized char count + fingerprint share one walk over trim(text)
    // (space-only trim, Java-\s runs collapse to one 0x20) — ≡ the
    // normFingerprint fold with a code-point counter alongside
    val s0 = text.toString
    var start = 0
    var end = s0.length
    while (start < end && s0.charAt(start) == ' ') start += 1
    while (end > start && s0.charAt(end - 1) == ' ') end -= 1
    var acc = 0L
    var nNorm = 0L
    var pendingSpace = false
    i = start
    while (i < end) {
      val cp = s0.codePointAt(i)
      if (isJavaS(cp)) pendingSpace = true
      else {
        if (pendingSpace) { acc = (acc * 31 + 32) % P; nNorm += 1; pendingSpace = false }
        acc = (acc * 31 + cp) % P
        nNorm += 1
      }
      i += Character.charCount(cp)
    }
    if (pendingSpace) { acc = (acc * 31 + 32) % P; nNorm += 1 }

    // BPE-ish subword count over the ORIGINAL text
    var nBpe = 0L
    i = 0
    val n0 = s0.length
    while (i < n0) {
      val cp = s0.codePointAt(i)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) {
        nBpe += 1
        var c = cp
        while (i < n0 && {
          c = s0.codePointAt(i)
          (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
        }) i += Character.charCount(c)
      } else {
        if (cp >= '0' && cp <= '9') nBpe += 1
        else if (!isJavaS(cp)) nBpe += 1
        i += Character.charCount(cp)
      }
    }

    org.apache.spark.sql.catalyst.InternalRow(
      nTokens, nNorm, langCodes(best), nStop, longPct, nBpe, acc)
  }

  /** One-pass lang-ID + stopword count ≡ the documented HOF form
    * (PipelineSpec differential): score(lang) = count of tokens in that
    * lang's marker list; guess = first lang (code ascending — the
    * `langMarkers` order) whose score equals the max; n_stopwords = tokens
    * in the union marker set. The CASE-chain SQL re-evaluates ~30
    * interpreted `filter` passes per row (each WHEN recomputes every score
    * + the 5-way greatest); this is ONE token pass with a hash lookup. */
  def langStats(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    val scores = new Array[Long](langCodes.length)
    var nStop = 0L
    var j = 0
    while (j < n) {
      if (!toks.isNullAt(j)) {
        val langs = markerLangs.get(toks.getUTF8String(j))
        if (langs != null) {
          nStop += 1
          var i = 0
          while (i < langs.length) { scores(langs(i)) += 1; i += 1 }
        }
      }
      j += 1
    }
    var best = 0
    var i = 1
    while (i < scores.length) {
      if (scores(i) > scores(best)) best = i
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(langCodes(best), nStop)
  }
}

/** `minhash_sig(shingles)` ≡ `TextPipeline.minhashSigSql`: the 16-hash
  * MinHash signature, sig(i) = min over shingles of (h*(2i+3)+5i+7) % P.
  * The HOF form runs 16 interpreted `transform`+`array_min` passes and
  * allocates 16 intermediate arrays per row; this is one pass, zero
  * allocation beyond the result. */
case class MinhashSig(child: Expression) extends UnaryExpression
    with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PipelineExprOps.minhashSig(input.asInstanceOf[ArrayData])

  override def prettyName: String = "minhash_sig"
  override protected def withNewChildInternal(c: Expression): MinhashSig =
    copy(child = c)
}

/** `simhash_bits(token_hashes)` ≡ `TextPipeline.simhashSql`: 60-bit SimHash
  * (2×30-bit halves) in one pass instead of 60 interpreted `filter` scans.
  * Token hashes are non-negative (mod P), so the HOF's integer `div` equals
  * the unsigned shift used here. */
case class SimhashBits(child: Expression) extends UnaryExpression
    with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PipelineExprOps.simhashBits(input.asInstanceOf[ArrayData])

  override def prettyName: String = "simhash_bits"
  override protected def withNewChildInternal(c: Expression): SimhashBits =
    copy(child = c)
}

/** `norm_fingerprint(text)` ≡ `TextPipeline.fingerprintSql`: the char fold
  * over the whitespace-normalized text in one streaming pass — the HOF form
  * materializes a one-char string per character. */
case class NormFingerprint(child: Expression) extends UnaryExpression
    with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PipelineExprOps.normFingerprint(input.asInstanceOf[UTF8String])

  override def prettyName: String = "norm_fingerprint"
  override protected def withNewChildInternal(c: Expression): NormFingerprint =
    copy(child = c)
}

/** `lsh_bits(embedding, jStart, nBits)` ≡ the HOF hyperplane-fold SQL in
  * [[graft.pipeline.Similarity]] (PipelineSpec differential): one native
  * pass instead of `nBits` interpreted `aggregate(zip_with(...))` folds —
  * the ANN signature map side stays inside whole-stage codegen. */
case class LshBitsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), IntegerType, IntegerType)
  override def checkInputDataTypes(): TypeCheckResult = DomExprUtil.firstFailure(
    super.checkInputDataTypes(),
    DomExprUtil.checkLiteral(second, "lsh_bits jStart")(_.toIntOption.exists(_ >= 0)),
    DomExprUtil.checkLiteral(third, "lsh_bits nBits")(
      _.toIntOption.exists(b => b >= 1 && b <= 63)))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, j: Any, b: Any): Any =
    PipelineExprOps.lshBits(a.asInstanceOf[ArrayData], j.asInstanceOf[Int], b.asInstanceOf[Int])

  override def prettyName: String = "lsh_bits"
  override protected def withNewChildrenInternal(f: Expression, s2: Expression,
      t: Expression): LshBitsExpr = copy(first = f, second = s2, third = t)
}

/** `text_profile(text)` → the full q_text_analysis per-row struct in ONE
  * native pass (see [[PipelineExprOps.textProfile]] for the exact SQL forms
  * each field reproduces; PipelineSpec differential per column). */
case class TextProfile(child: Expression) extends UnaryExpression
    with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_chars_norm", LongType, nullable = false),
    StructField("lang_guess", StringType, nullable = false),
    StructField("n_stopwords", LongType, nullable = false),
    StructField("long_word_pct", LongType, nullable = false),
    StructField("n_bpe_tokens", LongType, nullable = false),
    StructField("fingerprint", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PipelineExprOps.textProfile(input.asInstanceOf[UTF8String])

  override def prettyName: String = "text_profile"
  override protected def withNewChildInternal(c: Expression): TextProfile =
    copy(child = c)
}

/** `word_hashes(text)` ≡ `TextPipeline.tokenHashesSql` (PipelineSpec
  * differential): tokenize + md5-derived word hash in one native pass —
  * the map side of every shingle/simhash signature stays in codegen
  * instead of running an interpreted digest→hex→conv lambda per token. */
case class WordHashes(child: Expression) extends UnaryExpression
    with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PipelineExprOps.wordHashes(input.asInstanceOf[UTF8String])

  override def prettyName: String = "word_hashes"
  override protected def withNewChildInternal(c: Expression): WordHashes =
    copy(child = c)
}

/** `cos_sim(a, b)` ≡ the documented `Similarity.cosineSql` HOF form
  * (PipelineSpec differential): exact cosine in one native pass — the ANN
  * re-rank and brute-force scoring stay inside whole-stage codegen instead
  * of running three interpreted `aggregate(zip_with(...))` folds per pair. */
case class CosSim(left: Expression, right: Expression) extends BinaryExpression
    with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    PipelineExprOps.cosSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def prettyName: String = "cos_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosSim =
    copy(left = l, right = r)
}

/** `text_lang_stats(toks)` → STRUCT<lang_guess STRING, n_stopwords BIGINT> ≡
  * the documented CASE-chain + stopword-filter HOF SQL in
  * [[graft.pipeline.TextPipeline.textAnalysis]] (PipelineSpec differential).
  * The SQL form evaluates every WHEN condition as score ≥ greatest(5 scores)
  * — up to ~30 interpreted `filter` array passes per row, the dominant term
  * of q_text_analysis' wall time (0.37 s of 0.70 s at sf0.1 on the round-3
  * host, BASELINE.md "Measurement history"); this is one token pass. */
case class TextLangStats(child: Expression) extends UnaryExpression
    with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("lang_guess", StringType, nullable = false),
    StructField("n_stopwords", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def nullSafeEval(toks: Any): Any =
    PipelineExprOps.langStats(toks.asInstanceOf[ArrayData])

  override def prettyName: String = "text_lang_stats"
  override protected def withNewChildInternal(c: Expression): TextLangStats =
    copy(child = c)
}

/** IVF coarse quantizer carried to executors as ONE broadcast value:
  * `cells` sorted ASC (the argmax tie-break order), `norms(i)` =
  * sqrt(dot(cents(i), cents(i))) precomputed with the same sequential
  * double fold the SQL form uses, so reuse is bit-exact. */
case class IvfQuantizer(cells: Array[Long], cents: Array[Array[Float]],
    norms: Array[Double])

object IvfQuantizer {
  def build(cells: Array[Long], vecs: Array[Array[Float]]): IvfQuantizer = {
    val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
      java.lang.Math.sqrt(s)
    }
    IvfQuantizer(cells, vecs, norms)
  }

  /** argmax-cosine cell of `e` over the quantizer ≡ the documented SQL
    * fold in [[graft.pipeline.Similarity.assignCellsSql]] (PipelineSpec
    * differential): cosine = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))
    * in sequential double arithmetic; strict greater-than under
    * [[java.lang.Double#compare]] (= Spark's SQLOrderingUtil double
    * ordering) over cells ascending reproduces the cos DESC / cell ASC
    * tie-break; zero element (-2.0, -1) as in the SQL. */
  def assign(e: ArrayData, q: IvfQuantizer): Long = {
    val dim = e.numElements()
    var ee = 0.0
    var i = 0
    while (i < dim) { val x = e.getFloat(i).toDouble; ee += x * x; i += 1 }
    val normE = java.lang.Math.sqrt(ee)
    var best = -2.0
    var bestCell = -1L
    var c = 0
    while (c < q.cells.length) {
      val cv = q.cents(c)
      val n = if (cv.length < dim) cv.length else dim
      var dot = 0.0
      var k = 0
      while (k < n) { dot += e.getFloat(k).toDouble * cv(k).toDouble; k += 1 }
      val cos = dot / (normE * q.norms(c))
      if (java.lang.Double.compare(cos, best) > 0) { best = cos; bestCell = q.cells(c) }
      c += 1
    }
    bestCell
  }
}

/** The [[IvfQuantizer]] broadcasts behind `ivf_assign_bc` — same transport
  * as `bloom_might_contain_bc`'s filter ([[graft.crawl.BroadcastSlots]]). */
object IvfBroadcasts extends graft.crawl.BroadcastSlots[IvfQuantizer]("IVF quantizer")

/** `ivf_assign_bc(key, embedding)` → argmax-cosine cell id over a
  * broadcast-carried quantizer — the IVF assignment as ONE codegen'd
  * narrow expression: zero exchanges, no 16×-row explode, and the
  * interpreted HOF fold (whose re-materialization across AQE stages
  * doubled q_ann_ivf's wall) becomes a static JVM loop. */
case class IvfAssignBc(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[IvfQuantizer])
    extends UnaryExpression with BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType

  @transient private lazy val quant = bc.value

  override def nullSafeEval(e: Any): Any =
    IvfQuantizer.assign(e.asInstanceOf[ArrayData], quant)

  override def prettyName: String = "ivf_assign_bc"
  override protected def withNewChildInternal(c: Expression): IvfAssignBc =
    copy(child = c)
}
