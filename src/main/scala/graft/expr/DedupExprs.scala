package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document dedup-sketch kernels (MinHash signature, SimHash
  * fingerprint) as native Catalyst Expressions.
  *
  * Both sketches are functions of one document, yet the expression-only
  * pipelines compute them with explode + distinct/groupBy — two shuffles
  * of ~tokens·docs rows to regroup values that were never apart. Each
  * kernel instead makes one pass over the normalized text's UTF-8 bytes
  * (tokens/shingles are contiguous byte ranges — normText collapses
  * whitespace to single 0x20 bytes, which in UTF-8 never occur inside a
  * multi-byte sequence), hashing ranges in place. Map-only at any scale.
  *
  * The inner hash is a **portable polynomial hash over Unicode code
  * points** (base 131 / 137, modulus P = 2³¹−1): the same fold any other
  * engine can express with `ascii(substring(s, i, 1))`-style built-ins,
  * which is what makes the MinHash/SimHash query entries DuckDB-oracle
  * checkable (q32/q33/q36/q37) — unlike an engine-private hash such as
  * xxhash64. All arithmetic stays in non-overflowing Long range:
  * acc·base + cp < 2³¹·137 + 2²¹ < 2³⁹.
  *
  * Precondition: input is already normalized (trimmed, single-space
  * separated) — compose via [[graft.ops.Dedup.normText]] as the builders
  * in Dedup do.
  *
  * Two exact algebraic identities make kernel == pipeline:
  *  - min over a multiset equals min over its distinct set, so MinHash
  *    needs no shingle dedup;
  *  - per-occurrence ±1 bit votes sum to the tf-weighted votes, so
  *    SimHash needs no token-frequency grouping.
  */
object DedupKernel {
  final val P = 2147483647L // 2^31 - 1, hash range and permutation modulus
  final val B1 = 131L // polynomial base, lane 1 (MinHash + SimHash low lane)
  final val B2 = 137L // polynomial base, lane 2 (SimHash high lane)
  final val SimHashBits = 62 // two 31-bit lanes

  /** Deterministic per-permutation affine coefficients from splitmix64 —
    * inlined into the DuckDB oracle SQL (PipelineQueries) so both engines
    * use identical permutations. */
  def perm(i: Int): (Long, Long) = {
    var x = i.toLong + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    val a = 1L + java.lang.Math.floorMod(x, P - 1)
    val b = java.lang.Math.floorMod(x ^ (x >>> 31), P)
    (a, b)
  }

  /** Polynomial fold over the Unicode code points of the UTF-8 byte range
    * [from, until): acc ← (acc·base + codePoint) mod P. Decodes UTF-8
    * inline so the result equals a per-character fold over the string —
    * the form other engines express with ascii(substr(s, i, 1)). */
  private def polyFold(s: UTF8String, from: Int, until: Int, base: Long): Long = {
    var acc = 0L
    var i = from
    while (i < until) {
      val b = s.getByte(i) & 0xff
      var cp = 0
      var n = 1
      if (b < 0x80) { cp = b }
      else if ((b & 0xe0) == 0xc0) { cp = b & 0x1f; n = 2 }
      else if ((b & 0xf0) == 0xe0) { cp = b & 0x0f; n = 3 }
      else { cp = b & 0x07; n = 4 }
      var k = 1
      while (k < n && i + k < until) {
        cp = (cp << 6) | (s.getByte(i + k) & 0x3f)
        k += 1
      }
      acc = (acc * base + cp) % P
      i += n
    }
    acc
  }

  /** MinHash signature of the w-shingle multiset: for every run of w
    * consecutive words (= the byte range from the first word's start to
    * the last word's end), h = polyFold(range, B1), then numHashes
    * affine-permuted minima. Empty array when the text has < w words. */
  def minHashSig(s: UTF8String, numHashes: Int, w: Int): ArrayData = {
    val n = s.numBytes
    // word start/end byte offsets (single-space separated input)
    var nWords = 0
    var i = 0
    while (i < n) { if (s.getByte(i) == ' ') nWords += 1; i += 1 }
    nWords = if (n == 0) 0 else nWords + 1
    if (nWords < w) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val starts = new Array[Int](nWords)
    val ends = new Array[Int](nWords)
    var wi = 0
    var ws = 0
    i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' ') {
        starts(wi) = ws; ends(wi) = i; wi += 1; ws = i + 1
      }
      i += 1
    }
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    val mins = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      val (a, b) = perm(j); as(j) = a; bs(j) = b; mins(j) = Long.MaxValue
      j += 1
    }
    val nSh = nWords - w + 1
    var sh = 0
    while (sh < nSh) {
      val h = polyFold(s, starts(sh), ends(sh + w - 1), B1)
      j = 0
      while (j < numHashes) {
        val v = (h * as(j) + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      sh += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** 62-bit SimHash: per token the two-lane hash
    * h = (polyFold(tok, B1) << 31) | polyFold(tok, B2), then ±1 vote per
    * bit of h per token occurrence; bit j of the fingerprint = sign of
    * vote j. Returns boxed null when the text has no tokens (matching the
    * pipeline, which drops empty documents before grouping). */
  def simHash62(s: UTF8String): java.lang.Long = {
    val n = s.numBytes
    val votes = new Array[Int](SimHashBits)
    var any = false
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' ') {
        if (i > ws) { // skip empty tokens, as the pipeline's length>0 filter does
          any = true
          val h = (polyFold(s, ws, i, B1) << 31) | polyFold(s, ws, i, B2)
          var j = 0
          while (j < SimHashBits) {
            votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
            j += 1
          }
        }
        ws = i + 1
      }
      i += 1
    }
    if (!any) return null
    var fp = 0L
    var j = 0
    while (j < SimHashBits) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    java.lang.Long.valueOf(fp)
  }

  /** Portable hash-projection embedding of a normalized (single-space)
    * text: token th = polyFold(token, B1); dimension d accumulates the
    * INTEGER sum S_d = Σ_tokens (th·a_d + b_d) mod P with the same
    * [[perm]] coefficients the MinHash oracle inlines; the float value is
    * then the single expression (2·S_d)/P − nTokens — a pseudo-random
    * ±[-1,1) bag-of-words projection whose only float arithmetic is one
    * multiply, one divide and one subtract per dimension, so any engine
    * replays it bit-for-bit (the integer sums are order-independent).
    * The deterministic stand-in for a sentence-transformer in end-to-end
    * pipeline entries (q64) — same shape as HashEmbedder but
    * oracle-replayable. Zero-token text → null. */
  def polyEmbed(s: UTF8String, dim: Int): ArrayData = {
    val n = s.numBytes
    val sums = new Array[Long](dim)
    var nTok = 0L
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' ') {
        if (i > ws) {
          nTok += 1
          val th = polyFold(s, ws, i, B1)
          var d = 0
          while (d < dim) {
            val (a, b) = permCached(d)
            sums(d) += (th * a + b) % P
            d += 1
          }
        }
        ws = i + 1
      }
      i += 1
    }
    if (nTok == 0L) return null
    val out = new Array[Float](dim)
    var d = 0
    while (d < dim) {
      out(d) = ((2.0d * sums(d)) / P.toDouble - nTok.toDouble).toFloat
      d += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [total, distinct] counts of the word n-gram codes of a normalized
    * text, in one pass: token hash = polyFold(token, B1); n-gram code at
    * position i = left fold (code·B1 + h) mod P over the n token hashes
    * from i — identical arithmetic to the expression-only
    * `TextAnalysis.ngramCodes` and the q67 DuckDB oracle. Boxed null when
    * the text has fewer than n tokens (the pipeline drops those rows).
    * The codegen fast path for repetition scoring: the HOF pipeline
    * (transform/zip_with/array_distinct) is interpreted per element and
    * measured ~6× slower at sf0.1. */
  def ngramDupCounts(s: UTF8String, n: Int): ArrayData = {
    val nb = s.numBytes
    var nWords = 0
    var i = 0
    while (i < nb) { if (s.getByte(i) == ' ') nWords += 1; i += 1 }
    nWords = if (nb == 0) 0 else nWords + 1
    if (nWords < n) return null
    val hs = new Array[Long](nWords)
    var wi = 0
    var ws = 0
    i = 0
    while (i <= nb) {
      if (i == nb || s.getByte(i) == ' ') {
        hs(wi) = polyFold(s, ws, i, B1); wi += 1; ws = i + 1
      }
      i += 1
    }
    val m = nWords - n + 1
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    var p = 0
    while (p < m) {
      var code = hs(p)
      var j = 1
      while (j < n) { code = (code * B1 + hs(p + j)) % P; j += 1 }
      seen.add(code)
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(m.toLong, seen.size.toLong))
  }

  /** Distinct word n-gram codes of a normalized text, in one pass and in
    * first-occurrence order — the exact value of
    * `array_distinct(TextAnalysis.ngramCodes(text, n))` (same rolling
    * fold as [[ngramDupCounts]]), as a primitive long array. Empty array
    * when the text has fewer than n tokens (matching the HOF pipeline).
    * The codegen fast path for decontamination / cross-doc n-gram ops:
    * swapping it in took q77 from 4.5s to 0.42s at sf0.1 (the HOF chain
    * interprets its lambdas per element and was evaluated twice in the
    * plan). */
  def distinctNgramCodes(s: UTF8String, n: Int): ArrayData = {
    val nb = s.numBytes
    // empty text: split('', ' ') yields [''] in the HOF pipeline, whose
    // single empty token folds to code 0 — so n=1 must yield [0] for the
    // documented kernel ≡ array_distinct(ngramCodes) identity to hold
    if (nb == 0)
      return UnsafeArrayData.fromPrimitiveArray(
        if (n == 1) Array(0L) else Array.emptyLongArray)
    var nWords = 0
    var i = 0
    while (i < nb) { if (s.getByte(i) == ' ') nWords += 1; i += 1 }
    nWords += 1
    if (nWords < n)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = new Array[Long](nWords)
    var wi = 0
    var ws = 0
    i = 0
    while (i <= nb) {
      if (i == nb || s.getByte(i) == ' ') {
        hs(wi) = polyFold(s, ws, i, B1); wi += 1; ws = i + 1
      }
      i += 1
    }
    val m = nWords - n + 1
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m)
    var k = 0
    var p = 0
    while (p < m) {
      var code = hs(p)
      var j = 1
      while (j < n) { code = (code * B1 + hs(p + j)) % P; j += 1 }
      if (seen.add(code)) { out(k) = code; k += 1 }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }

  /** ALL word n-gram codes of a normalized text, in POSITIONAL order —
    * the exact value of `TextAnalysis.ngramCodes(text, n)` (same token
    * fold, same n-gram fold as [[distinctNgramCodes]], duplicates kept,
    * index = n-gram start position). The codegen fast path for
    * position-aware n-gram ops (contamination run detection): the HOF
    * template interprets its n−1 zip_with lambdas per element, which at
    * n=8 over a corpus-sized posexplode dominates the whole query.
    * Empty array when the text has fewer than n tokens; empty text with
    * n=1 yields [0] (the HOF pipeline's single empty token). */
  def allNgramCodes(s: UTF8String, n: Int): ArrayData = {
    val nb = s.numBytes
    if (nb == 0)
      return UnsafeArrayData.fromPrimitiveArray(
        if (n == 1) Array(0L) else Array.emptyLongArray)
    var nWords = 0
    var i = 0
    while (i < nb) { if (s.getByte(i) == ' ') nWords += 1; i += 1 }
    nWords += 1
    if (nWords < n)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = new Array[Long](nWords)
    var wi = 0
    var ws = 0
    i = 0
    while (i <= nb) {
      if (i == nb || s.getByte(i) == ' ') {
        hs(wi) = polyFold(s, ws, i, B1); wi += 1; ws = i + 1
      }
      i += 1
    }
    val m = nWords - n + 1
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      var code = hs(p)
      var j = 1
      while (j < n) { code = (code * B1 + hs(p + j)) % P; j += 1 }
      out(p) = code
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // perm() is cheap but called per token×dim in polyEmbed — memoize the
  // low dimensions once (thread-safe: idempotent pure writes)
  private val permCache = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private def permCached(i: Int): (Long, Long) = {
    val c = permCache.get(i)
    if (c != null) c
    else { val v = perm(i); permCache.putIfAbsent(i, v); v }
  }

  /** Hashed unigram + adjacent-bigram feature buckets of a normalized
    * document — the fastText feature map ([[graft.ops.QualityModel]]),
    * one pass: every token span contributes polyFold(span, B1) mod k,
    * and every adjacent pair contributes the fold of the CONTIGUOUS byte
    * range from the previous token's start to this token's end (single-
    * space separation makes "tok1 tok2" exactly that range — the same
    * contiguity trick the MinHash shingles use). Order of the output
    * array is unigrams then bigrams; consumers aggregate, so order never
    * matters. Empty text → empty array (no features to judge). */
  def featureBuckets(s: UTF8String, k: Int): ArrayData = {
    val n = s.numBytes
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    var nWords = 1
    var i = 0
    while (i < n) { if (s.getByte(i) == ' ') nWords += 1; i += 1 }
    val starts = new Array[Int](nWords)
    val ends = new Array[Int](nWords)
    var wi = 0
    var ws = 0
    i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' ') {
        starts(wi) = ws; ends(wi) = i; wi += 1; ws = i + 1
      }
      i += 1
    }
    val out = new Array[Long](2 * nWords - 1)
    wi = 0
    while (wi < nWords) {
      out(wi) = polyFold(s, starts(wi), ends(wi), B1) % k
      if (wi >= 1)
        out(nWords + wi - 1) = polyFold(s, starts(wi - 1), ends(wi), B1) % k
      wi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def minHashSigCol(normText: Column, numHashes: Int = 32, w: Int = 3): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(normText), numHashes, w))

  def featureBucketsCol(normText: Column, k: Int): Column =
    ColumnBridge.column(FeatureBuckets(ColumnBridge.expression(normText), k))

  def polyEmbedCol(normText: Column, dim: Int = 64): Column =
    ColumnBridge.column(PolyEmbed(ColumnBridge.expression(normText), dim))

  def simHash62Col(normText: Column): Column =
    ColumnBridge.column(SimHash62(ColumnBridge.expression(normText)))

  def ngramDupCountsCol(normText: Column, n: Int): Column =
    ColumnBridge.column(NgramDupCounts(ColumnBridge.expression(normText), n))

  def distinctNgramCodesCol(normText: Column, n: Int): Column =
    ColumnBridge.column(DistinctNgramCodes(ColumnBridge.expression(normText), n))

  def allNgramCodesCol(normText: Column, n: Int): Column =
    ColumnBridge.column(AllNgramCodes(ColumnBridge.expression(normText), n))
}

/** array<long> MinHash signature of a normalized document (see
  * [[DedupKernel.minHashSig]]). */
case class MinHashSig(child: Expression, numHashes: Int, w: Int) extends UnaryKernel {
  require(numHashes > 0 && w > 0, s"need positive numHashes/w, got $numHashes/$w")
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.DedupKernel.minHashSig"
  override protected def constants: Seq[Any] = Seq(numHashes, w)

  override def nullSafeEval(input: Any): Any =
    DedupKernel.minHashSig(input.asInstanceOf[UTF8String], numHashes, w)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<long> hashed unigram+bigram feature buckets of a normalized text
  * (see [[DedupKernel.featureBuckets]]); empty array for empty text. */
case class FeatureBuckets(child: Expression, k: Int) extends UnaryKernel {
  require(k >= 1, s"need positive bucket count, got $k")
  override def prettyName: String = "feature_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.DedupKernel.featureBuckets"
  override protected def constants: Seq[Any] = Seq(k)

  override def nullSafeEval(input: Any): Any =
    DedupKernel.featureBuckets(input.asInstanceOf[UTF8String], k)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<float> portable hash-projection embedding of a normalized text;
  * null when the text has no tokens (see [[DedupKernel.polyEmbed]]). */
case class PolyEmbed(child: Expression, dim: Int) extends UnaryKernel {
  require(dim > 0, s"need positive dim, got $dim")
  override def prettyName: String = "poly_embed"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.DedupKernel.polyEmbed"
  override protected def constants: Seq[Any] = Seq(dim)
  override protected def nullResult: Boolean = true

  override def nullSafeEval(input: Any): Any =
    DedupKernel.polyEmbed(input.asInstanceOf[UTF8String], dim)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 62-bit SimHash fingerprint of a normalized document; null when the
  * document has no tokens (see [[DedupKernel.simHash62]]). */
case class SimHash62(child: Expression) extends UnaryKernel {
  override def prettyName: String = "simhash62"
  override def dataType: DataType = LongType
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.DedupKernel.simHash62"
  override protected def nullResult: Boolean = true

  override def nullSafeEval(input: Any): Any =
    DedupKernel.simHash62(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<long> distinct word n-gram codes of a normalized document, in
  * first-occurrence order; empty when it has fewer than n tokens (see
  * [[DedupKernel.distinctNgramCodes]]). */
case class DistinctNgramCodes(child: Expression, n: Int) extends UnaryKernel {
  require(n >= 1, s"need positive n-gram size, got $n")
  override def prettyName: String = "distinct_ngram_codes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.DedupKernel.distinctNgramCodes"
  override protected def constants: Seq[Any] = Seq(n)

  override def nullSafeEval(input: Any): Any =
    DedupKernel.distinctNgramCodes(input.asInstanceOf[UTF8String], n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<long> ALL word n-gram codes of a normalized document in
  * positional order; empty when it has fewer than n tokens (see
  * [[DedupKernel.allNgramCodes]]). */
case class AllNgramCodes(child: Expression, n: Int) extends UnaryKernel {
  require(n >= 1, s"need positive n-gram size, got $n")
  override def prettyName: String = "all_ngram_codes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.DedupKernel.allNgramCodes"
  override protected def constants: Seq[Any] = Seq(n)

  override def nullSafeEval(input: Any): Any =
    DedupKernel.allNgramCodes(input.asInstanceOf[UTF8String], n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [n_ngrams, n_distinct] word n-gram repetition counts of a normalized
  * document; null when it has fewer than n tokens (see
  * [[DedupKernel.ngramDupCounts]]). */
case class NgramDupCounts(child: Expression, n: Int) extends UnaryKernel {
  require(n >= 1, s"need positive n-gram size, got $n")
  override def prettyName: String = "ngram_dup_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.DedupKernel.ngramDupCounts"
  override protected def constants: Seq[Any] = Seq(n)
  override protected def nullResult: Boolean = true

  override def nullSafeEval(input: Any): Any =
    DedupKernel.ngramDupCounts(input.asInstanceOf[UTF8String], n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
