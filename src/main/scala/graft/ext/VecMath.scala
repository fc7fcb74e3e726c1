package graft.ext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData

/** Single-pass JVM kernels for embedding math, called from generated code
  * (see org.apache.spark.sql.graft.CosineSimilarity).
  *
  * Float discipline — must stay bit-identical to the declarative form
  * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` the DuckDB oracles were
  * frozen against: each elementwise product is computed in float32
  * (FLOAT*FLOAT), then widened to double and accumulated sequentially
  * left-to-right; the final cosine divides by sqrt(na)*sqrt(nb) (two
  * square roots multiplied, not sqrt of the product).
  *
  * Scala object methods compile to static forwarders, so Janino-generated
  * Java can call `graft.ext.VecMath.cosine(a, b)` directly — one virtual-
  * call-free loop per row instead of three interpreted CodegenFallback
  * expression trees (the round-1 version spent 36 s of a 70 s bench here).
  */
object VecMath {

  /** True when the pair is comparable under the declarative reference:
    * equal lengths and no null elements. zip_with null-pads a ragged
    * pair and propagates null elements, so the HOF cosine is NULL in
    * both cases — the kernel caller must map !comparable to SQL NULL
    * rather than silently truncating to min(length).
    */
  def cosineComparable(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** cos(a,b) = dot(a,b) / (||a|| * ||b||), one pass over both arrays. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dab = 0.0
    var daa = 0.0
    var dbb = 0.0
    var i = 0
    while (i < n) {
      val fa = a.getFloat(i)
      val fb = b.getFloat(i)
      dab += (fa * fb).toDouble
      daa += (fa * fa).toDouble
      dbb += (fb * fb).toDouble
      i += 1
    }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  /** Driver-side cosine over materialized vectors (same float discipline
    * as `cosine`) — used to fold IVF probe selection into the plan.
    */
  def cosineLocal(a0: Seq[Float], b0: Seq[Float]): Double = {
    // materialize once: Seq apply() is O(n) on a List, turning the loop
    // quadratic in dim for non-indexed callers
    val a = a0.toArray
    val b = b0.toArray
    val n = math.min(a.length, b.length)
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      val fa = a(i); val fb = b(i)
      dab += (fa * fb).toDouble
      daa += (fa * fa).toDouble
      dbb += (fb * fb).toDouble
      i += 1
    }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  /** Sign bucket over the first `bits` dims: bit d set when a(d) > 0f.
    * A vector shorter than `bits` (or a null element) leaves the
    * missing bits UNSET — the SQL reference's `element_at` past the end
    * is NULL and its CASE falls to 0; reading past numElements here
    * would instead throw (generic arrays) or read garbage (unsafe
    * arrays), and sign_bucket is a user-callable SQL function.
    */
  def signBucket(a: ArrayData, bits: Int): Long = {
    var acc = 0L
    var d = 0
    val lim = math.min(bits, a.numElements())
    while (d < lim) {
      if (!a.isNullAt(d) && a.getFloat(d) > 0f) acc |= (1L << d)
      d += 1
    }
    acc
  }

  private val P = 1000000007L

  /** Single-pass tokenizer + per-token polynomial hash: split on single
    * spaces (empty tokens dropped, matching `filter(split(text, " "),
    * _ != "")`), each token hashed as fold((acc*31 + char) % P). One JVM
    * loop replacing a triple-nested CodegenFallback HOF chain
    * (transform(aggregate(transform(split)))). Characters are UTF-16
    * units — identical to Spark's per-char ascii() for BMP text, which
    * is what the frozen oracles cover.
    */
  def tokenCodes(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val (arr, n) = hashTokens(text.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(arr, n))
  }

  /** The ONE tokenize+hash loop (codes array + count) — tokenCodes and
    * vocabStats both consume it, so the tokenizer cannot diverge
    * between the fingerprint/dedup family and the vocab counts (the
    * same shared-by-reference discipline as the q93/export shard hash).
    */
  private def hashTokens(s: String): (Array[Long], Int) = {
    var arr = new Array[Long](16)
    var n = 0
    var h = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') {
        if (inTok) {
          if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
          arr(n) = h; n += 1; h = 0L; inTok = false
        }
      } else {
        h = (h * 31 + c) % P
        inTok = true
      }
      i += 1
    }
    if (inTok) {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n + 1)
      arr(n) = h; n += 1
    }
    (arr, n)
  }

  /** Rolling word n-gram codes, position-preserving: out(i) =
    * fold over k < n of ((acc * 131 + codes(i+k)) % P) when a full
    * n-gram fits, else null — the exact shape of the shifted zip_with
    * chain (Dedup.chainCodes pre-distinct), whose n-1 CodegenFallback
    * HOFs re-evaluate their argument trees per consumer. One generated
    * call, one tight loop; a null input element nulls its positions the
    * way null propagation through the chain arithmetic did.
    */
  def gramCodes(codes: ArrayData, n: Int): ArrayData = {
    val len = codes.numElements()
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      if (i + n <= len) {
        var h = 0L
        var k = 0
        var isNull = false
        while (k < n && !isNull) {
          if (codes.isNullAt(i + k)) isNull = true
          else h = (if (k == 0) codes.getLong(i)
                    else (h * 131 + codes.getLong(i + k)) % P)
          k += 1
        }
        if (!isNull) out(i) = h
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Vocabulary statistics in one JVM pass: tokenize+hash (identical
    * codes to [[tokenCodes]]), sort, count runs — (n_tokens, n_types,
    * n_hapax) as a struct row. Replaces the staged HOF form in
    * TextStats.vocabRichness' hot path: array_sort + array_distinct +
    * a per-position filter lambda are each CodegenFallback and
    * materialize intermediate arrays; here one sort of a primitive
    * long[] and one run-scan produce all three counts inside
    * whole-stage codegen. Token-equality semantics are code-equality,
    * exactly like every fingerprint/dedup operator in this engine.
    */
  def vocabStats(text: org.apache.spark.unsafe.types.UTF8String): InternalRow = {
    val (arr, n) = hashTokens(text.toString)
    java.util.Arrays.sort(arr, 0, n)
    var types = 0L
    var hapax = 0L
    var j = 0
    while (j < n) {
      var k = j + 1
      while (k < n && arr(k) == arr(j)) k += 1
      types += 1
      if (k - j == 1) hapax += 1
      j = k
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, types, hapax))
  }

  /** Repetition statistics in one JVM pass: token count, EXACT distinct
    * token count, the frequency of the most common token and of the most
    * common word-bigram — mode-of-a-list, which in column algebra is a
    * quadratic CodegenFallback HOF chain and previously rode the last
    * ScalaUDF on the surface. Counts are by exact token STRING (not the
    * polynomial code): the repetition screen must never conflate two
    * words a hash collides, so this kernel shares the tokenizer
    * semantics (split on ' ', empties dropped) but NOT the hashing of
    * [[hashTokens]]. Bit-equal to the retired UDF's Scala reference —
    * TextStats.repetitionStatsUdf stays as the parity pin.
    */
  def repStats(text: org.apache.spark.unsafe.types.UTF8String): InternalRow = {
    val s = text.toString
    val cnt = new java.util.HashMap[String, Int]()
    val big = new java.util.HashMap[String, Int]()
    var n = 0L
    var maxTok = 0
    var maxBig = 0
    var prev: String = null
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      if (i < len) {
        val start = i
        while (i < len && s.charAt(i) != ' ') i += 1
        val tok = s.substring(start, i)
        n += 1
        val c = cnt.merge(tok, 1, Integer.sum)
        if (c > maxTok) maxTok = c
        if (prev != null) {
          val b = big.merge(prev + " " + tok, 1, Integer.sum)
          if (b > maxBig) maxBig = b
        }
        prev = tok
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, cnt.size.toLong, maxTok.toLong, maxBig.toLong))
  }

  /** ±1 RP-LSH plane weights, cached per (nPlanes, dim): sign of a Knuth
    * multiplicative hash of (plane, dim). MUST stay identical to
    * Similarity.rpPlanes, which injects the same constants verbatim into
    * the q72 DuckDB oracle (VecMathSpec pins kernel == HOF == rpPlanes).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def planes(nPlanes: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((nPlanes, dim), { key =>
      val (np, d) = key
      val w = new Array[Double](np * d)
      var p = 0
      while (p < np) {
        var i = 0
        while (i < d) {
          w(p * d + i) =
            if (((2654435761L * (p * 131L + i + 1)) % P) % 2 == 1) 1.0 else -1.0
          i += 1
        }
        p += 1
      }
      w
    })

  /** RP-LSH bucket: bit p set when the ±1-weighted dot over ALL dims is
    * > 0. Bit-identical to the declarative HOF form: each term is an
    * exactly-representable ±(float→double) so the sequential double
    * accumulation never rounds; a vector whose length differs from `dim`
    * produces NULL dots in the HOF form (zip_with pads with null, every
    * bit falls to the ELSE 0) — mirrored here as bucket 0.
    */
  def rpBucket(a: ArrayData, nPlanes: Int, dim: Int): Long = {
    if (a.numElements() != dim) return 0L
    val w = planes(nPlanes, dim)
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val off = p * dim
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += a.getFloat(i).toDouble * w(off + i); i += 1 }
      if (acc > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** 16-bit SimHash: bit k of the signature set when at least half the
    * token codes have bit k set (the q19 oracle's 16 CASE terms).
    * Empty set -> 0.
    */
  def simhash16(codes: ArrayData): Long = {
    val n = codes.numElements()
    if (n == 0) return 0L
    // any null element: the HOF reference's aggregate goes null and
    // every majority CASE falls to ELSE 0 — signature 0, not a hash of
    // nulls unboxed as 0 (reachable via SQL simhash16(gram_codes(...)),
    // whose tail positions are null by contract)
    var j = 0
    while (j < n) { if (codes.isNullAt(j)) return 0L; j += 1 }
    var sig = 0L
    var k = 0
    while (k < 16) {
      var ones = 0L
      var i = 0
      while (i < n) { ones += (codes.getLong(i) >> k) & 1L; i += 1 }
      if (ones * 2 >= n) sig |= (1L << k)
      k += 1
    }
    sig
  }

  /** Rolling polynomial fold over codes in order: fold((acc*131+c) % P),
    * the document fingerprint. Input contract: non-null elements only —
    * its sole wiring is tokenCodes output (containsNull = false); a
    * null-bearing array would diverge from the HOF fold's null result.
    */
  def rollingHash(codes: ArrayData): Long = {
    val n = codes.numElements()
    var acc = 0L
    var i = 0
    while (i < n) { acc = (acc * 131 + codes.getLong(i)) % P; i += 1 }
    acc
  }

  /** 64-bit SimHash over a token-code set: bit k uses the parity of the
    * k-th affine rehash ((2k+3)*c + 7k+1) mod P, set when at least half
    * the tokens vote 1. Mirrored term-for-term by 64 CASE expressions in
    * the DuckDB oracle. Empty set -> 0 (matches SQL list_sum([]) = NULL
    * falling through to ELSE 0).
    */
  def simhash64(codes: ArrayData): Long = {
    val n = codes.numElements()
    if (n == 0) return 0L
    // any null element -> 0L, matching the HOF reference (see simhash16)
    var j = 0
    while (j < n) { if (codes.isNullAt(j)) return 0L; j += 1 }
    var sig = 0L
    var k = 0
    while (k < 64) {
      val a = 2L * k + 3
      val b = 7L * k + 1
      var ones = 0L
      var i = 0
      while (i < n) {
        ones += ((a * codes.getLong(i) + b) % P) & 1L
        i += 1
      }
      if (ones * 2 >= n) sig |= (1L << k)
      k += 1
    }
    sig
  }

  /** PQ encode kernel (the [[graft.ext.Pq]] argmin, one pass): for each
    * of `m` subspaces of width `d`, the code of the candidate with the
    * smallest clamped scaled-integer L2² key — arithmetic
    * operand-for-operand identical to the declarative HOF form
    * (sequential float-multiply / double-accumulate dots composed as
    * `daa − 2·dab + dbb`, `floor(x·1e6 + 0.5)`, NaN → +bound, clamp to
    * ±`keyBound`, ties to the smaller code), which is what the
    * bit-parity spec pins. `cb` is row-major (j·ksub + c), codes dense
    * 0..ksub−1; `dbb(j·ksub + c)` the precomputed candidate self-dots.
    * Null ELEMENTS are out of contract (the embeddings tables have
    * none); `getFloat` reads them as 0 where the HOF would null out.
    */
  def pqEncode(vec: ArrayData, m: Int, d: Int, keyBound: Double,
      cb: Array[Array[Float]], dbb: Array[Double]): ArrayData = {
    val ksub = cb.length / m
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var daa = 0.0
      var i = 0
      while (i < d) {
        val f = vec.getFloat(j * d + i); daa += (f * f).toDouble; i += 1
      }
      var best = Long.MaxValue
      var bestC = 0L
      var c = 0
      while (c < ksub) {
        val cv = cb(j * ksub + c)
        var dab = 0.0
        i = 0
        while (i < d) {
          dab += (vec.getFloat(j * d + i) * cv(i)).toDouble; i += 1
        }
        val raw = math.floor((daa - 2.0 * dab + dbb(j * ksub + c)) * 1e6 + 0.5)
        val key =
          (if (raw.isNaN) keyBound
           else math.max(-keyBound, math.min(keyBound, raw))).toLong
        if (key < best) { best = key; bestC = c.toLong }
        c += 1
      }
      out(j) = bestC
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode NFC canonicalization (java.text.Normalizer), UTF8String in
    * and out. Fast path: already-normalized text (the overwhelming case
    * in a crawl) returns the input reference without re-encoding.
    * Canonicalize BEFORE any hash-based dedup/fingerprint — composed
    * e-acute and e + combining-acute are byte-different but canonically
    * the SAME text, and un-normalized corpora leak such pairs past
    * exact and MinHash dedup alike.
    */
  def nfcNormalize(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}
