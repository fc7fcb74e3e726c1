package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.Num.{r => rnd}

/** Deduplication operators for a training-data pipeline (north-star ops):
  * exact (hash groupBy), MinHash+LSH banding, 16-bit SimHash, and n-gram
  * Jaccard verification — arithmetic expressible identically in DuckDB for
  * the oracle.
  *
  * Scale shape: exact dedup is one shuffle on the dedup key; MinHash is a
  * narrow per-row signature (no explode of tokens), a bands-explode of
  * constant factor B, one shuffle on the band key, and Jaccard
  * verification only on candidate pairs — the classic LSH path that keeps
  * the candidate set ~linear instead of the O(n^2) all-pairs join. Skewed
  * buckets (boilerplate-heavy corpora) are the known hazard: both pair
  * generators take a `maxBucket` cap — buckets above it are excluded from
  * candidate generation via a broadcast anti-join on the (few, by
  * definition) hot keys, so a boilerplate flood degrades recall inside the
  * flood instead of going quadratic. Identical documents in a dropped
  * bucket are still caught by `exactGroups`.
  */
object Dedup {

  import TextStats.{P, tokenCodesOf}

  /** MinHash parameters: K independent (a*x+b) mod P permutations,
    * BANDS bands of ROWS rows (K = BANDS*ROWS). 3 bands of 4 rows keeps
    * the candidate rate low on homogeneous corpora (P[candidate] =
    * 1-(1-j^4)^3, ~2% at Jaccard 0.3) — the knob that keeps LSH
    * sub-quadratic when every document shares a vocabulary.
    */
  val Bands = 3
  val Rows = 4
  val K: Int = Bands * Rows
  val A: Array[Long] = Array.tabulate(K)(i => 2L * i + 3)
  val B: Array[Long] = Array.tabulate(K)(i => 7L * i + 1)

  /** Distinct token-code set (unigram shingles — used by SimHash). */
  def tokenSet(text: Column): Column = array_distinct(tokenCodesOf(text))

  private val MaxLen = 1 << 20

  /** Rolling word n-gram shingle codes (distinct), via the native
    * codegen'd gram kernel (one generated loop per row). The previous
    * SHIFTED zip_with chain was already the fast declarative form (the
    * indexed-transform alternative re-evaluates `codes` per element —
    * quadratic, observed 50x slower), but its n-1 CodegenFallback HOFs
    * still re-evaluated per consuming expression; the kernel removes
    * the interpreted island entirely. Tail positions short of a full
    * n-gram are null (VecMathSpec pins kernel == chain bit-parity) and
    * filtered out here.
    */
  def chainCodes(codes: Column, n: Int): Column =
    array_distinct(filter(
      org.apache.spark.sql.graft.GraftColumns.gramCodes(codes, n),
      x => x.isNotNull))

  /** Declarative zip_with reference of the gram chain (parity spec).
    * CAVEAT: `slice(_, k, MaxLen)` bounds the reference at 2^20 tokens —
    * beyond that the chain pairs with null padding and emits fewer
    * shingles than the kernel, so the VecMathSpec parity contract holds
    * only for docs under MaxLen tokens (every real doc; this form is
    * never a hot path).
    */
  private[graft] def chainCodesHof(codes: Column, n: Int): Column = {
    var acc = codes
    for (k <- 2 to n)
      acc = zip_with(acc, slice(codes, k, MaxLen), (a, b) => (a * 131 + b) % P)
    acc
  }

  /** Word 5-gram shingle set — the dedup shingle. Unigram sets are useless
    * on homogeneous corpora (a 31-word vocabulary makes every pair ~0.9
    * Jaccard); 5-grams separate true near-dups (~0.9+) from unrelated
    * documents (~0.0).
    */
  def shingleSet(codes: Column): Column = chainCodes(codes, 5)

  /** Single-pass Scala signature kernel: text -> (5-gram shingle set,
    * band keys). Same arithmetic as the column/oracle formulation, but one
    * tight JVM pass per row — the column version chains five
    * CodegenFallback higher-order functions whose trees get re-evaluated
    * per consumer, which measured ~100x slower. (Same trade the AIS decode
    * kernel makes: scalar-heavy per-row logic belongs in one JVM function;
    * joins/shuffles stay relational.)
    */
  /** The tset-building half of [[signatureScala]]: distinct 5-gram
    * shingle codes only, no minhash work — the per-row kernel for
    * consumers that never read the bands (decontamination guards hash
    * K permutations per shingle for nothing otherwise).
    */
  private def shingleCodesScala(text: String): Array[Long] = {
    val toks = text.split(" ")
    val codes = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
    toks.foreach { t =>
      if (t.nonEmpty) {
        var h = 0L
        var i = 0
        while (i < t.length) { h = (h * 31 + t.charAt(i)) % P; i += 1 }
        codes += h
      }
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + 4 < codes.length) {
      var h = codes(i)
      var k = 1
      while (k < 5) { h = (h * 131 + codes(i + k)) % P; k += 1 }
      seen.add(h)
      i += 1
    }
    val tset = new Array[Long](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { tset(n) = it.next(); n += 1 }
    tset
  }

  private def signatureScala(text: String): (Array[Long], Array[String]) = {
    val tset = shingleCodesScala(text)
    // a doc under 5 tokens has NO shingles; minhash over the empty set
    // degenerates to the all-Long.MaxValue signature, whose band keys
    // are identical non-null sentinels — every short doc would collide
    // with every other. No shingles -> no bands (the batch pair
    // generators additionally filter size(tset) > 0; the streaming
    // guard relies on this being intrinsic).
    if (tset.isEmpty) return (tset, Array.empty[String])
    val mins = Array.fill(K)(Long.MaxValue)
    tset.foreach { c =>
      var j = 0
      while (j < K) {
        val v = (A(j) * c + B(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    val bands = Array.tabulate(Bands) { b =>
      (0 until Rows).map(r => mins(b * Rows + r)).mkString(":")
    }
    (tset, bands)
  }

  private val signatureUdf =
    org.apache.spark.sql.functions.udf((text: String) => signatureScala(text))

  private val shingleCodesUdf =
    org.apache.spark.sql.functions.udf((text: String) => shingleCodesScala(text))

  /** Single-pass bigram signature: text -> (distinct word-bigram shingle
    * codes, min of two universal hash permutations over them). Same
    * arithmetic as the declarative chain (tokenCodes -> chainCodes(2) ->
    * two transform/array_min trees), which is five CodegenFallback HOFs
    * re-evaluated per consuming expression — the same measured ~100x
    * trap signatureScala exists for. Empty shingle sets yield null
    * minima (list_min([]) is NULL in the oracle's replay too).
    */
  private def bigramSigScala(text: String): (Array[Long], Option[Long], Option[Long]) = {
    val toks = text.split(" ")
    val codes = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
    toks.foreach { t =>
      if (t.nonEmpty) {
        var h = 0L
        var i = 0
        while (i < t.length) { h = (h * 31 + t.charAt(i)) % P; i += 1 }
        codes += h
      }
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + 1 < codes.length) {
      seen.add((codes(i) * 131 + codes(i + 1)) % P)
      i += 1
    }
    val bg = new Array[Long](seen.size)
    var k1 = Long.MaxValue
    var k2 = Long.MaxValue
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) {
      val c = it.next()
      bg(n) = c
      val v1 = (c * 3 + 1) % P
      val v2 = (c * 5 + 8) % P
      if (v1 < k1) k1 = v1
      if (v2 < k2) k2 = v2
      n += 1
    }
    if (n == 0) (bg, None, None) else (bg, Some(k1), Some(k2))
  }

  private val bigramSigUdf =
    org.apache.spark.sql.functions.udf((text: String) => bigramSigScala(text))

  /** Signature tables cached by the pair generators. Spark's cache
    * manager keys entries on the analyzed plan, so repeated calls over
    * the SAME corpus+params share one entry (q21 and q65 do) — but every
    * DISTINCT corpus leaves its entry pinned for the session. Long-lived
    * sessions scanning many corpora should call [[clearSignatureCaches]]
    * between corpora.
    */
  private val cachedSigTables = new CacheRegistry

  /** Cache a derived signature/gram table under the same lifecycle as
    * the pair generators' caches (released by [[clearSignatureCaches]]).
    * For multi-consumer intermediates whose consumers shuffle on
    * DIFFERENT keys — exchange reuse cannot kick in there, so without
    * caching the generating kernel runs once per consumer.
    */
  def cached(df: DataFrame): DataFrame = cachedSigTables.register(df.cache())

  /** Snapshot of the currently registered signature caches. Test hook:
    * `df.storageLevel` reads the cache-manager entry synchronously, so
    * specs can assert release without racing the async block sweep that
    * a global `getPersistentRDDs` count is subject to.
    */
  private[graft] def signatureCacheSnapshot: Seq[DataFrame] =
    cachedSigTables.snapshot

  /** Number of signature tables currently registered (not yet released). */
  def registeredSignatureCacheCount: Int = cachedSigTables.snapshot.size

  /** Extra release actions run by [[clearSignatureCaches]] — the ONE
    * query-scoped release lifecycle the harness mains already call.
    * Stage-boundary CHECKPOINT leaves register here
    * ([[graft.queries.Curation]]): `Dataset.unpersist` never frees
    * checkpoint blocks (only the cache manager's entries), so without
    * an explicit hook they accumulate until GC'd via ContextCleaner —
    * nondeterministic in a long-lived session.
    */
  private val clearHooks =
    new java.util.concurrent.ConcurrentLinkedQueue[Boolean => Unit]()

  def registerClearHook(hook: Boolean => Unit): Unit = { clearHooks.add(hook); () }

  /** Unpersist every signature table the pair generators have cached.
    * Safe while results are outstanding — an unpersisted dependency is
    * recomputed, not lost. `blocking = true` waits until the blocks are
    * actually dropped: harness loops (Bench/Verify) use it so release
    * cost lands between timed queries instead of as surprise GC/eviction
    * pressure inside the next one (the round-5 bench drift).
    */
  def clearSignatureCaches(blocking: Boolean = false): Unit = {
    cachedSigTables.clear(blocking)
    clearHooks.forEach(h => h(blocking))
  }

  /** (doc_id, bg, k1, k2) bigram-signature table for q22-style n-gram
    * near-dup: one kernel pass per row.
    */
  def bigramSignatures(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), bigramSigUdf(coalesce(col(textCol), lit(""))).as("s"))
      .select(col("doc_id"), col("s._1").as("bg"),
        col("s._2").as("k1"), col("s._3").as("k2"))

  /** Bigram-Jaccard near-dup pairs blocked on the 2-permutation MinHash
    * AND-key (collision ~ jaccard^2): ONE signature pass, ONE shuffle
    * (groupBy the block key), pairs + Jaccard computed in-group by a
    * tight kernel. A self-join formulation evaluates the signature
    * subtree once per join side — this shape halves that, drops the
    * window pass, and never shuffles candidate pairs at all. Buckets
    * above `maxBucket` are dropped (boilerplate-flood guard, mirrored
    * in the oracle) BEFORE the aggregation: hot (k1,k2) keys are
    * excluded via the same broadcast anti-join as [[dropHotBuckets]],
    * so a flood bucket is never materialized in a collect_list buffer
    * (doc ids + bigram arrays of the whole flood in one executor's
    * memory — the exact OOM the cap exists to prevent). The signature
    * table feeds both the hot-key count and the aggregation, so it is
    * cached (see [[clearSignatureCaches]]); rounding replicates Num.r
    * bit-for-bit (floor(x*10^4 + 0.5) as a long, divided by 10^4).
    */
  /** NOTE: unlike the other pair generators (pure joins/aggregations,
    * doc_id-type agnostic), the in-group pair step here rides a typed
    * Dataset encoder and requires a LONG doc_id.
    */
  def bigramJaccardPairs(docs: DataFrame, minJaccard: Double,
      maxBucket: Int = 500, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = cached(
      bigramSignatures(docs, textCol).filter(col("k1").isNotNull))
    dropHotBuckets(sigs, Seq("k1", "k2"), maxBucket)
      .groupBy(col("k1"), col("k2"))
      .agg(collect_list(struct(col("doc_id"), col("bg"))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(col("items"))
      .as[Seq[(Long, Seq[Long])]]
      .flatMap { items =>
        val arr = items.sortBy(_._1).toArray
        val sets = arr.map { case (_, bg) =>
          val s = new java.util.HashSet[java.lang.Long](bg.length * 2)
          bg.foreach(s.add(_))
          s
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            val (small, large) =
              if (sets(i).size <= sets(j).size) (sets(i), sets(j)) else (sets(j), sets(i))
            var inter = 0
            val it = small.iterator()
            while (it.hasNext) if (large.contains(it.next())) inter += 1
            val union = sets(i).size + sets(j).size - inter
            if (union > 0) {
              val jac = math.floor(inter.toDouble / union * 10000 + 0.5).toLong / 10000.0
              if (jac >= minJaccard) out += ((arr(i)._1, arr(j)._1, jac))
            }
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("doc1", "doc2", "jaccard")
  }

  /** (doc_id, tset) distinct 5-gram shingle sets — one kernel pass; the
    * dedup and decontamination primitives share it.
    */
  def shingleSets(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      shingleCodesUdf(coalesce(col(textCol), lit(""))).as("tset"))

  /** Column form of the 5-gram shingle set (streaming pipelines compose
    * it against their own watermark/selection). Shingle-only kernel —
    * no minhash/band work per row.
    */
  def shingleCol(text: Column): Column =
    shingleCodesUdf(coalesce(text, lit("")))

  /** LSH band keys for one text column (same kernel as the pair
    * generators — one arithmetic, every consumer).
    */
  def bandCol(text: Column): Column =
    signatureUdf(coalesce(text, lit(""))).getField("_2")

  /** (doc_id, band, key) band table — the at-rest signature-store
    * layout (bucket by `key` when writing) and the static side of the
    * streaming near-dup guard.
    */
  def bandTable(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        posexplode_outer(bandCol(col(textCol))).as(Seq("band", "key")))
      .filter(col("key").isNotNull)

  /** Test-set decontamination: for every CONTAMINATED train document
    * (≥1 shared shingle), the number of distinct 5-gram shingles it
    * shares with ANY test document — the standard n-gram-overlap
    * contamination check run before training on a corpus that might
    * contain evaluation data. Clean documents produce NO row (inner
    * join): compute the keep-set as an anti-join on the output's
    * doc_ids, not as `filter(n_shared === 0)`.
    *
    * Scale shape: both sides explode to (doc_id, code) pairs — ids and
    * 64-bit codes only, never text — and meet in an equi-join on the
    * shingle code, whose hash distribution is uniform by construction
    * (no skewed key). Real benchmark sets are tiny relative to the
    * corpus, so AQE turns the distinct test-shingle side into a
    * broadcast; the count aggregates map-side. Left as a plain join (no
    * forced broadcast hint) so a genuinely large holdout degrades to a
    * shuffled join instead of a driver OOM.
    */
  def contamination(train: DataFrame, test: DataFrame): DataFrame = {
    // explode_outer + post-generate null filter, NOT explode: a plain
    // explode infers `size(tset) > 0 AND isnotnull(tset)` and pushes it
    // below the projection, substituting the signature-kernel expression
    // into the filter — the kernel would run three times per row
    // (observed in the plan). The outer variant generates one null row
    // for empty sets instead, filtered on the GENERATED column.
    val trCodes = shingleSets(train)
      .select(col("doc_id"), explode_outer(col("tset")).as("code"))
      .filter(col("code").isNotNull)
    val teCodes = shingleSets(test)
      .select(explode_outer(col("tset")).as("code"))
      .filter(col("code").isNotNull).distinct()
    trCodes.join(skewJoinReady(teCodes), Seq("code"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Make a distinct-code side SKEW-SPLITTABLE as a join input.
    * OptimizeSkewedJoin only matches a sort-merge join whose children
    * are bare sort(shuffle) stages with ENSURE_REQUIREMENTS shuffles:
    * a plain `.distinct()` leaves its aggregate between its exchange
    * and the join (rule declines — SCALE.md's round-11 negative
    * result), and `.repartition(code)` carries the REPARTITION_BY_COL
    * origin the rule refuses to touch. Re-keying the distinct on
    * (code, code % 64) and projecting the salt away invalidates the
    * aggregate's output partitioning for the consumer, so
    * EnsureRequirements inserts a FRESH exchange with the one origin
    * the rule splits around. Values identical to `.distinct()` (the
    * salt is functionally determined by the code); cost = one extra
    * shuffle of the dictionary-sized code set. With this shape — plus
    * `spark.sql.adaptive.forceOptimizeSkewedJoin` for the aggregate
    * sitting above the join — AQE splits a hot-code train partition at
    * runtime whenever the holdout is too large to broadcast (PlanSpec
    * "AQE splits a skewed join partition at runtime" pins it).
    */
  private def skewJoinReady(codes: DataFrame): DataFrame =
    codes.select(col("code"), pmod(col("code"), lit(64L)).as("__s"))
      .distinct().select(col("code"))

  /** [[contamination]] with a Bloom-filter pre-prune — the 100 TB form.
    * The holdout's distinct shingle codes build a Bloom filter
    * (driver-side, sketch-sized — the holdout is benchmark-scale by
    * definition); the probe is Spark's own codegen'd
    * `BloomFilterMightContain`, applied to the train side's exploded
    * codes BEFORE the join shuffle, so the (corpus-sized) train explode
    * drops to roughly its true-positive subset map-side. Bloom false
    * positives survive the prune but die in the exact equi-join that
    * follows, so the result is BIT-IDENTICAL to [[contamination]] —
    * the filter buys shuffle volume, never correctness. The distinct
    * holdout-code set feeds the count, the filter build, and the join,
    * so it is cached (released by [[clearSignatureCaches]]).
    */
  def contaminationBloom(train: DataFrame, test: DataFrame,
      fpp: Double = 0.03): DataFrame =
    contaminationAgainst(train, prepareHoldout(test, fpp))

  /** The holdout side of decontamination, derived ONCE: the cached
    * distinct shingle-code set, its count, and the serialized Bloom
    * filter. The batch path builds it per call inside
    * [[contaminationBloom]]; a long-lived ingest surface (the streaming
    * store) builds it once per FROZEN holdout and reuses it across
    * every micro-batch — re-deriving a corpus-sized artifact per
    * 3-doc delta was a dominant term of the per-batch job floor.
    * `materialize` pins the code set: [[cached]] (released by
    * [[clearSignatureCaches]]) for the batch paths, an eager
    * `localCheckpoint` for the stream, which owns its leaves.
    */
  final case class HoldoutCodes(codes: DataFrame, n: Long,
      bloomBytes: Option[Array[Byte]])

  def prepareHoldout(test: DataFrame, fpp: Double = 0.03,
      materialize: DataFrame => DataFrame = cached): HoldoutCodes = {
    val teCodes = materialize(shingleSets(test)
      .select(explode_outer(col("tset")).as("code"))
      .filter(col("code").isNotNull).distinct())
    val n = teCodes.count()
    // a shingle-less holdout means no contamination is possible; skip
    // the filter build (stat.bloomFilter NPEs aggregating zero rows)
    // and let the exact join return empty
    val bytes = if (n == 0) None else Some {
      val bloom = teCodes.stat.bloomFilter("code", n, fpp)
      val b = new java.io.ByteArrayOutputStream()
      bloom.writeTo(b)
      b.toByteArray
    }
    HoldoutCodes(teCodes, n, bytes)
  }

  /** [[contaminationBloom]] against a prepared holdout artifact —
    * bit-identical rows (the Bloom prune only drops join misses).
    * `smallTrain` broadcasts the TRAIN side — a delta-sized train side
    * (the curation delta chain under its size cap): the holdout-code
    * table is then scanned, never shuffled, and no adaptive re-plan is
    * needed to get the build side right. Same rows either way (the
    * join is the same equi-join; only the build-side hint moves).
    */
  def contaminationAgainst(train: DataFrame, h: HoldoutCodes,
      smallTrain: Boolean = false): DataFrame = {
    val trCodesRaw = shingleSets(train)
      .select(col("doc_id"), explode_outer(col("tset")).as("code"))
      .filter(col("code").isNotNull)
    val trCodes = h.bloomBytes.fold(trCodesRaw)(bytes =>
      trCodesRaw.filter(org.apache.spark.sql.graft.GraftColumns
        .bloomMightContain(bytes, col("code"))))
    // [[skewJoinReady]] above the cached distinct: the planner-inserted
    // exchange sits ABOVE the cache, so the join is skew-splittable
    // even with canChangeCachedPlanOutputPartitioning at its false
    // default
    val joined =
      if (smallTrain) broadcast(trCodes).join(h.codes, Seq("code"))
      else trCodes.join(skewJoinReady(h.codes), Seq("code"))
    joined.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** K-wide MinHash signature over the token set. */
  def minhashSignature(setCol: Column): Column =
    array((0 until K).map { i =>
      aggregate(setCol, lit(Long.MaxValue),
        (m, c) => least(m, (lit(A(i)) * c + lit(B(i))) % P))
    }: _*)

  /** Band key: rows of one band joined ':' (string key shuffles fine). */
  def bandKeys(sig: Column): Column =
    array((0 until Bands).map { b =>
      concat_ws(":",
        (0 until Rows).map(r => element_at(sig, b * Rows + r + 1)): _*)
    }: _*)

  /** Exact-duplicate groups keyed on raw text: (kept doc_id = min,
    * duplicate count). SURVEY R12-adjacent; one shuffle.
    *
    * The grouping key is (xxhash64(text), text), not raw text: the
    * leading 8-byte hash makes every shuffle-side key comparison —
    * hash-table probes, and the sort comparator if the aggregate ever
    * spills to sort-based — independent of document LENGTH (full text
    * compares only on hash-equal rows, i.e. true duplicates), while
    * keeping text in the key keeps the semantics EXACT: no
    * hash-collision risk, identical groups, identical output.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(xxhash64(col(textCol)), col(textCol))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_doc_id"), col("dup_count"))

  /** The cached (doc_id, tset, bands) signature table every MinHash
    * pair generator starts from — ONE definition so the guards (empty
    * shingle sets dropped: their MinHash degenerates to the
    * all-MaxValue signature, floods one band bucket, and Jaccard
    * divides 0/0) can never drift between generators. Registered for
    * release via [[clearSignatureCaches]].
    */
  private def sigTable(docs: DataFrame): DataFrame =
    cached(signatureFrame(docs))

  /** The RAW (doc_id, tset, bands) signature frame — uncached,
    * unregistered: a long-lived ingest surface derives it once per
    * store snapshot, owns the cache, and passes it back through
    * [[minhashPairsAgainstSigs]]; the small per-batch tail (recent
    * appends) rides it uncached.
    */
  def signatureFrame(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      signatureUdf(coalesce(col("text"), lit(""))).as("s"))
    .select(col("doc_id"), col("s._1").as("tset"), col("s._2").as("bands"))
    .filter(size(col("tset")) > 0)

  /** Drop rows whose (band-)key bucket exceeds `maxBucket` members. A
    * bucket of size m emits m^2/2 candidate pairs, so one boilerplate
    * flood turns LSH quadratic; hot keys are few by definition, so the
    * guard is a map-side-combined count + broadcast anti-join — no extra
    * shuffle on the wide side.
    */
  private def dropHotBuckets(
      exploded: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame = {
    val hot = exploded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)
      .select(keyCols.map(col): _*)
    exploded.join(broadcast(hot), keyCols, "left_anti")
  }

  /** The hot-bucket cap every MinHash pair generator defaults to —
    * exposed so callers can prove the cap a no-op (`rows ≤
    * DefaultMaxBucket` ⇒ no band bucket can exceed it).
    */
  val DefaultMaxBucket = 1000

  /** |t1 ∩ t2| of a verification frame's two token sets — the shared
    * numerator of the Jaccard and containment checks.
    */
  private def sharedCodes: Column =
    size(array_intersect(col("t1"), col("t2"))).cast("double")

  /** The oracle-matched Jaccard check every MinHash pair generator
    * verifies through: over a frame already carrying both token sets as
    * `t1`/`t2`, `jaccard = rnd(|t1 ∩ t2| / |t1 ∪ t2|, 4)`, kept at
    * ≥ minJaccard, returned as (id1, id2, jaccard). Callers place their
    * own broadcasts on `pairs`.
    */
  private def jaccardAtLeast(pairs: DataFrame, id1: String, id2: String,
      minJaccard: Double): DataFrame =
    pairs.withColumn("jaccard", rnd(sharedCodes /
        size(array_distinct(concat(col("t1"), col("t2")))).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col(id1), col(id2), col("jaccard"))

  /** [[minhashPairs]] over a PRE-DERIVED signature table (the
    * [[signatureFrame]] shape; the caller owns its materialization —
    * typically a checkpoint leaf, so the band-candidate branch and the
    * verification branch both read it without a cache entry). Rows are
    * identical to `minhashPairs(docs)` whenever `sigs ==
    * signatureFrame(docs)` — which holds for any per-row-filtered
    * subset, since the signature is a per-row function.
    */
  def minhashPairsFromSigs(sigs: DataFrame, minJaccard: Double,
      maxBucket: Int = DefaultMaxBucket,
      incomingUnderCap: Boolean = false): DataFrame =
    jaccardAtLeast(candidateSets(sigs, maxBucket, capNoop = incomingUnderCap),
      "doc1", "doc2", minJaccard)

  /** LSH candidate pairs + exact Jaccard verification.
    * Returns (doc1, doc2, jaccard) with doc1 < doc2, jaccard rounded 4,
    * filtered to >= minJaccard. Band buckets with more than `maxBucket`
    * members are excluded from candidate generation (skew guard; the
    * oracle mirrors the cap with a window count).
    */
  def minhashPairs(docs: DataFrame, minJaccard: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    // cache: the signature table feeds BOTH candidate generation and
    // Jaccard verification — uncached, the (expensive) kernel subtree
    // is evaluated once per branch. This is the in-flight form of the
    // dedup-at-rest layout (PlanSpec's bucketed signature store);
    // Spark's cache manager keys on the analyzed plan, so repeated
    // calls over the same corpus share one entry. The oracle's NULL
    // band keys drop empty-shingle docs identically (its bands CTE
    // filters len(tset) > 0 explicitly).
    minhashPairsFromSigs(sigTable(docs), minJaccard, maxBucket)

  /** LSH band-collision candidate pairs (doc1 < doc2, distinct) joined
    * back to both token sets: (doc1, doc2, t1, t2), the verification
    * input of [[minhashPairsFromSigs]] and [[containmentPairs]].
    * Candidate generation carries ONLY (band, key, doc_id): the
    * token-set arrays must not ride through the pair-join/distinct
    * shuffle — at corpus scale that's the difference between shuffling
    * ids and shuffling the whole corpus k times. Verification joins the
    * (small) distinct pair list back to the sets.
    */
  private def candidateSets(sigs: DataFrame, maxBucket: Int,
      capNoop: Boolean = false): DataFrame = {
    // capNoop: the caller proved sigs has ≤ maxBucket rows, so no band
    // bucket can exceed the cap — the count + broadcast anti-join
    // would drop nothing, and skipping it saves its broadcast-build
    // job (identical rows by construction)
    val raw = explodedBands(sigs)
    // the cap stays the map-side-combined count + broadcast anti-join
    // (dropHotBuckets) and NOT a window over the join's exchange: a
    // window count would ship a flood bucket's m rows through ONE
    // window task before dropping them (AQE skew-split applies to
    // joins only, guide §2.5), where the broadcast anti-join drops
    // them MAP-SIDE before the join exchange — the exact pathology the
    // cap exists for. The extra aggregation exchange is count-sized.
    val exploded =
      if (capNoop) raw
      else dropHotBuckets(raw, Seq("band", "key"), maxBucket)
    val sets = sigs.select(col("doc_id"), col("tset"))
    exploded.select(col("band"), col("key"), col("doc_id").as("doc1"))
      .join(exploded.select(col("band"), col("key"), col("doc_id").as("doc2")),
        Seq("band", "key"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"))
      .distinct()
      .join(sets.select(col("doc_id").as("doc1"), col("tset").as("t1")), Seq("doc1"))
      .join(sets.select(col("doc_id").as("doc2"), col("tset").as("t2")), Seq("doc2"))
  }

  /** Directed containment pairs: (inner_doc, outer_doc, containment)
    * where containment = |inner ∩ outer| / |inner| over the 5-gram
    * shingle sets, the inner doc is the one with the SMALLER set
    * (doc_id tiebreak), and only pairs ≥ minContainment are emitted.
    * Catches subset/quote-expansion duplication that symmetric Jaccard
    * misses: a doc pasted inside a longer one has containment 1.0 but
    * Jaccard |A|/|B| — far below any near-dup threshold.
    *
    * Recall caveat (by design): candidates still come from the
    * Jaccard-tuned MinHash banding, so an inner doc MUCH smaller than
    * its container may not band-collide; the operator is exact on
    * comparable-size containment and best-effort on extreme asymmetry
    * (full asymmetric recall needs prefix filtering — a different
    * index, not a different verify). The verify joins carry the same
    * ids-only candidate discipline as [[minhashPairs]].
    */
  def containmentPairs(docs: DataFrame, minContainment: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val inner1 = (size(col("t1")) < size(col("t2"))) ||
      (size(col("t1")) === size(col("t2")) && col("doc1") < col("doc2"))
    candidateSets(sigTable(docs), maxBucket)
      .select(
        when(inner1, col("doc1")).otherwise(col("doc2")).as("inner_doc"),
        when(inner1, col("doc2")).otherwise(col("doc1")).as("outer_doc"),
        rnd(sharedCodes /
          least(size(col("t1")), size(col("t2"))).cast("double"), 4)
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Incremental dedup: near-dup pairs between an INCOMING batch and an
    * existing STORE — the production ingestion path at 100 TB (dedup
    * the delta against the corpus; never re-pair the corpus with
    * itself). Returns (in_doc, store_doc, jaccard) filtered to
    * >= minJaccard. Candidate generation is an asymmetric equi-join on
    * (band, key): the store's band table is exactly PlanSpec's bucketed
    * signature store (written bucketed by key, the join is
    * exchange-free on the store side at rest); hot buckets are capped
    * on EACH side independently — a boilerplate flood in either the
    * store or the batch would otherwise go quadratic. Store-internal
    * and batch-internal pairs are deliberately NOT emitted: those are
    * [[minhashPairs]]' job at store-build time.
    */
  def minhashPairsAgainst(store: DataFrame, incoming: DataFrame,
      minJaccard: Double, maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashPairsAgainstSigs(sigTable(store), sigTable(incoming), minJaccard,
      maxBucket)

  /** The exploded (doc_id, band, key) band table of a [[signatureFrame]]
    * — UNCAPPED: the at-rest form a long-lived ingest surface derives
    * once per store version; [[minhashPairsAgainstPreparedSigs]]
    * applies the hot-bucket cap per batch from maintained counts.
    */
  def explodedBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))

  /** Per-(band, key) membership counts (`cnt`) of an [[explodedBands]]
    * table — the hot-bucket cap's input, derived once per store version
    * (the stream's leaf, q125's persisted artifact).
    */
  def bandCounts(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("key")).agg(count(lit(1)).as("cnt"))

  /** [[minhashPairsAgainstSigs]] over PREPARED store-side artifacts —
    * the streaming hot path. `sBands` is the store's UNCAPPED
    * [[explodedBands]] table (store plus window appends), `sHot` the
    * EXACT current hot-key set (band buckets whose total membership
    * exceeds `maxBucket`, derived from once-per-version counts plus a
    * delta-sized reconciliation — see CurationStream), `sSig` the full
    * signature frame for verification, `iSig` the delta's
    * [[signatureFrame]], derived once by the staged caller (which
    * reuses it for the within-delta pair probe). Plan shape: the
    * incoming side rides broadcast hints through every join (a
    * micro-batch delta is small by construction), so the store side is
    * SCANNED, never shuffled — no per-batch store-wide exchange
    * survives. Rows are identical to [[minhashPairsAgainstSigs]]
    * whenever sHot equals the key set dropHotBuckets would compute over
    * sBands (pinned by CurationStreamSpec's streamed-equals-batch gate).
    */
  def minhashPairsAgainstPreparedSigs(sBands: DataFrame, sHot: DataFrame,
      sSig: DataFrame, iSig: DataFrame, minJaccard: Double,
      maxBucket: Int = DefaultMaxBucket,
      incomingUnderCap: Boolean = false): DataFrame = {
    // incomingUnderCap: caller proved iSig has ≤ maxBucket rows — the
    // incoming-side hot-bucket cap cannot fire (a bucket's membership
    // is bounded by the row count), so its count + broadcast anti-join
    // is skipped; identical rows by construction
    val iBands =
      if (incomingUnderCap) explodedBands(iSig)
      else dropHotBuckets(explodedBands(iSig), Seq("band", "key"),
        maxBucket)
    val candidates = sBands
      .join(broadcast(sHot.select(col("band"), col("key"))),
        Seq("band", "key"), "left_anti")
      .join(broadcast(iBands.select(col("band"), col("key"),
        col("doc_id").as("in_doc"))), Seq("band", "key"))
      .select(col("in_doc"), col("doc_id").as("store_doc"))
      .distinct()
    jaccardAtLeast(broadcast(candidates
        .join(broadcast(iSig.select(col("doc_id").as("in_doc"),
          col("tset").as("t1"))), Seq("in_doc")))
      .join(sSig.select(col("doc_id").as("store_doc"),
        col("tset").as("t2")), Seq("store_doc")),
      "in_doc", "store_doc", minJaccard)
  }

  /** [[minhashPairsAgainst]] over PRE-DERIVED signature tables (the
    * [[signatureFrame]] shape) on both sides — the store side of an
    * ingest is append-only between maintenance, so its signatures are
    * derived once per store version, and a staged delta chain derives
    * the incoming side once for both of its stage-4 halves.
    */
  def minhashPairsAgainstSigs(sSig: DataFrame, iSig: DataFrame,
      minJaccard: Double, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    def capped(sigs: DataFrame) =
      dropHotBuckets(explodedBands(sigs), Seq("band", "key"), maxBucket)
    val candidates = capped(iSig)
      .select(col("band"), col("key"), col("doc_id").as("in_doc"))
      .join(capped(sSig)
        .select(col("band"), col("key"), col("doc_id").as("store_doc")),
        Seq("band", "key"))
      .select(col("in_doc"), col("store_doc"))
      .distinct()
    jaccardAtLeast(candidates
        .join(iSig.select(col("doc_id").as("in_doc"), col("tset").as("t1")),
          Seq("in_doc"))
        .join(sSig.select(col("doc_id").as("store_doc"), col("tset").as("t2")),
          Seq("store_doc")),
      "in_doc", "store_doc", minJaccard)
  }

  /** [[minhashPairsAgainstPreparedSigs]] for a DRIVER-RESIDENT delta —
    * the micro-batch tier. `iSigRows` are the delta's collected
    * signature rows (doc_id, tset, bands); the exploded band table and
    * the verification t1 side are built HERE as LocalRelations, whose
    * broadcast builds read driver memory without submitting a Spark
    * job — the per-batch plan then runs exactly TWO jobs (the
    * candidate probe over the store band table, the verify scan over
    * the store signature table). `hot` is the current hot-key set
    * applied to the DELTA side: a hot (band,key) contributes no
    * candidate pair whichever side drops it, so the pair set equals
    * the distributed anti-join form's. The incoming-side hot-bucket
    * cap is a proven no-op here (the caller bounds the delta row count
    * by the cap). Rows identical to [[minhashPairsAgainstPreparedSigs]]
    * by construction.
    */
  def minhashPairsAgainstPreparedLocal(
      spark: org.apache.spark.sql.SparkSession,
      hot: Set[(Int, String)], sBands: DataFrame, sSig: DataFrame,
      iSigRows: Array[org.apache.spark.sql.Row],
      minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bandRows = new java.util.ArrayList[Row]()
    iSigRows.foreach { r =>
      val id = r.getLong(0)
      r.getSeq[String](2).iterator.zipWithIndex.foreach { case (k, i) =>
        if (!hot((i, k))) bandRows.add(Row(i, k, id))
      }
    }
    val iBands = spark.createDataFrame(bandRows, StructType(Seq(
      StructField("band", IntegerType), StructField("key", StringType),
      StructField("in_doc", LongType))))
    val t1Rows = new java.util.ArrayList[Row]()
    iSigRows.foreach(r => t1Rows.add(Row(r.getLong(0), r.getSeq[Long](1))))
    val iT1 = spark.createDataFrame(t1Rows, StructType(Seq(
      StructField("in_doc", LongType),
      StructField("t1", ArrayType(LongType)))))
    val candidates = sBands.join(broadcast(iBands), Seq("band", "key"))
      .select(col("in_doc"), col("doc_id").as("store_doc")).distinct()
    jaccardAtLeast(broadcast(candidates.join(broadcast(iT1), Seq("in_doc")))
      .join(sSig.select(col("doc_id").as("store_doc"),
        col("tset").as("t2")), Seq("store_doc")),
      "in_doc", "store_doc", minJaccard)
  }

  /** [[minhashPairsFromSigs]] for a DRIVER-RESIDENT signature table —
    * the within-delta micro-batch tier. Candidate generation replicates
    * [[candidateSets]] exactly on the driver (same (band,key) buckets,
    * doc1 < doc2, distinct; the hot-bucket cap is a proven no-op at
    * this row count), and the jaccard VERIFICATION still runs through
    * the same Spark expressions — over a LocalRelation carrying both
    * token sets — so no float arithmetic is re-implemented and no
    * broadcast build or band self-join appears in the plan. Returns
    * None when there are no candidate pairs (zero jobs for the caller).
    */
  def minhashPairsLocal(spark: org.apache.spark.sql.SparkSession,
      sigRows: Array[org.apache.spark.sql.Row],
      minJaccard: Double): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val byKey = scala.collection.mutable.Map.empty[(Int, String), List[Long]]
    sigRows.foreach { r =>
      val id = r.getLong(0)
      r.getSeq[String](2).iterator.zipWithIndex.foreach { case (k, i) =>
        val kk = (i, k); byKey(kk) = id :: byKey.getOrElse(kk, Nil)
      }
    }
    val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
    byKey.valuesIterator.foreach { ids =>
      val arr = ids.toArray
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val (a, b) = (arr(i), arr(j))
          pairs += (if (a < b) (a, b) else (b, a)); j += 1
        }
        i += 1
      }
    }
    if (pairs.isEmpty) None
    else {
      val tset = sigRows.iterator
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val rows = new java.util.ArrayList[Row]()
      pairs.foreach { case (a, b) => rows.add(Row(a, b, tset(a), tset(b))) }
      val frame = spark.createDataFrame(rows, StructType(Seq(
        StructField("doc1", LongType), StructField("doc2", LongType),
        StructField("t1", ArrayType(LongType)),
        StructField("t2", ArrayType(LongType)))))
      Some(jaccardAtLeast(frame, "doc1", "doc2", minJaccard))
    }
  }

  /** `contaminationAgainst(smallTrain = true)` with the train side's
    * (doc_id, code) rows pre-built (the driver-resident micro-batch
    * tier): the same exact equi-join against the holdout-code table,
    * with no kernel pass and no Bloom prefilter — the prefilter only
    * shrinks the broadcast build; the join IS the exact membership
    * test either way.
    */
  def contaminationAgainstCodes(trCodes: DataFrame,
      h: HoldoutCodes): DataFrame =
    broadcast(trCodes).join(h.codes, Seq("code"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** 16-bit SimHash over the token set: bit k of the signature is 1 when
    * at least half the tokens have bit k set in their code. Small enough
    * to mirror as 16 explicit CASE terms in SQL, same majority rule.
    * Declarative reference kept for the parity spec; hot path native.
    */
  def simhash16Hof(setCol: Column): Column = {
    val n = size(setCol).cast("long")
    (0 until 16).map { k =>
      val ones = aggregate(setCol, lit(0L),
        (acc, c) => acc + shiftright(c, k).bitwiseAND(1))
      when(ones * 2 >= n, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Native codegen'd 16-bit SimHash (bit-identical on non-empty sets). */
  def simhash16(setCol: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.simhash16(setCol)

  /** Word-bigram shingle codes (distinct), for n-gram Jaccard near-dup. */
  def bigramCodes(codes: Column): Column = chainCodes(codes, 2)

  /** 64-bit SimHash (native codegen'd expression; see VecMath.simhash64). */
  def simhash64(setCol: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.simhash64(setCol)

  private def chunk16(sig: Column, j: Int): Column =
    shiftright(sig, 16 * j).bitwiseAND(lit(65535L))

  /** Near-duplicate pairs by SimHash hamming distance <= maxDist (< 4).
    *
    * Blocking: split the 64-bit signature into four 16-bit chunks; by
    * pigeonhole any pair within hamming 3 agrees on at least one chunk,
    * so candidates come from four equi-joins on (chunk index, chunk
    * value) — never an all-pairs loop. A pair agreeing on several
    * surviving chunks surfaces several times; the multi-chunk dedup is
    * a distinct() over the verified (doc1, doc2, hamming) rows — an
    * ids-only shuffle sized by output multiplicity (≤ 4× the pair
    * count), NOT a corpus shuffle. (A local first-agreeing-chunk filter
    * used to stand here; it silently dropped any pair whose first
    * agreeing chunk had been removed by the hot-bucket guard, even when
    * a surviving chunk generated the pair.)
    *
    * Docs with an EMPTY token set are excluded, mirroring the other
    * pair generators: simhash of the empty set is the 0L sentinel, so
    * all empty/null docs would pair with each other at hamming 0 —
    * quadratic output for what is exactGroups' job.
    *
    * Scale: candidate volume is driven by 16-bit-chunk collisions
    * (65536 blocks per chunk index). On corpora where one chunk value
    * dominates (near-identical boilerplate), the `maxBucket` guard drops
    * that (cj, ckey) block from candidate generation — recall inside the
    * flood traded for bounded work; identical texts remain `exactGroups`'
    * job. The default is far above any honest chunk collision rate and
    * only engages on floods.
    */
  def hammingPairs(docs: DataFrame, maxDist: Int, textCol: String = "text",
      maxBucket: Int = 10000): DataFrame = {
    require(maxDist < 4, "4-chunk pigeonhole blocking covers hamming <= 3")
    // coalesce makes the signature non-nullable: otherwise Catalyst
    // inserts isnotnull(sig) on the join key and predicate pushdown
    // substitutes the WHOLE signature expression into that filter —
    // tokenize+simhash evaluated twice per row (observed in the plan)
    val sigs = docs
      .filter(size(tokenSet(coalesce(col(textCol), lit("")))) > 0)
      .select(
        col("doc_id"), simhash64(tokenSet(coalesce(col(textCol), lit("")))).as("sig"))
    // cache the exploded chunk table: it feeds the hot-bucket count,
    // the anti-join, AND both sides of the candidate self-join —
    // uncached, the simhash kernel subtree (and the documents scan
    // under it) evaluates once per consumer (4 scans, audited)
    val exploded = cached(sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("cj"), chunk16(col("sig"), j).as("ckey"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.cj").as("cj"), col("c.ckey").as("ckey")))
    val chunks = dropHotBuckets(exploded, Seq("cj", "ckey"), maxBucket)
    val l = chunks.select(col("cj"), col("ckey"), col("doc_id").as("doc1"), col("sig").as("s1"))
    val r = chunks.select(col("cj"), col("ckey"), col("doc_id").as("doc2"), col("sig").as("s2"))
    l.join(r, Seq("cj", "ckey"))
      .filter(col("doc1") < col("doc2"))
      .withColumn("hamming",
        expr("bit_count(s1 ^ s2)").cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc1"), col("doc2"), col("hamming"))
      .distinct()
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embeddings, generate cosine near-dup pairs ONLY inside a
    * cluster cell, and emit the drop list — every document that has a
    * strictly-smaller-id semantic duplicate in its cell, with the keeper
    * it duplicates (`dup_of` = the smallest such id, the greedy
    * first-seen-wins representative). Joined back to `documents`
    * (vec_id = doc_id) so the output is directly actionable as an
    * anti-join key set with the metadata a curation report needs.
    *
    * Composition of gated pieces: cell assignment is q84/q101's pure-map
    * argmax-cosine over broadcast-sized centroid constants (no shuffle of
    * the corpus), pair generation is q25's bucket-join discipline with
    * the k-means cell as the bucket, the keeper policy is q73/q80's
    * drop-list shape.
    *
    * Scale: the whole point of clustering first is that pair generation
    * is Θ(Σ|cell|²), never corpus² — PROVIDED k grows with the corpus so
    * cells stay bounded (SemDeDup's practice; the paper runs k=11k for
    * 1.3e8 embeddings ≈ 12k/cell). The gated query uses the q101 trained
    * k=16 index so the oracle can replay training; the production rule
    * is k = n/targetCell with hash-spread seeds, under which pairs grow
    * ~linearly with the corpus (SCALE.md). At 100 TB: persist `cell` as
    * the partition key (the IVF store layout PlanSpec pins) and the
    * self-join reads co-located partitions; the centroid set stays
    * broadcast-sized (k×dim floats).
    *
    * The `assigned` frame is cached ([[cached]], released by
    * [[clearSignatureCaches]]): it feeds both sides of the pair join, and
    * uncached the assignment kernel plus the embeddings scan would run
    * once per side.
    */
  def semanticDropList(embeddings: DataFrame, documents: DataFrame,
      centroids: Seq[(Long, Seq[Float])], minCos: Double,
      maxCell: Long = Long.MaxValue): DataFrame = {
    val assigned0 = embeddings
      .select(col("vec_id"), col("embedding"),
        Similarity.nearestCentroid(centroids, col("embedding")).as("cell"))
    // Skew guard (off by default — maxCell = MaxValue keeps the gated
    // q108/q119 plan and oracle byte-identical): a cell holding m
    // vectors scores m²/2 pairs, so one hot region turns the cell join
    // quadratic no matter how k was sized. Two tiers, both only above
    // the cap (DedupSkewSpec pins the semantics):
    //  1. cells above `maxCell` are SUB-BUCKETED by an 8-plane
    //     random-projection sign hash of the vector itself
    //     ([[Similarity.rpBucket]]) — a merely-POPULAR (diverse) region
    //     splits ~256 ways while near-identical vectors agree on every
    //     plane's sign and stay co-bucketed;
    //  2. a sub-bucket STILL above `maxCell` is a tight duplicate flood
    //     RP cannot split (near-identical vectors hash together by
    //     design) — there, each member pairs ONLY with the sub-bucket's
    //     min-id anchor: m pairs instead of m²/2, and because the flood
    //     is tight (that is what defeated RP), cos(anchor, member)
    //     clears any near-dup threshold the full join would have — the
    //     drop SET is preserved, n_dups collapses to the anchor count.
    //     Recall caveat: a member whose only dups are non-anchor
    //     members of a >maxCell sub-bucket is missed — possible only
    //     for a region so dense it flooded 16 centroids AND 8
    //     hyperplanes yet is not mutually similar.
    // Cell/sub-bucket sizes are small aggregates → broadcast; the pair
    // key packs (cell, sub) as cell·4096 + sub; original `cell` rides
    // to the output contract.
    val assigned = cached(
      if (maxCell == Long.MaxValue) assigned0
      else {
        val hot = assigned0.groupBy(col("cell"))
          .agg(count(lit(1)).as("__csz"))
          .filter(col("__csz") > maxCell)
          .select(col("cell"), lit(1).as("__hot"))
        assigned0.join(broadcast(hot), Seq("cell"), "left")
          .withColumn("__jk", col("cell") * 4096L +
            when(col("__hot").isNotNull,
              Similarity.rpBucket(col("embedding"), 8, 64) + 1L)
              .otherwise(lit(0L)))
          .select(col("vec_id"), col("embedding"), col("cell"), col("__jk"))
      })
    val rawPairs =
      if (maxCell == Long.MaxValue) {
        // gated path: byte-identical to the pre-cap plan (equi-join ON
        // the cell — PlanSpec pins the key by name)
        val l = assigned.select(col("cell"), col("vec_id").as("vec1"),
          col("embedding").as("e1"))
        val r = assigned.select(col("cell"), col("vec_id").as("vec2"),
          col("embedding").as("e2"))
        l.join(r, Seq("cell"))
      } else {
        val l = assigned.select(col("__jk"), col("cell"),
          col("vec_id").as("vec1"), col("embedding").as("e1"))
        val r = assigned.select(col("__jk"),
          col("vec_id").as("vec2"), col("embedding").as("e2"))
        val bigKeys = assigned.groupBy(col("__jk"))
          .agg(count(lit(1)).as("__gsz"))
          .filter(col("__gsz") > maxCell).select(col("__jk"))
        val lSmall = l.join(broadcast(bigKeys), Seq("__jk"), "left_anti")
        val rSmall = r.join(broadcast(bigKeys), Seq("__jk"), "left_anti")
        // anchor tier: min-id member per oversized sub-bucket, joined
        // back to every other member — m rows per flood, not m²/2
        val anchors = assigned
          .join(broadcast(bigKeys), Seq("__jk"))
          .groupBy(col("__jk"))
          .agg(min(col("vec_id")).as("vec1"),
            min_by(col("embedding"), col("vec_id")).as("e1"),
            min_by(col("cell"), col("vec_id")).as("cell"))
        lSmall.join(rSmall, Seq("__jk"))
          .unionByName(r.join(broadcast(anchors), Seq("__jk")))
          .drop("__jk")
      }
    val pairs = rawPairs
      .filter(col("vec1") < col("vec2"))
      .select(col("cell"), col("vec1"), col("vec2"),
        rnd(Similarity.cosine(col("e1"), col("e2")), 6).as("cos"))
      .filter(col("cos") >= minCos)
    // cell is constant per vec2 (a vector lives in exactly one cell);
    // min() just picks that constant deterministically
    val drops = pairs.groupBy(col("vec2").as("doc_id"))
      .agg(min(col("cell")).as("cell"), min(col("vec1")).as("dup_of"),
        max(col("cos")).as("max_cos"), count(lit(1)).as("n_dups"))
    drops.join(documents.select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("doc_id"))
      .select(col("doc_id"), col("cell"), col("dup_of"), col("max_cos"),
        col("n_dups"), col("lang"), col("n_chars"))
  }
}
