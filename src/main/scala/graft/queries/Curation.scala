package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, DriverTier, DropSet, Packing, Similarity, TextStats}
import graft.queries.Num.{r => rnd}

/** q117: the end-to-end curation pipeline — the product shape a 100 TB
  * training-data run takes, composed as ONE lineage through the
  * independently-gated stages:
  *
  *   raw documents
  *     → 1 clean (q57's digit scrub + whitespace normalize)
  *     → 2 quality + repetition filter (q17's quality score, q67's
  *         top-token / distinct ratios, q55's min-token floor)
  *     → 3 exact dedup on cleaned text (q20: keep min doc_id)
  *     → 4 MinHash-LSH near-dup drop list (q21 pairs → q73 components,
  *         keep each cluster's min id)
  *     → 5 semantic dedup (q108: the q101-trained IVF index, pairs
  *         strictly within a cell, both sides survivors)
  *     → 6 decontamination (q81: the holdout is carved from the FULL
  *         corpus by the q51 hash split — eval data exists before
  *         curation — survivors keep only train-bucket docs with zero
  *         shingle overlap)
  *     → 7 domain mix (q68's uniform-share permille thresholds from
  *         SURVIVOR counts)
  *     → 8 per-language token budget (q87's deterministic hash order +
  *         prefix-scan cutoff)
  *     → 9 sequence packing (q112's contiguous global token stream)
  *
  * Drop lists apply in sequence: every stage sees only the previous
  * stage's survivors (except where the semantics genuinely bind to the
  * full corpus: the stage-5 index is trained on the whole embedding
  * table like any production ANN index, and the stage-6 holdout is the
  * full corpus' eval split). The output manifest is the q112 pack plan
  * of the final survivors plus their lang/source attribution — a
  * single hash-gated artifact that any stage drift anywhere upstream
  * perturbs (the pack offsets are a running sum over the exact
  * survivor set and token counts).
  *
  * Oracle discipline: the DuckDB replay chains the SAME CTE builders
  * the standalone gates use ([[LlmQueries.shingleCtesFor]],
  * [[LlmQueries.minhashCols]]/[[LlmQueries.bandKeyCase]],
  * [[Advanced.lloydCte]]), so no stage can drift from its standalone
  * gate.
  *
  * Scale shape: ONE parquet scan of documents (the cleaned corpus is
  * cached and every stage derives from it — PlanSpec pins the count),
  * one of embeddings; the only corpus-wide shuffles are the ones the
  * standalone stages already pay (LSH band join, component fixpoint on
  * the dup-density-sized pair list, shingle-code join pruned map-side
  * by the Bloom filter, two-phase prefix scans). Stage hashes reduce
  * doc_id mod 1e9 / mod p BEFORE the multiply (the q113 overflow rule;
  * 1000 | 1e9 and 100 | 1e9, so the permille/bucket values are
  * unchanged for any doc_id < 1e9 and defined — not overflowing — for
  * all larger ids).
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  // stage thresholds — shared verbatim with the oracle SQL below
  val MinTokens = 10L
  val MinQuality = 0.5
  val MaxTopTokRatio = 0.2
  val MinDistinctRatio = 0.3
  val MinJaccard = 0.7
  val MinCos = 0.35
  val HoldoutBucket = 80L
  val TokenBudget = 3000L
  val SeqLen = 2048L

  // the maintained semantic index's trained shape (q101's trainer) —
  // named ONCE: the training call sites and the artifact-layout tag
  // all reference these, so tuning the index can never leave a warm
  // artifact cache serving centroids trained under the old shape
  val IndexK = 16
  val IndexIters = 1
  val IndexRound = 4

  // driver-fetch caps of the batch core's stage-4 pair list and
  // stage-7 per-source count table
  private val ComponentPairCap = 500000L
  private val MixCountsCap = 100000L

  /** q57's cleaning transform, applied corpus-wide (stage 1). */
  private def cleaned(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "[0-9]+", "<NUM>"), " +", " "))

  /** Overflow-safe q51/q68/q87-family stage hashes (doc_id pre-reduced
    * so the multiply can't overflow a long under ANSI).
    */
  private def bucketOf(docId: Column): Column =
    pmod(pmod(docId, lit(1000000000L)) * 2654435761L, lit(100L))
  private def mixHash(docId: Column): Column =
    pmod(pmod(docId, lit(1000000000L)) * 2654435761L + 131L, lit(1000L))
  private def orderHash(docId: Column): Column =
    pmod(pmod(docId, lit(1000000007L)) * 2654435761L + 17L,
      lit(1000000007L))

  /** Stage 1: the cleaning projection over a raw documents frame —
    * public because it is the entry transform every ingest surface
    * (q117, q122, the streaming [[graft.streaming.CurationStream]])
    * applies before the store-dedup stages.
    */
  def clean(docs0: DataFrame): DataFrame = {
    val s = docs0.sparkSession
    import s.implicits._
    docs0.select($"doc_id", $"lang", $"source", $"n_chars",
      cleaned($"text").as("text"))
  }

  /** Stage-3 exact dedup: keep the min doc_id per text. ONE definition
    * for the batch pipeline and the delta ingest, and the place the
    * shuffle discipline lives: the window partitions on
    * (xxhash64(text), text), so at 100 TB the shuffle-side SORT
    * compares 8-byte hashes instead of document bodies (full text
    * compares only on hash-equal rows — true duplicates), while
    * grouping by the (hash, text) superset keeps semantics EXACT: zero
    * collision risk, identical survivors. PlanSpec pins the exchange
    * key.
    */
  private[graft] def exactKeepMin(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64($"text"), $"text").orderBy($"doc_id")
    df.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
  }

  /** Drop `left` rows whose text appears in `store` — the store-first
    * half of the delta's exact dedup, hash-led like [[exactKeepMin]]:
    * the anti-join runs on (xxhash64(text), text) so its shuffle-side
    * sort compares hashes, not bodies. NULL-text rows survive like a
    * bare text anti-join (null never equi-matches). PlanSpec pins the
    * join keys.
    */
  private[graft] def textAntiJoin(left: DataFrame, store: DataFrame): DataFrame =
    left.withColumn("__h", xxhash64(col("text")))
      .join(store.select(xxhash64(col("text")).as("__h"), col("text")),
        Seq("__h", "text"), "left_anti")
      .drop("__h")

  /** Stage 2: quality + repetition filter on cleaned text. The ratio
    * denominators are nullif'd (q67's form) so a zero-token doc fails
    * the filter by NULL on both engines regardless of conjunct order;
    * quality_score keeps q17's exact expression tree.
    *
    * NULL `doc_id` rows stop here for both chains, as at the oracle's
    * stage-3 join: keep-min sorts nulls first (a NULL-id twin would beat
    * the valid doc), a NULL id can be neither guarded, appended nor
    * attributed, and [[graft.ext.DropSet.applyTo]] needs non-null keys.
    */
  private def qualityFiltered(cl: DataFrame): DataFrame = {
    val s = cl.sparkSession
    import s.implicits._
    val ntD = nullif($"n_tokens", lit(0L)).cast("double")
    cl.filter($"doc_id".isNotNull)
      .select(Seq($"doc_id", $"lang", $"source", $"n_chars", $"text",
        TextStats.repetitionStats($"text").as("r")) ++
        TextStats.statsColumns($"text"): _*)
      .filter($"n_tokens" >= MinTokens &&
        $"quality_score" >= MinQuality &&
        rnd($"r.top_tok_freq".cast("double") / ntD, 4) <= MaxTopTokRatio &&
        rnd($"r.n_distinct".cast("double") / ntD, 4) >= MinDistinctRatio)
      .select($"doc_id", $"lang", $"source", $"n_chars", $"text")
  }

  /** Stages 2–6 over a cleaned corpus `cl`: quality filter, exact
    * dedup, MinHash-LSH dedup, semantic dedup, decontamination — the
    * batch curation core shared VERBATIM by [[pipeline]] (q117, which
    * continues into mix/budget/pack) and [[incrementalIngest]] (q122,
    * which uses it to build the frozen store the delta ingests
    * against). The holdout is carved from `cl` itself (its q51 eval
    * split); the semantic index is trained on the full `emb` table —
    * the maintained production index.
    */
  private[graft] def curatedSurvivors(s: SparkSession, cl: DataFrame,
      emb: DataFrame,
      trainedOpt: Option[() => Seq[(Long, Seq[Float])]] = None,
      cacheFinal: Boolean = true): DataFrame = {
    import s.implicits._

    val s2 = qualityFiltered(cl)

    // the stage-6 holdout artifact (distinct shingle codes, count,
    // Bloom bytes) depends only on `cl`, not on stages 3–5 — prepare
    // it OVERLAPPED (guide §2.6) with the stage-4 pair pipeline and
    // await where stage 6 consumes it. Concurrent first-touch of the
    // cl cache is safe (the cache manager serializes per-partition
    // computation).
    val holdout = cl.filter(bucketOf(col("doc_id")) >= HoldoutBucket)
    val holdoutF = graft.ext.DriverPool.submit(s)(
      Dedup.prepareHoldout(holdout))

    // stage 3: exact dedup on cleaned text — the shared hash-led
    // keep-min ([[exactKeepMin]]'s shuffle discipline)
    val s3 = Dedup.cached(exactKeepMin(s2))

    // stage 4: MinHash-LSH near-dup drop list among survivors (q21's
    // pair generator on the survivor frame, q73's keep-min-id policy),
    // from one capped pair fetch plus driver union-find (the pair table
    // cached, so an over-cap fallback re-reads it). No drops: s4 IS s3
    // (already cached — re-wrapping would double-register it)
    val pairs4 = Dedup.cached(Dedup.minhashPairs(s3, MinJaccard)
      .select($"doc1".as("src"), $"doc2".as("dst")))
    val drops4 =
      graft.operators.Graph.componentNonRootsCapped(s, pairs4, ComponentPairCap)
    val s4 = if (drops4.isEmpty) s3 else Dedup.cached(drops4.applyTo(s3))

    // stage 5: semantic dedup — index trained on the FULL embedding
    // table (q101's trainer; [[incrementalIngest]] passes its already-
    // trained index in — ONE maintained index, trained once; the
    // thunk lets callers OVERLAP training with the docs-side stages,
    // awaited only here where stage 5 needs it), pairs generated
    // strictly within a cell and only between survivors (filtering the
    // embedding side first is equivalent: cell assignment is a pure
    // per-vector map)
    val trained = trainedOpt.map(_.apply()).getOrElse(
      Similarity.kmeansCentroids(emb, k = IndexK, iters = IndexIters,
        roundTo = IndexRound))
    val embS4 = emb.join(s4.select($"doc_id".as("vec_id")), Seq("vec_id"))
    val drop5 = Dedup.semanticDropList(embS4, s4, trained, MinCos)
      .select($"doc_id")
    val s5 = s4.join(drop5, Seq("doc_id"), "left_anti")

    // stage 6: decontamination — holdout = the corpus' eval split
    // (q51 hash buckets >= 80); survivors keep only train-bucket docs
    // with zero 5-gram overlap (q81's Bloom-pruned exact join; the
    // prepared artifact was built overlapped above —
    // contaminationAgainst(prepareHoldout(…)) IS contaminationBloom)
    val train6 = Dedup.cached(s5.filter(bucketOf($"doc_id") < HoldoutBucket))
    val cont = Dedup.contaminationAgainst(train6,
      scala.concurrent.Await.result(holdoutF,
        scala.concurrent.duration.Duration.Inf)).select($"doc_id")
    val s6 = train6.join(cont, Seq("doc_id"), "left_anti")
    // cacheFinal = false for callers whose NEXT operation is itself a
    // materialization boundary (the q122 store checkpoint, the
    // artifact-store parquet write): cache + checkpoint back-to-back
    // materialized the same rows twice
    if (cacheFinal) Dedup.cached(s6) else s6
  }

  /** The composed pipeline. Returns the final pack-plan manifest:
    * (doc_id, lang, source, n_tok, start_tok, start_seq, start_off,
    * end_seq, n_seqs).
    */
  def pipeline(s: SparkSession, docs0: DataFrame, emb: DataFrame): DataFrame = {
    import s.implicits._

    // stage 1: clean — the ONE corpus scan everything derives from
    val cl = Dedup.cached(clean(docs0))

    // the semantic index trains on the embeddings table only — run it
    // OVERLAPPED with the docs-side stages 2–4 (guide §2.6) and await
    // inside stage 5, where it is first needed
    val trainedF = graft.ext.DriverPool.submit(s)(
      Similarity.kmeansCentroids(emb, k = IndexK, iters = IndexIters,
        roundTo = IndexRound))

    // stages 2–6: the shared batch curation core
    val s6 = curatedSurvivors(s, cl, emb, Some(() =>
      scala.concurrent.Await.result(trainedF,
        scala.concurrent.duration.Duration.Inf)))

    // stage 7: domain mix — q68's uniform-share thresholds computed
    // from SURVIVOR counts. The per-source count table is
    // mix-dimension-sized, so it is fetched CAPPED and the thresholds
    // computed on the driver: the threshold frame becomes a
    // LocalRelation, whose broadcast build submits NO Spark job, where
    // the old shape paid a totals aggregation plus two broadcast
    // builds inside the action (scalar totals crossJoin, q92's form).
    // `(total * 1000) DIV (k * n_before)` over positive longs is plain
    // integral division — mirrored exactly. Over the cap (a mix
    // dimension with ~100k+ values) the distributed form runs
    // unchanged; rows identical either way (null sources never
    // equi-match the join in both forms).
    val cnts = s6.groupBy($"source").agg(count(lit(1)).as("n_before"))
    val thrRows = DriverTier.fetchCapped(cnts, MixCountsCap)(r =>
      (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        r.getLong(1)))
    val thr = thrRows match {
      case Some(rows) =>
        // totals over ALL count rows (a null-source group counts into
        // total/k exactly as the distributed aggregate counted it);
        // the null source itself gets no threshold row — it could
        // never equi-match the join in either form
        val total = rows.iterator.map(_._2).sum
        val k = rows.length.toLong
        rows.toIndexedSeq.filter(_._1 != null)
          .map { case (src, n) =>
            (src, math.min(1000L, (total * 1000L) / (k * n))) }
          .toDF("source", "thr")
      case None =>
        val cntsC = Dedup.cached(cnts)
        val tots = cntsC.agg(sum($"n_before").as("total"),
          count(lit(1)).as("k"))
        cntsC.crossJoin(broadcast(tots))
          .select($"source",
            least(lit(1000L), expr("(total * 1000) DIV (k * n_before)"))
              .as("thr"))
    }
    val s7 = s6.join(broadcast(thr), Seq("source"))
      .filter(mixHash($"doc_id") < $"thr")

    // stage 8: per-language token budget — q87's deterministic hash
    // order (doc_id tiebreak per the q113 rule) + distributed prefix
    // scan, cut at the budget
    val base8 = s7.select($"lang", $"source", orderHash($"doc_id").as("h"),
      $"doc_id",
      coalesce(size(TextStats.tokens($"text")), lit(0))
        .cast("long").as("n_tok"))
    val s8 = Dedup.cached(graft.operators.PrefixSum
      .cumSumByKey(base8, "lang", Seq("h", "doc_id"), "n_tok")
      .filter($"cum" <= TokenBudget)
      .select($"lang", $"source", $"doc_id", $"n_tok"))

    // stage 9: pack the final survivors into the contiguous token
    // stream (q112). Attribution (lang, source) RIDES the prefix scan
    // as keep-columns instead of being joined back on afterwards — the
    // join was 1:1 on doc_id (s8 is one row per doc, the pack keeps
    // its n_tok > 0 subset), so carrying the columns is row-identical
    // and removes a manifest-sized join + its broadcast build.
    Packing.packPlanFromCounts(
        s8.select($"doc_id", $"n_tok", $"lang", $"source"), SeqLen,
        keep = Seq("lang", "source"))
      .select($"doc_id", $"lang", $"source", $"n_tok", $"start_tok",
        $"start_seq", $"start_off", $"end_seq", $"n_seqs")
  }

  /** q122: INCREMENTAL curation ingest — the production shape after the
    * first 100 TB run: the store of already-curated survivors is
    * immutable (you do not retract data a model already trained on);
    * a DELTA of new documents flows through the same stage semantics,
    * each dedup stage now asymmetric (delta-vs-store first — the store
    * always wins — then within-delta with the keep-min-id policy), and
    * accepted docs APPEND to the store's token stream: their pack
    * offsets continue exactly where the store's manifest ends.
    *
    * Stage contract, delta side (thresholds shared with [[pipeline]]):
    *   1 clean, 2 quality+repetition filter — per-doc, unchanged;
    *   3 exact: drop a delta doc whose cleaned text appears among the
    *     STORE's survivor texts, then keep-min-id per text within the
    *     remaining delta;
    *   4 MinHash: drop any delta doc paired ≥ [[MinJaccard]] with a
    *     store survivor ([[Dedup.minhashPairsAgainst]] — the q76
    *     ingestion operator, hot buckets capped on each side), then
    *     connected components over the remaining delta's internal
    *     pairs, keep each cluster's min id;
    *   5 semantic: same two-phase policy on the maintained index
    *     (trained over the full embedding table) — drop a delta vec
    *     with a store survivor at ≥ [[MinCos]] in its cell, then
    *     within-delta (vec1 < vec2 drops vec2);
    *   6 decontamination: the holdout is the STORE corpus' q51 eval
    *     split, frozen at store-build time; only train-bucket delta
    *     docs with zero shingle-code overlap are ingested;
    *   7 pack-append: [[Packing.packPlanFromCounts]] over the accepted
    *     delta, `start_tok` shifted by the store's total token count
    *     ([[Packing.withSeqFields]] re-derives the sequence fields, so
    *     append and from-scratch packing share one expression set).
    *
    * Mixing and token budgets (q117 stages 7–8) are deliberately NOT
    * incremental: they are corpus-global quota policies a production
    * pipeline re-runs periodically over the manifest (metadata-sized),
    * not per-ingest. Replay idempotence falls out of stage 3: re-
    * ingesting the same texts under fresh ids dedups against the store
    * exactly (IncrementalCurationSpec pins it).
    *
    * Scale shape: the store chain is the q117 core; the delta chain's
    * joins are all delta-sized on one side (anti-joins against
    * broadcastable drop lists) or capped band/cell joins against the
    * store's bucketed signature/cell tables — never store × store
    * re-pairing. The stream base is a 1-row aggregate crossJoined
    * broadcast, not a collect.
    */
  def incrementalIngest(s: SparkSession, docs0: DataFrame, emb: DataFrame,
      deltaPred: Column): DataFrame = {
    import s.implicits._

    val cl = Dedup.cached(clean(docs0))
    val clS = cl.filter(!deltaPred)
    val clD = cl.filter(deltaPred)

    // ONE maintained semantic index (q117's full-table training),
    // trained once and shared by the store chain and the delta stages.
    // Training reads only the embeddings table, so it runs OVERLAPPED
    // (guide §2.6) with the docs-side store stages and is awaited where
    // stage 5 first needs it.
    val trainedF = graft.ext.DriverPool.submit(s)(
      Similarity.kmeansCentroids(emb, k = IndexK, iters = IndexIters,
        roundTo = IndexRound))
    def awaitTrained(): Seq[(Long, Seq[Float])] =
      scala.concurrent.Await.result(trainedF,
        scala.concurrent.duration.Duration.Inf)

    // the frozen store: the batch curation core over the store corpus,
    // checkpointed at the boundary ([[stageLeaf]] — lazy, FT-aware,
    // tracked): the store is referenced by four delta stages, and
    // nesting the full store lineage into each would grow the composed
    // plan multiplicatively (observed: a >2 GB plan string before Spark
    // even scheduled). Production reads the store from a persisted
    // table; the checkpoint IS that boundary. `n_tok` is materialized
    // INTO the leaf (the artifact-store discipline): the pack-append
    // base then reads one small column instead of re-tokenizing the
    // whole store a second time — same sum by the same expression.
    val store = stageLeaf(
      curatedSurvivors(s, clS, emb, Some(() => awaitTrained()),
          cacheFinal = false)
        .withColumn("n_tok",
          coalesce(size(TextStats.tokens($"text")), lit(0)).cast("long")))
    val holdout = clS.filter(bucketOf($"doc_id") >= HoldoutBucket)

    ingestDelta(s, store, holdout, clD, emb, awaitTrained())
  }

  /** Store-side artifacts the delta stages consume — ids (the id-guard
    * authority), hashed survivor texts (stage 3), the minhash
    * signature table (stage 4), IVF cell assignments (stage 5), and
    * the prepared holdout (stage 6). The batch entry points build it
    * transiently per call ([[ingestDelta]] — caches registered in
    * Dedup's registry exactly as before); the STREAMING ingest builds
    * it once per store version and reuses it across micro-batches:
    * re-deriving five corpus-sized tables for every few-doc delta was
    * the dominant share of the per-batch job floor the round-12 soak
    * measured.
    */
  final case class StoreSide(ids: DataFrame, texts: DataFrame,
      sigs: DataFrame, cells: DataFrame, holdout: Dedup.HoldoutCodes)

  /** The id-guard and exact-text-guard frames of a store — ONE
    * definition shared by the transient ([[storeSideOf]]) and persisted
    * ([[preparedStoreSide]]) side builders, so the guard shapes can
    * never drift between the q122 and q125 paths.
    */
  private def storeGuards(store: DataFrame): (DataFrame, DataFrame) = (
    store.select(col("doc_id")),
    store.select(xxhash64(col("text")).as("__h"), col("text")))

  /** The transient per-call [[StoreSide]] (batch paths). */
  private def storeSideOf(s: SparkSession, store: DataFrame,
      holdout: DataFrame, emb: DataFrame,
      trained: Seq[(Long, Seq[Float])]): StoreSide = {
    import s.implicits._
    val (gIds, gTexts) = storeGuards(store)
    StoreSide(
      ids = gIds,
      texts = gTexts,
      sigs = Dedup.cached(Dedup.signatureFrame(store)),
      cells = Dedup.cached(Similarity.ivfAssign(
        emb.join(store.select($"doc_id".as("vec_id")), Seq("vec_id")),
        trained)),
      holdout = Dedup.prepareHoldout(holdout))
  }

  /** Stage-4 store half: the q76 asymmetric band join's drop list, over
    * the delta's pre-derived signature table `iSig`.
    */
  private def minhashVsStoreDrop(side: StoreSide, iSig: DataFrame): DataFrame =
    Dedup.minhashPairsAgainstSigs(side.sigs, iSig, MinJaccard)
      .select(col("in_doc").as("doc_id")).distinct()

  /** IVF cell assignment of the delta's embeddings on the maintained
    * index.
    */
  private def deltaCells(emb: DataFrame, d: DataFrame,
      trained: Seq[(Long, Seq[Float])],
      smallDelta: Boolean = false): DataFrame = {
    val ids = d.select(col("doc_id").as("vec_id"))
    Similarity.ivfAssign(
      emb.join(if (smallDelta) broadcast(ids) else ids, Seq("vec_id")),
      trained)
  }

  /** Stage-5 store half: delta vecs within [[MinCos]] of a store
    * survivor in their cell.
    */
  private def semanticVsStoreDrop(side: StoreSide, aD: DataFrame,
      smallDelta: Boolean = false): DataFrame = {
    val right = aD.select(col("cell"), col("vec_id").as("vec2"),
      col("embedding").as("e2"))
    side.cells.select(col("cell"), col("embedding").as("e1"))
      .join(if (smallDelta) broadcast(right) else right, Seq("cell"))
      .filter(rnd(Similarity.cosine(col("e1"), col("e2")), 6) >= MinCos)
      .select(col("vec2").as("doc_id")).distinct()
  }

  /** Stage-5 within-delta half (vec1 < vec2 drops vec2). */
  private def semanticWithinDrop(aD5: DataFrame,
      smallDelta: Boolean = false): DataFrame = {
    val right = aD5.select(col("cell"), col("vec_id").as("vec2"),
      col("embedding").as("e2"))
    aD5.select(col("cell"), col("vec_id").as("vec1"),
        col("embedding").as("e1"))
      .join(if (smallDelta) broadcast(right) else right, Seq("cell"))
      .filter(col("vec1") < col("vec2") &&
        rnd(Similarity.cosine(col("e1"), col("e2")), 6) >= MinCos)
      .select(col("vec2").as("doc_id")).distinct()
  }

  /** Once-per-store-version band artifacts for the streaming hot path:
    * the store's uncapped [[Dedup.explodedBands]] table and its per-key
    * counts (the hot-bucket cap's input), both checkpoint leaves, plus
    * the window's appended bands (tiny, lazy). [[hotKeys]] reconciles
    * the EXACT hot-key set per batch: base-hot keys from the counts
    * leaf, plus keys the window touched whose combined count crosses
    * the cap — a delta-sized probe, never a store-wide re-aggregation.
    */
  final case class BandSide(bands: DataFrame, counts: DataFrame,
      recentBands: Option[DataFrame],
      hotBaseLocal: Option[Set[(Int, String)]] = None)

  /** The BASE hot-key set collected once per store version (the
    * counts leaf changes only on rebuild) — [[hotKeysLocal]] serves it
    * with ZERO per-batch jobs whenever the append window is empty.
    * None = over the collect cap (callers fall back to the distributed
    * form).
    */
  private[graft] def collectHotBaseLocal(s: SparkSession,
      counts: DataFrame): Option[Set[(Int, String)]] =
    hotKeysLocal(s, BandSide(counts, counts, None))

  private def hotKeys(b: BandSide, maxBucket: Int = 1000): DataFrame = {
    val hotBase = b.counts.filter(col("cnt") > maxBucket)
      .select(col("band"), col("key"))
    b.recentBands match {
      case None => hotBase
      case Some(r) =>
        val rc = r.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("rcnt"))
        // exact decomposition with NO outer join (an outer form cannot
        // broadcast its tiny side — Spark builds only the non-outer
        // side, so it silently degraded to a counts-table shuffle):
        //  - keys present in the counts leaf: hot iff base + recent
        //    crosses the cap (inner join, touched set broadcast);
        //  - keys absent from the counts: hot iff recent alone crosses
        //    it — and such keys are also correctly caught here when
        //    they DO have a base row (base ≥ 0 only strengthens it).
        val hot2a = b.counts.join(broadcast(rc), Seq("band", "key"))
          .filter(col("cnt") + col("rcnt") > maxBucket)
          .select(col("band"), col("key"))
        val hot2b = rc.filter(col("rcnt") > maxBucket)
          .select(col("band"), col("key"))
        hotBase.unionByName(hot2a).unionByName(hot2b).distinct()
    }
  }

  /** [[hotKeys]] COLLECTED to the driver for the local-delta tier: the
    * hot filter then applies to the driver-resident delta bands —
    * identical pair suppression (a hot (band,key) contributes no
    * candidate whichever side drops it) with no distributed anti-join
    * in the per-batch plan. The reconciliation keeps its broadcast
    * hints (the collect pays one extra tiny build job, but the
    * unhinted form would sort-merge-SHUFFLE the store-sized counts
    * leaf per batch under the stream's AQE-off scope — the exact
    * degradation the hinted decomposition exists to prevent). Hot keys
    * are structurally few (≤ total band rows / maxBucket by
    * pigeonhole), but the fetch is still capped; None = over the cap,
    * caller falls back to the distributed form.
    */
  private def hotKeysLocal(s: SparkSession, b: BandSide,
      maxBucket: Int = 1000): Option[Set[(Int, String)]] = {
    // empty window ⇒ the reconciliation degenerates to the base set,
    // already collected once per store version — zero jobs
    if (b.recentBands.isEmpty && b.hotBaseLocal.isDefined)
      return b.hotBaseLocal
    val df = hotKeys(b, maxBucket)
      .select(col("band").cast("int").as("band"), col("key"))
    DriverTier.fetchCapped(df, DropListCap)(r =>
      (r.getInt(0), r.getUTF8String(1).toString)).map(_.toSet)
  }

  /** Run `body` under the Spark job description `desc` and restore the
    * caller's afterwards, so a stage/drop/phase label never leaks onto
    * the caller's later jobs.
    */
  private[graft] def stage[T](s: SparkSession, desc: String)(body: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  /** Stage-boundary lineage truncation for the curation chains (the q122
    * store leaf and every delta-stage boundary): a checkpoint replaces
    * the plan with a leaf (LogicalRDD), where a `Dedup.cached` boundary
    * keeps the full child plan nested inside the InMemoryRelation.
    * Each delta stage references the previous stage's frame 2–4×, so
    * over the ~8-stage chain a cached-boundary composition nests
    * MULTIPLICATIVELY — the gated q122 plan reached ~34k nested
    * relation nodes (a 26 MB formatted plan), and the driver's
    * per-Dataset analysis / cache-lookup canonicalization over that
    * shared-DAG-walked-as-a-tree dominated the query's wall-clock.
    * A leaf at every boundary keeps each stage's plan O(stage). Rows
    * identical (checkpoint is a materialization boundary, not a
    * transform).
    *
    * Fault-tolerance knob: `localCheckpoint` stores blocks
    * executor-resident AND discards lineage, so on a real cluster an
    * executor loss (or dynamic-allocation decommission) FAILS the
    * query where a cached boundary would recompute — fine on
    * local[N], wrong for a 100 TB deployment. When the session has a
    * RELIABLE checkpoint directory configured
    * (`sc.setCheckpointDir`, the standard Spark knob), every stage
    * boundary checkpoints there instead: recoverable after any
    * executor loss, same rows, same leaf-per-stage plan shape
    * (CheckpointModeSpec drives the ingests through both modes).
    *
    * Block lifecycle: `Dataset.unpersist` never frees checkpoint
    * blocks, so each leaf's RDD is tracked here and released by
    * [[Dedup.clearSignatureCaches]] — the same query-scoped lifecycle
    * the caches it replaced lived under (Bench/Verify/QueryProbe call
    * it between queries, the stream after each batch's own
    * checkpoint). Releasing is safe at that point for the local mode:
    * the consuming action has completed and the next run rebuilds its
    * own leaves. Reliable-mode checkpoint FILES follow the deployment's
    * `spark.cleaner.referenceTracking.cleanCheckpoints` policy, as for
    * any reliable checkpoint.
    */
  private val stageLeafRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()
  Dedup.registerClearHook { blocking =>
    var r = stageLeafRdds.poll()
    while (r != null) { r.unpersist(blocking); r = stageLeafRdds.poll() }
  }
  private def tracked(ck: DataFrame): DataFrame = {
    org.apache.spark.sql.graft.GraftExec.leafRdd(ck)
      .foreach(r => { stageLeafRdds.add(r); () })
    ck
  }
  private def reliableCheckpoints(s: SparkSession): Boolean =
    s.sparkContext.getCheckpointDir.isDefined

  /** The LAZY leaf (the q122 store boundary): the first consuming action
    * materializes it, so it costs no count job of its own.
    */
  private def stageLeaf(df: DataFrame): DataFrame =
    tracked(if (reliableCheckpoints(df.sparkSession)) df.checkpoint(false)
      else df.localCheckpoint(false))

  /** The delta chain's stage boundary: a tracked leaf materialized
    * EAGERLY under a `graft-stage <name>` job description, with its row
    * count — and, `keyed`, its doc_ids capped at [[DropListCap]] — from
    * the materializing action itself (no extra job). The counts are
    * what the chain's tier choices and empty-stage short-circuits read.
    */
  private def countedLeaf(s: SparkSession, name: String, df: DataFrame,
      keyed: Boolean = false): (DataFrame, Long, Option[Array[Long]]) =
    stage(s, s"graft-stage $name") {
      val r = org.apache.spark.sql.graft.GraftExec.checkpointCounted(df,
        reliableCheckpoints(s), keyOrdinal = if (keyed) 0 else -1,
        cap = DropListCap)
      tracked(r._1)
      r
    }

  /** Max rows a delta counts as DELTA-SIZED: the size at which the chain
    * stops forcing broadcasts and driver-resident drop lists (see
    * [[acceptDelta]]). Every collect the chain makes is capped by it,
    * so an over-cap drop list stays distributed. `@volatile var` so a
    * spec can force the over-cap shapes on a tiny delta.
    */
  @volatile private[graft] var DropListCap: Long = 100000L

  /** Delta stages guard–6 against a prepared [[StoreSide]] — the ONE
    * delta chain every ingest surface runs: [[ingestDelta]] (q122),
    * [[persistedIngest]] (q125) and the streaming
    * [[graft.streaming.CurationStream]]. Returns the ACCEPTED delta docs
    * (doc_id, lang, source, n_chars, text) — the rows an ingest appends
    * to the store; the batch surfaces add the pack-append manifest, the
    * stream derives its manifest as a view over the store.
    *
    * Materialization: every stage boundary is a [[countedLeaf]], so
    * each later analysis is O(stage) instead of O(chain) (a lazy chain
    * re-analyzed all ~30 operators — centroid literal trees, kernel
    * signatures, Bloom literals — per downstream Dataset, ~6 s per
    * micro-batch), and the counts skip provably-empty or single-row
    * stages (a 1-row delta has no within-delta pairs) before their
    * plans are built. Drop LISTS name delta docs only, so they come
    * back to the driver through one capped fetch and apply as literal
    * filters over the stage leaf; a stage whose list is empty keeps the
    * previous leaf. The result is lazy over the leaves: its consumer
    * (pack-append, or the stream's own checkpoint) materializes it once.
    *
    * Join physics come from OBSERVED sizes, never from the caller —
    * Shark's partial-DAG rule, broadcast or shuffle by what a stage
    * actually produced:
    *  - entry: the d2 leaf (stages 1–2) is counted with its ids. At
    *    most [[DropListCap]] rows ⇒ the guard probe filters the store
    *    ids by the collected ids and broadcasts the delta's hashed
    *    texts; over it, the probe is an unhinted join. The plan's own
    *    size estimate cannot make this call: a micro-batch reaches
    *    `foreachBatch` as a LogicalRDD without statistics (sizeInBytes
    *    = Long.MaxValue).
    *  - after d3: n3 ≤ [[DropListCap]] ⇒ every delta-side build side is
    *    broadcast explicitly, and n3 ≤ [[Dedup.DefaultMaxBucket]] adds
    *    the DRIVER-LOCAL tier (signatures, cells and shingle codes
    *    collected; every delta-side frame a LocalRelation). Over the
    *    cap every stage takes the unhinted shuffle-join shape and
    *    every drop list stays distributed.
    * The broadcasts are explicit because the stream runs its batch body
    * with adaptive execution OFF (AQE only split each stage query into
    * one job per exchange, 69 vs 21 jobs/batch): the static planner
    * then cannot see that a delta is small, and an unhinted anti-join
    * against a store leaf would sort-merge-shuffle the store every
    * batch. The cap is the other half of that contract: a backlog-
    * sized batch pays shuffles, never a multi-GB broadcast build.
    * Rows are identical on every tier (CurationStreamSpec,
    * IncrementalCurationSpec and the q122/q125 oracle gates).
    *
    * NULL `doc_id` rows never enter: the entry leaf runs
    * [[qualityFiltered]], which rejects them.
    */
  private[graft] def acceptDelta(s: SparkSession, side: StoreSide,
      clDelta: DataFrame, emb: DataFrame,
      trained: Seq[(Long, Seq[Float])],
      bands: Option[BandSide] = None): DataFrame = {
    import s.implicits._
    val cols = Seq($"doc_id", $"lang", $"source", $"n_chars", $"text")
    def leaf(name: String)(df: DataFrame): (DataFrame, Long) = {
      val (c, n, _) = countedLeaf(s, name, df)
      (c, n)
    }
    // a drop list over DropListCap stays distributed (see the tiers);
    // a stage whose list is empty keeps the previous leaf
    def fetchDrops(name: String)(df: DataFrame): DropSet =
      stage(s, s"graft-drop $name")(DropSet.fetch(df, DropListCap))
    val empty = clDelta.select(cols: _*).limit(0)

    // stages 1–2 (per-doc) behind the entry leaf
    val (d2, n2, d2Ids) = countedLeaf(s, "d2_quality",
      qualityFiltered(clDelta), keyed = true)
    if (n2 == 0) return empty

    // stages guard + 3-store-half in ONE probe action: the known-id
    // overlap (store is the id authority) and the exact-text matches
    // (store is the text authority) come back as one drop list, so the
    // d3 leaf below runs join-free. Probing after the quality filter
    // is exact: all three drops are per-doc predicates (they commute),
    // and keep-min runs after every one of them — a dropped doc can
    // never win it. NULL text never equi-matches (same as an anti-join
    // form), and store-side nulls (redacted docs) likewise.
    // Under the cap the id side restricts the store ids by the
    // collected d2 ids, so only the hashed-text side pays a build.
    val dKeyed = d2.select($"doc_id", xxhash64($"text").as("__h"), $"text")
    val idHits = DropSet(d2Ids, d2.select($"doc_id")).restrict(side.ids)
    val textHits = side.texts.join(
      if (d2Ids.isDefined) broadcast(dKeyed) else dKeyed, Seq("__h", "text"))
    val guardDrops = fetchDrops("guard_and_exact")(
      idHits.unionByName(textHits.select($"doc_id")))

    // stage 3 within the delta: keep-min per text. The leaf's action
    // also yields the d3 ids, seeding the driver-side survivor tracking
    // the local tier rides.
    val (d3, n3, d3Ids) = countedLeaf(s, "d3_exact",
      exactKeepMin(guardDrops.applyTo(d2)), keyed = true)
    if (n3 == 0) return empty

    // the tiers (see the scaladoc): survivor ids are tracked on the
    // driver on the local tier (drop sets are always Local there: each
    // is a subset of a ≤-cap delta, fetched under the cap)
    val small = d3Ids.isDefined
    val localDelta = small && n3 <= Dedup.DefaultMaxBucket
    var live: Array[Long] = d3Ids.getOrElse(Array.empty[Long])
    def track(dropped: DropSet): Unit = dropped match {
      case DropSet.Local(ids) if ids.nonEmpty =>
        val dset = ids.toSet; live = live.filterNot(dset)
      case _ => ()
    }
    def localFrame(rows: java.util.List[org.apache.spark.sql.Row],
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      s.createDataFrame(rows, schema)

    // within-delta near-dup components; the over-cap tier caches its
    // pair table for the fixpoint fallback to re-read
    def componentDrops(pairs: DataFrame): DropSet =
      stage(s, "graft-drop d4_minhash_within")(graft.operators.Graph
        .componentNonRootsCapped(s,
          if (localDelta) pairs else Dedup.cached(pairs), DropListCap))

    // stage 4 — the delta's signature table derives ONCE and serves
    // both halves: COLLECTED to the driver on the local tier (its rows
    // back every delta-side LocalRelation below), a leaf otherwise. The
    // vs-store half prefers the PREPARED band artifacts (store bands +
    // hot-key counts derived once per store version) so the per-batch
    // plan scans the store side instead of re-exploding, re-counting
    // and re-shuffling it — identical drop list either way
    val sigFrame = Dedup.signatureFrame(d3)
    val (d3Sigs, sigRows) =
      if (!localDelta) (leaf("d3_sigs")(sigFrame)._1, null)
      else (null: DataFrame,
        stage(s, "graft-stage d3_sigs")(sigFrame.collect()))
    lazy val iSig =
      if (localDelta) localFrame(java.util.Arrays.asList(sigRows: _*),
        sigFrame.schema)
      else d3Sigs
    val hotLocal: Option[Set[(Int, String)]] = bands match {
      case Some(b) if localDelta =>
        stage(s, "graft-drop d4a_hot_keys")(hotKeysLocal(s, b))
      case _ => None
    }
    val dropVs4 = (bands, hotLocal) match {
      case (Some(b), Some(hot)) =>
        val sb = b.recentBands.fold(b.bands)(r => b.bands.unionByName(r))
        Dedup.minhashPairsAgainstPreparedLocal(s, hot, sb, side.sigs,
          sigRows, MinJaccard)
          .select($"in_doc".as("doc_id")).distinct()
      case (Some(b), None) if small =>
        val sb = b.recentBands.fold(b.bands)(r => b.bands.unionByName(r))
        Dedup.minhashPairsAgainstPreparedSigs(sb, hotKeys(b), side.sigs,
          iSig, MinJaccard,
          incomingUnderCap = n3 <= Dedup.DefaultMaxBucket)
          .select($"in_doc".as("doc_id")).distinct()
      case _ => minhashVsStoreDrop(side, iSig)
    }
    val drops4 = fetchDrops("d4a_minhash_vs_store")(dropVs4)
    track(drops4)
    val (d4a, n4a) =
      if (drops4.isEmpty) (d3, n3) else leaf("d4a_ck")(drops4.applyTo(d3))
    if (n4a == 0) return empty
    val (d4, n4) =
      if (n4a == 1) (d4a, n4a)
      else if (localDelta) {
        // the within-delta probe rides the COLLECTED signatures:
        // candidates on the driver, jaccard verification through the
        // same Spark expressions over a LocalRelation (zero jobs when
        // no band bucket holds two survivors)
        val liveSet = live.toSet
        val liveSigRows = sigRows.filter(r => liveSet(r.getLong(0)))
        Dedup.minhashPairsLocal(s, liveSigRows, MinJaccard) match {
          case None => (d4a, n4a)
          case Some(pairs) =>
            val pairsD = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
            val drops = componentDrops(pairsD)
            track(drops)
            if (drops.isEmpty) (d4a, n4a)
            else leaf("d4_ck")(drops.applyTo(d4a))
        }
      } else {
        // the within-delta probe rides the SAME signature leaf,
        // per-row-filtered to the survivors (signatures are per-row
        // functions, so filter-then-pair equals pair-over-d4a exactly,
        // cap population included; n4a rows can never overfill a band
        // bucket when n4a is under the cap, so the cap branch is
        // provably a no-op and skipped)
        val pairsD = Dedup.minhashPairsFromSigs(drops4.applyTo(d3Sigs),
          MinJaccard, incomingUnderCap = n4a <= Dedup.DefaultMaxBucket)
          .select($"doc1".as("src"), $"doc2".as("dst"))
        val drops = componentDrops(pairsD)
        if (drops.isEmpty) (d4a, n4a)
        else leaf("d4_ck")(drops.applyTo(d4a))
      }

    // stage 5 — a delta with no embeddings cannot be semantically
    // dropped (stage semantics: cell pairs exist only for assigned
    // vecs), and within-delta pairs need at least 2 assigned vecs. On
    // the local tier the cell assignment is COLLECTED (the frame is a
    // LocalRelation, so the vs-store probe's delta-side broadcast
    // builds job-free) and the id restriction is a literal filter on
    // the already-tracked survivor set.
    val (aD, nA, aRows) =
      if (!localDelta) {
        val (a, n) = leaf("a5_cells")(
          deltaCells(emb, d4, trained, smallDelta = small))
        (a, n, null: Array[org.apache.spark.sql.Row])
      } else {
        val cellsFrame = graft.ext.Similarity.ivfAssign(
          emb.filter($"vec_id".isin(live.toIndexedSeq: _*)), trained)
        val rows = stage(s, "graft-stage a5_cells")(cellsFrame.collect())
        (localFrame(java.util.Arrays.asList(rows: _*), cellsFrame.schema),
          rows.length.toLong, rows)
      }
    val drops5a =
      if (nA == 0) DropSet.empty
      else fetchDrops("d5a_semantic_vs_store")(
        semanticVsStoreDrop(side, aD, smallDelta = small))
    track(drops5a)
    val (d5a, n5a) =
      if (drops5a.isEmpty) (d4, n4) else leaf("d5a_ck")(drops5a.applyTo(d4))
    if (n5a == 0) return empty
    val d5 =
      if (nA <= 1 || n5a == 1) d5a
      else if (localDelta) {
        // within-cell candidate pairs from the driver-resident cell
        // rows; the cosine verification still runs through the same
        // Spark expressions over a LocalRelation — zero jobs when no
        // cell holds two surviving vecs
        val liveSet = live.toSet
        val vi = aRows.head.fieldIndex("vec_id")
        val ci = aRows.head.fieldIndex("cell")
        val ei = aRows.head.fieldIndex("embedding")
        val byCell = aRows.iterator.filter(r => liveSet(r.getLong(vi)))
          .toArray.groupBy(_.getLong(ci))
        val pairRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        byCell.valuesIterator.foreach { rs =>
          var i = 0
          while (i < rs.length) {
            var j = 0
            while (j < rs.length) {
              if (rs(i).getLong(vi) < rs(j).getLong(vi))
                pairRows.add(org.apache.spark.sql.Row(
                  rs(j).getLong(vi), rs(i).get(ei), rs(j).get(ei)))
              j += 1
            }
            i += 1
          }
        }
        if (pairRows.isEmpty) d5a
        else {
          import org.apache.spark.sql.types._
          val pairFrame = localFrame(pairRows, StructType(Seq(
            StructField("vec2", LongType),
            StructField("e1", ArrayType(FloatType)),
            StructField("e2", ArrayType(FloatType)))))
          val dropsW = fetchDrops("d5_semantic_within")(pairFrame
            .filter(rnd(graft.ext.Similarity.cosine($"e1", $"e2"), 6)
              >= MinCos)
            .select($"vec2".as("doc_id")).distinct())
          track(dropsW)
          if (dropsW.isEmpty) d5a else leaf("d5_ck")(dropsW.applyTo(d5a))._1
        }
      } else {
        // aD restricted to the d5a survivors: a fetched vs-store list
        // drops by id; a distributed one semi-joins the d5a leaf instead
        // of re-running the store-side drop plan
        val aD5 = drops5a match {
          case DropSet.Distributed(_) =>
            DropSet.Distributed(d5a.select($"doc_id")).restrict(aD, "vec_id")
          case local => local.applyTo(aD, "vec_id")
        }
        val dropsW = fetchDrops("d5_semantic_within")(
          semanticWithinDrop(aD5, smallDelta = small))
        if (dropsW.isEmpty) d5a else leaf("d5_ck")(dropsW.applyTo(d5a))._1
      }

    // stage 6 — the train split and the final anti ride literal
    // filters over the d5 leaf. An empty holdout cannot contaminate
    // anything (zero jobs); the local tier builds the train-side
    // (doc_id, code) rows from the collected signatures — the tset IS
    // the shingle-code set — skipping the Bloom prefilter (it only
    // shrinks a broadcast; the equi-join is the exact test) and
    // tolerating eval-bucket extras (their matches name ids not in
    // dTrain, so the literal filter ignores them).
    val dTrain = d5.filter(bucketOf($"doc_id") < HoldoutBucket)
    val contIds =
      if (side.holdout.n == 0) DropSet.empty
      else if (localDelta) {
        val liveSet = live.toSet
        val codeRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        sigRows.foreach { r =>
          if (liveSet(r.getLong(0)))
            r.getSeq[Long](1).foreach(c =>
              codeRows.add(org.apache.spark.sql.Row(r.getLong(0), c)))
        }
        if (codeRows.isEmpty) DropSet.empty
        else {
          import org.apache.spark.sql.types._
          fetchDrops("d6_decontaminate")(Dedup.contaminationAgainstCodes(
            localFrame(codeRows, StructType(Seq(
              StructField("doc_id", LongType),
              StructField("code", LongType)))), side.holdout)
            .select($"doc_id"))
        }
      } else fetchDrops("d6_decontaminate")(
        Dedup.contaminationAgainst(dTrain, side.holdout, smallTrain = small)
          .select($"doc_id"))
    contIds.applyTo(dTrain)
  }

  /** ONE ingest round against an EXPLICIT store — the store-in /
    * manifest-out form a production system loops: round N+1 passes
    * `store` = round N's store unioned with round N's accepted docs
    * (their cleaned text rides the store frame, so the pack base —
    * derived here from the store itself — advances automatically), the
    * SAME frozen `holdout`, and the SAME maintained index. The q122
    * entry point [[incrementalIngest]] is exactly one such round over a
    * store it builds itself.
    *
    * Composition contract (IncrementalCurationSpec): sequential rounds
    * ≡ one combined ingest of the concatenated deltas whenever no
    * near-dup/semantic CHAIN straddles batches (a ~ b across batches,
    * b ~ c within the later one, a !~ c). On such chains the sequential
    * form keeps `c` (its only links died in round 1) while the combined
    * form's component drops it — the anchor-based incremental semantics
    * q76 established: the store, not the transitive closure over
    * never-ingested docs, is the dedup authority.
    */
  def ingestDelta(s: SparkSession, store: DataFrame, holdout: DataFrame,
      clDelta: DataFrame, emb: DataFrame,
      trained: Seq[(Long, Seq[Float])]): DataFrame =
    // stages guard–6 against the transient store side, then pack-append
    packAppend(s, store, acceptDelta(s,
      storeSideOf(s, store, holdout, emb, trained), clDelta, emb, trained))

  /** Stage 7: pack-append — offsets continue the store's token stream.
    * The base prefers a materialized n_tok column when the store
    * carries one (the CurationStream and artifact stores do, so the
    * base is a one-column scan and redacted rows keep their FROZEN
    * counts — every already-trained offset stays valid); the q122
    * batch store frame has no such column and takes the tokenize path
    * — the gated plan is unchanged.
    */
  private def packAppend(s: SparkSession, store: DataFrame,
      accepted: DataFrame): DataFrame = {
    import s.implicits._
    val tokCount = coalesce(size(TextStats.tokens($"text")), lit(0))
      .cast("long").as("n_tok")
    val baseCounts =
      if (store.columns.contains("n_tok")) store.select($"n_tok")
      else store.select(tokCount)
    val base = baseCounts.agg(
      coalesce(sum($"n_tok"), lit(0L)).as("__base"))
    // attribution rides the pack as keep-columns (the q117 stage-9
    // discipline): row-identical to the 1:1 join it replaces, one
    // delta-sized join fewer per ingest
    val packed = Packing.packPlanFromCounts(
      accepted.select($"doc_id", tokCount, $"lang", $"source"), SeqLen,
      keep = Seq("lang", "source"))
    Packing.withSeqFields(
      packed.crossJoin(broadcast(base))
        .select($"doc_id", $"n_tok",
          ($"start_tok" + $"__base").as("start_tok"), $"lang", $"source"),
      SeqLen, keep = Seq("lang", "source"))
      .select($"doc_id", $"lang", $"source", $"n_tok", $"start_tok",
        $"start_seq", $"start_off", $"end_seq", $"n_seqs")
  }

  /** q125: the q122 ingest against a PERSISTED store read from disk —
    * the production steady state [[incrementalIngest]]'s own scaladoc
    * names. q122 rebuilds the whole store inside the timed query (a
    * recorded setup-cost row the bench keeps on purpose); this twin
    * reads the FULL maintained artifact set — store (with n_tok
    * materialized), trained centroids, signature table, IVF cell
    * assignments, holdout codes + Bloom — from a fingerprint-keyed
    * artifact directory (built once per corpus CONTENT — changed data
    * rebuilds instead of serving stale bytes) and pays ONLY the delta
    * chain + pack-append: no O(store) re-derivation survives in the
    * timed ingest. Gated against the SAME q122 oracle string: the
    * persisted round-trip must be invisible to the answer.
    */
  def persistedIngest(s: SparkSession, d: String): DataFrame = {
    val deltaPred = pmod(col("doc_id"), lit(7L)) === 0L
    val root = storeArtifacts(s, d, deltaPred)
    val store = s.read.parquet(s"$root/store")
    val trained = s.read.parquet(s"$root/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    val side = preparedStoreSide(s, root, store)
    // the prepared band artifacts: exploded bands are a narrow map over
    // the persisted signature table; the per-key counts (the hot-bucket
    // cap's input) come straight from parquet — the ingest never
    // re-aggregates the store's band table
    val bandSide = BandSide(
      bands = Dedup.explodedBands(side.sigs),
      counts = Dedup.cached(s.read.parquet(s"$root/band_counts")),
      recentBands = None)
    packAppend(s, store, acceptDelta(s, side,
      clean(Tables.documents(s, d).filter(deltaPred)),
      Tables.embeddings(s, d), trained, Some(bandSide)))
  }

  /** The [[StoreSide]] read back from a [[storeArtifacts]] directory:
    * signature table, IVF cell assignments, and holdout codes + Bloom
    * are parquet round-trips of the derivations [[storeSideOf]] pays
    * per call — every value is a deterministic integer/float that
    * parquet preserves bit-exactly, so the prepared side's rows equal
    * the transient side's by construction (and the q125 gate pins it
    * against the q122 oracle end-to-end). Only the exact-text guard
    * still scans the store itself: text equality must compare real
    * text (hash-only would admit collisions), and that scan is
    * column-pruned to (doc_id, text).
    */
  private def preparedStoreSide(s: SparkSession, root: String,
      store: DataFrame): StoreSide = {
    val codes = Dedup.cached(s.read.parquet(s"$root/holdout_codes"))
    val n = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "holdout_n").toPath), "UTF-8").trim.toLong
    val bloomF = new java.io.File(root, "holdout_bloom.bin")
    val bytes =
      if (bloomF.isFile)
        Some(java.nio.file.Files.readAllBytes(bloomF.toPath))
      else None
    val (gIds, gTexts) = storeGuards(store)
    StoreSide(
      ids = gIds,
      texts = gTexts,
      sigs = Dedup.cached(s.read.parquet(s"$root/sigs")),
      cells = Dedup.cached(s.read.parquet(s"$root/cells")),
      holdout = Dedup.HoldoutCodes(codes, n, bytes))
  }

  /** Build (once per corpus content) the persisted artifacts a
    * steady-state ingest maintains out-of-band: the curated store (the
    * q117 stage-2–6 core over the non-delta corpus, n_tok
    * materialized), the frozen eval holdout, the trained semantic
    * index, and the DERIVED store-side tables every ingest consumes —
    * minhash signature table, IVF cell assignments, holdout shingle
    * codes + serialized Bloom filter. The `_READY` marker is written
    * LAST, so a crashed build re-runs instead of serving a partial
    * store; float centroids/embeddings round-trip parquet bit-exactly.
    */
  /** The artifact-layout tag: the layout version PLUS a hash of every
    * derivation constant the persisted artifacts bake in — the minhash
    * geometry and seed arrays, the token/shingle prime, the curation
    * thresholds, the trained-index shape, and the DELTA PREDICATE's
    * canonical SQL (the store/delta split is baked into the persisted
    * store, so a predicate edit with
    * unchanged data must also miss the cache). The corpus fingerprint
    * keys on DATA content only, so without this any constant edit
    * would leave a warm cache serving artifacts derived under the OLD
    * constants against a serve-time chain using the new ones (band
    * keys that never collide, drops silently missed); folding the
    * constants into the directory name makes such a cache rebuild
    * instead.
    */
  private def artifactLayoutTag(deltaPredSql: String): String = {
    val consts = Seq[Any](
      "v4", Dedup.Bands, Dedup.Rows,
      Dedup.A.mkString(","), Dedup.B.mkString(","),
      TextStats.P, Dedup.DefaultMaxBucket,
      MinTokens, MinQuality, MaxTopTokRatio, MinDistinctRatio,
      MinJaccard, MinCos, HoldoutBucket, TokenBudget, SeqLen,
      IndexK, IndexIters, IndexRound, deltaPredSql
    ).mkString(":")
    val crc = new java.util.zip.CRC32()
    crc.update(consts.getBytes("UTF-8"))
    f"v4_${crc.getValue}%08x"
  }

  private def storeArtifacts(s: SparkSession, d: String,
      deltaPred: Column): String = synchronized {
    import s.implicits._
    val fp = Tables.fingerprint(d, Seq("documents", "embeddings"))
    val tmpdir = new java.io.File(System.getProperty("java.io.tmpdir"))
    // Column.toString renders the UNRESOLVED expression tree — stable
    // across sessions (no expr-ids before analysis), which is all the
    // constants hash needs
    val prefix =
      s"graft_curation_store_${artifactLayoutTag(deltaPred.toString)}_"
    val rootF = new java.io.File(tmpdir, s"$prefix$fp")
    val root = rootF.toString
    val readyF = new java.io.File(rootF, "_READY")
    // mark the tree READ on every cache-hit serve: plain reads don't
    // move mtimes, so without this a co-resident binary actively
    // SERVING an older-layout tree looks idle to the 2 h prune guard
    // below and could lose its artifacts mid-query. Binaries carrying
    // this touch keep their trees visibly live; co-residency with
    // binaries older than it stays unsupported on one tmpdir.
    if (readyF.isFile) { readyF.setLastModified(
      System.currentTimeMillis); () }
    if (!new java.io.File(rootF, "_READY").isFile) {
      def rmTree(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmTree))
        f.delete(); ()
      }
      // the NEWEST mtime anywhere in the tree — a directory's own
      // mtime only moves on direct-child creation, so a long store
      // write leaves the tree root looking hours old while files are
      // actively landing deep inside it; age decisions must look at
      // the deepest recent write, or they kill live builds
      def newestMtime(f: java.io.File): Long = {
        val own = f.lastModified
        if (!f.isDirectory) own
        else Option(f.listFiles).map(_.foldLeft(own)((m, c) =>
          math.max(m, newestMtime(c)))).getOrElse(own)
      }
      // prune stale-LAYOUT trees (old versions / changed constants —
      // unreadable by this code, never again served) and crashed
      // builders' leftover build dirs; never a current-layout sibling
      // (other corpora legitimately coexist under the same tag), and
      // never a tree with ANY write in the last 2 h — a concurrently
      // running binary compiled with different constants may still be
      // building or serving its own layout (co-residency beyond that
      // overlap is not supported on one tmpdir)
      val pruneAge = System.currentTimeMillis - 2L * 3600 * 1000
      Option(tmpdir.listFiles).foreach(_.foreach { f =>
        val n = f.getName
        val prunable = n.startsWith("graft_curation_store") &&
          (!n.startsWith(prefix) || n.contains(".build."))
        if (prunable && newestMtime(f) < pruneAge) rmTree(f)
      })
      // build into a claimant-unique directory, publish with ONE
      // atomic rename: `synchronized` covers only this JVM, so a
      // concurrent builder in another process either wins the rename
      // or finds the target taken — a VISIBLE root is always a
      // complete artifact set, and two builders can never interleave
      // writes into one directory (the pre-rename layout wrote nine
      // artifacts straight into the served path)
      val bld = new java.io.File(tmpdir,
        s"$prefix$fp.build.${java.util.UUID.randomUUID().toString.take(8)}")
      val broot = bld.toString
      val cl = Dedup.cached(clean(Tables.documents(s, d)))
      val clS = cl.filter(!deltaPred)
      val emb = Tables.embeddings(s, d)
      val trained = Similarity.kmeansCentroids(emb, k = IndexK,
        iters = IndexIters, roundTo = IndexRound)
      // n_tok materialized at build time: the ingest's pack base then
      // reads ONE small column instead of re-tokenizing the store
      curatedSurvivors(s, clS, emb, Some(() => trained), cacheFinal = false)
        .withColumn("n_tok",
          coalesce(size(TextStats.tokens($"text")), lit(0)).cast("long"))
        .write.mode("overwrite").parquet(s"$broot/store")
      clS.filter(bucketOf($"doc_id") >= HoldoutBucket)
        .write.mode("overwrite").parquet(s"$broot/holdout")
      trained.toDF("cell_id", "centroid")
        .write.mode("overwrite").parquet(s"$broot/centroids")
      // the derived store-side artifacts a steady-state ingest
      // maintains out-of-band (the streaming store derives these once
      // per store VERSION; the serving twin persists them): derived
      // from the WRITTEN store bytes, so reader and derivation can
      // never disagree about the store contents
      val storeBack = s.read.parquet(s"$broot/store")
      Dedup.signatureFrame(storeBack)
        .write.mode("overwrite").parquet(s"$broot/sigs")
      Dedup.explodedBands(s.read.parquet(s"$broot/sigs"))
        .groupBy($"band", $"key").agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$broot/band_counts")
      Similarity.ivfAssign(
          emb.join(storeBack.select($"doc_id".as("vec_id")), Seq("vec_id")),
          trained)
        .write.mode("overwrite").parquet(s"$broot/cells")
      val h = Dedup.prepareHoldout(s.read.parquet(s"$broot/holdout"))
      h.codes.write.mode("overwrite").parquet(s"$broot/holdout_codes")
      java.nio.file.Files.write(
        new java.io.File(bld, "holdout_n").toPath,
        h.n.toString.getBytes("UTF-8"))
      h.bloomBytes.foreach(bytes => java.nio.file.Files.write(
        new java.io.File(bld, "holdout_bloom.bin").toPath, bytes))
      Dedup.clearSignatureCaches()
      // _READY is written INSIDE the build dir before the publish, so
      // even a copied/moved tree carries its completeness marker
      java.nio.file.Files.write(
        new java.io.File(bld, "_READY").toPath, Array.empty[Byte])
      if (!bld.renameTo(rootF)) {
        // lost the publish race: discard this build and serve the
        // winner's tree — which is complete by construction, because
        // a root can only ever APPEAR via this rename
        rmTree(bld)
        if (!new java.io.File(rootF, "_READY").isFile)
          throw new IllegalStateException(
            s"artifact publish failed and $root is not a complete " +
              "artifact directory")
      }
    }
    root
  }

  val queries: Map[String, Q] = Map(
    "q117_curation_pipeline" -> ((s, d) =>
      pipeline(s, Tables.documents(s, d), Tables.embeddings(s, d))),
    "q122_incremental_curation" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      incrementalIngest(s, Tables.documents(s, d), Tables.embeddings(s, d),
        pmod(col("doc_id"), lit(7L)) === 0L)
    }),
    "q125_incremental_served" -> ((s, d) => persistedIngest(s, d))
  )

  // ---- oracle SQL ------------------------------------------------------

  import LlmQueries.{toksExpr, minhashCols, bandKeyCase, shingleCtesFor}
  import Advanced.{lloydCte, cosSql}

  private val P = TextStats.P
  private val stopList =
    TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The full pipeline replay: every stage is the standalone gate's CTE
    * chain re-rooted on the previous stage's survivor set. WITH
    * RECURSIVE for the stage-4 component fixpoint (the q73 oracle).
    */
  private def q117Sql: String = {
    val quality = Num.rSql(
      s"least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 + " +
        s"(1.0 - abs(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)" +
        s" - 0.4)) * 0.5", 4)
    val topTok = Num.rSql(
      "CAST(top_tok_freq AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)", 4)
    val dist = Num.rSql(
      "CAST(n_distinct AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)", 4)
    s"""WITH RECURSIVE
      cl AS (SELECT doc_id, lang, source,
          trim(regexp_replace(
            regexp_replace(text, '[0-9]+', '<NUM>', 'g'), ' +', ' ', 'g'))
            AS text
        FROM documents),
      qt AS (SELECT doc_id, $toksExpr AS toks FROM cl),
      qs AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
          CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
            list_max(list_transform(list_distinct(toks),
              u -> len(list_filter(toks, x -> x = u)))) END AS BIGINT)
            AS top_tok_freq,
          CAST(len(list_filter(toks, t -> list_contains($stopList, t)))
            AS BIGINT) AS n_stop
        FROM qt),
      s2 AS (SELECT doc_id FROM qs
        WHERE n_tokens >= $MinTokens
          AND $quality >= $MinQuality
          AND $topTok <= $MaxTopTokRatio
          AND $dist >= $MinDistinctRatio),
      s3 AS (SELECT doc_id FROM (
          SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.text
              ORDER BY cl.doc_id) AS rn
          FROM cl JOIN s2 USING (doc_id)) WHERE rn = 1),
      ${shingleCtesFor("cl")},
      sig AS (SELECT t.doc_id, tset, $minhashCols
        FROM t JOIN s3 USING (doc_id)),
      bands0 AS (SELECT doc_id, tset, band, $bandKeyCase AS key
        FROM sig CROSS JOIN (VALUES ${(0 until Dedup.Bands)
        .map(b => s"($b)").mkString(", ")}) AS bb(band)
        WHERE len(tset) > 0),
      bands AS (SELECT doc_id, tset, band, key FROM (
          SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz
          FROM bands0) WHERE bsz <= 1000),
      cand AS (SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
          l.tset AS t1, r.tset AS t2
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
        WHERE l.doc_id < r.doc_id),
      pairs AS (SELECT doc1, doc2 FROM (
          SELECT doc1, doc2,
            floor((CAST(len(list_intersect(t1, t2)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(t1, t2))) AS DOUBLE))
              * 10000 + 0.5) / 10000 AS jaccard
          FROM cand) WHERE jaccard >= $MinJaccard),
      e AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
            UNION SELECT doc2, doc1 FROM pairs),
      n AS (SELECT DISTINCT src AS node FROM e),
      r AS (SELECT node, node AS lbl FROM n
            UNION
            SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
      drop4 AS (SELECT node AS doc_id FROM r
        GROUP BY node HAVING node != min(lbl)),
      s4 AS (SELECT doc_id FROM s3
        WHERE doc_id NOT IN (SELECT doc_id FROM drop4)),
      $lloydCte,
      spairs AS (SELECT l.vec_id AS vec1, r.vec_id AS vec2,
          ${cosSql("l.embedding", "r.embedding")} AS cos
        FROM as1 l JOIN as1 r ON l.cell = r.cell
        JOIN s4 sl ON sl.doc_id = l.vec_id
        JOIN s4 sr ON sr.doc_id = r.vec_id
        WHERE l.vec_id < r.vec_id),
      drop5 AS (SELECT DISTINCT vec2 AS doc_id FROM spairs
        WHERE cos >= $MinCos),
      s5 AS (SELECT doc_id FROM s4
        WHERE doc_id NOT IN (SELECT doc_id FROM drop5)),
      b6 AS (SELECT doc_id, tset,
          ((doc_id % 1000000000) * 2654435761) % 100 AS bucket FROM t),
      te AS (SELECT DISTINCT unnest(tset) AS code FROM b6
        WHERE bucket >= $HoldoutBucket),
      tr AS (SELECT b6.doc_id, unnest(tset) AS code
        FROM b6 JOIN s5 USING (doc_id) WHERE bucket < $HoldoutBucket),
      contaminated AS (SELECT DISTINCT tr.doc_id FROM tr JOIN te USING (code)),
      s6 AS (SELECT doc_id FROM b6 JOIN s5 USING (doc_id)
        WHERE bucket < $HoldoutBucket
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
      c7 AS (SELECT source, count(*) AS n_before
        FROM cl JOIN s6 USING (doc_id) GROUP BY source),
      t7 AS (SELECT source, CAST(n_before AS BIGINT) AS n_before,
        CAST((SELECT sum(n_before) FROM c7) AS BIGINT) AS total,
        CAST((SELECT count(*) FROM c7) AS BIGINT) AS k FROM c7),
      thr AS (SELECT source,
        CAST(least(1000, (total * 1000) // (k * n_before)) AS BIGINT)
          AS thr FROM t7),
      s7 AS (SELECT cl.doc_id FROM cl JOIN s6 USING (doc_id)
        JOIN thr USING (source)
        WHERE ((cl.doc_id % 1000000000) * 2654435761 + 131) % 1000 < thr),
      t8 AS (SELECT cl.lang, cl.doc_id,
          ((cl.doc_id % 1000000007) * 2654435761 + 17) % 1000000007 AS h,
          CAST(coalesce(len($toksExpr), 0) AS BIGINT) AS n_tok
        FROM cl JOIN s7 USING (doc_id)),
      c8 AS (SELECT *, CAST(sum(n_tok) OVER (
          PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS cum FROM t8),
      s8 AS (SELECT lang, doc_id, n_tok FROM c8 WHERE cum <= $TokenBudget),
      c9 AS (SELECT doc_id, n_tok,
          CAST(sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT)
            AS start_tok
        FROM s8)
      SELECT c9.doc_id, cl.lang, cl.source, c9.n_tok, c9.start_tok,
        CAST(start_tok // $SeqLen AS BIGINT) AS start_seq,
        CAST(start_tok % $SeqLen AS BIGINT) AS start_off,
        CAST((start_tok + n_tok - 1) // $SeqLen AS BIGINT) AS end_seq,
        CAST((start_tok + n_tok - 1) // $SeqLen - start_tok // $SeqLen + 1
          AS BIGINT) AS n_seqs
      FROM c9 JOIN cl USING (doc_id) WHERE n_tok > 0"""
  }

  /** q122 replay: the q117 CTE chain run twice over one corpus — the
    * store chain (membership `doc_id % 7 <> 0`) exactly as q117's
    * stages 2–6, then the delta chain with each dedup stage asymmetric
    * (vs the store's survivor set first, then within the delta). Every
    * builder string is the one the standalone gates use; NOT EXISTS
    * (not NOT IN) for the text anti-joins so a NULL text matches
    * Spark's left_anti semantics. Band caps are windowed per SIDE and
    * per POPULATION, exactly where the Spark plan caps
    * ([[Dedup.minhashPairsAgainst]] caps store and delta bands
    * independently; the within-delta pair generator re-caps over the
    * post-store-drop population).
    */
  /** Mark multiply-referenced CTEs MATERIALIZED in an assembled oracle.
    * DuckDB 1.0 INLINES CTEs by default, so q122's band/sig fan-out
    * (four band tables over one signature table, each self-joined)
    * re-expands the whole shingle chain once per reference — the plan
    * exhausted a 20k fd limit at sf0.01 before touching real data. A
    * planning artifact, not semantics: MATERIALIZED is a pure hint.
    * Applied textually AFTER assembly so the shared CTE builders stay
    * verbatim across their consumers.
    */
  private def materialize(sql: String, names: Seq[String]): String =
    names.foldLeft(sql)((q, n) =>
      q.replaceFirst(s"(?<![a-zA-Z0-9_])$n AS \\(", s"$n AS MATERIALIZED ("))

  private def q122Sql: String = {
    val quality = Num.rSql(
      s"least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 + " +
        s"(1.0 - abs(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)" +
        s" - 0.4)) * 0.5", 4)
    val topTok = Num.rSql(
      "CAST(top_tok_freq AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)", 4)
    val dist = Num.rSql(
      "CAST(n_distinct AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)", 4)
    val bandsValues = (0 until Dedup.Bands).map(b => s"($b)").mkString(", ")
    val jac = "floor((CAST(len(list_intersect(t1, t2)) AS DOUBLE) " +
      "/ CAST(len(list_distinct(list_concat(t1, t2))) AS DOUBLE)) " +
      "* 10000 + 0.5) / 10000"
    // one band-table builder per (name, population): the q117 bands0/
    // bands chain with the cap windowed over exactly this population
    def bandCtes(name: String, pop: String): String =
      s"""${name}0 AS (SELECT doc_id, tset, band, $bandKeyCase AS key
        FROM (SELECT sig.* FROM sig JOIN $pop USING (doc_id))
        CROSS JOIN (VALUES $bandsValues) AS bb(band)
        WHERE len(tset) > 0),
      $name AS (SELECT doc_id, tset, band, key FROM (
          SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz
          FROM ${name}0) WHERE bsz <= 1000)"""
    s"""WITH RECURSIVE
      cl AS (SELECT doc_id, lang, source,
          trim(regexp_replace(
            regexp_replace(text, '[0-9]+', '<NUM>', 'g'), ' +', ' ', 'g'))
            AS text
        FROM documents),
      qt AS (SELECT doc_id, $toksExpr AS toks FROM cl),
      qs AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
          CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
            list_max(list_transform(list_distinct(toks),
              u -> len(list_filter(toks, x -> x = u)))) END AS BIGINT)
            AS top_tok_freq,
          CAST(len(list_filter(toks, t -> list_contains($stopList, t)))
            AS BIGINT) AS n_stop
        FROM qt),
      f2 AS (SELECT doc_id FROM qs
        WHERE n_tokens >= $MinTokens
          AND $quality >= $MinQuality
          AND $topTok <= $MaxTopTokRatio
          AND $dist >= $MinDistinctRatio),
      a2 AS (SELECT doc_id FROM f2 WHERE doc_id % 7 <> 0),
      a3 AS (SELECT doc_id FROM (
          SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.text
              ORDER BY cl.doc_id) AS rn
          FROM cl JOIN a2 USING (doc_id)) WHERE rn = 1),
      ${shingleCtesFor("cl")},
      sig AS (SELECT t.doc_id, tset, $minhashCols FROM t
        WHERE t.doc_id IN (SELECT doc_id FROM a3
          UNION SELECT doc_id FROM f2 WHERE doc_id % 7 = 0)),
      ${bandCtes("abands", "a3")},
      acand AS (SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
          l.tset AS t1, r.tset AS t2
        FROM abands l JOIN abands r ON l.band = r.band AND l.key = r.key
        WHERE l.doc_id < r.doc_id),
      apairs AS (SELECT doc1, doc2 FROM (
          SELECT doc1, doc2, $jac AS jaccard FROM acand)
        WHERE jaccard >= $MinJaccard),
      ae AS (SELECT doc1 AS src, doc2 AS dst FROM apairs
            UNION SELECT doc2, doc1 FROM apairs),
      an AS (SELECT DISTINCT src AS node FROM ae),
      ar AS (SELECT node, node AS lbl FROM an
            UNION
            SELECT ae.dst AS node, ar.lbl FROM ar JOIN ae ON ae.src = ar.node),
      adrop4 AS (SELECT node AS doc_id FROM ar
        GROUP BY node HAVING node != min(lbl)),
      a4 AS (SELECT doc_id FROM a3
        WHERE doc_id NOT IN (SELECT doc_id FROM adrop4)),
      $lloydCte,
      aspairs AS (SELECT l.vec_id AS vec1, r.vec_id AS vec2,
          ${cosSql("l.embedding", "r.embedding")} AS cos
        FROM as1 l JOIN as1 r ON l.cell = r.cell
        JOIN a4 sl ON sl.doc_id = l.vec_id
        JOIN a4 sr ON sr.doc_id = r.vec_id
        WHERE l.vec_id < r.vec_id),
      adrop5 AS (SELECT DISTINCT vec2 AS doc_id FROM aspairs
        WHERE cos >= $MinCos),
      a5 AS (SELECT doc_id FROM a4
        WHERE doc_id NOT IN (SELECT doc_id FROM adrop5)),
      b6 AS (SELECT doc_id, tset,
          ((doc_id % 1000000000) * 2654435761) % 100 AS bucket FROM t),
      te AS (SELECT DISTINCT unnest(tset) AS code FROM b6
        WHERE bucket >= $HoldoutBucket AND doc_id % 7 <> 0),
      atr AS (SELECT b6.doc_id, unnest(tset) AS code
        FROM b6 JOIN a5 USING (doc_id) WHERE bucket < $HoldoutBucket),
      acont AS (SELECT DISTINCT atr.doc_id FROM atr JOIN te USING (code)),
      a6 AS (SELECT doc_id FROM b6 JOIN a5 USING (doc_id)
        WHERE bucket < $HoldoutBucket
          AND doc_id NOT IN (SELECT doc_id FROM acont)),
      d2 AS (SELECT doc_id FROM f2 WHERE doc_id % 7 = 0),
      d3a AS (SELECT cl.doc_id FROM cl JOIN d2 USING (doc_id)
        WHERE NOT EXISTS (SELECT 1 FROM cl c2 JOIN a6 ON c2.doc_id = a6.doc_id
          WHERE c2.text = cl.text)),
      d3 AS (SELECT doc_id FROM (
          SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.text
              ORDER BY cl.doc_id) AS rn
          FROM cl JOIN d3a USING (doc_id)) WHERE rn = 1),
      ${bandCtes("sbands", "a6")},
      ${bandCtes("dbands", "d3")},
      vcand AS (SELECT DISTINCT d.doc_id AS in_doc, d.tset AS t1,
          s.tset AS t2
        FROM dbands d JOIN sbands s ON d.band = s.band AND d.key = s.key),
      vs4 AS (SELECT DISTINCT in_doc AS doc_id FROM (
          SELECT in_doc, $jac AS jaccard FROM vcand)
        WHERE jaccard >= $MinJaccard),
      d4a AS (SELECT doc_id FROM d3
        WHERE doc_id NOT IN (SELECT doc_id FROM vs4)),
      ${bandCtes("ibands", "d4a")},
      icand AS (SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
          l.tset AS t1, r.tset AS t2
        FROM ibands l JOIN ibands r ON l.band = r.band AND l.key = r.key
        WHERE l.doc_id < r.doc_id),
      ipairs AS (SELECT doc1, doc2 FROM (
          SELECT doc1, doc2, $jac AS jaccard FROM icand)
        WHERE jaccard >= $MinJaccard),
      de AS (SELECT doc1 AS src, doc2 AS dst FROM ipairs
            UNION SELECT doc2, doc1 FROM ipairs),
      dn AS (SELECT DISTINCT src AS node FROM de),
      dr AS (SELECT node, node AS lbl FROM dn
            UNION
            SELECT de.dst AS node, dr.lbl FROM dr JOIN de ON de.src = dr.node),
      ddrop4 AS (SELECT node AS doc_id FROM dr
        GROUP BY node HAVING node != min(lbl)),
      d4 AS (SELECT doc_id FROM d4a
        WHERE doc_id NOT IN (SELECT doc_id FROM ddrop4)),
      svec AS (SELECT as1.* FROM as1 JOIN a6 ON a6.doc_id = as1.vec_id),
      dvec AS (SELECT as1.* FROM as1 JOIN d4 ON d4.doc_id = as1.vec_id),
      vs5 AS (SELECT DISTINCT d.vec_id AS doc_id
        FROM svec s JOIN dvec d ON s.cell = d.cell
        WHERE ${cosSql("s.embedding", "d.embedding")} >= $MinCos),
      d5a AS (SELECT doc_id FROM d4
        WHERE doc_id NOT IN (SELECT doc_id FROM vs5)),
      dvec2 AS (SELECT as1.* FROM as1 JOIN d5a ON d5a.doc_id = as1.vec_id),
      in5 AS (SELECT DISTINCT r.vec_id AS doc_id
        FROM dvec2 l JOIN dvec2 r ON l.cell = r.cell
        WHERE l.vec_id < r.vec_id
          AND ${cosSql("l.embedding", "r.embedding")} >= $MinCos),
      d5 AS (SELECT doc_id FROM d5a
        WHERE doc_id NOT IN (SELECT doc_id FROM in5)),
      dtr AS (SELECT b6.doc_id, unnest(tset) AS code
        FROM b6 JOIN d5 USING (doc_id) WHERE bucket < $HoldoutBucket),
      dcont AS (SELECT DISTINCT dtr.doc_id FROM dtr JOIN te USING (code)),
      d6 AS (SELECT doc_id FROM b6 JOIN d5 USING (doc_id)
        WHERE bucket < $HoldoutBucket
          AND doc_id NOT IN (SELECT doc_id FROM dcont)),
      stok AS (SELECT doc_id,
          CAST(coalesce(len($toksExpr), 0) AS BIGINT) AS n_tok FROM cl),
      base AS (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS b
        FROM stok JOIN a6 USING (doc_id)),
      dc9 AS (SELECT doc_id, n_tok,
          CAST(sum(n_tok) OVER (ORDER BY doc_id) - n_tok
            + (SELECT b FROM base) AS BIGINT) AS start_tok
        FROM stok JOIN d6 USING (doc_id))
      SELECT dc9.doc_id, cl.lang, cl.source, dc9.n_tok, dc9.start_tok,
        CAST(start_tok // $SeqLen AS BIGINT) AS start_seq,
        CAST(start_tok % $SeqLen AS BIGINT) AS start_off,
        CAST((start_tok + n_tok - 1) // $SeqLen AS BIGINT) AS end_seq,
        CAST((start_tok + n_tok - 1) // $SeqLen - start_tok // $SeqLen + 1
          AS BIGINT) AS n_seqs
      FROM dc9 JOIN cl USING (doc_id) WHERE n_tok > 0"""
  }

  private lazy val q122Oracle: String = materialize(q122Sql,
    Seq("cl", "qt", "qs", "t", "sig", "abands", "sbands", "dbands",
      "ibands", "a6", "b6", "te", "stok", "as1"))

  val oracleSql: Map[String, String] = Map(
    // materialized for the same reason as q122 — and it retires q117's
    // sf1 cost-cap skip: the inlined replay blew past 300 s / OOM'd at
    // 50k docs, the materialized one finishes in ~60 s (hash-equal)
    "q117_curation_pipeline" -> materialize(q117Sql,
      Seq("cl", "qt", "qs", "t", "sig", "bands", "as1", "b6",
        "s3", "s4", "s5", "s6", "s8")),
    "q122_incremental_curation" -> q122Oracle,
    // the persisted-store twin must land on the q122 answer exactly —
    // ONE oracle string, two consumers
    "q125_incremental_served" -> q122Oracle
  )
}
