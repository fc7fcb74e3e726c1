package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Num.{r => rnd}

/** Sparse lexical retrieval over the documents table: Okapi BM25 with the
  * Lucene idf form `ln((N - df + 0.5) / (df + 0.5) + 1)` (always
  * positive, so a term in >half the corpus can't subtract score).
  *
  * Shape for 100 TB: the token array is filtered to the query terms
  * BEFORE the explode, so the exploded row count is O(matching
  * occurrences), not O(corpus tokens); df / N / avgdl are count-sized
  * aggregates broadcast back onto the (small) match table; per-term
  * partials are integer-scaled so the per-doc sum is an exact long sum —
  * order-independent, hence identical across engines and merge orders.
  *
  * Cross-engine determinism (the q71 discipline): idf is rounded EARLY,
  * at the few distinct df values, because JVM `Math.log` and libm `ln`
  * can disagree by 1 ULP; every other factor is +,*,/ over identically
  * derived doubles, which IEEE 754 makes bit-deterministic as long as
  * the oracle SQL mirrors this exact expression tree.
  *
  * Corpus passes: two (one for N/avgdl — doc length needs the tokenizer
  * — and one for the match table); `corpus` is cached here so the second
  * pass reads the pruned (doc_id, dl, qtoks) projection, not the raw
  * text. At cluster scale you'd keep the doc-length table as a
  * maintained side artifact instead of caching.
  */
object Retrieval {

  val K1 = 1.2
  val B = 0.75

  /** k1 + 1 as a LITERAL, not `K1 + 1.0`: the exact sum 1.2 + 1.0 lands
    * a near-halfway case between adjacent doubles, so the computed sum
    * and the oracle's literal `2.2` are not guaranteed to be the same
    * bit pattern. Both sides use the literal.
    */
  val K1Plus1 = 2.2

  /** Top-k docs for `terms`, scored sum over matched terms; ties broken
    * by doc_id. Output: (doc_id, n_terms, score).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // coalesce BEFORE tokenizing (the q87/q103 symmetric discipline):
    // legacy size(null) is -1, so a NULL-text row would otherwise count
    // dl = -1 into sum_dl/avgdl while the oracle's NULL dl drops out of
    // its sum — the oracle mirrors with coalesce(text, '')
    val base = Dedup.cached(docs
      .select($"doc_id", TextStats.tokens(coalesce($"text", lit(""))).as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("dl"),
        filter($"toks", t => t.isInCollection(terms)).as("qtoks")))
    val stats = base.agg(count(lit(1)).as("n"), sum($"dl").as("sum_dl"))
    val tf = Dedup.cached(base
      .select($"doc_id", $"dl", explode($"qtoks").as("term"))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("term")).join(broadcast(stats))
      .withColumn("avgdl", $"sum_dl".cast("double") / $"n".cast("double"))
      .withColumn("idf_r", rnd(log(
        ($"n".cast("double") - $"df".cast("double") + 0.5) /
          ($"df".cast("double") + 0.5) + 1.0), 4))
      .withColumn("tfs", $"tf".cast("double") * lit(K1Plus1) /
        ($"tf".cast("double") +
          lit(K1) * (lit(1.0 - B) + lit(B) * $"dl".cast("double") / $"avgdl")))
      .select($"doc_id",
        floor($"idf_r" * $"tfs" * 10000 + 0.5).cast("long").as("s4"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"),
        rnd(sum($"s4").cast("double") / 10000.0, 4).as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
  }

  /** Batch retrieval: BM25 top-k docs for EVERY query in a query table
    * `(query_id: long, terms: array<string>)`, in one corpus pass — the
    * production retrieval shape (RAG batch scoring), the lexical twin of
    * [[Similarity.batchTopK]]. A query is a SET of terms: repeated terms
    * in one query score once, and multiple rows sharing a query_id merge
    * into one query over the union of their terms (the distinct on the
    * exploded (query_id, term) pairs). Output: (query_id, rank, doc_id,
    * score), ties broken by doc_id; a query whose terms match nothing
    * emits no rows; NULL terms never match (SQL join semantics).
    *
    * Scale shape — where it deliberately differs from the single-query
    * [[bm25TopK]]: with a fixed `Seq` of 2–3 terms, filtering the token
    * ARRAY before the explode is the cheap move; with an arbitrary query
    * table the term dictionary is a DataFrame, so the corpus side
    * explodes tokens and probes a BROADCAST hash join against the
    * distinct term set — O(1) per token instead of O(|terms|), all
    * inside one codegen stage (explode + broadcast-hash-join fuse), and
    * only MATCHED occurrences reach the first shuffle. Downstream the
    * shuffles stay small: per-(doc, term) tf/s4 is computed ONCE however
    * many queries share the term, the query fan-out is a broadcast join
    * carrying O(matches x queries-per-term) rows, and the per-query
    * top-k is the mergeable bounded aggregation ([[TopKByScore]]) so the
    * final shuffle carries Q x k tuples per partition, never N x Q.
    *
    * Scoring arithmetic is bitwise-identical to [[bm25TopK]] (idf
    * rounded early at the distinct df values; integer-scaled per-term
    * partials summed exactly; shared literals).
    */
  def bm25BatchTopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = Dedup.cached(docs
      .select($"doc_id", TextStats.tokens(coalesce($"text", lit(""))).as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("dl"), $"toks"))
    val stats = base.agg(count(lit(1)).as("n"), sum($"dl").as("sum_dl"))
    val qterms = queries
      .select($"query_id", explode($"terms").as("term")).distinct()
    val termSet = qterms.select($"term").distinct()
    val tf = Dedup.cached(base
      .select($"doc_id", $"dl", explode($"toks").as("term"))
      .join(broadcast(termSet), Seq("term"))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    fusePerQuery(scoreMatches(tf, df, stats), qterms, k)
  }

  /** Shared scoring stage: per-(doc, term) integer-scaled BM25 partials
    * `s4` from a tf table `(doc_id, dl, term, tf)`, a df table
    * `(term, df)` and a one-row stats frame `(n, sum_dl)`. One
    * expression tree, used by BOTH the batch path ([[bm25BatchTopK]])
    * and the serving path ([[bm25TopKIndexed]]) so their scores are
    * bit-identical by construction, not by parallel maintenance.
    */
  private def scoreMatches(tf: DataFrame, df: DataFrame,
      stats: DataFrame): DataFrame = {
    val s = tf.sparkSession
    import s.implicits._
    tf.join(broadcast(df), Seq("term")).join(broadcast(stats))
      .withColumn("avgdl", $"sum_dl".cast("double") / $"n".cast("double"))
      .withColumn("idf_r", rnd(log(
        ($"n".cast("double") - $"df".cast("double") + 0.5) /
          ($"df".cast("double") + 0.5) + 1.0), 4))
      .withColumn("tfs", $"tf".cast("double") * lit(K1Plus1) /
        ($"tf".cast("double") +
          lit(K1) * (lit(1.0 - B) + lit(B) * $"dl".cast("double") / $"avgdl")))
      .select($"term", $"doc_id",
        floor($"idf_r" * $"tfs" * 10000 + 0.5).cast("long").as("s4"))
  }

  /** Shared query fan-out + per-query bounded top-k over scored
    * (term, doc_id, s4) partials; `qterms` is the distinct
    * (query_id, term) pair table. Output: (query_id, rank, doc_id,
    * score), ties by doc_id.
    */
  private def fusePerQuery(scored: DataFrame, qterms: DataFrame,
      k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val topk = udaf(new graft.ext.TopKByScore(k))
    scored
      .join(broadcast(qterms), Seq("term"))
      .groupBy($"query_id", $"doc_id")
      .agg(rnd(sum($"s4").cast("double") / 10000.0, 4).as("score"))
      .groupBy($"query_id")
      .agg(topk($"score", $"doc_id").as("top"))
      .select($"query_id", posexplode($"top").as(Seq("rank0", "r")))
      .select($"query_id", ($"rank0" + 1).cast("long").as("rank"),
        $"r._2".as("doc_id"), $"r._1".as("score"))
  }

  /** Query-independent BM25 serving index: the FULL inverted postings
    * table `(term, doc_id, dl, tf)`, the full per-term df table, and
    * the collected corpus stats — everything [[bm25BatchTopK]] derives
    * per call that does not depend on the queries. Build once (two
    * corpus passes), persist, then serve arbitrary query batches with
    * per-batch cost O(postings of the queried terms) instead of
    * O(corpus tokens) — the shape the point-lookup export needs
    * ([[graft.jobs.IndexExport.exportBm25]]).
    *
    * Restricting the full postings/df tables to a batch's term set
    * yields exactly the values the batch path computes from a filtered
    * corpus — tf of a (doc, term) pair and df of a term are independent
    * of which OTHER terms were kept — so indexed serving is
    * hash-identical to [[bm25BatchTopK]] per batch (pinned by spec).
    *
    * At 100 TB the postings table is a bucketed-by-term table on disk
    * rather than a cache; `n`/`sum_dl` are exact longs maintained with
    * the table. Release the caches with [[Dedup.clearSignatureCaches]].
    */
  final case class Bm25Index(postings: DataFrame, dfTable: DataFrame,
      n: Long, sumDl: Long) {
    /** One-row stats frame with the same column names/types the batch
      * path aggregates, rebuilt from the collected exact longs. On an
      * EMPTY corpus `sum_dl` is NULL — exactly what `sum` over zero
      * rows aggregates to in the batch path; a literal 0 here would
      * constant-fold `0.0 / 0.0` at planning time and throw under ANSI
      * where the batch path's NULL dividend quietly yields NULL (and no
      * posting row exists to score anyway).
      */
    def stats: DataFrame = {
      val s = postings.sparkSession
      val sumDlCol =
        if (n == 0) lit(null).cast("long") else lit(sumDl).cast("long")
      s.range(1).select(lit(n).cast("long").as("n"), sumDlCol.as("sum_dl"))
    }
  }

  def bm25Index(docs: DataFrame): Bm25Index = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .select($"doc_id", TextStats.tokens(coalesce($"text", lit(""))).as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("dl"), $"toks")
      .cache()
    val postings = Dedup.cached(base
      .select($"doc_id", $"dl", explode($"toks").as("term"))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf")))
    val dfTable = Dedup.cached(
      postings.groupBy($"term").agg(count(lit(1)).as("df")))
    val Array(n, sumDl) = base.agg(count(lit(1)), coalesce(sum($"dl"), lit(0L)))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    dfTable.count() // materialize postings + df off the still-cached base
    base.unpersist()
    Bm25Index(postings, dfTable, n, sumDl)
  }

  /** Serve one query batch through a prebuilt [[Bm25Index]]: the term
    * set semi-restricts the postings (broadcast probe, O(1)/posting),
    * then the shared scoring + fan-out stages run on O(matched
    * postings) rows. Per-batch hash-identical to [[bm25BatchTopK]] on
    * the same corpus and queries.
    */
  def bm25TopKIndexed(idx: Bm25Index, queries: DataFrame,
      k: Int): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val qterms = queries
      .select($"query_id", explode($"terms").as("term")).distinct()
    val termSet = qterms.select($"term").distinct()
    val tf = idx.postings.join(broadcast(termSet), Seq("term"))
    val df = idx.dfTable.join(broadcast(termSet), Seq("term"))
    fusePerQuery(scoreMatches(tf, df, idx.stats), qterms, k)
  }

  /** Single-query scoring over a (pruned) postings subset with
    * driver-known corpus stats — the POINT-LOOKUP plan
    * ([[graft.jobs.IndexExport.bm25LookupSingle]]): no query-table
    * fan-out, no per-query top-k aggregate, no stats crossJoin; just
    * the pruned postings scan, a broadcast of the ≤|terms|-row df
    * table, ONE shuffle (the per-doc sum), and a TakeOrdered top-k.
    * `tf` rows are (doc_id, dl, term, tf) already restricted to the
    * query's terms; `n`/`sumDl` come from the export's meta row.
    *
    * Arithmetic is copied expression-for-expression from [[bm25TopK]]
    * (idf rounded early, integer-scaled per-term partials, shared
    * literals; `lit(n)`/`lit(sumDl)` take the exact path the batch
    * plan's aggregated columns take) — q121 gates this path against
    * the SAME oracle string as q102, so the two plans cannot drift.
    * Output (doc_id, n_terms, score), ties by doc_id.
    */
  def bm25ScoreSingle(tf: DataFrame, dfTable: DataFrame, n: Long,
      sumDl: Long, k: Int): DataFrame = {
    val s = tf.sparkSession
    import s.implicits._
    // empty corpus: NULL avgdl (no posting row exists to score), like
    // the batch path's NULL sum-over-zero-rows — a 0/0 literal would
    // throw at constant-folding time under ANSI
    val avgdl = if (n == 0) lit(null).cast("double")
      else lit(sumDl).cast("double") / lit(n).cast("double")
    tf.join(broadcast(dfTable), Seq("term"))
      .withColumn("avgdl", avgdl)
      .withColumn("idf_r", rnd(log(
        (lit(n).cast("double") - $"df".cast("double") + 0.5) /
          ($"df".cast("double") + 0.5) + 1.0), 4))
      .withColumn("tfs", $"tf".cast("double") * lit(K1Plus1) /
        ($"tf".cast("double") +
          lit(K1) * (lit(1.0 - B) + lit(B) * $"dl".cast("double") / $"avgdl")))
      .select($"doc_id",
        floor($"idf_r" * $"tfs" * 10000 + 0.5).cast("long").as("s4"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"),
        rnd(sum($"s4").cast("double") / 10000.0, 4).as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
  }

  /** Driver-side twin of [[bm25ScoreSingle]] for the no-Spark point
    * lookup ([[graft.jobs.LocalLookup]]): the SAME expression tree
    * evaluated in plain Scala over already-matched posting rows.
    * Bit-parity notes, term by term:
    *  - Spark's `log` evaluates `java.lang.StrictMath.log` in codegen
    *    and interpretation — use StrictMath here, not `math.log` (the
    *    x86 `Math.log` intrinsic may differ by 1 ULP);
    *  - [[graft.queries.Num.r]] is `floor(x * 10000 + 0.5) / 10000`
    *    where the floor's long result re-enters a double division —
    *    mirrored exactly;
    *  - the per-doc sum is over exact longs (s4), so accumulation
    *    order cannot matter;
    *  - ordering is (score desc, doc_id asc) with a NULL doc_id first
    *    on ties, matching Spark's asc-nulls-first default.
    * `postings` rows are (doc_id, dl, tf, df) already restricted to the
    * query's terms; doc_id is boxed because a NULL doc_id document
    * still forms a group in the batch plan. Output rows are
    * (doc_id, n_terms, score), the [[bm25ScoreSingle]] shape.
    */
  private[graft] def scoreSingleLocal(
      postings: Iterable[(java.lang.Long, Long, Long, Long)],
      n: Long, sumDl: Long, k: Int): Seq[(java.lang.Long, Long, Double)] = {
    val avgdl = sumDl.toDouble / n.toDouble
    val perDoc = new java.util.HashMap[java.lang.Long, (Long, Long)]
    postings.foreach { case (docId, dl, tf, df) =>
      val idf = StrictMath.log(
        (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
      val idfR = math.floor(idf * 10000L + 0.5).toLong.toDouble / 10000L
      val tfs = tf.toDouble * K1Plus1 /
        (tf.toDouble + K1 * ((1.0 - B) + B * dl.toDouble / avgdl))
      val s4 = math.floor(idfR * tfs * 10000 + 0.5).toLong
      val prev = perDoc.getOrDefault(docId, (0L, 0L))
      perDoc.put(docId, (prev._1 + 1L, prev._2 + s4))
    }
    import scala.jdk.CollectionConverters._
    perDoc.asScala.toSeq.map { case (docId, (nTerms, sumS4)) =>
      (docId, nTerms,
        math.floor(sumS4.toDouble / 10000.0 * 10000L + 0.5).toLong
          .toDouble / 10000L)
    }.sortBy { case (docId, _, score) =>
      (-score, docId != null, if (docId == null) 0L else docId.longValue())
    }.take(k)
  }

  /** Reciprocal-rank fusion (Cormack et al.'s RRF) over any number of
    * per-query rankings — the standard hybrid-retrieval combiner
    * (lexical + vector + priors): each system contributes
    * 1/(c + rank) per (query, doc), summed across systems, re-ranked.
    * Inputs share the shape every retriever here emits:
    * (query_id, rank, doc_id, …extras ignored). Output:
    * (query_id, rank, doc_id, rrf_s8) with `rrf_s8` the
    * 1e8-scaled EXACT integer sum — `floor(1e8 / (c + rank))` is
    * bit-identical across engines for any rank (the true quotient sits
    * ≥ 1/b below the next integer while the correctly-rounded double
    * quotient errs by ≪ that), so the fused ordering never straddles a
    * ULP. Ties by doc_id.
    *
    * Scale shape: each input ranking is already top-k-bounded (Q×k
    * rows), so the union, the (query, doc) sum, and the per-query
    * bounded top-k all operate on Q×k×systems tuples — nothing here
    * touches a corpus.
    */
  /** RRF's standard dampening constant (Cormack et al. use 60) and the
    * integer scale — shared by reference with the q107 oracle SQL, the
    * q93/export shard-hash discipline.
    */
  val RrfC = 60L
  val RrfScale = 100000000L

  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Long = RrfC): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val s = rankings.head.sparkSession
    import s.implicits._
    val contribs = rankings.map(_.select($"query_id", $"doc_id",
      floor(lit(RrfScale.toDouble) / (lit(c.toDouble) + $"rank".cast("double")))
        .cast("long").as("s8")))
    val topk = udaf(new TopKByScore(k))
    contribs.reduce(_ unionByName _)
      .groupBy($"query_id", $"doc_id").agg(sum($"s8").as("rrf_s8"))
      .groupBy($"query_id")
      .agg(topk($"rrf_s8".cast("double"), $"doc_id").as("top"))
      .select($"query_id", posexplode($"top").as(Seq("rank0", "r")))
      .select($"query_id", ($"rank0" + 1).cast("long").as("rank"),
        $"r._2".as("doc_id"), $"r._1".cast("long").as("rrf_s8"))
  }
}
