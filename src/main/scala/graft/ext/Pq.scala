package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory tier of the ANN
  * story: split each `m·d`-dim embedding into `m` subvectors, quantize
  * every subvector to its nearest codebook entry (L2), and keep only
  * the `m` one-byte-ish codes. At 100 TB the float corpus is 256 B/vec;
  * PQ codes at m=4, ksub=16 are 4 codes/vec — the index that stays
  * RAM-resident for a first-pass scan while the floats live on disk for
  * re-ranking (the IVF cell store built by the incremental-ingest ops
  * is exactly that re-rank tier).
  *
  * Query-time scoring is ADC (asymmetric distance computation): the
  * query precomputes one m × ksub table of query-subvector-to-centroid
  * distances, and each document's approximate distance is the sum of m
  * table lookups by its codes — no float vector is touched.
  *
  * Determinism/parity discipline (the q101/q32 family rules):
  *  - subspace L2² is composed from three dot products
  *    (`dot(a,a) − 2·dot(a,b) + dot(b,b)`), each the float-multiply /
  *    double-accumulate sequential dot whose Spark-vs-DuckDB bit parity
  *    the gated cosine family already establishes;
  *  - every comparison key and table entry is the EXACT scaled integer
  *    `floor(l2² · 1e6 + 0.5)` (long), so encode argmins, ADC sums
  *    (exact long additions) and the final ordering can never straddle
  *    a ULP across engines; ties break by code id / vec_id.
  *  - the GATED query uses the deterministic seed codebooks (subvector
  *    slices of the first `ksub` vectors — the q32 "untrained
  *    centroids" precedent, which is what lets the DuckDB oracle
  *    replay the whole pipeline without a training unroll per
  *    subspace); [[trainCodebooks]] is the production path — an L2
  *    Lloyd per subspace (the cosine trainer
  *    [[Similarity.kmeansCentroids]] optimizes a different objective),
  *    recall recovery recorded in SCALE.md. At 100 TB train
  *    on the round-9 1% sample rule either way.
  */
object Pq {

  /** codebooks(j) = subspace j's entries as (code, subvector), code ∈
    * [0, ksub), every subvector of equal length d.
    */
  type Codebooks = Seq[Seq[(Long, Seq[Float])]]

  /** Deterministic seed codebooks: subspace slices of the first `ksub`
    * vectors (codes = their vec_ids, 0-based and dense by contract).
    */
  def seedCodebooks(embeddings: DataFrame, m: Int, ksub: Int): Codebooks = {
    val rows = embeddings.filter(col("vec_id") < ksub)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    require(rows.size == ksub, s"need vec_ids 0..${ksub - 1} as seeds")
    val dim = rows.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    (0 until m).map(j => rows.map { case (id, v) =>
      (id, v.slice(j * d, j * d + d))
    })
  }

  /** Trained codebooks: an L2 Lloyd per subspace (assignment by the
    * same scaled-integer argmin the encoder uses; per-(code, dim) mean
    * rounded `roundTo` then cast float32 — the q40/q101 quantization
    * discipline that makes distributed training bit-reproducible;
    * codes that lose every member keep their previous entry). The
    * cosine trainer [[Similarity.kmeansCentroids]] optimizes a
    * different objective, so PQ gets its own: quantization error IS
    * L2. Per iteration each subspace costs one narrow assignment pass
    * + a (ksub × d)-row aggregate; at 100 TB train on the round-9 1%
    * sample rule like the coarse centroids.
    */
  def trainCodebooks(embeddings: DataFrame, m: Int, ksub: Int, iters: Int,
      roundTo: Int = 4): Codebooks = {
    import graft.queries.Num.{r => rnd}
    val seed = seedCodebooks(embeddings, m, ksub)
    val d = seed.head.head._2.length
    (0 until m).map { j =>
      val sub = embeddings.select(col("vec_id"),
        slice(col("embedding"), j * d + 1, d).as("sv"))
      var cb = seed(j)
      for (_ <- 0 until iters) {
        val cands = cb.map { case (code, cv) =>
          struct(l2KeyCol(col("sv"), cv).as("k"), lit(code).as("id"))
        }
        val updated = sub
          .withColumn("code",
            element_at(sort_array(array(cands: _*)), 1).getField("id"))
          .select(col("code"), posexplode(col("sv")).as(Seq("dim", "v")))
          .groupBy(col("code"), col("dim"))
          .agg(rnd(avg(col("v")), roundTo).as("c"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (code, rows) =>
            code -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
          }
        cb = cb.map { case (code, old) => (code, updated.getOrElse(code, old)) }
      }
      cb
    }
  }

  /** Sequential dot with the exact accumulation order of the native
    * kernel (float multiply, double accumulate) — used driver-side for
    * the query's ADC table so its values are bit-identical to what the
    * engines compute.
    */
  private def sdot(a: Seq[Float], b: Seq[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += (a(i) * b(i)).toDouble; i += 1 }
    acc
  }

  /** Contract guard: the native [[encode]] kernel emits the POSITIONAL
    * candidate index as the code and [[adcScore]] indexes the query
    * table positionally — both correct only when every subspace's codes
    * are exactly the dense set 0..ksub−1 (the documented Codebooks
    * contract; [[seedCodebooks]]/[[trainCodebooks]] produce it). A
    * caller-supplied sparse/permuted codebook would otherwise SILENTLY
    * mis-score rankings; fail loudly instead.
    */
  private def requireDense(cbs: Codebooks): Unit =
    cbs.zipWithIndex.foreach { case (cb, j) =>
      val codes = cb.map(_._1).sorted
      require(codes == (0L until cb.size.toLong),
        s"subspace $j codes must be dense 0..${cb.size - 1}, got $codes")
    }

  /** Key clamp bound: keys live in [−2⁵⁹, 2⁵⁹], so an ADC sum of up to
    * 16 subspace entries cannot overflow a long. On the gated corpora
    * (finite, unit-scale vectors: keys ~1e8) the clamp is IDENTITY, so
    * oracle parity is untouched; it exists for hostile inputs — a ±1e30
    * vector squares to ±Inf whose `cast(long)` throws under ANSI, and a
    * NaN distance (0/overflow arithmetic) maps to the bound = "farthest
    * possible", which is the right retrieval semantics for a vector the
    * metric cannot place.
    */
  private val KeyBound = (1L << 59).toDouble

  private def l2Long(a: Seq[Float], b: Seq[Float]): Long = {
    val f = math.floor((sdot(a, a) - 2.0 * sdot(a, b) + sdot(b, b)) * 1e6 + 0.5)
    val c = if (f.isNaN) KeyBound else math.max(-KeyBound, math.min(KeyBound, f))
    c.toLong
  }

  /** Engine-side scaled-integer L2² key between a subvector column and
    * a codebook literal — same composition, scaling and clamp as
    * [[l2Long]].
    */
  private def l2KeyCol(sub: Column, cv: Seq[Float]): Column = {
    val b = typedLit(cv)
    val raw = floor((Similarity.dotHof(sub, sub) -
      lit(2.0) * Similarity.dotHof(sub, b) +
      Similarity.dotHof(b, b)) * 1000000 + 0.5)
    least(greatest(nanvl(raw, lit(KeyBound)), lit(-KeyBound)),
      lit(KeyBound)).cast("long")
  }

  /** PQ encode: (vec_id, codes array<long> of length m) — each code the
    * argmin-L2 codebook entry for that subspace (ties by code id). A
    * pure map over broadcast-sized codebook constants: no shuffle,
    * O(m·ksub·d) work per row, the same plan shape as IVF cell
    * assignment — executed by the native codegen'd [[graft.ext.VecMath
    * .pqEncode]] kernel (ONE pass; the declarative [[encodeHof]] form
    * it replaced survives for the bit-parity spec, the
    * VocabStats/RepetitionStats discipline).
    */
  def encode(embeddings: DataFrame, cbs: Codebooks): DataFrame =
    embeddings.select(col("vec_id"), codesCol(cbs).as("codes"))

  /** The [[encode]] codes column alone — for export pipelines that
    * carry extra columns (e.g. the IVF cell) through the same select.
    */
  def codesCol(cbs: Codebooks): Column = {
    requireDense(cbs)
    val m = cbs.size
    val flat = cbs.flatMap(_.sortBy(_._1).map(_._2.toArray)).toArray
    val dbb = flat.map(cv => sdot(cv.toSeq, cv.toSeq))
    org.apache.spark.sql.graft.GraftColumns
      .pqEncode(col("embedding"), m, KeyBound, flat, dbb)
  }

  /** The declarative encode the native kernel replaced: per subspace,
    * m × ksub struct(key, code) candidates through sort_array. Output
    * shape identical to [[encode]]; retained so the kernel's bit parity
    * is a pinned spec, not an assumption.
    */
  def encodeHof(embeddings: DataFrame, cbs: Codebooks): DataFrame = {
    val d = cbs.head.head._2.length
    val codeCols = cbs.zipWithIndex.map { case (cb, j) =>
      val sub = slice(col("embedding"), j * d + 1, d)
      val cands = cb.map { case (code, cv) =>
        struct(l2KeyCol(sub, cv).as("k"), lit(code).as("id"))
      }
      element_at(sort_array(array(cands: _*)), 1).getField("id")
    }
    embeddings.select(col("vec_id"),
      array(codeCols: _*).cast("array<long>").as("codes"))
  }

  /** ADC top-k for one query: the query's m × ksub distance table is
    * computed ONCE (driver-side, bit-identical to the engine per
    * [[sdot]]) and becomes plan literals; each encoded doc pays m array
    * lookups and an exact long sum. Output (vec_id, pq_dist_s6), rank
    * by approximate distance asc, ties by vec_id. The floats never
    * enter the scoring plan — that is PQ's point.
    */
  def adcTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      cbs: Codebooks): DataFrame = {
    val qvec = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    adcScore(encode(embeddings, cbs), qvec, queryVecId, k, cbs)
  }

  /** The ADC tail shared by [[adcTopK]] and [[ivfAdcTopK]]: per-subspace
    * query tables as plan literals (`tables(j)(code)` is the
    * scaled-integer L2² between the query's j-th subvector and that
    * subspace's `code`-th centroid, codes dense per [[requireDense]]),
    * per-doc exact long sum, rank.
    */
  private def adcScore(enc: DataFrame, qvec: Seq[Float], queryVecId: Long,
      k: Int, cbs: Codebooks): DataFrame = {
    requireDense(cbs)
    val d = cbs.head.head._2.length
    val tables = cbs.zipWithIndex.map { case (cb, j) =>
      val qsub = qvec.slice(j * d, j * d + d)
      cb.sortBy(_._1).map { case (_, cv) => l2Long(qsub, cv) }.toArray
    }
    val dist = tables.zipWithIndex.map { case (tbl, j) =>
      element_at(array(tbl.map(lit(_)).toIndexedSeq: _*),
        (element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    enc.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), dist.as("pq_dist_s6"))
      .orderBy(col("pq_dist_s6").asc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF-PQ — the composed billion-scale serving architecture (FAISS's
    * IVF-PQ shape): the coarse IVF index prunes the corpus to `nprobe`
    * cells (partition pruning on the disk store at scale), then ADC
    * ranks ONLY the surviving candidates from their codes. Work per
    * query: nprobe/nCentroids of the corpus × m table lookups — neither
    * a full scan nor a float read. Both halves are the independently
    * gated pieces (q32's probe/assignment discipline, q115's
    * encode/ADC), composed; the float re-rank tier on the top-r results
    * reads the IVF cell store ([[Similarity.ivfAppendStore]]'s layout).
    */
  /** The per-query ADC table expression over the `__sub<j>`/`__dss<j>`
    * projection, MEMOIZED per codebook set: the 64 `typedLit` float
    * arrays cost ~250 ms of driver-side encoder work to construct, and
    * a streaming serve fn calls [[ivfAdcBatchTopK]] once per
    * micro-batch with the same codebooks — Columns are immutable plan
    * fragments, safely shared across DataFrames.
    */
  // LRU-bounded: a long-lived serving process cycling codebook sets
  // (each key is the full Codebooks value) must not leak one memoized
  // Column per retired set forever — 8 live sets is generous for any
  // real deployment (one per concurrently-served index family)
  private val adcTableCache = new graft.jobs.Lru[Codebooks, Column](8)

  private def adcTableCol(cbs: Codebooks): Column =
    adcTableCache.get(cbs) { cbs2 =>
      array(cbs2.zipWithIndex.map { case (cb, j) =>
        array(cb.sortBy(_._1).map { case (_, cv) =>
          val raw = floor((col(s"__dss$j") -
            lit(2.0) * Similarity.dotHof(col(s"__sub$j"), typedLit(cv)) +
            lit(sdot(cv, cv))) * 1000000 + 0.5)
          least(greatest(nanvl(raw, lit(KeyBound)), lit(-KeyBound)),
            lit(KeyBound)).cast("long")
        }: _*)
      }: _*)
    }

  /** Batch/streaming IVF-PQ serving: every query in `(query_id, qvec)`
    * ranked by ADC against a PREBUILT codes store `(vec_id, codes,
    * cell)` (the [[graft.jobs.IndexExport.exportPqCells]] layout — at
    * scale the cell-partitioned parquet the stream's probe join
    * partition-prunes). The RAM-code serving tier, reachable from
    * `retrievalServeStream` like the BM25/float-IVF serve fns.
    *
    * Plan shape: probe cells resolve IN-PLAN per query
    * ([[Similarity.probesPerQuery]] — the same total order the
    * single-query driver-side [[Similarity.probeCells]] uses, so batch
    * ≡ single probing); each query's m × ksub ADC table is computed
    * ONCE on its own row (exact scaled-long entries, the [[adcScore]]
    * arithmetic); the broadcast query×probe frame joins the codes store
    * on `cell`, and each candidate pays m table lookups + an exact long
    * sum — O(matched codes) rows, zero float reads. Per-query top-k via
    * the bounded mergeable aggregate, dist asc / vec_id asc (fed as
    * -dist into the score-desc combiner; exact in double for any real
    * corpus — hostile ±1e30 vectors saturate at the [[KeyBound]] clamp
    * where relative order among garbage is not contractual). Output:
    * (query_id, rank, vec_id, pq_dist_s6). Self-matches
    * (vec_id == query_id) are excluded like [[adcScore]], so a corpus
    * vector serving as its own query reproduces [[ivfAdcTopK]] exactly
    * (pinned per-batch ≡ batch by the streaming spec).
    */
  def ivfAdcBatchTopK(codes: DataFrame, centRows: Seq[(Long, Seq[Float])],
      cbs: Codebooks, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame = {
    requireDense(cbs)
    val d = cbs.head.head._2.length
    // per-query ADC table, built FRUGALLY: the query subvectors and
    // their self-dots are projected once per subspace and shared by the
    // ksub entries (the naive per-entry l2KeyCol would evaluate 3
    // interpreted HOF dots × m × ksub per query row and leave m × ksub
    // codebook self-dots to the constant folder on EVERY micro-batch);
    // codebook self-dots fold driver-side via the same sdot the
    // single-query tables use, so the composed double arithmetic —
    // dss − 2·dsc + dcc — is bit-identical to [[l2Long]]/[[l2KeyCol]].
    val probed = Similarity.probesPerQuery(queries, centRows.sortBy(_._1), nprobe)
    // three SELECTs, not a withColumn chain — each withColumn re-analyzes
    // the growing plan on the driver, and this runs once per micro-batch
    // (measured ~380 ms/batch of pure driver time for the chained form)
    val subs = probed.select(
      Seq(col("query_id"), col("cell")) ++ (0 until cbs.size).map(j =>
        slice(col("qvec"), j * d + 1, d).as(s"__sub$j")): _*)
    val withDss = subs.select(
      col("*") +: (0 until cbs.size).map(j =>
        Similarity.dotHof(col(s"__sub$j"), col(s"__sub$j")).as(s"__dss$j")): _*)
    val q = withDss.select(col("query_id"), col("cell"),
      adcTableCol(cbs).as("tbl"))
    val dist = cbs.indices.map { j =>
      element_at(element_at(col("tbl"), j + 1),
        (element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val topk = org.apache.spark.sql.functions.udaf(new TopKByScore(k))
    codes.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), dist.as("pq_dist_s6"))
      .groupBy(col("query_id"))
      .agg(topk((-col("pq_dist_s6")).cast("double"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "r")))
      .select(col("query_id"), (col("rank0") + 1).cast("long").as("rank"),
        col("r._2").as("vec_id"),
        (-col("r._1")).cast("long").as("pq_dist_s6"))
  }

  def ivfAdcTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      cbs: Codebooks, nCentroids: Int = 16, nprobe: Int = 2,
      centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val centRows = centroids.map(_.sortBy(_._1)).getOrElse {
      embeddings.filter(col("vec_id") < nCentroids)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    }
    val qvec = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    val probes = Similarity.probeCells(centRows, qvec, nprobe)
    val cand = Similarity.ivfAssign(embeddings, centRows)
      .filter(col("cell").isin(probes: _*))
    adcScore(encode(cand, cbs), qvec, queryVecId, k, cbs)
  }
}
