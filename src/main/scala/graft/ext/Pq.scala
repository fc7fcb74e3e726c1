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
  * re-ranking.
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
  *    subspace).
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
    * contract; [[seedCodebooks]] produces it). A
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
  def encode(embeddings: DataFrame, cbs: Codebooks): DataFrame = {
    requireDense(cbs)
    val m = cbs.size
    val flat = cbs.flatMap(_.sortBy(_._1).map(_._2.toArray)).toArray
    val dbb = flat.map(cv => sdot(cv.toSeq, cv.toSeq))
    embeddings.select(col("vec_id"), org.apache.spark.sql.graft.GraftColumns
      .pqEncode(col("embedding"), m, KeyBound, flat, dbb).as("codes"))
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
    * encode/ADC), composed.
    */
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
