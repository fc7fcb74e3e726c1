package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftColumns

import graft.queries.Num.{r => rnd}

/** Similarity search over an embedding column (north-star ops):
  * brute-force cosine top-k as the exact baseline, and a sign-bucket
  * (hyperplane-quantized) ANN variant as the scale path.
  *
  * Float discipline for oracle parity: elementwise products stay float32
  * (both engines multiply FLOAT*FLOAT), accumulation is sequential into
  * DOUBLE, and the final cosine is rounded — so Spark and DuckDB agree
  * bit-for-bit.
  *
  * Scale: brute force is a broadcast of the query vector over a narrow
  * scan — fine for one query over any corpus size, O(n*d). The bucketed
  * variant prunes to one bucket (2^8 cells from the first 8 dims' signs):
  * at 100 TB the bucket id becomes the partition/bucketBy key so a query
  * touches ~1/256th of the data; IVF-style coarse centroids would replace
  * the sign quantizer without changing the plan shape.
  */
object Similarity {

  /** Sequential dot product; the declarative (CodegenFallback) form, kept
    * as the semantic reference for the codegen'd kernel below.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def normHof(a: Column): Column = sqrt(dotHof(a, a))

  /** Interpreted reference implementation — bit-identical to `cosine`
    * (VecMathSpec asserts it); ~100x slower per row, never in a hot path.
    */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (normHof(a) * normHof(b))

  /** Native single-pass cosine (dot + both norms in one generated loop). */
  def cosine(a: Column, b: Column): Column = GraftColumns.cosineSimilarity(a, b)

  /** Sign bucket over the first `bits` dimensions: bit d set when
    * element d+1 > 0 (strict, matching SQL `> 0`).
    */
  def signBucket(vec: Column, bits: Int = 8): Column =
    GraftColumns.signBucket(vec, bits)

  /** Exact top-k by cosine against the query row's vector; deterministic
    * ties via (rounded cosine desc, vec_id asc).
    */
  def bruteForceTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings
      .filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qvec"))
    embeddings
      .join(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(
        col("vec_id"), col("label"),
        rnd(cosine(col("embedding"), col("qvec")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch retrieval: exact top-k neighbors for EVERY query vector with
    * vec_id < queryMaxId, in one pass — the RAG-retrieval shape (a
    * batch of queries against the corpus, not one vector).
    *
    * Scale shape: the query set broadcasts (Q vectors); each corpus row
    * scores against all Q in a narrow map; the per-query top-k is a
    * MERGEABLE bounded aggregation ([[TopKByScore]]), so partial
    * aggregation runs map-side and the shuffle carries Q×k tuples per
    * partition — the window-function formulation (row_number over all
    * scored rows) would shuffle N×Q rows instead. Deterministic via
    * (rounded cosine desc, vec_id asc) total order.
    */
  def batchTopK(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val topk = udaf(new TopKByScore(k))
    embeddings
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        rnd(cosine(col("embedding"), col("qvec")), 6).as("cos"))
      .groupBy(col("query_id"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "r")))
      .select(col("query_id"), (col("rank0") + 1).cast("long").as("rank"),
        col("r._2").as("vec_id"), col("r._1").as("cos"))
  }

  /** ANN: same query, but only candidates in the query's sign bucket. */
  def bucketedTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val withBucket = embeddings.withColumn("bucket", signBucket(col("embedding")))
    val q = withBucket
      .filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qvec"), col("bucket"))
    withBucket
      .join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= queryVecId)
      .select(
        col("vec_id"), col("bucket"),
        rnd(cosine(col("embedding"), col("qvec")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Argmax-cosine centroid id as a pure map expression: lexicographic
    * max of (rounded cosine, -cent_id) structs over driver-side centroid
    * constants — no join, no shuffle, one codegen stage of
    * centroids.size cosines per row.
    */
  def nearestCentroid(cents: Seq[(Long, Seq[Float])], vec: Column): Column = {
    val cands = cents.map { case (id, cv) =>
      struct(rnd(cosine(vec, typedLit(cv)), 6).as("c"), lit(-id).as("negid"))
    }
    (array_max(array(cands: _*)).getField("negid") * -1L).as("cell")
  }

  /** The IVF index lookup: the `nprobe` centroids nearest `qvec`, under
    * the SAME rounded-cosine (1e-6) + centroid-id tie-break total order
    * the cell assignment uses — any probe-selection reimplementation
    * with raw cosines can pick a different cell across a sub-1e-6 tie
    * (a scanned-fraction estimate once did, review finding).
    */
  def probeCells(cents: Seq[(Long, Seq[Float])], qvec: Seq[Float],
                 nprobe: Int): Seq[Long] =
    cents.map { case (id, cv) =>
      (math.floor(VecMath.cosineLocal(cv, qvec) * 1e6 + 0.5) / 1e6, id)
    }.sortBy { case (c, id) => (-c, id) }.take(nprobe).map(_._2)

  /** Lloyd's iterations for IVF training: deterministic init (first k
    * vectors by vec_id), assignment = argmax cosine (spherical k-means —
    * the mean centroid needs no normalization because cosine argmax is
    * scale-invariant), centroid update = per-dimension mean via
    * posexplode + grouped avg (shuffle carries cell x dim keys only).
    * Each iteration is one Spark job; centroids come back to the driver
    * (k x dim floats — broadcast-sized) to fold into the next
    * assignment expression. Cells that lose all members keep their old
    * centroid.
    *
    * `roundTo >= 0` rounds each per-dim mean to that many decimals
    * BEFORE the float cast (q40's quantization discipline): a
    * distributed double mean's last bits depend on partition order, so
    * rounding is what makes the trained centroids — and everything
    * probed through them — bit-reproducible across runs AND replayable
    * by an external engine (the q101 oracle). Default -1 keeps raw
    * means for callers that only need good (not reproducible) geometry.
    *
    * `samplePermille < 1000` trains each Lloyd iteration on a
    * DETERMINISTIC hash-sample of the corpus (vec_id-keyed
    * multiplicative hash — a pure function of the id, so the sample is
    * identical across partitionings, cluster sizes and re-runs; the
    * overflow-safe reduced form of the repo's sampling hash). This is
    * the 100 TB practice SCALE.md's sizing rule prescribes: coarse
    * centroids need cluster GEOMETRY, not every point — train on
    * 1–10%, assign on 100%. Init centroids (first k by vec_id) still
    * come from the full corpus, and the caller's assignment pass is
    * always full-corpus; only the per-iteration mean shrinks.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int,
                      roundTo: Int = -1,
                      samplePermille: Int = 1000): Seq[(Long, Seq[Float])] = {
    require(samplePermille > 0 && samplePermille <= 1000,
      s"samplePermille must be in (0, 1000], got $samplePermille")
    val mean = if (roundTo >= 0) rnd(avg(col("v")), roundTo) else avg(col("v"))
    val train = if (samplePermille == 1000) embeddings
      else embeddings.filter(
        pmod(pmod(col("vec_id"), lit(1000000007L)) * 2654435761L + 13L,
          lit(1000000007L)) % 1000L < samplePermille)
    var cents = embeddings
      .filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    for (_ <- 0 until iters) {
      val updated = train
        .withColumn("cell", nearestCentroid(cents, col("embedding")))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(mean.as("c"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        }
      cents = cents.map { case (id, old) => (id, updated.getOrElse(id, old)) }
    }
    cents
  }

  /** IVF-style ANN: coarse-quantize every vector to its nearest centroid
    * (argmax cosine, deterministic ties by centroid id), then answer a
    * query by probing only the `nprobe` centroid lists nearest the query
    * vector.
    *
    * Default centroids are the first `nCentroids` vectors by vec_id — a
    * deterministic stand-in that keeps the oracle reproducible (the
    * assignment/probe plan is identical whatever the centroid source).
    * Pass `centroids = Some(kmeansCentroids(...))` for trained coarse
    * quantization — on clustered data that is what makes recall exceed
    * the scanned fraction (AdvancedOpsSpec's recall floors pin it). Plan
    * shape at 100 TB: centroids broadcast (tiny), assignment is a
    * narrow map over the corpus (nCentroids cosines per row, all in one
    * codegen stage), and the corpus is then partitioned/bucketed BY
    * `centroid` so a query's shuffle-free probe touches nprobe/nCentroids
    * of the data. The `cell IN probes` filter is a pushdown-able
    * partition predicate on a centroid-partitioned table.
    */
  def ivfTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
              nCentroids: Int = 16, nprobe: Int = 2,
              centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    // Centroids are driver-side constants (16 x dim floats — the same
    // payload a broadcast would ship), folded into the assignment
    // expression so coarse quantization is a PURE MAP: no join, no
    // shuffle, one codegen stage computing nCentroids cosines per row.
    val centRows = centroids.map(_.sortBy(_._1).toArray).getOrElse {
      embeddings
        .filter(col("vec_id") < nCentroids)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
    }
    val assigned = embeddings.withColumn("cell",
      nearestCentroid(centRows.toIndexedSeq, col("embedding")))
    val qRow = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    val qvec = typedLit(qRow)
    val probes = probeCells(centRows.toIndexedSeq, qRow, nprobe)
    assigned
      .filter(col("cell").isin(probes.toIndexedSeq: _*))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("cell"),
        rnd(cosine(col("embedding"), qvec), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch IVF retrieval: top-k by cosine for EVERY query with
    * vec_id < queryMaxId through the coarse-quantized index — the
    * production shape that completes the batch matrix (exact
    * [[batchTopK]], RP-LSH [[rpTopK]], lexical BM25, and now IVF).
    * Unlike [[ivfTopK]] nothing about the queries touches the driver:
    * per-query probe cells are a PURE MAP over the query rows (the
    * nprobe best centroids by the same rounded-cosine + centroid-id
    * total order the assignment uses, computed as a sorted
    * 16-element struct array — integer-scaled keys, so no float
    * negation ambiguity), the query×probe pairs broadcast, and the
    * per-query top-k is the mergeable bounded aggregation. A corpus
    * vector lives in exactly one cell and probe cells are distinct,
    * so each candidate joins at most once per query. At 100 TB the
    * corpus is bucketed by `cell` and the broadcast probe join prunes
    * to nprobe/nCentroids of it per query — same layout story as the
    * single-query path, but amortized over the whole query batch in
    * one pass.
    */
  def ivfBatchTopK(embeddings: DataFrame, queryMaxId: Long, k: Int,
      nCentroids: Int = 16, nprobe: Int = 2,
      centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val centRows = centroids.map(_.sortBy(_._1).toArray).getOrElse {
      embeddings
        .filter(col("vec_id") < nCentroids)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
    }
    val assigned = embeddings.withColumn("cell",
      nearestCentroid(centRows.toIndexedSeq, col("embedding")))
    val queries = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val q = probesPerQuery(queries, centRows.toIndexedSeq, nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val topk = udaf(new TopKByScore(k))
    assigned.withColumn("cell", col("cell").cast("long"))
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        rnd(cosine(col("embedding"), col("qvec")), 6).as("cos"))
      .groupBy(col("query_id"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "r")))
      .select(col("query_id"), (col("rank0") + 1).cast("long").as("rank"),
        col("r._2").as("vec_id"), col("r._1").as("cos"))
  }

  /** In-plan probe-cell selection for a query frame `(query_id, qvec,
    * …)`: one output row per (query, probed cell), columns preserved
    * plus `cell`. Same total order as the driver-side [[probeCells]]
    * (rounded cosine, centroid-id tie-break), so single-query and
    * batch servings probe identical cells.
    *
    * Probe keys: -floor(rnd(cos,6)*1e6 + 0.5) as LONG — the +0.5
    * recovers the exact scaled integer after rnd's inexact division,
    * and an integer key sidesteps the -0.0 / 0.0 ordering mismatch a
    * negated double would risk across engines. The nanvl + [-2, 2]
    * clamp is IDENTITY for any real cosine (|cos| <= 1, so parity on
    * the gated data is untouched); it exists for hostile vectors —
    * a zero/±1e30 query makes the cosine NaN/±Inf, whose cast(long)
    * throws under ANSI. NaN/far maps to cos = -2 = "probe last".
    */
  private def probesPerQuery(queries: DataFrame,
      centRows: Seq[(Long, Seq[Float])], nprobe: Int): DataFrame = {
    val cands = centRows.map { case (id, cv) =>
      val c = nanvl(rnd(cosine(col("qvec"), typedLit(cv)), 6), lit(-2.0))
      struct(
        (-floor(least(greatest(c, lit(-2.0)), lit(2.0)) * 1000000 + 0.5))
          .cast("long").as("nc"),
        lit(id).as("id"))
    }
    queries
      .withColumn("probes",
        slice(sort_array(array(cands.toIndexedSeq: _*)), 1, nprobe))
      .withColumn("p", explode(col("probes")))
      .withColumn("cell", col("p.id").cast("long"))
      .drop("probes", "p")
  }

  /** Incremental IVF maintenance, ingest half (the ANN twin of q76's
    * delta-vs-store dedup): assign a NEW vector batch into the EXISTING
    * trained centroids — a pure map over broadcast-sized centroid
    * constants, no retrain, no shuffle — producing rows ready for the
    * cell-partitioned store. Because assignment is a deterministic pure
    * function of (vector, centroids), ingest distributes over union:
    * `ivfAssign(a ∪ b) ≡ ivfAssign(a) ∪ ivfAssign(b)` — which is why
    * append-only ingest equals a full rebuild as long as the centroids
    * are unchanged (AdvancedOpsSpec pins this on real frames, plus
    * retrieval equality through a store built either way).
    *
    * What it does NOT protect against: distribution drift. New vectors
    * from clusters the training never saw still land in SOME nearest
    * old cell — recall at fixed nprobe degrades and cells skew (the
    * drifted mass piles into few cells). SCALE.md documents the retrain
    * trigger (recall floor or max-cell-share threshold) and the drift
    * measurement it was calibrated from.
    */
  def ivfAssign(batch: DataFrame,
      centroids: Seq[(Long, Seq[Float])]): DataFrame =
    batch.withColumn("cell",
      nearestCentroid(centroids.sortBy(_._1), col("embedding")))

  /** Deterministic ±1 random hyperplanes for RP-LSH: sign of a Knuth
    * multiplicative hash of (plane, dim). Unlike the raw sign-bucket
    * quantizer (which reads only the first 8 dimensions), every plane
    * mixes ALL dimensions, so bucket balance doesn't depend on any
    * single coordinate's distribution. Constants are generated once
    * here and injected verbatim into the oracle SQL — zero drift.
    */
  def rpPlanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    Seq.tabulate(nPlanes) { p =>
      Seq.tabulate(dim) { i =>
        if (((2654435761L * (p * 131L + i + 1)) % TextStats.P) % 2 == 1) 1.0 else -1.0
      }
    }

  /** RP-LSH bucket id: bit p set when dot(vec, plane_p) > 0. The ±1
    * weights make each dot an exact signed sum of the (float→double)
    * inputs, so both engines classify identically without rounding.
    * Native codegen'd kernel (one generated call per row) — the HOF
    * form below is the declarative semantic reference; VecMathSpec pins
    * them bit-equal. q72 moved bucketing into a per-query hot path, so
    * the interpreted 8-fold ArrayAggregate chain got the same
    * kernel-behind-expression treatment as cosine.
    */
  def rpBucket(vec: Column, nPlanes: Int = 8, dim: Int = 64): Column =
    GraftColumns.rpBucket(vec, nPlanes, dim)

  /** Interpreted reference for [[rpBucket]] (one sequential-fold
    * aggregate per plane); never in a hot path.
    */
  def rpBucketHof(vec: Column, nPlanes: Int = 8, dim: Int = 64): Column =
    rpPlanes(nPlanes, dim).zipWithIndex.map { case (pl, p) =>
      when(
        aggregate(zip_with(vec, typedLit(pl), (x, w) => x.cast("double") * w),
          lit(0.0), (a, v) => a + v) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-probe RP-LSH retrieval: top-k by cosine for every query with
    * vec_id < queryMaxId, probing the query's bucket plus all 8
    * Hamming-1 neighbor buckets (the standard recall fix for LSH's
    * boundary losses — a vector one sign-flip away is still a
    * candidate). Probes are distinct bucket ids, so each candidate
    * joins at most once per query; the per-query top-k is the
    * mergeable bounded aggregation (k tuples per group × partition
    * through the shuffle). At 100 TB the corpus is written bucketed by
    * `bucket` and the 9-value probe list becomes a partition-pruning
    * IN predicate — same layout story as IVF cells.
    */
  def rpTopK(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val b = embeddings.withColumn("bucket", rpBucket(col("embedding")))
    val flips = typedLit(0L +: Seq.tabulate(8)(j => 1L << j))
    val q = b.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("bucket").as("qb"), explode(flips).as("flip"))
      .select(col("query_id"), col("qvec"),
        col("qb").bitwiseXOR(col("flip")).as("bucket"))
    val topk = udaf(new TopKByScore(k))
    b.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        rnd(cosine(col("embedding"), col("qvec")), 6).as("cos"))
      .groupBy(col("query_id"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "r")))
      .select(col("query_id"), (col("rank0") + 1).cast("long").as("rank"),
        col("r._2").as("vec_id"), col("r._1").as("cos"))
  }

  /** Embedding near-duplicate pairs: bucket-join then cosine >= threshold
    * (vec1 < vec2; cosine rounded 6). The bucket prune is what makes this
    * viable at scale — all-pairs would be O(n^2).
    */
  def nearDupPairs(embeddings: DataFrame, minCos: Double): DataFrame = {
    val b = embeddings.withColumn("bucket", signBucket(col("embedding")))
    val l = b.select(col("bucket"), col("vec_id").as("vec1"), col("embedding").as("e1"))
    val r = b.select(col("bucket"), col("vec_id").as("vec2"), col("embedding").as("e2"))
    l.join(r, Seq("bucket"))
      .filter(col("vec1") < col("vec2"))
      .select(col("vec1"), col("vec2"),
        rnd(cosine(col("e1"), col("e2")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
