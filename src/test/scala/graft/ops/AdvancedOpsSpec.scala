package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup
import graft.operators.{IntervalJoin, Sessionize}

/** The scale-path operators (bucketed interval join, chunked hamming
  * blocking) must be EXACT rewrites of their naive O(n^2) definitions —
  * these specs compare them against brute force on randomized inputs.
  */
class AdvancedOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bucketed overlapPairs == brute-force interval overlap") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      val s = rnd.nextInt(10000).toLong
      // mix zero-length, short, and bucket-straddling long intervals
      val span = rnd.nextInt(3) match {
        case 0 => 0L
        case 1 => rnd.nextInt(50).toLong
        case _ => 500L + rnd.nextInt(2000)
      }
      (idBase + i, s, s + span)
    }
    val l = mk(120, 1000).toDF("skey", "start", "end")
    val r = mk(150, 5000).toDF("skey", "start", "end")

    val got = IntervalJoin.overlapPairs(l, r, bucketSeconds = 600L)
      .select($"key1", $"key2").as[(Long, Long)].collect().toSet
    val want = l.as("a").crossJoin(r.as("b"))
      .filter($"a.start" <= $"b.end" && $"b.start" <= $"a.end")
      .select($"a.skey", $"b.skey").as[(Long, Long)].collect().toSet
    assert(got === want)
    // and no duplicate emission (dedup-free guarantee)
    val cnt = IntervalJoin.overlapPairs(l, r, 600L).count()
    assert(cnt === want.size)
  }

  test("overlapPairs exact across bucket widths (property)") {
    import spark.implicits._
    for (seed <- Seq(1, 2); bucket <- Seq(7L, 100L, 5000L)) {
      val rnd = new scala.util.Random(seed)
      def mk(n: Int, base: Long) = (0 until n).map { i =>
        val s = rnd.nextInt(5000).toLong
        (base + i, s, s + rnd.nextInt(800))
      }
      val l = mk(60, 0).toDF("skey", "start", "end")
      val r = mk(60, 1000).toDF("skey", "start", "end")
      val got = IntervalJoin.overlapPairs(l, r, bucket)
        .select($"key1", $"key2").as[(Long, Long)].collect().toSet
      val want = l.as("a").crossJoin(r.as("b"))
        .filter($"a.start" <= $"b.end" && $"b.start" <= $"a.end")
        .select($"a.skey", $"b.skey").as[(Long, Long)].collect().toSet
      assert(got === want, s"seed=$seed bucket=$bucket")
      assert(IntervalJoin.overlapPairs(l, r, bucket).count() === want.size,
        s"dup emission at seed=$seed bucket=$bucket")
    }
  }

  test("hammingPairs exact at maxDist 0 (exact-duplicate signatures)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // identical -> hamming 0
      (3L, "completely different words here now"),
      (4L, "alpha beta gamma delta zeta")
    ).toDF("doc_id", "text")
    val got = Dedup.hammingPairs(docs, maxDist = 0)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("chunked hammingPairs == brute-force simhash hamming <= 3") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    // clusters of near-identical docs so some pairs land within hamming 3
    val docs = (0 until 80).map { i =>
      val base = Seq.fill(30)(vocab(rnd.nextInt(vocab.size)))
      val mutated = if (i % 4 != 0) base
        else base.updated(rnd.nextInt(30), vocab(rnd.nextInt(vocab.size)))
      (i.toLong, mutated.mkString(" "))
    }.toDF("doc_id", "text")

    val got = Dedup.hammingPairs(docs, maxDist = 3)
      .select($"doc1", $"doc2", $"hamming")
      .as[(Long, Long, Long)].collect().toSet

    val sigs = docs.select($"doc_id",
      Dedup.simhash64(Dedup.tokenSet($"text")).as("sig"))
    val want = sigs.as("a").crossJoin(sigs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .withColumn("h", expr("bit_count(a.sig ^ b.sig)").cast("long"))
      .filter($"h" <= 3)
      .select($"a.doc_id", $"b.doc_id", $"h")
      .as[(Long, Long, Long)].collect().toSet

    assert(got === want)
    assert(want.nonEmpty, "test corpus should produce at least one close pair")
  }

  test("in-group bigram-jaccard kernel == declarative self-join formulation") {
    import spark.implicits._
    val rnd2 = new scala.util.Random(41)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val docs = (0 until 300).map { i =>
      // near-dup clusters: groups of 3 share a base text with one edit
      val base = Vector.fill(12)(vocab(rnd2.nextInt(vocab.size)))
      val text = (if (i % 3 == 0) base else base.updated(rnd2.nextInt(12),
        vocab(rnd2.nextInt(vocab.size)))).mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")

    val kernel = Dedup.bigramJaccardPairs(docs, minJaccard = 0.1)
      .as[(Long, Long, Double)].collect().toSet

    // reference: same block key + cap via window, pairs via self-join,
    // jaccard via the declarative column expressions
    import org.apache.spark.sql.expressions.Window
    val P = graft.ext.TextStats.P
    val sigs = Dedup.bigramSignatures(docs)
      .filter($"k1".isNotNull)
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy($"k1", $"k2")))
      .filter($"bsz" <= 500)
    val l = sigs.select($"k1", $"k2", $"doc_id".as("doc1"), $"bg".as("b1"))
    val r = sigs.select($"k1", $"k2", $"doc_id".as("doc2"), $"bg".as("b2"))
    val joined = l.join(r, Seq("k1", "k2"))
      .filter($"doc1" < $"doc2")
      .select($"doc1", $"doc2",
        (floor(size(array_intersect($"b1", $"b2")).cast("double") /
          size(array_distinct(concat($"b1", $"b2"))).cast("double") * 10000 + 0.5) / 10000)
          .as("jaccard"))
      .filter($"jaccard" >= 0.1)
      .as[(Long, Long, Double)].collect().toSet

    assert(kernel === joined)
    assert(kernel.nonEmpty, "cluster corpus must produce near-dup pairs")
  }

  test("hash-threshold stratified sample is deterministic and near the fractions") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val langs = Vector("en", "de", "es")
    val docs = (0 until 3000).map(i => (i.toLong, langs(rnd.nextInt(3))))
      .toDF("doc_id", "lang")
    // same mechanism as q52: Knuth-hash bucket + per-stratum permille cap
    def sample() = docs
      .withColumn("bucket", pmod($"doc_id" * 2654435761L + 97L, lit(1000L)))
      .where(($"lang" === "en" && $"bucket" < 500) ||
             ($"lang" === "de" && $"bucket" < 200))
    def ids() = sample().select($"doc_id").as[Long].collect().toSeq.sorted
    assert(ids() === ids(), "hash sampling must give identical rows every run")
    // repartitioning must not change membership (unlike RNG sampling)
    val reparted = sample().repartition(7)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(reparted === ids(), "membership must not depend on partitioning")
    val byLang = sample().groupBy($"lang").count()
      .as[(String, Long)].collect().toMap
    val totals = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(byLang("en").toDouble / totals("en") - 0.5) < 0.1)
    assert(math.abs(byLang("de").toDouble / totals("de") - 0.2) < 0.1)
    assert(!byLang.contains("es"))
  }

  test("contamination counts shared 5-gram shingles, ignores disjoint docs") {
    import spark.implicits._
    val phrase = "alpha beta gamma delta epsilon" // one 5-gram
    val train = Seq(
      (1L, s"$phrase zeta eta"),          // shares 5-grams with test doc
      (2L, "one two three four five six"), // disjoint vocabulary
      (3L, phrase)                         // exactly the planted 5-gram
    ).toDF("doc_id", "text")
    val test = Seq((100L, s"prefix $phrase suffix")).toDF("doc_id", "text")
    val got = Dedup.contamination(train, test)
      .as[(Long, Long)].collect().toMap
    // test doc's shingles: [prefix α β γ δ], [α β γ δ ε], [β γ δ ε suffix]
    // doc 1 shares [α β γ δ ε] plus none of the prefix/suffix ones; its
    // own other shingles ([β γ δ ε ζ], [γ δ ε ζ η]) don't appear in test
    assert(got(1L) === 1L)
    assert(got(3L) === 1L, "doc 3 IS the planted 5-gram")
    assert(!got.contains(2L), "disjoint docs must not be flagged")
  }

  test("repetition stats match hand-computed frequencies") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a b"),       // 4 toks, 2 distinct, top tok 3x, top bigram "a a" 2x
      (2L, "x y x y x"),     // 5 toks, 2 distinct, top tok 3x, bigrams: "x y" 2x "y x" 2x
      (3L, "solo"),          // 1 tok: no bigrams
      (4L, "")               // empty: all zero
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", graft.ext.TextStats.repetitionStats($"text").as("r"))
      .select($"doc_id", $"r.n_tokens", $"r.n_distinct", $"r.top_tok_freq",
        $"r.top_bigram_freq")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(got(1L) === ((4L, 2L, 3L, 2L)))
    assert(got(2L) === ((5L, 2L, 3L, 2L)))
    assert(got(3L) === ((1L, 1L, 1L, 0L)))
    assert(got(4L) === ((0L, 0L, 0L, 0L)))
  }

  test("domain mix thresholds rebalance toward the uniform target") {
    import spark.implicits._
    // 3 sources, heavily skewed: uniform target = total/3 docs per source
    val docs = ((0 until 600).map(i => (i.toLong, "big")) ++
      (600 until 690).map(i => (i.toLong, "mid")) ++
      (690 until 700).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source").withColumn("text", lit("t"))
    // the same arithmetic as q68: thr = total*1000 DIV (k*n), capped 1000
    val thr = Map("big" -> math.min(1000L, 700L * 1000 / (3 * 600)),
      "mid" -> math.min(1000L, 700L * 1000 / (3 * 90)),
      "small" -> math.min(1000L, 700L * 1000 / (3 * 10)))
    assert(thr("big") === 388L, "majority source down-sampled")
    assert(thr("mid") === 1000L, "minority sources kept whole")
    assert(thr("small") === 1000L)
    val kept = docs
      .filter(pmod($"doc_id" * 2654435761L + 131L, lit(1000L)) <
        lit(thr("big"))) // big source's filter
      .filter($"source" === "big").count()
    // deterministic hash keeps ~38.8% of the 600 big docs
    assert(kept > 180 && kept < 280, s"got $kept")
  }

  test("mergeable top-k aggregation == window-function top-k") {
    import spark.implicits._
    val rnd2 = new scala.util.Random(7)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rnd2.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.batchTopK(df, queryMaxId = 3L, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    // ground truth: the shuffle-everything window formulation
    val q = df.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    val exp = df.join(q, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", graft.queries.Num.r(
        graft.ext.Similarity.cosine($"embedding", $"qvec"), 6).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"vec_id", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === exp)
    assert(got.size === 15, "3 queries x top-5")
  }

  test("q63 packing sub-shards bound the group size under 90% lang skew") {
    import spark.implicits._
    // 1000 docs, 90% in one language — the 100 TB failure mode for a
    // per-lang group. Sub-sharding must (a) cap every flatMapGroups
    // buffer at the shard width and (b) reproduce the per-shard
    // first-fit recurrence exactly.
    val rnd = new scala.util.Random(11)
    val docs = (0 until 1000).map { i =>
      val lang = if (i % 10 == 9) "ms" else "en"
      (i.toLong, lang, (0 until (1 + rnd.nextInt(40))).map(j => s"t$j").mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("q63_skew").toString
    docs.toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.queries.LlmQueries.queries("q63_sequence_packing")(spark, dir)
      .select($"lang", $"shard", $"bin", $"n_docs", $"tok_sum", $"first_doc")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet

    // no sub-shard group ever holds more than the shard width of docs
    val perShardDocs = got.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._4).sum)
    assert(perShardDocs.values.max <= 100L,
      "sub-shard must bound the packing group size")
    assert(perShardDocs.keys.map(_._1).toSet === Set("en", "ms"))

    // local reference: first-fit per (lang, doc_id DIV 100) in doc_id order
    val cap = 64L
    val expected = docs
      .map { case (id, lang, text) =>
        (lang, id / 100, id, text.split(" ").count(_.nonEmpty).toLong)
      }
      .groupBy(t => (t._1, t._2)).iterator.flatMap { case ((lang, shard), rows) =>
        var bin = 0L; var fill = 0L; var first = true
        rows.sortBy(_._3).map { case (_, _, id, n) =>
          if (first) { fill = n; first = false }
          else if (fill + n <= cap) fill += n
          else { bin += 1; fill = n }
          (lang, shard, id, n, bin)
        }
      }.toSeq
      .groupBy(t => (t._1, t._2, t._5)).map { case ((lang, shard, bin), rs) =>
        (lang, shard, bin, rs.size.toLong, rs.map(_._4).sum, rs.map(_._3).min)
      }.toSet
    assert(got === expected)
  }

  test("TopKByScore ranks NaN first and is merge-order independent") {
    // NaN cosine (zero-norm embedding) must land where ORDER BY score
    // DESC puts it in Spark's window sort AND DuckDB: above everything.
    val agg = new graft.ext.TopKByScore(3)
    val xs = Seq((0.5, 10L), (Double.NaN, 7L), (0.9, 3L), (0.9, 1L), (0.1, 5L))
    val full = xs.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = xs.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.reverse.foldLeft(agg.zero)(agg.reduce))
    val expected = Seq((Double.NaN, 7L), (0.9, 1L), (0.9, 3L))
    def bits(s: Seq[(Double, Long)]) =
      s.map { case (d, i) => (java.lang.Double.doubleToLongBits(d), i) }
    assert(bits(full) === bits(expected))
    assert(bits(merged) === bits(expected), "merge order must not matter")
    // below-threshold input against a full buffer is a no-op (same ref)
    assert(agg.reduce(full, (0.05, 99L)) eq full)
  }

  test("TopKByScore == sort-based top-k over random inputs and splits") {
    val rnd = new scala.util.Random(97)
    val agg = new graft.ext.TopKByScore(4)
    def bits(s: Seq[(Double, Long)]) =
      s.map { case (d, i) => (java.lang.Double.doubleToLongBits(d), i) }
    for (trial <- 0 until 200) {
      val n = 1 + rnd.nextInt(30)
      val xs = Seq.fill(n)((
        if (rnd.nextInt(20) == 0) Double.NaN else rnd.nextInt(10) / 4.0,
        rnd.nextInt(1000).toLong))
      // reference: full sort by (score desc w/ NaN first, id asc), take k
      val expected = xs.sortWith { (a, b) =>
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c < 0 else a._2 < b._2
      }.take(4)
      val folded = xs.foldLeft(agg.zero)(agg.reduce)
      assert(bits(folded) === bits(expected), s"trial $trial fold")
      // random split + merge must agree too (mergeable-state contract)
      val cut = rnd.nextInt(n + 1)
      val (l, r) = xs.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(bits(merged) === bits(expected), s"trial $trial merge")
    }
  }

  test("rpTopK multi-probe LSH recalls planted duplicates == exact batchTopK") {
    import graft.ext.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 3 queries, each with 5 positive-scalar copies: a positive scale
    // preserves every hyperplane dot's sign (identical bucket, probed at
    // flip=0) and cosine ~= 1, so the exact top-5 is the copies and the
    // multi-probe retrieval must recall ALL of them.
    val base = (0 until 3).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val planted = base.flatMap { case (qid, v) =>
      (1 to 5).map(j => (100L + qid * 10 + j, v.map(x => x * (1.0f + 0.5f * j))))
    }
    val noise = (0 until 200).map(i =>
      (1000L + i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = (base ++ planted ++ noise).toDF("vec_id", "embedding")
    val got = Similarity.rpTopK(df, queryMaxId = 3L, k = 5)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Long, Long)].collect()
    val exact = Similarity.batchTopK(df, queryMaxId = 3L, k = 5)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Long, Long)].collect()
    assert(got.toSet === exact.toSet,
      "multi-probe retrieval must match the exact baseline on planted dups")
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).toSet ===
        (1 to 5).map(j => 100L + q * 10 + j).toSet, s"query $q")
    }
  }

  test("approx sketches stay within error bounds of exact answers") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = (0 until 20000).map(_ => (rnd.nextInt(2000).toLong, rnd.nextGaussian() * 10))
      .toDF("uid", "v")
    val row = df.agg(
      approx_count_distinct($"uid", rsd = 0.02).as("hll"),
      countDistinct($"uid").as("exact"),
      expr("approx_percentile(v, 0.5, 1000)").as("p50s"),
      expr("percentile(v, 0.5)").as("p50")).collect().head
    val (hll, exact) = (row.getLong(0), row.getLong(1))
    assert(math.abs(hll - exact).toDouble / exact < 0.05,
      s"HLL off by more than 5%: $hll vs $exact")
    val (p50s, p50) = (row.getDouble(2), row.getDouble(3))
    assert(math.abs(p50s - p50) < 1.0, s"approx p50 $p50s vs exact $p50")
  }

  test("k-means recovers separated clusters and converges") {
    import spark.implicits._
    import graft.ext.Similarity
    val rnd = new scala.util.Random(5)
    // three well-separated directions in 8-d, 60 points each
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 1f))
    val pts = (0 until 180).map { i =>
      val d = dirs(i % 3)
      (i.toLong, d.map(x => x + rnd.nextFloat() * 0.1f).toSeq, (i % 3).toLong)
    }
    val df = pts.map { case (id, v, l) => (id, v, l) }
      .toDF("vec_id", "embedding", "truth")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"truth")

    val cents = Similarity.kmeansCentroids(df, k = 3, iters = 4)
    val assigned = df.withColumn("cell",
      Similarity.nearestCentroid(cents, $"embedding"))
      .select($"truth", $"cell").as[(Long, Long)].collect()
    // every truth-cluster maps to exactly one cell and vice versa
    val byTruth = assigned.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    assert(byTruth.values.forall(_.size == 1), s"clusters split: $byTruth")
    assert(byTruth.values.flatten.toSet.size === 3, "clusters merged")
    // another iteration does not change the assignment (converged)
    val cents2 = Similarity.kmeansCentroids(df, k = 3, iters = 5)
    val assigned2 = df.withColumn("cell",
      Similarity.nearestCentroid(cents2, $"embedding"))
      .select($"truth", $"cell").as[(Long, Long)].collect()
    assert(assigned.toSeq === assigned2.toSeq)
  }

  test("incremental IVF ingest (assign + append) == full rebuild, drift-free") {
    import spark.implicits._
    import graft.ext.Similarity
    import org.apache.spark.sql.functions.typedLit
    import graft.queries.Num.{r => rnd}
    val all = graft.TestFixtures.clusteredFixture(spark, 800).cache()
    val base = all.filter($"vec_id" < 560)
    val delta = all.filter($"vec_id" >= 560)
    val cents = Similarity.kmeansCentroids(base, k = 16, iters = 3, roundTo = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_incr").toString

    // two append-only ingests through the UNCHANGED trained centroids...
    for (batch <- Seq(base, delta))
      Similarity.ivfAssign(batch, cents).write.mode("append")
        .partitionBy("cell").parquet(dir)
    val store = spark.read.parquet(dir)
    // ...carry the identical (vec_id, cell) assignment a full rebuild
    // computes (ivfAssign distributes over union)
    val rebuilt = Similarity.ivfAssign(all, cents)
    assert(store.select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toSet ===
      rebuilt.select($"vec_id", $"cell").as[(Long, Long)].collect().toSet)

    // and RETRIEVAL through the incrementally-built store equals the
    // in-memory path on the full corpus, query by query
    for (q <- 0L until 4L) {
      val qvec = all.filter($"vec_id" === q)
        .select($"embedding").collect().head.getSeq[Float](0)
      val probes = Similarity.probeCells(cents, qvec, nprobe = 2)
      val fromStore = store
        .filter($"cell".isin(probes: _*) && $"vec_id" =!= q)
        .select($"vec_id",
          rnd(Similarity.cosine($"embedding", typedLit(qvec)), 6).as("cos"))
        .orderBy($"cos".desc, $"vec_id".asc).limit(10)
        .as[(Long, Double)].collect().toSeq
      val direct = Similarity.ivfTopK(all, q, k = 10, nCentroids = 16,
          nprobe = 2, centroids = Some(cents))
        .select($"vec_id", $"cos").as[(Long, Double)].collect().toSeq
      assert(fromStore === direct, s"query $q diverged")
    }
    all.unpersist()
  }

  test("PQ encode/ADC: plain-Scala replay parity; recall floor on clustered vectors") {
    import spark.implicits._
    import graft.ext.Pq
    val all = graft.TestFixtures.clusteredFixture(spark, 600).cache()
    val cbs = Pq.seedCodebooks(all, m = 4, ksub = 16)
    val vecs = all.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def sdot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += (a(i) * b(i)).toDouble; i += 1 }
      acc
    }
    def l2k(a: Seq[Float], b: Seq[Float]): Long =
      math.floor((sdot(a, a) - 2.0 * sdot(a, b) + sdot(b, b)) * 1e6 + 0.5).toLong
    // plain-Scala PQ: encode every vector, ADC-score against query 0
    val want = {
      val q = vecs.find(_._1 == 0L).get._2
      vecs.filter(_._1 != 0L).map { case (id, v) =>
        val dist = (0 until 4).map { j =>
          val sub = v.slice(j * 16, j * 16 + 16)
          val qsub = q.slice(j * 16, j * 16 + 16)
          val code = cbs(j).minBy { case (c, cv) => (l2k(sub, cv), c) }._1
          l2k(qsub, cbs(j)(code.toInt)._2)
        }.sum
        (id, dist)
      }.sortBy { case (id, dd) => (dd, id) }.take(10).toList
    }
    val got = Pq.adcTopK(all, queryVecId = 0L, k = 10, cbs)
      .as[(Long, Long)].collect().toList
    assert(got === want)
    // recall on CLUSTERED data: PQ with untrained seed codebooks is
    // LOSSY by design (measured 0.4 at m=4 here) — the informative
    // property is that finer quantization recovers signal: doubling the
    // subspaces must not lose recall, and the coarse tier still beats
    // noise. (The production recovery levers are trained codebooks and
    // PQ-as-first-pass + float re-rank, per the Pq scaladoc.)
    val q = vecs.find(_._1 == 0L).get._2
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      sdot(a, a) - 2.0 * sdot(a, b) + sdot(b, b)
    val exact = vecs.filter(_._1 != 0L)
      .sortBy { case (id, v) => (l2(q, v), id) }.take(10).map(_._1).toSet
    def recallAt(m: Int): Double = {
      val cb = Pq.seedCodebooks(all, m = m, ksub = 16)
      val ids = Pq.adcTopK(all, queryVecId = 0L, k = 10, cb)
        .as[(Long, Long)].collect().map(_._1)
      ids.count(exact).toDouble / 10
    }
    val r4 = recallAt(4)
    val r8 = recallAt(8)
    assert(r8 >= r4, s"finer quantization lost recall: m=8 $r8 < m=4 $r4")
    assert(r4 >= 0.3, s"coarse PQ recall $r4 below noise floor")
    all.unpersist()
  }

  test("native PqEncode kernel is bit-identical to the declarative HOF encode") {
    import spark.implicits._
    import graft.ext.Pq
    // random + hostile rows: zero vector (NaN-free for L2 but all-tie
    // keys -> smallest code), huge magnitudes (the clamp path)
    val rnd = new scala.util.Random(77)
    val rows = Seq(
      (1000L, Seq.fill(64)(0.0f)),
      (1001L, Seq.fill(64)(1e30f)),
      (1002L, Seq.fill(64)(-1e30f))) ++
      (0L until 300L).map(i => (i, Seq.fill(64)(rnd.nextFloat() * 4 - 2)))
    val df = rows.toDF("vec_id", "embedding")
    for (m <- Seq(4, 8)) {
      val cbs = Pq.seedCodebooks(df, m, ksub = 16)
      val native = Pq.encode(df, cbs)
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toList
      val hof = Pq.encodeHof(df, cbs)
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toList
      assert(native === hof, s"kernel diverged from HOF at m=$m")
    }
  }

  test("IVF-PQ composition: equals ADC restricted to the probed cells") {
    import spark.implicits._
    import graft.ext.{Pq, Similarity}
    val all = graft.TestFixtures.clusteredFixture(spark, 500).cache()
    val cbs = Pq.seedCodebooks(all, m = 4, ksub = 16)
    val cents = all.filter($"vec_id" < 16)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val qvec = all.filter($"vec_id" === 0L)
      .select($"embedding").collect().head.getSeq[Float](0)
    val probes = Similarity.probeCells(cents, qvec, nprobe = 2).toSet
    val got = Pq.ivfAdcTopK(all, queryVecId = 0L, k = 10, cbs)
      .as[(Long, Long)].collect().toList
    // reference: restrict the corpus to the probed cells by the SAME
    // assignment, then run the full (un-probed) ADC ranker on it
    val restricted = Similarity.ivfAssign(all, cents)
      .filter($"cell".isin(probes.toSeq: _*))
      .select($"vec_id", $"embedding")
    val want = Pq.adcTopK(restricted, queryVecId = 0L, k = 10, cbs)
      .as[(Long, Long)].collect().toList
    assert(got === want)
    assert(got.nonEmpty && got.size <= 10)
    all.unpersist()
  }

  test("semanticDropList: greedy keep-smallest per cell; never pairs across cells") {
    import spark.implicits._
    import graft.ext.Similarity
    // two centroid directions u, v with cos(u, v) = 0.95 — ABOVE the
    // 0.9 dedup threshold, so a cross-cell (u-point, v-point) pair
    // WOULD be a near-dup if the operator ever paired across cells;
    // the contract is that it must not
    val u = Seq(1f, 0f, 0f, 0f)
    val v = Seq(0.95f, math.sqrt(1 - 0.95 * 0.95).toFloat, 0f, 0f)
    def scaled(w: Seq[Float], a: Float) = w.map(_ * a)
    // u-cell members: 0, 2, 4 (scalar multiples — cosine 1.0 pairwise);
    // v-cell members: 1, 3
    val emb = Seq(
      (0L, u), (1L, v), (2L, scaled(u, 2f)), (3L, scaled(v, 2f)),
      (4L, scaled(u, 3f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val docs = Seq(
      (0L, "en", 10L), (1L, "en", 20L), (2L, "de", 30L), (3L, "en", 40L),
      (4L, "de", 50L)).toDF("doc_id", "lang", "n_chars")
    val out = Dedup.semanticDropList(emb, docs,
        centroids = Seq((0L, u), (1L, v)), minCos = 0.9)
      .select($"doc_id", $"cell", $"dup_of", $"max_cos", $"n_dups",
        $"lang", $"n_chars")
      .as[(Long, Long, Long, Double, Long, String, Long)]
      .collect().sortBy(_._1)
    // cell 0 keeps 0, drops 2 (1 dup: 0) and 4 (2 dups: 0, 2);
    // cell 1 keeps 1, drops 3; ids 0 and 1 never appear even though
    // cos(0, 1) = 0.95 >= 0.9 — different cells
    assert(out.toSeq === Seq(
      (2L, 0L, 0L, 1.0, 1L, "de", 30L),
      (3L, 1L, 1L, 1.0, 1L, "en", 40L),
      (4L, 0L, 0L, 1.0, 2L, "de", 50L)))
    Dedup.clearSignatureCaches()
  }

  test("quantized k-means training is partition-order invariant") {
    import spark.implicits._
    import graft.ext.Similarity
    // a distributed double mean's low bits depend on partition order;
    // roundTo=4 must erase that — identical centroids from any layout
    val rnd = new scala.util.Random(29)
    val pts = (0 until 300).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f))
    }
    def train(parts: Int): Seq[(Long, Seq[Float])] = {
      val df = pts.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
        .repartition(parts)
      Similarity.kmeansCentroids(df, k = 4, iters = 2, roundTo = 4)
    }
    assert(train(3) === train(7))
  }

  test("sampled k-means training is deterministic across partitionings and recovers clusters") {
    import spark.implicits._
    import graft.ext.Similarity
    // the sample is a pure hash of vec_id, so the TRAINING SET — not
    // just the means — is identical from any layout; with roundTo the
    // whole sampled training run must be bit-reproducible
    val rnd = new scala.util.Random(41)
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 1f))
    val pts = (0 until 900).map { i =>
      val d = dirs(i % 3)
      (i.toLong, d.map(x => x + rnd.nextFloat() * 0.1f).toSeq, (i % 3).toLong)
    }
    def df(parts: Int) = pts.toDF("vec_id", "embedding", "truth")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"truth")
      .repartition(parts)
    def train(parts: Int, permille: Int) =
      Similarity.kmeansCentroids(df(parts), k = 3, iters = 3, roundTo = 4,
        samplePermille = permille)
    // determinism: same centroids from any partitioning at 10% sampling
    assert(train(3, 100) === train(11, 100))
    // quality: 10%-sampled training still separates the clusters the
    // same way full training does (assignment equality on all 900)
    val full = df(5)
    val assignedSampled = full.withColumn("cell",
      Similarity.nearestCentroid(train(5, 100), $"embedding"))
      .select($"truth", $"cell").as[(Long, Long)].collect()
    val byTruth = assignedSampled.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).toSet }
    assert(byTruth.values.forall(_.size == 1), s"clusters split: $byTruth")
    assert(byTruth.values.flatten.toSet.size === 3, "clusters merged")
    // the sample really is a subset: permille=1000 equals the unsampled path
    assert(train(4, 1000) ===
      Similarity.kmeansCentroids(df(4), k = 3, iters = 3, roundTo = 4))
  }

  test("ivfBatchTopK equals per-query ivfTopK (untrained and trained centroids)") {
    import spark.implicits._
    import graft.ext.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (cents <- Seq(None,
        Some(Similarity.kmeansCentroids(emb, 16, 1, roundTo = 4)))) {
      val batch = Similarity.ivfBatchTopK(emb, queryMaxId = 5L, k = 10,
        nCentroids = 16, nprobe = 2, centroids = cents)
        .as[(Long, Long, Long, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(x => (x._3, x._4)).toList).toMap
      for (qid <- 0L until 5L) {
        val single = Similarity.ivfTopK(emb, qid, 10, nCentroids = 16,
          nprobe = 2, centroids = cents)
          .select($"vec_id", $"cos").as[(Long, Double)].collect().toList
        assert(batch.getOrElse(qid, Nil) === single,
          s"query $qid trained=${cents.isDefined}")
      }
    }
  }

  test("ivfTopK with injected trained centroids: full recall at nprobe=1 on clustered data") {
    import spark.implicits._
    import graft.ext.Similarity
    val rnd = new scala.util.Random(13)
    // four orthogonal directions in 8-d; cluster drawn per row EXCEPT
    // vec_ids 0-3 are pinned to clusters (0,0,1,1) so the untrained
    // first-4 centroid set never sees clusters 2 and 3 — the biased
    // sample a production first-N stand-in actually is
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f))
    val pts = (0 until 200).map { i =>
      val c = if (i < 4) i / 2 else rnd.nextInt(4)
      (i.toLong, dirs(c).map(x => x + rnd.nextFloat() * 0.05f).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        lit(0L).as("label"))
    def recallAt10(centroids: Option[Seq[(Long, Seq[Float])]]): Double = {
      val per = (0L until 8L).map { q =>
        val truth = Similarity.bruteForceTopK(df, q, 10)
          .select($"vec_id").as[Long].collect().toSet
        val got = Similarity.ivfTopK(df, q, 10, nCentroids = 4, nprobe = 1,
          centroids = centroids)
          .select($"vec_id").as[Long].collect().toSet
        got.count(truth).toDouble / truth.size
      }
      per.sum / per.size
    }
    // ideal (trained) centroids = the four true directions: every
    // cluster maps to its own cell, so one probed cell holds ALL of a
    // query's true neighbors — recall must be exactly 1.0
    val ideal = dirs.zipWithIndex.map { case (d, i) => (i.toLong, d.toSeq) }
    assert(recallAt10(Some(ideal)) === 1.0)
    // the biased untrained set cannot: clusters 2/3 scatter across
    // cells driven by noise, so single-probe recall drops below 1
    assert(recallAt10(None) < 1.0)
  }

  test("sessionize splits on gap strictly greater than threshold") {
    import spark.implicits._
    val rows = Seq(
      (1L, 0L), (2L, 100L), (3L, 700L),   // gap 600 == threshold -> same session
      (4L, 1301L),                         // gap 601 > 600 -> new session
      (5L, 1301L)                          // duplicate ts, tiebreak by id
    ).map { case (id, sec) => (id, new java.sql.Timestamp(sec * 1000L), 9L) }
      .toDF("event_id", "ts", "user_id")
    val out = Sessionize.sessionize(rows, $"user_id", $"ts", 600L, $"event_id")
      .select($"event_id", $"session_seq").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
  }
}
