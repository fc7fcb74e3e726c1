package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

/** Skew guards on the pair generators: a 90%-boilerplate corpus floods
  * one LSH bucket; the `maxBucket` cap must drop the flood from candidate
  * generation (bounded work) while keeping true near-dup pairs that live
  * in honest buckets. Composite fuzzy-match blocking must bound bucket
  * size without changing results vs the brute-force definition.
  */
class DedupSkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 900 identical boilerplate docs + 50 disjoint-vocabulary duplicate
    * pairs (ids 1000..1099; 2k and 2k+1 identical -> jaccard 1, so each
    * pair is a DETERMINISTIC LSH candidate — banding is probabilistic
    * below 1.0 and would flake the subset assertion).
    */
  private def skewedCorpus = {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val boilerDocs = (0 until 900).map(i => (i.toLong, boiler))
    val pairDocs = (0 until 50).flatMap { p =>
      val base = (0 until 12).map(w => s"w${p}_$w").mkString(" ")
      Seq((1000L + 2 * p, base), (1000L + 2 * p + 1, base))
    }
    (boilerDocs ++ pairDocs).toDF("doc_id", "text")
  }

  test("minhashPairs cap drops the boilerplate flood, keeps honest pairs") {
    import spark.implicits._
    val docs = skewedCorpus
    val capped = Dedup.minhashPairs(docs, minJaccard = 0.5, maxBucket = 100)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    // no pair touches the 900-doc flood...
    assert(capped.forall { case (a, b) => a >= 1000 && b >= 1000 },
      "flooded bucket must be excluded from candidate generation")
    // ...but every planted near-dup pair survives
    val planted = (0 until 50).map(p => (1000L + 2 * p, 1000L + 2 * p + 1)).toSet
    assert(planted.subsetOf(capped), "honest near-dup pairs must be kept")
    // sanity inverse: without the cap the flood pairs with itself
    val uncapped = Dedup.minhashPairs(docs.filter($"doc_id" < 20 || $"doc_id" >= 1000),
      minJaccard = 0.5).select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    assert(uncapped.exists { case (a, b) => a < 20 && b < 20 },
      "identical docs must pair when under the cap")
    // containmentPairs shares the capped candidate join
    val contained = Dedup.containmentPairs(docs, minContainment = 0.5,
        maxBucket = 100)
      .select($"inner_doc", $"outer_doc").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(contained.forall { case (a, b) => a >= 1000 && b >= 1000 },
      "flooded bucket must be excluded from containment candidates")
    assert(planted.subsetOf(contained), "honest containment pairs must be kept")
  }

  test("hammingPairs cap drops the boilerplate flood, keeps honest pairs") {
    import spark.implicits._
    val docs = skewedCorpus
    val capped = Dedup.hammingPairs(docs, maxDist = 3, maxBucket = 100)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    assert(capped.forall { case (a, b) => a >= 1000 && b >= 1000 },
      "flooded chunk blocks must be excluded from candidate generation")
    val planted = (0 until 50).map(p => (1000L + 2 * p, 1000L + 2 * p + 1)).toSet
    assert(planted.subsetOf(capped), "identical planted pairs must be kept")
  }

  test("hammingPairs excludes empty-token docs and emits each pair once") {
    import spark.implicits._
    // simhash of an empty token set is the 0L sentinel: without the
    // guard, every empty/null/whitespace doc pairs with every other at
    // hamming 0 — quadratic output for what exactGroups handles
    val base = (0 until 30).map(w => s"w$w").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base),                   // identical -> hamming 0
      (10L, ""), (11L, " "), (12L, null.asInstanceOf[String]),
      (13L, "   ")).toDF("doc_id", "text")
    val pairs = Dedup.hammingPairs(docs, maxDist = 3)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSeq
    assert(pairs.forall { case (a, b) => a < 10 && b < 10 },
      s"empty-token docs must never pair, got $pairs")
    assert(pairs.toSet === Set((1L, 2L)))
    // each surviving pair appears exactly ONCE even when it agrees on
    // several chunks (identical sigs agree on all four)
    assert(pairs.size === pairs.distinct.size)
  }

  test("bigram flood guard excludes hot keys BEFORE aggregation") {
    import spark.implicits._
    val docs = skewedCorpus
    val df = Dedup.bigramJaccardPairs(docs, minJaccard = 0.5, maxBucket = 100)
    val pairs = df.select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    assert(pairs.forall { case (a, b) => a >= 1000 && b >= 1000 },
      "flooded (k1,k2) bucket must be excluded from pair generation")
    val planted = (0 until 50).map(p => (1000L + 2 * p, 1000L + 2 * p + 1)).toSet
    assert(planted.subsetOf(pairs), "honest near-dup pairs must be kept")
    // structural contract: the hot-key anti-join sits BELOW the
    // collect_list aggregate, so a flood bucket is never materialized in
    // an aggregation buffer — a post-aggregation size filter would OOM
    // exactly on floods. Walk the optimized plan (stable vs AQE re-plan
    // and physical-name drift) instead of comparing plan-string offsets.
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = df.queryExecution.optimizedPlan
    val agg = plan.collectFirst {
      case a: Aggregate if a.aggregateExpressions.exists(
        _.collectFirst { case _: CollectList => () }.isDefined) => a
    }
    assert(agg.isDefined, "collect_list aggregate missing:\n" + plan.treeString)
    val antiBelow = agg.get.collect {
      case j: Join if j.joinType == LeftAnti => j
    }
    assert(antiBelow.nonEmpty,
      "anti-join must be a descendant of the aggregate:\n" + plan.treeString)
  }

  test("semanticDropList maxCell bounds flood work without changing the drop set") {
    import spark.implicits._
    val dim = 64
    def vec(hotDim: Int, i: Int): Seq[Float] =
      Seq.tabulate(dim)(d =>
        if (d == hotDim) 1.0f
        else if (d == (hotDim + 1) % dim) i * 1e-5f
        else 0.0f)
    // cluster A: 300 near-identical vectors along dim 0 (a duplicate
    // flood); cluster B: 40 near-identical along dim 7 (under-cap,
    // orthogonal to A); both land in cells by the single centroid set
    val a = (0 until 300).map(i => (100L + i, vec(0, i)))
    val b = (0 until 40).map(i => (1000L + i, vec(7, i)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val docs = (a ++ b).map(_._1).toDF("doc_id")
      .select($"doc_id", lit("en").as("lang"), lit(10L).as("n_chars"))
    // centroids: one per cluster direction — A floods its cell
    val cents = Seq((0L, vec(0, 0)), (1L, vec(7, 0)))

    val uncapped = Dedup.semanticDropList(emb, docs, cents, minCos = 0.9)
      .select($"doc_id", $"dup_of").as[(Long, Long)].collect().toMap
    Dedup.clearSignatureCaches()
    val capped = Dedup.semanticDropList(emb, docs, cents, minCos = 0.9,
      maxCell = 50)
      .select($"doc_id", $"dup_of", $"n_dups").as[(Long, Long, Long)]
      .collect()
    Dedup.clearSignatureCaches()

    // the drop SET survives the cap: every non-anchor flood member and
    // every non-min B member is still dropped, nothing else
    assert(capped.map(_._1).toSet === uncapped.keySet)
    assert(capped.map(_._1).toSet ===
      (a.map(_._1).toSet - 100L) ++ (b.map(_._1).toSet - 1000L))
    // flood members carry the anchor-tier signature: exactly ONE pair
    // (the sub-bucket anchor), dup_of = the flood's min id — the m-not-m²
    // work bound made observable in the output
    capped.filter(_._1 >= 100L).filter(_._1 < 1000L).foreach {
      case (id, dupOf, nDups) =>
        assert(dupOf === 100L, s"flood member $id anchored to $dupOf")
        assert(nDups === 1L, s"flood member $id scored $nDups pairs")
    }
    // under-cap cells keep FULL pair semantics (bitwise same dup_of)
    capped.filter(_._1 >= 1000L).foreach { case (id, dupOf, _) =>
      assert(dupOf === uncapped(id))
    }
  }

  test("driver-local pair forms equal their distributed twins, hot suppression included") {
    import spark.implicits._
    val docs = skewedCorpus
    val store = docs.filter($"doc_id" % 2 === 0)
    val inc = docs.filter($"doc_id" % 2 === 1)
    val sSig = Dedup.signatureFrame(store).localCheckpoint(true)
    val sBands = Dedup.explodedBands(sSig).localCheckpoint(true)
    val iSig = Dedup.signatureFrame(inc).localCheckpoint(true)
    val iSigRows = iSig.collect()
    // an EXPLICIT hot set (the 450-doc store-side flood's band keys),
    // fed identically to both forms — the local form applies it to the
    // DELTA side, the distributed form anti-joins it on the STORE
    // side; the pair sets must match exactly
    val hot: Set[(Int, String)] = sBands.groupBy($"band", $"key")
      .agg(count(lit(1)).as("cnt")).filter($"cnt" > 100)
      .select($"band", $"key").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(hot.nonEmpty, "fixture must produce hot keys")
    val hotDF = hot.toSeq.toDF("band", "key")
    // maxBucket 1000 keeps the distributed incoming-side cap a no-op
    // (the local form's precondition)
    val dist = Dedup.minhashPairsAgainstPreparedSigs(sBands, hotDF, sSig,
      iSig, minJaccard = 0.5, maxBucket = 1000)
      .as[(Long, Long, Double)].collect().toSet
    val local = Dedup.minhashPairsAgainstPreparedLocal(spark, hot,
      sBands, sSig, iSigRows, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(local === dist,
      "hot-on-delta-side must suppress exactly what the store-side anti-join does")
    assert(local.forall { case (a, b, _) => a >= 1000 && b >= 1000 },
      "the flood's band keys must be suppressed")
    val planted = (0 until 50).map(p => (1000L + 2 * p + 1, 1000L + 2 * p)).toSet
    assert(planted.subsetOf(local.map { case (a, b, _) => (a, b) }),
      "straddling near-dup pairs must survive the hot filter")

    // within-side: driver candidates + LocalRelation verification equal
    // the distributed generator on the same signature rows
    val within = docs.filter($"doc_id" >= 1000 || $"doc_id" < 10)
    val wSig = Dedup.signatureFrame(within).localCheckpoint(true)
    val wRows = wSig.collect()
    val localW = Dedup.minhashPairsLocal(spark, wRows, minJaccard = 0.5)
      .getOrElse(fail("fixture has near-dup pairs"))
      .as[(Long, Long, Double)].collect().toSet
    val distW = Dedup.minhashPairsFromSigs(wSig, minJaccard = 0.5,
      incomingUnderCap = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(localW === distW, "within-side local form must equal the generator")
    // disjoint-vocabulary docs: no candidates -> None (zero jobs)
    val disjoint = (0 until 6).map(i =>
      (i.toLong, (0 until 12).map(w => s"only${i}q$w").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.minhashPairsLocal(spark,
      Dedup.signatureFrame(disjoint).collect(), minJaccard = 0.5).isEmpty)
    Dedup.clearSignatureCaches()
  }

  test("incremental dedup == cross-side subset of the symmetric generator") {
    import spark.implicits._
    val docs = skewedCorpus
    // even ids = store, odd ids = incoming; every planted pair (2k, 2k+1)
    // straddles the split, the 900-doc flood splits 450/450 on each side
    val store = docs.filter($"doc_id" % 2 === 0)
    val inc = docs.filter($"doc_id" % 2 === 1)
    val got = Dedup.minhashPairsAgainst(store, inc, minJaccard = 0.5, maxBucket = 100)
      .select($"in_doc", $"store_doc").as[(Long, Long)].collect().toSet
    // per-side caps drop the flood from BOTH sides of the asymmetric join
    assert(got.forall { case (a, b) => a >= 1000 && b >= 1000 },
      "flooded buckets must be excluded on each side independently")
    val planted = (0 until 50).map(p => (1000L + 2 * p + 1, 1000L + 2 * p)).toSet
    assert(planted.subsetOf(got), "straddling near-dup pairs must be found")
    // and the asymmetric generator agrees exactly with the cross-side
    // subset of the symmetric one on the under-cap corpus
    val full = Dedup.minhashPairs(docs.filter($"doc_id" >= 1000), minJaccard = 0.5)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val cross = full.collect { case (a, b) if a % 2 != b % 2 =>
      if (a % 2 == 1) (a, b) else (b, a)
    }
    assert(got === cross)
    Dedup.clearSignatureCaches()
  }

  test("clearSignatureCaches releases the pair generators' cached tables") {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    // Assert on the registered-cache queue and per-DataFrame storage level
    // (cache-manager metadata, updated synchronously by unpersist) — NOT on
    // getPersistentRDDs.size, whose baseline races the async ContextCleaner
    // sweeping earlier suites' dead caches (order-dependent flake).
    Dedup.clearSignatureCaches()
    assert(Dedup.registeredSignatureCacheCount === 0)
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
      (3L, "p q r s t u v")).toDF("doc_id", "text")
    val pairs1 = Dedup.minhashPairs(docs, minJaccard = 0.5).collect()
    Dedup.bigramJaccardPairs(docs, minJaccard = 0.5).collect()
    val registered = Dedup.signatureCacheSnapshot
    assert(registered.nonEmpty, "pair generators must register their caches")
    assert(registered.forall(_.storageLevel != StorageLevel.NONE),
      "signature tables must be cached while in use")
    Dedup.clearSignatureCaches()
    assert(Dedup.registeredSignatureCacheCount === 0,
      "explicit release must drain the registered queue")
    assert(registered.forall(_.storageLevel == StorageLevel.NONE),
      "explicit release must uncache every registered entry")
    // results survive the release (dependencies recompute)
    assert(Dedup.minhashPairs(docs, minJaccard = 0.5).collect().toSeq
      === pairs1.toSeq)
    Dedup.clearSignatureCaches()
  }

  test("composite fuzzy block bounds buckets without changing results") {
    import spark.implicits._
    // one shared first token, lengths spread 8..47: first-token-only
    // blocking is a single 400-row bucket; (token, len/4 band) re-spreads
    val names = (0 until 400).map { i =>
      "hot " + ("x" * (4 + i % 40)) + s"_$i"
    }.toDF("p_name")
    val p = names.select($"p_name",
      split($"p_name", " ").getItem(0).as("tok"),
      floor(length($"p_name") / 4).cast("long").as("band"))
    val sizes = p.groupBy($"tok", $"band").count().as[(String, Long, Long)].collect()
    assert(sizes.map(_._3).max <= 400 / 8,
      "composite key must split the hot first-token bucket")

    // blocked join == brute-force definition (same tok AND dist <= 3)
    val l = p.select($"tok",
      explode(array($"band" - 1, $"band", $"band" + 1)).as("band"), $"p_name".as("n1"))
    val r = p.select($"tok", $"band", $"p_name".as("n2"))
    val blocked = l.join(r, Seq("tok", "band"))
      .filter($"n1" < $"n2")
      .withColumn("dist", levenshtein($"n1", $"n2", 3).cast("long"))
      .filter($"dist" >= 0)
      .select($"n1", $"n2", $"dist").as[(String, String, Long)].collect().toSet
    val brute = p.select($"tok", $"p_name".as("n1"))
      .join(p.select($"tok", $"p_name".as("n2")), Seq("tok"))
      .filter($"n1" < $"n2")
      .withColumn("dist", levenshtein($"n1", $"n2").cast("long"))
      .filter($"dist" <= 3)
      .select($"n1", $"n2", $"dist").as[(String, String, Long)].collect().toSet
    assert(blocked === brute)
    assert(brute.nonEmpty, "corpus should contain close name pairs")
  }
}
