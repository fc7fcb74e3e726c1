package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.withConf
import graft.queries.Curation

/** The q122 incremental-ingest contract, pinned cause by cause on a
  * fixture where every drop has exactly one designed reason:
  *  - store priority: exact / near / semantic duplicates OF THE STORE
  *    are dropped however new their ids are (re-ingesting already-
  *    curated content is a no-op — replay idempotence);
  *  - within-delta keep-min: exact text, near-dup components and
  *    semantic pairs each keep the smallest delta id;
  *  - the store holdout decontaminates the delta (and eval-bucket
  *    delta docs are never ingested);
  *  - pack append: accepted docs CONTINUE the store's token stream —
  *    first offset = the store's total token count, offsets contiguous
  *    in doc_id order (the from-scratch q112 semantics shifted by the
  *    base, via the shared [[graft.ext.Packing.withSeqFields]]).
  * The q122 gate proves the whole lineage hash-equal to the DuckDB
  * replay; this spec proves each drop happens for the REASON the
  * contract names.
  */
class IncrementalCurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    org.apache.spark.sql.graft.GraftExtensions.install(s)
    s
  }

  // the q51/q117 hash split, replicated for id selection
  private def bucketOf(id: Long): Long =
    ((id % 1000000000L) * 2654435761L) % 100L

  private def pickIds(n: Int, pred: Long => Boolean,
      from: Long = 1L): Seq[Long] =
    Iterator.iterate(from)(_ + 1L).filter(pred).take(n).toSeq

  // 20 tokens: 12 doc-unique words interleaved with 8 stopwords, so
  // every 5-gram contains doc-unique tokens (zero cross-doc shingle
  // overlap unless designed), top-token ratio 1/20, stopword ratio 0.4
  // (quality 0.7 — comfortably past every stage-2 threshold)
  // NO DIGITS anywhere: stage 1 rewrites [0-9]+ to <NUM>, which would
  // collapse numbered tags into identical cleaned tokens
  private def text(tag: String): String = {
    val u = ('a' to 'l').map(ch => s"${tag}q$ch")
    val stops = Seq("the", "and", "of", "to", "a", "in", "is", "for")
    val inter = u.take(8).zip(stops).flatMap { case (w, st) => Seq(w, st) }
    (inter ++ u.drop(8)).mkString(" ")
  }

  test("incremental ingest: per-stage drop causes, store priority, pack continuity") {
    import spark.implicits._

    val storeIds = pickIds(12, id => id % 7 != 0 && bucketOf(id) < 80)
    val teId = pickIds(1, id => id % 7 != 0 && bucketOf(id) >= 80).head
    val deltaIds = pickIds(11, id => id % 7 == 0 && bucketOf(id) < 80)
    val Seq(dupExact, dupNear, dupSem, pairA, pairB, nearA, nearB,
      semA, semB, contam, fresh) = deltaIds
    val evalD = pickIds(1, id => id % 7 == 0 && bucketOf(id) >= 80).head

    val teText = text("holdout")
    def stag(i: Int): String = s"s${('a' + i).toChar}"
    val docs = (
      storeIds.zipWithIndex.map { case (id, i) => (id, text(stag(i))) } ++
      Seq(
        teId -> teText,
        dupExact -> text(stag(0)), // exact text of store doc 0
        dupNear -> (text(stag(1)) + " extraTok"), // 16/17 shared shingles
        dupSem -> text("dsem"), // unique text, store doc 2's embedding
        pairA -> text("pair"), pairB -> text("pair"), // exact twins
        nearA -> text("near"), nearB -> (text("near") + " extraTok"),
        semA -> text("sema"), semB -> text("semb"), // shared embedding
        contam -> (('a' to 'o').map(ch => s"conq$ch") ++
          teText.split(" ").take(5)).mkString(" "),
        fresh -> text("fresh"),
        evalD -> text("evald"))
      ).map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
      .toDF("doc_id", "lang", "source", "n_chars", "text")

    // one-hot embeddings: a distinct dimension per doc, except the two
    // designed semantic pairs (dupSem = store doc 2; semB = semA)
    val allIds = storeIds ++ Seq(teId) ++ deltaIds ++ Seq(evalD)
    val dims = allIds.zipWithIndex.toMap
    def dim(id: Long): Int =
      if (id == dupSem) dims(storeIds(2))
      else if (id == semB) dims(semA)
      else dims(id)
    val emb = allIds.map { id =>
      (id, (0 until 64).map(d => if (d == dim(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")

    val out = Curation.incrementalIngest(spark, docs, emb,
      pmod(col("doc_id"), lit(7L)) === 0L)
      .orderBy($"doc_id").collect()

    val acceptedIds = out.map(_.getLong(0)).toSeq
    assert(acceptedIds === Seq(pairA, nearA, semA, fresh).sorted,
      s"accepted = $acceptedIds; expected keep-min winners + fresh only")

    // every drop had its designed cause — spot the five store-priority
    // and within-delta losers plus the decontaminated/eval docs
    for (id <- Seq(dupExact, dupNear, dupSem, pairB, nearB, semB,
        contam, evalD))
      assert(!acceptedIds.contains(id), s"$id must be dropped")

    // pack continuity: the store has 12 survivors x 20 tokens; accepted
    // docs continue the stream contiguously in doc_id order
    val base = 12L * 20L
    val rows = out.map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._2).forall(_ == 20L))
    val expectedStarts = rows.map(_._1).sorted.zipWithIndex.map {
      case (_, i) => base + 20L * i
    }
    assert(rows.map(_._3).toSeq === expectedStarts.toSeq,
      s"offsets must continue the store stream at $base")
    // seq fields derive from the SHIFTED offsets (SeqLen = 2048)
    out.foreach { r =>
      assert(r.getLong(5) === r.getLong(4) / 2048L) // start_seq
      assert(r.getLong(6) === r.getLong(4) % 2048L) // start_off
    }
  }

  test("rounds compose: two sequential ingests equal one combined ingest (chain-free)") {
    import spark.implicits._
    // explicit store-in/manifest-out form: the store fixture is clean
    // (no dups, no contamination), so the store frame IS its cleaned
    // corpus; ids ordered storeIds < d1Ids < d2Ids so pack offsets are
    // comparable across the two shapes
    val storeIds = pickIds(12, id => id % 7 != 0 && bucketOf(id) < 80)
    val teId = pickIds(1, id => id % 7 != 0 && bucketOf(id) >= 80).head
    val d1Ids = pickIds(4, id => id % 7 == 0 && bucketOf(id) < 80)
    val d2Ids = pickIds(4,
      id => id % 7 == 0 && bucketOf(id) < 80, from = d1Ids.max + 1)
    val Seq(f1, dupS, p1a, p1b) = d1Ids
    val Seq(g1, dupOfF1, dupOfP1a, g2) = d2Ids

    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    def stag(i: Int): String = s"s${('a' + i).toChar}"
    val store1 = mk(storeIds.zipWithIndex.map { case (id, i) =>
      (id, text(stag(i))) })
    val holdout = mk(Seq(teId -> text("holdout")))
    val clD1 = mk(Seq(f1 -> text("fone"), dupS -> text(stag(0)),
      p1a -> text("pone"), p1b -> text("pone")))
    val clD2 = mk(Seq(g1 -> text("gone"), dupOfF1 -> text("fone"),
      dupOfP1a -> text("pone"), g2 -> text("gtwo")))

    val allIds = storeIds ++ Seq(teId) ++ d1Ids ++ d2Ids
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      (id, (0 until 64).map(d => if (d == dims(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val r1 = Curation.ingestDelta(spark, store1, holdout, clD1, emb, trained)
    val r1Rows = rows(r1)
    val accepted1 = r1Rows.map(_.head.asInstanceOf[Long])
    assert(accepted1 === Set(f1, p1a), "round 1: fresh + exact-twin winner")
    val store2 = store1.unionByName(
      clD1.filter($"doc_id".isin(accepted1.toSeq: _*)))
    val r2Rows = rows(
      Curation.ingestDelta(spark, store2, holdout, clD2, emb, trained))
    assert(r2Rows.map(_.head) === Set[Any](g1, g2),
      "round 2: dups of round-1 ACCEPTED docs must drop against store2")

    val combined = rows(Curation.ingestDelta(spark, store1, holdout,
      clD1.unionByName(clD2), emb, trained))
    assert(combined === (r1Rows ++ r2Rows),
      "sequential rounds must equal the combined ingest, offsets included")
  }

  test("cross-batch near-dup chains diverge BY DESIGN (anchor semantics)") {
    import spark.implicits._
    // a ~ b, b ~ c, a !~ c with a,b in round 1 and c in round 2:
    // round 1 keeps a (drops b); c's only near-dup link (b) was never
    // ingested, so the sequential form ACCEPTS c — the store, not the
    // transitive closure over never-ingested docs, is the authority —
    // while the combined batch's component {a,b,c} drops c
    val storeIds = pickIds(12, id => id % 7 != 0 && bucketOf(id) < 80)
    val teId = pickIds(1, id => id % 7 != 0 && bucketOf(id) >= 80).head
    val d1Ids = pickIds(2, id => id % 7 == 0 && bucketOf(id) < 80)
    val cId = pickIds(1,
      id => id % 7 == 0 && bucketOf(id) < 80, from = d1Ids.max + 1).head
    val Seq(aId, bId) = d1Ids
    val extras = ('a' to 'h').map(ch => s"extraq$ch")
    val aText = text("chain")
    val bText = aText + " " + extras.take(4).mkString(" ")
    val cText = bText + " " + extras.drop(4).mkString(" ")

    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    def stag(i: Int): String = s"s${('a' + i).toChar}"
    val store1 = mk(storeIds.zipWithIndex.map { case (id, i) =>
      (id, text(stag(i))) })
    val holdout = mk(Seq(teId -> text("holdout")))
    val clD1 = mk(Seq(aId -> aText, bId -> bText))
    val clD2 = mk(Seq(cId -> cText))

    val allIds = storeIds ++ Seq(teId) ++ d1Ids ++ Seq(cId)
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      (id, (0 until 64).map(d => if (d == dims(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val acc1 = ids(
      Curation.ingestDelta(spark, store1, holdout, clD1, emb, trained))
    assert(acc1 === Set(aId), "round 1 keeps the chain anchor only")
    val store2 = store1.unionByName(clD1.filter($"doc_id" === aId))
    val acc2 = ids(
      Curation.ingestDelta(spark, store2, holdout, clD2, emb, trained))
    assert(acc2 === Set(cId),
      "sequential: c has no surviving near-dup link, so it is ingested")
    val combined = ids(Curation.ingestDelta(spark, store1, holdout,
      clD1.unionByName(clD2), emb, trained))
    assert(combined === Set(aId),
      "combined: the {a,b,c} component collapses to its min anchor")
  }

  test("full-duplicate delta is a no-op (replay idempotence)") {
    import spark.implicits._
    val storeIds = pickIds(16, id => id % 7 != 0 && bucketOf(id) < 80)
    val deltaIds = pickIds(4, id => id % 7 == 0 && bucketOf(id) < 80)
    // every delta text is an exact copy of a store text
    val docs = (storeIds.zipWithIndex.map { case (id, i) =>
        (id, text(s"s${('a' + i).toChar}"))
      } ++ deltaIds.zipWithIndex.map { case (id, i) =>
        (id, text(s"s${('a' + i).toChar}"))
      }).map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val allIds = storeIds ++ deltaIds
    val emb = allIds.zipWithIndex.map { case (id, i) =>
      (id, (0 until 64).map(d => if (d == i % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val out = Curation.incrementalIngest(spark, docs, emb,
      pmod(col("doc_id"), lit(7L)) === 0L)
    assert(out.count() === 0L, "re-ingesting curated content must be a no-op")
  }

  test("persisted ingest (q125) equals in-memory ingest (q122) row for row") {
    // the serving twin reads every store-side artifact (store + n_tok,
    // sigs, cells, holdout codes + Bloom) back from parquet; the
    // round-trip must be invisible — same manifest as the q122 path
    // that derives everything transiently
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir, "documents.parquet").exists)
    val deltaPred = pmod(col("doc_id"), lit(7L)) === 0L
    def key(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // the chain labels its jobs per stage but must hand the caller's
    // own description back (persistedIngest runs the eager stages)
    val sc = spark.sparkContext
    sc.setJobDescription("caller-desc")
    val persisted = try {
      val p = key(Curation.persistedIngest(spark, dir))
      assert(sc.getLocalProperty("spark.job.description") === "caller-desc",
        "persistedIngest leaked a stage label")
      p
    } finally sc.setJobDescription(null)
    val inMemory = key(Curation.incrementalIngest(spark,
      graft.Tables.documents(spark, dir),
      graft.Tables.embeddings(spark, dir), deltaPred))
    assert(persisted.nonEmpty, "fixture delta must accept at least one doc")
    assert(persisted === inMemory,
      "parquet artifact round-trip changed the ingest result")
    // over-cap tier: a corpus-proportional delta must take the
    // unhinted shuffle-join shapes with distributed drop lists over the
    // SAME prepared artifacts — force it on this tiny delta and pin
    // identical rows
    val overCap = withConf(spark)(Curation.DropListCapKey -> 0L)(
      key(Curation.persistedIngest(spark, dir)))
    assert(overCap === inMemory,
      "the over-cap tier over prepared artifacts diverged")
  }

  test("a NULL doc_id is rejected at entry, with the same accepted set on every tier; the caller's job description survives") {
    import spark.implicits._
    // the local literal-filter tier (default cap) and the over-cap
    // anti-join tier (cap 0) must agree — a literal NOT isin drops a
    // NULL key where a left_anti keeps it, so the entry guard rejects
    // the row before either form can see it
    val sIds = pickIds(4, id => bucketOf(id) < 80)
    val Seq(okA, okB) = pickIds(2, id => bucketOf(id) < 80, from = sIds.max + 1)
    def mk(rows: Seq[(Option[Long], String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val store = mk(sIds.zipWithIndex.map { case (id, i) =>
      (Some(id), text(s"s${('a' + i).toChar}")) })
    // the NULL-id doc twins okB's text, so every dedup stage has a
    // NULL-keyed row to drop or keep
    val delta = mk(Seq(Some(okA) -> text("oka"), Some(okB) -> text("okb"),
      None -> text("okb"), None -> text("nullonly")))
    val allIds = sIds ++ Seq(okA, okB)
    val emb = allIds.zipWithIndex.map { case (id, i) =>
      (id, (0 until 64).map(d => if (d == i % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 4, iters = 1, roundTo = 4)
    // the chain labels its jobs per stage but must hand the caller's
    // own job description back
    val sc = spark.sparkContext
    def accepted(): Seq[Any] = {
      sc.setJobDescription("caller-desc")
      try {
        val ids = Curation.ingestDelta(spark, store, mk(Seq.empty), delta,
          emb, trained).select($"doc_id").collect().map(_.get(0)).toSeq
        assert(sc.getLocalProperty("spark.job.description") === "caller-desc",
          "ingestDelta leaked a stage label")
        ids.sortBy(_.toString)
      } finally sc.setJobDescription(null)
    }
    val local = accepted()
    val overCap = withConf(spark)(Curation.DropListCapKey -> 0L)(accepted())
    assert(local === Seq(okA, okB).sortBy(_.toString),
      s"NULL-id rows must be rejected, got $local")
    assert(overCap === local, "the two tiers disagree on a NULL doc_id")
  }

  test("a NULL doc_id never wins batch keep-min: its valid text twin survives curatedSurvivors") {
    import spark.implicits._
    // keep-min sorts nulls first, so a NULL-id twin admitted past stage
    // 2 would win stage 3 and the valid doc would be lost (the oracle
    // never sees the NULL row: its stage 3 joins USING (doc_id))
    val Seq(valid, other) = pickIds(2, id => bucketOf(id) < 80)
    val docs = Seq(Some(valid) -> text("twin"), None -> text("twin"),
        Some(other) -> text("other"))
      .map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val emb = Seq(valid, other).zipWithIndex.map { case (id, i) =>
      (id, (0 until 64).map(d => if (d == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1, roundTo = 4)
    val survivors = try Curation.curatedSurvivors(spark, Curation.clean(docs),
        emb, Some(() => trained)).select($"doc_id").as[Option[Long]]
        .collect().toSeq.sorted
      finally graft.ext.Dedup.clearSignatureCaches()
    assert(survivors === Seq(valid, other).sorted.map(Option(_)))
  }

  test("a near-dup component over the pair cap on the local tier still retires its docs before stage 5") {
    import spark.implicits._
    // four mutually near-dup delta docs give 6 within-delta pairs: at
    // a drop-list cap of 5 the delta (5 docs) rides the local tier while its
    // pair list is over the cap. `dup` is a non-root of that component
    // and `twin` shares its embedding only; once `dup` is dropped at
    // stage 4 it must not knock `twin` out at stage 5
    val sIds = pickIds(3, id => bucketOf(id) < 80)
    val Seq(root, dup, twin, dupB, dupC) =
      pickIds(5, id => bucketOf(id) < 80, from = sIds.max + 1)
    val base = text("nd")
    def mk(rows: Seq[(Long, String)]) = Curation.clean(
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text"))
    val store = mk(sIds.zipWithIndex.map { case (id, i) =>
      (id, text(s"s${('a' + i).toChar}")) })
    val delta = mk(Seq(root -> base, dup -> s"$base extraa",
      twin -> text("twin"), dupB -> s"$base extrab",
      dupC -> s"$base extraa extrab"))
    val allIds = sIds ++ Seq(root, dup, twin, dupB, dupC)
    def dim(id: Long): Int = allIds.indexOf(if (id == twin) dup else id)
    val emb = allIds.map { id =>
      (id, (0 until 64).map(d => if (d == dim(id)) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 4, iters = 1, roundTo = 4)
    def accepted(cap: Long): Seq[Long] =
      withConf(spark)(Curation.DropListCapKey -> cap)(
        Curation.ingestDelta(spark, store, mk(Seq.empty), delta, emb,
          trained).select($"doc_id").as[Long].collect().toSeq.sorted)
    val batch = try Curation.curatedSurvivors(spark, store.unionByName(delta),
        emb, Some(() => trained)).select($"doc_id").as[Long]
        .collect().toSeq.filterNot(sIds.contains).sorted
      finally graft.ext.Dedup.clearSignatureCaches()
    assert(batch === Seq(root, twin), "fixture: q117 keeps the root and the twin")
    assert(accepted(5L) === batch, "local tier with an over-cap pair list")
    assert(accepted(100000L) === batch, "default cap")
    assert(accepted(0L) === batch, "over-cap tier")
  }
}
