package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Curation
import graft.streaming.CurationStream

/** The streaming ingest ([[CurationStream]]) must be the q122 contract
  * run per micro-batch — batch-for-batch equal to sequential
  * [[Curation.ingestDelta]] calls — and exactly-once-EQUIVALENT across
  * a crash/replay window with NO sink-side transaction machinery: the
  * store append is the only durable write, and a replayed batch's docs
  * are already in the store, so stage-3 dedup drops them all.
  */
class CurationStreamSpec extends AnyFunSuite {

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

  private def bucketOf(id: Long): Long =
    ((id % 1000000000L) * 2654435761L) % 100L
  private def pickIds(n: Int, pred: Long => Boolean,
      from: Long = 1L): Seq[Long] =
    Iterator.iterate(from)(_ + 1L).filter(pred).take(n).toSeq

  // digit-free 20-token texts (the IncrementalCurationSpec fixture
  // discipline: the clean stage rewrites digits)
  private def text(tag: String): String = {
    val u = ('a' to 'l').map(ch => s"${tag}q$ch")
    val stops = Seq("the", "and", "of", "to", "a", "in", "is", "for")
    val inter = u.take(8).zip(stops).flatMap { case (w, st) => Seq(w, st) }
    (inter ++ u.drop(8)).mkString(" ")
  }

  private def stopAndWait(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.stop(); q.awaitTermination()
  }

  // every data file under the store, recursively: path -> (len, mtime)
  private def fileState(storeDir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) Seq(f)
      else Seq.empty
    walk(new java.io.File(storeDir))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  test("streamed batches equal sequential ingestDelta rounds; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val storeIds = pickIds(12, id => id % 7 != 0 && bucketOf(id) < 80)
    val teId = pickIds(1, id => id % 7 != 0 && bucketOf(id) >= 80).head
    val b1Ids = pickIds(3, id => id % 7 == 0 && bucketOf(id) < 80)
    val b2Ids = pickIds(3,
      id => id % 7 == 0 && bucketOf(id) < 80, from = b1Ids.max + 1)
    val Seq(f1, dupS, p1) = b1Ids
    val Seq(g1, dupOfF1, g2) = b2Ids
    def stag(i: Int): String = s"s${('a' + i).toChar}"
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val curated = mk(storeIds.zipWithIndex.map { case (id, i) =>
      (id, text(stag(i))) })
    val holdout = mk(Seq(teId -> text("holdout")))
    val batch1 = Seq((f1, "en", "web", 1L, text("fone")),
      (dupS, "en", "web", 1L, text(stag(0))),
      (p1, "en", "web", 1L, text("pone")))
    val batch2 = Seq((g1, "en", "web", 1L, text("gone")),
      (dupOfF1, "en", "web", 1L, text("fone")),
      (g2, "en", "web", 1L, text("gtwo")))

    val allIds = storeIds ++ Seq(teId) ++ b1Ids ++ b2Ids
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      (id, (0 until 64).map(d => if (d == dims(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)

    def run(forceReplay: Boolean): (Set[Seq[Any]], Long) = {
      val storeDir = Files.createTempDirectory("cur_store").toString
      val ckpt = Files.createTempDirectory("cur_ckpt").toString
      CurationStream.initStore(curated, storeDir)
      val in = MemoryStream[(Long, String, String, Long, String)]
      def start() = CurationStream.ingestStream(
        in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
        emb, trained, holdout, storeDir, ckpt)
      val q1 = start()
      in.addData(batch1: _*)
      q1.processAllAvailable()
      stopAndWait(q1)
      if (forceReplay) {
        // crash window: the store append committed but the query died
        // before recording the commit — the restart re-runs batch 0
        // against a store that already holds its accepted docs
        assert(Files.deleteIfExists(Paths.get(ckpt, "commits", "0")))
        Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
      }
      in.addData(batch2: _*)
      val q2 = start()
      q2.processAllAvailable()
      stopAndWait(q2)
      val store = CurationStream.readStore(spark, storeDir)
      val view = CurationStream.manifestView(store)
        .collect().map(_.toSeq).toSet
      (view, store.count())
    }

    // sequential batch-API control: same deltas through ingestDelta
    val r1 = Curation.ingestDelta(spark, curated, holdout,
      mk(batch1.map(t => (t._1, t._5))), emb, trained)
    val acc1 = r1.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(acc1 === Set(f1, p1))
    val store2 = curated.unionByName(
      mk(batch1.map(t => (t._1, t._5))).filter($"doc_id".isin(acc1.toSeq: _*)))
    val r2 = Curation.ingestDelta(spark, store2, holdout,
      mk(batch2.map(t => (t._1, t._5))), emb, trained)
    val acc2 = r2.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(acc2 === Set(g1, g2))
    // expected view = batch-API manifests + the batch id column; the
    // seed corpus contributes its own block as batch −1
    val expectedDelta =
      r1.withColumn("ingest_batch", lit(0L)).collect().map(_.toSeq).toSet ++
        r2.withColumn("ingest_batch", lit(1L)).collect().map(_.toSeq).toSet

    val (cleanView, cleanCount) = run(forceReplay = false)
    assert(cleanView.filter(_.last != -1L) === expectedDelta,
      "streamed manifest view must equal the sequential batch manifests")
    assert(cleanCount === storeIds.size + acc1.size + acc2.size)

    val (replayView, replayCount) = run(forceReplay = true)
    assert(replayView === cleanView,
      "a replayed batch must change nothing (dedup IS the idempotence)")
    assert(replayCount === cleanCount,
      "a replayed batch must not re-append its docs")
  }

  test("one query instance: cross-batch dedup rides the in-memory side increment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the round-13 stream derives its store-side tables ONCE and
    // appends to them in memory between rebuilds — a doc accepted in
    // batch N must protect against batch N+1's duplicates WITHOUT a
    // restart (the restart path re-reads the store and is covered by
    // the replay test; this pins the increment path: ids, texts, cells)
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val sIds = pickIds(4, id => bucketOf(id) < 80)
    val dIds = pickIds(5, id => bucketOf(id) < 80, from = sIds.max + 1)
    val Seq(a, b, c, d, f) = dIds
    val curated = mk(sIds.zipWithIndex.map { case (id, i) =>
      (id, text(s"s${('a' + i).toChar}")) })
    val allIds = sIds ++ dIds
    // one-hot embeddings on distinct dims — EXCEPT c, which clones a's
    // vector so the semantic stage must drop it via the cells increment
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      val dim = if (id == c) dims(a) % 64 else dims(id) % 64
      (id, (0 until 64).map(x => if (x == dim) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)
    val holdout = mk(Seq.empty)
    val storeDir = Files.createTempDirectory("cur_incr_side").toString
    val ckpt = Files.createTempDirectory("cur_incr_side_ckpt").toString
    CurationStream.initStore(curated, storeDir)
    val in = MemoryStream[(Long, String, String, Long, String)]
    val q = CurationStream.ingestStream(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
      emb, trained, holdout, storeDir, ckpt)
    try {
      def push(rows: Seq[(Long, String)]): Unit = {
        in.addData(rows.map { case (id, t) =>
          (id, "en", "web", t.length.toLong, t) }: _*)
        q.processAllAvailable()
      }
      push(Seq(a -> text("aone")))                      // accepted
      push(Seq(b -> text("aone"),                       // exact dup of a (texts)
        c -> text("cone"),                              // semantic dup of a (cells)
        d -> text("done")))                             // accepted
      push(Seq(a -> text("eone"),                       // reuses a's id (ids)
        f -> text("fone")))                             // accepted
      val accepted = CurationStream.readStore(spark, storeDir)
        .filter($"ingest_batch" >= 0L)
        .select($"doc_id", $"ingest_batch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(accepted === Set((a, 0L), (d, 1L), (f, 2L)),
        "cross-batch dups must drop against the in-memory increment, " +
          s"got $accepted")
    } finally stopAndWait(q)
  }

  test("stage leaves are released: persistent RDDs grow by at most the window leaf per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // each batch: one fresh doc (accepted — its rows leaf joins the
    // in-memory window) and one semantic twin of a store doc (dropped
    // vs the store, so the chain materializes a drop-stage leaf too).
    // The chain's stage leaves must be gone once the batch commits;
    // only the window leaf may stay, until the next side rebuild
    // releases the window (a rebuild falls inside the run).
    val nBatches = 12
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val sIds = pickIds(4, id => bucketOf(id) < 80)
    val dIds = pickIds(2 * nBatches, id => bucketOf(id) < 80,
      from = sIds.max + 1)
    val curated = mk(sIds.zipWithIndex.map { case (id, i) =>
      (id, text(s"s${('a' + i).toChar}")) })
    val twins = dIds.grouped(2).map(_(1)).toSet
    val allIds = sIds ++ dIds
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      val dim = if (twins(id)) dims(sIds.head) else dims(id)
      (id, (0 until 64).map(x => if (x == dim) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)
    val storeDir = Files.createTempDirectory("cur_leaves").toString
    val ckpt = Files.createTempDirectory("cur_leaves_ckpt").toString
    CurationStream.initStore(curated, storeDir)
    val in = MemoryStream[(Long, String, String, Long, String)]
    val q = CurationStream.ingestStream(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
      emb, trained, mk(Seq.empty), storeDir, ckpt)
    try {
      val persisted = dIds.grouped(2).zipWithIndex.map {
        case (Seq(fresh, twin), k) =>
          val tag = ('a' + k).toChar
          in.addData(Seq(fresh -> text(s"f$tag"), twin -> text(s"m$tag"))
            .map { case (id, t) => (id, "en", "web", t.length.toLong, t) }: _*)
          q.processAllAvailable()
          spark.sparkContext.getPersistentRDDs.size
      }.toVector
      val growth = persisted.sliding(2).map(w => w(1) - w(0)).toVector
      assert(growth.forall(_ <= 1),
        s"persistent RDDs after each batch: $persisted")
      val accepted = CurationStream.readStore(spark, storeDir)
        .filter($"ingest_batch" >= 0L).select($"doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(accepted === dIds.filterNot(twins).toSet)
    } finally stopAndWait(q)
  }

  test("over-cap drop lists: the anti-join fallback accepts exactly the literal-filter set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the in-memory-increment scenario re-run with DropListCap = 0, so
    // every NON-EMPTY drop list (the id-guard overlap at batch 2, the
    // semantic vs-store drop at batch 1) exceeds the cap and takes the
    // distributed anti-join fallback instead of a driver literal — the
    // accepted set must match the literal-filter run
    // (the sibling increment test) exactly
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val sIds = pickIds(4, id => bucketOf(id) < 80)
    val dIds = pickIds(5, id => bucketOf(id) < 80, from = sIds.max + 1)
    val Seq(a, b, c, d, f) = dIds
    val curated = mk(sIds.zipWithIndex.map { case (id, i) =>
      (id, text(s"s${('a' + i).toChar}")) })
    val allIds = sIds ++ dIds
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      val dim = if (id == c) dims(a) % 64 else dims(id) % 64
      (id, (0 until 64).map(x => if (x == dim) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)
    val storeDir = Files.createTempDirectory("cur_caplist").toString
    val ckpt = Files.createTempDirectory("cur_caplist_ckpt").toString
    CurationStream.initStore(curated, storeDir)
    val in = MemoryStream[(Long, String, String, Long, String)]
    Curation.DropListCap = 0L
    val q = CurationStream.ingestStream(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
      emb, trained, mk(Seq.empty), storeDir, ckpt)
    try {
      def push(rows: Seq[(Long, String)]): Unit = {
        in.addData(rows.map { case (id, t) =>
          (id, "en", "web", t.length.toLong, t) }: _*)
        q.processAllAvailable()
      }
      push(Seq(a -> text("aone")))
      push(Seq(b -> text("aone"), c -> text("cone"), d -> text("done")))
      push(Seq(a -> text("eone"), f -> text("fone")))
      val accepted = CurationStream.readStore(spark, storeDir)
        .filter($"ingest_batch" >= 0L)
        .select($"doc_id", $"ingest_batch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(accepted === Set((a, 0L), (d, 1L), (f, 2L)),
        "the anti-join fallback must accept exactly the literal set, " +
          s"got $accepted")
    } finally {
      Curation.DropListCap = 100000L
      stopAndWait(q)
    }
  }

  test("store lifecycle: compaction and redaction leave the manifest invariant") {
    import spark.implicits._
    val storeIds = pickIds(10, id => id % 7 != 0 && bucketOf(id) < 80)
    val teId = pickIds(1, id => id % 7 != 0 && bucketOf(id) >= 80).head
    val dIds = pickIds(3, id => id % 7 == 0 && bucketOf(id) < 80)
    val newId = pickIds(1,
      id => id % 7 == 0 && bucketOf(id) < 80, from = dIds.max + 1).head
    def stag(i: Int): String = s"s${('a' + i).toChar}"
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val curated = mk(storeIds.zipWithIndex.map { case (id, i) =>
      (id, text(stag(i))) })
    val holdout = mk(Seq(teId -> text("holdout")))
    val allIds = storeIds ++ Seq(teId) ++ dIds ++ Seq(newId)
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      (id, (0 until 64).map(d => if (d == dims(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)

    val storeDir = Files.createTempDirectory("cur_life").toString
    CurationStream.initStore(curated, storeDir)
    // three tiny appends (one per "micro-batch") to pile up files —
    // through the shared store writer, so they land in their
    // batch-bucket partitions like the stream's appends do
    dIds.zipWithIndex.foreach { case (id, i) =>
      val clB = mk(Seq(id -> text(s"d${('a' + i).toChar}")))
      val store = CurationStream.readStore(spark, storeDir)
      val manifest = Curation.ingestDelta(spark,
        store.drop("ingest_batch"), holdout, clB, emb, trained)
      CurationStream.appendStore(
        clB.join(manifest.select($"doc_id"), Seq("doc_id"))
          .select($"doc_id", $"lang", $"source", $"n_chars", $"text",
            coalesce(size(graft.ext.TextStats.tokens($"text")), lit(0))
              .cast("long").as("n_tok"),
            lit(i.toLong).as("ingest_batch")), storeDir)
    }
    def view() = CurationStream
      .manifestView(CurationStream.readStore(spark, storeDir))
      .collect().map(_.toSeq).toSet
    def dataFiles() = fileState(storeDir).size
    val before = view()
    assert(before.size === storeIds.size + dIds.size)
    // the seed (batch −1) and the appends (batches 0–2) land in
    // different bucket partitions — the untouched-partition pins below
    // need both to exist
    assert(CurationStream.liveBuckets(storeDir) === Seq(-1L, 0L))

    // compaction: fewer files, identical manifest, one file per bucket
    val filesBefore = dataFiles()
    CurationStream.compactStore(spark, storeDir, targetFiles = 1)
    assert(dataFiles() < filesBefore && dataFiles() <= 2,
      s"compaction must shrink $filesBefore files to <=1 per bucket")
    assert(view() === before, "compaction must not move a single offset")
    // O(touched): a second compaction finds every bucket at target and
    // must not rewrite a single byte
    val compacted = fileState(storeDir)
    CurationStream.compactStore(spark, storeDir, targetFiles = 1)
    assert(fileState(storeDir) === compacted,
      "an already-compact store must not be rewritten")

    // redaction: content gone, offsets frozen — and O(touched): the
    // victim lives in bucket 0, so bucket −1's files stay byte-identical
    val victim = dIds.head
    val initPartBefore = compacted.filter(_._1.contains("batch_bucket=-1"))
    CurationStream.redactStore(spark, storeDir, Seq(victim))
    assert(fileState(storeDir).filter(_._1.contains("batch_bucket=-1"))
      === initPartBefore,
      "redaction must not rewrite partitions without tombstoned ids")
    assert(fileState(storeDir).filter(_._1.contains("batch_bucket=0"))
      !== compacted.filter(_._1.contains("batch_bucket=0")),
      "the victim's partition must actually have been rewritten")
    assert(view() === before, "redaction must not move a single offset")
    val victimRow = CurationStream.readStore(spark, storeDir)
      .filter($"doc_id" === victim).collect().head
    assert(victimRow.isNullAt(victimRow.fieldIndex("text")))
    assert(victimRow.getLong(victimRow.fieldIndex("n_tok")) === 20L,
      "the frozen token count must survive redaction")

    // documented consequence: dedup protection left with the content —
    // re-submitting the redacted text is accepted as a new doc
    val resub = mk(Seq(newId -> text("da")))
    val accepted = Curation.ingestDelta(spark,
      CurationStream.readStore(spark, storeDir).drop("ingest_batch"),
      holdout, resub, emb, trained)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted === Set(newId),
      "post-redaction resubmission is NEW content by definition")
  }

  test("store evolution: 8 streamed batches under compaction every 3 and a mid-run redaction equal a plain leg and a replay of the survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the maintenance-heavy lifecycle, scaled down: compactions and a
    // redaction run between micro-batches of ONE live query, and the
    // durable state must still be exactly the deterministic function of
    // what was accepted — no offset drift, no attribution loss
    val nBatches = 8
    val redactAfter = 4
    val storeIds = pickIds(8, id => id % 7 != 0 && bucketOf(id) < 80)
    val teId = pickIds(1, id => id % 7 != 0 && bucketOf(id) >= 80).head
    val dIds = pickIds(3 * nBatches, id => id % 7 == 0 && bucketOf(id) < 80)
    def stag(i: Int): String = s"s${('a' + i).toChar}"
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val curated = mk(storeIds.zipWithIndex.map { case (id, i) =>
      (id, text(stag(i))) })
    val holdout = mk(Seq(teId -> text("holdout")))
    val allIds = storeIds ++ Seq(teId) ++ dIds
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      (id, (0 until 64).map(d => if (d == dims(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)
    // batch i: a fresh doc, an exact dup (of a seed doc on even
    // batches, of the previous batch's fresh doc on odd ones) and a
    // second fresh doc — except right after the redaction, where the
    // third doc resubmits the victim's text, which is new content once
    // the redaction took it
    val victim = dIds.head
    def tag(i: Int, t: Char): String = s"b${('a' + i).toChar}$t"
    val slices = (0 until nBatches).map { i =>
      val Seq(a, b, c) = dIds.slice(3 * i, 3 * i + 3)
      Seq(a -> text(tag(i, 'x')),
        b -> text(if (i % 2 == 0) stag(i) else tag(i - 1, 'x')),
        c -> text(if (i == redactAfter) tag(0, 'x') else tag(i, 'y')))
    }
    val expected = slices.flatMap(sl => Seq(sl(0)._1, sl(2)._1)).toSet

    def leg(compactEvery: Int): (Set[Seq[Any]], Set[(Long, Long)], Int) = {
      val storeDir = Files.createTempDirectory("cur_evolve").toString
      val ckpt = Files.createTempDirectory("cur_evolve_ckpt").toString
      CurationStream.initStore(curated, storeDir)
      val in = MemoryStream[(Long, String, String, Long, String)]
      val q = CurationStream.ingestStream(
        in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
        emb, trained, holdout, storeDir, ckpt)
      var shrinks = 0
      try {
        slices.zipWithIndex.foreach { case (rows, i) =>
          in.addData(rows.map { case (id, t) =>
            (id, "en", "web", t.length.toLong, t) }: _*)
          q.processAllAvailable()
          if (compactEvery > 0 && (i + 1) % compactEvery == 0) {
            val before = fileState(storeDir).size
            CurationStream.compactStore(spark, storeDir, targetFiles = 1)
            if (fileState(storeDir).size < before) shrinks += 1
          }
          if (i + 1 == redactAfter)
            CurationStream.redactStore(spark, storeDir, Seq(victim))
        }
      } finally stopAndWait(q)
      val store = CurationStream.readStore(spark, storeDir)
      assert(store.filter($"doc_id" === victim && $"text".isNull).count() === 1L,
        "the victim's content must stay redacted")
      val accepted = store.filter($"ingest_batch" >= 0L)
        .select($"doc_id", $"ingest_batch").as[(Long, Long)].collect().toSet
      (CurationStream.manifestView(store).collect().map(_.toSeq).toSet,
        accepted, shrinks)
    }

    val (maintained, accepted, shrinks) = leg(compactEvery = 3)
    assert(shrinks === 2, "both compactions must rewrite the hot bucket")
    assert(accepted.map(_._1) === expected,
      "exact dups drop; the victim's resubmitted text is accepted")
    val (plain, plainAccepted, _) = leg(compactEvery = 0)
    assert(plainAccepted === accepted)
    assert(maintained === plain,
      "compaction must not move a single offset across the run")

    // from-scratch replay: the seed plus exactly the accepted rows,
    // appended with their original batch ids into a fresh store (the
    // view never reads text, so the unredacted replay must match)
    val replayDir = Files.createTempDirectory("cur_evolve_replay").toString
    CurationStream.initStore(curated, replayDir)
    slices.zipWithIndex.foreach { case (rows, i) =>
      val kept = rows.filter(r => accepted((r._1, i.toLong)))
      if (kept.nonEmpty)
        CurationStream.appendStore(Curation.clean(mk(kept))
          .select($"doc_id", $"lang", $"source", $"n_chars", $"text",
            coalesce(size(graft.ext.TextStats.tokens($"text")), lit(0))
              .cast("long").as("n_tok"), lit(i.toLong).as("ingest_batch")),
          replayDir)
    }
    assert(CurationStream.manifestView(
      CurationStream.readStore(spark, replayDir))
      .collect().map(_.toSeq).toSet === maintained,
      "the evolved store's manifest must equal a replay of its survivors")
  }

  test("mass redaction over the literal limit rewrites only the victims' bucket, under and over the collect cap") {
    import spark.implicits._
    // 20,000 tombstones (twice DropSet's 10,000-literal limit), all in
    // bucket 0 (ingest_batch 0..15 <=> id % 64 < 16) of a sealed
    // 4-bucket store: the default cap prunes discovery by the sidecars,
    // cap 0 full-scans; both must null exactly the victims and leave
    // buckets 1-3 byte-identical (O(touched))
    val nIds = 20000L
    for (cap <- Seq(CurationStream.RedactCollectCap, 0L)) {
      val storeDir = Files.createTempDirectory("cur_redact_mass").toString
      CurationStream.appendStore(spark.range(96000L).select(
        $"id".as("doc_id"), lit("en").as("lang"), lit("web").as("source"),
        lit(16L).as("n_chars"),
        concat(lit("body "), ($"id" % 13L).cast("string")).as("text"),
        lit(4L).as("n_tok"), pmod($"id", lit(64L)).as("ingest_batch")),
        storeDir, mode = "overwrite")
      CurationStream.compactStore(spark, storeDir)
      assert(CurationStream.liveBuckets(storeDir) === Seq(0L, 1L, 2L, 3L))
      def inBucket0(state: Map[String, (Long, Long)]) =
        state.filter(_._1.contains("batch_bucket=0/"))
      val before = fileState(storeDir)
      val tomb = spark.range(nIds)
        .select(expr("(id DIV 16) * 64 + id % 16").as("doc_id"))
      val prevCap = CurationStream.RedactCollectCap
      CurationStream.RedactCollectCap = cap
      try CurationStream.redactStore(spark, storeDir, tomb)
      finally CurationStream.RedactCollectCap = prevCap
      val after = fileState(storeDir)
      assert(CurationStream.readStore(spark, storeDir)
        .filter($"text".isNull).count() === nIds, s"cap $cap")
      assert(after -- inBucket0(after).keys ===
        before -- inBucket0(before).keys,
        s"cap $cap: buckets 1-3 must keep every file's (path, length, mtime)")
      assert(inBucket0(after) !== inBucket0(before),
        s"cap $cap: the victims' bucket must have been rewritten")
    }
  }

  test("an interrupted maintenance swap rolls forward on recovery") {
    import spark.implicits._
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val curated = mk((1L to 6L).map(id => id -> text(s"r${('a' + id.toInt).toChar}")))
    val storeDir = Files.createTempDirectory("cur_recover").toString
    CurationStream.initStore(curated, storeDir)
    def view() = CurationStream
      .manifestView(CurationStream.readStore(spark, storeDir))
      .collect().map(_.toSeq).toSet
    val before = view()
    val root = new java.io.File(storeDir)
    val liveDir = new java.io.File(root, "batch_bucket=-1")
    def liveFiles() = liveDir.listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

    // CRASH STATE S0: staging fully written + marker committed, live
    // untouched (the process died between the marker write and the
    // first rename). recoverStore must roll FORWARD to the staged copy.
    val staging = new java.io.File(root, "_staging/batch_bucket=-1")
    spark.read.schema(CurationStream.StoreSchema)
      .parquet(liveDir.toString).repartition(1)
      .write.mode("overwrite").parquet(staging.toString)
    Files.write(Paths.get(storeDir, "_swap_-1"), "-1".getBytes)
    CurationStream.recoverStore(storeDir)
    // recovery is file-level; this session listed the store already
    spark.catalog.refreshByPath(storeDir)
    assert(view() === before, "roll-forward must preserve the manifest")
    assert(liveFiles() === 1, "the staged (compacted) copy must be live")
    assert(!staging.exists && !new java.io.File(root, "_swap_-1").exists &&
      !new java.io.File(root, "_trash/batch_bucket=-1").exists)

    // CRASH STATE S1: live already moved to trash, staging present (the
    // process died between the two renames — the one window in which no
    // live partition exists; the data is intact in staging AND trash).
    spark.read.schema(CurationStream.StoreSchema)
      .parquet(liveDir.toString).repartition(1)
      .write.mode("overwrite").parquet(staging.toString)
    Files.write(Paths.get(storeDir, "_swap_-1"), "-1".getBytes)
    val trash = new java.io.File(root, "_trash/batch_bucket=-1")
    trash.getParentFile.mkdirs()
    Files.move(liveDir.toPath, trash.toPath)
    CurationStream.recoverStore(storeDir)
    spark.catalog.refreshByPath(storeDir)
    assert(view() === before, "S1 roll-forward must preserve the manifest")
    assert(!staging.exists && !trash.exists)

    // a marker-less staging leftover (crash BEFORE the commit point) is
    // garbage and must be discarded, the live partition untouched
    spark.read.schema(CurationStream.StoreSchema)
      .parquet(liveDir.toString).limit(1)
      .write.mode("overwrite").parquet(staging.toString)
    CurationStream.recoverStore(storeDir)
    spark.catalog.refreshByPath(storeDir)
    assert(!new java.io.File(root, "_staging").exists)
    assert(view() === before)
  }

  test("tombstone-TABLE redaction: join predicate, duplicate-proof, count-preserving") {
    import spark.implicits._
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val ids = (1L to 40L)
    val storeDir = Files.createTempDirectory("cur_tomb").toString
    CurationStream.initStore(
      mk(ids.map(id => id -> text(s"t${('a' + (id % 26).toInt).toChar}$id")
        .replaceAll("[0-9]", "x"))), storeDir)
    def view() = CurationStream
      .manifestView(CurationStream.readStore(spark, storeDir))
      .collect().map(_.toSeq).toSet
    val before = view()
    val victims = Set(3L, 17L, 29L)
    // the compliance feed is a TABLE, deliberately duplicate-laden —
    // the distinct() inside redactStore must keep row counts exact
    val tomb = (victims.toSeq ++ victims.toSeq).toDF("doc_id")
    CurationStream.redactStore(spark, storeDir, tomb)
    val after = CurationStream.readStore(spark, storeDir).collect()
    assert(after.length === ids.size,
      "a duplicate-laden tombstone table must not fan out store rows")
    after.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      if (victims(id)) {
        assert(r.isNullAt(r.fieldIndex("text")), s"doc $id not redacted")
        assert(r.isNullAt(r.fieldIndex("n_chars")))
      } else assert(!r.isNullAt(r.fieldIndex("text")),
        s"non-victim $id must keep its content")
    }
    assert(view() === before,
      "table-form redaction must not move a single offset")
  }

  test("maintenance on a legacy FLAT store fails explicitly, never NPEs") {
    import spark.implicits._
    val flatDir = Files.createTempDirectory("cur_flat").toString
    // a pre-bucketing store: parquet files at the root, no partitions
    Seq((1L, "en", "web", 3L, "abc", 1L, 0L))
      .toDF("doc_id", "lang", "source", "n_chars", "text", "n_tok",
        "ingest_batch")
      .write.mode("overwrite").parquet(flatDir)
    val eRedact = intercept[IllegalStateException] {
      CurationStream.redactStore(spark, flatDir, Seq(1L))
    }
    assert(eRedact.getMessage.contains("legacy flat store layout"))
    val eCompact = intercept[IllegalStateException] {
      CurationStream.compactStore(spark, flatDir)
    }
    assert(eCompact.getMessage.contains("legacy flat store layout"))
  }

  test("ingestStream heals an interrupted maintenance swap at start") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val storeDir = Files.createTempDirectory("cur_heal").toString
    CurationStream.initStore(
      mk((1L to 5L).map(id => id -> text(s"h${('a' + id.toInt).toChar}"))),
      storeDir)
    def view() = CurationStream
      .manifestView(CurationStream.readStore(spark, storeDir))
      .collect().map(_.toSeq).toSet
    val before = view()
    // manufacture crash state S1: live partition moved to trash,
    // complete staging copy + commit marker present — the one window
    // where NO live partition exists. A restart that reads the store
    // without recovery would silently ingest against an empty corpus.
    val root = new java.io.File(storeDir)
    val live = new java.io.File(root, "batch_bucket=-1")
    val staging = new java.io.File(root, "_staging/batch_bucket=-1")
    spark.read.schema(CurationStream.StoreSchema).parquet(live.toString)
      .repartition(1).write.mode("overwrite").parquet(staging.toString)
    Files.write(Paths.get(storeDir, "_swap_-1"), "-1".getBytes)
    val trash = new java.io.File(root, "_trash/batch_bucket=-1")
    trash.getParentFile.mkdirs()
    Files.move(live.toPath, trash.toPath)

    // starting the stream must roll the swap FORWARD before the first
    // batch can read the store
    val emb = (1L to 5L).map(id =>
      (id, (0 until 64).map(d => if (d == id % 64) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 4, iters = 1, roundTo = 4)
    val in = MemoryStream[(Long, String, String, Long, String)]
    val q = CurationStream.ingestStream(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
      emb, trained, mk(Seq.empty), storeDir,
      Files.createTempDirectory("cur_heal_ckpt").toString)
    try {
      spark.catalog.refreshByPath(storeDir)
      assert(!new java.io.File(root, "_swap_-1").exists &&
        !staging.exists && !trash.exists,
        "stream start must run crash recovery")
      assert(view() === before,
        "the healed store must carry the full pre-crash manifest")
    } finally stopAndWait(q)
  }

  test("single-writer lease: a second stream fails loud; foreign leases block; stale leases reclaim") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val storeDir = Files.createTempDirectory("cur_lease").toString
    CurationStream.initStore(
      mk(Seq(1L -> text("la"), 2L -> text("lb"))), storeDir)
    val emb = (1L to 2L).map(id =>
      (id, (0 until 64).map(d => if (d == id % 64) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1, roundTo = 4)
    def start() = {
      val in = MemoryStream[(Long, String, String, Long, String)]
      CurationStream.ingestStream(
        in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
        emb, trained, mk(Seq.empty), storeDir,
        Files.createTempDirectory("cur_lease_ckpt").toString)
    }
    val q = start()
    try {
      // a second stream on the SAME store directory must fail loud
      val e = intercept[IllegalStateException](start())
      assert(e.getMessage.contains("ingest stream") ||
        e.getMessage.contains("leased"),
        s"second writer must name the conflict, got: ${e.getMessage}")
      // maintenance from a FOREIGN process under a live stream: refuse.
      // Simulated by rewriting the lease with a foreign token (the
      // file is the cross-process signal; same-JVM maintenance is the
      // supported between-batches pattern and stays allowed)
      val lease = new Path(Dfs.qualified(storeDir), "_lease")
      val own = Dfs.readString(lease)
      Dfs.writeStringAtomic(lease, "12345@elsewhere:99")
      val m = intercept[IllegalStateException](
        CurationStream.compactStore(spark, storeDir))
      assert(m.getMessage.contains("another process"))
      // and a foreign fresh lease also blocks a new stream
      val s2 = intercept[IllegalStateException] {
        CurationStream.releaseLease(storeDir) // clear in-JVM registry…
        Dfs.writeStringAtomic(lease, "12345@elsewhere:99") // …foreign file stays
        start()
      }
      assert(s2.getMessage.contains("leased by another writer"))
      // stale foreign lease (crashed owner): reclaimable
      val prevStale = CurationStream.LeaseStaleMs
      CurationStream.LeaseStaleMs = 0L
      try {
        val q3 = start()
        stopAndWait(q3)
      } finally CurationStream.LeaseStaleMs = prevStale
      Dfs.writeStringAtomic(lease, own) // restore for clean stop
    } finally {
      if (q.isActive) stopAndWait(q)
      CurationStream.releaseLease(storeDir)
    }
  }

  test("cross-process maintenance forces the stream's side rebuild via the version marker file") {
    import org.apache.hadoop.fs.Path
    // the version is a FILE in the store directory, not a per-JVM map:
    // a maintenance op in another process bumps it there, and the
    // ingesting stream's ensureFresh sees the bump on its next batch
    val storeDir = Files.createTempDirectory("cur_ver").toString
    CurationStream.recoverStore(storeDir) // mkdir-equivalent no-op
    val v0 = CurationStream.storeVersion(storeDir)
    // simulate the foreign process: write the marker directly
    Dfs.writeStringAtomic(new Path(Dfs.qualified(storeDir), "_version"),
      (v0 + 7L).toString)
    assert(CurationStream.storeVersion(storeDir) === v0 + 7L,
      "storeVersion must read the on-disk marker, not a JVM-local map")
  }

  test("sidecar discovery: pruned when sealed, scan-fallback when missing or over-cap, always exact") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val storeDir = Files.createTempDirectory("cur_sidecar").toString
    val rows = spark.range(800L).select($"id".as("doc_id"),
      lit("en").as("lang"), lit("web").as("source"), lit(16L).as("n_chars"),
      concat(lit("body "), ($"id" % 13L).cast("string")).as("text"),
      lit(4L).as("n_tok"), pmod($"id", lit(64L)).as("ingest_batch"))
    CurationStream.appendStore(rows, storeDir, mode = "overwrite")
    // seal: first maintenance pass builds all four buckets' sidecars
    CurationStream.compactStore(spark, storeDir)
    val buckets = CurationStream.liveBuckets(storeDir)
    assert(buckets.size === 4)
    assert(buckets.forall(b =>
      CurationStream.readIdStats(storeDir, b).isDefined),
      "compaction must leave every bucket with a sidecar")
    // bucket-0 victims only (ingest_batch 0..15 <=> id % 64 < 16)
    val tomb = spark.range(800L).filter($"id" % 64L < 16L)
      .select($"id".as("doc_id")).limit(50)
    val expected = tomb.count()
    CurationStream.redactStore(spark, storeDir, tomb)
    assert(CurationStream.readStore(spark, storeDir)
      .filter($"text".isNull).count() === expected)
    // the rewritten bucket's sidecar was rebuilt; untouched ones kept
    assert(buckets.forall(b =>
      CurationStream.readIdStats(storeDir, b).isDefined))

    // missing-sidecar fallback: delete one untouched bucket's sidecar
    // by hand — discovery must SCAN it (correctness unchanged) even
    // though its ids can no longer be pruned driver-side
    Dfs.delete(new Path(Dfs.qualified(storeDir), "_idstats/_bucket_1"),
      recursive = false)
    val tomb2 = spark.range(800L).filter($"id" % 64L >= 16L &&
      $"id" % 64L < 32L).select($"id".as("doc_id")).limit(20)
    val expected2 = expected + tomb2.count()
    CurationStream.redactStore(spark, storeDir, tomb2)
    assert(CurationStream.readStore(spark, storeDir)
      .filter($"text".isNull).count() === expected2,
      "a missing sidecar must fall back to scanning that bucket")

    // over-cap fallback: force the collect cap to zero WITH sidecars
    // present — the fetch's over-cap verdict itself must come back,
    // take the full-scan path, and stay exact
    val tomb3 = spark.range(800L).filter($"id" % 64L >= 32L &&
      $"id" % 64L < 48L).select($"id".as("doc_id")).limit(10)
    val expected3 = expected2 + tomb3.count()
    val prevCap = CurationStream.RedactCollectCap
    CurationStream.RedactCollectCap = 0L
    try CurationStream.redactStore(spark, storeDir, tomb3)
    finally CurationStream.RedactCollectCap = prevCap
    assert(CurationStream.readStore(spark, storeDir)
      .filter($"text".isNull).count() === expected3,
      "an over-cap tombstone batch must full-scan exactly")

    // sidecar-LESS full scan: every sidecar deleted => stats all empty
    // => full scan, still exact
    buckets.foreach(b => Dfs.delete(
      new Path(Dfs.qualified(storeDir), s"_idstats/_bucket_$b"),
      recursive = false))
    val tomb4 = spark.range(800L).filter($"id" % 64L >= 48L)
      .select($"id".as("doc_id")).limit(10)
    val expected4 = expected3 + tomb4.count()
    CurationStream.redactStore(spark, storeDir, tomb4)
    assert(CurationStream.readStore(spark, storeDir)
      .filter($"text".isNull).count() === expected4,
      "a sidecar-less store must full-scan exactly")
  }

  test("maintenance HOLDS the lease: a foreign acquirer mid-maintenance is refused; idle-store maintenance releases after") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val storeDir = Files.createTempDirectory("cur_mlease").toString
    CurationStream.initStore(
      mk(Seq(1L -> text("ma"), 2L -> text("mb"))), storeDir)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    @volatile var leaseHeld = false
    @volatile var foreignDenied: Option[Throwable] = None
    CurationStream.maintenancePauseHook = { dir =>
      leaseHeld = Dfs.isFile(lease)
      // a writer in "another process" (foreign token on its own
      // thread) starting mid-maintenance — the exact interleaving that
      // used to race recoverStore against the in-flight swap
      val t = new Thread(() => {
        CurationStream.tokenOverride.set("9999@elsewhere:1")
        try { CurationStream.acquireLease(dir); foreignDenied = None }
        catch { case e: Throwable => foreignDenied = Some(e) }
        finally CurationStream.tokenOverride.remove()
      })
      t.start(); t.join()
    }
    try CurationStream.compactStore(spark, storeDir, targetFiles = 1)
    finally CurationStream.maintenancePauseHook = _ => ()
    assert(leaseHeld, "maintenance must hold the lease while it runs")
    assert(foreignDenied.exists(
      _.getMessage.contains("leased by another writer")),
      s"a foreign acquirer mid-maintenance must fail loud, got $foreignDenied")
    assert(!Dfs.isFile(lease),
      "idle-store maintenance must release the lease on completion")
    // and redactStore holds it the same way
    leaseHeld = false
    CurationStream.maintenancePauseHook = { _ =>
      leaseHeld = Dfs.isFile(lease)
    }
    try CurationStream.redactStore(spark, storeDir, Seq(1L))
    finally CurationStream.maintenancePauseHook = _ => ()
    assert(leaseHeld && !Dfs.isFile(lease))
  }

  test("a stream cannot start mid-maintenance in the same JVM; maintenance-acquired leases never vanish from under it") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val storeDir = Files.createTempDirectory("cur_midmaint").toString
    CurationStream.initStore(
      mk(Seq(1L -> text("na"), 2L -> text("nb"))), storeDir)
    val emb = (1L to 2L).map(id =>
      (id, (0 until 64).map(d => if (d == id % 64) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1, roundTo = 4)
    // the same-JVM interleaving the lease file is blind to (shared
    // token): a stream starting WHILE compactStore runs must be
    // refused by the in-process maintenance registry
    @volatile var streamDenied: Option[Throwable] = None
    CurationStream.maintenancePauseHook = { _ =>
      try {
        val in = MemoryStream[(Long, String, String, Long, String)]
        CurationStream.ingestStream(
          in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
          emb, trained, mk(Seq.empty), storeDir,
          Files.createTempDirectory("cur_midmaint_ckpt").toString)
        streamDenied = None
      } catch { case e: Throwable => streamDenied = Some(e) }
    }
    try CurationStream.compactStore(spark, storeDir, targetFiles = 1)
    finally CurationStream.maintenancePauseHook = _ => ()
    assert(streamDenied.exists(
      _.getMessage.contains("maintenance op in flight")),
      s"a mid-maintenance stream start must be refused, got $streamDenied")
    assert(!Dfs.isFile(new Path(Dfs.qualified(storeDir), "_lease")),
      "the maintenance op must still release its own lease cleanly")
  }

  test("stale-lease reclaim is single-winner: two racing claimants, exactly one proceeds") {
    import org.apache.hadoop.fs.Path
    val storeDir = Files.createTempDirectory("cur_reclaim").toString
    CurationStream.recoverStore(storeDir)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    (1 to 20).foreach { round =>
      Dfs.writeString(lease, s"dead-owner:$round")
      // age the heartbeat well past the stale window
      assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val losses = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = (1 to 2).map { i =>
        new Thread(() => {
          CurationStream.tokenOverride.set(s"claimant-$i@proc:$round")
          try {
            barrier.await()
            CurationStream.acquireLease(storeDir)
            wins.incrementAndGet()
          } catch {
            case _: IllegalStateException => losses.incrementAndGet()
          } finally CurationStream.tokenOverride.remove()
          ()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get() === 1,
        s"round $round: exactly one claimant must win, got ${wins.get()}")
      assert(losses.get() === 1)
      Dfs.delete(lease, recursive = false)
    }
    // no reclaim debris left behind
    assert(!Dfs.list(Dfs.qualified(storeDir))
      .exists(_.getPath.getName.startsWith("_lease.stale")),
      "the winner must clean up the moved-aside stale lease")
  }

  test("a slow reclaimer never steals a faster claimant's fresh lease") {
    import org.apache.hadoop.fs.Path
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val storeDir = Files.createTempDirectory("cur_steal").toString
    CurationStream.recoverStore(storeDir)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    Dfs.writeString(lease, "dead-owner:1")
    assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
    // the slow claimant pauses BETWEEN its staleness decision and its
    // rename-aside; the fast claimant completes its WHOLE
    // reclaim+acquire cycle inside that window — the slow rename then
    // claims the fast claimant's FRESH lease, and the verify-after-
    // claim must hand it back instead of proceeding as a second writer
    val entered = new CountDownLatch(1)
    val fastDone = new CountDownLatch(1)
    @volatile var slowOutcome: Option[Throwable] = null
    CurationStream.reclaimPauseHook = _ =>
      if (CurationStream.tokenOverride.get == "slow@proc:1") {
        entered.countDown()
        assert(fastDone.await(30, TimeUnit.SECONDS)); ()
      }
    val slow = new Thread(() => {
      CurationStream.tokenOverride.set("slow@proc:1")
      try { CurationStream.acquireLease(storeDir); slowOutcome = None }
      catch { case e: Throwable => slowOutcome = Some(e) }
      finally CurationStream.tokenOverride.remove()
      ()
    })
    try {
      slow.start()
      assert(entered.await(30, TimeUnit.SECONDS), "slow claimant never paused")
      CurationStream.tokenOverride.set("fast@proc:1")
      try CurationStream.acquireLease(storeDir)
      finally CurationStream.tokenOverride.remove()
      assert(Dfs.readString(lease).linesIterator.next().trim
        === "fast@proc:1")
      fastDone.countDown()
      slow.join(30000)
      assert(!slow.isAlive, "slow claimant hung")
    } finally CurationStream.reclaimPauseHook = _ => ()
    assert(slowOutcome.exists(_.isInstanceOf[IllegalStateException]) &&
      slowOutcome.exists(_.getMessage.contains("leased by another writer")),
      s"the slow claimant must be denied by the fresh lease, got $slowOutcome")
    assert(Dfs.readString(lease).linesIterator.next().trim
      === "fast@proc:1",
      "the fast claimant's fresh lease must survive the slow reclaim intact")
    assert(!Dfs.list(Dfs.qualified(storeDir))
      .exists(f => f.getPath.getName.startsWith("_lease.stale") ||
        f.getPath.getName.startsWith("_lease.claim")),
      "no reclaim debris")
    Dfs.delete(lease, recursive = false)
  }

  test("a fenced-off writer fails its heartbeat; release never deletes the new owner's lease") {
    import org.apache.hadoop.fs.Path
    val storeDir = Files.createTempDirectory("cur_fence").toString
    CurationStream.recoverStore(storeDir)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    CurationStream.acquireLease(storeDir)
    CurationStream.heartbeatLease(storeDir) // own lease: refresh is fine
    // our stale lease was legitimately reclaimed elsewhere — the next
    // heartbeat must fail LOUD instead of letting us keep writing
    Dfs.writeStringAtomic(lease, "3333@elsewhere:1")
    val e = intercept[IllegalStateException](
      CurationStream.heartbeatLease(storeDir))
    assert(e.getMessage.contains("fenced"))
    // and our (hung writer's) eventual release must NOT delete the new
    // owner's lease — compare-and-delete
    CurationStream.releaseLease(storeDir)
    assert(Dfs.isFile(lease),
      "release must leave a foreign lease in place")
    assert(Dfs.readString(lease).trim === "3333@elsewhere:1")
    Dfs.delete(lease, recursive = false)
  }

  test("a symlinked spelling of the store cannot start a second in-process stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val real = Files.createTempDirectory("cur_symreal")
    val alias = Paths.get(real.getParent.toString,
      s"cur_symalias_${System.nanoTime()}")
    Files.createSymbolicLink(alias, real)
    CurationStream.initStore(
      mk(Seq(1L -> text("sa"), 2L -> text("sb"))), real.toString)
    val emb = (1L to 2L).map(id =>
      (id, (0 until 64).map(d => if (d == id % 64) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1, roundTo = 4)
    def start(dir: String) = {
      val in = MemoryStream[(Long, String, String, Long, String)]
      CurationStream.ingestStream(
        in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
        emb, trained, mk(Seq.empty), dir,
        Files.createTempDirectory("cur_sym_ckpt").toString)
    }
    val q = start(real.toString)
    try {
      // pre-round-15 this BYPASSED the guard: the alias keyed its own
      // activeStreams entry and the lease is re-entrant for this JVM
      val e = intercept[IllegalStateException](start(alias.toString))
      assert(e.getMessage.contains("ingest stream"),
        s"the aliased spelling must hit the in-process guard, got: $e")
    } finally stopAndWait(q)
  }

  test("append-time sidecars: hot buckets are covered before any maintenance pass") {
    import spark.implicits._
    val storeDir = Files.createTempDirectory("cur_hotstats").toString
    val seed = spark.range(100L).select($"id".as("doc_id"),
      lit("en").as("lang"), lit("web").as("source"), lit(9L).as("n_chars"),
      concat(lit("seed body "), ($"id" % 7L).cast("string")).as("text"))
    CurationStream.initStore(seed, storeDir)
    assert(CurationStream.readIdStats(storeDir, -1L).isDefined,
      "initStore must sidecar the seed bucket immediately")
    // per-batch appends the way the stream does them: single-bucket
    // hint + the batch's ids — the sidecar MERGES instead of
    // invalidating
    (0 until 4).foreach { batch =>
      val lo = 1000L + batch * 10L
      val ids = (lo until lo + 10L).toArray
      val rows = ids.toSeq.toDF("doc_id").select($"doc_id",
        lit("en").as("lang"), lit("web").as("source"),
        lit(9L).as("n_chars"), lit(s"hot body $batch").as("text"),
        lit(2L).as("n_tok"), lit(batch.toLong).as("ingest_batch"))
      CurationStream.appendStore(rows, storeDir,
        touchedBuckets =
          Some(Seq(batch.toLong / CurationStream.BatchesPerBucket)),
        newIds = Some(ids))
    }
    val st0 = CurationStream.readIdStats(storeDir, 0L)
      .getOrElse(fail("the hot bucket must be sidecar'd from its appends"))
    assert(st0.count === 40L && st0.min === 1000L && st0.max === 1039L)
    assert((1000L until 1040L).forall(st0.mightContain),
      "the merged Bloom must admit every appended id")
    // redaction on the NEVER-compacted store stays exact, victims in
    // both the seed bucket and the hot bucket
    CurationStream.redactStore(spark, storeDir, Seq(1005L, 42L))
    val redacted = CurationStream.readStore(spark, storeDir)
      .filter($"text".isNull).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(redacted === Set(1005L, 42L))
  }

  test("lease failover: a dead owner's store reclaims, heals, and continues to the uninterrupted result") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val sIds = pickIds(4, id => bucketOf(id) < 80)
    val dIds = pickIds(4, id => bucketOf(id) < 80, from = sIds.max + 1)
    val Seq(a, b, c, d) = dIds
    val curated = mk(sIds.zipWithIndex.map { case (id, i) =>
      (id, text(s"s${('a' + i).toChar}")) })
    val allIds = sIds ++ dIds
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      (id, (0 until 64).map(x => if (x == dims(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 16, iters = 1, roundTo = 4)
    // batch 2 carries a dup of batch 0's text: the post-failover stream
    // must drop it against the PRE-CRASH appends (the store is the
    // authority, not the dead JVM's in-memory side)
    val batches = Seq(
      Seq(a -> text("fa")), Seq(b -> text("fb")),
      Seq(c -> text("fa"), d -> text("fd")))

    def run(failover: Boolean): (Set[Seq[Any]], Set[(Long, Long)]) = {
      val storeDir = Files.createTempDirectory("cur_failover").toString
      val ckpt = Files.createTempDirectory("cur_failover_ckpt").toString
      CurationStream.initStore(curated, storeDir)
      val in = MemoryStream[(Long, String, String, Long, String)]
      def start() = CurationStream.ingestStream(
        in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
        emb, trained, mk(Seq.empty), storeDir, ckpt)
      var q = start()
      def push(rows: Seq[(Long, String)]): Unit = {
        in.addData(rows.map { case (id, t) =>
          (id, "en", "web", t.length.toLong, t) }: _*)
        q.processAllAvailable()
      }
      push(batches(0)); push(batches(1))
      if (failover) {
        // "kill -9": the owner dies mid-flight. The clean stop below
        // releases the lease, so re-manufacture the dead owner's
        // state: a stale FOREIGN lease plus an in-flight swap (S1 —
        // live moved to trash, staged copy + marker present)
        stopAndWait(q)
        val lease = new Path(Dfs.qualified(storeDir), "_lease")
        // the stopped query's TERMINATION LISTENER releases the lease
        // asynchronously (compare-and-delete on the event bus) — wait
        // it out before manufacturing the dead owner's state, or the
        // late delete lands mid-way through OUR create below (the
        // local scheme's create-then-chmod window; seen as a chmod
        // ExitCodeException in this spec)
        val waitUntil = System.currentTimeMillis + 10000
        while (Dfs.isFile(lease) && System.currentTimeMillis < waitUntil)
          Thread.sleep(20)
        assert(!Dfs.isFile(lease),
          "the stopped stream's listener never released the lease")
        Dfs.writeString(lease, "6666@deadhost:1")
        assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
        val root = new java.io.File(storeDir)
        val live = new java.io.File(root, "batch_bucket=-1")
        val staging = new java.io.File(root, "_staging/batch_bucket=-1")
        spark.read.schema(CurationStream.StoreSchema)
          .parquet(live.toString).repartition(1)
          .write.mode("overwrite").parquet(staging.toString)
        Files.write(Paths.get(storeDir, "_swap_-1"), "-1".getBytes)
        val trash = new java.io.File(root, "_trash/batch_bucket=-1")
        trash.getParentFile.mkdirs()
        Files.move(live.toPath, trash.toPath)
        // the successor process: reclaims the stale lease, heals the
        // journal, resumes the SAME checkpoint (batch ids continue)
        q = start()
        spark.catalog.refreshByPath(storeDir)
        assert(Dfs.readString(lease).trim !== "6666@deadhost:1",
          "the successor must have reclaimed the dead owner's lease")
        assert(!staging.exists && !trash.exists,
          "the successor must heal the dead owner's in-flight swap")
      }
      push(batches(2))
      stopAndWait(q)
      val store = CurationStream.readStore(spark, storeDir)
      val view = CurationStream.manifestView(store)
        .collect().map(_.toSeq).toSet
      val accepted = store.filter($"ingest_batch" >= 0L)
        .select($"doc_id", $"ingest_batch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (view, accepted)
    }

    val (cleanView, cleanAccepted) = run(failover = false)
    assert(cleanAccepted === Set((a, 0L), (b, 1L), (d, 2L)),
      s"control run accepted $cleanAccepted")
    val (failView, failAccepted) = run(failover = true)
    assert(failAccepted === cleanAccepted,
      "the failover run must accept exactly the uninterrupted set")
    assert(failView === cleanView,
      "the failover run's manifest must equal the uninterrupted run's")
  }

  test("the ingest boundary rejects a delta doc reusing a store doc_id") {
    import spark.implicits._
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    // store ids chosen in the train bucket so nothing else drops them
    val sIds = pickIds(4, id => bucketOf(id) < 80)
    val freshId = pickIds(1, id => bucketOf(id) < 80, from = sIds.max + 1).head
    val store = mk(sIds.zipWithIndex.map { case (id, i) =>
      (id, text(s"s${('a' + i).toChar}")) })
    val holdout = mk(Seq.empty)
    val allIds = sIds :+ freshId
    val emb = allIds.zipWithIndex.map { case (id, i) =>
      (id, (0 until 64).map(d => if (d == i % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 4, iters = 1, roundTo = 4)
    // the delta REUSES a store id under brand-new text, plus one honest doc
    val delta = mk(Seq(sIds.head -> text("im"), freshId -> text("ok")))
    val accepted = Curation.ingestDelta(spark, store, holdout,
      delta, emb, trained)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted === Set(freshId),
      "an id collision must be rejected at the ingest boundary — " +
        "duplicate doc_ids would fan out every manifest join")
  }

  private def withToken[T](token: String)(body: => T): T = {
    val t = new Thread(null, null: Runnable, "tok", 0) {
      @volatile var out: Either[Throwable, T] = null
      override def run(): Unit = {
        CurationStream.tokenOverride.set(token)
        try out = Right(body)
        catch { case e: Throwable => out = Left(e) }
        finally CurationStream.tokenOverride.remove()
      }
    }
    t.start(); t.join(60000)
    assert(!t.isAlive, s"impersonated-writer body hung (token $token)")
    t.out match { case Right(v) => v case Left(e) => throw e }
  }

  private def leaseTokenOf(lease: org.apache.hadoop.fs.Path): String =
    Dfs.readString(lease).linesIterator.next().trim
  private def leaseEpochOf(lease: org.apache.hadoop.fs.Path): Long =
    Dfs.readString(lease).split("\n")(1).trim.toLong

  test("arbitrated reclaim: the lease never vanishes, and a third acquirer hammering the window never wins while the owner lives") {
    import org.apache.hadoop.fs.Path
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val storeDir = Files.createTempDirectory("cur_arb").toString
    CurationStream.recoverStore(storeDir)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    // the rightful owner: a LIVE writer whose heartbeat is delayed (a
    // long GC pause) — its lease looks stale but the process breathes
    withToken("owner@proc:1")(CurationStream.acquireLease(storeDir))
    assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
    val inClaim = new CountDownLatch(1)
    val ownerBack = new CountDownLatch(1)
    CurationStream.claimPauseHook = _ => {
      inClaim.countDown()
      assert(ownerBack.await(30, TimeUnit.SECONDS)); ()
    }
    @volatile var claimantOutcome: Option[Throwable] = null
    val claimant = new Thread(() => {
      CurationStream.tokenOverride.set("claimant@proc:2")
      try { CurationStream.acquireLease(storeDir); claimantOutcome = None }
      catch { case e: Throwable => claimantOutcome = Some(e) }
      finally CurationStream.tokenOverride.remove()
      ()
    })
    try {
      claimant.start()
      assert(inClaim.await(30, TimeUnit.SECONDS), "claimant never paused")
      // the round-15 move-aside reclaim had NO lease file at exactly
      // this instant, and a third acquirer could win create-exclusive
      // in the gap; now the lease exists at every instant and the
      // claim gate turns the third acquirer away every single time
      var thirdWins = 0
      withToken("third@proc:3") {
        (1 to 50).foreach { _ =>
          assert(Dfs.isFile(lease),
            "the lease file must exist at EVERY instant of arbitration")
          try { CurationStream.acquireLease(storeDir); thirdWins += 1 }
          catch { case _: IllegalStateException => () }
        }
      }
      assert(thirdWins === 0,
        "a third acquirer must never win during arbitration")
      // the presumed-dead owner's delayed heartbeat lands INSIDE the
      // claimant's window: the verify-under-claim must back off
      // without ever having touched the lease file
      withToken("owner@proc:1")(CurationStream.heartbeatLease(storeDir))
      ownerBack.countDown()
      claimant.join(30000)
      assert(!claimant.isAlive, "claimant hung")
    } finally CurationStream.claimPauseHook = _ => ()
    assert(claimantOutcome.exists(e =>
      e.isInstanceOf[IllegalStateException] &&
        e.getMessage.contains("leased by another writer")),
      s"the claimant must be denied by the refreshed lease, got $claimantOutcome")
    assert(leaseTokenOf(lease) === "owner@proc:1",
      "the live owner must still hold its lease after the whole dance")
    assert(!Dfs.list(Dfs.qualified(storeDir))
      .exists(_.getPath.getName.startsWith("_lease.claim")),
      "no arbitration debris")
    Dfs.delete(lease, recursive = false)
  }

  test("generation fence: a superseded writer's in-flight append is rejected at the write, not at the next heartbeat") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val storeDir = Files.createTempDirectory("cur_wfence").toString
    val seed = spark.range(4L).select($"id".as("doc_id"),
      lit("en").as("lang"), lit("web").as("source"), lit(9L).as("n_chars"),
      concat(lit("seed body "), $"id".cast("string")).as("text"))
    CurationStream.initStore(seed, storeDir)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    CurationStream.acquireLease(storeDir) // this writer, epoch e1
    val myToken = leaseTokenOf(lease)
    val e1 = leaseEpochOf(lease)
    val rows = Seq((100L, "en", "web", 9L, "new body", 2L, 0L))
      .toDF("doc_id", "lang", "source", "n_chars", "text", "n_tok",
        "ingest_batch")
    CurationStream.appendStore(rows, storeDir) // own fresh lease: fine
    val n0 = CurationStream.readStore(spark, storeDir).count()
    // the writer stalls; its lease goes stale; another process
    // legitimately reclaims
    assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
    withToken("thief@proc:9")(CurationStream.acquireLease(storeDir))
    assert(leaseTokenOf(lease) === "thief@proc:9")
    assert(leaseEpochOf(lease) === e1 + 1L, "a reclaim must bump the epoch")
    // the stalled writer wakes up mid-batch: the append itself rejects
    val ex = intercept[IllegalStateException](
      CurationStream.appendStore(rows.withColumn("doc_id", lit(101L)),
        storeDir))
    assert(ex.getMessage.contains("fenced"),
      s"the write must fence, got: ${ex.getMessage}")
    assert(CurationStream.readStore(spark, storeDir).count() === n0,
      "a fenced append must not have written anything")
    // epoch leg: even the SAME token under a different epoch fences —
    // a lease-file anomaly that token comparison alone cannot see
    Dfs.writeStringAtomic(lease, s"$myToken\n${e1 + 7L}")
    val ex2 = intercept[IllegalStateException](
      CurationStream.appendStore(rows.withColumn("doc_id", lit(102L)),
        storeDir))
    assert(ex2.getMessage.contains("epoch"),
      s"an epoch mismatch must fence, got: ${ex2.getMessage}")
    assert(CurationStream.readStore(spark, storeDir).count() === n0)
    Dfs.delete(lease, recursive = false)
  }

  test("generation fence: a superseded maintenance op cannot commit its bucket swap") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val storeDir = Files.createTempDirectory("cur_sfence").toString
    val mk = (b: Long) => spark.range(4L).select(($"id" + b * 10L)
      .as("doc_id"), lit("en").as("lang"), lit("web").as("source"),
      lit(9L).as("n_chars"), concat(lit("body "), $"id".cast("string"))
        .as("text"), lit(2L).as("n_tok"), lit(b).as("ingest_batch"))
    CurationStream.appendStore(mk(0L), storeDir, mode = "overwrite")
    CurationStream.appendStore(mk(1L), storeDir) // 2nd file set: bucket
    CurationStream.appendStore(mk(2L), storeDir) // 0 now needs compaction
    val n0 = CurationStream.readStore(spark, storeDir).count()
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    // mid-maintenance (lease held, before any rewrite) the op's lease
    // is replaced by a new owner's — the swap COMMIT must refuse
    CurationStream.maintenancePauseHook = _ =>
      Dfs.writeStringAtomic(lease, "usurper@proc:4\n99")
    val ex = try intercept[IllegalStateException](
      CurationStream.compactStore(spark, storeDir, targetFiles = 1))
    finally CurationStream.maintenancePauseHook = _ => ()
    assert(ex.getMessage.contains("fenced"),
      s"the swap commit must fence, got: ${ex.getMessage}")
    assert(!Dfs.list(Dfs.qualified(storeDir))
      .exists(_.getPath.getName.startsWith("_swap_")),
      "a fenced swap must not leave a journal marker")
    assert(CurationStream.readStore(spark, storeDir).count() === n0,
      "the live partitions must be untouched by the fenced maintenance")
    Dfs.delete(lease, recursive = false)
  }

  test("a live stream whose lease is reclaimed fails its next batch at the write") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    val sIds = pickIds(2, id => bucketOf(id) < 80)
    val dIds = pickIds(2, id => bucketOf(id) < 80, from = sIds.max + 1)
    val allIds = sIds ++ dIds
    val dims = allIds.zipWithIndex.toMap
    val emb = allIds.map { id =>
      (id, (0 until 64).map(x => if (x == dims(id) % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val trained = graft.ext.Similarity
      .kmeansCentroids(emb, k = 4, iters = 1, roundTo = 4)
    val storeDir = Files.createTempDirectory("cur_streamfence").toString
    CurationStream.initStore(mk(sIds.zipWithIndex.map { case (id, i) =>
      (id, text(s"w${('a' + i).toChar}")) }), storeDir)
    val in = MemoryStream[(Long, String, String, Long, String)]
    val q = CurationStream.ingestStream(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
      emb, trained, mk(Seq.empty), storeDir,
      Files.createTempDirectory("cur_streamfence_ckpt").toString)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    try {
      in.addData((dIds(0), "en", "web", 1L, text("wx")))
      q.processAllAvailable() // batch 0 lands under the stream's lease
      assert(CurationStream.readStore(spark, storeDir)
        .filter($"ingest_batch" >= 0L).count() === 1L)
      // the stream stalls long enough for its lease to age out and be
      // reclaimed elsewhere — the next batch's APPEND must fail loud,
      // one batch earlier than the heartbeat-only fence caught it
      assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
      withToken("thief@proc:5")(CurationStream.acquireLease(storeDir))
      in.addData((dIds(1), "en", "web", 1L, text("wy")))
      val ex = intercept[Exception](q.processAllAvailable())
      val chain = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).take(10).map(_.toString).toSeq
      assert(chain.exists(_.contains("fenced")),
        s"the reclaimed stream's append must fence, got: $chain")
      assert(leaseTokenOf(lease) === "thief@proc:5",
        "the new owner's lease must survive the fenced stream's failure")
      assert(CurationStream.readStore(spark, storeDir)
        .filter($"ingest_batch" >= 0L).count() === 1L,
        "the fenced batch must not have appended")
    } finally {
      if (q.isActive) try stopAndWait(q) catch { case _: Exception => () }
      Dfs.delete(lease, recursive = false)
      CurationStream.releaseLease(storeDir)
    }
  }

  test("claim-marker lifecycle: a fresh claim blocks acquirers loud; a crashed claimant's husk self-heals") {
    import org.apache.hadoop.fs.Path
    val storeDir = Files.createTempDirectory("cur_claim").toString
    CurationStream.recoverStore(storeDir)
    val root = Dfs.qualified(storeDir)
    val lease = new Path(root, "_lease")
    val claim = new Path(root, "_lease.claim")
    // a dead owner AND a claimant that crashed mid-arbitration long ago
    Dfs.writeString(lease, "dead@proc:1\n3")
    assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
    Dfs.writeString(claim, "crashed@proc:2")
    assert(new java.io.File(storeDir, "_lease.claim")
      .setLastModified(1000L))
    // the husk self-heals: the next acquirer removes it, wins the
    // arbitration, and takes the lease at an epoch past the corpse's
    CurationStream.acquireLease(storeDir)
    assert(leaseTokenOf(lease) !== "dead@proc:1")
    assert(leaseEpochOf(lease) === 4L,
      "takeover epoch must be max(gen, stale epoch) + 1")
    assert(!Dfs.list(root).exists(
      _.getPath.getName.startsWith("_lease.claim")), "husk removed")
    CurationStream.releaseLease(storeDir)
    // a FRESH claim (live arbitration elsewhere) blocks acquirers with
    // a loud, specific refusal — and the lease file is never touched
    Dfs.writeString(lease, "dead@proc:1\n9")
    assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
    Dfs.writeString(claim, "busy@proc:3")
    val e = intercept[IllegalStateException](
      CurationStream.acquireLease(storeDir))
    assert(e.getMessage.contains("arbitrated by busy@proc:3"),
      s"a live claim must name its holder, got: ${e.getMessage}")
    assert(Dfs.readString(lease) === "dead@proc:1\n9",
      "a blocked acquirer must leave the lease byte-identical")
    Dfs.delete(claim, recursive = false)
    Dfs.delete(lease, recursive = false)
  }

  test("swap journal under the copy+delete rename shim: a crash mid-'rename' breaks the marker contract and roll-forward installs a partial partition; the real scheme is exact") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    def mk(b: Long) = spark.range(4L).select(($"id" + b * 10L)
      .as("doc_id"), lit("en").as("lang"), lit("web").as("source"),
      lit(9L).as("n_chars"), concat(lit("body "), $"id".cast("string"))
        .as("text"), lit(2L).as("n_tok"), lit(b).as("ingest_batch"))
    def seed(storeDir: String): Long = {
      CurationStream.appendStore(mk(0L), storeDir, mode = "overwrite")
      CurationStream.appendStore(mk(1L), storeDir)
      CurationStream.appendStore(mk(2L), storeDir)
      CurationStream.readStore(spark, storeDir).count()
    }
    def copyTree(s: java.io.File, d: java.io.File): Unit =
      if (s.isDirectory) {
        d.mkdirs()
        Option(s.listFiles).foreach(_.foreach(c =>
          copyTree(c, new java.io.File(d, c.getName))))
      } else {
        java.nio.file.Files.copy(s.toPath, d.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmTree))
      f.delete(); ()
    }

    // CONTROL leg — the real file:// rename: the same compaction is
    // exact and leaves no journal debris (zero behavior change with
    // the shim unset)
    val ctl = Files.createTempDirectory("cur_swapreal").toString
    val nCtl = seed(ctl)
    CurationStream.compactStore(spark, ctl, targetFiles = 1)
    assert(CurationStream.readStore(spark, ctl).count() === nCtl,
      "a real-scheme compaction must preserve every row")
    assert(!Dfs.list(Dfs.qualified(ctl)).exists(
      _.getPath.getName.startsWith("_swap_")),
      "a completed swap must leave no journal marker")

    // NEGATIVE leg — the emulated object-store DIRECTORY rename
    // (recursive copy, then per-file delete) crashing in the delete
    // phase of the staging->live commit: the `_swap_` marker's
    // "staging is complete" contract is broken, because a partially
    // deleted staging directory still EXISTS — something an atomic
    // rename makes impossible
    val storeDir = Files.createTempDirectory("cur_swapshim").toString
    val n0 = seed(storeDir)
    assert(n0 === 12L)
    var renames = 0
    Dfs.nonAtomicDirRenameShim = Some { (src, dst) =>
      renames += 1
      val s = new java.io.File(src.toUri.getPath)
      val d = new java.io.File(dst.toUri.getPath)
      copyTree(s, d)
      if (renames == 2) {
        // the staging->live commit: copy landed, now the delete phase
        // removes staging's DATA files and the process dies
        Option(s.listFiles).foreach(_.filter(f =>
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .foreach(f => rmTree(f)))
        throw new RuntimeException(
          "emulated crash mid copy+delete rename")
      }
      rmTree(s)
    }
    val crashed = try intercept[Exception](
      CurationStream.compactStore(spark, storeDir, targetFiles = 1))
    finally Dfs.nonAtomicDirRenameShim = None
    assert(Iterator.iterate(crashed: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .exists(e => Option(e.getMessage)
        .exists(_.contains("emulated crash"))),
      s"the injected crash must surface, got $crashed")
    assert(Dfs.isFile(new Path(Dfs.qualified(storeDir), "_swap_0")),
      "the crash must strand the journal marker")
    // roll-forward on the REAL scheme: the marker says staging is
    // complete, but the shim left it partial — recovery installs it
    // anyway and the bucket's rows are LOST. This executed violation
    // is the pinned reason the journal demands an atomic-rename
    // scheme (file://, HDFS) and MIGRATION.md routes object stores
    // through a table format instead.
    CurationStream.recoverStore(storeDir)
    spark.catalog.refreshByPath(storeDir)
    assert(!Dfs.list(Dfs.qualified(storeDir)).exists(
      _.getPath.getName.startsWith("_swap_")),
      "recovery must consume the journal marker either way")
    val after = CurationStream.readStore(spark, storeDir).count()
    assert(after < n0,
      s"roll-forward over the broken marker contract must have " +
        s"installed the partial staging copy (got $after of $n0 rows) " +
        "— if this ever equals n0 the negative leg is not exercising " +
        "the violation")
  }

  test("sidecar Blooms stay fp-bounded across skewed merges: a tiny first batch never saturates a long-lived hot bucket's filter") {
    val storeDir = Files.createTempDirectory("cur_bloomgrow").toString
    // skewed first micro-batch: 4 ids size the initial open bloom at
    // its 4096 floor — then 20 merges of 1000 ids each pour 20k ids
    // into the bucket between maintenance passes
    CurationStream.mergeIdStats(storeDir, 0L, Array(1L, 2L, 3L, 4L))
    val inserted = scala.collection.mutable.ArrayBuffer(1L, 2L, 3L, 4L)
    (0 until 20).foreach { m =>
      val ids = (0 until 1000).map(i => 10000L + m * 1000L + i).toArray
      inserted ++= ids
      CurationStream.mergeIdStats(storeDir, 0L, ids)
    }
    val st = CurationStream.readIdStats(storeDir, 0L)
      .getOrElse(fail("sidecar must exist"))
    assert(st.count === inserted.size.toLong)
    assert(inserted.forall(st.mightContain),
      "a sidecar may never false-negative an appended id")
    // the chain grows LOGARITHMICALLY (seal at design capacity, double
    // the successor), so 20k ids after a 4-id first batch is a handful
    // of filters, not one saturated one
    assert(st.blooms.size >= 2 && st.blooms.size <= 5,
      s"expected a short sealed chain, got ${st.blooms.size} filters")
    // aggregate false-positive rate stays near the 1%-per-filter
    // design bound; the pre-growth single 4096-capacity filter held
    // 20k ids (5x over capacity) and false-positived the majority of
    // absent probes
    val absentHits = (0 until 20000)
      .map(i => 9000000L + i).count(st.mightContain)
    assert(absentHits < 20000 * 5 / 100,
      s"aggregate fp must stay bounded, got $absentHits/20000 " +
        s"(${st.blooms.size} filters)")
    // round-trip: what was written is what discovery will read
    assert(st.blooms.zip(st.inserts).forall { case (bf, ins) =>
      ins <= math.max(4096L, (bf.bitSize() / 9.585).toLong)
    }, "no filter may hold more inserts than its design capacity")
  }

  test("lease epochs are strictly monotonic across release, re-acquire and reclaim") {
    import org.apache.hadoop.fs.Path
    val storeDir = Files.createTempDirectory("cur_epoch").toString
    CurationStream.recoverStore(storeDir)
    val lease = new Path(Dfs.qualified(storeDir), "_lease")
    CurationStream.acquireLease(storeDir)
    assert(leaseEpochOf(lease) === 1L)
    CurationStream.releaseLease(storeDir)
    assert(!Dfs.isFile(lease))
    // the generation watermark survives the release: a re-acquire can
    // never reuse a spent epoch
    CurationStream.acquireLease(storeDir)
    assert(leaseEpochOf(lease) === 2L)
    assert(new java.io.File(storeDir, "_lease").setLastModified(1000L))
    withToken("next@proc:6")(CurationStream.acquireLease(storeDir))
    assert(leaseEpochOf(lease) === 3L)
    assert(leaseTokenOf(lease) === "next@proc:6")
    Dfs.delete(lease, recursive = false)
  }
}
