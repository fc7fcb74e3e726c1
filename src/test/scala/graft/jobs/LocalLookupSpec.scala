package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.withLocalLookupCap
import graft.ext.Retrieval

/** The no-Spark point-lookup reader ([[LocalLookup]]) must return rows
  * identical to the Spark lookup plans over the same export — same
  * matches, same scores to the bit, same order — and must do it with
  * ZERO Spark jobs (that is the tier's reason to exist: point traffic
  * never pays cluster scheduling). Spark is used here only to build
  * the fixture/export and to compute the expected answers.
  */
class LocalLookupSpec extends AnyFunSuite {

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

  private val vocab = Seq("spark", "table", "hash", "scan", "join",
    "sort", "row", "col", "disk", "ram", "net", "cpu")

  private def docsFixture = {
    import spark.implicits._
    // repetition (tf > 1), a NULL text and a NULL doc_id: the batch
    // plan scores both (dl 0 never matches; the null-id doc groups),
    // so the local twin must too
    val rows = (0 until 40).map { i =>
      val text = (0 until 6).map(j => vocab((i * 5 + j * 7) % vocab.size))
        .mkString(" ") + (if (i % 3 == 0) " spark spark" else "")
      (Option(i.toLong), Option(text))
    } ++ Seq((Option(99L), Option.empty[String]),
      (Option.empty[Long], Option("spark hash hash")))
    rows.toDF("doc_id", "text")
  }

  /** Spark jobs visible to the status tracker, flushed until stable so
    * an async listener event from fixture-building cannot leak into the
    * measured window.
    */
  private def stableJobCount(): Int = {
    def c() = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    var prev = -1
    var cur = c()
    while (cur != prev) { Thread.sleep(100); prev = cur; cur = c() }
    cur
  }

  /** `f` over the current epoch's layout, under one pin — the way
    * [[IndexExport]]'s lookups call the local tier.
    */
  private def pinned[T](out: String)(f: LocalLookup.Bm25Layout => T): T =
    IndexExport.withPinnedEpoch(out)(e => f(LocalLookup.bm25Layout(e)))

  /** The driver-local single-query tier alone, uncapped. */
  private def local(out: String, terms: Seq[String],
      k: Int): Seq[(java.lang.Long, Long, Double)] =
    pinned(out)(LocalLookup.bm25Single(_, terms, k, Long.MaxValue).get)

  test("local bm25 lookup equals the Spark single-query plan, with zero Spark jobs") {
    import spark.implicits._
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_local").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()

    val queries: Seq[Seq[String]] =
      vocab.map(Seq(_)) ++ // every term alone (every bucket path)
        Seq(Seq("spark", "hash", "cpu"), Seq("scan", "scan", "join"),
          Seq("absent_term"), Seq("spark", "absent_term"),
          Seq(null, "disk"), Seq("net", "ram", "row", "col"))
    // expected: the distributed plan, forced (cap −1 declines even a
    // zero-match query)
    val expected = withLocalLookupCap(-1L)(queries.map { terms =>
      IndexExport.bm25LookupSingle(spark, out, terms, 7)
        .collect().map(r => (
          if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          r.getLong(1), r.getDouble(2))).toSeq
    })

    val before = stableJobCount()
    val got = queries.map(local(out, _, 7))
    val after = stableJobCount()
    assert(after === before, "local lookup must run zero Spark jobs")
    queries.lazyZip(expected).lazyZip(got).foreach { (terms, exp, act) =>
      assert(act === exp, s"divergence for terms=$terms")
    }
    assert(expected.count(_.nonEmpty) > queries.size / 2)
    // the null-id doc ("spark hash hash", high tf/dl) must surface in
    // at least one query's top-k through both paths (got === expected
    // above already pinned the local path to it)
    assert(expected.exists(_.exists(_._1 == null)))
  }

  test("local bm25 lookup is thread-safe under concurrent serving load") {
    import spark.implicits._
    // a serving tier takes parallel queries: hammer the shared caches
    // (layout, footers, per-bucket df maps) from many threads on a COLD
    // reader and require every answer to equal the single-threaded one
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_local_mt").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()

    val queries = (0 until 40).map(i =>
      Seq(vocab(i % vocab.size), vocab((i * 5 + 1) % vocab.size)))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = queries.map(terms =>
      Future(terms -> local(out, terms, 7)))
    val got = Await.result(Future.sequence(futures), 60.seconds).toMap
    queries.distinct.foreach { terms =>
      assert(got(terms) === local(out, terms, 7),
        s"concurrent result diverged for $terms")
    }
    assert(got.size === queries.distinct.size)
    assert(got.values.forall(_.nonEmpty), "every vocab term matches docs")
  }

  test("concurrent re-export never yields a mixed-epoch read in the local tier") {
    import spark.implicits._
    val docsA = docsFixture
    val docsB = docsFixture.filter($"text".isNotNull && $"doc_id".isNotNull)
      .select(($"doc_id" + 1000L).as("doc_id"),
        concat($"text", lit(" spark hash")).as("text"))
    val idxA = Retrieval.bm25Index(docsA)
    val idxB = Retrieval.bm25Index(docsB)
    val terms = Seq("spark", "hash")

    val refB = Files.createTempDirectory("bm25_local_refB").toString
    IndexExport.exportBm25(idxB, refB, nBuckets = 16)
    val out = Files.createTempDirectory("bm25_local_swap").toString
    IndexExport.exportBm25(idxA, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()
    val expectA = local(out, terms, 5)
    val expectB = local(refB, terms, 5)
    assert(expectA !== expectB)

    // lookup loop on one thread, the re-export racing it from this one;
    // KeepEpochs retention + per-epoch caches mean every answer is a
    // full epoch-A or epoch-B answer, never a mix or a missing file
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var stop = false
    val loop = Future {
      val seen = scala.collection.mutable.ArrayBuffer
        .empty[Seq[(java.lang.Long, Long, Double)]]
      while (!stop) seen += local(out, terms, 5)
      seen.toSeq
    }
    IndexExport.exportBm25(idxB, out, nBuckets = 16)
    Thread.sleep(200)
    stop = true
    val seen = Await.result(loop, 60.seconds)
    assert(seen.nonEmpty)
    seen.zipWithIndex.foreach { case (r, i) =>
      assert(r === expectA || r === expectB, s"mixed-epoch read at $i")
    }
    assert(local(out, terms, 5) === expectB,
      "a fresh lookup after the swap must serve the new epoch")
  }

  test("routed lookups serve from the local tier: batch-twin parity, zero jobs, capped fallback") {
    import spark.implicits._
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_routed").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()

    // the q120 shape: per-query batch lookups — expected rows from the
    // FORCED distributed plan, got rows from the routed (local) path
    val queries = Seq(0L -> Seq("spark", "table"), 1L -> Seq("scan"),
      2L -> Seq("absent_term"), 3L -> Seq("net", "ram", "row", "col"))
    val expected = withLocalLookupCap(-1L)(queries.map { case (qid, ts) =>
      IndexExport.bm25Lookup(spark, out, Seq(qid -> ts), 5)
        .collect().map(_.toSeq).toSet
    })
    // NOTE: "spark" matches the NULL-doc_id row, so its batch twin
    // declines (primitive-long udaf boxing) and falls back — parity
    // still holds, the zero-jobs claim is only for declinable-free
    // queries like 1L/3L below
    val got = queries.map { case (qid, ts) =>
      IndexExport.bm25Lookup(spark, out, Seq(qid -> ts), 5)
        .collect().map(_.toSeq).toSet
    }
    queries.lazyZip(expected).lazyZip(got).foreach { (q, exp, act) =>
      assert(act === exp, s"routed batch divergence for $q")
    }
    assert(got.exists(_.nonEmpty))

    // zero Spark jobs for a local-served batch lookup (no null-id match)
    IndexExport.bm25Lookup(spark, out, Seq(1L -> Seq("scan")), 5) // warm
    val before = stableJobCount()
    val rows = pinned(out)(LocalLookup.bm25Batch(_, Seq(1L -> Seq("scan")), 5,
      IndexExport.LocalLookupCap))
    val after = stableJobCount()
    assert(after === before, "local batch lookup must run zero Spark jobs")
    assert(rows.exists(_.nonEmpty))

    // the cap: a query whose matched postings exceed it declines (the
    // distributed plan serves it — identical rows)
    assert(pinned(out)(LocalLookup.bm25Batch(_, Seq(1L -> Seq("scan")), 5, 0L))
      === None)
    assert(pinned(out)(LocalLookup.bm25Single(_, Seq("scan"), 5, 0L)) === None)
    val capped = withLocalLookupCap(0L)(
      IndexExport.bm25Lookup(spark, out, Seq(1L -> Seq("scan")), 5)
        .collect().map(_.toSeq).toSet)
    assert(capped === expected(1))
  }

  test("local bm25 over an empty-corpus export returns empty") {
    import spark.implicits._
    val idx = Retrieval.bm25Index(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val out = Files.createTempDirectory("bm25_local_empty").toString
    IndexExport.exportBm25(idx, out, nBuckets = 8)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()
    assert(local(out, Seq("spark"), 5) === Seq.empty)
  }

  test("a bucket file outside the pinned epoch fails the lookup on both tiers, naming both epochs") {
    // the mixed-epoch fence: plant the previous epoch's postings listing
    // into the current epoch's cached layout (a listing that crossed
    // epochs) — no tier may serve rows from it
    val idx = Retrieval.bm25Index(docsFixture)
    val out = Files.createTempDirectory("bm25_local_fence").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()
    val epochs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("epoch_")).map(_.getName).sorted
    assert(epochs.toSeq === Seq("epoch_1", "epoch_2"))
    val old = IndexExport.withPinnedEpoch(out)(cur =>
      cur.stripSuffix("epoch_2") + "epoch_1")
    val b = IndexExport.termBucket("spark", 16)
    try {
      val stale = LocalLookup.epochFiles(LocalLookup.bm25Layout(old),
        "postings", Seq(b))
      assert(stale.nonEmpty)
      val cur = pinned(out) { l => l.files.put(s"postings/$b", stale); l.dir }
      Seq(100000L, -1L).foreach { cap =>
        val e = intercept[IllegalStateException](withLocalLookupCap(cap)(
          IndexExport.bm25LookupSingle(spark, out, Seq("spark"), 5)))
        assert(e.getMessage.contains("mixed-epoch read") &&
          e.getMessage.contains(cur) && e.getMessage.contains(old),
          s"cap $cap: the fence must name both epochs, got: ${e.getMessage}")
      }
    } finally LocalLookup.clearLayouts()
  }
}
