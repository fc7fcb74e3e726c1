package graft.jobs

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.withConf
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

  // −1 forces every lookup onto the distributed plan
  private val LookupCap = IndexExport.LocalLookupCapKey

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

  /** Spark jobs of job group `group` (null: jobs outside any group)
    * visible to the status tracker, flushed until stable so an async
    * listener event from fixture-building cannot leak into the measured
    * window.
    */
  private def stableJobCount(group: String = null): Int = {
    def c() = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
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
    val expected = withConf(spark)(LookupCap -> -1L)(queries.map { terms =>
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
    val expected = withConf(spark)(LookupCap -> -1L)(queries.map {
      case (qid, ts) => IndexExport.bm25Lookup(spark, out, Seq(qid -> ts), 5)
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
    val capped = withConf(spark)(LookupCap -> 0L)(
      IndexExport.bm25Lookup(spark, out, Seq(1L -> Seq("scan")), 5)
        .collect().map(_.toSeq).toSet)
    assert(capped === expected(1))
  }

  test("a distributed-fallback lookup leaves no broadcast relation in the driver's block manager") {
    import org.apache.spark.sql.graft.BlockProbe
    val idx = Retrieval.bm25Index(docsFixture)
    val out = Files.createTempDirectory("bm25_release").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    LocalLookup.clearLayouts()
    def relations() = BlockProbe.broadcastValues()
      .filter(_._2.contains("HashedRelation")).keySet

    // terms the NULL-doc_id row does not hold, so both local twins serve
    val terms = Seq("scan", "cpu", "disk")
    val before = relations()
    // cap −1: both lookups take the distributed plan, which broadcasts
    // the df rows (single) and the query's term set (batch)
    val single = withConf(spark)(LookupCap -> -1L)(
      IndexExport.bm25LookupSingle(spark, out, terms, 7).collect().toSeq)
    val batch = withConf(spark)(LookupCap -> -1L)(
      IndexExport.bm25Lookup(spark, out, Seq(0L -> terms), 7).collect().toSeq)
    assert((relations() -- before).isEmpty,
      "the fallback's broadcast relations must leave the block manager with the lookup")
    // and the answers still match the local tier's
    assert(single.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ===
      local(out, terms, 7).map { case (d, n, s) => (d.longValue, n, s) })
    assert(batch.map(_.toSeq).toSet === IndexExport.bm25Lookup(spark, out,
      Seq(0L -> terms), 7).collect().map(_.toSeq).toSet)
  }

  test("two sessions of one JVM each serve from their own lookup tier, interleaved on two threads") {
    val idx = Retrieval.bm25Index(docsFixture)
    val out = Files.createTempDirectory("bm25_two_sessions").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()
    // the cap is session conf: `forced` (cap −1) takes the distributed
    // plan while `spark` (default cap) stays on the local tier, with
    // both lookups in flight in one JVM at once. Terms the NULL-doc_id
    // row does not hold, so the local twins serve every query
    val forced = spark.newSession()
    forced.conf.set(LookupCap, "-1")
    val queries = Seq(Seq("scan"), Seq("net", "ram"), Seq("table", "join"),
      Seq("cpu", "disk", "sort"))
    val rounds = 3
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def serve(s: SparkSession, group: String) = {
      s.sparkContext.setJobGroup(group, group)
      try (1 to rounds).flatMap(_ => queries.zipWithIndex.map {
        case (terms, i) =>
          barrier.await() // the two threads take each lookup together
          (IndexExport.bm25LookupSingle(s, out, terms, 7).collect().toSeq,
            IndexExport.bm25Lookup(s, out, Seq(i.toLong -> terms), 5)
              .collect().map(_.toSeq).toSet)
      }) finally s.sparkContext.clearJobGroup()
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val group = "two-sessions-" + java.util.UUID.randomUUID().toString.take(8)
    val both = Seq(spark -> s"$group-default", forced -> s"$group-forced")
      .map { case (s, g) => Future(serve(s, g)) }
    val Seq(viaDefault, viaForced) =
      Await.result(Future.sequence(both), 120.seconds)
    assert(viaDefault === viaForced, "the two tiers must serve identical rows")
    assert(viaDefault.forall(_._1.nonEmpty), "every query matches docs")
    // the forced count first: once its last job is seen, every earlier
    // job event (the default thread's included) has been delivered
    assert(stableJobCount(s"$group-forced") >= 2 * rounds * queries.size,
      "the cap −1 session must run each lookup as a Spark plan")
    assert(stableJobCount(s"$group-default") === 0,
      "the default session must serve every lookup with zero Spark jobs")
  }

  test("a malformed cap value fails the lookup, naming its key") {
    val idx = Retrieval.bm25Index(docsFixture)
    val out = Files.createTempDirectory("bm25_bad_cap").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    val e = intercept[IllegalArgumentException](
      withConf(spark)(LookupCap -> "10k")(
        IndexExport.bm25LookupSingle(spark, out, Seq("scan"), 5)))
    assert(e.getMessage.contains(LookupCap) && e.getMessage.contains("10k"),
      s"the error must name the key and the value, got: ${e.getMessage}")
  }

  test("multi-page postings: one bucket, mid-file row ranges, page-crossing and NULL doc_id rows match the plans with zero jobs") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // 5,000 docs of 12 Zipf-skewed draws over 300 terms (~46k postings)
    // plus one NULL doc_id doc of its own terms; nBuckets = 1 puts every
    // posting in one file, so each column spans several pages
    val rnd = new scala.util.Random(20261020L)
    val rows = (0 until 5000).map { i =>
      val text = Seq.fill(12)(f"t${(300 * math.pow(rnd.nextDouble(), 3)).toInt}%03d")
        .mkString(" ")
      (Option(i.toLong), text)
    } :+ ((Option.empty[Long], "orphan orphan lonely"))
    val idx = Retrieval.bm25Index(rows.toDF("doc_id", "text"))
    val out = Files.createTempDirectory("bm25_local_pages").toString
    IndexExport.exportBm25(idx, out, nBuckets = 1)
    graft.ext.Dedup.clearSignatureCaches()
    LocalLookup.clearLayouts()

    val file = pinned(out)(LocalLookup.epochFiles(_, "postings", Seq(0L))) match {
      case Seq(f) => f
      case fs => fail(s"one postings file expected, got $fs")
    }
    val conf = new Configuration()
    val input = HadoopInputFile.fromPath(file, conf)
    // first row of every page after the first, per column
    val boundaries = {
      val r = ParquetFileReader.open(input)
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map { c =>
        val oi = r.readOffsetIndex(c)
        c.getPath.toDotString -> (1 until oi.getPageCount).map(oi.getFirstRowIndex)
      }).toMap
      finally r.close()
    }
    assert(boundaries.keySet === Set("doc_id", "dl", "term", "tf"))
    assert(boundaries.values.forall(_.size >= 2),
      s"every column must span at least 3 pages: $boundaries")
    // each term's [first, end) row range in file order
    val fileTerms = spark.read.parquet(file.toString).select("term")
      .as[String].collect()
    assert(fileTerms.length > 40000)
    val range = fileTerms.zipWithIndex.groupBy(_._1).view
      .mapValues(rs => (rs.head._2.toLong, rs.last._2 + 1L)).toMap
    val crossing = range.keys.toSeq.sorted.filter { t =>
      val (a, b) = range(t)
      boundaries("doc_id").exists(x => a < x && x < b)
    }
    assert(crossing.nonEmpty, "no term's rows cross a doc_id page boundary")
    val late = fileTerms.last
    assert(late != "orphan" && late != "lonely")
    // the column-index filter hands the kernel a row range that starts
    // mid-file for a late term
    val filteredFrom = {
      val opts = HadoopReadOptions.builder(conf, file)
        .withRecordFilter(FilterCompat.get(FilterApi.eq(
          FilterApi.binaryColumn("term"), Binary.fromString(late)))).build()
      val r = ParquetFileReader.open(input, opts)
      try r.readNextFilteredRowGroup().getRowIndexes.get.nextLong()
      finally r.close()
    }
    assert(filteredFrom > 0L && filteredFrom <= range(late)._1)

    val k = 10000 // every matched doc, so every posting row is compared
    val singles = Seq(Seq(late), Seq(crossing.head),
      Seq(late, crossing.head, "t000"), Seq("orphan", crossing.last),
      Seq("lonely"), Seq("absent_term"), Seq("absent_term", late))
    val batch = Seq(0L -> Seq(late), 1L -> Seq(crossing.head),
      2L -> Seq("t000", late, crossing.last), 3L -> Seq("absent_term"))
    val (expSingles, expBatch) = pinned(out) { l =>
      (singles.map(ts => IndexExport.bm25SinglePlan(spark, l, ts, k).collect()
        .map(r => (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          r.getLong(1), r.getDouble(2))).toSeq),
        IndexExport.bm25LookupPlan(spark, l, batch, k).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSeq.sortBy(r => (r._1, r._2)))
    }
    LocalLookup.clearLayouts()
    val before = stableJobCount()
    val (gotSingles, gotBatch, nullBatch) = pinned(out) { l =>
      (singles.map(LocalLookup.bm25Single(l, _, k, Long.MaxValue).get),
        LocalLookup.bm25Batch(l, batch, k, Long.MaxValue),
        LocalLookup.bm25Batch(l, Seq(4L -> Seq("orphan")), k, Long.MaxValue))
    }
    val after = stableJobCount()
    assert(after === before, "local lookups must run zero Spark jobs")
    singles.lazyZip(expSingles).lazyZip(gotSingles).foreach { (ts, exp, act) =>
      assert(act === exp, s"divergence for terms=$ts")
    }
    assert(gotBatch.map(_.sortBy(r => (r._1, r._2))) === Some(expBatch))
    assert(expSingles(1).size.toLong === range(crossing.head)._2 - range(crossing.head)._1)
    assert(expSingles(3).exists(_._1 == null), "the NULL doc_id doc must match")
    assert(expSingles(5).isEmpty && expSingles(6) === expSingles(0))
    // a matched NULL doc_id declines the batch twin (the plan serves it)
    assert(nullBatch === None)
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
        val e = intercept[IllegalStateException](
          withConf(spark)(LookupCap -> cap)(
            IndexExport.bm25LookupSingle(spark, out, Seq("spark"), 5)))
        assert(e.getMessage.contains("mixed-epoch read") &&
          e.getMessage.contains(cur) && e.getMessage.contains(old),
          s"cap $cap: the fence must name both epochs, got: ${e.getMessage}")
      }
    } finally LocalLookup.clearLayouts()
  }
}
