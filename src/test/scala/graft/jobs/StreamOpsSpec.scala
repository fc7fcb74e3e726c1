package graft.jobs

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Event-time semantics of the streaming aggregations: append-mode
  * windows finalize when the watermark passes, and data older than the
  * watermark is dropped — the state-size bound the batch reference lacks.
  *
  * Parameterized over the state-store provider: the default
  * HDFS-backed in-memory store here, and the RocksDB provider (the one
  * a 100 TB-ingest key cardinality actually needs) in
  * [[graft.jobs.StreamOpsRocksDBSpec]] — every stateful operator below
  * runs green on both.
  */
abstract class StreamOpsBehaviors(stateStoreProvider: Option[String])
    extends AnyFunSuite with StateStoreCheck {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      // own SQLConf per suite: the provider setting must not leak into
      // sibling suites sharing the JVM-wide SparkContext
      .newSession()
    stateStoreProvider.foreach(
      s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    s
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark finalizes windows and drops late data (append mode)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamOps.windowedCounts(
      in.toDF().toDF("ts", "user_id"), "ts", "user_id",
      windowDur = "10 minutes", watermarkDelay = "2 minutes")
    val ckpt = Files.createTempDirectory("wm_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("wm_counts").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // window [10:00,10:10): two on-time events
      in.addData((ts(0), 1L), (ts(5), 1L))
      q.processAllAvailable()
      // advance watermark far past 10:10 -> finalizes the first window
      in.addData((ts(30), 1L))
      q.processAllAvailable()
      // late arrival into the finalized window: must be DROPPED
      in.addData((ts(1), 1L))
      q.processAllAvailable()
      // close out the 10:30 window too
      in.addData((ts(50), 1L))
      q.processAllAvailable()
      val rows = spark.table("wm_counts")
        .select($"window_start", $"n_events").as[(Timestamp, Long)]
        .collect().toMap
      assert(rows(ts(0)) === 2L, "late event must not be counted")
      assert(rows(ts(30)) === 1L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = StreamOps.dedupWithinWatermark(
      in.toDF().toDF("id", "ts"), "ts", Seq("id"), "10 minutes")
    val ckpt = Files.createTempDirectory("dd_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("dd_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(2)))  // dup in-batch
      q.processAllAvailable()
      in.addData((1L, ts(3)), (3L, ts(4)))               // dup across batches
      q.processAllAvailable()
      val ids = spark.table("dd_out").select($"id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
      assertProviderEngaged(ckpt)
    } finally q.stop()
  }

  test("token budget quota persists across micro-batches per language") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val out = StreamOps.tokenBudgetStream(in.toDS(), budget = 100L)
    val ckpt = Files.createTempDirectory("tb_ckpt").toString
    val q = out.toDF().writeStream
      .format("memory").queryName("tb_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch 1: en fills 90/100; de fills 50/100
      in.addData(("en", 1L, 60L), ("en", 2L, 30L), ("de", 3L, 50L))
      q.processAllAvailable()
      // batch 2: en has 10 left -> doc 4 (20 tok) dropped, doc 5 (10) fits;
      // de admits another 50 exactly to the cap
      in.addData(("en", 4L, 20L), ("en", 5L, 10L), ("de", 6L, 50L),
        ("de", 7L, 1L))
      q.processAllAvailable()
      val got = spark.table("tb_out")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got === Set(
        ("en", 1L, 60L, 60L), ("en", 2L, 30L, 90L), ("en", 5L, 10L, 100L),
        ("de", 3L, 50L, 50L), ("de", 6L, 50L, 100L)))
    } finally q.stop()
  }

  test("token budget state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // stop the query after batch 1, start a NEW query from the same
    // checkpoint, and prove batch 2 sees the reloaded quota: with
    // {en -> 60} recovered, doc 2 (50 tok) is over budget and doc 3
    // (40 tok) lands exactly on the cap; with state lost, doc 2 would
    // be admitted at cum 50. This is the recovery path a production
    // restart takes (and the RocksDB subclass runs it on disk).
    val in = MemoryStream[(String, Long, Long)]
    val ckpt = Files.createTempDirectory("tb_restart_ckpt").toString
    // memory sink can't recover from a checkpoint; foreachBatch can
    val out = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long, Long)]()
    def start() = StreamOps.tokenBudgetStream(in.toDS(), budget = 100L)
      .toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => out.add(
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))))
      }
      .start()
    val q1 = start()
    in.addData(("en", 1L, 60L))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      in.addData(("en", 2L, 50L), ("en", 3L, 40L))
      q2.processAllAvailable()
      val rows = out.toArray.map(_.asInstanceOf[(String, Long, Long, Long)]).toSet
      assert(!rows.exists(_._2 == 2L),
        s"doc 2 must still be over budget after restart: $rows")
      assert(rows.contains(("en", 3L, 40L, 100L)),
        s"quota state lost across restart: $rows")
    } finally q2.stop()
  }

  test("event-time timeout evicts stale keys and emits expiry") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = StreamOps.trackExpiry(in.toDS(), ttlSeconds = 600L,
      watermarkDelay = "1 minute")
    val ckpt = Files.createTempDirectory("exp_ckpt").toString
    val q = out.toDF().writeStream
      .format("memory").queryName("exp_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((1L, ts(0)), (2L, ts(30)))
      q.processAllAvailable()
      // watermark after batch 1 = 10:30 - 1m = 10:29 > key1's
      // 10:00+10m timeout; the timeout fires on the NEXT batch
      in.addData((3L, ts(35)))
      q.processAllAvailable()
      val rows = spark.table("exp_out")
        .select($"key", $"status").as[(Long, String)].collect().toSet
      assert(rows === Set((1L, "EXPIRED")), "only key 1 is past its TTL")
    } finally q.stop()
  }

  test("stream-static contamination guard flags docs once, skips clean docs") {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    implicit val sc = spark.sqlContext
    StreamOps.clearStaticIndexes()
    val phrase = "alpha beta gamma delta epsilon"
    // instrument the holdout scan: the accumulator counts how many times
    // the static side's rows flow through the shingle pipeline — the
    // persisted index must evaluate it exactly ONCE across micro-batches
    val holdoutScans = spark.sparkContext.longAccumulator("holdoutScans")
    val testDocs = Seq((100L, s"prefix $phrase suffix"))
      .toDS().map { r => holdoutScans.add(1); r }.toDF("doc_id", "text")
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.contaminationStream(
      in.toDF().toDF("doc_id", "ts", "text"), testDocs,
      tsCol = "ts", watermarkDelay = "2 minutes")
    val ckpt = Files.createTempDirectory("cg_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("contam").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // doc 1 shares the planted 5-gram; doc 2 is disjoint
      in.addData((1L, ts(0), s"$phrase zeta eta"),
        (2L, ts(1), "one two three four five six"))
      q.processAllAvailable()
      // doc 1 re-arrives within the watermark horizon: flagged ONCE
      in.addData((1L, ts(2), s"$phrase zeta eta"))
      q.processAllAvailable()
      val flagged = spark.table("contam").select($"doc_id")
        .as[Long].collect().toSeq
      assert(flagged === Seq(1L), s"got $flagged")
      assert(holdoutScans.value === 1L,
        "static holdout must be shingled once, not per micro-batch")
      val idx = StreamOps.staticIndexSnapshot
      assert(idx.nonEmpty && idx.forall(_.storageLevel != StorageLevel.NONE),
        "holdout index must be persisted while the guard runs")
    } finally {
      q.stop()
      StreamOps.clearStaticIndexes()
      assert(StreamOps.staticIndexSnapshot.isEmpty)
    }
  }

  test("streaming near-dup guard flags store hits once, passes novel docs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    StreamOps.clearStaticIndexes()
    // store doc: 12 tokens; stream doc 1 = identical text (same band
    // keys deterministically); doc 2 = disjoint vocabulary
    val base = (0 until 12).map(w => s"s$w").mkString(" ")
    val novel = (0 until 12).map(w => s"n$w").mkString(" ")
    val store = Seq((100L, base)).toDF("doc_id", "text")
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.nearDupStream(
      in.toDF().toDF("doc_id", "ts", "text"), store,
      tsCol = "ts", watermarkDelay = "2 minutes")
    val ckpt = Files.createTempDirectory("nd_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("neardup").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((1L, ts(0), base), (2L, ts(1), novel))
      q.processAllAvailable()
      // duplicate re-arrival within the watermark: still flagged ONCE
      in.addData((1L, ts(2), base))
      q.processAllAvailable()
      val flagged = spark.table("neardup").select($"doc_id")
        .as[Long].collect().toSeq
      assert(flagged === Seq(1L), s"got $flagged")
    } finally {
      q.stop()
      StreamOps.clearStaticIndexes()
    }
  }

  test("foreachBatch upsert sink keeps the latest row per key across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val out = Files.createTempDirectory("upsert_out").toString
    val ckpt = Files.createTempDirectory("upsert_ckpt").toString
    val q = in.toDF().toDF("track_id", "payload", "seq")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(UpsertSink.foreachBatchUpsert(out, "track_id", "seq") _)
      .start()
    try {
      in.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      in.addData((1L, "a2", 2L), (3L, "c", 1L))
      q.processAllAvailable()
      val latest = UpsertSink.latest(spark, out)
        .select($"track_id", $"payload").as[(Long, String)].collect().toSet
      assert(latest === Set((1L, "a2"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("upsert sink: incoming row wins a sequence tie (ON CONFLICT semantics)") {
    import spark.implicits._
    // same-seq update (second-granularity sequence columns make this
    // common): Postgres ON CONFLICT DO UPDATE always takes the incoming
    // row; a bare max_by(seq) would keep whichever tied row the shuffle
    // delivered first
    val out = Files.createTempDirectory("upsert_tie").toString
    def b(rows: (Long, String, Long)*) = rows.toDF("track_id", "payload", "seq")
    UpsertSink.foreachBatchUpsert(out, "track_id", "seq")(b((1L, "stale", 7L)), 0L)
    UpsertSink.foreachBatchUpsert(out, "track_id", "seq")(b((1L, "corrected", 7L)), 1L)
    val got = UpsertSink.latest(spark, out)
      .select($"payload").as[String].collect().toSeq
    assert(got === Seq("corrected"))
  }

  test("upsert sink is idempotent under batch replay (both crash windows)") {
    import spark.implicits._
    // foreachBatch may re-run a batchId after a failure either BEFORE
    // the pointer swap (prev = old snapshot) or AFTER it (prev already
    // contains the batch). Both replays must leave the snapshot
    // byte-equal: merging already-merged rows is a no-op under
    // max_by(seq).
    val out = Files.createTempDirectory("upsert_replay").toString
    def b(rows: (Long, String, Long)*) = rows.toDF("track_id", "payload", "seq")
    UpsertSink.foreachBatchUpsert(out, "track_id", "seq")(b((1L, "a", 1L), (2L, "b", 1L)), 0L)
    UpsertSink.foreachBatchUpsert(out, "track_id", "seq")(b((1L, "a2", 2L), (3L, "c", 1L)), 1L)
    def snap() = UpsertSink.latest(spark, out)
      .as[(Long, String, Long)].collect().toSet
    val expected = Set((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L))
    assert(snap() === expected)
    // crash AFTER pointer swap: replay batch 1 against a prev that
    // already merged it
    UpsertSink.foreachBatchUpsert(out, "track_id", "seq")(b((1L, "a2", 2L), (3L, "c", 1L)), 1L)
    assert(snap() === expected, "replay over merged state must be a no-op")
    // crash BEFORE pointer swap: wind the pointer back to v0 (the write
    // of v1 survived, the swap didn't) and replay batch 1
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "_LATEST"), "v0")
    UpsertSink.foreachBatchUpsert(out, "track_id", "seq")(b((1L, "a2", 2L), (3L, "c", 1L)), 1L)
    assert(snap() === expected, "replay from the pre-swap snapshot must converge")
  }

  test("upsert sink: a reader racing 24 committing batches always finds a snapshot") {
    import spark.implicits._
    // the _LATEST swap is one atomic replace: a concurrent `latest`
    // sees the previous pointer or the new one, never no pointer and
    // never a half-written one
    val out = Files.createTempDirectory("upsert_race").toString
    def upsert(i: Long): Unit = UpsertSink.foreachBatchUpsert(
      out, "track_id", "seq")(
      Seq((i % 5, s"p$i", i)).toDF("track_id", "payload", "seq"), i)
    upsert(0L)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() =>
      while (!done.get) {
        try { UpsertSink.latest(spark, out); reads.incrementAndGet(); () }
        catch { case t: Throwable => errors.add(t); () }
      })
    reader.start()
    try (1L to 24L).foreach(upsert)
    finally { done.set(true); reader.join() }
    val failed = errors.size
    assert(failed == 0, s"failed reads, first: ${errors.peek}")
    assert(reads.get > 0, "the reader never ran")
    assert(UpsertSink.latest(spark, out).count() === 5)
  }

  test("near-dup guard: shingle-less short docs never collide on sentinel bands") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    StreamOps.clearStaticIndexes()
    // a doc under 5 tokens has NO shingles; minhash over the empty set
    // used to degenerate to identical all-Long.MaxValue band keys, so a
    // store containing ANY short doc flagged EVERY streaming short doc.
    // The kernel now emits no bands for no shingles — unrelated short
    // docs must pass, while a genuine store hit still flags.
    val base = (0 until 12).map(w => s"s$w").mkString(" ")
    val store = Seq((100L, "tiny store doc"), (101L, base)).toDF("doc_id", "text")
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.nearDupStream(
      in.toDF().toDF("doc_id", "ts", "text"), store,
      tsCol = "ts", watermarkDelay = "2 minutes")
    val ckpt = Files.createTempDirectory("nd_short_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("neardup_short").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((1L, ts(0), "other tiny doc"), (2L, ts(1), base))
      q.processAllAvailable()
      val flagged = spark.table("neardup_short").select($"doc_id")
        .as[Long].collect().toSeq
      assert(flagged === Seq(2L),
        s"only the true store hit may flag, got $flagged")
    } finally {
      q.stop()
      StreamOps.clearStaticIndexes()
    }
  }

  test("trackExpiry emits the expiry when the revival lands in the same batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // Spark's timeout path only fires for keys with NO batch data, so a
    // silence that ends inside a batch (same-batch revival / backfill)
    // must be surfaced by the data branch — otherwise live and replay
    // runs emit different expiries for identical event histories.
    val in = MemoryStream[(Long, Timestamp)]
    val out = StreamOps.trackExpiry(in.toDS(), ttlSeconds = 600L,
      watermarkDelay = "1 minute")
    val ckpt = Files.createTempDirectory("exp_same_ckpt").toString
    val q = out.toDF().writeStream
      .format("memory").queryName("exp_same").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // both events in ONE batch, 2h apart (ttl 10 min)
      in.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("exp_same")
        .select($"key", $"last_ts", $"status")
        .as[(Long, Timestamp, String)].collect().toSet
      assert(rows === Set((1L, Timestamp.valueOf("2024-01-01 10:00:00"), "EXPIRED")),
        s"the in-batch 2h silence must emit one expiry for 10:00, got $rows")
    } finally q.stop()
  }

  test("token budget admission is Long-overflow-safe") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val budget = Long.MaxValue / 4
    val in = MemoryStream[(String, Long, Long)]
    val out = StreamOps.tokenBudgetStream(in.toDS(), budget)
    val ckpt = Files.createTempDirectory("tb_ovf_ckpt").toString
    val q = out.toDF().writeStream
      .format("memory").queryName("tb_ovf").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // doc 2's nTok makes `cum + nTok` wrap negative under the naive
      // check — it must be REJECTED, and first-fit must continue
      in.addData(("en", 1L, 10L), ("en", 2L, Long.MaxValue - 5L),
        ("en", 3L, 7L))
      q.processAllAvailable()
      val admitted = spark.table("tb_ovf")
        .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
      assert(admitted === Map(1L -> 10L, 3L -> 17L),
        s"overflow doc must be rejected with state intact, got $admitted")
    } finally q.stop()
  }

  test("heavyHittersStream rejects non-positive k at call time") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    assertThrows[IllegalArgumentException] {
      StreamOps.heavyHittersStream(in.toDS(), k = 0)
    }
  }

  test("streaming session_window merges events within the gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamOps.sessionCounts(
      in.toDF().toDF("ts", "user_id"), "ts", "user_id",
      gap = "10 minutes", watermarkDelay = "1 minute")
    val ckpt = Files.createTempDirectory("sw_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("sw_counts").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((ts(0), 1L), (ts(5), 1L), (ts(14), 1L)) // one session: gaps < 10m
      in.addData((ts(40), 1L))                           // second session
      q.processAllAvailable()
      in.addData((ts(59), 2L))                           // push watermark past both
      q.processAllAvailable()
      val rows = spark.table("sw_counts")
        .filter($"user_id" === 1L)
        .select($"session_start", $"session_end", $"n_events")
        .as[(Timestamp, Timestamp, Long)].collect().toSet
      assert(rows === Set(
        (ts(0), ts(24), 3L),   // end = last(10:14) + gap
        (ts(40), ts(50), 1L)))
    } finally q.stop()
  }

  test("streaming heavy hitters: MG guarantee holds across batches, state bounded") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val k = 4
    val out = StreamOps.heavyHittersStream(in.toDS(), k)
    val ckpt = Files.createTempDirectory("hh_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("hh").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch 1: hot code 7 dominates; cold codes churn the counters
      val b1 = Seq.fill(30)(("en", 7L)) ++ (100L until 110L).map(("en", _))
      in.addData(b1: _*)
      q.processAllAvailable()
      val snap1 = spark.table("hh").as[(String, Long, Long)].collect()
      assert(snap1.length <= k, "state must stay bounded at k counters")
      assert(snap1.exists(_._2 == 7L), "hot code present after batch 1")

      // batch 2: different cold codes; hot code keeps flowing
      val b2 = Seq.fill(20)(("en", 7L)) ++ (200L until 210L).map(("en", _))
      in.addData(b2: _*)
      q.processAllAvailable()
      val all = spark.table("hh").as[(String, Long, Long)].collect()
      val snap2 = all.drop(snap1.length) // rows appended by batch 2
      assert(snap2.nonEmpty && snap2.length <= k)
      val hot = snap2.find(_._2 == 7L)
      val n = (b1.length + b2.length).toLong
      // MG guarantee: true count 50 > N/(k+1) = 14 -> must be present,
      // estimate undercounts by at most N/(k+1)
      assert(hot.isDefined, s"hot code evicted: ${snap2.mkString(",")}")
      assert(hot.get._3 <= 50L && hot.get._3 >= 50L - n / (k + 1),
        s"estimate ${hot.get._3} outside MG bound")
      // snapshot is sorted score-desc: the hot code leads it
      assert(snap2.head._2 === 7L)
    } finally q.stop()
  }

  test("BM25 serving stream: per-batch results equal batch retrieval; redelivered query ids served once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val vocab = Vector.tabulate(8)(i => s"v$i")
    val docs = (0L until 70L).map { i =>
      (i, Seq.fill(rnd.nextInt(22))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val idx = graft.ext.Retrieval.bm25Index(docs)
    val in = MemoryStream[(Long, Seq[String], Timestamp)]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val ckpt = Files.createTempDirectory("bm25_serve_ckpt").toString
    val q = StreamOps.retrievalServeStream(
      in.toDF().toDF("query_id", "terms", "ts"), "ts", "10 minutes", ckpt,
      b => graft.ext.Retrieval.bm25TopKIndexed(idx, b, 5)) { (res, _) =>
        val rows = res.as[(Long, Long, Long, Double)].collect()
        buf.synchronized { buf ++= rows }
      }
    try {
      in.addData((0L, Seq("v1", "v3"), ts(0)), (1L, Seq("v5"), ts(1)))
      q.processAllAvailable()
      // batch 2 redelivers query 0 inside the watermark horizon — the
      // dedup state must swallow it (at-least-once upstream -> served
      // exactly once per horizon), while the new query 2 is answered
      in.addData((2L, Seq("v0", "v2"), ts(2)), (0L, Seq("v1", "v3"), ts(3)))
      q.processAllAvailable()
      val expected = graft.ext.Retrieval.bm25BatchTopK(docs, Seq(
          (0L, Seq("v1", "v3")), (1L, Seq("v5")), (2L, Seq("v0", "v2")))
          .toDF("query_id", "terms"), 5)
        .as[(Long, Long, Long, Double)].collect()
      assert(buf.sorted.toList === expected.sorted.toList)
      assertProviderEngaged(ckpt)
    } finally {
      q.stop()
      graft.ext.Dedup.clearSignatureCaches()
    }
  }

  test("ANN serving stream: query batches through the disk IVF store equal batch IVF retrieval") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.ext.Similarity
    val all = graft.TestFixtures.clusteredFixture(spark, 300).cache()
    val cents = Similarity.kmeansCentroids(all, k = 16, iters = 3, roundTo = 4)
    // the serving index is the APPEND-ONLY disk store (two ingests), not
    // an in-memory frame — the layout incremental maintenance writes
    val dir = Files.createTempDirectory("ivf_serve_store").toString
    Similarity.ivfAppendStore(all.filter($"vec_id" < 200), cents, dir)
    Similarity.ivfAppendStore(all.filter($"vec_id" >= 200), cents, dir)
    val store = spark.read.parquet(dir)
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val ckpt = Files.createTempDirectory("ivf_serve_ckpt").toString
    val q = StreamOps.retrievalServeStream(
      in.toDF().toDF("query_id", "qvec", "ts"), "ts", "10 minutes", ckpt,
      b => Similarity.ivfBatchTopKQueries(store, cents.sortBy(_._1),
        b.select($"query_id", $"qvec"), k = 5, nprobe = 2)) { (res, _) =>
        val rows = res.as[(Long, Long, Long, Double)].collect()
        buf.synchronized { buf ++= rows }
      }
    try {
      val qvecs = all.filter($"vec_id" < 4)
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
        .collect().sortBy(_._1)
      in.addData(qvecs.take(2).map { case (id, v) => (id, v, ts(0)) }.toSeq: _*)
      q.processAllAvailable()
      in.addData(qvecs.drop(2).map { case (id, v) => (id, v, ts(2)) }.toSeq: _*)
      q.processAllAvailable()
      val expected = Similarity.ivfBatchTopK(all, queryMaxId = 4, k = 5,
          nprobe = 2, centroids = Some(cents))
        .as[(Long, Long, Long, Double)].collect()
      assert(buf.sorted.toList === expected.sorted.toList)
      assertProviderEngaged(ckpt)
    } finally {
      q.stop()
      all.unpersist()
    }
  }

  test("PQ serving stream: query batches through the disk CODES store equal single-query ivfAdcTopK") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.ext.{Pq, Similarity}
    val all = graft.TestFixtures.clusteredFixture(spark, 300).cache()
    val cents = Similarity.kmeansCentroids(all, k = 16, iters = 3, roundTo = 4)
    val cbs = Pq.seedCodebooks(all, m = 4, ksub = 16)
    // the serving index is the exported cell-partitioned CODES store —
    // the RAM tier's bytes (m longs/vec), floats never read at serve time
    val dir = Files.createTempDirectory("pq_serve_store").toString
    graft.jobs.IndexExport.exportPqCells(all, cents, cbs, dir)
    val store = spark.read
      .parquet(s"${graft.jobs.IndexExport.resolveEpoch(dir)}/codes")
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val ckpt = Files.createTempDirectory("pq_serve_ckpt").toString
    val q = StreamOps.retrievalServeStream(
      in.toDF().toDF("query_id", "qvec", "ts"), "ts", "10 minutes", ckpt,
      b => Pq.ivfAdcBatchTopK(store, cents,
        cbs, b.select($"query_id", $"qvec"), k = 5, nprobe = 2)) { (res, _) =>
        val rows = res.as[(Long, Long, Long, Long)].collect()
        buf.synchronized { buf ++= rows }
      }
    try {
      val qvecs = all.filter($"vec_id" < 4)
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
        .collect().sortBy(_._1)
      in.addData(qvecs.take(2).map { case (id, v) => (id, v, ts(0)) }.toSeq: _*)
      q.processAllAvailable()
      in.addData(qvecs.drop(2).map { case (id, v) => (id, v, ts(2)) }.toSeq: _*)
      q.processAllAvailable()
      // per-batch ≡ the single-query ADC path on the LIVE embedding
      // table (same probes, same codes, same exact-integer scoring)
      val expected = (0L until 4L).flatMap { qid =>
        Pq.ivfAdcTopK(all, qid, k = 5, cbs, centroids = Some(cents))
          .as[(Long, Long)].collect().zipWithIndex
          .map { case ((vid, dist), i) => (qid, (i + 1).toLong, vid, dist) }
      }
      assert(buf.sorted.toList === expected.sorted.toList)
      assertProviderEngaged(ckpt)
    } finally {
      q.stop()
      all.unpersist()
    }
  }
}

/** The stateful family on the default HDFS-backed in-memory store. */
class StreamOpsSpec extends StreamOpsBehaviors(None)
