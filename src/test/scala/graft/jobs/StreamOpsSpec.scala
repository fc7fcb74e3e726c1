package graft.jobs

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Event-time semantics of the bounded-state stream operators: append-
  * mode sessions finalize when the watermark passes and data older than
  * the watermark is dropped, duplicates drop within the watermark
  * horizon, and stale keys expire on event time — the state-size bound
  * the batch reference lacks. Plus the foreachBatch upsert sink.
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
    val out = StreamOps.sessionCounts(
      in.toDF().toDF("ts", "user_id"), "ts", "user_id",
      gap = "5 minutes", watermarkDelay = "2 minutes")
    val ckpt = Files.createTempDirectory("wm_ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("wm_counts").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // session [10:00,10:08): two on-time events
      in.addData((ts(0), 1L), (ts(3), 1L))
      q.processAllAvailable()
      // advance watermark far past 10:08 -> finalizes the first session
      in.addData((ts(30), 1L))
      q.processAllAvailable()
      // late arrival into the finalized session: must be DROPPED
      in.addData((ts(1), 1L))
      q.processAllAvailable()
      // close out the 10:30 session too
      in.addData((ts(50), 1L))
      q.processAllAvailable()
      val rows = spark.table("wm_counts")
        .select($"session_start", $"session_end", $"n_events")
        .as[(Timestamp, Timestamp, Long)].collect().toSeq
      assert(rows.sortBy(_._1.getTime) === Seq(
        (ts(0), ts(8), 2L),    // late event not counted, emitted once
        (ts(30), ts(35), 1L)))
      assertProviderEngaged(ckpt)
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
}

class StreamOpsSpec extends StreamOpsBehaviors(None)
