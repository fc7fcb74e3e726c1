package graft.jobs

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Reassembly
import graft.streaming.StreamOps

/** Checkpoint-recovery evidence for the at-least-once + idempotent-sink
  * story (SURVEY §2.4): every test STOPS a running streaming query,
  * restarts a new query instance from the same checkpoint, and asserts
  * the post-restart state equals the uninterrupted run —
  *
  *  - the upsert sink converges through a restart even when the crash
  *    window forces a full batch REPLAY (commit marker deleted, so the
  *    restarted query recomputes the last batch against a snapshot that
  *    already contains it);
  *  - fragment reassembly's dedup state survives the restart (a
  *    fragment redelivered after recovery is still recognized as a
  *    duplicate, and a message split across the restart completes from
  *    the restored buffer);
  *  - the session-window aggregation's watermark survives the restart (a
  *    finalized session is not re-opened, late data stays dropped, and
  *    no session is emitted twice across the stop/restart boundary).
  *
  * Parameterized over the state-store provider like StreamOpsBehaviors:
  * recovery must hold on the default HDFS-backed store AND on RocksDB
  * (whose state files are a different on-disk format — the restore path
  * is provider code, not shared code, so green on one proves nothing
  * about the other).
  */
abstract class CheckpointRecoveryBehaviors(stateStoreProvider: Option[String])
    extends AnyFunSuite with StateStoreCheck {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    stateStoreProvider.foreach(
      s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    s
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** stop() + wait until the run is fully deregistered — starting the
    * successor while the predecessor still holds the checkpoint trips
    * [STREAM_FAILED] "multiple streaming queries ... concurrently".
    */
  private def stopAndWait(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.stop()
    q.awaitTermination()
  }

  test("upsert sink restart from checkpoint converges, replayed batch included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def runInterrupted(forceReplay: Boolean): Seq[(Long, String, Long)] = {
      val in = MemoryStream[(Long, String, Long)]
      val out = Files.createTempDirectory("ckpt_upsert_out").toString
      val ckpt = Files.createTempDirectory("ckpt_upsert_ck").toString
      def start() = in.toDF().toDF("track_id", "payload", "seq")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(UpsertSink.foreachBatchUpsert(out, "track_id", "seq") _)
        .start()
      val q1 = start()
      in.addData((1L, "a", 1L), (2L, "b", 1L))
      q1.processAllAvailable()
      stopAndWait(q1)
      if (forceReplay) {
        // crash window: the sink wrote and swapped the pointer but the
        // query died BEFORE recording the commit — the restarted query
        // must recompute batch 0 from its offsets file and re-upsert it
        // against a snapshot that already contains it
        val commit = Paths.get(ckpt, "commits", "0")
        assert(Files.deleteIfExists(commit), s"no commit marker at $commit")
        // the local checksummed FS keeps a .crc sidecar per metadata
        // file; left behind it makes the re-commit's rename collide and
        // misreport as a concurrent-query conflict
        Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
      }
      // data arriving while the query is down
      in.addData((1L, "a2", 2L), (3L, "c", 1L))
      val q2 = start()
      q2.processAllAvailable()
      stopAndWait(q2)
      UpsertSink.latest(spark, out)
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    }

    // uninterrupted control: one query, same data, no stop
    val ctrl = {
      val in = MemoryStream[(Long, String, Long)]
      val out = Files.createTempDirectory("ckpt_upsert_ctl").toString
      val ckpt = Files.createTempDirectory("ckpt_upsert_ctlck").toString
      val q = in.toDF().toDF("track_id", "payload", "seq")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(UpsertSink.foreachBatchUpsert(out, "track_id", "seq") _)
        .start()
      in.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      in.addData((1L, "a2", 2L), (3L, "c", 1L))
      q.processAllAvailable()
      stopAndWait(q)
      UpsertSink.latest(spark, out)
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    }

    assert(ctrl === Seq((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L)))
    assert(runInterrupted(forceReplay = false) === ctrl,
      "clean stop/restart must converge to the uninterrupted snapshot")
    assert(runInterrupted(forceReplay = true) === ctrl,
      "restart replaying an already-applied batch must converge (idempotence)")
  }

  test("dedup state survives restart: post-recovery duplicate still suppressed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Reassembly.{Assembled, Fragment}
    val in = MemoryStream[Fragment]
    val ckpt = Files.createTempDirectory("ckpt_dedup").toString
    // the memory sink refuses an existing checkpoint
    // ([UNSUPPORTED_FEATURE.QUERY_RECOVERY]) — collect emitted rows
    // driver-side per run instead, the foreachBatch sink recovery
    // supports
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Assembled]
    def start() = Reassembly.assembleStream(in.toDS())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Assembled], _: Long) =>
        b.collect().foreach(emitted.add)
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    def frag(id: Int, no: Int) =
      Fragment(id, "A", 2, no, s"!AIVDM,2,$no,$id,A,p$id$no", s"t$id")
    def message(id: Int) =
      Assembled(id, "A", s"t$id", Seq(frag(id, 1).sentence, frag(id, 2).sentence))
    def drain(): Seq[Assembled] = {
      val out = emitted.toArray(Array.empty[Assembled]).toSeq
      emitted.clear()
      out
    }

    // two-fragment messages 1 and 2: only their first fragments arrive
    val q1 = start()
    in.addData(frag(1, 1), frag(2, 1))
    q1.processAllAvailable()
    stopAndWait(q1)
    assert(drain().isEmpty, "half-assembled messages stay buffered")
    assertProviderEngaged(ckpt)

    // restart: message 1's first fragment is redelivered — only the
    // restored buffer knows it is a duplicate (without the dedup it
    // would "complete" message 1 from two copies of fragment 1);
    // message 2's second fragment completes it from restored state
    val q2 = start()
    in.addData(frag(1, 1), frag(2, 2))
    q2.processAllAvailable()
    stopAndWait(q2)
    assert(drain() === Seq(message(2)),
      "the redelivered fragment must be suppressed by state restored from the checkpoint")

    // message 1's buffer still holds exactly one fragment 1
    val q3 = start()
    in.addData(frag(1, 2))
    q3.processAllAvailable()
    stopAndWait(q3)
    assert(drain() === Seq(message(1)))
  }

  test("watermark survives restart: finalized window stays closed, none emit twice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val ckpt = Files.createTempDirectory("ckpt_window").toString
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[(Timestamp, Long)]
    def start() = StreamOps.sessionCounts(
        in.toDF().toDF("ts", "user_id"), "ts", "user_id",
        gap = "5 minutes", watermarkDelay = "2 minutes")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.select(col("session_start"), col("n_events")).collect()
          .foreach(r => emitted.add((r.getTimestamp(0), r.getLong(1))))
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    in.addData((ts(0), 1L), (ts(3), 1L)) // session [10:00,10:08): 2 events
    q1.processAllAvailable()
    in.addData((ts(30), 1L)) // watermark -> 10:28, finalizes [10:00,10:08)
    q1.processAllAvailable()
    stopAndWait(q1)
    val run1 = emitted.toArray(Array.empty[(Timestamp, Long)]).toSeq
    assert(run1 === Seq((ts(0), 2L)), "first session finalized before the stop")
    assertProviderEngaged(ckpt)
    emitted.clear()

    // restart: a late event into the finalized session must STILL be
    // dropped (only the restored watermark knows it is closed), and
    // closing the 10:30 session must emit it exactly once with the
    // pre-restart event counted from restored state
    val q2 = start()
    in.addData((ts(1), 1L)) // late into the closed session
    q2.processAllAvailable()
    in.addData((ts(31), 1L), (ts(50), 1L)) // +1 to the 10:30 session, then close it
    q2.processAllAvailable()
    stopAndWait(q2)
    val run2 = emitted.toArray(Array.empty[(Timestamp, Long)]).toSeq
    assert(run2 === Seq((ts(30), 2L)),
      "exactly the 10:30 session (pre-restart event + post-restart event), " +
        s"no re-emission of the closed session — got $run2")
  }
}

/** Default (HDFS-backed in-memory) state store provider. */
class CheckpointRecoverySpec extends CheckpointRecoveryBehaviors(None)

/** RocksDB provider — different state file format, different restore
  * path.
  */
class CheckpointRecoveryRocksDBSpec extends CheckpointRecoveryBehaviors(
  Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
  override protected def stateFileMarkers: Seq[String] =
    Seq(".zip", ".changelog")
}
