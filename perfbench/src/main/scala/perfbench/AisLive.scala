package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.jobs.WarehouseStream
import graft.sources.Sources

/** The live AIS path: the datalog format paced over one loopback TCP
  * connection into `Sources.tcpLines` → `WarehouseStream.start`
  * (stateful stream reassembly, decode, four routed parquet sinks).
  * Measured inside the `ais_gold` workload's traced run (see
  * BASELINE.md for why it is not a workload of its own).
  *
  * Open loop: one generator thread sends phase 1 at a fixed rate below
  * the knee, each message timed from when it was due, not from when it
  * was sent. Phase 2 then sends a burst backlog at once, and its drain
  * rate is the stream's throughput. A message's latency runs from its
  * due time to the end of the micro-batch whose offset range holds its
  * last line.
  */
final class AisLive(ctx: Ctx) {
  import AisLive._

  private lazy val feed: AisData.Datalog =
    AisData.generate(ctx.seed + 7, FeedMessages, Vessels)

  /** One live run: `phase1S` seconds of paced traffic, then the burst.
    * Its checks count into `r`; its numbers are layer metrics.
    */
  def measure(phase1S: Double, tracer: Tracer, r: Result): Unit = {
    val phase1 = math.max(1, (phase1S * Phase1Rate).toInt)
    val msgs = feed.msgs.take(PrimeMessages + phase1) ++
      feed.msgs.takeRight(BurstMessages)
    val log = new AisData.Datalog(msgs)
    val s = stream(log, phase1, "live")

    // line index -> the end time of the batch that committed it
    val lineEnd = new Array[Long](s.sendMs.length)
    java.util.Arrays.fill(lineEnd, Long.MaxValue)
    s.batches.foreach { b =>
      val (start, end) = offsets(b)
      val t = batchEndMs(b)
      (start until math.min(end, lineEnd.length.toLong)).foreach(i => lineEnd(i.toInt) = t)
    }
    val lastLine = msgs.scanLeft(0)(_ + _.lines.size).tail.map(_ - 1)
    val p1 = PrimeMessages until PrimeMessages + phase1
    val lat1 = p1.map { i =>
      val end = lineEnd(lastLine(i))
      if (end == Long.MaxValue) Double.PositiveInfinity else (end - s.dueMs(i)).toDouble
    }
    // the drain: from the start of the first batch holding burst lines
    // to the end of the batch holding the last one
    val firstBurstLine = lastLine(PrimeMessages + phase1 - 1) + 1
    val burstEnd = lineEnd.last
    if (burstEnd == Long.MaxValue)
      throw new IllegalStateException("the burst never drained")
    val drainStart = s.batches.find(b => offsets(b)._2 > firstBurstLine)
      .map(b => java.time.Instant.parse(b.timestamp).toEpochMilli).get
    val drainS = (burstEnd - drainStart) / 1000.0

    // exactly once: every routed message in its route once, nothing else
    val want = msgs.flatMap(AisData.routeKey).groupBy(identity).view.mapValues(_.length).toMap
    val got = routeRows(s.out).groupBy(identity).view.mapValues(_.length).toMap
    val wrong = (want.keySet ++ got.keySet).toSeq
      .map(k => math.abs(want.getOrElse(k, 0) - got.getOrElse(k, 0)).toLong).sum
    val late = lat1.count(_ > LatencyLimitMs).toLong
    r.attempted += msgs.length
    r.fail(wrong, s"live routes: $wrong messages missing, repeated or unexpected")
    r.fail(late, s"$late of $phase1 live phase-1 messages committed later than $LatencyLimitMs ms")
    println(f"ais live: phase 1 $phase1 msgs at $Phase1Rate/s, p50 ${Stats.required(lat1, 0.5)}%.1f ms " +
      f"p99 ${Stats.required(lat1, 0.99)}%.1f ms; burst $BurstMessages msgs drained in $drainS%.3f s " +
      f"(after ${(drainStart - s.burstStartMs) / 1000.0}%.3f s waiting for the batch in flight); " +
      s"${s.batches.size} batches; generator late p99 ${Stats.required(s.lateMs, 0.99)} ms")

    val ws = "jobs.warehouse_stream"
    r.layer(s"$ws.latency_p50_ms") = (Stats.required(lat1, 0.5), "ms")
    r.layer(s"$ws.latency_p99_ms") = (Stats.required(lat1, 0.99), "ms")
    r.layer(s"$ws.drain_per_s") = (BurstMessages / drainS, "items/s")
    r.layer(s"$ws.stored_bytes_per_input_byte") = (Dirs.bytes(s.out).toDouble / log.bytes, "ratio")
    tracer.settle()
    val bs = s.batches.filter(_.numInputRows > 0)
    def p50(xs: Seq[Double]) = Stats.p50OrMedian(xs)
    def dur(b: StreamingQueryProgress, k: String) =
      Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    // lines already sent when the batch ended but not yet in it
    val lags = bs.map { b =>
      val t = batchEndMs(b)
      var (lo, hi) = (0, s.sendMs.length)
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (s.sendMs(mid) <= t) lo = mid + 1 else hi = mid }
      math.max(0L, lo - offsets(b)._2).toDouble
    }
    r.layer("sources.nmea.lag_lines_p50") = (p50(lags), "lines")
    r.layer("sources.nmea.lag_lines_max") = (lags.maxOption.getOrElse(0.0), "lines")
    r.layer("sources.nmea.latest_offset_ms_p50") =
      (p50(s.batches.map(dur(_, "latestOffset"))), "ms")
    val perBatch = tracer.ledger.get.batches(s.runId)
    r.layer(s"$ws.batches") = (bs.size.toDouble, "count")
    r.layer(s"$ws.rows_per_batch_p50") = (p50(bs.map(_.numInputRows.toDouble)), "rows")
    r.layer(s"$ws.trigger_ms_p50") = (p50(bs.map(dur(_, "triggerExecution"))), "ms")
    r.layer(s"$ws.add_batch_ms_p50") = (p50(bs.map(dur(_, "addBatch"))), "ms")
    r.layer(s"$ws.query_planning_ms_p50") = (p50(bs.map(dur(_, "queryPlanning"))), "ms")
    r.layer(s"$ws.wal_commit_ms_p50") = (p50(bs.map(dur(_, "walCommit"))), "ms")
    r.layer(s"$ws.jobs_per_batch_p50") =
      (p50(bs.map(b => perBatch.get(b.batchId).fold(0.0)(_.jobs.toDouble))), "count")
    r.layer(s"$ws.task_s_per_batch_p50") =
      (p50(bs.map(b => perBatch.get(b.batchId).fold(0.0)(_.taskS))), "s")
    r.layer(s"$ws.route_bytes") = (Dirs.bytes(s.out).toDouble, "bytes")
    r.layer(s"$ws.route_files") = (Dirs.dataFiles(s.out).toDouble, "count")
    val st = s.batches.lastOption.flatMap(_.stateOperators.headOption)
    r.layer("ops.reassembly.state_rows_end") = (st.fold(0.0)(_.numRowsTotal.toDouble), "rows")
    r.layer("ops.reassembly.state_mb_end") =
      (st.fold(0.0)(_.memoryUsedBytes / 1048576.0), "MB")
    r.layer("ops.reassembly.state_commit_ms_p50") = (p50(bs.flatMap(
      _.stateOperators.headOption.map(_.commitTimeMs.toDouble))), "ms")
    r.layer("gen.late_ms_p99") = (Stats.required(s.lateMs, 0.99), "ms")
  }

  private def offsets(b: StreamingQueryProgress): (Long, Long) = {
    val src = b.sources.head
    (Option(src.startOffset).map(_.trim.toLong).getOrElse(0L), src.endOffset.trim.toLong)
  }

  private def batchEndMs(b: StreamingQueryProgress): Long =
    java.time.Instant.parse(b.timestamp).toEpochMilli +
      b.durationMs.get("triggerExecution").longValue()

  /** Every route row, keyed as [[AisData.routeKey]] keys messages. */
  private def routeRows(out: java.nio.file.Path): Seq[(String, String)] = {
    val sp = ctx.spark
    def read(route: String) = sp.read.parquet(out.resolve(route).toString)
    def exists(route: String) = java.nio.file.Files.exists(out.resolve(route))
    val pos = if (!exists("position")) Nil else read("position")
      .select("mmsi", "latitude", "longitude", "cog").collect()
      .map(r => ("position", s"${r.getLong(0)}|${r.getDouble(1)}|${r.getDouble(2)}|${r.getDouble(3)}"))
      .toSeq
    val sta = if (!exists("static")) Nil else read("static")
      .select("mmsi", "imo").collect()
      .map(r => ("static", s"${r.getLong(0)}|${r.getInt(1)}")).toSeq
    val other = Seq("type21", "type6_533").filter(exists).flatMap { route =>
      read(route).select("mmsi").collect().map(r => (route, r.getLong(0).toString)).toSeq
    }
    pos ++ sta ++ other
  }

  private final class Streamed(val out: java.nio.file.Path, val runId: String,
      val batches: Seq[StreamingQueryProgress], val sendMs: Array[Long],
      val dueMs: Array[Long], val lateMs: Seq[Double], val burstStartMs: Long)

  /** Serve `log` over a fresh loopback socket into a fresh warehouse
    * stream. The first [[PrimeMessages]] messages are sent at once and
    * committed before anything is timed (they absorb the query's start),
    * the next `phase1` are paced at [[Phase1Rate]], and once they are
    * committed the rest are sent at once. Returns when the last line is
    * committed.
    */
  private def stream(log: AisData.Datalog, phase1: Int, name: String): Streamed = {
    val dir = ctx.dir(s"ais_live/$name")
    val out = dir.resolve("routes")
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val nLines = log.lines.length
    val sendMs = new Array[Long](nLines)
    val dueMs = new Array[Long](log.msgs.length)
    val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val query = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    def committed(): Long = Option(query.get).fold(0L)(id =>
      ctx.progress.of(id).filter(_.sources.nonEmpty).map(offsets(_)._2).maxOption.getOrElse(0L))
    @volatile var burstStartMs = 0L
    @volatile var genError: Throwable = null
    val gen = new Thread(() => {
      try {
        val sock = server.accept()
        val w = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream,
          StandardCharsets.UTF_8))
        var line = 0
        def send(m: AisData.Msg): Unit = m.lines.foreach { l =>
          w.write(l); w.write('\n'); sendMs(line) = System.currentTimeMillis(); line += 1
        }
        val prime = math.min(PrimeMessages, log.msgs.length)
        (0 until prime).foreach { i => dueMs(i) = System.currentTimeMillis(); send(log.msgs(i)) }
        w.flush()
        while (committed() < line) Thread.sleep(5)
        val t0 = System.currentTimeMillis()
        (prime until math.min(prime + phase1, log.msgs.length)).foreach { i =>
          val due = t0 + (i - prime) * 1000L / Phase1Rate
          val now = System.currentTimeMillis()
          if (due > now) Thread.sleep(due - now)
          dueMs(i) = due
          lateMs.add((System.currentTimeMillis() - due).toDouble)
          send(log.msgs(i))
          w.flush()
        }
        // a quiet gap: phase 1 is committed before the burst is sent, so
        // no phase-1 message shares a batch with the backlog
        while (committed() < line) Thread.sleep(5)
        burstStartMs = System.currentTimeMillis()
        (prime + phase1 until log.msgs.length).foreach { i =>
          dueMs(i) = burstStartMs; send(log.msgs(i))
        }
        w.flush()
        // hold the connection open until the stream stops reading
        while (!Thread.currentThread().isInterrupted) Thread.sleep(50)
        sock.close()
      } catch {
        case _: InterruptedException => ()
        case t: Throwable => genError = t
      }
    }, "perfbench-nmea-generator")
    gen.setDaemon(true)
    gen.start()
    val q = WarehouseStream.start(ctx.spark,
      Sources.tcpLines(ctx.spark, "127.0.0.1", server.getLocalPort),
      out.toString, dir.resolve("checkpoint").toString,
      trigger = Trigger.ProcessingTime(TriggerMs))
    query.set(q.runId)
    try {
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (committed() < nLines) {
        if (genError != null) throw genError
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"stream did not commit all $nLines lines in 90 s")
        Thread.sleep(20)
      }
    } finally {
      q.stop()
      q.awaitTermination()
      gen.interrupt()
      gen.join()
      server.close()
    }
    new Streamed(out, q.runId.toString, ctx.progress.of(q.runId)
      .filter(_.sources.nonEmpty), sendMs, dueMs, lateMs.asScala.toSeq, burstStartMs)
  }
}

object AisLive {
  /** Phase-1 rate, messages/s: 2–4% of the phase-2 drain rate measured
    * on a 4-core host (10,000–19,000 msg/s), well below the knee.
    */
  val Phase1Rate = 400
  /** Messages sent at once and committed before the timed phases. */
  val PrimeMessages = 300
  val BurstMessages = 40000
  /** The generated feed; phase 1 takes its head, the burst its tail. */
  val FeedMessages = PrimeMessages + Phase1Rate * 60 + BurstMessages
  val Vessels = 400
  /** Micro-batch trigger interval. `WarehouseStream.start`'s 5 s default
    * would leave about two batches in a run's phase 1.
    */
  val TriggerMs = 500L
  /** A phase-1 message committed later than this counts as failed. */
  val LatencyLimitMs = 10000.0
}
