package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Bounded-state event-time streaming (SURVEY §2.4): watermarked dedup,
  * event-time key expiry and session windows. The reference keeps state
  * forever and stamps processing time (ais_egressServerCH.py:132-134);
  * these add the event-time/watermark discipline a 100 TB stream needs —
  * state is dropped once the watermark passes, so long-running state
  * size is bounded by (watermark delay x event rate), not by stream
  * lifetime.
  *
  * The session windows run identically in batch (withWatermark is a
  * no-op there), which is how they are oracle-checked (q34).
  */
object StreamOps {

  /** Streaming exact dedup with BOUNDED state: duplicates are dropped
    * only within the watermark horizon, so per-key state is evicted once
    * the watermark passes — at 100 TB the dedup state is (watermark
    * delay x arrival rate), not the full history the reference's
    * dictionary-based dedup would accumulate.
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           idCols: Seq[String], watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  final case class Expiry(key: Long, last_ts: Timestamp, status: String)

  /** Track liveness with EVENT-TIME timeout: keep each key's last-seen
    * timestamp; when the watermark passes last_seen + ttl the state is
    * evicted and one EXPIRED record is emitted. This is the bounded
    * replacement for the reference's forever-dictionaries (vessel/track
    * maps that only ever grow): state size is live keys, not all keys
    * ever seen. Event-time timeout (not processing-time) keeps the
    * operator deterministic in replay/backfill.
    *
    * Spark only fires the timeout path for keys with NO data in the
    * batch, so a silence longer than ttl that ends INSIDE a batch (a
    * same-batch revival, or a whole backfill landing in one batch)
    * would never surface through hasTimedOut. The data branch therefore
    * emits the EXPIRED record for every gap > ttl it can see itself —
    * between the stored last_ts and the batch's events, and between
    * successive events within the batch — which is exactly what makes
    * live and replay runs emit the SAME expiries regardless of
    * batching. (The events slice is buffered and sorted per (key,
    * batch) — trigger sizing bounds it.)
    */
  def trackExpiry(events: Dataset[(Long, Timestamp)], ttlSeconds: Long,
                  watermarkDelay: String): Dataset[Expiry] = {
    require(ttlSeconds > 0, s"ttlSeconds must be positive, got $ttlSeconds")
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF("key", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Timestamp, Expiry](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, it, state) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(Expiry(key, last, "EXPIRED"))
          } else {
            val ts = it.map(_._2).toArray.sortBy(_.getTime)
            val expiries = Vector.newBuilder[Expiry]
            var last: Timestamp = state.getOption.orNull
            ts.foreach { t =>
              if (last != null && t.getTime - last.getTime > ttlSeconds * 1000L)
                expiries += Expiry(key, last, "EXPIRED")
              if (last == null || t.getTime > last.getTime) last = t
            }
            state.update(last)
            state.setTimeoutTimestamp(last.getTime + ttlSeconds * 1000L)
            expiries.result().iterator
          }
      }
  }

  /** Session windows (built-in state merge): a session extends while the
    * next event arrives strictly before last_ts + gap; window end is
    * last_ts + gap. In append mode a session emits once the watermark
    * passes its end, and events older than the watermark are dropped.
    * The streaming twin of the batch gaps-and-islands operator
    * (graft.operators.Sessionize) — split rule differs by one ulp of the
    * gap (>= here, > there), both oracle-checked.
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
}
