package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ais.AisDecoder
import graft.ops.{Reassembly, Routes}

/** The reference's streaming warehouse topology (SURVEY §3.2) collapsed
  * into one Spark lineage: the three TCP processes
  * (ais_ingressServer.py -> ais_nmeaParserSocket.py -> ais_egressServerCH.py)
  * become reassembly -> decode -> four routed sinks off a single decoded
  * stream. The reference's count-20 insert buffering (R11,
  * ais_egressServerCH.py:111) becomes the micro-batch trigger — a
  * documented semantic change: time-bounded batches instead of row-count
  * bounded, with checkpointed at-least-once delivery instead of the
  * reference's at-most-once buffered inserts.
  */
object WarehouseStream {

  /** Raw sentence lines -> decoded union-struct stream (with event ts).
    * `evictionTimeout` bounds reassembly state: NMEA package ids cycle
    * 0-9, so without eviction a lost fragment's stale state splices
    * with the NEXT message that reuses its key (garbage decode rows).
    *
    * A message that fails to decode keeps a null `d`; every route drops
    * it with its `d.messageType` filter. A `d` null filter here would be
    * pushed under the decode projection and decode every message twice.
    */
  def decodedStream(lines: DataFrame,
      evictionTimeout: Option[String] = Some("60 seconds")): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val frags = Reassembly.parseFragments(lines).as[Reassembly.Fragment]
    val assembled = Reassembly.assembleStream(frags, evictionTimeout).toDF()
    assembled
      .withColumn("ts", current_timestamp()) // processing-time stamp, as the
                                             // reference does at ingest
                                             // (ais_egressServerCH.py:132-134)
      .withColumn("d", AisDecoder.ais_decode(col("sentences")))
  }

  /** Start the four warehouse routes under `outDir`/(position|static|
    * type21|type6_533) as ONE streaming query whose foreachBatch fans
    * the cached micro-batch out to the four route writers.
    *
    * One query, not four: four independent .start()s would each
    * re-execute the full source+reassembly+decode lineage per trigger,
    * and with the push-buffer socket sources (driver-buffered,
    * non-replayable) each query would consume a DIFFERENT slice of the
    * feed — the four tables would disagree about which messages exist.
    * Here the batch is decoded once, persisted, routed four ways, and
    * every route sees the identical slice. foreachBatch is also exactly
    * the JDBC/ClickHouse hook in production; the parquet appends here
    * are at-least-once under crash-replay (the JDBC variant's upsert
    * absorbs replays — see UpsertSink's idempotence spec).
    */
  def start(spark: SparkSession, lines: DataFrame, outDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      evictionTimeout: Option[String] = Some("60 seconds"))
      : StreamingQuery = {
    val decoded = decodedStream(lines, evictionTimeout)
    decoded.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", s"$checkpointDir/warehouse")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val b = batch.persist()
        try {
          Routes.positionRoute(b).write.mode("append").parquet(s"$outDir/position")
          Routes.staticRoute(b).write.mode("append").parquet(s"$outDir/static")
          Routes.aidNavRoute(b).write.mode("append").parquet(s"$outDir/type21")
          Routes.telemetryRoute(b).write.mode("append").parquet(s"$outDir/type6_533")
        } finally { b.unpersist(); () }
      }
      .start()
  }
}
