package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ais.AisDecoder
import graft.operators.AsofJoin
import graft.ops.{Geo, Reassembly}

/** The reference's batch "gold table" pipeline (SURVEY §3.1,
  * ais_analysis.py:308-498 / ais_analysis_polars.py): raw datalog lines ->
  * fragment parse + reassembly -> cheap type peek -> decode -> position &
  * static silver projections -> as-of join (gold) -> TSS zone count.
  *
  * Spark-first shape: everything is one declarative plan. Two parts of it
  * are written by hand because Catalyst cannot see through the opaque
  * bit-parser expression (SURVEY §4): the payload-first-char peek before
  * the decode kernel, and the single-pass gold plan ([[gold]]).
  *
  * Decode-once rule: never filter on the output of an opaque kernel below
  * an exchange. Predicate pushdown moves such a filter under the
  * projection that computes the kernel, substituting the kernel call for
  * the column, so each pushed filter runs the kernel again. [[gold]]
  * therefore keeps every decoded row, failed decodes included, until the
  * as-of window's exchange, and selects rows only above it.
  *
  * Scale: reassembly shuffles once on session id (tiny groups), decode is
  * one kernel call per peek-admitted message in a narrow projection, the
  * as-of window shuffles once on mmsi, and the zone count is a codegen'd
  * predicate + partial/final agg. Partition the gold output by date(ts)
  * for downstream pruning.
  */
object GoldJob {

  /** Tag-block event time: 3rd comma field, chars after a 2-char prefix up
    * to '*' are epoch seconds (ais_analysis.py:383-388). A tag block
    * without that field, or with a non-numeric one, gives a null time
    * instead of failing the whole build under ANSI mode.
    */
  private def tagTs(tag: Column) =
    to_timestamp(from_unixtime(
      regexp_extract(try_element_at(split(tag, ","), lit(3)), "^.{2}([^*]*)", 1)
        .try_cast("long")))

  /** Decode a datalog of raw lines (column `value`) into ts + union struct,
    * keeping only the messages that decode.
    *
    * `peekChars` is the hand-written pushdown from the reference
    * (ais_analysis.py:339-340): the first armored payload char IS the 6-bit
    * message type, so filtering on it skips the expensive decode kernel
    * for unwanted types — Catalyst can't derive this through an opaque
    * expression.
    *
    * The `d` null filter is pushed under the decode projection, so the
    * kernel runs once in the filter and again in the projection for each
    * message that passes. [[run]] does not go through here (see the
    * decode-once rule above).
    */
  def decode(lines: DataFrame, peekChars: Seq[String] = Nil): DataFrame =
    decodeAll(lines, peekChars).filter(col("d").isNotNull)

  /** [[decode]] without the null filter: one kernel call per peek-admitted
    * message, and a null `d` for a message that fails to decode.
    */
  private def decodeAll(lines: DataFrame, peekChars: Seq[String]): DataFrame = {
    val assembled = Reassembly.assembleBatch(Reassembly.parseFragments(lines))
    val peek = substring(element_at(split(element_at(col("sentences"), 1), ","), 6), 1, 1)
    val filtered =
      if (peekChars.nonEmpty) assembled.filter(peek.isin(peekChars: _*))
      else assembled
    filtered
      .withColumn("ts", tagTs(col("tagblock")))
      .withColumn("d", AisDecoder.ais_decode(col("sentences")))
  }

  /** Position silver projection (types 1/2/3; ais_analysis_polars.py:391-403). */
  def positions(decoded: DataFrame): DataFrame =
    decoded.filter(col("d.messageType").isin(1, 2, 3)).select(positionCols: _*)

  private def positionCols: Seq[Column] = Seq(
    col("ts"), col("d.messageType").as("messageType"), col("d.mmsi").as("mmsi"),
    col("d.position.sog").as("sog"), col("d.position.cog").as("cog"),
    col("d.position.rot").as("rot"),
    col("d.position.trueHeading").as("trueHeading"),
    col("d.position.latitude").as("latitude"),
    col("d.position.longitude").as("longitude"))

  /** Static silver projection (type 5; ais_analysis_polars.py:361-376). */
  def statics(decoded: DataFrame): DataFrame =
    decoded.filter(col("d.messageType") === 5).select(
      col("ts").as("static_ts"), col("d.mmsi").as("mmsi"),
      col("d.staticVoyage.imo").as("imo"),
      col("d.staticVoyage.callsign").as("callsign"),
      col("d.staticVoyage.shipName").as("shipName"),
      col("d.staticVoyage.shipType").as("shipType"),
      col("d.staticVoyage.destination").as("destination"))

  /** The gold table: positions as-of joined with the latest static row per
    * mmsi (ais_analysis.py:476). Equal to
    * `AsofJoin.asofJoin(positions(decoded), statics(decoded), ...)`, but
    * built in one pass: one tagged projection over `decoded` marks
    * positions (types 1/2/3) as left rows and type-5 statics with an event
    * time as right rows, and only right rows carry the static columns.
    * Every other row, a failed decode included, gets a null side and is
    * dropped above the as-of window ([[AsofJoin.asofTagged]]). No filter
    * on `d` sits below the window's exchange, so the decode kernel runs
    * once per message (the decode-once rule above).
    */
  def gold(decoded: DataFrame): DataFrame = {
    val staticCols = Seq("imo", "callsign", "shipName", "shipType", "destination")
    val t = col("d.messageType")
    val isStatic = t === 5 && col("ts").isNotNull
    val tagged = decoded.select(positionCols ++
      (when(t.isin(1, 2, 3), 1).when(isStatic, 0).as(AsofJoin.Side) +:
        staticCols.map(c => when(isStatic, col(s"d.staticVoyage.$c")).as(c))): _*)
    AsofJoin.asofTagged(tagged, on = "ts", by = Seq("mmsi"), rightCols = staticCols)
  }

  /** Flagship slice: distinct vessels inside TSS-Northbound. */
  def zoneCount(goldDf: DataFrame): DataFrame =
    goldDf
      .filter(Geo.inTssNorthbound(col("longitude"), col("latitude")))
      .agg(countDistinct(col("mmsi")).as("n_vessels"))

  /** End-to-end: datalog path -> gold parquet + zone count. The gold
    * table is written partitioned by event date so downstream
    * time-ranged reads prune whole partitions before row-group pruning
    * (SCALE.md scan contract) — at 100 TB a day's analysis touches a
    * day's files. Within each date partition, rows are sorted by
    * (mmsi, ts): parquet row-group min/max stats on mmsi then cover
    * disjoint id ranges, so a vessel-probe query (`WHERE mmsi = x`)
    * skips every row group but the one holding that vessel — without
    * the sort, each vessel's rows smear across all row groups and the
    * stats prune nothing.
    */
  def run(spark: SparkSession, datalogPath: String, goldOut: String): Long = {
    goldOf(spark.read.text(datalogPath))
      .withColumn("event_date", to_date(col("ts")))
      .sortWithinPartitions(col("event_date"), col("mmsi"), col("ts"))
      .write.mode("overwrite").partitionBy("event_date").parquet(goldOut)
    zoneCount(spark.read.parquet(goldOut)).head().getLong(0)
  }

  /** The gold frame [[run]] writes: [[gold]] over the unfiltered decode,
    * with the peek admitting types 1/2/3 + 5 only (the gold table's
    * inputs).
    */
  private[graft] def goldOf(lines: DataFrame): DataFrame =
    gold(decodeAll(lines, Seq("1", "2", "3", "5")))
}
