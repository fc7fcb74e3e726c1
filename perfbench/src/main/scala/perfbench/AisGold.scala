package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.GoldJob
import graft.ops.{Reassembly, ZoneTracker}

/** `ais_gold`: a seeded multi-day datalog through `GoldJob.run` (fragment
  * parse, batch reassembly, peek-filtered decode, the as-of gold join,
  * the partitioned sorted parquet write and the zone count), then
  * `ZoneTracker.transitions` over the gold positions, repeated for the
  * run. Each line's latency is the wall time of the build that
  * turned it into gold. The traced run also measures the live path
  * ([[AisLive]]) for its layers.
  */
final class AisGold(ctx: Ctx) extends Workload {
  import AisGold._
  import ctx.spark.implicits._

  private var log: AisData.Datalog = _
  private var truth: AisData.GoldTruth = _
  private var datalog: Path = _

  def setup(rep: Int): Unit = {
    log = AisData.generate(ctx.seed, Messages, Vessels)
    datalog = ctx.dir(s"ais_gold/datalog_$rep")
    // one file per UTC day of event time
    log.msgs.groupBy(_.epoch / 86400).foreach { case (day, ms) =>
      Files.write(datalog.resolve(s"day$day.nmea"),
        ms.sortBy(_.seq).flatMap(_.lines).toSeq.asJava)
    }
    truth = AisData.goldTruth(log)
  }

  /** [[WarmBuilds]] full builds, so that the JIT compiles the build's
    * code before the window; the window reports the median build.
    */
  def warmUp(): Unit = (0 until WarmBuilds).foreach { i =>
    val warm = ctx.dir("ais_gold/warm").resolve(s"gold_$i").toString
    GoldJob.run(ctx.spark, datalog.toString, warm)
    transitions(warm)
    Dirs.delete(java.nio.file.Paths.get(warm))
  }

  private def transitions(gold: String): Long =
    ZoneTracker.transitions(ctx.spark.read.parquet(gold)
      .select(col("mmsi"), col("ts"), col("longitude").as("lon"),
        col("latitude").as("lat"))
      .as[ZoneTracker.VesselPos]).count()

  def run(seconds: Double, tracer: Tracer, r: Result): Unit = {
    val (checked, bad) = AisData.selfCheck(log)
    r.attempted += checked
    r.fail(bad, "generator self-check: decoded fields differ from the encoded ones")

    val lines = log.lines.length.toLong
    val walls = Seq.newBuilder[Double]
    val out = ctx.dir(s"ais_gold/out_${if (tracer.enabled) "traced" else "plain"}")
    val layers = new Layers
    var runs = 0
    var last: String = null
    val t0 = System.nanoTime()
    while (runs == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val gold = out.resolve(s"gold_$runs").toString
      val w0 = System.nanoTime()
      val (zones, trans) =
        if (tracer.enabled) layered(tracer, gold, layers)
        else (GoldJob.run(ctx.spark, datalog.toString, gold), transitions(gold))
      walls += (System.nanoTime() - w0) / 1e9
      r.attempted += truth.rows
      if (zones != truth.northVessels || trans != truth.transitions)
        r.fail(truth.rows, s"run $runs: zone count $zones (want ${truth.northVessels}), " +
          s"transitions $trans (want ${truth.transitions})")
      if (last != null) Dirs.delete(java.nio.file.Paths.get(last))
      last = gold
      runs += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    checkRows(last, r)
    if (tracer.enabled) checkLayered(last, layers, r)

    val w = walls.result()
    r.throughput = lines * runs / elapsed
    r.e2e("throughput_per_s") = (r.throughput, "items/s")
    // every line of a build waits for the whole build
    val perLine = w.map(x => (x * 1000.0, lines))
    r.e2e("latency_p50_ms") = (Stats.weightedPercentile(perLine, 0.5).value.get, "ms")
    r.e2e("batch_s") = (Stats.median(w), "s")
    r.e2e("stored_bytes_per_input_byte") =
      (Dirs.bytes(java.nio.file.Paths.get(last)).toDouble / log.bytes, "ratio")
    println(f"ais_gold: $runs builds of $lines lines, median ${Stats.median(w)}%.3f s (${w.map(x => f"$x%.2f").mkString(" ")})")

    if (tracer.enabled) {
      tracer.settle()
      def per(x: Double) = x / runs
      def mb(b: Long) = b / 1048576.0 / runs
      val re = tracer.totals("ops.reassembly")
      r.layer("ops.reassembly.wall_s") = (per(tracer.wallS("ops.reassembly")), "s")
      r.layer("ops.reassembly.task_s") = (per(re.taskS), "s")
      r.layer("ops.reassembly.shuffle_write_mb") = (mb(re.shuffleWrite), "MB")
      r.layer("ops.reassembly.frags_in") = (layers.fragsIn.toDouble, "count")
      r.layer("ops.reassembly.msgs_out") = (layers.msgsOut.toDouble, "count")
      val de = tracer.totals("ais.decode")
      r.layer("ais.decode.wall_s") = (per(tracer.wallS("ais.decode")), "s")
      r.layer("ais.decode.task_s") = (per(de.taskS), "s")
      r.layer("ais.decode.msgs_in") = (layers.decodeIn.toDouble, "count")
      r.layer("ais.decode.ok_frac") =
        (Stats.Ratio(layers.decodeOk, layers.decodeIn).value.getOrElse(0.0), "ratio")
      r.layer("ais.decode.peek_skip_frac") = (Stats.Ratio(
        layers.msgsOut - layers.decodeIn, layers.msgsOut).value.getOrElse(0.0), "ratio")
      val as = tracer.totals("operators.asof")
      r.layer("operators.asof.wall_s") = (per(tracer.wallS("operators.asof")), "s")
      r.layer("operators.asof.task_s") = (per(as.taskS), "s")
      r.layer("operators.asof.shuffle_read_mb") = (mb(as.shuffleRead), "MB")
      r.layer("operators.asof.spill_mb") = (mb(as.spill), "MB")
      r.layer("operators.asof.rows_out") = (layers.goldRows.toDouble, "count")
      r.layer("operators.asof.match_frac") =
        (Stats.Ratio(layers.matched, layers.goldRows).value.getOrElse(0.0), "ratio")
      r.layer("jobs.gold_write.wall_s") = (per(tracer.wallS("jobs.gold_write")), "s")
      r.layer("jobs.gold_write.bytes") = (Dirs.bytes(java.nio.file.Paths.get(last)).toDouble, "bytes")
      r.layer("jobs.gold_write.files") = (Dirs.dataFiles(java.nio.file.Paths.get(last)).toDouble, "count")
      r.layer("ops.zones.wall_s") = (per(tracer.wallS("ops.zones")), "s")
      r.layer("ops.zones.points") = (layers.goldRows.toDouble, "count")
      r.layer("ops.zones.transitions") = (layers.transitions.toDouble, "count")
      println(s"ais_gold layers: frags ${layers.fragsIn}, msgs ${layers.msgsOut}, " +
        s"decode ok ${Stats.Ratio(layers.decodeOk, layers.decodeIn)}, " +
        s"as-of matched ${Stats.Ratio(layers.matched, layers.goldRows)}")
      // the live path's layers: measured here, after the builds
      new AisLive(ctx).measure(LivePhase1S, tracer, r)
    }
  }

  /** One build with each layer's output persisted and counted under its
    * own span, so each layer's time is visible from outside. The steps
    * are `GoldJob.run`'s, through the same public functions, except the
    * write and the peek count, which copy its private code;
    * [[checkLayered]] fails the run when the copy and the program part.
    */
  private def layered(tracer: Tracer, gold: String, l: Layers): (Long, Long) = {
    val lines = ctx.spark.read.text(datalog.toString)
    val (frags, assembled) = tracer.span("ops.reassembly") {
      val f = Reassembly.parseFragments(lines).persist()
      l.fragsIn = f.count()
      val a = Reassembly.assembleBatch(f).persist()
      l.msgsOut = a.count()
      (f, a)
    }
    val decoded = tracer.span("ais.decode") {
      l.decodeIn = assembled.filter(Peek.isin(PeekTypes: _*)).count()
      val d = GoldJob.decode(lines, PeekTypes).persist()
      l.decodeOk = d.count()
      d
    }
    val g = tracer.span("operators.asof") {
      val g = GoldJob.gold(decoded).persist()
      l.goldRows = g.count()
      l.matched = g.filter(col("imo").isNotNull).count()
      g
    }
    tracer.span("jobs.gold_write") {
      g.withColumn("event_date", to_date(col("ts")))
        .sortWithinPartitions(col("event_date"), col("mmsi"), col("ts"))
        .write.mode("overwrite").partitionBy("event_date").parquet(gold)
    }
    val res = tracer.span("ops.zones") {
      val zones = GoldJob.zoneCount(ctx.spark.read.parquet(gold)).head().getLong(0)
      l.transitions = transitions(gold)
      (zones, l.transitions)
    }
    Seq[DataFrame](g, decoded, assembled, frags).foreach(_.unpersist())
    res
  }

  /** The traced build copies `GoldJob.run`'s write (sort, layout) and
    * its peek expression, so that each layer can be timed. If the
    * program's own build no longer matches the copy, the per-layer
    * figures would describe code the program does not run: the copy's
    * output must equal one `GoldJob.run` of the same datalog in every
    * date partition's file count and bytes, the copy's peek must admit
    * exactly the generated messages of the peek types, and the
    * program's peek-filtered decode must return exactly the valid ones.
    */
  private def checkLayered(traced: String, l: Layers, r: Result): Unit = {
    val ref = ctx.dir("ais_gold/reference").resolve("gold").toString
    GoldJob.run(ctx.spark, datalog.toString, ref)
    def layout(dir: String): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).map { p =>
        p.getFileName.toString -> (Dirs.dataFiles(p), Dirs.bytes(p))
      }.toMap
    }
    val (want, got) = (layout(ref), layout(traced))
    r.attempted += 3
    if (want != got) r.fail(1, s"traced gold write differs from GoldJob.run's: " +
      s"partitions (files, bytes) $got, want $want")
    if (l.decodeIn != truth.peekIn) r.fail(1, s"traced peek admitted ${l.decodeIn} " +
      s"messages, want ${truth.peekIn}")
    if (l.decodeOk != truth.decoded) r.fail(1, s"GoldJob.decode returned ${l.decodeOk} " +
      s"messages, want ${truth.decoded}")
    Dirs.delete(java.nio.file.Paths.get(ref))
  }

  /** Every gold row against the ground truth: one row per valid
    * position, each carrying the IMO of the latest earlier static.
    */
  private def checkRows(gold: String, r: Result): Unit = {
    val rows = ctx.spark.read.parquet(gold)
      .select(col("mmsi"), unix_timestamp(col("ts")).as("epoch"), col("imo"))
      .collect()
    val seen = new java.util.HashSet[(Long, Long)]()
    var bad = 0L
    rows.foreach { row =>
      val key = (row.getLong(0), row.getLong(1))
      val imo = if (row.isNullAt(2)) None else Some(row.getInt(2))
      if (!seen.add(key) || !truth.expectedImo.get(key).contains(imo)) bad += 1
    }
    val missing = truth.rows - seen.size
    val matched = rows.count(!_.isNullAt(2)).toLong
    r.fail(bad + missing, s"gold rows: $bad wrong or repeated, $missing missing " +
      s"(as-of matched $matched, want ${truth.matches})")
  }
}

object AisGold {
  /** Scheduled transmissions in the datalog: about 31 min of event
    * time from [[Vessels]] vessels and the fixed stations.
    */
  val Messages = 80000
  val WarmBuilds = 2
  /** Seconds of paced live traffic in the traced run. */
  val LivePhase1S = 6.0
  /** Vessels, the as-of key cardinality (derived in BASELINE.md). */
  val Vessels = 400
  /** The gold job's peek set: positions and statics. */
  val PeekTypes = Seq("1", "2", "3", "5")
  val Peek = substring(element_at(split(element_at(col("sentences"), 1), ","), 6), 1, 1)

  final class Layers {
    var fragsIn = 0L; var msgsOut = 0L; var decodeIn = 0L; var decodeOk = 0L
    var goldRows = 0L; var matched = 0L; var transitions = 0L
  }
}

/** Directory helpers for output sizes. */
object Dirs {
  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Bytes of the data files under `p` (Spark's `_`/`.` files excluded). */
  def bytes(p: Path): Long = files(p).filter(isData).map(Files.size).sum

  def dataFiles(p: Path): Long = files(p).count(isData).toLong

  private def isData(f: Path): Boolean = {
    val n = f.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }
}
