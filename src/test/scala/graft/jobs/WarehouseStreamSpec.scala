package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.ais.Fixtures
import graft.ops.Routes

class WarehouseStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def groupLines(groups: Seq[(Int, Seq[String])]): Seq[String] =
    groups.flatMap { case (fx, ss) => ss.map(s => s"\\s:stn,q:u,c:${1673222400L + fx}*00$s") }

  test("streaming warehouse: datalog file stream fans out to four tables") {
    val in = Files.createTempDirectory("wh_in").toString
    val out = Files.createTempDirectory("wh_out").toString
    val ckpt = Files.createTempDirectory("wh_ckpt").toString
    Files.write(Paths.get(in, "datalog.txt"),
      groupLines(Fixtures.sentenceGroups).mkString("\n").getBytes)

    // single query: one decode per trigger, all four routes fed the
    // identical micro-batch slice
    val q = WarehouseStream.start(spark, spark.readStream.text(in),
      out, ckpt, Trigger.AvailableNow(), evictionTimeout = None)
    try q.awaitTermination(120000)
    finally q.stop()

    val pos = spark.read.parquet(s"$out/position")
    val stat = spark.read.parquet(s"$out/static")
    val t21 = spark.read.parquet(s"$out/type21")
    val tel = spark.read.parquet(s"$out/type6_533")
    assert(pos.count() === 3)   // fixture types 1/2/3
    assert(stat.count() === 1)  // the 2-fragment type 5
    assert(t21.count() === 1)
    assert(tel.count() === 3)   // DAC533 fids 1/2/4
    // schema alignment holds through the streaming path
    assert(tel.columns.contains("buoy_led_power"))
  }

  test("streaming warehouse: a late landing file's positions equal the batch position route") {
    import spark.implicits._
    val in = Files.createTempDirectory("wh_late_in").toString
    val out = Files.createTempDirectory("wh_late_out").toString
    val ckpt = Files.createTempDirectory("wh_late_ckpt").toString
    // two landing files, split on a message-group boundary: the first
    // carries the type 1 and 3 positions, the second the type 2 one
    val (first, second) = Fixtures.sentenceGroups.splitAt(12)
    Files.write(Paths.get(in, "part-0.log"), groupLines(first).mkString("\n").getBytes)
    // evictionTimeout None: processing-time timers fire empty timer
    // micro-batches forever, livelocking processAllAvailable (see
    // assembleStream's doc)
    val q = WarehouseStream.start(spark, spark.readStream.text(in),
      out, ckpt, Trigger.ProcessingTime(0L), evictionTimeout = None)
    try {
      q.processAllAvailable()
      // the stream must pick up a file that lands after its first batch
      Files.write(Paths.get(in, "part-1.log"), groupLines(second).mkString("\n").getBytes)
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) === 2,
        "each landing file arrives in its own micro-batch")
    } finally q.stop()

    def positions(df: org.apache.spark.sql.DataFrame) =
      df.select($"mmsi", $"latitude", $"longitude")
        .as[(Long, Double, Double)].collect().toSeq.sorted
    val streamed = positions(spark.read.parquet(s"$out/position"))
    val batch = positions(Routes.positionRoute(GoldJob.decode(
      groupLines(Fixtures.sentenceGroups).toDF("value"))))
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }
}
