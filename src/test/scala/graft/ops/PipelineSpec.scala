package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ais.Fixtures
import graft.jobs.GoldJob

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Synthetic datalog: every fixture group as lines with tag blocks whose
    * epoch increments per group (multi-fragment lines share the group's
    * tag, as in a real datalog).
    */
  private def datalogLines: Seq[String] =
    Fixtures.sentenceGroups.flatMap { case (fx, sentences) =>
      val epoch = 1673222400L + fx * 60
      sentences.map(s => s"\\s:stn,q:u,c:$epoch*00$s")
    }

  test("gold pipeline end-to-end: datalog -> decode -> asof -> zone count") {
    import spark.implicits._
    val lines = datalogLines.toDF("value")
    val decoded = GoldJob.decode(lines)
    // 24 decodable groups (type 16 drops)
    assert(decoded.count() === 24)
    val pos = GoldJob.positions(decoded)
    assert(pos.count() === 3)
    val gold = GoldJob.gold(decoded)
    assert(gold.count() === 3)
    // the type-5 static (fx3, epoch base+180) precedes no position rows
    // with smaller ts except fixtures 0..2; as-of semantics: positions at
    // fx0/fx1 (ts < static ts) have null shipName; mmsi must match anyway —
    // here mmsis differ so all statics are null
    assert(gold.filter($"shipName".isNotNull).count() === 0)
    // none of the fixture positions fall in TSS-Northbound...
    assert(GoldJob.zoneCount(gold).head().getLong(0) === 0)
    // ...but fx0 (102.32, 1.856) and fx14 (101.5, 2.5) are in Southbound
    val s = gold.filter(Geo.inTssSouthbound($"longitude", $"latitude"))
      .agg(countDistinct($"mmsi")).head().getLong(0)
    assert(s === 2)
  }

  /** `sentence` re-framed with another package id and/or mmsi (payload
    * bits 8-37, always in the first fragment) and a fresh checksum.
    */
  private def reframe(sentence: String, packageId: Option[Int] = None,
      mmsi: Option[Long] = None): String = {
    val alphabet = "0123456789:;<=>?@ABCDEFGHIJKLMNOPQRSTUVW`abcdefghijklmnopqrstuvw"
    val f = sentence.substring(1, sentence.indexOf('*')).split(",", -1)
    packageId.foreach(id => f(3) = id.toString)
    mmsi.foreach { m =>
      val bits = f(5).flatMap(c => (5 to 0 by -1).map(b => (alphabet.indexOf(c) >> b) & 1)).toArray
      (0 until 30).foreach(i => bits(8 + i) = ((m >> (29 - i)) & 1L).toInt)
      f(5) = bits.grouped(6).map(g => alphabet(g.reduce(_ * 2 + _))).mkString
    }
    val body = f.mkString(",")
    f"!$body*${body.foldLeft(0)(_ ^ _)}%02X"
  }

  test("single-pass gold equals the two-input as-of join on edge rows") {
    import spark.implicits._
    val pos = Fixtures.sentenceGroups(0)._2.head // type 1
    val Seq(st1, st2) = Fixtures.sentenceGroups(3)._2 // two-fragment type 5
    val (m, m2) = (244000001L, 244000002L)
    def static(id: Int, mmsi: Long) =
      Seq(reframe(st1, Some(id), Some(mmsi)), reframe(st2, Some(id)))
    def at(epoch: Long)(s: String) = s"\\s:stn,q:u,c:${1673222400L + epoch}*00$s"
    val p = reframe(pos, mmsi = Some(m))
    val badChecksum = p.dropRight(1) + (if (p.last == '0') "1" else "0")
    val lines = (datalogLines ++ Seq(
      at(0)(p),                                  // before any static: no imo
      at(10)(p)) ++                              // same second as the static
      static(1, m).map(at(10)) ++                //   below: inclusive match
      Seq(at(30)(badChecksum)) ++                // fails decode: dropped
      static(2, m2).map(s => s"\\s:stn,q:u*00$s") ++ // null ts: never carried
      Seq(at(40)(reframe(pos, mmsi = Some(m2))),
        at(50)(static(3, m).head),               // orphan fragment: no message
        at(60)(p))).toDF("value")
    val decoded = GoldJob.decode(lines)
    val twoInput = graft.operators.AsofJoin.asofJoin(
      GoldJob.positions(decoded),
      GoldJob.statics(decoded).withColumnRenamed("static_ts", "ts"),
      on = "ts", by = Seq("mmsi"),
      rightCols = Seq("imo", "callsign", "shipName", "shipType", "destination"))
    val imo = GoldJob.statics(decoded).filter($"mmsi" === m)
      .select($"imo").as[Long].head()
    for (onePass <- Seq(GoldJob.goldOf(lines), GoldJob.gold(decoded))) {
      assert(onePass.columns.toSeq === twoInput.columns.toSeq)
      assert(onePass.exceptAll(twoInput).count() === 0)
      assert(twoInput.exceptAll(onePass).count() === 0)
      val edge = onePass.filter($"mmsi".isin(m, m2))
        .select(unix_timestamp($"ts") - 1673222400L, $"mmsi", $"imo")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(edge === Set((0L, m, None), (10L, m, Some(imo)), (40L, m2, None),
        (60L, m, Some(imo))))
    }
  }

  test("gold write layout: date-partitioned files are (mmsi, ts)-sorted") {
    import spark.implicits._
    val in = Files.createTempDirectory("gold_sort_in").toString
    val out = Files.createTempDirectory("gold_sort_out").toString + "/gold"
    // 10 repeats of the fixture datalog at 2h-shifted tags: 30 position
    // rows across 3 mmsis, so the within-file sort has runs to check
    val lines = (0 until 10).flatMap { rep =>
      Fixtures.sentenceGroups.flatMap { case (fx, sentences) =>
        val epoch = 1673222400L + fx * 60 + rep * 7200
        sentences.map(s => s"\\s:stn,q:u,c:$epoch*00$s")
      }
    }
    Files.write(java.nio.file.Paths.get(in, "d.log"),
      lines.mkString("\n").getBytes("UTF-8"))
    GoldJob.run(spark, in, out)
    val partDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("event_date="))
    assert(partDirs.nonEmpty, "gold table must be date-partitioned on disk")
    val files = partDirs.flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    var multiRowFiles = 0
    for (f <- files) {
      // read ONE physical file: row order in it is the written order
      val rows = spark.read.parquet(f.getAbsolutePath)
        .select($"mmsi", $"ts").as[(Long, java.sql.Timestamp)].collect()
      if (rows.length > 1) multiRowFiles += 1
      val sorted = rows.sortBy(r => (r._1, r._2.getTime))
      assert(rows.toSeq === sorted.toSeq,
        s"${f.getName}: rows not (mmsi, ts)-sorted — row-group stats won't prune")
    }
    // the assertion must have had something to bite on
    assert(multiRowFiles > 0, "expected at least one multi-row gold file")
  }

  test("as-of join picks latest static at or before position ts per mmsi") {
    import spark.implicits._
    val pos = Seq(
      (100L, 10L, 1.0), (200L, 10L, 2.0), (50L, 10L, 0.5),
      (100L, 20L, 9.0)).toDF("ts", "mmsi", "sog")
    val stat = Seq(
      (90L, 10L, "A"), (100L, 10L, "B"), (150L, 10L, "C"),
      (500L, 20L, "Z")).toDF("ts", "mmsi", "shipName")
    val joined = graft.operators.AsofJoin
      .asofJoin(pos, stat, on = "ts", by = Seq("mmsi"), rightCols = Seq("shipName"))
      .select($"ts", $"mmsi", $"shipName").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(joined === Set(
      (50L, 10L, None),           // nothing at or before 50
      (100L, 10L, Some("B")),     // tie at 100 -> inclusive (backward)
      (200L, 10L, Some("C")),
      (100L, 20L, None)))         // static arrives later
  }

  test("reassembly eviction prevents stale-fragment splices on key reuse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // NMEA package ids cycle 0-9: a lost fragment's state must EVICT
    // before a later message reuses its (packageId, channel, total) key,
    // or distinctBy(packageNo) splices the stale fragment into the new
    // message (garbage decode). Driven WITHOUT processAllAvailable —
    // processing-time timers fire empty micro-batches forever, so the
    // test polls the sink instead.
    val mem = MemoryStream[Reassembly.Fragment]
    val q = Reassembly.assembleStream(mem.toDS(), Some("200 milliseconds"))
      .writeStream.format("memory").queryName("assembled_evict")
      .outputMode("append").start()
    try {
      val Seq(s1, s2) = Fixtures.sentenceGroups(3)._2
      mem.addData(Reassembly.Fragment(9, "A", 2, 1, s1, "tagM1")) // frag 2 lost
      Thread.sleep(1500) // timer batches evict the orphan
      mem.addData(
        Reassembly.Fragment(9, "A", 2, 1, s1, "tagM2"),
        Reassembly.Fragment(9, "A", 2, 2, s2, "tagM2"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      var rows = Array.empty[Reassembly.Assembled]
      while (rows.isEmpty && System.nanoTime() < deadline) {
        rows = spark.table("assembled_evict").as[Reassembly.Assembled].collect()
        if (rows.isEmpty) Thread.sleep(100)
      }
      assert(rows.length === 1, "exactly the reused-key message assembles")
      assert(rows.head.tagblock === "tagM2",
        "the stale M1 fragment must have been evicted, not spliced in")
      assert(rows.head.sentences === Seq(s1, s2))
    } finally q.stop()
  }

  test("as-of join drops null-ts right rows and resolves ties deterministically") {
    import spark.implicits._
    // a right row with null `on` must never match (merge_asof: a null
    // timestamp precedes nothing) — it used to sort NULLS FIRST and be
    // carried into left rows with no true predecessor
    val pos = Seq((50L, 10L, 1.0)).toDF("ts", "mmsi", "sog")
    val statNull = Seq(
      (Option.empty[Long], 10L, "GHOST"), (Option(100L), 10L, "LATE"))
      .toDF("ts", "mmsi", "shipName")
    val j1 = graft.operators.AsofJoin
      .asofJoin(pos, statNull, on = "ts", by = Seq("mmsi"),
        rightCols = Seq("shipName"))
      .select($"shipName").as[Option[String]].collect().toSeq
    assert(j1 === Seq(None), s"null-ts right row must not match, got $j1")
    // right rows tied on (by, on): the greatest rightCols tuple wins,
    // every run (window order would otherwise leave it to shuffle order)
    val statTie = Seq((40L, 10L, "A"), (40L, 10L, "B")).toDF("ts", "mmsi", "shipName")
    (1 to 3).foreach { _ =>
      val j2 = graft.operators.AsofJoin
        .asofJoin(pos, statTie, on = "ts", by = Seq("mmsi"),
          rightCols = Seq("shipName"))
        .select($"shipName").as[String].collect().toSeq
      assert(j2 === Seq("B"), s"tie must resolve to the greatest tuple, got $j2")
    }
  }

  test("streaming reassembly completes sessions and evicts on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Reassembly.Fragment]
    val q = Reassembly.assembleStream(mem.toDS())
      .writeStream.format("memory").queryName("assembled")
      .outputMode("append").start()
    try {
      val Seq(s1, s2) = Fixtures.sentenceGroups(3)._2
      mem.addData(Reassembly.Fragment(9, "A", 2, 1, s1, "tag1"))
      q.processAllAvailable()
      assert(spark.table("assembled").count() === 0)
      mem.addData(Reassembly.Fragment(9, "A", 2, 2, s2, "tag2"))
      q.processAllAvailable()
      val rows = spark.table("assembled").as[Reassembly.Assembled].collect()
      assert(rows.length === 1)
      assert(rows.head.sentences === Seq(s1, s2))
      assert(rows.head.tagblock === "tag1") // from fragment 1
    } finally q.stop()
  }

  test("streaming zone tracker emits entry/exit transitions per vessel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val inside = (102.2, 2.0)   // mid-strait, inside TSS-Northbound
    val outside = (99.0, 5.0)
    assert(GeoMath.rayCast(inside._1, inside._2, TssZones.Northbound))
    assert(!GeoMath.rayCast(outside._1, outside._2, TssZones.Northbound))
    val mem = MemoryStream[ZoneTracker.VesselPos]
    val q = ZoneTracker.transitions(mem.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      mem.addData(
        ZoneTracker.VesselPos(1L, ts(1), outside._1, outside._2),
        ZoneTracker.VesselPos(1L, ts(2), inside._1, inside._2))
      q.processAllAvailable()
      mem.addData(ZoneTracker.VesselPos(1L, ts(3), outside._1, outside._2))
      q.processAllAvailable()
      val rows = spark.table("transitions").as[ZoneTracker.ZoneTransition]
        .collect().sortBy(_.ts.getTime)
      assert(rows.map(r => (r.zone, r.entered)).toSeq ===
        Seq(("N", true), ("N", false)))
    } finally q.stop()
  }

  test("telemetry route aligns DAC533 FID1/2/4 schemas") {
    import spark.implicits._
    val decoded = GoldJob.decode(datalogLines.toDF("value"))
    val t = Routes.telemetryRoute(decoded)
    // corpus: fx4 = 533/4, fx12 = 533/1, fx23 = 533/2
    assert(t.count() === 3)
    val byFid = t.collect().map(r => r.getAs[Int]("fid") -> r).toMap
    assert(byFid.keySet === Set(1, 2, 4))
    // FID1 remap: lantern_batt(3) -> buoy_led_power
    assert(byFid(1).getAs[Int]("buoy_led_power") === 3)
    // FID2 zero-fill
    assert(byFid(2).getAs[Int]("buoy_temp") === 0)
  }
}
