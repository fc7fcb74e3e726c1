package graft.ais

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import Armor._

/** The AIS decode kernel: multi-fragment sentence group -> [[AisDecoded]].
  *
  * Pure JVM function (no I/O, deterministic), exposed as a Scala UDF
  * returning the wide union struct. Semantics replicate the reference
  * byte-for-byte, including its quirks (SURVEY §7.4 item 1):
  *  - ROT of raw 0 is -0.0 (ais_parser.py:42-43's `else -(x)**2` branch);
  *  - type 16 decodes to NULL — the reference's parser returns None and
  *    its dispatcher crashes on `dict.update(None)` (ais_parser.py:513-524,
  *    observed: TypeError), so the message is dropped;
  *  - type 21 ext_name only when bits-after-271 > 292 (ais_parser.py:638);
  *  - type 24 chooses Part A vs B on payload-length != 168
  *    (ais_parser.py:649);
  *  - "@@@@@" in any 6-bit string -> "Not available" (ais_parser.py:31);
  *  - DGNSS (17) lon/lat left unscaled (ais_parser.py:532-533);
  *  - unknown message types (0, 28-63) raise in the reference's enum
  *    lookup -> NULL here;
  *  - enum descriptions clamp exactly as the reference: navStatus>15->15,
  *    shipType>99->99, epfd>15->0, aidType>31->0, seaState>15->13,
  *    precipitation>7->7, tendency/trend/ice>3->3, sync>3->0, slot>1->1.
  *
  * Fragment validation (ais_analysis.py:248-305): wrong fragment count,
  * checksum failure, or out-of-sequence fragments -> NULL row.
  */
object AisDecoder {

  private val GnssDesc = "an unaugmented GNSS fix with accuracy > 10m"
  private val DgpsDesc = "a DGPS-quality fix with an accuracy of < 10ms"

  private def posAccDesc(acc: Long): String = if (acc == 0) GnssDesc else DgpsDesc

  private def syncDesc(s: Int): String = Dims.syncState(if (s <= 3) s else 0)
  private def slotDesc(s: Int): String =
    s.toString + " " + Dims.slotTimeout(if (s <= 1) s else 1)
  private def navDesc(s: Int): String = Dims.navigationStatus(if (s <= 15) s else 15)
  private def shipDesc(s: Int): String = Dims.shipType(if (s <= 99) s else 99)
  private def epfdDesc(s: Int): String = Dims.epfd(if (s <= 15) s else 0)

  // --- per-type parsers ------------------------------------------------

  /** Types 1/2/3 (ais_parser.py:34-73). */
  private def parsePosition(b: BitVec): Position = {
    val navStatus = b.uintI(38, 4)
    val rotRaw = b.sint(42, 8)
    val rot = if (rotRaw > 0) math.pow(rotRaw / 4.733, 2) else -math.pow(rotRaw / 4.733, 2)
    val acc = b.uintI(60, 1)
    val sync = b.uintI(149, 2)
    val slot = b.uintI(151, 3)
    Position(
      navStatus = navStatus, navStatusDesc = navDesc(navStatus),
      rot = rot, sog = b.uint(50, 10) / 10.0,
      positionAccuracy = acc, positionAccuracyDesc = posAccDesc(acc),
      longitude = b.sint(61, 28) / 600000.0, latitude = b.sint(89, 27) / 600000.0,
      cog = b.uint(116, 12) / 10.0, trueHeading = b.uintI(128, 9),
      timeStamp = b.uintI(137, 6), manoeuvre = b.uintI(143, 2),
      raimFlag = b.uintI(148, 1), radioStatus = b.uintI(149, 19),
      syncState = sync, syncStateDesc = syncDesc(sync),
      slotTimeout = slot, slotTimeoutDesc = slotDesc(slot),
      subMessage = b.uintI(154, b.rest(154)))
  }

  /** Type 4 (ais_parser.py:76-110). */
  private def parseBaseStation(b: BitVec): BaseStation = {
    val acc = b.uintI(78, 1)
    val epfd = b.uintI(134, 4)
    val sync = b.uintI(149, 2)
    val slot = b.uintI(151, 3)
    BaseStation(
      utc_year = b.uintI(38, 14), utc_month = b.uintI(52, 4), utc_day = b.uintI(56, 5),
      utc_hour = b.uintI(61, 5), utc_minute = b.uintI(66, 6), utc_second = b.uintI(72, 6),
      fixQualityAccuracy = acc, positionAccuracyDesc = posAccDesc(acc),
      longitude = b.sint(79, 28) / 600000.0, latitude = b.sint(107, 27) / 600000.0,
      epfd = epfd, epfdDesc = epfdDesc(epfd),
      raimFlag = b.uintI(148, 1), radioStatus = b.uintI(149, 19),
      syncState = sync, syncStateDesc = syncDesc(sync),
      slotTimeout = slot, slotTimeoutDesc = slotDesc(slot),
      subMessage = b.uintI(154, b.rest(154)))
  }

  /** Type 5 (ais_parser.py:113-141). */
  private def parseStatic(b: BitVec): StaticVoyage = {
    val shipType = b.uintI(232, 8)
    StaticVoyage(
      aisVersion = b.uintI(38, 2), imo = b.uintI(40, 30),
      callsign = b.sixBit(70, 42), shipName = b.sixBit(112, 120),
      shipType = shipType, shipTypeDesc = shipDesc(shipType),
      to_bow = b.uintI(240, 9), to_stern = b.uintI(249, 9),
      to_port = b.uintI(258, 6), to_starboard = b.uintI(264, 6),
      epfd = b.uintI(270, 4),
      eta_month = b.uintI(274, 4), eta_day = b.uintI(278, 5),
      eta_hour = b.uintI(283, 5), eta_minute = b.uintI(288, 6),
      draught = b.uint(294, 8) / 10.0,
      destination = b.sixBit(302, 120), dte = b.uintI(422, 1))
  }

  /** Length-guarded optional field (the reference's
    * `... if len(binaryString) >= N else 0` idiom, ais_parser.py:233-242 etc).
    */
  @inline private def g(b: BitVec, minLen: Int, start: Int, len: Int): Option[Int] =
    Some(if (b.length >= minLen) b.uintI(start, len) else 0)

  /** Type 6 header + vendor dispatch (ais_parser.py:365-415). With
    * `extended` the reference's commented-out zenilite branch
    * (ais_parser.py:350-361, dispatch :384-387) is enabled too.
    */
  private def parseAddressed(b: BitVec, extended: Boolean): Addressed = {
    val dac = b.uintI(72, 10)
    val fid = b.uintI(82, 6)
    val base = Addressed(
      seqno = b.uintI(38, 2), dest_mmsi = b.uintI(40, 30),
      retransmit = b.uintI(70, 1), dac = dac, fid = fid)
    if (dac == 133 && fid == 13) {
      // DDMS tank telemetry (ais_parser.py:224-245); 20 mm steps, 0.05 V steps
      base.copy(
        empty = Some(b.uintI(88, 9) * 20), full = Some(b.uintI(97, 9) * 20),
        actual = Some(b.uintI(106, 9) * 20),
        supply = Some(b.uintI(115, 1)), half = Some(b.uintI(116, 1)),
        case_cover = Some(b.uintI(117, 1)),
        battery = Some(b.uint(118, 9) * 0.05),
        sonar = g(b, 129, 127, 2), hoppers = g(b, 133, 129, 4),
        hopper1 = g(b, 134, 133, 1), hopper2 = g(b, 135, 134, 1),
        hopper3 = g(b, 136, 135, 1), hopper4 = g(b, 137, 136, 1),
        hopper5 = g(b, 138, 137, 1), hopper6 = g(b, 139, 138, 1),
        hopper7 = g(b, 140, 139, 1), hopper8 = g(b, 141, 140, 1))
    } else if (dac == 250 && fid == 10) {
      // General lighthouse (ais_parser.py:327-347). NOTE stat_ext1's guard
      // is >= 120 in the reference (its one off-by-pattern guard) — kept.
      base.copy(
        volt_int = Some(b.uint(88, 10) * 0.05), volt_ex1 = Some(b.uint(98, 10) * 0.05),
        volt_ex2 = Some(b.uint(108, 10) * 0.05),
        racon = Some(b.uintI(118, 2)), light = Some(b.uintI(120, 2)),
        health = Some(b.uintI(122, 1)),
        stat_ext7 = g(b, 124, 123, 1), stat_ext6 = g(b, 125, 124, 1),
        stat_ext5 = g(b, 126, 125, 1), stat_ext4 = g(b, 127, 126, 1),
        stat_ext3 = g(b, 128, 127, 1), stat_ext2 = g(b, 129, 128, 1),
        stat_ext1 = g(b, 120, 129, 1), stat_ext0 = g(b, 131, 130, 1),
        off_pos = g(b, 132, 131, 1))
    } else if ((dac == 533 && fid == 1) || (dac == 235 && fid == 10)) {
      // Light beacon (ais_parser.py:248-264)
      base.copy(
        volt_int = Some(b.uint(88, 10) * 0.05), volt_ex1 = Some(b.uint(98, 10) * 0.05),
        volt_ex2 = Some(b.uint(108, 10) * 0.05),
        racon = g(b, 120, 118, 2), light = g(b, 122, 120, 2),
        health = g(b, 123, 122, 1), beat = g(b, 124, 123, 1),
        lantern_batt = g(b, 126, 124, 2), lantern = g(b, 128, 126, 2),
        ambient = g(b, 130, 128, 2), hatch_door = g(b, 131, 130, 1),
        off_pos = g(b, 132, 131, 1))
    } else if (dac == 533 && fid == 2) {
      // Renewable-energy power source (ais_parser.py:266-293); 0.1 V steps
      base.copy(
        volt_int = Some(b.uint(88, 9) * 0.1), volt_ex1 = Some(b.uint(97, 9) * 0.1),
        volt_ex2 = Some(b.uint(106, 9) * 0.1),
        off_pos = g(b, 116, 115, 1), ambient = g(b, 118, 116, 2),
        racon = g(b, 120, 118, 2), light = g(b, 122, 120, 2),
        health = g(b, 123, 122, 1), beat = g(b, 124, 123, 1),
        main_lantern_cond = g(b, 125, 124, 1), main_lantern_stat = g(b, 126, 125, 1),
        stdby_lantern_cond = g(b, 127, 126, 1), stdby_lantern_stat = g(b, 128, 127, 1),
        emerg_lantern_cond = g(b, 129, 128, 1), emerg_lantern_stat = g(b, 130, 129, 1),
        opticA_drive_stat = g(b, 131, 130, 1), opticA_drive_cond = g(b, 132, 131, 1),
        opticB_drive_stat = g(b, 133, 132, 1), opticB_drive_cond = g(b, 134, 133, 1),
        hatch_door = g(b, 135, 134, 1), main_power = g(b, 136, 135, 1),
        bms_cond = g(b, 137, 136, 1))
    } else if (dac == 533 && fid == 4) {
      // Buoy / small light beacon (ais_parser.py:295-324); note volt_ex2 0.2 V step
      base.copy(
        volt_int = Some(b.uint(88, 9) * 0.05), volt_ex1 = Some(b.uint(97, 9) * 0.05),
        volt_ex2 = Some(b.uint(106, 9) * 0.2),
        off_pos = g(b, 116, 115, 1), ambient = g(b, 118, 116, 2),
        racon = g(b, 120, 118, 2), light = g(b, 122, 120, 2),
        health = g(b, 123, 122, 1), beat = g(b, 124, 123, 1),
        alarm_active = g(b, 125, 124, 1), buoy_led_power = g(b, 126, 125, 1),
        buoy_low_vin = g(b, 127, 126, 1), buoy_photocell = g(b, 128, 127, 1),
        buoy_temp = g(b, 129, 128, 1), buoy_force_off = g(b, 130, 129, 1),
        buoy_islight = g(b, 131, 130, 1), buoy_errled_short = g(b, 132, 131, 1),
        buoy_errled_open = g(b, 133, 132, 1), buoy_errled_voltlow = g(b, 134, 133, 1),
        buoy_errled_vinlow = g(b, 135, 134, 1), buoy_errled_power = g(b, 136, 135, 1),
        buoy_adjmaxpower = g(b, 137, 136, 1), buoy_sensor_interrupt = g(b, 138, 137, 1),
        buoy_solarcharging = g(b, 139, 138, 1))
    } else if (extended && dac == 10 && fid == 6) {
      // Zenilite lantern telemetry (ais_parser.py:350-361) — dead code in
      // the reference (dispatch commented at :384-387), parsed here only
      // under the extended flag; default-off keeps drop-for-drop parity.
      base.copy(
        app_id = Some(b.uintI(88, 16)), voltage = Some(b.uintI(104, 12)),
        current = Some(b.uintI(116, 10)),
        supply_type = g(b, 127, 126, 1), light = g(b, 128, 127, 1),
        batt_stat = g(b, 129, 128, 1), off_pos = g(b, 130, 129, 1))
    } else base
  }

  /** Type 8 (ais_parser.py:420-441); meteo DAC1/FID31 (:143-213). With
    * `extended` the commented-out DAC200/FID24 water-level branch
    * (ais_parser.py:216-221, dispatch :437-439) is enabled too.
    */
  private def parseBinaryBroadcast(b: BitVec, extended: Boolean): BinaryBroadcast = {
    val dac = b.uintI(40, 10)
    val fid = b.uintI(50, 6)
    val base = BinaryBroadcast(dac = dac, fid = fid)
    if (dac == 1 && fid == 29) {
      base.copy(
        linkId = Some(b.uintI(56, 10)),
        text = Some(b.sixBit(66, b.rest(66))))
    } else if (dac == 1 && fid == 31) {
      val acc = b.uintI(105, 1)
      val tendency = b.uintI(191, 2)
      val trend = b.uintI(213, 2)
      val sea = b.uintI(322, 4)
      val precip = b.uintI(336, 3)
      val ice = b.uintI(348, 2)
      base.copy(
        longitude = Some(b.sint(56, 25) / 60000.0),
        latitude = Some(b.sint(81, 24) / 60000.0),
        positionAccuracy = Some(acc), positionAccuracyDesc = Some(posAccDesc(acc)),
        utc_day = Some(b.uintI(106, 5)), utc_hour = Some(b.uintI(111, 5)),
        utc_minute = Some(b.uintI(116, 6)),
        avgWindSpeed = Some(b.sintI(122, 7)), windGust = Some(b.sintI(129, 7)),
        windDirection = Some(b.uintI(136, 9)), windGustDirection = Some(b.uintI(145, 9)),
        airTemperature = Some(b.sintI(154, 11)), relativeHumidity = Some(b.uintI(165, 7)),
        dewpoint = Some(b.sintI(172, 10)), airPressure = Some(b.uintI(182, 9)),
        airPressureTendency = Some(tendency),
        airPressureTendencyDesc = Some(Dims.commonIndicator(if (tendency <= 3) tendency else 3)),
        horizontalVisibility = Some(b.uintI(193, 8)),
        waterLevel = Some(b.uintI(201, 12)), waterLevelTrend = Some(trend),
        waterLevelTrendDesc = Some(Dims.commonIndicator(if (trend <= 3) trend else 3)),
        surfaceCurrentSpeed = Some(b.uintI(215, 8)),
        surfaceCurrentDirection = Some(b.uintI(223, 9)),
        surfaceCurrentSpeed_2 = Some(b.uintI(232, 8)),
        surfaceCurrentDirection_2 = Some(b.uintI(240, 9)),
        CurrentMeasureLevel_2 = Some(b.uintI(249, 5)),
        surfaceCurrentSpeed_3 = Some(b.uintI(254, 8)),
        surfaceCurrentDirection_3 = Some(b.uintI(262, 9)),
        CurrentMeasureLevel_3 = Some(b.uintI(271, 5)),
        significantWaveHeight = Some(b.uintI(276, 8)),
        wavePeriod = Some(b.uintI(284, 6)), waveDirection = Some(b.uintI(290, 9)),
        swellHeight = Some(b.uintI(299, 8)), swellPeriod = Some(b.uintI(307, 6)),
        swellDirection = Some(b.uintI(313, 9)),
        seaState = Some(sea),
        seaStateDesc = Some(Dims.beaufortScale(if (sea <= 15) sea else 13)),
        waterTemperature = Some(b.uintI(326, 10)),
        precipitation = Some(precip),
        precipitationDesc = Some(Dims.precipitation(if (precip <= 7) precip else 7)),
        salinity = Some(b.uintI(339, 9)), ice = Some(ice),
        iceDesc = Some(Dims.commonIndicatorYesNo(if (ice <= 3) ice else 3)))
    } else if (extended && dac == 200 && fid == 24) {
      // Water level / country (ais_parser.py:216-221) — dead code in the
      // reference (dispatch commented at :437-439); extended-only.
      base.copy(country = Some(b.sixBit(56, 12)))
    } else base
  }

  /** Type 9 (ais_parser.py:445-472). */
  private def parseAircraft(b: BitVec): Aircraft = {
    val acc = b.uintI(60, 1)
    val sync = b.uintI(148, 2)
    val slot = b.uintI(150, 3)
    Aircraft(
      altitude = b.uintI(38, 12), sog = b.uint(50, 10) / 10.0,
      positionAccuracy = acc, positionAccuracyDesc = posAccDesc(acc),
      longitude = b.sint(61, 28) / 600000.0, latitude = b.sint(89, 27) / 600000.0,
      cog = b.uint(116, 12) / 10.0,
      timeStamp = b.uintI(128, 6), regional = b.uintI(134, 8),
      dte = b.uintI(142, 1), assigned = b.uintI(146, 1),
      raimFlag = b.uintI(147, 1), radioStatus = b.uintI(148, 20),
      syncState = sync, syncStateDesc = syncDesc(sync),
      slotTimeout = slot, slotTimeoutDesc = slotDesc(slot),
      subMessage = b.uintI(153, b.rest(153)))
  }

  /** Types 12/14 (ais_parser.py:475-492). */
  private def parseSafety(b: BitVec, addressed: Boolean): SafetyText =
    if (addressed)
      SafetyText(
        seqNo = Some(b.uintI(38, 2)), dest_mmsi = Some(b.uintI(40, 30)),
        retransmit = Some(b.uintI(70, 1)), text = b.sixBit(72, b.rest(72)))
    else
      SafetyText(None, None, None, text = b.sixBit(40, b.rest(40)))

  /** Type 15 (ais_parser.py:496-510). */
  private def parseInterrogation(b: BitVec): Interrogation =
    Interrogation(
      mmsi1 = b.uintI(40, 30), type1_1 = b.uintI(70, 6), offset1_1 = b.uintI(76, 12),
      type1_2 = b.uintI(90, 6), offset1_2 = b.uintI(96, 12),
      mmsi2 = b.uintI(110, 30), type2_1 = b.uintI(140, 6), offset2_1 = b.uintI(146, 12))

  /** Type 17 — unscaled lon/lat by design (ais_parser.py:528-537). */
  private def parseDgnss(b: BitVec): Dgnss =
    Dgnss(longitude = b.sint(40, 18), latitude = b.sint(58, 17),
      data = b.sixBit(80, b.rest(80)))

  /** Type 18 (ais_parser.py:541-567). */
  private def parseClassB(b: BitVec): ClassB = {
    val acc = b.uintI(56, 1)
    ClassB(
      reserved = b.uintI(38, 8), sog = b.uint(46, 10) / 10.0,
      positionAccuracy = acc, positionAccuracyDesc = posAccDesc(acc),
      longitude = b.sint(57, 28) / 600000.0, latitude = b.sint(85, 27) / 600000.0,
      cog = b.uint(112, 12) / 10.0, trueHeading = b.uintI(124, 9),
      timeStamp = b.uintI(133, 6), regional = b.uintI(139, 2),
      cs = b.uintI(141, 1), display = b.uintI(142, 1), dsc = b.uintI(143, 1),
      band = b.uintI(144, 1), msg22 = b.uintI(145, 1), assigned = b.uintI(146, 1),
      raimFlag = b.uintI(147, 1), radioStatus = b.uintI(148, 20))
  }

  /** Type 19 (ais_parser.py:571-605). */
  private def parseClassBExt(b: BitVec): ClassBExt = {
    val acc = b.uintI(56, 1)
    val shipType = b.uintI(263, 8)
    val epfd = b.uintI(301, 4)
    ClassBExt(
      reserved = b.uintI(38, 8), sog = b.uint(46, 10) / 10.0,
      positionAccuracy = acc, positionAccuracyDesc = posAccDesc(acc),
      longitude = b.sint(57, 28) / 600000.0, latitude = b.sint(85, 27) / 600000.0,
      cog = b.uint(112, 12) / 10.0, trueHeading = b.uintI(124, 9),
      timeStamp = b.uintI(133, 6), regional = b.uintI(139, 4),
      shipName = b.sixBit(143, 120),
      shipType = shipType, shipTypeDesc = shipDesc(shipType),
      to_bow = b.uintI(271, 9), to_stern = b.uintI(280, 9),
      to_port = b.uintI(289, 6), to_starboard = b.uintI(295, 6),
      epfd = epfd, epfdDesc = epfdDesc(epfd),
      raimFlag = b.uintI(305, 1), dte = b.uintI(306, 1), assigned = b.uintI(307, 1))
  }

  /** Type 21 (ais_parser.py:608-642). */
  private def parseAidNav(b: BitVec): AidNav = {
    val aidType = b.uintI(38, 5)
    val acc = b.uintI(163, 1)
    val epfd = b.uintI(249, 4)
    AidNav(
      aidType = aidType,
      aidTypeDesc = Dims.navAidType(if (aidType <= 31) aidType else 0),
      aidName = b.sixBit(43, 120),
      positionAccuracy = acc, positionAccuracyDesc = posAccDesc(acc),
      longitude = b.sint(164, 28) / 600000.0, latitude = b.sint(192, 27) / 600000.0,
      to_bow = b.uintI(219, 9), to_stern = b.uintI(228, 9),
      to_port = b.uintI(237, 6), to_starboard = b.uintI(243, 6),
      epfd = epfd, epfdDesc = epfdDesc(epfd),
      utc_second = b.uintI(253, 6), off_position = b.uintI(259, 1),
      regional = b.uintI(260, 8), raimFlag = b.uintI(268, 1),
      virtualAid = b.uintI(269, 1), assigned = b.uintI(270, 1),
      // guard replicated exactly: bits after 271 must exceed 272+20
      ext_name = if (b.rest(271) > 292) Some(b.sixBit(272, b.rest(272))) else None)
  }

  /** Type 24 (ais_parser.py:646-680): Part A unless payload is exactly 168 bits. */
  private def parseStaticReport(b: BitVec): StaticReport = {
    val none = StaticReport()
    if (b.length != 168) {
      none.copy(
        portNo = Some(b.uintI(38, 2)),
        shipName = Some(b.sixBit(40, 120)))
    } else {
      val mmsi = b.uint(8, 30)
      val shipType = b.uintI(40, 8)
      val partB = none.copy(
        partNo = Some(b.uintI(38, 2)),
        shipType = Some(shipType), shipTypeDesc = Some(shipDesc(shipType)),
        vendor = Some(b.sixBit(48, 18)), model = Some(b.uintI(66, 4)),
        serial = Some(b.uintI(70, 20)), callsign = Some(b.sixBit(90, 42)))
      if (mmsi == 0) partB.copy(motherShip_mmsi = Some(b.uintI(132, 30)))
      else partB.copy(
        to_bow = Some(b.uintI(132, 9)), to_stern = Some(b.uintI(141, 9)),
        to_port = Some(b.uintI(150, 6)), to_starboard = Some(b.uintI(156, 6)))
    }
  }

  /** Type 27 (ais_parser.py:684-700). */
  private def parseLongRange(b: BitVec): LongRange = {
    val acc = b.uintI(38, 1)
    val navStatus = b.uintI(40, 4)
    LongRange(
      positionAccuracy = acc, positionAccuracyDesc = posAccDesc(acc),
      raimFlag = b.uintI(39, 1),
      navStatus = navStatus, navStatusDesc = navDesc(navStatus),
      longitude = b.sint(44, 18) / 600000.0, latitude = b.sint(62, 17) / 600000.0,
      sog = b.uint(79, 6) / 10.0, cog = b.uint(85, 9) / 10.0,
      gnss = b.uintI(94, 1))
  }

  // --- dispatch & sentence-level decode --------------------------------

  /** Decode an already-assembled payload bit vector (ais_analysis.py:170-245).
    * `extended = true` additionally enables the reference's commented-out
    * DAC10/FID6 + DAC200/FID24 vendor parsers; default off = strict
    * drop-for-drop parity with the reference as shipped.
    */
  def parseBits(b: BitVec, meta: (String, Int, String),
                extended: Boolean = false): AisDecoded = {
    val msgType = b.uintI(0, 6)
    val desc = Dims.messageType.getOrElse(msgType,
      throw new DecodeException(s"unknown message type $msgType"))
    // type 16: the reference's parser returns None and the dispatcher
    // crashes updating the dict — the message is observably dropped.
    if (msgType == 16) throw new DecodeException("type 16 drops (reference quirk)")
    AisDecoded(
      packageType = meta._1, packageID = meta._2, packageCh = meta._3,
      messageType = msgType, messageTypeDesc = desc,
      repeat = b.uintI(6, 2), mmsi = b.uint(8, 30),
      position = if (msgType >= 1 && msgType <= 3) Some(parsePosition(b)) else None,
      baseStation = if (msgType == 4) Some(parseBaseStation(b)) else None,
      staticVoyage = if (msgType == 5) Some(parseStatic(b)) else None,
      addressed = if (msgType == 6) Some(parseAddressed(b, extended)) else None,
      binaryBroadcast = if (msgType == 8) Some(parseBinaryBroadcast(b, extended)) else None,
      aircraft = if (msgType == 9) Some(parseAircraft(b)) else None,
      safety = if (msgType == 12) Some(parseSafety(b, addressed = true))
               else if (msgType == 14) Some(parseSafety(b, addressed = false)) else None,
      interrogation = if (msgType == 15) Some(parseInterrogation(b)) else None,
      dgnss = if (msgType == 17) Some(parseDgnss(b)) else None,
      classB = if (msgType == 18) Some(parseClassB(b)) else None,
      classBExt = if (msgType == 19) Some(parseClassBExt(b)) else None,
      aidNav = if (msgType == 21) Some(parseAidNav(b)) else None,
      staticReport = if (msgType == 24) Some(parseStaticReport(b)) else None,
      longRange = if (msgType == 27) Some(parseLongRange(b)) else None)
  }

  /** Full decode of a (possibly multi-fragment) sentence group with the
    * reference's validation rules (ais_analysis.py:248-305). Any validation
    * failure or parse error yields None (-> null row in SQL).
    */
  def decode(sentences: Seq[String],
             extended: Boolean = false): Option[AisDecoded] = {
    if (sentences == null || sentences.isEmpty ||
      sentences.exists(_ == null)) return None // null element = corrupt row
    try {
      var prev: Sentence = null
      var meta: (String, Int, String) = ("", 0, "")
      val payloads = new Array[String](sentences.length)
      var i = 0
      for (raw <- sentences) {
        val s = parseSentence(raw)
        meta = (s.packageType, s.packageId, s.channel)
        if (s.totalPackage > 1 && s.totalPackage != sentences.length) return None
        if (!checksumValid(raw)) return None
        if (prev != null &&
            (prev.totalPackage != s.totalPackage ||
             prev.packageNo != s.packageNo - 1 ||
             prev.packageId != s.packageId)) return None
        prev = s
        payloads(i) = s.payload
        i += 1
      }
      val bits = Armor.payloadBits(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(payloads))
      Some(parseBits(bits, meta, extended))
    } catch {
      case _: DecodeException | _: NumberFormatException |
           _: IndexOutOfBoundsException => None
    }
  }

  /** array<string> of fragment sentences -> AisDecoded struct, as a
    * native codegen'd expression (see AisDecodeKernel / AisDecode).
    * `extended` opts into the reference's commented-out vendor parsers.
    */
  def ais_decode(sentences: Column, extended: Boolean = false): Column =
    org.apache.spark.sql.graft.GraftColumns.aisDecode(sentences, extended)

  /** Checksum validity as a standalone UDF (E1). */
  val checksumValidUdf: UserDefinedFunction =
    udf((s: String) =>
      try Armor.checksumValid(s)
      catch { case _: DecodeException | _: NumberFormatException => false })

  def ais_checksum_valid(sentence: Column): Column = checksumValidUdf(sentence)
}
