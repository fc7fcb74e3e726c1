package perfbench

import graft.ais.{AisDecoder, Fixtures}
import graft.ops.TssZones

/** Seeded AIS datalog generator with ground truth for every line.
  *
  * Traffic follows each station's own reporting schedule. Vessels
  * report positions (types 1/2/3) at the Class A autonomous interval of
  * their navigational state and a two-fragment type-5 static every six
  * minutes, both from ITU-R M.1371-5. The static is the fixture payload
  * with the MMSI and IMO patched, so every as-of match is checkable by
  * IMO. Aids to navigation send type 21 and shore stations send binary
  * types 6 and 8, replayed from the fixtures; the gold job's peek filter
  * skips them. Reception faults: a sentence fails its checksum, or is
  * lost, at a stated share; a static that loses one fragment leaves an
  * orphan fragment. `perfbench/BASELINE.md` derives each figure and
  * marks which are assumptions.
  *
  * Event time (tag block `c:`) is whole seconds. Several stations share
  * a second, but one vessel never reports twice in one second, so as-of
  * order and zone-transition order are unambiguous. Fragment groups
  * carry a message-unique id: batch reassembly groups fragments on (id,
  * channel, count) across the whole batch, so the 0-9 cycling ids of a
  * raw feed would merge unrelated statics — a documented limit of
  * `Reassembly.assembleBatch` that this benchmark does not measure.
  */
object AisData {

  /** A vessel's navigational state: the share of vessels in it, its
    * Class A position reporting interval (ITU-R M.1371-5, Annex 1,
    * Table 1; the shorter intervals while changing course are not
    * modelled), its speed range in knots and its navigational status.
    */
  final case class NavState(share: Double, intervalS: Int, sogLo: Double,
      sogHi: Double, navStatus: Int)

  /** The shares are an assumption; the intervals are the standard's. */
  val States = Seq(
    NavState(0.15, 180, 0.0, 0.5, 1),  // at anchor: 3 min
    NavState(0.60, 10, 8.0, 14.0, 0),  // underway, 0-14 kn: 10 s
    NavState(0.25, 6, 14.0, 20.0, 0))  // underway, 14-23 kn: 6 s
  /** Static and voyage data (type 5): every 6 min (ITU-R M.1371-5). */
  val StaticIntervalS = 360
  /** Type-21 stations, an assumption, each reporting every 3 min (the
    * IALA A-126 default for AIS AtoN).
    */
  val AtonStations = 50
  val AtonIntervalS = 180
  /** Shore stations sending type 6 or 8, and their interval: both are
    * assumptions.
    */
  val BinaryStations = 20
  val BinaryIntervalS = 60
  /** Reception faults, assumptions: a sentence fails its checksum, or
    * never arrives.
    */
  val CorruptShare = 0.02
  val LossShare = 0.01

  /** 2023-01-09T23:45:00Z: a datalog of a few tens of minutes spans
    * midnight, so the gold write makes two date partitions.
    */
  val BaseEpoch = 1673307900L

  sealed trait Msg {
    def seq: Int; def epoch: Long; def lines: Seq[String]
  }
  /** A position report; `valid` = false when its checksum is corrupt. */
  final case class Pos(seq: Int, epoch: Long, msgType: Int, mmsi: Long,
      lonRaw: Int, latRaw: Int, sogRaw: Int, cogRaw: Int, heading: Int,
      valid: Boolean, lines: Seq[String]) extends Msg {
    def lon: Double = lonRaw / 600000.0
    def lat: Double = latRaw / 600000.0
  }
  /** Both fragments of a static; `valid` = false when one of them has a
    * corrupt checksum.
    */
  final case class Static(seq: Int, epoch: Long, mmsi: Long, imo: Int,
      valid: Boolean, lines: Seq[String]) extends Msg
  /** The one fragment of a static whose other fragment was lost. */
  final case class Orphan(seq: Int, epoch: Long, lines: Seq[String]) extends Msg
  /** A fixture message of type 6, 8 or 21 (`fixture` indexes
    * [[Fixtures.sentenceGroups]]).
    */
  final case class Other(seq: Int, epoch: Long, msgType: Int, fixture: Int,
      lines: Seq[String]) extends Msg

  final class Datalog(val msgs: Array[Msg]) {
    lazy val lines: Array[String] = msgs.flatMap(_.lines)
    lazy val bytes: Long = lines.iterator.map(_.length + 1L).sum
  }

  private val Armor6 =
    "0123456789:;<=>?@ABCDEFGHIJKLMNOPQRSTUVW`abcdefghijklmnopqrstuvw"

  private def setBits(bits: Array[Boolean], start: Int, len: Int, v: Long): Unit = {
    var i = 0
    while (i < len) { bits(start + i) = ((v >>> (len - 1 - i)) & 1L) == 1L; i += 1 }
  }

  private def armor(bits: Array[Boolean]): String = {
    val sb = new java.lang.StringBuilder(bits.length / 6)
    var i = 0
    while (i + 6 <= bits.length) {
      var c = 0
      var b = 0
      while (b < 6) { c = (c << 1) | (if (bits(i + b)) 1 else 0); b += 1 }
      sb.append(Armor6.charAt(c))
      i += 6
    }
    sb.toString
  }

  private def unarmor(payload: String): Array[Boolean] =
    payload.flatMap { ch =>
      val c = Armor6.indexOf(ch)
      (5 to 0 by -1).map(i => ((c >> i) & 1) == 1)
    }.toArray

  private def checksum(body: String): Int = {
    var x = 0
    var i = 0
    while (i < body.length) { x ^= body.charAt(i).toInt; i += 1 }
    x
  }

  private def sentence(body: String, corrupt: Boolean = false): String = {
    val cs = checksum(body) ^ (if (corrupt) 0x01 else 0)
    f"!$body*$cs%02X"
  }

  private def tag(epoch: Long): String = s"\\s:stn,q:u,c:$epoch*00"

  /** The fixture's two-fragment type-5 message as one bit vector, and
    * the character split and fill bits of its two payloads.
    */
  private val (staticBits, staticSplit, staticFill) = {
    val frags = Fixtures.sentenceGroups.collectFirst {
      case (_, s) if s.size == 2 => s
    }.get
    val f = frags.map(_.split(","))
    (unarmor(f(0)(5) + f(1)(5)), f(0)(5).length,
      Seq(f(0)(6).takeWhile(_ != '*'), f(1)(6).takeWhile(_ != '*')))
  }

  /** Fixture sentences of the peek-skipped types (6, 8 and 21). */
  private val skipFixtures: IndexedSeq[(Int, Int, String)] =
    Fixtures.sentenceGroups.zipWithIndex.collect {
      case ((_, Seq(s)), i) if "68E".contains(s.split(",")(5).head) =>
        val t = s.split(",")(5).head match { case '6' => 6; case '8' => 8; case _ => 21 }
        (i, t, s)
    }.toIndexedSeq
  private val atonFixtures = skipFixtures.filter(_._2 == 21)
  private val binaryFixtures = skipFixtures.filter(_._2 != 21)

  /** The Malacca TSS lanes' vertices, used as start points. */
  private val laneVertices: IndexedSeq[(Double, Double)] =
    (TssZones.Northbound.grouped(2) ++ TssZones.Southbound.grouped(2))
      .map(a => (a(0), a(1))).toIndexedSeq

  /** One scheduled transmission: its second, its station and its kind. */
  private final case class Ev(epoch: Long, station: Int, kind: Int)
  private val PosKind = 0
  private val StaticKind = 1
  private val OtherKind = 2

  /** Messages per second from `vessels` vessels and the fixed stations. */
  def rate(vessels: Int): Double =
    vessels * (States.map(s => s.share / s.intervalS).sum + 1.0 / StaticIntervalS) +
      AtonStations.toDouble / AtonIntervalS + BinaryStations.toDouble / BinaryIntervalS

  /** The first `nMsgs` scheduled transmissions of `vessels` vessels and
    * the fixed stations, in event-time order, less those lost in
    * reception.
    */
  def generate(seed: Long, nMsgs: Int, vessels: Int): Datalog = {
    val rnd = new scala.util.Random(seed)
    val mmsis = Array.tabulate(vessels)(v => 200000000L + v * 7919L % 100000000L)
    val cum = States.scanLeft(0.0)(_ + _.share).tail
    val state = Array.fill(vessels) {
      val i = cum.indexWhere(rnd.nextDouble() < _)
      States(if (i < 0) States.size - 1 else i)
    }
    val lon = Array.ofDim[Double](vessels)
    val lat = Array.ofDim[Double](vessels)
    val cog = Array.ofDim[Double](vessels)
    val sog = Array.ofDim[Double](vessels)
    (0 until vessels).foreach { v =>
      val (x, y) = laneVertices(rnd.nextInt(laneVertices.size))
      lon(v) = x + (rnd.nextDouble() - 0.5) * 0.1
      lat(v) = y + (rnd.nextDouble() - 0.5) * 0.1
      // the strait runs north-west to south-east
      cog(v) = ((if (rnd.nextBoolean()) 315.0 else 135.0) + rnd.nextGaussian() * 5 + 360) % 360
      sog(v) = state(v).sogLo + rnd.nextDouble() * (state(v).sogHi - state(v).sogLo)
    }
    val aton = Array.fill(AtonStations)(atonFixtures(rnd.nextInt(atonFixtures.size)))
    val binary = Array.fill(BinaryStations)(binaryFixtures(rnd.nextInt(binaryFixtures.size)))

    // the schedule: each station starts at a random offset into its interval
    val span = (nMsgs / rate(vessels) * 1.2).toLong + 2 * StaticIntervalS
    val evs = scala.collection.mutable.ArrayBuffer.empty[Ev]
    def every(station: Int, interval: Int): Unit = {
      var t = rnd.nextInt(interval).toLong
      while (t < span) { evs += Ev(t, station, OtherKind); t += interval }
    }
    (0 until vessels).foreach { v =>
      val iv = state(v).intervalS
      val phase = rnd.nextInt(iv)
      var t = phase.toLong
      while (t < span) { evs += Ev(t, v, PosKind); t += iv }
      // a static never shares a second with the same vessel's position
      var s = rnd.nextInt(StaticIntervalS).toLong
      while (s < span) {
        val at = if ((s - phase) % iv == 0) s + 1 else s
        evs += Ev(at, v, StaticKind)
        s += StaticIntervalS
      }
    }
    (0 until AtonStations).foreach(a => every(vessels + a, AtonIntervalS))
    (0 until BinaryStations).foreach(b => every(vessels + AtonStations + b, BinaryIntervalS))
    val schedule = evs.sortBy(e => (e.epoch, e.station, e.kind)).take(nMsgs)

    val msgs = scala.collection.mutable.ArrayBuffer.empty[Msg]
    val lastT = Array.fill(vessels)(-1L)
    var imo = 1000000
    def lost() = rnd.nextDouble() < LossShare
    def corrupt() = rnd.nextDouble() < CorruptShare
    schedule.iterator.zipWithIndex.foreach { case (ev, seq) =>
      val epoch = BaseEpoch + ev.epoch
      if (ev.kind == OtherKind) {
        val (i, t, s) =
          if (ev.station < vessels + AtonStations) aton(ev.station - vessels)
          else binary(ev.station - vessels - AtonStations)
        if (!lost()) msgs += Other(seq, epoch, t, i, Seq(tag(epoch) + s))
      } else if (ev.kind == StaticKind) {
        val v = ev.station
        imo += 1
        val bits = staticBits.clone()
        setBits(bits, 8, 30, mmsis(v))
        setBits(bits, 40, 30, imo.toLong)
        val (p1, p2) = armor(bits).splitAt(staticSplit)
        val (c1, c2) = (corrupt(), corrupt())
        val f1 = if (lost()) None
          else Some(tag(epoch) + sentence(s"ABVDM,2,1,$seq,A,$p1,${staticFill(0)}", c1))
        val f2 = if (lost()) None
          else Some(tag(epoch) + sentence(s"ABVDM,2,2,$seq,A,$p2,${staticFill(1)}", c2))
        (f1, f2) match {
          case (Some(a), Some(b)) => msgs += Static(seq, epoch, mmsis(v), imo, !c1 && !c2, Seq(a, b))
          case (None, None) => ()
          case _ => msgs += Orphan(seq, epoch, (f1 ++ f2).toSeq)
        }
      } else {
        val v = ev.station
        val st = state(v)
        // move along the course for the time since the last report
        if (lastT(v) >= 0) {
          val dt = (ev.epoch - lastT(v)).toDouble
          if (st.navStatus == 1) {
            // swinging at anchor
            lon(v) += (rnd.nextDouble() - 0.5) * 0.0002
            lat(v) += (rnd.nextDouble() - 0.5) * 0.0002
            sog(v) = st.sogLo + rnd.nextDouble() * (st.sogHi - st.sogLo)
          } else {
            val deg = sog(v) * dt / 3600.0 / 60.0
            lat(v) += deg * math.cos(math.toRadians(cog(v)))
            lon(v) += deg * math.sin(math.toRadians(cog(v))) / math.cos(math.toRadians(lat(v)))
            cog(v) = (cog(v) + rnd.nextGaussian() + 360) % 360
          }
          // turn back at the edge of the area
          if (lon(v) < 100.6 || lon(v) > 103.6 || lat(v) < 1.1 || lat(v) > 3.2)
            cog(v) = (cog(v) + 180) % 360
          lon(v) = math.min(103.6, math.max(100.6, lon(v)))
          lat(v) = math.min(3.2, math.max(1.1, lat(v)))
        }
        lastT(v) = ev.epoch
        val t = 1 + rnd.nextInt(3)
        val lonRaw = math.round(lon(v) * 600000.0).toInt
        val latRaw = math.round(lat(v) * 600000.0).toInt
        val sogRaw = math.round(sog(v) * 10).toInt
        val cogRaw = math.round(cog(v) * 10).toInt % 3600
        val hdg = math.round(cog(v)).toInt % 360
        val bad = corrupt()
        val bits = new Array[Boolean](168)
        setBits(bits, 0, 6, t)
        setBits(bits, 8, 30, mmsis(v))
        setBits(bits, 38, 4, st.navStatus)
        setBits(bits, 50, 10, sogRaw)
        setBits(bits, 61, 28, lonRaw)
        setBits(bits, 89, 27, latRaw)
        setBits(bits, 116, 12, cogRaw)
        setBits(bits, 128, 9, hdg)
        setBits(bits, 137, 6, epoch % 60)
        if (!lost()) msgs += Pos(seq, epoch, t, mmsis(v), lonRaw, latRaw, sogRaw, cogRaw, hdg,
          valid = !bad,
          Seq(tag(epoch) + sentence(s"ABVDM,1,1,${seq % 10},A,${armor(bits)},0", bad)))
      }
    }
    new Datalog(msgs.toArray)
  }

  /** Decode every `stride`-th position and static through
    * [[AisDecoder.decode]] and compare the fields with what was
    * encoded. Returns (checked, mismatched).
    */
  def selfCheck(log: Datalog, stride: Int = 97): (Long, Long) = {
    var checked = 0L
    var bad = 0L
    log.msgs.iterator.zipWithIndex.filter(_._2 % stride == 0).map(_._1).foreach {
      case p: Pos =>
        checked += 1
        val sentences = p.lines.map(l => l.substring(l.indexOf('!')))
        val ok = AisDecoder.decode(sentences) match {
          case None => !p.valid
          case Some(d) => p.valid && d.messageType == p.msgType &&
            d.mmsi == p.mmsi && d.position.exists(q =>
              q.longitude == p.lon && q.latitude == p.lat &&
                q.sog == p.sogRaw / 10.0 && q.cog == p.cogRaw / 10.0 &&
                q.trueHeading == p.heading)
        }
        if (!ok) bad += 1
      case s: Static =>
        checked += 1
        val ok = AisDecoder.decode(s.lines.map(l => l.substring(l.indexOf('!')))) match {
          case None => !s.valid
          case Some(d) => s.valid && d.messageType == 5 && d.mmsi == s.mmsi &&
            d.staticVoyage.exists(_.imo == s.imo)
        }
        if (!ok) bad += 1
      case _ => ()
    }
    (checked, bad)
  }

  /** Even-odd ray casting, written independently of the engine's
    * `GeoMath` so the ground truth does not share its code.
    */
  def inside(x: Double, y: Double, poly: Array[Double]): Boolean = {
    val n = poly.length / 2
    var in = false
    for (i <- 0 until n) {
      val j = (i + n - 1) % n
      val (xi, yi, xj, yj) = (poly(2 * i), poly(2 * i + 1), poly(2 * j), poly(2 * j + 1))
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) in = !in
    }
    in
  }

  /** Driver-side ground truth of the gold build. `peekIn` counts the
    * assembled messages of the gold job's peek types (1, 2, 3 and 5),
    * `decoded` those of them that decode.
    */
  final case class GoldTruth(rows: Long, expectedImo: Map[(Long, Long), Option[Int]],
      matches: Long, northVessels: Long, transitions: Long, peekIn: Long, decoded: Long)

  def goldTruth(log: Datalog): GoldTruth = {
    val latest = scala.collection.mutable.HashMap.empty[Long, Int]
    val imo = scala.collection.mutable.HashMap.empty[(Long, Long), Option[Int]]
    val state = scala.collection.mutable.HashMap.empty[Long, (Boolean, Boolean)]
    val north = scala.collection.mutable.HashSet.empty[Long]
    var transitions = 0L
    var peekIn = 0L
    var decoded = 0L
    log.msgs.foreach {
      case p: Pos if !p.valid => peekIn += 1
      case s: Static =>
        peekIn += 1
        if (s.valid) { decoded += 1; latest(s.mmsi) = s.imo }
      case p: Pos =>
        peekIn += 1
        decoded += 1
        imo((p.mmsi, p.epoch)) = latest.get(p.mmsi)
        val inN = inside(p.lon, p.lat, TssZones.Northbound)
        val inS = inside(p.lon, p.lat, TssZones.Southbound)
        if (inN) north += p.mmsi
        val (wasN, wasS) = state.getOrElse(p.mmsi, (false, false))
        if (inN != wasN) transitions += 1
        if (inS != wasS) transitions += 1
        state(p.mmsi) = (inN, inS)
      case _ => ()
    }
    GoldTruth(imo.size.toLong, imo.toMap, imo.valuesIterator.count(_.isDefined).toLong,
      north.size.toLong, transitions, peekIn, decoded)
  }

  /** The messages the live warehouse routes must each hold exactly
    * once, keyed as the route rows can be read back: (route, key).
    * Type-6 and type-8 fixtures route by their decoded content, so
    * their route is taken from one driver-side decode of the fixture.
    */
  def routeKey(m: Msg): Option[(String, String)] = m match {
    case p: Pos if p.valid =>
      Some(("position", s"${p.mmsi}|${p.lat}|${p.lon}|${p.cogRaw / 10.0}"))
    case s: Static if s.valid => Some(("static", s"${s.mmsi}|${s.imo}"))
    case o: Other => fixtureRoutes(o.fixture)
    case _ => None
  }

  /** Fixture index -> (route, mmsi) for the fixtures a route takes. */
  private lazy val fixtureRoutes: Map[Int, Option[(String, String)]] =
    skipFixtures.map { case (i, _, s) =>
      i -> AisDecoder.decode(Seq(s)).flatMap { d =>
        val route =
          if (d.messageType == 21) Some("type21")
          else if (d.messageType == 6 && d.addressed.exists(a =>
              a.dac == 533 && Set(1, 2, 4).contains(a.fid))) Some("type6_533")
          else None
        route.map(r => (r, d.mmsi.toString))
      }
    }.toMap

}
