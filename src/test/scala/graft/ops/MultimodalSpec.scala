package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{MediaHeaders, Multimodal}

/** Container-header decode: parsers are checked against HAND-SPECIFIED
  * byte arrays (offsets and endianness spelled out per the public specs,
  * written independently of the fixture encoders) so an encoder/parser
  * bug pair that round-trips symmetrically still fails here.
  */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // ---- PNG -------------------------------------------------------------

  // The canonical 1x1 RGBA PNG prefix: signature + IHDR (w=1, h=1).
  private val png1x1 = bytes(
    0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
    0x00, 0x00, 0x00, 0x0d, 'I', 'H', 'D', 'R',
    0x00, 0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x01,
    0x08, 0x06, 0x00, 0x00, 0x00, 0x1f, 0x15, 0xc4, 0x89)

  test("PNG IHDR: canonical 1x1, asymmetric dims, truncation, bad magic") {
    assert(MediaHeaders.parsePng(png1x1).contains(
      MediaHeaders.MediaMeta("png", 1, 1, 0, 0)))
    // 640x360 written by hand, big-endian at offsets 16/20
    val p = bytes(
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0x00, 0x00, 0x00, 0x0d, 'I', 'H', 'D', 'R',
      0x00, 0x00, 0x02, 0x80, // 640
      0x00, 0x00, 0x01, 0x68, // 360
      0x08, 0x02, 0x00, 0x00, 0x00)
    assert(MediaHeaders.parsePng(p).map(m => (m.width, m.height)).contains((640, 360)))
    assert(MediaHeaders.parsePng(p.take(20)).isEmpty)          // truncated
    assert(MediaHeaders.parsePng(bytes(0x89, 0x50)).isEmpty)   // too short
    val notIhdr = p.clone(); notIhdr(12) = 'X'.toByte
    assert(MediaHeaders.parsePng(notIhdr).isEmpty)             // first chunk not IHDR
    val zeroW = p.clone(); zeroW(16) = 0; zeroW(17) = 0; zeroW(18) = 0; zeroW(19) = 0
    assert(MediaHeaders.parsePng(zeroW).isEmpty)               // zero width
  }

  // ---- JPEG ------------------------------------------------------------

  test("JPEG SOFn: marker walk skips APP0/DHT/RSTn, reads h-before-w BE") {
    // SOI, APP0(len 4), DHT C4 (len 4, SOF-range but NOT a SOF),
    // RST0 standalone, SOF2 progressive with h=360 w=640
    val j = bytes(
      0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0xaa, 0xbb,
      0xff, 0xc4, 0x00, 0x04, 0x00, 0x00,
      0xff, 0xd0,
      0xff, 0xc2, 0x00, 0x0b, 0x08,
      0x01, 0x68, // height 360 (comes first per spec)
      0x02, 0x80, // width 640
      0x01, 0x01, 0x11, 0x00)
    assert(MediaHeaders.parseJpeg(j).contains(
      MediaHeaders.MediaMeta("jpeg", 640, 360, 0, 0)))
    assert(MediaHeaders.parseJpeg(j.take(17)).isEmpty)            // truncated mid-SOF
    assert(MediaHeaders.parseJpeg(bytes(0xff, 0xd9)).isEmpty)     // not SOI
    // SOS before any SOF = corrupt
    val sosFirst = bytes(0xff, 0xd8, 0xff, 0xda, 0x00, 0x04, 0x00, 0x00)
    assert(MediaHeaders.parseJpeg(sosFirst).isEmpty)
    // lost alignment (a segment length lying about its size)
    val misaligned = bytes(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00)
    assert(MediaHeaders.parseJpeg(misaligned).isEmpty)
  }

  // ---- GIF -------------------------------------------------------------

  test("GIF logical screen descriptor: LE dims, both versions, bad magic") {
    // GIF87a, 640x360 little-endian
    val g87 = bytes('G', 'I', 'F', '8', '7', 'a', 0x80, 0x02, 0x68, 0x01, 0x00, 0x00, 0x00)
    assert(MediaHeaders.parseGif(g87).map(m => (m.width, m.height)).contains((640, 360)))
    val g89 = bytes('G', 'I', 'F', '8', '9', 'a', 0x01, 0x00, 0x01, 0x00, 0x80, 0x00, 0x00)
    assert(MediaHeaders.parseGif(g89).map(m => (m.width, m.height)).contains((1, 1)))
    assert(MediaHeaders.parseGif(bytes('G', 'I', 'F', '8', '8', 'a', 1, 0, 1, 0, 0, 0, 0)).isEmpty)
    assert(MediaHeaders.parseGif(g87.take(9)).isEmpty)
  }

  // ---- WAV -------------------------------------------------------------

  test("WAV fmt chunk: chunk walk over LIST, LE rate/channels, odd-size padding") {
    // RIFF/WAVE with an ODD-sized LIST chunk (pad byte!) before fmt:
    // stereo 44100 Hz, spelled out by hand
    val w = bytes(
      'R', 'I', 'F', 'F', 0x33, 0x00, 0x00, 0x00, 'W', 'A', 'V', 'E',
      'L', 'I', 'S', 'T', 0x03, 0x00, 0x00, 0x00, 0x01, 0x02, 0x03, 0x00, // 3 bytes + pad
      'f', 'm', 't', ' ', 0x10, 0x00, 0x00, 0x00,
      0x01, 0x00,             // PCM
      0x02, 0x00,             // 2 channels
      0x44, 0xac, 0x00, 0x00, // 44100 LE
      0x10, 0xb1, 0x02, 0x00, // byte rate
      0x04, 0x00, 0x10, 0x00) // block align, bits
    assert(MediaHeaders.parseWav(w).contains(
      MediaHeaders.MediaMeta("wav", 0, 0, 44100, 2)))
    assert(MediaHeaders.parseWav(w.take(30)).isEmpty)     // truncated before fmt payload
    val notWave = w.clone(); notWave(8) = 'X'.toByte
    assert(MediaHeaders.parseWav(notWave).isEmpty)
    // no fmt chunk at all
    val noFmt = bytes('R', 'I', 'F', 'F', 0x04, 0x00, 0x00, 0x00, 'W', 'A', 'V', 'E')
    assert(MediaHeaders.parseWav(noFmt).isEmpty)
    // review regression: a near-Int.MaxValue chunk size used to wrap the
    // Int advance negative and index out of bounds — must be None, not
    // an ArrayIndexOutOfBoundsException
    val overflow = bytes(
      'R', 'I', 'F', 'F', 0x10, 0x00, 0x00, 0x00, 'W', 'A', 'V', 'E',
      'L', 'I', 'S', 'T', 0xFF, 0xFF, 0xFF, 0x7F)
    assert(MediaHeaders.parseWav(overflow).isEmpty)
  }

  // ---- dispatch & fallback ---------------------------------------------

  test("mime dispatch: mislabeled or unknown mime degrades, never throws") {
    assert(MediaHeaders.parse("image/gif", png1x1).isEmpty)   // magic mismatch
    assert(MediaHeaders.parse("text/plain", png1x1).isEmpty)  // no parser for mime
    assert(MediaHeaders.parse("image/png", Array.emptyByteArray).isEmpty)
    // a text payload that *starts like* a GIF must still decode as gif
    // only when DECLARED gif — and as nothing when declared text
    val gifish = "GIF89a hello world".getBytes("ISO-8859-1")
    assert(MediaHeaders.parse("text/plain", gifish).isEmpty)
  }

  test("parsers are total: random, mutated, and truncated bytes never throw") {
    // the 100 TB posture is decode-or-degrade, never crash-the-task —
    // so parse must be a total function over arbitrary bytes.
    // Deterministic seeded fuzz (same style as BitsPropertySpec).
    val rnd = new scala.util.Random(1234)
    val mimes = Seq("image/png", "image/jpeg", "image/gif", "audio/wav")
    val body = "b".getBytes("UTF-8")
    val valids = Seq(
      MediaHeaders.encodePng(64, 48, body), MediaHeaders.encodeJpeg(64, 48, body),
      MediaHeaders.encodeGif(64, 48, body), MediaHeaders.encodeWav(8000, 1, body))
    for (i <- 1 to 2000) {
      val payload =
        if (i % 3 == 0) Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
        else {
          // corrupt a valid header: flip bytes and/or truncate
          val base = valids(rnd.nextInt(valids.length))
          val cut = base.take(1 + rnd.nextInt(base.length))
          val out = cut.clone()
          for (_ <- 0 until rnd.nextInt(4); if out.nonEmpty)
            out(rnd.nextInt(out.length)) = rnd.nextInt(256).toByte
          out
        }
      mimes.foreach { m =>
        // Option result (Some or None) is fine; an exception is the bug
        MediaHeaders.parse(m, payload)
      }
    }
  }

  // ---- encoder/parser round-trip + end-to-end Spark path ---------------

  test("fixture encoders round-trip through the parsers") {
    val body = "payload-body".getBytes("UTF-8")
    assert(MediaHeaders.parsePng(MediaHeaders.encodePng(123, 457, body))
      .contains(MediaHeaders.MediaMeta("png", 123, 457, 0, 0)))
    assert(MediaHeaders.parseJpeg(MediaHeaders.encodeJpeg(615, 455, body))
      .contains(MediaHeaders.MediaMeta("jpeg", 615, 455, 0, 0)))
    assert(MediaHeaders.parseGif(MediaHeaders.encodeGif(320, 200, body))
      .contains(MediaHeaders.MediaMeta("gif", 320, 200, 0, 0)))
    assert(MediaHeaders.parseWav(MediaHeaders.encodeWav(16000, 1, body))
      .contains(MediaHeaders.MediaMeta("wav", 0, 0, 16000, 1)))
  }

  test("extractFeatures end-to-end: header dims for media, fallback for raw") {
    import spark.implicits._
    val recs = Seq(
      Multimodal.MediaRecord(1L, MediaHeaders.encodePng(64, 48, Array.fill(10)(7.toByte)), "image/png", 64, 48),
      Multimodal.MediaRecord(2L, MediaHeaders.encodeWav(22050, 2, Array.fill(6)(1.toByte)), "audio/wav", 0, 0),
      Multimodal.MediaRecord(3L, "just text".getBytes("UTF-8"), "text/plain", 0, 0),
      Multimodal.MediaRecord(4L, Array.emptyByteArray, "application/octet-stream", 0, 0))
    val out = Multimodal.extractFeatures(recs.toDS()).collect().map(f => f.media_id -> f).toMap
    assert(out(1L).format == "png" && out(1L).feat_width == 64 && out(1L).feat_height == 48)
    assert(out(2L).format == "wav" && out(2L).sample_rate == 22050 && out(2L).channels == 2)
    assert(out(3L).format == "unknown" && out(3L).feat_width == 9 % 640)
    assert(out(4L).format == "unknown" && out(4L).head_byte == -1 && out(4L).n_bytes == 0L)
  }

  test("fixtureMedia assigns formats by doc_id % 5 and decodes its own headers") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"doc number $i text", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.extractFeatures(Multimodal.fixtureMedia(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.sizeIs == 10)
    for (i <- 0L until 10L) {
      val f = feats(i)
      val expected = (i % 5) match {
        case 0 => "png"
        case 1 => "jpeg"
        case 2 => "gif"
        case 3 => "wav"
        case _ => "unknown"
      }
      assert(f.format == expected, s"doc $i")
      if (expected == "png" || expected == "jpeg" || expected == "gif") {
        assert(f.feat_width == 16 + (i % 600).toInt)
        assert(f.feat_height == 16 + (i % 440).toInt)
      }
      if (expected == "wav") {
        assert(f.sample_rate == 8000 + (i % 8).toInt * 1000)
        assert(f.channels == 1 + (i % 2).toInt)
      }
    }
  }

  // ---- resize ----------------------------------------------------------

  test("resizeKernel: hand-computed nearest-neighbor picks on a 4x3 grid") {
    // payload = 12 distinct bytes read as a 4x3 row-major raster
    val p = (10 until 22).map(_.toByte).toArray
    // 2x2 output: sx = x*4/2 in {0,2}; sy = y*3/2 in {0,1}
    // picks: (0,0)->p[0], (2,0)->p[2], (0,1)->p[4], (2,1)->p[6]
    val out = Multimodal.resizeKernel(p, 4, 3, 2, 2)
    assert(out.toSeq === Seq(p(0), p(2), p(4), p(6)).map(identity))
    // identity dims reproduce the byte grid itself
    val id = Multimodal.resizeKernel(p, 4, 3, 4, 3)
    assert(id.toSeq === p.toSeq)
    // shorter payload than w*h wraps modulo length, never throws
    val short = Multimodal.resizeKernel(Array[Byte](1, 2, 3), 4, 3, 2, 2)
    assert(short.toSeq === Seq[Byte](1, 3, 2, 1))
    // degenerate inputs -> null, not an exception
    assert(Multimodal.resizeKernel(Array.emptyByteArray, 4, 3, 2, 2) == null)
    assert(Multimodal.resizeKernel(p, 0, 3, 2, 2) == null)
    assert(Multimodal.resizeKernel(p, 4, -1, 2, 2) == null)
    // caller-error OUTPUT dims fail loud: 65536 x 65536 wraps Int to 0
    // and would AIOOBE mid-task without the guard
    intercept[IllegalArgumentException](
      Multimodal.resizeKernel(p, 4, 3, 65536, 65536))
    intercept[IllegalArgumentException](
      Multimodal.resizeKernel(p, 4, 3, 2, 0))
  }

  test("resizeRaw keeps declared dims and degrades per-row") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.RawRaster(1L, "abcdefghijkl".getBytes, 4, 3),
      Multimodal.RawRaster(2L, "xyz".getBytes, 0, 3), // degenerate w
      Multimodal.RawRaster(3L, Array.emptyByteArray, 4, 3)) // empty payload
    val out = Multimodal.resizeRaw(rows.toDS(), 2, 2).collect().sortBy(_.media_id)
    assert(out(0).raster.toSeq === "aceg".getBytes.toSeq)
    assert(out(1).src_width === 0 && out(1).raster == null)
    assert(out(2).raster == null)
    assert(out.forall(_.format == "raster"))
  }
}
