package graft.ext

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north-star ops): media as opaque binary
  * columns with typed metadata, batch-oriented decode / feature-extract
  * over partitions.
  *
  * The container has no pixel/sample codec libraries, so full raster
  * decode is out of reach — but CONTAINER-HEADER decode is pure-JVM,
  * public-format parsing and is REAL here: PNG IHDR, JPEG SOFn marker
  * scan, GIF logical screen descriptor, and WAV `fmt ` chunk walk
  * (see [[MediaHeaders]]). Payloads whose mime has no parser (or whose
  * header fails validation) fall back to a deterministic byte-derived
  * feature set, so the pipeline never throws on junk media — it tags
  * `format = "unknown"` and keeps going, the posture a 100 TB crawl
  * ingest needs (a crashed task per corrupt file would never finish).
  *
  * Scale: mapPartitions gives the decoder a whole partition per call
  * (amortizes codec/model init, the same batching rationale as Pandas-UDF
  * `mapInPandas` on the PySpark side); binary payloads stay off the
  * shuffle path (decode before any wide op, project features only).
  */
object Multimodal {

  final case class MediaRecord(
      media_id: Long,
      payload: Array[Byte],
      mime: String,
      meta_width: Int,
      meta_height: Int)

  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      head_byte: Int,
      byte_sum_mod: Long,
      format: String,
      feat_width: Int,
      feat_height: Int,
      sample_rate: Int,
      channels: Int)

  /** Decode one record: always computes the cheap byte-level features
    * (size, first byte, checksum), then container-header metadata when
    * the declared mime has a parser and the payload's magic + header
    * validate ([[MediaHeaders.parse]]). Unknown mime or a failed parse
    * degrades to length-derived pseudo-dims — deterministic, never
    * throws.
    */
  private def decode(r: MediaRecord): MediaFeatures = {
    var sum = 0L
    var i = 0
    while (i < r.payload.length) { sum = (sum + (r.payload(i) & 0xff)) % 65536; i += 1 }
    val len = r.payload.length
    MediaHeaders.parse(r.mime, r.payload) match {
      case Some(m) =>
        MediaFeatures(r.media_id, len.toLong,
          if (len > 0) r.payload(0) & 0xff else -1, sum,
          m.format, m.width, m.height, m.sampleRate, m.channels)
      case None =>
        MediaFeatures(r.media_id, len.toLong,
          if (len > 0) r.payload(0) & 0xff else -1, sum,
          "unknown", len % 640, len % 480, 0, 0)
    }
  }

  /** Partition-batched feature extraction: one iterator per partition so a
    * real pixel codec would initialize once per task, not per row.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // heavier codec/session init would happen HERE, once per partition
      it.map(decode)
    }
  }

  /** Frame sampling over an opaque binary payload: treat the payload as
    * fixed-size frames, keep every `everyN`-th, and slice the frame
    * bytes out with substring-on-binary — the video/audio frame-extract
    * plan shape (explode factor = n_frames/everyN; the full payload is
    * projected away right after slicing so only sampled frames ever
    * move downstream). A real codec would replace the byte slice with a
    * keyframe decode at the same positions.
    */
  def frameSample(media: DataFrame, frameBytes: Int, everyN: Int): DataFrame =
    media
      .withColumn("n_frames",
        floor(length(col("payload")) / frameBytes).cast("long"))
      .filter(col("n_frames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(everyN.toLong)))
          .as("frame_idx"),
        col("payload"))
      .select(col("media_id"), col("frame_idx"),
        expr(s"substring(payload, cast(frame_idx * $frameBytes + 1 as int), $frameBytes)")
          .as("frame"))

  /** An already-decoded raster row: what a real pixel codec would hand
    * the resize stage. `payload` is the raster bytes, (w, h) the decoded
    * dimensions.
    */
  final case class RawRaster(media_id: Long, payload: Array[Byte], w: Int, h: Int)

  final case class ResizedMedia(
      media_id: Long,
      format: String,
      src_width: Int,
      src_height: Int,
      out_width: Int,
      out_height: Int,
      raster: Array[Byte])

  /** Nearest-neighbor resize kernel: source pixel (x, y) of a w×h
    * raster is `payload[(y * w + x) mod payload.length]`.
    *
    * REAL: the index arithmetic (sx = floor(x·w/outW), sy =
    * floor(y·h/outH)), the output schema, and the partition-batched
    * call shape. STUB (clearly marked, per the no-codec sandbox): the
    * raster itself — without codec libs a PNG payload cannot become
    * pixels, so the "decoded raster" is the deterministic byte-grid
    * above (payload bytes row-major, wrapped modulo length). A real
    * decoder replaces that one indexing rule; every index, loop, and
    * schema stays.
    *
    * Returns null (not an exception) on degenerate inputs — empty
    * payload or non-positive dims — the degrade-don't-crash posture of
    * the rest of this file.
    */
  def resizeKernel(payload: Array[Byte], w: Int, h: Int,
      outW: Int, outH: Int): Array[Byte] = {
    // caller error, not data degradation: outW * outH must not wrap Int
    // (65536 x 65536 wraps to 0 and the first write would AIOOBE the
    // task instead of failing loud here)
    require(outW > 0 && outH > 0 && outW.toLong * outH <= Int.MaxValue - 8,
      s"output dims $outW x $outH overflow an array size")
    if (payload == null || payload.isEmpty || w <= 0 || h <= 0) return null
    val out = new Array[Byte](outW * outH)
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * h / outH).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * w / outW).toInt
        out(y * outW + x) =
          payload(((sy.toLong * w + sx) % payload.length).toInt)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Resize from DECLARED dims — the entry point a real codec feeds
    * (raster + dims in, raster out), and the oracle-gatable one: with
    * the byte-grid stub the output is pure index arithmetic over the
    * payload, which DuckDB replays with substring. Degenerate rows keep
    * their declared dims and get a null raster.
    */
  def resizeRaw(media: Dataset[RawRaster], outW: Int, outH: Int): Dataset[ResizedMedia] = {
    require(outW > 0 && outH > 0 && outW.toLong * outH <= Int.MaxValue - 8,
      s"output dims must be positive and fit an array: $outW x $outH")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        ResizedMedia(r.media_id, "raster", r.w, r.h, outW, outH,
          resizeKernel(r.payload, r.w, r.h, outW, outH))
      }
    }
  }

  /** Documents table as a synthetic media table (text bytes as payload) —
    * exercises the full binary-column path on driver-provided data.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    // null-safe at the boundary: a null document becomes an empty
    // payload (n_bytes 0, head_byte -1), not an NPE in the decode
    // kernel or a NOT_NULL violation on the primitive meta fields
    docs.select(
      col("doc_id").as("media_id"),
      coalesce(col("text"), lit("")).cast("binary").as("payload"),
      lit("text/plain").as("mime"),
      (coalesce(col("n_chars"), lit(0L)) % 640).cast("int").as("meta_width"),
      (coalesce(col("n_chars"), lit(0L)) % 480).cast("int").as("meta_height"))

  /** Documents table as a synthetic MEDIA corpus with REAL container
    * headers: each doc becomes one of {png, jpeg, gif, wav, raw} by
    * `doc_id % 5`, its payload a genuine header (built by
    * [[MediaHeaders]]'s encoders) wrapping the text bytes, with
    * deterministic per-doc dimensions/rates. The decode side must parse
    * the header bytes back out — the q96 oracle recomputes the expected
    * metadata arithmetically from doc_id, so an endianness or offset bug
    * in either parser or encoder hash-fails the gate.
    */
  def fixtureMedia(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val body = text.getBytes(StandardCharsets.UTF_8)
        val w = 16 + (id % 600).toInt          // fits JPEG's u16 easily
        val h = 16 + (id % 440).toInt
        val rate = 8000 + (id % 8).toInt * 1000
        val ch = 1 + (id % 2).toInt
        (id % 5) match {
          case 0 => MediaRecord(id, MediaHeaders.encodePng(w, h, body), "image/png", w, h)
          case 1 => MediaRecord(id, MediaHeaders.encodeJpeg(w, h, body), "image/jpeg", w, h)
          case 2 => MediaRecord(id, MediaHeaders.encodeGif(w, h, body), "image/gif", w, h)
          case 3 => MediaRecord(id, MediaHeaders.encodeWav(rate, ch, body), "audio/wav", 0, 0)
          case _ => MediaRecord(id, body, "application/octet-stream", 0, 0)
        }
      }
  }
}

/** Pure-JVM container-header codecs for the common public media formats.
  * Parsers validate magic bytes and structural invariants and return
  * `None` on anything malformed (truncated, wrong magic, zero dims) —
  * the caller degrades to byte-level features rather than failing the
  * task. Encoders build minimal-but-valid headers for fixture corpora.
  *
  * Format references (all public specs):
  *  - PNG: 8-byte signature then the IHDR chunk — width/height are
  *    big-endian u32 at byte offsets 16/20 (PNG spec §5.2, §11.2.2).
  *  - JPEG/JFIF: marker stream; frame dims live in the SOFn segment
  *    (0xC0–0xCF minus C4/C8/CC): height u16 at +5, width u16 at +7.
  *  - GIF: "GIF87a"/"GIF89a" then the logical screen descriptor —
  *    width/height little-endian u16 at offsets 6/8.
  *  - WAV/RIFF: "RIFF"<size>"WAVE" then word-aligned chunks; the
  *    "fmt " chunk carries channels (LE u16 at +2) and sample rate
  *    (LE u32 at +4).
  */
object MediaHeaders {

  final case class MediaMeta(
      format: String, width: Int, height: Int, sampleRate: Int, channels: Int)

  /** Dispatch on the DECLARED mime (the catalog's claim), then validate
    * the payload's own magic — a text/plain payload that happens to start
    * with "GIF8" is never mis-decoded, and a mislabeled payload whose
    * magic doesn't match its mime degrades to unknown.
    */
  def parse(mime: String, p: Array[Byte]): Option[MediaMeta] = mime match {
    case "image/png"                              => parsePng(p)
    case "image/jpeg" | "image/jpg"               => parseJpeg(p)
    case "image/gif"                              => parseGif(p)
    case "audio/wav" | "audio/x-wav" | "audio/wave" => parseWav(p)
    case _                                        => None
  }

  // ---- byte readers ----------------------------------------------------

  private def u8(p: Array[Byte], i: Int): Int = p(i) & 0xff
  private def be16(p: Array[Byte], i: Int): Int = (u8(p, i) << 8) | u8(p, i + 1)
  private def be32(p: Array[Byte], i: Int): Long =
    (u8(p, i).toLong << 24) | (u8(p, i + 1) << 16) | (u8(p, i + 2) << 8) | u8(p, i + 3)
  private def le16(p: Array[Byte], i: Int): Int = u8(p, i) | (u8(p, i + 1) << 8)
  private def le32(p: Array[Byte], i: Int): Long =
    u8(p, i).toLong | (u8(p, i + 1).toLong << 8) | (u8(p, i + 2).toLong << 16) | (u8(p, i + 3).toLong << 24)
  private def tag(p: Array[Byte], i: Int, s: String): Boolean = {
    var k = 0
    while (k < s.length) { if (u8(p, i + k) != s.charAt(k)) return false; k += 1 }
    true
  }

  // ---- parsers ---------------------------------------------------------

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** PNG: signature + first chunk must be IHDR; dims are BE u32. */
  def parsePng(p: Array[Byte]): Option[MediaMeta] = {
    if (p.length < 24) return None
    var i = 0
    while (i < 8) { if (u8(p, i) != PngSig(i)) return None; i += 1 }
    if (!tag(p, 12, "IHDR")) return None
    val w = be32(p, 16)
    val h = be32(p, 20)
    // PNG allows up to 2^31-1; anything outside (0, Int.Max] is corrupt
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some(MediaMeta("png", w.toInt, h.toInt, 0, 0))
  }

  /** JPEG: walk the marker stream from SOI to the first SOFn segment.
    * Skips fill bytes and standalone markers (RSTn, TEM); treats SOS or
    * EOI before any SOF as corrupt. C4/C8/CC look like SOFs by range but
    * are DHT/JPG/DAC — excluded per the spec.
    */
  def parseJpeg(p: Array[Byte]): Option[MediaMeta] = {
    if (p.length < 4 || u8(p, 0) != 0xff || u8(p, 1) != 0xd8) return None
    var i = 2
    while (i + 4 <= p.length) {
      if (u8(p, i) != 0xff) return None // lost marker alignment
      val m = u8(p, i + 1)
      if (m == 0xff) i += 1 // fill byte
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // TEM / RSTn
      else if (m == 0xd9 || m == 0xda) return None // EOI / SOS before SOF
      else {
        val segLen = be16(p, i + 2)
        if (segLen < 2) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (i + 9 > p.length || segLen < 7) return None
          val h = be16(p, i + 5)
          val w = be16(p, i + 7)
          return if (w > 0 && h > 0) Some(MediaMeta("jpeg", w, h, 0, 0)) else None
        }
        i += 2 + segLen
      }
    }
    None
  }

  /** GIF: 6-byte version magic + logical screen descriptor (LE u16 dims). */
  def parseGif(p: Array[Byte]): Option[MediaMeta] = {
    if (p.length < 10) return None
    if (!tag(p, 0, "GIF87a") && !tag(p, 0, "GIF89a")) return None
    val w = le16(p, 6)
    val h = le16(p, 8)
    if (w > 0 && h > 0) Some(MediaMeta("gif", w, h, 0, 0)) else None
  }

  /** WAV: RIFF/WAVE container, then walk word-aligned chunks to "fmt ". */
  def parseWav(p: Array[Byte]): Option[MediaMeta] = {
    if (p.length < 12 || !tag(p, 0, "RIFF") || !tag(p, 8, "WAVE")) return None
    var i = 12
    while (i + 8 <= p.length) {
      val sz = le32(p, i + 4)
      if (tag(p, i, "fmt ")) {
        if (sz < 16 || i + 8 + 16 > p.length) return None
        val ch = le16(p, i + 10)
        val rate = le32(p, i + 12)
        return if (ch > 0 && rate > 0 && rate <= Int.MaxValue)
          Some(MediaMeta("wav", 0, 0, rate.toInt, ch)) else None
      }
      // advance in LONG arithmetic: le32 is unsigned [0, 2^32), so a
      // near-2^31 declared size would wrap an Int advance negative and
      // index out of bounds (totality bug found in review); any chunk
      // running past the payload means fmt is unreachable anyway
      val next = i.toLong + 8L + sz + (sz & 1L) // RIFF chunks 2-byte aligned
      if (next > p.length) return None
      i = next.toInt
    }
    None
  }

  // ---- fixture encoders ------------------------------------------------
  // Minimal valid headers for synthetic corpora; deliberately include the
  // structures a naive parser gets wrong (an APP0 before the JPEG SOF, a
  // JUNK chunk before the WAV fmt) so the round-trip exercises real
  // marker/chunk walking, not just fixed offsets.

  private def wBe32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write(((v >> 24) & 0xff).toInt); b.write(((v >> 16) & 0xff).toInt)
    b.write(((v >> 8) & 0xff).toInt); b.write((v & 0xff).toInt)
  }
  private def wBe16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write((v >> 8) & 0xff); b.write(v & 0xff)
  }
  private def wLe32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }
  private def wLe16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }
  private def wTag(b: java.io.ByteArrayOutputStream, s: String): Unit = {
    var i = 0; while (i < s.length) { b.write(s.charAt(i) & 0xff); i += 1 }
  }

  def encodePng(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(body.length + 40)
    PngSig.foreach(b.write)
    wBe32(b, 13L); wTag(b, "IHDR")
    wBe32(b, w.toLong); wBe32(b, h.toLong)
    b.write(8); b.write(2); b.write(0); b.write(0); b.write(0) // depth, RGB, deflate, none, none
    wBe32(b, 0L) // CRC placeholder — header parse doesn't verify CRCs
    b.write(body, 0, body.length)
    b.toByteArray
  }

  def encodeJpeg(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(body.length + 40)
    b.write(0xff); b.write(0xd8) // SOI
    b.write(0xff); b.write(0xe0) // APP0 before the SOF — forces marker walk
    wBe16(b, 16); wTag(b, "JFIF"); b.write(0)
    b.write(1); b.write(1); b.write(0); wBe16(b, 1); wBe16(b, 1); b.write(0); b.write(0)
    b.write(0xff); b.write(0xc0) // SOF0 baseline
    wBe16(b, 8 + 3 * 3); b.write(8) // length, precision
    wBe16(b, h); wBe16(b, w); b.write(3) // height FIRST per spec, 3 components
    var c = 1
    while (c <= 3) { b.write(c); b.write(0x11); b.write(if (c == 1) 0 else 1); c += 1 }
    b.write(0xff); b.write(0xfe) // COM segment carrying the body bytes
    wBe16(b, math.min(body.length, 60000) + 2)
    b.write(body, 0, math.min(body.length, 60000))
    b.toByteArray
  }

  def encodeGif(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(body.length + 16)
    wTag(b, "GIF89a")
    wLe16(b, w); wLe16(b, h)
    b.write(0x00); b.write(0); b.write(0) // no GCT, bg index, aspect
    b.write(body, 0, body.length)
    b.toByteArray
  }

  def encodeWav(sampleRate: Int, channels: Int, body: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(body.length + 64)
    val dataLen = body.length
    // RIFF size = everything after the first 8 bytes: "WAVE"(4) +
    // JUNK(8+4) + fmt(8+16) + data(8+dataLen)
    wTag(b, "RIFF"); wLe32(b, 4L + 12 + 24 + 8 + dataLen); wTag(b, "WAVE")
    wTag(b, "JUNK"); wLe32(b, 4L); wLe32(b, 0L) // filler chunk before fmt — forces chunk walk
    wTag(b, "fmt "); wLe32(b, 16L)
    wLe16(b, 1) // PCM
    wLe16(b, channels)
    wLe32(b, sampleRate.toLong)
    wLe32(b, sampleRate.toLong * channels * 2) // byte rate @16-bit
    wLe16(b, channels * 2) // block align
    wLe16(b, 16) // bits per sample
    wTag(b, "data"); wLe32(b, dataLen.toLong)
    b.write(body, 0, body.length)
    b.toByteArray
  }
}
