package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with typed
  * metadata, processed per-partition in batches.
  *
  * The Spark-side shape is real — schema, typed Dataset encoders, partition
  * iteration, deterministic output — and FIVE real formats decode for
  * real, all pure-JVM strict parsers: [[decodeBmp]] (BITMAPINFOHEADER),
  * [[decodePpm]] (NetPBM P6 + exact raster length), [[decodeWav]] (RIFF
  * PCM), [[decodePng]] (chunk walk + per-chunk CRC32), and [[decodeJpeg]]
  * (marker walk + SOF frame header) — the realistic web-crawl container
  * set. Each extracts dimensions/metadata; 8-bit non-palette PNG
  * additionally decodes to REAL pixels ([[decodePngPixels]]: zlib inflate
  * + the five scanline filters, pure JVM) feeding [[pngPixelStats]] and
  * [[resizePngNearest]]. Pixel decoding of the OTHER compressed paths
  * (JPEG DCT) stays out of scope — payloads that parse as none of the
  * five fall back to [[stubDecode]],
  * which derives fake dimensions from the byte length alone, and the
  * emitted `codec` column makes the fallback observable. Swapping in a
  * full codec (JNI or an `mapInPandas`-style Python worker on a real
  * cluster) changes only the decode function bodies, nothing in the plan.
  *
  * At 100 TB: binary payloads dominate row size, so (a) never shuffle the
  * payload — extract features first, carry only metadata downstream; (b) read
  * with a small `files.maxPartitionBytes` so a partition of blobs fits in
  * executor memory.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Long, width: Long, height: Long, codec: String)

  /** Real single-format decode: BMP with a BITMAPINFOHEADER-or-later DIB
    * header. Little-endian fields at the documented offsets — magic "BM" at
    * 0, file size (u32) at 2, DIB header size (u32) at 14 (≥ 40 admits
    * BITMAPV4/V5, whose width/height live at the same offsets), width
    * (i32) at 18, height (i32) at 22, color planes (u16, must be 1 per
    * spec) at 26. A negative height is the spec's top-down row order — its
    * magnitude is the pixel height. Strictness over leniency: the stored
    * file size must equal the actual payload length OR be 0 (many real
    * writers leave the field zero, which the spec tolerates), so arbitrary
    * text bytes that happen to start with "BM" can never parse as an
    * accidental image — they'd have to encode their own exact length, or
    * carry four NUL bytes plus a valid planes field. Returns None for
    * anything that isn't a parseable BMP — callers fall back to
    * [[stubDecode]].
    */
  def decodeBmp(p: Array[Byte]): Option[(Long, Long)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (p.length >= 54 && p(0) == 'B'.toByte && p(1) == 'M'.toByte &&
        (le32(2) == p.length || le32(2) == 0) && le32(14) >= 40 &&
        (u8(26) | (u8(27) << 8)) == 1) {
      val w = le32(18)
      val h = le32(22)
      if (w > 0 && h != 0) Some((w.toLong, math.abs(h.toLong))) else None
    } else None
  }

  /** Second real format: binary PPM (NetPBM `P6`) — magic, then
    * whitespace-separated ASCII width/height/maxval (with `#`-to-newline
    * comments allowed between tokens per the spec), one whitespace byte,
    * then the raw `width·height·3`-byte RGB raster. Same strictness
    * discipline as [[decodeBmp]]: the raster length must equal
    * `width·height·3` EXACTLY, so text that merely starts with "P6" can
    * never alias as an image (its tail would have to be precisely the
    * declared pixel count). maxval is capped at 255 (1 byte/sample — the
    * 2-byte ≥256 variant would double the raster and is rejected rather
    * than misparsed).
    */
  def decodePpm(p: Array[Byte]): Option[(Long, Long)] = {
    if (p.length < 12 || p(0) != 'P'.toByte || p(1) != '6'.toByte) return None
    var i = 2
    def isWs(b: Byte): Boolean =
      b == ' '.toByte || b == '\n'.toByte || b == '\r'.toByte || b == '\t'.toByte
    def nextInt(): Long = {
      while (i < p.length && (isWs(p(i)) || p(i) == '#'.toByte)) {
        if (p(i) == '#'.toByte) { while (i < p.length && p(i) != '\n'.toByte) i += 1 }
        else i += 1
      }
      val start = i
      var v = 0L
      while (i < p.length && p(i) >= '0'.toByte && p(i) <= '9'.toByte && v <= Int.MaxValue.toLong) {
        v = v * 10 + (p(i) - '0'.toByte); i += 1
      }
      if (i == start || v > Int.MaxValue.toLong) -1L else v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    if (i >= p.length || !isWs(p(i))) return None // exactly one ws, then raster
    i += 1
    if ((p.length - i).toLong == w * h * 3L) Some((w, h)) else None
  }

  /** A minimal valid BMP container (54-byte BITMAPINFOHEADER, 24-bpp,
    * uncompressed) around raw bytes, assembled from pure Spark expressions
    * (hex strings → `unhex`): the way gates plant REAL parseable media
    * inside a corpus that has no binary columns. The `data` bytes stand in
    * for the pixel array; [[decodeBmp]] only reads the header, exactly
    * like a metadata-extraction pass over real images would.
    */
  def bmpWrap(width: org.apache.spark.sql.Column, height: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    def hex2(v: Column): Column = lpad(hex(v.bitwiseAND(lit(255L))), 2, "0")
    def le32(v: Column): Column =
      concat(hex2(v), hex2(shiftright(v, 8)), hex2(shiftright(v, 16)), hex2(shiftright(v, 24)))
    def le16(v: Column): Column = concat(hex2(v), hex2(shiftright(v, 8)))
    val dataLen = length(data).cast("long")
    concat(unhex(concat(
      lit("424D"),                 // "BM"
      le32(dataLen + lit(54L)),    // file size = header + data
      lit("00000000"),             // reserved
      le32(lit(54L)),              // pixel-array offset
      le32(lit(40L)),              // DIB header size (BITMAPINFOHEADER)
      le32(width.cast("long")), le32(height.cast("long")),
      le16(lit(1L)), le16(lit(24L)), // planes, bits-per-pixel
      le32(lit(0L)),               // BI_RGB (uncompressed)
      le32(dataLen),               // image size
      le32(lit(0L)), le32(lit(0L)), // x/y pixels-per-metre
      le32(lit(0L)), le32(lit(0L)) // palette / important colors
    )), data)
  }

  /** Third real format, first AUDIO one: PCM WAV (RIFF). Little-endian
    * fields at the canonical 44-byte-header offsets — "RIFF" + riff size
    * (must equal payload length − 8), "WAVE", a 16-byte PCM "fmt " chunk
    * (format tag 1, 8- or 16-bit samples, block align must equal
    * channels·bits/8), then a "data" chunk whose stored size must equal
    * the remaining bytes exactly AND divide evenly into frames. Same
    * strictness discipline as [[decodeBmp]]/[[decodePpm]]: three
    * length-consistency equations over arbitrary text bytes means "RIFF"
    * prefixes can't alias as audio. An image-shaped (width, height) makes
    * no sense for audio, so the feature mapping is (frames, sample rate) —
    * duration in seconds is their ratio, the two numbers a corpus pipeline
    * filters on.
    */
  def decodeWav(p: Array[Byte]): Option[(Long, Long)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)).toLong & 0xffffffffL
    def tag(i: Int, s: String): Boolean = s.indices.forall(j => p(i + j) == s(j).toByte)
    if (p.length < 44 || !tag(0, "RIFF") || le32(4) != p.length - 8L ||
        !tag(8, "WAVE") || !tag(12, "fmt ") || le32(16) != 16L) return None
    val (fmt, channels, rate) = (le16(20), le16(22), le32(24))
    val (blockAlign, bits) = (le16(32), le16(34))
    if (fmt != 1 || channels < 1 || rate < 1L || (bits != 8 && bits != 16) ||
        blockAlign != channels * bits / 8 || !tag(36, "data")) return None
    val dataSize = le32(40)
    if (dataSize != p.length - 44L || dataSize % blockAlign != 0L) return None
    Some((dataSize / blockAlign, rate))
  }

  /** REAL SAMPLE decode for PCM WAV — the audio twin of
    * [[decodePngPixels]]: the strict [[decodeWav]] container validation,
    * then the data chunk decoded to signed sample values (8-bit PCM is
    * unsigned-biased-128 per the spec, 16-bit is signed little-endian) and
    * reduced per channel is NOT needed at this layer — the raw interleaved
    * sample sequence comes back in frame order. Returns
    * `(channels, sampleRate, samples)`; None exactly when [[decodeWav]]
    * refuses the container.
    */
  def decodeWavSamples(p: Array[Byte]): Option[(Int, Long, Array[Int])] = {
    if (decodeWav(p).isEmpty) return None // strict framing + size equations
    def u8(i: Int): Int = p(i) & 0xff
    val channels = u8(22) | (u8(23) << 8)
    val rate = (u8(24) | (u8(25) << 8) | (u8(26) << 16) | (u8(27) << 24)).toLong & 0xffffffffL
    val bits = u8(34) | (u8(35) << 8)
    val n = (p.length - 44) / (bits / 8)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (bits == 8) u8(44 + i) - 128 // unsigned with a 128 bias
        else (u8(44 + i * 2) | (u8(44 + i * 2 + 1) << 8)).toShort.toInt
      i += 1
    }
    Some((channels, rate, out))
  }

  /** Per-clip integer sample statistics driven through [[decodeWavSamples]]
    * — the [[pngPixelStats]] discipline on the audio axis: all-integer
    * outputs (count, sum, max |sample|, sum of squares for an exact energy
    * reading), so no cross-engine float hazard exists. Non-PCM-WAV
    * payloads are absent from the output ([[pngPixelStats]]' scope rule;
    * [[extractFeatures]] counts the fallthrough).
    */
  final case class WavStats(
      doc_id: Long, channels: Long, sample_rate: Long,
      n_samples: Long, sum_samples: Long, max_abs: Long, sum_sq: Long)
  def wavSampleStats(spark: SparkSession, media: DataFrame): Dataset[WavStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        decodeWavSamples(r.payload).map { case (ch, rate, ss) =>
          var sum = 0L; var mx = 0L; var sq = 0L
          var i = 0
          while (i < ss.length) {
            val v = ss(i).toLong
            sum += v
            val a = math.abs(v); if (a > mx) mx = a
            sq += v * v
            i += 1
          }
          WavStats(r.doc_id, ch.toLong, rate, ss.length.toLong, sum, mx, sq)
        }
      }
    }
  }

  /** JVM-side 16-bit PCM WAV writer — [[pngEncode]]'s planting role for
    * the audio samples path: a complete valid RIFF container around exact
    * sample VALUES (not opaque bytes), so fixtures drive
    * [[decodeWavSamples]] with closed-form waveforms. `samples` is the
    * interleaved frame-order sequence; its length must divide evenly into
    * frames of `channels`.
    */
  def wavEncode(channels: Int, sampleRate: Long, samples: Array[Int]): Array[Byte] = {
    require(channels >= 1, s"channels must be >= 1, got $channels")
    require(sampleRate >= 1, s"sampleRate must be >= 1, got $sampleRate")
    require(samples.length % channels == 0,
      s"${samples.length} samples do not divide into $channels-channel frames")
    require(samples.forall(s => s >= Short.MinValue && s <= Short.MaxValue),
      "a sample exceeds the 16-bit range")
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def le16(i: Int, v: Int): Unit = {
      out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte
    }
    def le32(i: Int, v: Long): Unit = {
      out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte
      out(i + 2) = ((v >> 16) & 0xff).toByte; out(i + 3) = ((v >> 24) & 0xff).toByte
    }
    def tag(i: Int, s: String): Unit = s.indices.foreach(j => out(i + j) = s(j).toByte)
    val blockAlign = channels * 2
    tag(0, "RIFF"); le32(4, 36L + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16L); le16(20, 1); le16(22, channels)
    le32(24, sampleRate); le32(28, sampleRate * blockAlign)
    le16(32, blockAlign); le16(34, 16)
    tag(36, "data"); le32(40, dataLen.toLong)
    var i = 0
    while (i < samples.length) { le16(44 + i * 2, samples(i)); i += 1 }
    out
  }

  /** A minimal valid PCM-WAV container around raw bytes, assembled from
    * pure Spark expressions — the planting twin of [[bmpWrap]] for the
    * audio format. 16-bit samples; the data bytes are truncated/zero-padded
    * to exactly `frames·channels·2` so [[decodeWav]]'s strict size
    * equations hold.
    */
  def wavWrap(
      frames: org.apache.spark.sql.Column,
      channels: org.apache.spark.sql.Column,
      sampleRate: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    def hex2(v: Column): Column = lpad(hex(v.bitwiseAND(lit(255L))), 2, "0")
    def le32(v: Column): Column =
      concat(hex2(v), hex2(shiftright(v, 8)), hex2(shiftright(v, 16)), hex2(shiftright(v, 24)))
    def le16(v: Column): Column = concat(hex2(v), hex2(shiftright(v, 8)))
    val ch = channels.cast("long")
    val sr = sampleRate.cast("long")
    val blockAlign = ch * lit(2L)
    val dataLen = frames.cast("long") * blockAlign
    concat(unhex(concat(
      lit("52494646"),              // "RIFF"
      le32(dataLen + lit(36L)),     // riff size = total - 8
      lit("57415645666D7420"),      // "WAVE" + "fmt "
      le32(lit(16L)),               // fmt chunk size (PCM)
      le16(lit(1L)), le16(ch),      // format tag, channels
      le32(sr), le32(sr * blockAlign), // sample rate, byte rate
      le16(blockAlign), le16(lit(16L)), // block align, bits/sample
      lit("64617461"),              // "data"
      le32(dataLen)
    )), call_function("rpad", data, dataLen.cast("int"), lit(Array[Byte](0))))
  }

  /** A minimal valid binary-PPM container around raw bytes, assembled from
    * pure Spark expressions — the planting twin of [[bmpWrap]] for the
    * second real format. The data bytes are right-truncated or zero-padded
    * to exactly `width·height·3` so [[decodePpm]]'s strict raster check
    * holds (a real P6 raster is always exactly that long).
    */
  def ppmWrap(width: org.apache.spark.sql.Column, height: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = width.cast("long")
    val h = height.cast("long")
    val rasterLen = (w * h * lit(3L)).cast("int")
    val header = encode(
      concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"), lit("\n255\n")),
      "UTF-8")
    // rpad on BINARY both truncates and zero-pads to the exact raster size.
    concat(header, call_function("rpad", data, rasterLen, lit(Array[Byte](0))))
  }

  /** Fourth real format, first COMPRESSED-container one: PNG. The 8-byte
    * signature, then a full chunk walk — every chunk's `(len, type, data,
    * crc)` frame must be in bounds, every chunk's CRC32 (the real
    * polynomial, `java.util.zip.CRC32` — pure JVM) must verify against the
    * stored value, the FIRST chunk must be a 13-byte IHDR with legal
    * bit-depth/color-type/compression/filter/interlace fields, and the
    * walk must terminate at an empty IEND chunk sitting EXACTLY at the
    * payload's last byte. That is this family's stored-vs-derived-size
    * discipline compounded with a real checksum: arbitrary bytes cannot
    * alias as PNG without carrying four correct CRCs and a
    * byte-exact chunk frame. This is the metadata pass — dimension
    * extraction without touching IDAT; [[decodePngPixels]] builds the full
    * inflate + defilter pixel path on top of this validation.
    */
  def decodePng(p: Array[Byte]): Option[(Long, Long)] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (p.length < 45 || !(0 until 8).forall(i => p(i) == sig(i))) return None
    def be32(i: Int): Long =
      ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) |
        ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)
    var i = 8
    var dims: Option[(Long, Long)] = None
    var first = true
    while (i + 12 <= p.length) {
      val len = be32(i)
      if (len > (p.length - i - 12).toLong) return None
      val n = len.toInt
      val crc = new java.util.zip.CRC32()
      crc.update(p, i + 4, 4 + n)
      if (crc.getValue != be32(i + 8 + n)) return None
      val isIhdr = p(i + 4) == 'I'.toByte && p(i + 5) == 'H'.toByte &&
        p(i + 6) == 'D'.toByte && p(i + 7) == 'R'.toByte
      val isIend = p(i + 4) == 'I'.toByte && p(i + 5) == 'E'.toByte &&
        p(i + 6) == 'N'.toByte && p(i + 7) == 'D'.toByte
      if (first) {
        if (!isIhdr || len != 13L) return None
        val w = be32(i + 8)
        val h = be32(i + 12)
        val depth = p(i + 16) & 0xff
        val color = p(i + 17) & 0xff
        // Legal (color, depth) combinations per RFC 2083 §4.1.1: grayscale
        // allows 1/2/4/8/16, palette only 1/2/4/8 (a 16-bit palette index
        // is spec-invalid), and every color type with an 8-bit-per-sample
        // floor (2/4/6) allows exactly 8/16 — the strictness the rest of
        // the walk already applies to framing.
        val depthOk = color match {
          case 0 => depth == 1 || depth == 2 || depth == 4 || depth == 8 || depth == 16
          case 3 => depth == 1 || depth == 2 || depth == 4 || depth == 8
          case 2 | 4 | 6 => depth == 8 || depth == 16
          case _ => false
        }
        val ok = w >= 1 && h >= 1 && depthOk &&
          (p(i + 18) & 0xff) == 0 && (p(i + 19) & 0xff) == 0 && (p(i + 20) & 0xff) <= 1
        if (!ok) return None
        dims = Some((w, h))
        first = false
      } else if (isIend) {
        return if (len == 0L && i + 12 == p.length) dims else None
      }
      i += 12 + n
    }
    None
  }

  /** Fifth real format: JPEG (JFIF/baseline or progressive DCT). SOI, then
    * a strict marker walk — every segment must start `FF`, carry an
    * in-bounds big-endian length, and exactly one SOF0/SOF1/SOF2 frame
    * header (8-bit precision, 1/3/4 components, `len = 8 + 3·ncomp`) must
    * appear before SOS; the payload must end on the two EOI bytes. The
    * marker chain IS this format's stored-vs-derived-size equation (each
    * length field must land the cursor on the next `FF`), so text bytes
    * cannot walk it by accident — UTF-8 never even contains `FF`.
    * Dimensions come from the SOF frame header; entropy-coded data after
    * SOS is not decoded (the [[decodePng]] scope note applies).
    */
  def decodeJpeg(p: Array[Byte]): Option[(Long, Long)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (p.length < 20 || u8(0) != 0xff || u8(1) != 0xd8) return None
    if (u8(p.length - 2) != 0xff || u8(p.length - 1) != 0xd9) return None
    var i = 2
    var dims: Option[(Long, Long)] = None
    while (i + 4 <= p.length) {
      if (u8(i) != 0xff) return None
      val m = u8(i + 1)
      if (m == 0xd8 || m == 0xd9) return None // second SOI / EOI before SOS
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { i += 2 } // standalone markers
      else {
        val len = be16(i + 2)
        if (len < 2 || i + 2 + len > p.length) return None
        if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
          if (dims.nonEmpty) return None // two frame headers
          val h = be16(i + 5)
          val w = be16(i + 7)
          val ncomp = u8(i + 9)
          if (u8(i + 4) != 8 || h < 1 || w < 1 ||
              !(ncomp == 1 || ncomp == 3 || ncomp == 4) ||
              len != 8 + 3 * ncomp) return None
          dims = Some((w.toLong, h.toLong))
        }
        if (m == 0xda) return dims // SOS: entropy data runs to the EOI tail
        i += 2 + len
      }
    }
    None
  }

  /** A minimal valid PNG container around raw bytes, assembled from pure
    * Spark expressions — the planting twin of [[bmpWrap]] for the CRC'd
    * chunk format: signature, an 8-bit-grayscale IHDR whose CRC32 comes
    * from Spark's own `crc32` (the same IEEE polynomial [[decodePng]]
    * verifies with `java.util.zip.CRC32`), the data bytes as one IDAT
    * chunk (CRC'd likewise; [[decodePng]] does not inflate), and the
    * constant IEND. Total size = payload + 57.
    */
  def pngWrap(width: org.apache.spark.sql.Column, height: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    def hex2(v: Column): Column = lpad(hex(v.bitwiseAND(lit(255L))), 2, "0")
    def be32(v: Column): Column =
      concat(hex2(shiftright(v, 24)), hex2(shiftright(v, 16)), hex2(shiftright(v, 8)), hex2(v))
    val ihdrBody = concat(
      encode(lit("IHDR"), "UTF-8"),
      unhex(concat(be32(width.cast("long")), be32(height.cast("long")),
        lit("0800000000")))) // depth 8, grayscale, compression/filter/interlace 0
    val idatBody = concat(encode(lit("IDAT"), "UTF-8"), data)
    concat(
      unhex(lit("89504E470D0A1A0A")),
      unhex(be32(lit(13L))), ihdrBody, unhex(be32(crc32(ihdrBody))),
      unhex(be32(length(data).cast("long"))), idatBody, unhex(be32(crc32(idatBody))),
      unhex(lit("0000000049454E44AE426082")))
  }

  /** A minimal valid baseline JPEG around raw bytes — the planting twin of
    * [[bmpWrap]] for the marker-walk format: SOI, a JFIF APP0, a
    * single-component SOF0 with the given dimensions, SOS, the data bytes
    * as the entropy segment (UTF-8 text never contains `FF`, so the tail
    * scan cannot trip), EOI. Total size = payload + 45.
    */
  def jpegWrap(width: org.apache.spark.sql.Column, height: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    def hex2(v: Column): Column = lpad(hex(v.bitwiseAND(lit(255L))), 2, "0")
    def be16(v: Column): Column = concat(hex2(shiftright(v, 8)), hex2(v))
    concat(
      unhex(concat(
        lit("FFD8"), // SOI
        lit("FFE000104A46494600010100000100010000"), // APP0: len 16, JFIF 1.1
        lit("FFC0000B08"), // SOF0: len 11, precision 8
        be16(height.cast("long")), be16(width.cast("long")),
        lit("01011100"), // 1 component (id 1, sampling 1x1, qtable 0)
        lit("FFDA0008010100003F00"))), // SOS: len 8, 1 comp, ss 0, se 63
      data,
      unhex(lit("FFD9")))
  }

  /** A fully decoded 8-bit PNG raster: `pixels` is the un-filtered image in
    * scanline order, `channels` interleaved per pixel (gray=1, gray+alpha=2,
    * RGB=3, RGBA=4).
    */
  final case class PngPixels(
      width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** A fully decoded PNG raster at its STORED bit depth: `data` is the
    * un-filtered (and, for Adam7, de-interlaced) image in sequential
    * scanline order with samples in the stored big-endian width (1 byte at
    * depth 8, 2 bytes at depth 16), `channels` interleaved per pixel.
    * Palette images arrive already expanded to RGB (depth 8). Keeping the
    * raster in byte form (not an `Array[Int]`) holds peak memory at the
    * decompression-bomb guard's 256 MiB bound instead of quadrupling it.
    */
  final case class PngRaster(
      width: Int, height: Int, channels: Int, depth: Int, data: Array[Byte]) {
    /** Number of samples (pixels × channels). Low depths (1/2/4) arrive
      * UNPACKED to one byte per sample, so only depth 16 is two-byte. */
    def nSamples: Int = if (depth == 16) data.length / 2 else data.length
    /** Sample k as an unsigned int at the stored depth: 0..2^depth−1. */
    def sample(k: Int): Int =
      if (depth == 16) ((data(2 * k) & 0xff) << 8) | (data(2 * k + 1) & 0xff)
      else data(k) & 0xff
    /** Sample k mapped to 8 bits: high byte at depth 16 (the standard
      * 16→8 reduction), identity at depth 8, and the exact range
      * expansion `v · 255 / (2^d − 1)` at low depths (255 is divisible by
      * 1, 3 and 15, so the expansion is integral — 1-bit 1 → 255,
      * 4-bit 15 → 255). */
    def sample8(k: Int): Int = depth match {
      case 16 => data(2 * k) & 0xff
      case 8  => data(k) & 0xff
      case d  => (data(k) & 0xff) * 255 / ((1 << d) - 1)
    }
  }

  /** Adam7 pass geometry (RFC 2083 §8.2): (xStart, yStart, xStep, yStep)
    * per pass. A pass whose sub-image is empty for the image's dims
    * contributes NO scanlines (not even filter bytes).
    */
  private[ops] val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** REAL pixel decode for 8-bit non-interlaced non-palette PNG: the strict
    * [[decodePng]] frame/CRC validation, then the concatenated IDAT stream
    * inflated with `java.util.zip.Inflater` (zlib is pure JVM — no native
    * codec needed) and every scanline un-filtered through the five PNG
    * filter types (None/Sub/Up/Average/Paeth, RFC 2083 §6). The same
    * strictness discipline as the container walk extends to the raster:
    * the stream must inflate to EXACTLY `height·(1 + width·channels)`
    * bytes with nothing left over, and every filter-type byte must be ≤ 4
    * — a corrupt or truncated IDAT returns None rather than partial
    * pixels. Palette images (color type 3) decode THROUGH the PLTE
    * indirection to plain RGB (every index strictly bounds-checked against
    * the palette). Since round 20 this is a thin 8-bit view over
    * [[decodePngRaster]], so Adam7-interlaced 8-bit images decode here
    * too (de-interlaced to the sequential raster), and LOW-DEPTH PALETTE
    * images arrive here as their 8-bit RGB expansion. Out of scope for
    * THIS accessor (None, documented): depth 16 and low-depth GRAYSCALE —
    * their samples are not 8-bit; use [[decodePngRaster]], which decodes
    * every legal PNG class. ALSO out of scope by the decompression-bomb guard:
    * rasters larger than 256 MiB (`1<<28` bytes of filtered raw, i.e.
    * ≈268 M pixels for grayscale, ≈67 M for RGBA) return None even when
    * well-formed — callers sizing gates/fixtures must stay under that
    * bound. Untrusted web-crawl payloads can forge IHDR dims far beyond
    * any legitimate corpus image, so the cap is deliberate, not a codec
    * limit.
    */
  def decodePngPixels(p: Array[Byte]): Option[PngPixels] =
    decodePngRaster(p).collect {
      case r if r.depth == 8 => PngPixels(r.width, r.height, r.channels, r.data)
    }

  /** The generalized pixel core behind [[decodePngPixels]]: decodes depth
    * 8 AND depth 16, interlace 0 AND 1 (Adam7), to a sequential
    * [[PngRaster]] at the stored bit depth. Same strictness discipline as
    * the 8-bit path it grew out of: the IDAT stream must inflate to
    * EXACTLY the pass-structure byte count with nothing left over, every
    * filter byte ≤ 4, every palette index in range, and the
    * decompression-bomb guard fires BEFORE allocation. Adam7 streams carry
    * the 7 reduced sub-images concatenated (RFC 2083 §8.2; an empty pass
    * contributes no scanlines at all); each pass is un-filtered
    * independently — filter neighbors a/b/c refer to the PASS raster, not
    * the final image — then scattered to the sequential raster pixel by
    * pixel. Low depths 1/2/4 (grayscale and palette — the only legal
    * low-depth color types) decode too: byte-unit filters over
    * `ceil(pw·depth/8)`-byte rows, MSB-first unpack, padding bits
    * ignored; the raster arrives unpacked (one byte/sample, values
    * 0..2^d−1, `depth` preserved so stats stay at the stored scale).
    * With that, EVERY legal PNG class is pixel-decodable; `png_ld` /
    * `png16` / `png_i` tags remain as corpus-composition observability.
    */
  def decodePngRaster(p: Array[Byte]): Option[PngRaster] = {
    if (decodePng(p).isEmpty) return None // frame shape + all CRCs verified
    def be32(i: Int): Int =
      ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
        ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
    var i = 8
    var w = 0; var h = 0; var depth = 0; var color = 0; var interlace = 0
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) { // bounds already proven by decodePng's walk
      val len = be32(i)
      val t = new String(p, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      t match {
        case "IHDR" =>
          w = be32(i + 8); h = be32(i + 12)
          depth = p(i + 16) & 0xff; color = p(i + 17) & 0xff
          interlace = p(i + 20) & 0xff
        case "PLTE" => plte = java.util.Arrays.copyOfRange(p, i + 8, i + 8 + len)
        case "IDAT" => idat.write(p, i + 8, len)
        case "IEND" => done = true
        case _ =>
      }
      i += 12 + len
    }
    // decodePng validated w/h as UNSIGNED Longs (>= 1), but the re-parse
    // above is a signed-Int be32: a forged CRC-valid IHDR with a dimension
    // >= 2^31 arrives here NEGATIVE, every pass computes empty (rawLen=0),
    // and the bomb guard below compares negative products — letting a
    // ~70-byte payload reach `new Array[Byte](outLen.toInt)` with a negative
    // size (task crash) or fabricate a bogus raster. Reject non-positive
    // dims before any size arithmetic; the guard's <= 2^28 cap would reject
    // every such image anyway were the math done in Long.
    if (w <= 0 || h <= 0) return None
    // Raster channels as STORED (palette rows carry one index byte/pixel).
    val channels = color match {
      case 0 => 1; case 4 => 2; case 2 => 3; case 6 => 4
      case 3 =>
        if (plte == null || plte.length == 0 || plte.length % 3 != 0 ||
            plte.length > 768) return None
        1
      case _ => return None
    }
    if ((depth != 1 && depth != 2 && depth != 4 && depth != 8 && depth != 16) ||
        interlace > 1) return None
    // Low depths pack multiple samples per scanline byte (always 1
    // channel: decodePng's legality table restricts depths 1/2/4 to
    // grayscale and palette). Their filter unit is ONE byte (RFC 2083 §6)
    // and their row stride is ceil(pw·depth/8).
    val lowDepth = depth < 8
    val fbpp = if (lowDepth) 1 else channels * (depth / 8)
    // Row stride in LONG: a forged IHDR width near 2^28 × 8 bytes/pixel
    // wraps Int arithmetic negative, which would slip past the bomb guard
    // below and crash the allocation instead of returning None (the
    // pre-round-20 code computed the stride in Long for exactly this
    // reason; the guard must see true magnitudes).
    def rowBytes(pw: Int): Long =
      if (lowDepth) (pw.toLong * depth + 7) / 8 else pw.toLong * fbpp
    // Live passes as (xStart, yStart, xStep, yStep, passW, passH): one
    // full-image pass when sequential, the non-empty Adam7 passes when
    // interlaced.
    val passes: Array[(Int, Int, Int, Int, Int, Int)] =
      (if (interlace == 0) Array((0, 0, 1, 1)) else Adam7).flatMap {
        case (x0, y0, dx, dy) =>
          val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
          val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
          if (pw > 0 && ph > 0) Some((x0, y0, dx, dy, pw, ph)) else None
      }
    val rawLen = passes.map { case (_, _, _, _, pw, ph) =>
      ph.toLong * (1L + rowBytes(pw))
    }.sum
    // Decompression-bomb guard: deflate's best case is ~1032:1, so a raster
    // larger than idat*1032 (or an absolute 256 MiB) cannot be legitimate —
    // reject BEFORE allocating (a ~100-byte IHDR-forged PNG must not cost
    // 2 GiB of executor heap per row on untrusted web-crawl payloads).
    // The cap binds EVERY allocation this decode makes, not just the
    // filtered stream: the unpacked raster (w·h bytes — up to 8× rawLen
    // for depth-1 images) and the palette expansion's RGB output (w·h·3)
    // are guarded too, so the 256 MiB claim holds end to end and no Int
    // product downstream can wrap.
    val maxRaw = 1L << 28
    val outLen = if (lowDepth) w.toLong * h else w.toLong * h * fbpp
    val finalLen = if (color == 3) w.toLong * h * 3 else outLen
    if (rawLen > maxRaw || outLen > maxRaw || finalLen > maxRaw ||
        rawLen > idat.size().toLong * 1032L + 64L ||
        idat.size() == 0) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // Any zero-progress iteration is corrupt input: truncated stream
        // (needsInput), FDICT preset-dictionary header (needsDictionary),
        // or any other stall — treat all as undecodable rather than spin.
        if (n == 0) return None
        off += n
      }
      if (off != raw.length ||
          (!inf.finished() && inf.inflate(new Array[Byte](1)) != 0))
        return None // wrong raster size (too short or surplus bytes)
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // Sequential raster: stored sample width for depths 8/16, UNPACKED one
    // byte per sample for low depths; filled pass by pass. (outLen passed
    // the <= 2^28 guard, so the Int narrowing is exact.)
    val out = new Array[Byte](outLen.toInt)
    var rawOff = 0
    var pi = 0
    while (pi < passes.length) {
      val (x0, y0, dx, dy, pw, ph) = passes(pi)
      val st = rowBytes(pw).toInt // <= rawLen <= 2^28: exact
      // Un-filter this pass into its own contiguous buffer: the filter's
      // a/b/c neighbors are PASS-raster neighbors (for the sequential
      // single pass at byte-aligned depths this is the whole image and
      // `cur` IS the output; low depths always go through the pass buffer
      // because the output is unpacked).
      val seq = interlace == 0 && !lowDepth
      val cur = if (seq) out else new Array[Byte](ph * st)
      var y = 0
      while (y < ph) {
        val ft = raw(rawOff + y * (st + 1)) & 0xff
        if (ft > 4) return None
        val rowIn = rawOff + y * (st + 1) + 1
        val rowOut = y * st
        var x = 0
        while (x < st) {
          val rw = raw(rowIn + x) & 0xff
          val a = if (x >= fbpp) cur(rowOut + x - fbpp) & 0xff else 0
          val b = if (y > 0) cur(rowOut - st + x) & 0xff else 0
          val c = if (x >= fbpp && y > 0) cur(rowOut - st + x - fbpp) & 0xff else 0
          val v = ft match {
            case 0 => rw
            case 1 => rw + a
            case 2 => rw + b
            case 3 => rw + (a + b) / 2
            case 4 =>
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b)
              val pc = math.abs(pp - c)
              rw + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          }
          cur(rowOut + x) = (v & 0xff).toByte
          x += 1
        }
        // Scatter the de-filtered row's pixels to their sequential homes
        // (low depths additionally unpack MSB-first; row-end padding bits
        // are simply never read).
        if (!seq) {
          if (lowDepth) {
            val mask = (1 << depth) - 1
            var cx = 0
            while (cx < pw) {
              val bit = cx * depth
              val v = (cur(rowOut + (bit >> 3)) >> (8 - depth - (bit & 7))) & mask
              out((y0 + y * dy) * w + (x0 + cx * dx)) = v.toByte
              cx += 1
            }
          } else {
            var cx = 0
            while (cx < pw) {
              System.arraycopy(cur, rowOut + cx * fbpp, out,
                ((y0 + y * dy) * w + (x0 + cx * dx)) * fbpp, fbpp)
              cx += 1
            }
          }
        }
        y += 1
      }
      rawOff += ph * (st + 1)
      pi += 1
    }
    if (color != 3) return Some(PngRaster(w, h, channels, depth, out))
    // Palette expansion: index bytes → RGB triples, every index strict.
    // Indices arrive UNPACKED at any legal palette depth (1/2/4/8 — the
    // low-depth unpack above normalized them to one byte each; 16-bit
    // palettes are PNG-illegal and never reach here).
    val nEntries = plte.length / 3
    val rgb = new Array[Byte](w * h * 3)
    var k = 0
    while (k < out.length) {
      val idx = out(k) & 0xff
      if (idx >= nEntries) return None // index past the palette: corrupt
      rgb(k * 3) = plte(idx * 3)
      rgb(k * 3 + 1) = plte(idx * 3 + 1)
      rgb(k * 3 + 2) = plte(idx * 3 + 2)
      k += 1
    }
    Some(PngRaster(w, h, 3, 8, rgb))
  }

  /** The ENCODE twin of [[decodePngPixels]]: a complete valid 8-bit PNG
    * (signature, IHDR, one deflated IDAT, IEND, all CRC'd) around a raw
    * raster, with a caller-chosen filter type PER ROW so fixtures exercise
    * all five un-filter paths, not just filter-0. JVM-side (Deflater needs
    * bytes, not Columns) — gates plant with this inside the same
    * mapPartitions batch shape the decode uses. Channels map to color
    * types 1→0 (gray), 2→4 (gray+alpha), 3→2 (RGB), 4→6 (RGBA). The
    * sequential 8-bit case of [[pngEncodeRaster]].
    */
  def pngEncode(
      width: Int, height: Int, channels: Int,
      pixels: Array[Byte], filterOfRow: Int => Int): Array[Byte] =
    pngEncodeRaster(width, height, channels, 8, 0, pixels, filterOfRow)

  /** The PALETTE encode twin: a complete valid color-type-3 PNG — the
    * 8-bit index raster filtered per row exactly like [[pngEncode]]'s
    * (bpp = 1), a PLTE chunk carrying `palette` (RGB triples, ≤ 256
    * entries), deflated IDAT, all CRC'd. [[decodePngPixels]] reads it back
    * THROUGH the indirection as plain RGB, so a fixture pins the palette
    * lookup path end to end. The sequential 8-bit case of
    * [[pngEncodePaletteRaster]].
    */
  def pngEncodePalette(
      width: Int, height: Int,
      palette: Array[Byte], indices: Array[Byte],
      filterOfRow: Int => Int): Array[Byte] = {
    require(palette.nonEmpty && palette.length % 3 == 0 && palette.length <= 768,
      s"palette must be 3..768 bytes of RGB triples, got ${palette.length}")
    require(indices.length == width * height,
      s"index raster must be ${width * height} bytes, got ${indices.length}")
    val n = palette.length / 3
    require(indices.forall(b => (b & 0xff) < n),
      s"an index exceeds the $n-entry palette")
    pngEncodePaletteRaster(width, height, 8, 0, palette, indices, filterOfRow)
  }

  /** The ENCODE twin of [[decodePngRaster]]: a complete valid PNG at any
    * legal grayscale/truecolor depth (1/2/4/8/16), sequential OR
    * Adam7-interlaced, around a raw raster given in sequential scanline
    * order — stored-width big-endian samples for depths 8/16
    * (`data.length == w·h·channels·depth/8`), UNPACKED one-byte samples
    * (values ≤ 2^d−1, [[PngRaster]]'s own form) for low depths, packed
    * MSB-first here. Adam7 output carries the 7
    * reduced sub-images concatenated, each filtered independently (empty
    * passes absent), exactly the stream shape the decoder expects — so
    * "encode the same raster both ways, decode both, compare" is a natural
    * oracle with no second codec involved. `filterOfRow` is fed a RUNNING
    * scanline counter across passes so fixtures exercise all five filters
    * in interlaced streams too.
    */
  def pngEncodeRaster(
      width: Int, height: Int, channels: Int, depth: Int, interlace: Int,
      data: Array[Byte], filterOfRow: Int => Int): Array[Byte] = {
    val idat = pngIdat(width, height, channels, depth, interlace, data, filterOfRow)
    pngFrame(width, height, depth, pngColorType(channels), interlace, None, idat)
  }

  /** Validate a raster for [[pngEncodeRaster]], filter it per scanline
    * (per Adam7 pass when interlaced) and deflate it: the IDAT body.
    */
  private def pngIdat(
      width: Int, height: Int, channels: Int, depth: Int, interlace: Int,
      data: Array[Byte], filterOfRow: Int => Int): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    require(depth == 1 || depth == 2 || depth == 4 || depth == 8 || depth == 16,
      s"depth must be one of 1/2/4/8/16, got $depth")
    require(interlace == 0 || interlace == 1, s"interlace must be 0 or 1, got $interlace")
    pngColorType(channels) // fails on a bad channel count before the raster checks
    val lowDepth = depth < 8
    require(!lowDepth || channels == 1,
      s"depths 1/2/4 are grayscale-only in PNG, got $channels channels")
    if (lowDepth) {
      val max = (1 << depth) - 1
      require(data.forall(b => (b & 0xff) <= max),
        s"low-depth raster samples must be <= $max (depth $depth)")
    }
    // Low-depth input arrives UNPACKED (1 byte/sample, [[PngRaster]]'s
    // form); it is packed MSB-first per pass row below.
    val fbpp = if (lowDepth) 1 else channels * (depth / 8)
    def rowBytes(pw: Int): Int =
      if (lowDepth) (pw * depth + 7) / 8 else pw * fbpp
    require(data.length == width * height * (if (lowDepth) 1 else fbpp),
      s"raster must be ${width * height * (if (lowDepth) 1 else fbpp)} bytes, " +
        s"got ${data.length}")
    val passes: Array[(Int, Int, Int, Int, Int, Int)] =
      (if (interlace == 0) Array((0, 0, 1, 1)) else Adam7).flatMap {
        case (x0, y0, dx, dy) =>
          val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
          val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
          if (pw > 0 && ph > 0) Some((x0, y0, dx, dy, pw, ph)) else None
      }
    val rawLen = passes.map { case (_, _, _, _, pw, ph) => ph * (1 + rowBytes(pw)) }.sum
    val raw = new Array[Byte](rawLen)
    var rawOff = 0
    var globalRow = 0
    for ((x0, y0, dx, dy, pw, ph) <- passes) {
      val st = rowBytes(pw)
      // Gather this pass's pixels from the sequential raster (packing low
      // depths MSB-first), then filter rows against PASS-raster neighbors
      // (the decode's inverse).
      val cur = new Array[Byte](ph * st)
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          if (lowDepth) {
            val v = data((y0 + y * dy) * width + (x0 + x * dx)) & 0xff
            val bit = x * depth
            cur(y * st + (bit >> 3)) =
              (cur(y * st + (bit >> 3)) | (v << (8 - depth - (bit & 7)))).toByte
          } else {
            System.arraycopy(data, ((y0 + y * dy) * width + (x0 + x * dx)) * fbpp,
              cur, y * st + x * fbpp, fbpp)
          }
          x += 1
        }
        y += 1
      }
      y = 0
      while (y < ph) {
        val ft = math.floorMod(filterOfRow(globalRow), 5)
        raw(rawOff + y * (st + 1)) = ft.toByte
        var x = 0
        while (x < st) {
          val vv = cur(y * st + x) & 0xff
          val a = if (x >= fbpp) cur(y * st + x - fbpp) & 0xff else 0
          val b = if (y > 0) cur((y - 1) * st + x) & 0xff else 0
          val c = if (x >= fbpp && y > 0) cur((y - 1) * st + x - fbpp) & 0xff else 0
          val enc = ft match {
            case 0 => vv
            case 1 => vv - a
            case 2 => vv - b
            case 3 => vv - (a + b) / 2
            case 4 =>
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b)
              val pc = math.abs(pp - c)
              vv - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          }
          raw(rawOff + y * (st + 1) + 1 + x) = (enc & 0xff).toByte
          x += 1
        }
        globalRow += 1
        y += 1
      }
      rawOff += ph * (st + 1)
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) idat.write(buf, 0, defl.deflate(buf))
    defl.end()
    idat.toByteArray
  }

  /** PNG color type of a gray/truecolor raster with `channels` samples per
    * pixel: 1→0 (gray), 2→4 (gray+alpha), 3→2 (RGB), 4→6 (RGBA).
    */
  private def pngColorType(channels: Int): Int = channels match {
    case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
    case n => throw new IllegalArgumentException(s"channels must be 1..4, got $n")
  }

  /** The one PNG framer: signature, IHDR, an optional PLTE, one IDAT
    * carrying `idat` verbatim and IEND, every chunk length-prefixed and
    * CRC'd.
    */
  private def pngFrame(
      width: Int, height: Int, depth: Int, colorType: Int, interlace: Int,
      palette: Option[Array[Byte]], idat: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, body: Array[Byte]): Unit = {
      out.write(be32(body.length.toLong), 0, 4)
      val tb = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(body)
      out.write(tb, 0, 4)
      out.write(body, 0, body.length)
      out.write(be32(crc.getValue), 0, 4)
    }
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    chunk("IHDR", be32(width.toLong) ++ be32(height.toLong) ++
      Array[Byte](depth.toByte, colorType.toByte, 0, 0, interlace.toByte))
    palette.foreach(chunk("PLTE", _))
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** PALETTE twin of [[pngEncodeRaster]]: a complete valid color-type-3
    * PNG at index depth 1/2/4/8, sequential or Adam7 — the index raster
    * (unpacked, one byte per index) is filtered and deflated by
    * [[pngEncodeRaster]]'s grayscale pipeline and framed with color type 3
    * and a PLTE chunk. Every index is
    * validated against BOTH the depth range and the palette size at
    * encode, mirroring the decoder's strictness.
    */
  def pngEncodePaletteRaster(
      width: Int, height: Int, depth: Int, interlace: Int,
      palette: Array[Byte], indices: Array[Byte],
      filterOfRow: Int => Int): Array[Byte] = {
    require(depth == 1 || depth == 2 || depth == 4 || depth == 8,
      s"palette depth must be 1/2/4/8, got $depth")
    require(palette.nonEmpty && palette.length % 3 == 0 && palette.length <= 768,
      s"palette must be 3..768 bytes of RGB triples, got ${palette.length}")
    val n = palette.length / 3
    require(indices.forall(b => (b & 0xff) < n && (b & 0xff) <= (1 << depth) - 1),
      s"an index exceeds the $n-entry palette or the depth-$depth range")
    pngFrame(width, height, depth, 3, interlace, Some(palette),
      pngIdat(width, height, 1, depth, interlace, indices, filterOfRow))
  }

  /** Pack an `Array[Int]` of 16-bit samples (0..65535) into the big-endian
    * byte raster [[pngEncodeRaster]]/[[PngRaster]] use — the planting-side
    * helper for 16-bit fixtures.
    */
  def samples16ToBytes(samples: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var k = 0
    while (k < samples.length) {
      out(2 * k) = ((samples(k) >> 8) & 0xff).toByte
      out(2 * k + 1) = (samples(k) & 0xff).toByte
      k += 1
    }
    out
  }

  /** Per-image REAL pixel statistics for PNG payloads — the
    * `extractFeatures` shape driven through [[decodePngPixels]]'s full
    * inflate + un-filter, so the numbers are functions of the IMAGE, not
    * the stored bytes. All-integer output (sum/max over 0..255 samples) —
    * no cross-engine float hazard. Payloads that are not decodable 8-bit
    * PNG are ABSENT from the output by design (this is the typed stats op;
    * [[extractFeatures]]' `codec` column is the observability pass that
    * counts the fallthrough).
    */
  final case class PngStats(
      doc_id: Long, width: Long, height: Long, channels: Long,
      n_pix: Long, sum_pix: Long, max_pix: Long)
  def pngPixelStats(spark: SparkSession, media: DataFrame): Dataset[PngStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        decodePngPixels(r.payload).map { im =>
          var s = 0L; var mx = 0L
          var k = 0
          while (k < im.pixels.length) {
            val v = (im.pixels(k) & 0xff).toLong
            s += v; if (v > mx) mx = v
            k += 1
          }
          PngStats(r.doc_id, im.width.toLong, im.height.toLong,
            im.channels.toLong, im.pixels.length.toLong, s, mx)
        }
      }
    }
  }

  /** Depth-aware twin of [[pngPixelStats]] over [[decodePngRaster]]:
    * per-image all-integer stats AT THE STORED BIT DEPTH (sum/max over
    * 0..65535 samples for 16-bit images, 0..255 for 8-bit), with `depth`
    * in the output so a gate can assert which decode path fired. Accepts
    * everything the raster core does — depth 8/16, sequential and Adam7 —
    * so a 16-bit scientific PNG or an interlaced web PNG now yields REAL
    * pixel stats instead of falling through (the r19 gap). Undecodable
    * payloads are absent from the output (the [[pngPixelStats]] scope
    * rule).
    */
  final case class PngRasterStats(
      doc_id: Long, width: Long, height: Long, channels: Long, depth: Long,
      n_pix: Long, sum_pix: Long, max_pix: Long)
  def pngRasterStats(spark: SparkSession, media: DataFrame): Dataset[PngRasterStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        decodePngRaster(r.payload).map { im =>
          var s = 0L; var mx = 0L
          val n = im.nSamples
          var k = 0
          while (k < n) {
            val v = im.sample(k).toLong
            s += v; if (v > mx) mx = v
            k += 1
          }
          PngRasterStats(r.doc_id, im.width.toLong, im.height.toLong,
            im.channels.toLong, im.depth.toLong, n.toLong, s, mx)
        }
      }
    }
  }

  /** REAL resize for PNG payloads: decode ([[decodePngRaster]] — so 8-bit,
    * 16-bit and Adam7-interlaced sources all work), nearest-neighbor
    * resample to `targetW × targetH` (source index =
    * `⌊outIndex · srcDim / targetDim⌋` — all-integer, so an oracle
    * re-derives the exact mapping), re-encode ([[pngEncode]], filter 0).
    * The output is ALWAYS an 8-bit sequential PNG: 16-bit samples clip to
    * their high byte (`v >> 8`, the standard 16→8 reduction — exact for
    * the training-thumbnail use case, and closed-form for oracles).
    * Non-PNG payloads are absent from the output (the [[pngPixelStats]]
    * scope rule).
    */
  def resizePngNearest(
      spark: SparkSession, media: DataFrame,
      targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import spark.implicits._
    require(targetW >= 1 && targetH >= 1,
      s"target dimensions must be >= 1, got ${targetW}x$targetH")
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        decodePngRaster(r.payload).map { im =>
          val ch = im.channels
          val out = new Array[Byte](targetW * targetH * ch)
          var y = 0
          while (y < targetH) {
            val sy = (y.toLong * im.height / targetH).toInt
            var x = 0
            while (x < targetW) {
              val sx = (x.toLong * im.width / targetW).toInt
              var c = 0
              while (c < ch) {
                out((y * targetW + x) * ch + c) =
                  im.sample8((sy * im.width + sx) * ch + c).toByte
                c += 1
              }
              x += 1
            }
            y += 1
          }
          MediaRow(r.doc_id, pngEncode(targetW, targetH, ch, out, _ => 0))
        }
      }
    }
  }

  /** ??? in spirit: a deterministic fake decode so tests and the oracle can
    * pin the plumbing for formats with no in-sandbox codec. width/height
    * are pure functions of the payload length.
    */
  def stubDecode(payload: Array[Byte]): (Long, Long) = {
    val n = payload.length.toLong
    (n % 64, n / 64)
  }

  /** Attach a binary payload column (UTF-8 bytes of `textCol` — the corpus has
    * no real media, the bytes stand in for an image blob).
    */
  def withPayload(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol), encode(col(textCol), "UTF-8").as("payload"))

  /** Per-partition batched decode → typed feature rows. mapPartitions, not a
    * per-row UDF: a real decoder amortizes codec init per batch exactly here.
    * All five container formats parse for real ([[decodeBmp]],
    * [[decodePpm]], [[decodeWav]], [[decodePng]], [[decodeJpeg]], probed in
    * that order — magics are mutually exclusive, so order only breaks
    * impossible ties); everything else takes the documented [[stubDecode]]
    * fallback. The `codec` column records which path fired — over a real
    * corpus it is the observability signal for how much of the data fell
    * through to the stub instead of silently fabricating dimensions.
    */
  /** Observable sub-classification of a [[decodePng]]-VALID payload by the
    * IHDR fields that decide whether [[decodePngPixels]] can take it:
    * `png_i` (interlace 1 — Adam7 layout, wins when both apply since it
    * changes the raster layout wholesale), `png16` (bit depth 16),
    * `png_ld` (depths 1/2/4), `png` (depth 8, non-interlaced). Since
    * round 20 [[decodePngRaster]] DECODES every class — `png16`, `png_i`
    * and `png_ld` included — so the tag is purely the corpus-composition
    * axis (which sample width / stream layout the data carries), no longer
    * a decodability boundary. Closes the r17/r18 carry-over: a 16-bit or
    * interlaced PNG previously tagged plain `png` and took the
    * stub-adjacent fallthrough with NO distinct tag, so corpus stats
    * could not see how much data the pixel path was silently skipping.
    * Contract (fail-loud, not garbage): `p` must start with the PNG
    * signature and reach through IHDR (≥ 29 bytes) — true for anything
    * [[decodePng]] accepted, which is where extractFeatures calls it.
    */
  def pngCodecTag(p: Array[Byte]): String = {
    require(p.length >= 29 && (p(0) & 0xff) == 0x89 && p(1) == 'P' &&
      p(2) == 'N' && p(3) == 'G',
      s"pngCodecTag needs a decodePng-valid payload (got ${p.length} bytes)")
    val depth = p(24) & 0xff
    val interlace = p(28) & 0xff
    if (interlace != 0) "png_i"
    else if (depth == 16) "png16"
    else if (depth != 8) "png_ld"
    else "png"
  }

  /** JVM-side PNG CONTAINER framer with caller-chosen IHDR fields —
    * the planting twin of [[pngCodecTag]]: a chunk-framed, CRC'd PNG
    * (signature, IHDR, one IDAT carrying `idat` verbatim, IEND) whose
    * depth/colorType/interlace are arbitrary legal values, so fixtures
    * can plant any class and gates can count them by `codec` tag. The
    * IDAT bytes are NOT deflated pixel data — the metadata walk never
    * inflates, and the pixel path ([[decodePngRaster]], which since round
    * 20 decodes every legal class when the stream is real) correctly
    * refuses these garbage streams at the inflate.
    */
  def pngContainer(
      width: Int, height: Int, depth: Int, colorType: Int, interlace: Int,
      idat: Array[Byte]): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    pngFrame(width, height, depth, colorType, interlace, None, idat)
  }

  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val real = decodeBmp(r.payload).map(("bmp", _))
          .orElse(decodePpm(r.payload).map(("ppm", _)))
          .orElse(decodeWav(r.payload).map(("wav", _)))
          .orElse(decodePng(r.payload).map(d => (pngCodecTag(r.payload), d)))
          .orElse(decodeJpeg(r.payload).map(("jpeg", _)))
        val (codec, (w, h)) = real.getOrElse(("stub", stubDecode(r.payload)))
        MediaFeatures(r.doc_id, r.payload.length.toLong, w, h, codec)
      }
    }
  }

  /** "Resize" each payload to a fixed target byte budget (`targetW·targetH`) —
    * stub for decode→scale→re-encode. Deterministic: truncate or zero-pad.
    * Same per-partition batch shape a real resampler needs; output rows carry
    * the new payload plus before/after sizes so downstream can audit.
    */
  final case class ResizedMedia(doc_id: Long, payload: Array[Byte], orig_bytes: Long, new_bytes: Long)
  def resize(spark: SparkSession, media: DataFrame, targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    require(targetW >= 1 && targetH >= 1,
      s"target dimensions must be >= 1, got ${targetW}x$targetH")
    require(targetW.toLong * targetH <= Int.MaxValue,
      s"target byte size ${targetW.toLong * targetH} overflows a JVM array")
    val target = targetW * targetH
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val out = java.util.Arrays.copyOf(r.payload, target) // truncates or zero-pads
        ResizedMedia(r.doc_id, out, r.payload.length.toLong, target.toLong)
      }
    }
  }

  /** Frame sampling: treat the payload as a sequence of fixed-size frames and
    * emit every `everyN`-th frame as its own row — the generator-shaped media
    * op (one blob → many frames). A real video pipeline swaps the splitter
    * for a demuxer; the flatMap shape, frame indexing, and downstream schema
    * stay identical. Frames never re-join the blob: only (doc_id, frame_idx,
    * frame bytes) flow on, keeping shuffle payloads frame-sized.
    */
  // ------------------------------------------------------------ JPEG pixels

  /** Headless AWT, set once before any `javax.imageio` touch below: local
    * mode shares one JVM across executor threads and nothing here needs a
    * display. Cheap and idempotent, so every codec entry point references
    * it first.
    */
  private lazy val headless: Unit = {
    System.setProperty("java.awt.headless", "true")
  }

  /** ENTROPY-CODED baseline-JPEG encode of an 8-bit GRAYSCALE raster via
    * the JDK's own codec (`javax.imageio`, part of `java.desktop` — pure
    * JVM, no native image libs), at an explicit quality factor. The
    * planting twin of [[decodeJpegGrayPixels]] for real-compression
    * fixtures, the way [[pngEncode]] twins [[decodePngPixels]]: unlike
    * [[jpegWrap]] (which frames arbitrary bytes for the metadata walk),
    * the output here is a complete compressed image whose entropy data the
    * decode side must actually run the Huffman+IDCT pipeline to recover.
    * Grayscale by contract: one component sidesteps chroma subsampling, so
    * a smooth fixture's round-trip error stays within a few counts and an
    * error-bound gate is tight (chroma paths documented out of scope, the
    * [[decodePngPixels]] scope-note discipline).
    */
  def jpegEncodeGray(
      width: Int, height: Int, pixels: Array[Byte], quality: Float): Array[Byte] = {
    headless
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    require(pixels.length == width * height,
      s"raster must be ${width * height} bytes, got ${pixels.length}")
    require(quality > 0f && quality <= 1f, s"quality must be in (0,1], got $quality")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    System.arraycopy(pixels, 0, buf, 0, pixels.length)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally {
      ios.close()
      wr.dispose()
    }
    bos.toByteArray
  }

  /** REAL pixel decode for baseline GRAYSCALE JPEG: the strict
    * [[decodeJpeg]] marker walk validates the container first (every
    * length lands on `FF`, one SOF, EOI tail), then the JDK codec runs the
    * actual Huffman + dequantize + IDCT pipeline, and the decoded raster
    * must be single-band with dimensions EQUAL to the SOF header's — a
    * payload that walks but decodes inconsistently returns None, the
    * [[decodePngPixels]] strictness discipline.
    *
    * Determinism scope (documented): JPEG is lossy and the inverse DCT is
    * the JDK's — bit-stable within one JDK, but not a cross-engine
    * contract the way PNG's inflate is. Gates therefore pin STRUCTURE
    * exactly (dims, pixel count) and pixels by ERROR BOUND against a
    * planted reference raster ([[jpegGrayErrStats]]), never raw lossy
    * samples; a DuckDB oracle re-derives the structure and the bound
    * closed-form. Color JPEG is out of scope here (chroma upsampling
    * varies by decoder); the metadata path [[decodeJpeg]] still covers it.
    */
  /** Guarded `ImageIO.read` for UNTRUSTED JPEG payloads — the shared
    * gate both pixel decoders go through before the JDK codec touches the
    * stream. Two hazards of attacker-controlled SOF headers are closed
    * here, mirroring [[decodePngPixels]]' decompression-bomb posture:
    *
    *  1. ALLOCATION: `ImageIO.read` sizes its raster from the SOF dims
    *     (up to 65535×65535 × up to 4 components ≈ 17 GB) before any
    *     caller check can run. We reject when `4·w·h` (worst-case JPEG
    *     band count, so the cap holds even when the stream's real
    *     component count differs from the caller's expectation) exceeds
    *     the PNG path's 256 MiB (`1<<28`) raster bound — computed in
    *     Long, so 65535² cannot wrap. Deliberate asymmetry: because the
    *     cap uses the worst-case band count regardless of the stream's
    *     actual components, GRAYSCALE JPEGs cap at ~67 M pixels (~64 MiB
    *     of raster) — 4× stricter than the PNG path's grayscale ceiling.
    *     Acceptable as a conservative bomb guard; if legitimate >67 MP
    *     grayscale corpora ever matter, size the cap on `bands·w·h` after
    *     a cheap SOF component read.
    *  2. CRASH CLASS: only IOException used to be caught, but malformed
    *     color streams can throw CMMException / IllegalArgumentException /
    *     other RuntimeExceptions out of the codec; any of those killed the
    *     task instead of shrinking the row count. All NonFatal throws now
    *     classify as "undecodable" → None.
    */
  private def readJpegGuarded(
      p: Array[Byte], w: Long, h: Long, bands: Int)
      : Option[java.awt.image.BufferedImage] = {
    if (w <= 0 || h <= 0 || 4L * w * h > (1L << 28)) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth.toLong != w || img.getHeight.toLong != h ||
        img.getRaster.getNumBands != bands) None
    else Some(img)
  }

  def decodeJpegGrayPixels(p: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    headless
    decodeJpeg(p).flatMap { case (w, h) =>
      readJpegGuarded(p, w, h, bands = 1).map { img =>
        val r = img.getRaster
        val out = new Array[Byte]((w * h).toInt) // guard proved 4·w·h ≤ 2^28
        var y = 0
        var k = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            out(k) = (r.getSample(x, y, 0) & 0xff).toByte
            k += 1
            x += 1
          }
          y += 1
        }
        (w.toInt, h.toInt, out)
      }
    }
  }

  /** Per-image error statistics for a REAL lossy round trip: decode the
    * JPEG payload ([[decodeJpegGrayPixels]]) and reduce against the
    * planted reference raster to structure + the max absolute per-pixel
    * error — the integer an error-bound gate can threshold. Rows whose
    * payload fails the strict decode, or whose reference length mismatches
    * the decoded raster, are ABSENT from the output (the
    * [[pngPixelStats]] scope rule), so a silently-wrong decoder shrinks
    * the row count and turns the gate red on `rows` before `hash`.
    */
  final case class JpegPlanted(doc_id: Long, payload: Array[Byte], ref: Array[Byte])
  final case class JpegErrStats(
      doc_id: Long, width: Long, height: Long, n_pix: Long, max_abs_err: Long)
  def jpegGrayErrStats(
      spark: SparkSession, planted: DataFrame): Dataset[JpegErrStats] = {
    import spark.implicits._
    planted.as[JpegPlanted].mapPartitions { rows =>
      rows.flatMap { r =>
        decodeJpegGrayPixels(r.payload).flatMap { case (w, h, px) =>
          if (px.length != r.ref.length) None
          else {
            var mx = 0L
            var k = 0
            while (k < px.length) {
              val d = math.abs((px(k) & 0xff) - (r.ref(k) & 0xff)).toLong
              if (d > mx) mx = d
              k += 1
            }
            Some(JpegErrStats(r.doc_id, w.toLong, h.toLong, px.length.toLong, mx))
          }
        }
      }
    }
  }

  /** ENTROPY-CODED baseline-JPEG encode of an 8-bit RGB raster (3 bytes
    * per pixel, R,G,B interleaved) — [[jpegEncodeGray]]'s 3-band sibling,
    * same JDK codec, same explicit-quality contract. The color path adds
    * the two lossy stages grayscale sidesteps: RGB↔YCbCr conversion and
    * (below the writer's quality cutoff) chroma subsampling — so color
    * round-trip error bounds are WIDER than gray's and gates must be sized
    * to them (see [[decodeJpegRgbPixels]]'s scope note). The buffer is
    * written in the `TYPE_3BYTE_BGR` layout's byte order directly — no
    * per-pixel color-model conversion on the encode side.
    */
  def jpegEncodeRgb(
      width: Int, height: Int, rgb: Array[Byte], quality: Float): Array[Byte] = {
    headless
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    require(rgb.length == 3 * width * height,
      s"raster must be ${3 * width * height} bytes (RGB interleaved), got ${rgb.length}")
    require(quality > 0f && quality <= 1f, s"quality must be in (0,1], got $quality")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var k = 0
    while (k < rgb.length) { // RGB → the buffer's BGR byte order
      buf(k) = rgb(k + 2); buf(k + 1) = rgb(k + 1); buf(k + 2) = rgb(k)
      k += 3
    }
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally {
      ios.close()
      wr.dispose()
    }
    bos.toByteArray
  }

  /** REAL pixel decode for COLOR (3-component) baseline JPEG —
    * [[decodeJpegGrayPixels]]' discipline extended to 3 bands: the strict
    * [[decodeJpeg]] marker walk validates the container, the JDK codec
    * runs Huffman + dequantize + IDCT + YCbCr→RGB (and chroma UPSAMPLING
    * when the stream is subsampled), and the decoded image must be
    * 3-band with dimensions equal to the SOF header's. Output raster is
    * R,G,B interleaved via the color model's `getRGB` (exact for 8-bit
    * sRGB — no rendering conversion), so band order is pinned regardless
    * of the decoder's internal buffer layout.
    *
    * Determinism scope (documented): everything gray's note says, PLUS
    * chroma subsampling — the JDK writer subsamples chroma below its
    * quality cutoff and different decoders upsample differently, so color
    * error bounds are decoder-dependent in a way gray never is. Gates pin
    * structure exactly and pixels by a WIDER error bound on SMOOTH planted
    * gradients (where upsampling interpolation error stays small);
    * CMYK/4-component streams stay out of scope (the walk accepts their
    * SOF, the 3-band check here rejects them).
    */
  def decodeJpegRgbPixels(p: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    headless
    decodeJpeg(p).flatMap { case (w, h) =>
      readJpegGuarded(p, w, h, bands = 3).map { img =>
        val out = new Array[Byte]((3L * w * h).toInt) // guard: 4·w·h ≤ 2^28
        var y = 0
        var k = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val argb = img.getRGB(x, y)
            out(k) = ((argb >> 16) & 0xff).toByte
            out(k + 1) = ((argb >> 8) & 0xff).toByte
            out(k + 2) = (argb & 0xff).toByte
            k += 3
            x += 1
          }
          y += 1
        }
        (w.toInt, h.toInt, out)
      }
    }
  }

  /** [[jpegGrayErrStats]] for the color path: decode via
    * [[decodeJpegRgbPixels]] and reduce to structure + the max absolute
    * per-SAMPLE error across all 3·w·h R/G/B samples against the planted
    * interleaved reference. Same absent-row rule: strict-decode failures
    * and reference-length mismatches shrink the row count rather than
    * emit junk stats.
    */
  def jpegRgbErrStats(
      spark: SparkSession, planted: DataFrame): Dataset[JpegErrStats] = {
    import spark.implicits._
    planted.as[JpegPlanted].mapPartitions { rows =>
      rows.flatMap { r =>
        decodeJpegRgbPixels(r.payload).flatMap { case (w, h, px) =>
          if (px.length != r.ref.length) None
          else {
            var mx = 0L
            var k = 0
            while (k < px.length) {
              val d = math.abs((px(k) & 0xff) - (r.ref(k) & 0xff)).toLong
              if (d > mx) mx = d
              k += 1
            }
            Some(JpegErrStats(r.doc_id, w.toLong, h.toLong, (w * h).toLong, mx))
          }
        }
      }
    }
  }

  final case class Frame(doc_id: Long, frame_idx: Long, frame: Array[Byte])
  def sampleFrames(
      spark: SparkSession,
      media: DataFrame,
      frameBytes: Int,
      everyN: Int): Dataset[Frame] = {
    require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      val total = r.payload.length / frameBytes
      (0L until total.toLong).iterator
        .filter(_ % everyN == 0)
        .map { i =>
          val from = (i * frameBytes).toInt
          Frame(r.doc_id, i, java.util.Arrays.copyOfRange(r.payload, from, from + frameBytes))
        }
    }
  }
}
