package graft.multimodal

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata alongside, processed batch-at-a-time per
  * partition (the JVM analog of `mapInPandas`-style batched UDFs).
  *
  * The Spark-side contract — schema, encoders, partition-wise batching,
  * deterministic outputs — is real and tested. IMAGE dimensions are a REAL
  * header-level decode: BMP, PNG and JPEG dimensions are read straight
  * from the container header, pure JDK, no codec dependency
  * ([[imageHeaderDims]]).
  * Payloads that aren't a recognized container — and the audio/video
  * modalities, whose codecs aren't available in this environment — fall
  * back to deterministic digest-derived pseudo-metadata ([[digestMeta]]),
  * keeping the whole typed path oracle-checkable. A full pixel/sample
  * decoder swaps into [[decode]]/[[fakeFrames]]; every plan around it is
  * unchanged.
  */
object Binary {

  final case class MediaRecord(media_id: Long, modality: String,
                               bytes: Array[Byte], source: String)
  final case class MediaMeta(media_id: Long, modality: String,
                             size_bytes: Long, width: Int, height: Int,
                             n_frames: Int, digest: String)
  final case class Frame(media_id: Long, frame_no: Int, frame_bytes: Array[Byte])

  /** Header-level image dimensions, pure JDK — the four containers whose
    * headers are self-describing without a pixel codec:
    *  - PNG: 8-byte signature, then the IHDR chunk (always first, by spec);
    *    big-endian int32 width/height at byte offsets 16/20.
    *  - BMP: "BM" file header (14 bytes) + DIB header. BITMAPINFOHEADER
    *    and successors (size ≥ 40) carry little-endian int32 width at 18,
    *    height at 22 (negative height = top-down row order → abs); the
    *    legacy BITMAPCOREHEADER (size 12) carries uint16 dims at 18/20.
    *  - GIF: "GIF87a"/"GIF89a" signature, then the Logical Screen
    *    Descriptor's little-endian uint16 width/height at offsets 6/8
    *    (GIF89a spec §18) — the canvas dims, which is what a layout pass
    *    wants regardless of sub-image frames.
    *  - JPEG: SOI then a marker-segment walk to the first SOF frame
    *    header ([[jpegDims]]) — baseline (SOF0), progressive (SOF2) and
    *    the other SOFn variants, with metadata segments (JFIF APP0, EXIF
    *    APP1, comments, quant/Huffman tables) skipped by their declared
    *    lengths.
    * Returns None when the payload is none of these (caller falls back). */
  private[multimodal] def imageHeaderDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val isPng = bytes.length >= 24 &&
      u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
      u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a &&
      u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R'
    val isGif = bytes.length >= 10 &&
      u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
      (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a'
    // Real DIB header sizes only (CORE/INFO/V2/V3/V4/V5) — "BM"-prefixed
    // TEXT payloads can't false-positive: a valid size's upper bytes are
    // NUL, which printable text never contains.
    val dibSizes = Set(12, 40, 52, 56, 108, 124)
    if (isPng) Some((be32(16), be32(20)))
    else if (isGif) Some((le16(6), le16(8)))
    else if (bytes.length >= 22 && u8(0) == 'B' && u8(1) == 'M') {
      val dibSize = if (bytes.length >= 18) le32(14) else 0
      if (dibSize == 12) Some((le16(18), le16(20)))
      else if (dibSizes.contains(dibSize) && bytes.length >= 26)
        Some((le32(18), math.abs(le32(22))))
      else None
    } else webpDims(bytes).orElse(tiffDims(bytes)).orElse(jpegDims(bytes))
  }

  /** JPEG frame dimensions via the marker-segment walk (ISO/IEC 10918-1
    * Annex B): after SOI (FFD8), each segment is FF <marker> <len:be16>
    * <payload>, where len counts itself. The FIRST SOF marker — C0..CF
    * minus C4 (DHT), C8 (JPG extension), CC (DAC) — carries the frame
    * header: precision(1), height(be16), width(be16). That one rule
    * covers baseline (C0), progressive (C2) and the rare SOFn variants,
    * and EXIF files need no special case: APP1 is just another
    * length-skipped segment. The walk stops (→ None, digest fallback) on
    * desync, SOS/EOI before any SOF, or a truncated header — a malformed
    * payload degrades, never throws. */
  private[multimodal] def jpegDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    var i = 2
    while (i + 1 < bytes.length) {
      if (u8(i) != 0xff) return None // marker desync
      var j = i + 1 // skip FF fill bytes before the marker id
      while (j + 1 < bytes.length && u8(j) == 0xff) j += 1
      val m = u8(j)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i = j + 1 // standalone
      else if (m == 0xd9 || m == 0xda) return None // EOI / entropy data: no SOF seen
      else {
        if (j + 3 >= bytes.length) return None
        val len = be16(j + 1)
        if (len < 2) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (j + 8 > bytes.length) return None // truncated frame header
          return Some((be16(j + 6), be16(j + 4))) // (width, height)
        }
        i = j + 1 + len
      }
    }
    None
  }

  /** Minimal structurally-valid GIF89a: header + Logical Screen
    * Descriptor (no global color table) + `frames` image descriptors
    * (each with an empty local table, a 2-color LZW minimum code size
    * and one 1-byte data sub-block) + trailer — plus a Graphic Control
    * Extension before each frame so the walk's extension skipping is
    * exercised. The deterministic fixture for [[gifFrameCount]]. */
  def synthGif(width: Int, height: Int, frames: Int): Array[Byte] = {
    require(width > 0 && width < 65536 && height > 0 && height < 65536,
      "dims must fit le16")
    require(frames >= 1 && frames <= 1024, "frames must be in 1..1024")
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { b(v & 0xff); b(v >> 8) }
    "GIF89a".foreach(c => b(c))
    le16(width); le16(height); b(0x00); b(0); b(0) // LSD, no GCT
    for (_ <- 0 until frames) {
      b(0x21); b(0xf9); b(4); b(0); le16(0); b(0); b(0) // GCE + terminator
      b(0x2c); le16(0); le16(0); le16(width); le16(height); b(0x00)
      b(2)          // LZW minimum code size
      b(1); b(0x4c) // one data sub-block
      b(0)          // block terminator
    }
    b(0x3b)
    out.toByteArray
  }

  /** WebP dimensions across all three container variants (RIFF
    * container + the VP8 bitstream headers; Google WebP container
    * spec): `RIFF <size> WEBP` then one chunk at offset 12 —
    * `VP8X` (extended: canvas width/height as le24 MINUS-ONE at payload
    * offsets 4/7), `VP8L` (lossless: 0x2f signature then a packed le32
    * of 14-bit width-1 / 14-bit height-1 / alpha / version), or
    * `VP8 ` (lossy: 3-byte frame tag, the 9D 01 2A start code, then
    * le16 values whose low 14 bits are width/height). None on anything
    * malformed — degrade, never throw (the [[jpegDims]] discipline). */
  def webpDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le24(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)
    def tag(i: Int, s: String): Boolean =
      bytes.length >= i + 4 && s.indices.forall(k => u8(i + k) == s.charAt(k))
    if (bytes.length < 25 || !tag(0, "RIFF") || !tag(8, "WEBP")) return None
    if (tag(12, "VP8X")) {
      if (bytes.length < 30) None
      else Some((le24(24) + 1, le24(27) + 1))
    } else if (tag(12, "VP8L")) {
      if (bytes.length < 25 || u8(20) != 0x2f) None
      else {
        val bits = le16(21) | (le16(23) << 16)
        Some(((bits & 0x3fff) + 1, ((bits >>> 14) & 0x3fff) + 1))
      }
    } else if (tag(12, "VP8 ")) {
      if (bytes.length < 30 || u8(23) != 0x9d || u8(24) != 0x01 ||
        u8(25) != 0x2a) None
      else Some((le16(26) & 0x3fff, le16(28) & 0x3fff))
    } else None
  }

  /** Standalone TIFF dimensions (TIFF 6.0 baseline): byte-order mark
    * `II`/`MM` + magic 42 + IFD0 offset, then the entry walk — 12-byte
    * entries of (tag, type, count, value), width tag 256 / length tag
    * 257 as inline SHORT(3) or LONG(4) values — the SAME structure the
    * EXIF walker reads inside JPEG APP1, here at the top of the file.
    * None on malformed/truncated (degrade, never throw). */
  def tiffDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 8) return None
    val le =
      if (u8(0) == 'I' && u8(1) == 'I' && u8(2) == 42 && u8(3) == 0) true
      else if (u8(0) == 'M' && u8(1) == 'M' && u8(2) == 0 && u8(3) == 42)
        false
      else return None
    def u16(i: Int): Int =
      if (le) u8(i) | (u8(i + 1) << 8) else (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long =
      if (le) u8(i).toLong | (u8(i + 1).toLong << 8) |
        (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
      else (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
        (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > bytes.length) return None
    val n = u16(ifd.toInt)
    var w = -1L
    var h = -1L
    var k = 0
    while (k < n) {
      val e = ifd.toInt + 2 + 12 * k
      if (e + 12 > bytes.length) return None
      val tag = u16(e)
      val tpe = u16(e + 2)
      if (tag == 256 || tag == 257) {
        val v = tpe match {
          case 3 => u16(e + 8).toLong // SHORT: value left-justified
          case 4 => u32(e + 8)
          case _ => return None
        }
        if (tag == 256) w = v else h = v
      }
      k += 1
    }
    if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
      Some((w.toInt, h.toInt))
    else None
  }

  /** Minimal structurally-valid baseline TIFF for [[tiffDims]]: header +
    * a one-IFD walk with width/length (+ a bits-per-sample entry so the
    * walk skips an unrelated tag), both byte orders. */
  def synthTiff(width: Int, height: Int, bigEndian: Boolean): Array[Byte] = {
    require(width >= 1 && height >= 1, "dims must be positive")
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit =
      if (bigEndian) { b(v >> 8); b(v) } else { b(v); b(v >> 8) }
    def u32(v: Long): Unit =
      if (bigEndian) { b((v >> 24).toInt); b((v >> 16).toInt)
        b((v >> 8).toInt); b(v.toInt) }
      else { b(v.toInt); b((v >> 8).toInt); b((v >> 16).toInt)
        b((v >> 24).toInt) }
    if (bigEndian) { b('M'); b('M'); b(0); b(42) }
    else { b('I'); b('I'); b(42); b(0) }
    u32(8L) // IFD0 right after the header
    u16(3)  // three entries
    // ImageWidth as LONG, ImageLength as SHORT: both value forms walked
    u16(256); u16(4); u32(1L); u32(width.toLong)
    u16(257); u16(3); u32(1L)
    if (bigEndian) { u16(height); u16(0) } else { u16(height); u16(0) }
    u16(258); u16(3); u32(1L)
    if (bigEndian) { u16(8); u16(0) } else { u16(8); u16(0) }
    u32(0L) // no next IFD
    out.toByteArray
  }

  /** Minimal structurally-valid WebP fixture for [[webpDims]]:
    * `variant` 0 = lossy `VP8 `, 1 = lossless `VP8L`, 2 = extended
    * `VP8X`. Chunk payloads carry exactly the header fields the real
    * decoders read (frame tag + start code, the 0x2f-signed packed
    * dims, the minus-one canvas), with RIFF's odd-size pad byte. */
  def synthWebp(width: Int, height: Int, variant: Int): Array[Byte] = {
    require(width >= 1 && width <= 0x3fff && height >= 1 && height <= 0x3fff,
      "dims must fit the 14-bit VP8 fields")
    require(variant >= 0 && variant <= 2, "variant is 0|1|2")
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def w(s: String): Unit = s.foreach(c => b(c.toInt))
    def le16(v: Int): Unit = { b(v); b(v >> 8) }
    def le24(v: Int): Unit = { b(v); b(v >> 8); b(v >> 16) }
    def le32(v: Int): Unit = { b(v); b(v >> 8); b(v >> 16); b(v >> 24) }
    val (fourcc, payload) = variant match {
      case 0 =>
        val p = new java.io.ByteArrayOutputStream()
        p.write(Array[Byte](0, 0, 0)) // frame tag
        p.write(0x9d); p.write(0x01); p.write(0x2a)
        p.write(width & 0xff); p.write((width >> 8) & 0x3f)
        p.write(height & 0xff); p.write((height >> 8) & 0x3f)
        ("VP8 ", p.toByteArray)
      case 1 =>
        val bits = (width - 1) | ((height - 1) << 14)
        val p = new java.io.ByteArrayOutputStream()
        p.write(0x2f)
        (0 until 4).foreach(k => p.write((bits >>> (8 * k)) & 0xff))
        ("VP8L", p.toByteArray)
      case _ =>
        val p = new java.io.ByteArrayOutputStream()
        p.write(0x02); p.write(0); p.write(0); p.write(0) // flags+reserved
        (0 until 3).foreach(k => p.write(((width - 1) >>> (8 * k)) & 0xff))
        (0 until 3).foreach(k => p.write(((height - 1) >>> (8 * k)) & 0xff))
        ("VP8X", p.toByteArray)
    }
    val padded = payload.length + (payload.length & 1)
    w("RIFF"); le32(4 + 8 + padded); w("WEBP")
    w(fourcc); le32(payload.length); out.write(payload)
    if ((payload.length & 1) == 1) b(0)
    out.toByteArray
  }

  /** MP3 frame-header walk (ISO/IEC 11172-3 §2.4.1.3 / 13818-3 LSF) —
    * the compressed-audio leg next to [[wavMeta]]/[[flacMeta]]: skip an
    * optional ID3v2 prefix (syncsafe size), then per frame read the
    * 11-bit sync, MPEG version, Layer III check, the bitrate/sample-rate
    * index tables and the padding bit; frame length =
    * samplesPerFrame/8 · bitrate / sampleRate + padding, and the walk
    * hops frame to frame without touching audio data. Returns
    * (n_frames, sample_rate, first-frame bitrate kbps, total samples) —
    * sample count sums per-frame (1152 MPEG1 / 576 LSF Layer III), so
    * it is VBR-correct even though the headline bitrate reads frame 1.
    * Stops at the first desync/reserved index: partial counts if ≥ 1
    * valid frame was walked, else None (degrade, never throw). */
  def mp3Meta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    var i = 0
    if (bytes.length >= 10 && u8(0) == 'I' && u8(1) == 'D' && u8(2) == '3') {
      val sz = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
      // ID3v2.4 footer flag (header flags byte, bit 4): the syncsafe
      // size excludes both the 10-byte header AND the 10-byte footer —
      // without this hop the first sync probe lands inside the footer.
      i = 10 + sz + (if ((u8(5) & 0x10) != 0) 10 else 0)
    }
    val brV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
      224, 256, 320, 0)
    val brV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
      144, 160, 0)
    val srV1 = Array(44100, 48000, 32000, 0)
    var frames = 0
    var sr0 = 0
    var br0 = 0
    var samples = 0L
    def done: Option[(Int, Int, Int, Long)] =
      if (frames > 0) Some((frames, sr0, br0, samples)) else None
    while (i + 4 <= bytes.length) {
      if (u8(i) != 0xff || (u8(i + 1) & 0xe0) != 0xe0) return done
      val ver = (u8(i + 1) >> 3) & 3   // 3=MPEG1 2=MPEG2 0=MPEG2.5 1=res
      val layer = (u8(i + 1) >> 1) & 3 // 1 = Layer III
      val brIdx = (u8(i + 2) >> 4) & 15
      val srIdx = (u8(i + 2) >> 2) & 3
      val pad = (u8(i + 2) >> 1) & 1
      if (ver == 1 || layer != 1 || brIdx == 0 || brIdx == 15 || srIdx == 3)
        return done // free-format/reserved: out of the walk's contract
      val mpeg1 = ver == 3
      val kbps = (if (mpeg1) brV1 else brV2)(brIdx)
      val sr = srV1(srIdx) / (ver match { case 3 => 1; case 2 => 2; case _ => 4 })
      val spf = if (mpeg1) 1152 else 576
      val flen = spf / 8 * (kbps * 1000) / sr + pad
      if (flen < 4) return done
      if (frames == 0) { sr0 = sr; br0 = kbps }
      frames += 1
      samples += spf
      i += flen
    }
    done
  }

  /** CBR MPEG1 Layer III fixture for [[mp3Meta]]: `frames` zero-payload
    * frames at bitrate index `brIdx` (1..14) and sample-rate index
    * `srIdx` (0..2), no padding, optionally behind a minimal ID3v2
    * prefix — the exact header fields the walk reads. */
  def synthMp3(brIdx: Int, srIdx: Int, frames: Int,
               id3Bytes: Int = 0, id3Footer: Boolean = false): Array[Byte] = {
    require(brIdx >= 1 && brIdx <= 14 && srIdx >= 0 && srIdx <= 2,
      "brIdx in 1..14, srIdx in 0..2")
    require(frames >= 1 && frames <= 4096, "frames in 1..4096")
    require(id3Bytes >= 0 && id3Bytes < (1 << 21), "id3Bytes syncsafe-small")
    val brV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
      224, 256, 320, 0)
    val srV1 = Array(44100, 48000, 32000)
    val flen = 144 * brV1(brIdx) * 1000 / srV1(srIdx)
    val out = new java.io.ByteArrayOutputStream()
    if (id3Bytes > 0) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0) // version 2.4
      out.write(if (id3Footer) 0x10 else 0) // flags: bit 4 = footer present
      Seq(21, 14, 7, 0).foreach(s => out.write((id3Bytes >> s) & 0x7f))
      out.write(new Array[Byte](id3Bytes))
      if (id3Footer) { // ID3v2.4 §3.4: mirrored header, "3DI" magic
        out.write('3'); out.write('D'); out.write('I')
        out.write(4); out.write(0); out.write(0x10)
        Seq(21, 14, 7, 0).foreach(s => out.write((id3Bytes >> s) & 0x7f))
      }
    }
    for (_ <- 0 until frames) {
      val frame = new Array[Byte](flen)
      frame(0) = 0xff.toByte
      frame(1) = 0xfb.toByte // sync | MPEG1 | Layer III | no CRC
      frame(2) = ((brIdx << 4) | (srIdx << 2)).toByte
      frame(3) = 0
      out.write(frame)
    }
    out.toByteArray
  }

  /** MP3 Xing/Info (and Fraunhofer VBRI) VBR header — the fast-duration
    * path next to [[mp3Meta]]'s full frame walk: a VBR encoder writes
    * the total frame count into the FIRST frame, so duration reads in
    * one frame instead of O(file) hops — the difference between
    * header-sniffing and re-scanning at corpus scale. Layout: after the
    * optional ID3v2 prefix (footer-aware, like [[mp3Meta]]), the first
    * frame's header gives version + mode; "Xing"/"Info" sits after the
    * side info (MPEG1: 32 B stereo / 17 B mono; LSF: 17/9) with
    * flags:be32 (bit 0 = frame count present) then frames:be32; the
    * Fraunhofer "VBRI" variant sits at a fixed 32 B after the header
    * with frames at +14. Returns (frames, sampleRate, durationMs);
    * None when neither tag is present (CBR → walk with [[mp3Meta]]). */
  def mp3VbrMeta(bytes: Array[Byte]): Option[(Long, Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xffffffffL
    def tag(i: Int, t: String): Boolean =
      i + t.length <= bytes.length &&
        t.indices.forall(k => u8(i + k) == t.charAt(k))
    var i = 0
    if (bytes.length >= 10 && u8(0) == 'I' && u8(1) == 'D' && u8(2) == '3') {
      val sz = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
      i = 10 + sz + (if ((u8(5) & 0x10) != 0) 10 else 0)
    }
    if (i + 4 > bytes.length || u8(i) != 0xff || (u8(i + 1) & 0xe0) != 0xe0)
      return None
    val ver = (u8(i + 1) >> 3) & 3
    val layer = (u8(i + 1) >> 1) & 3
    val srIdx = (u8(i + 2) >> 2) & 3
    val mode = (u8(i + 3) >> 6) & 3 // 3 = mono
    if (ver == 1 || layer != 1 || srIdx == 3) return None
    val mpeg1 = ver == 3
    val sr = Array(44100, 48000, 32000)(srIdx) /
      (ver match { case 3 => 1; case 2 => 2; case _ => 4 })
    val spf = if (mpeg1) 1152L else 576L
    val side = if (mpeg1) { if (mode == 3) 17 else 32 }
               else { if (mode == 3) 9 else 17 }
    val x = i + 4 + side
    val frames: Option[Long] =
      if ((tag(x, "Xing") || tag(x, "Info")) && x + 12 <= bytes.length &&
        (be32(x + 4) & 1L) != 0) Some(be32(x + 8))
      else if (tag(i + 36, "VBRI") && i + 36 + 18 <= bytes.length)
        Some(be32(i + 36 + 14))
      else None
    frames.map(f => (f, sr, f * spf * 1000L / sr))
  }

  /** Minimal Xing-tagged MPEG1 frame fixture for [[mp3VbrMeta]]. */
  def synthXingMp3(srIdx: Int, declaredFrames: Long,
                   mono: Boolean = false): Array[Byte] = {
    require(srIdx >= 0 && srIdx <= 2 && declaredFrames >= 0, "bad fixture")
    val flen = 144 * 128000 / Array(44100, 48000, 32000)(srIdx)
    val out = new Array[Byte](flen)
    out(0) = 0xff.toByte
    out(1) = 0xfb.toByte // MPEG1 Layer III
    out(2) = ((9 << 4) | (srIdx << 2)).toByte // 128 kbps
    out(3) = (if (mono) 0xc0 else 0x00).toByte
    val x = 4 + (if (mono) 17 else 32)
    "Xing".zipWithIndex.foreach { case (c, k) => out(x + k) = c.toByte }
    out(x + 7) = 1 // flags: frames present
    out(x + 8) = ((declaredFrames >>> 24) & 0xff).toByte
    out(x + 9) = ((declaredFrames >>> 16) & 0xff).toByte
    out(x + 10) = ((declaredFrames >>> 8) & 0xff).toByte
    out(x + 11) = (declaredFrames & 0xff).toByte
    out
  }

  /** AVIF/HEIC image dimensions via the ISO-BMFF item-property walk —
    * the modern-codec sibling of [[mp4Meta]] sharing the same box
    * grammar: ftyp (brand avif/avis/heic/mif1) → meta (a FULL box:
    * 4-byte version/flags before children) → iprp → ipco → ispe (full
    * box: width:be32 height:be32). No pixel decode — the `ispe` spatial
    * extents ARE the declared dimensions, which is exactly what a
    * corpus-scale dimension audit reads. None on any torn structure. */
  def avifDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xffffffffL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int): String = new String(bytes.slice(i, i + 4), "US-ASCII")
    def walk(from: Int, to: Int)(f: (String, Int, Int) => Unit): Boolean = {
      var i = from
      while (i + 8 <= to) {
        var size = be32(i); var hdr = 8
        if (size == 1) {
          if (i + 16 > to) return false
          size = be64(i + 8); hdr = 16
        } else if (size == 0) size = to - i
        if (size < hdr || size > to - i) return false
        f(fourcc(i + 4), i + hdr, i + size.toInt)
        i += size.toInt
      }
      i == to
    }
    if (bytes.length < 16 || fourcc(4) != "ftyp") return None
    val brand = fourcc(8)
    if (!Set("avif", "avis", "heic", "heix", "mif1").contains(brand)) return None
    var dims: Option[(Int, Int)] = None
    val ok = walk(0, bytes.length) { (t, s, e) =>
      if (t == "meta" && e - s >= 4) {
        // meta is a FULL box: skip version/flags before its children
        walk(s + 4, e) { (t2, s2, e2) =>
          if (t2 == "iprp") walk(s2, e2) { (t3, s3, e3) =>
            if (t3 == "ipco") walk(s3, e3) { (t4, s4, e4) =>
              if (t4 == "ispe" && dims.isEmpty && e4 - s4 >= 12) {
                val w = be32(s4 + 4).toInt; val h = be32(s4 + 8).toInt
                if (w > 0 && h > 0) dims = Some((w, h))
              }
            }
          }
        }
        ()
      }
    }
    if (ok) dims else None
  }

  /** Minimal AVIF/HEIC fixture: ftyp(brand) + meta(iprp(ipco(ispe))). */
  def synthAvif(width: Int, height: Int,
                brand: String = "avif"): Array[Byte] = {
    def be32(v: Long): Array[Byte] =
      Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ tpe.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(0) ++
      (brand + "mif1").getBytes("US-ASCII"))
    val ispe = box("ispe", be32(0) ++ be32(width.toLong) ++ be32(height.toLong))
    val meta = box("meta", be32(0) ++ box("iprp", box("ipco", ispe)))
    ftyp ++ meta
  }

  /** GIF frame count via the real block walk (GIF89a spec §§20-25):
    * after the Logical Screen Descriptor (+ global color table if
    * flagged), blocks are 0x21 extensions (label + length-prefixed
    * sub-blocks to a 0 terminator), 0x2C image descriptors (9-byte
    * header + local color table if flagged + LZW code size +
    * sub-blocks), 0x3B trailer. Frames = image descriptors — the
    * animated-vs-static signal a media-curation pass wants without
    * decoding LZW. None on a non-GIF or a desynced/truncated walk
    * (degrade, never throw). */
  def gifFrameCount(bytes: Array[Byte]): Option[Int] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 14 || u8(0) != 'G' || u8(1) != 'I' || u8(2) != 'F'
      || u8(3) != '8' || (u8(4) != '7' && u8(4) != '9') || u8(5) != 'a')
      return None
    var i = 13
    // global color table: 3·2^(size+1) bytes when the GCT flag is set
    if ((u8(10) & 0x80) != 0) i += 3 * (1 << ((u8(10) & 0x07) + 1))
    var frames = 0
    def skipSubBlocks(): Boolean = {
      while (i < bytes.length && u8(i) != 0) {
        i += 1 + u8(i)
        if (i > bytes.length) return false
      }
      if (i >= bytes.length) return false
      i += 1 // the 0 terminator
      true
    }
    while (i < bytes.length) {
      u8(i) match {
        case 0x3b => return Some(frames)
        case 0x21 =>
          i += 2 // introducer + label
          if (!skipSubBlocks()) return None
        case 0x2c =>
          if (i + 10 > bytes.length) return None
          val flags = u8(i + 9)
          i += 10
          if ((flags & 0x80) != 0) i += 3 * (1 << ((flags & 0x07) + 1))
          i += 1 // LZW minimum code size
          if (i > bytes.length) return None
          if (!skipSubBlocks()) return None
          frames += 1
        case _ => return None // desync
      }
    }
    None // ran out without a trailer
  }

  /** The JPEG Annex K.1 luminance quantization base table (ISO/IEC
    * 10918-1, Table K.1), natural order — the reference every encoder's
    * quality knob scales. */
  private[multimodal] val JpegStdLuminance: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** The IJG quality→table scaling (libjpeg jcparam.c, public): scale
    * S = q<50 ? 5000/q : 200−2q, entry = clamp((base·S + 50)/100, 1,
    * 255) — pure positive integer arithmetic. */
  private[multimodal] def jpegScaledTable(quality: Int): Array[Int] = {
    require(quality >= 1 && quality <= 100, "quality must be in 1..100")
    val s = if (quality < 50) 5000 / quality else 200 - 2 * quality
    JpegStdLuminance.map(b => math.min(255, math.max(1, (b * s + 50) / 100)))
  }

  /** Minimal structurally-valid JPEG: SOI, DQT carrying the
    * quality-scaled luminance table (8-bit, slot 0), SOF0 frame header,
    * EOI — enough for every header-walk parser here (dims, DQT); no
    * entropy-coded data. The deterministic fixture for the quality
    * estimator, same contract as [[synthPng]]/[[synthBmp]]. */
  def synthJpeg(width: Int, height: Int, quality: Int): Array[Byte] = {
    require(width > 0 && width < 65536 && height > 0 && height < 65536,
      "dims must fit be16")
    val t = jpegScaledTable(quality)
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    b(0xff); b(0xd8)                         // SOI
    b(0xff); b(0xdb); b(0); b(67); b(0)      // DQT: len 67, pq=0 tq=0
    t.foreach(b)
    b(0xff); b(0xc0); b(0); b(11); b(8)      // SOF0: len 11, precision 8
    b(height >> 8); b(height & 0xff); b(width >> 8); b(width & 0xff)
    b(1); b(1); b(0x11); b(0)                // 1 component, uses table 0
    b(0xff); b(0xd9)                         // EOI
    out.toByteArray
  }

  /** DQT-based encode-quality estimate — the identify/ImageMagick
    * heuristic in EXACT integers: marker-walk to the first 8-bit DQT,
    * sum its 64 entries, express them as a percentage of the Annex-K
    * base sum (S_pct = (100·Σq + Σbase div 2) div Σbase), then invert
    * the IJG scale: q ≈ S ≤ 100 ? (200 − S) div 2 : 5000 div S. Clamping
    * makes the estimate approximate at the extremes; the FORMULA is the
    * contract — an oracle replays the identical arithmetic. A corpus
    * ranks re-encoded/thumbnail spam by this signal without decoding a
    * single pixel. None on malformed input, missing DQT, or a 16-bit
    * table (pq ≠ 0) — degrade, never throw. */
  def jpegDqtQuality(bytes: Array[Byte]): Option[Int] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    var i = 2
    while (i + 1 < bytes.length) {
      if (u8(i) != 0xff) return None
      var j = i + 1
      while (j + 1 < bytes.length && u8(j) == 0xff) j += 1
      val m = u8(j)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i = j + 1
      else if (m == 0xd9 || m == 0xda) return None // no DQT before data
      else {
        if (j + 3 >= bytes.length) return None
        val len = be16(j + 1)
        if (len < 2) return None
        if (m == 0xdb) {
          // first table in the segment: pq (high nibble) must be 0 (8-bit)
          if (j + 3 + 65 > bytes.length || len < 67) return None
          if ((u8(j + 3) >> 4) != 0) return None
          var sq = 0L
          var k = 0
          while (k < 64) { sq += u8(j + 4 + k); k += 1 }
          val sb = JpegStdLuminance.map(_.toLong).sum
          val sPct = (100L * sq + sb / 2) / sb
          val est = if (sPct <= 0) 100L
            else if (sPct <= 100) (200L - sPct) / 2 else 5000L / sPct
          return Some(est.toInt)
        }
        i = j + 1 + len
      }
    }
    None
  }

  final case class AudioMeta(media_id: Long, size_bytes: Long,
                             sample_rate: Int, channels: Int,
                             bits_per_sample: Int, n_samples: Long,
                             duration_ms: Long, digest: String)

  /** WAV (RIFF/WAVE) header metadata, pure JDK — the audio twin of
    * [[imageHeaderDims]]. RIFF container (RIFF spec / WAVEFORMATEX):
    * "RIFF" <size:le32> "WAVE", then a chunk walk of
    * `<id:4><size:le32><payload, padded to even>`:
    *  - `fmt ` carries format(le16), channels(le16), sampleRate(le32),
    *    byteRate(le32), blockAlign(le16), bitsPerSample(le16);
    *  - `data`'s declared size over blockAlign is the per-channel sample
    *    (frame) count.
    * Unknown chunks (LIST/INFO, fact, cue) are skipped by their declared
    * size — the same discipline as the JPEG segment walk. Returns
    * (sampleRate, channels, bitsPerSample, nSamples); None on any
    * malformed/truncated structure (caller falls back, never throws). */
  private[multimodal] def wavMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3).toLong << 24)) & 0xffffffffL
    def tag(i: Int, s: String): Boolean =
      bytes.length >= i + 4 && (0 until 4).forall(k => u8(i + k) == s.charAt(k))
    if (bytes.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // (rate, ch, bits, blockAlign)
    var dataSize: Option[Long] = None
    while (i + 8 <= bytes.length && (fmt.isEmpty || dataSize.isEmpty)) {
      val size = le32(i + 4)
      if (tag(i, "fmt ")) {
        if (size < 16 || i + 8 + 16 > bytes.length) return None
        fmt = Some((le32(i + 12).toInt, le16(i + 10), le16(i + 22), le16(i + 20)))
      } else if (tag(i, "data")) {
        // data may legitimately be the last chunk with its payload
        // truncated in a sampled byte range; the DECLARED size is the
        // metadata (ffprobe reports the same way).
        dataSize = Some(size)
      }
      val step = 8L + size + (size & 1) // chunks pad to even offsets
      if (step <= 0 || i + step > Int.MaxValue) return None // bogus size
      i += step.toInt
    }
    for ((rate, ch, bits, block) <- fmt; d <- dataSize)
      yield {
        if (rate <= 0 || ch <= 0 || bits <= 0 || block <= 0) return None
        (rate, ch, bits, d / block)
      }
  }

  /** Deterministic minimal WAV container — the fixture generator the
    * round-trip check needs: `wavMeta(synthWav(r, c, b, n))` must return
    * exactly (r, c, b, n). PCM silence payload; one fmt and one data
    * chunk, 44-byte canonical header. */
  def synthWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
               nSamples: Long): Array[Byte] = {
    val block = channels * bitsPerSample / 8
    val dataSize = nSamples * block
    require(dataSize <= Int.MaxValue - 44, "fixture payload too large")
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = s.foreach(c => out.write(c.toInt & 0xff))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >>> (8 * k)) & 0xff).toInt))
    w("RIFF"); le32(36 + dataSize); w("WAVE")
    w("fmt "); le32(16); le16(1); le16(channels); le32(sampleRate)
    le32(sampleRate.toLong * block); le16(block); le16(bitsPerSample)
    w("data"); le32(dataSize)
    out.write(new Array[Byte](dataSize.toInt))
    out.toByteArray
  }

  /** FLAC STREAMINFO metadata, pure JDK — the lossless-audio leg next to
    * WAV. A FLAC stream is `fLaC` + metadata blocks of
    * `<last:1|type:7><length:be24><payload>`; STREAMINFO (type 0, 34
    * bytes, mandated first) packs, from payload offset 10:
    * sample rate (20 bits), channels-1 (3), bits-per-sample-1 (5), and
    * total inter-channel samples (36). Same contract as [[wavMeta]]:
    * (rate, channels, bits, nSamples), None on malformed/truncated. */
  private[multimodal] def flacMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 8 || bytes(0) != 'f' || bytes(1) != 'L' ||
      bytes(2) != 'a' || bytes(3) != 'C') return None
    var i = 4
    while (i + 4 <= bytes.length) {
      val hdr = u8(i)
      val len = (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      if ((hdr & 0x7f) == 0) { // STREAMINFO
        if (len < 34 || i + 4 + 34 > bytes.length) return None
        val o = i + 4
        val rate = (u8(o + 10) << 12) | (u8(o + 11) << 4) | (u8(o + 12) >> 4)
        val ch = ((u8(o + 12) >> 1) & 0x7) + 1
        val bps = (((u8(o + 12) & 0x1) << 4) | (u8(o + 13) >> 4)) + 1
        val total = ((u8(o + 13) & 0xfL) << 32) | (u8(o + 14).toLong << 24) |
          (u8(o + 15).toLong << 16) | (u8(o + 16).toLong << 8) | u8(o + 17)
        if (rate <= 0) return None // 0 is spec-invalid for audio streams
        return Some((rate, ch, bps, total))
      }
      if ((hdr & 0x80) != 0) return None // last block, STREAMINFO never seen
      i += 4 + len
    }
    None
  }

  /** Deterministic minimal FLAC container (magic + lone STREAMINFO, 42
    * bytes): `flacMeta(synthFlac(r, c, b, n))` returns exactly
    * (r, c, b, n) — the audio round-trip fixture, lossless edition. */
  def synthFlac(sampleRate: Int, channels: Int, bitsPerSample: Int,
                nSamples: Long): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), "rate is a 20-bit field")
    require(channels >= 1 && channels <= 8, "channels-1 is a 3-bit field")
    require(bitsPerSample >= 1 && bitsPerSample <= 32, "bps-1 is a 5-bit field")
    require(nSamples >= 0 && nSamples < (1L << 36), "total is a 36-bit field")
    val out = new java.io.ByteArrayOutputStream()
    "fLaC".foreach(c => out.write(c.toInt))
    out.write(0x80); out.write(0); out.write(0); out.write(34) // last|type0, len 34
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def be24(v: Int): Unit = { out.write((v >> 16) & 0xff); be16(v & 0xffff) }
    be16(4096); be16(4096) // min/max block size
    be24(0); be24(0) // min/max frame size (0 = unknown, spec-legal)
    out.write((sampleRate >> 12) & 0xff)
    out.write((sampleRate >> 4) & 0xff)
    out.write(((sampleRate & 0xf) << 4) | ((channels - 1) << 1)
      | ((bitsPerSample - 1) >> 4))
    out.write((((bitsPerSample - 1) & 0xf) << 4) | ((nSamples >> 32) & 0xf).toInt)
    (3 to 0 by -1).foreach(k => out.write(((nSamples >> (8 * k)) & 0xff).toInt))
    out.write(new Array[Byte](16)) // unaudited md5 field
    out.toByteArray
  }

  /** OGG container identification-header metadata (Vorbis I spec §4.2 /
    * RFC 7845 §5.1), pure JDK — the open lossy-audio leg next to
    * WAV/FLAC/MP3. An OGG stream is a page sequence
    * `"OggS" <ver=0:1> <type:1> <granule:le64> <serial:le32> <seq:le32>
    * <crc:le32> <nsegs:1> <lacing:nsegs> <payload>`; the FIRST (BOS)
    * page's payload opens with the codec id header — `0x01"vorbis"` →
    * version(le32, must be 0) / channels(u8) / rate(le32), or
    * `"OpusHead"` → version(u8, major 0) / channels(u8) /
    * preSkip(le16), with the granule rate fixed at 48 kHz by RFC 7845
    * §4. Total per-channel PCM samples ride the LAST page's granule
    * position (minus pre-skip for Opus; granule −1 = "no packet ends on
    * this page" is skipped per the spec). CRCs are NOT validated — this
    * is the metadata walk, not an integrity check (the MP4 box-walk
    * boundary); a stream whose pages don't tile the byte range exactly
    * is malformed. Returns (codec 1=vorbis 2=opus, sampleRate,
    * channels, nSamples); None on malformed/truncated — degrade, never
    * throw. */
  def oggMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def le64(i: Int): Long = le32(i) | (le32(i + 4) << 32)
    def isPage(i: Int): Boolean =
      i + 27 <= bytes.length && bytes(i) == 'O' && bytes(i + 1) == 'g' &&
        bytes(i + 2) == 'g' && bytes(i + 3) == 'S' && u8(i + 4) == 0
    // (payloadStart, payloadLen), None when the lacing table is torn
    def pageBody(i: Int): Option[(Int, Int)] = {
      val nsegs = u8(i + 26)
      if (i + 27 + nsegs > bytes.length) None
      else Some((i + 27 + nsegs, (0 until nsegs).map(k => u8(i + 27 + k)).sum))
    }
    if (!isPage(0)) return None
    val (p0, l0) = pageBody(0).getOrElse(return None)
    if (p0 + l0 > bytes.length) return None
    def ascii(off: Int, s: String): Boolean =
      l0 >= off + s.length &&
        s.zipWithIndex.forall { case (c, k) => u8(p0 + off + k) == c.toInt }
    // (codec, granule-rate, channels, preSkip) from the id header
    val id: Option[(Int, Int, Int, Int)] =
      if (l0 >= 16 && u8(p0) == 0x01 && ascii(1, "vorbis")) {
        val ch = u8(p0 + 11); val rate = le32(p0 + 12)
        if (le32(p0 + 7) == 0L && ch > 0 && rate > 0 && rate <= Int.MaxValue)
          Some((1, rate.toInt, ch, 0))
        else None
      } else if (l0 >= 19 && ascii(0, "OpusHead")) {
        val ch = u8(p0 + 9)
        if ((u8(p0 + 8) >> 4) == 0 && ch > 0)
          Some((2, 48000, ch, le16(p0 + 10)))
        else None
      } else None
    val (codec, rate, ch, preSkip) = id.getOrElse(return None)
    var i = 0
    var granule = 0L
    while (isPage(i)) {
      pageBody(i) match {
        case Some((ps, pl)) if ps + pl <= bytes.length =>
          val g = le64(i + 6)
          if (g != -1L) granule = g
          i = ps + pl
        case _ => return None // torn page
      }
    }
    if (i != bytes.length) return None // trailing non-page garbage
    Some((codec, rate, ch, math.max(0L, granule - preSkip)))
  }

  /** Deterministic minimal OGG container (BOS id-header page + EOS data
    * page): `oggMeta(synthOgg(codec, r, c, n))` returns exactly
    * (codec, r', c, n) with r' = 48000 for Opus (the RFC-fixed granule
    * rate; `rate` lands in the informational input-rate field). CRC
    * fields are zero — [[oggMeta]] does not validate them. */
  def synthOgg(codec: Int, rate: Int, channels: Int, nSamples: Long,
               preSkip: Int = 312): Array[Byte] = {
    require(codec == 1 || codec == 2, "codec: 1=vorbis 2=opus")
    require(rate > 0 && channels > 0 && channels < 256 && nSamples >= 0)
    val out = new java.io.ByteArrayOutputStream()
    def page(headerType: Int, granule: Long, seq: Int,
             packet: Array[Byte]): Unit = {
      "OggS".foreach(c => out.write(c.toInt))
      out.write(0); out.write(headerType)
      (0 until 8).foreach(k => out.write(((granule >>> (8 * k)) & 0xff).toInt))
      (0 until 4).foreach(k => out.write((0x6f676721 >>> (8 * k)) & 0xff))
      (0 until 4).foreach(k => out.write((seq >>> (8 * k)) & 0xff))
      (0 until 4).foreach(_ => out.write(0)) // crc, unvalidated
      out.write(1); out.write(packet.length) // one sub-255 lace
      out.write(packet, 0, packet.length)
    }
    val idPkt: Array[Byte] =
      if (codec == 1) {
        val b = new java.io.ByteArrayOutputStream()
        b.write(0x01); "vorbis".foreach(c => b.write(c.toInt))
        (0 until 4).foreach(_ => b.write(0)) // vorbis_version 0
        b.write(channels)
        (0 until 4).foreach(k => b.write((rate >>> (8 * k)) & 0xff))
        (0 until 12).foreach(_ => b.write(0)) // bitrate triple
        b.write(0xb8) // blocksizes 2^8 / 2^11 (spec-legal pair)
        b.write(0x01) // framing bit
        b.toByteArray
      } else {
        val b = new java.io.ByteArrayOutputStream()
        "OpusHead".foreach(c => b.write(c.toInt))
        b.write(1) // version 1 (major 0)
        b.write(channels)
        b.write(preSkip & 0xff); b.write((preSkip >>> 8) & 0xff)
        (0 until 4).foreach(k => b.write((rate >>> (8 * k)) & 0xff))
        b.write(0); b.write(0) // output gain 0 dB
        b.write(0) // mapping family 0
        b.toByteArray
      }
    page(0x02, 0L, 0, idPkt)
    val lastGranule = if (codec == 2) nSamples + preSkip else nSamples
    page(0x04, lastGranule, 1, Array[Byte](0))
    out.toByteArray
  }

  /** Digest-derived audio pseudo-metadata — same contract as
    * [[digestMeta]]: any engine recomputes it from md5 nibbles in SQL. */
  private[multimodal] def digestAudioMeta(r: MediaRecord, hex: String): AudioMeta = {
    def nib(i: Int): Int = Character.digit(hex.charAt(i), 16)
    val rate = 8000 * (1 + nib(0) % 3) // 8/16/24 kHz
    val ch = 1 + nib(1) % 2
    val samples = (nib(2) * 16 + nib(3) + 1).toLong * 100
    AudioMeta(r.media_id, r.bytes.length.toLong, rate, ch,
      bits_per_sample = 16, n_samples = samples,
      duration_ms = samples * 1000 / rate, digest = hex)
  }

  /** Audio feature extraction: real header decode where the payload is a
    * recognized audio container (RIFF/WAVE, FLAC, or OGG Vorbis/Opus,
    * dispatched by magic), digest fallback otherwise — one
    * partition-wise sweep like [[extractMeta]], no shuffle. Lossy OGG
    * payloads report bits_per_sample = 0 (no PCM width exists). */
  def extractAudioMeta(media: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val hex = java.security.MessageDigest.getInstance("MD5").digest(r.bytes)
        .map("%02x".format(_)).mkString
      wavMeta(r.bytes).orElse(flacMeta(r.bytes))
        .orElse(oggMeta(r.bytes).map {
          case (_, rate, ch, n) => (rate, ch, 0, n) }) match {
        case Some((rate, ch, bits, n)) =>
          AudioMeta(r.media_id, r.bytes.length.toLong, rate, ch, bits, n,
            duration_ms = n * 1000 / rate, digest = hex)
        case None => digestAudioMeta(r, hex)
      }
    })
  }

  final case class VideoMeta(media_id: Long, size_bytes: Long,
                             width: Int, height: Int, duration_ms: Long,
                             digest: String)

  /** MP4 / ISO BMFF (ISO 14496-12) header metadata, pure JDK — the video
    * leg of the modality triple. The container is a box tree:
    * `<size:be32><type:4cc>[largesize:be64 if size==1]<payload>`; this
    * walks the top level to `moov`, reads `mvhd` (movie timescale +
    * duration, version 0 be32 / version 1 be64 fields) and descends each
    * `trak` to its `tkhd` for the first nonzero 16.16 fixed-point
    * width/height (the visual track; audio tracks carry 0×0). Returns
    * (width, height, durationMs) with duration floor'd to integer ms;
    * None on any malformed/truncated structure — degrade, never throw. */
  private[multimodal] def mp4Meta(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xffffffffL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int): String = new String(bytes.slice(i, i + 4), "US-ASCII")
    // Walk one box level in [from, to); f gets (type, payloadStart, payloadEnd).
    def walk(from: Int, to: Int)(f: (String, Int, Int) => Unit): Boolean = {
      var i = from
      while (i + 8 <= to) {
        var size = be32(i); var hdr = 8
        if (size == 1) {
          if (i + 16 > to) return false
          size = be64(i + 8); hdr = 16
        } else if (size == 0) size = to - i // "extends to end of file"
        if (size < hdr || size > to - i) return false // torn/absurd box
        f(fourcc(i + 4), i + hdr, i + size.toInt)
        i += size.toInt
      }
      i == to
    }
    if (bytes.length < 12 || fourcc(4) != "ftyp") return None
    var dims: Option[(Int, Int)] = None
    var dur: Option[Long] = None
    var moovOk = true
    val topOk = walk(0, bytes.length) { (t, s, e) =>
      if (t == "moov") {
        moovOk &= walk(s, e) { (t2, s2, e2) =>
          if (t2 == "mvhd" && dur.isEmpty && e2 - s2 >= 20) {
            val v = u8(s2)
            // v0: ver/flags, ctime, mtime, timescale:be32, duration:be32
            // v1: ver/flags, ctime:be64, mtime:be64, timescale:be32, duration:be64
            val (ts, d) =
              if (v == 1 && e2 - s2 >= 32) (be32(s2 + 20), be64(s2 + 24))
              else (be32(s2 + 12), be32(s2 + 16))
            if (ts > 0) dur = Some(d * 1000 / ts)
          } else if (t2 == "trak" && dims.isEmpty) {
            // A torn trak level yields no dims from it; anything it DID
            // yield came from a bounds-checked tkhd, so no invalidation.
            walk(s2, e2) { (t3, s3, e3) =>
              // tkhd v0 payload is 84 bytes with 16.16 width/height at
              // offsets 76/80; v1 adds 12 bytes of 64-bit times → 88/92.
              if (t3 == "tkhd" && dims.isEmpty && e3 - s3 >= 84) {
                val off = if (u8(s3) == 1) 88 else 76
                if (e3 - s3 >= off + 8) {
                  val w = (be32(s3 + off) >>> 16).toInt
                  val h = (be32(s3 + off + 4) >>> 16).toInt
                  if (w > 0 && h > 0) dims = Some((w, h))
                }
              }
            }
            ()
          }
        }
      }
    }
    for (_ <- Option.when(topOk && moovOk)(());
         (w, h) <- dims; d <- dur) yield (w, h, d)
  }

  /** Deterministic minimal MP4 — the fixture generator for the video
    * round-trip check: `mp4Meta(synthMp4(w, h, units, ts))` must return
    * exactly (w, h, units*1000/ts). ftyp + moov(mvhd v0 + trak(tkhd v0));
    * no media data — header metadata is the contract. */
  def synthMp4(width: Int, height: Int, durationUnits: Long,
               timescale: Int = 600): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Array[Byte] =
      Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ tpe.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200) ++
      "isomiso2".getBytes("US-ASCII"))
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(durationUnits) ++
      be32(0x00010000L) ++ Array[Byte](1, 0) ++ new Array[Byte](70))
    val tkhd = box("tkhd", be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++
      be32(0) ++ be32(durationUnits) ++ new Array[Byte](52) ++
      be32(width.toLong << 16) ++ be32(height.toLong << 16))
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    out.write(ftyp); out.write(moov)
    out.toByteArray
  }

  /** Digest-derived video pseudo-metadata — [[digestMeta]]'s contract for
    * the video typed path: nibble-derived, SQL-recomputable. */
  private[multimodal] def digestVideoMeta(r: MediaRecord, hex: String): VideoMeta = {
    def nib(i: Int): Int = Character.digit(hex.charAt(i), 16)
    VideoMeta(r.media_id, r.bytes.length.toLong,
      width = (nib(0) * 16 + nib(1) + 1) * 4, height = (nib(2) * 16 + nib(3) + 1) * 3,
      duration_ms = (nib(4) + 1) * 1000L, digest = hex)
  }

  /** Video feature extraction: real ISO BMFF header decode where the
    * payload is an MP4 container, digest fallback otherwise — one
    * partition-wise sweep like [[extractMeta]], no shuffle. */
  def extractVideoMeta(media: Dataset[MediaRecord]): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val hex = java.security.MessageDigest.getInstance("MD5").digest(r.bytes)
        .map("%02x".format(_)).mkString
      mp4Meta(r.bytes) match {
        case Some((w, h, d)) =>
          VideoMeta(r.media_id, r.bytes.length.toLong, w, h, d, hex)
        case None => digestVideoMeta(r, hex)
      }
    })
  }

  /** Digest-derived pseudo-metadata — the deterministic fallback for
    * unrecognized payloads and for modalities whose codecs aren't present:
    * width/height/frames come from md5 hex nibbles, so any engine can
    * recompute them (the q35 oracle does, in SQL). */
  private[multimodal] def digestMeta(r: MediaRecord, hex: String): MediaMeta = {
    def nib(i: Int): Int = Character.digit(hex.charAt(i), 16)
    MediaMeta(r.media_id, r.modality, r.bytes.length.toLong,
      width = nib(0) * 16 + nib(1) + 1, height = nib(2) * 16 + nib(3) + 1,
      n_frames = if (r.modality == "video") nib(4) + 2 else 1,
      digest = hex)
  }

  /** Decode one record: real BMP/PNG header parse for images, digest
    * fallback otherwise. A full codec call belongs here (per partition, so
    * any native library handle is initialized once per task, not per
    * row). */
  private[multimodal] def decode(r: MediaRecord): MediaMeta = {
    val hex = java.security.MessageDigest.getInstance("MD5").digest(r.bytes)
      .map("%02x".format(_)).mkString
    val headerDims =
      if (r.modality == "image") imageHeaderDims(r.bytes) else None
    headerDims match {
      case Some((w, h)) =>
        MediaMeta(r.media_id, r.modality, r.bytes.length.toLong,
          width = w, height = h, n_frames = 1, digest = hex)
      case None => digestMeta(r, hex)
    }
  }

  /** Feature-extraction pass: one partition-wise sweep, codec init per
    * partition, no shuffle. */
  def extractMeta(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init of codec state happens here
      it.map(decode)
    }
  }

  /** STUB frame sampler: every `step`-th fixed-size chunk of the payload
    * stands in for decoded frames. */
  private[multimodal] def fakeFrames(r: MediaRecord, step: Int): Iterator[Frame] =
    r.bytes.grouped(256).zipWithIndex.collect {
      case (chunk, i) if i % step == 0 => Frame(r.media_id, i, chunk)
    }

  /** Frame sampling fan-out (video → frames): flatMap keeps it narrow; the
    * fan-out ratio is bounded by `step`. */
  def sampleFrames(media: Dataset[MediaRecord], step: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "video").mapPartitions(_.flatMap(fakeFrames(_, step)))
  }

  /** STUB resize — truncation stands in for a pixel-space resize; the
    * output re-enters the pipeline as a first-class binary payload. */
  private[multimodal] def fakeResize(r: MediaRecord, maxBytes: Int): MediaRecord =
    r.copy(bytes = r.bytes.take(maxBytes))

  // ---- REAL pixel-space image ops for the one uncompressed container ----
  // 24-bpp BMP needs no codec: rows are raw BGR triplets (bottom-up,
  // 4-byte padded), so decode/resize/re-encode is pure JDK arithmetic —
  // the genuine "resize" leg of the multimodal mandate, not a stub.
  // Compressed formats (PNG/JPEG) still route through the documented
  // truncation stand-in; a codec swap touches only these helpers.

  /** Deterministic 24-bpp BMP: pixel (x, y) has
    * B = (7x + 13y + seed) mod 256, G = (3x + 5y + 11·seed) mod 256,
    * R = (x + y + seed) mod 256 — integer formulas an oracle replays.
    * BITMAPINFOHEADER, bottom-up rows, 4-byte row padding. */
  def synthBmp(width: Int, height: Int, seed: Int): Array[Byte] = {
    require(width > 0 && height > 0, "dims must be positive")
    require(seed >= 0, "seed must be nonnegative (keeps the mod arithmetic" +
      " identical to the oracle's)")
    val rowSize = (3 * width + 3) / 4 * 4
    val dataSize = rowSize * height
    val out = new java.io.ByteArrayOutputStream(54 + dataSize)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Int): Unit = (0 until 4).foreach(k => out.write((v >>> (8 * k)) & 0xff))
    out.write('B'); out.write('M'); le32(54 + dataSize); le32(0); le32(54)
    le32(40); le32(width); le32(height); le16(1); le16(24)
    le32(0); le32(dataSize); le32(2835); le32(2835); le32(0); le32(0)
    var y = 0
    while (y < height) { // bottom-up: row y of the array is image row y
      var x = 0
      while (x < width) {
        out.write((7 * x + 13 * y + seed) % 256) // B
        out.write((3 * x + 5 * y + 11 * seed) % 256) // G
        out.write((x + y + seed) % 256) // R
        x += 1
      }
      (3 * width until rowSize).foreach(_ => out.write(0))
      y += 1
    }
    out.toByteArray
  }

  private def bmpLayout(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val off = le32(10)
    if (le32(14) < 40 || le16(28) != 24 || le32(30) != 0) return None
    val w = le32(18); val h = le32(22)
    if (w <= 0 || h <= 0) return None // top-down not handled by the resizer
    val rowSize = (3 * w + 3) / 4 * 4
    if (off.toLong + rowSize.toLong * h > bytes.length) return None
    Some((w, h, off, rowSize))
  }

  /** Public face of [[imageHeaderDims]] for pipeline code. */
  def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = imageHeaderDims(bytes)

  /** One pixel (B, G, R) of an uncompressed 24-bpp BMP — (x, y) in image
    * coordinates with y = 0 the BOTTOM row (file order), matching
    * [[synthBmp]]'s generator. */
  def bmpPixel(bytes: Array[Byte], x: Int, y: Int): Option[(Int, Int, Int)] =
    bmpLayout(bytes).flatMap { case (w, h, off, rowSize) =>
      if (x < 0 || x >= w || y < 0 || y >= h) None
      else {
        val p = off + y * rowSize + 3 * x
        Some(((bytes(p) & 0xff), (bytes(p + 1) & 0xff), (bytes(p + 2) & 0xff)))
      }
    }

  /** REAL nearest-neighbor resize of an uncompressed 24-bpp BMP: output
    * pixel (x, y) copies source pixel (x·srcW div outW, y·srcH div outH)
    * — integer floor mapping, so the oracle can name any output pixel's
    * source arithmetically. Returns None for payloads that aren't a
    * decodable 24-bpp BMP (caller falls back to the documented stub). */
  def bmpResizeNearest(bytes: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] = {
    require(outW > 0 && outH > 0, "target dims must be positive")
    bmpLayout(bytes).map { case (w, h, off, rowSize) =>
      val outRow = (3 * outW + 3) / 4 * 4
      val res = new Array[Byte](54 + outRow * outH)
      // header: copy the synthBmp header shape with new dims/sizes
      val hdr = synthBmp(1, 1, 0) // 54-byte template
      System.arraycopy(hdr, 0, res, 0, 54)
      def putLe32(i: Int, v: Int): Unit =
        (0 until 4).foreach(k => res(i + k) = ((v >>> (8 * k)) & 0xff).toByte)
      putLe32(2, 54 + outRow * outH); putLe32(18, outW); putLe32(22, outH)
      putLe32(34, outRow * outH)
      var y = 0
      while (y < outH) {
        val sy = y * h / outH
        var x = 0
        while (x < outW) {
          val sx = x * w / outW
          val sp = off + sy * rowSize + 3 * sx
          val dp = 54 + y * outRow + 3 * x
          res(dp) = bytes(sp); res(dp + 1) = bytes(sp + 1); res(dp + 2) = bytes(sp + 2)
          x += 1
        }
        y += 1
      }
      res
    }
  }

  /** Batched REAL image resize: 24-bpp BMPs and 8-bit truecolor PNGs go
    * through their pixel-space nearest-neighbor paths; remaining payloads
    * (lossy codecs) fall back to the truncation stand-in ([[fakeResize]])
    * so the typed pipeline never drops rows. Same batch shape as
    * [[resizeBatched]]. */
  def resizeImages(media: Dataset[MediaRecord], outW: Int, outH: Int,
                   batchSize: Int = 64): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.map { r =>
      bmpResizeNearest(r.bytes, outW, outH)
        .orElse(pngResizeNearest(r.bytes, outW, outH))
        .map(b => r.copy(bytes = b))
        .getOrElse(fakeResize(r, 54 + ((3 * outW + 3) / 4 * 4) * outH))
    }))
  }

  // ---- REAL PNG pixel decode: Inflater + the five scanline filters ----
  // PNG's lossless pipeline is pure JDK: zlib (java.util.zip) plus the
  // five per-row predictor filters (None/Sub/Up/Average/Paeth). Decoding
  // it for real upgrades the most common lossless web format from
  // header-only to pixel-exact; the honest boundary now excludes only
  // the LOSSY codecs (JPEG DCT, video). Supported profile: 8-bit
  // truecolor (color type 2), non-interlaced — anything else returns
  // None and the caller keeps the documented fallback.

  private def pngCrc(buf: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(buf, off, len)
    c.getValue
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val pa = math.abs(b - c); val pb = math.abs(a - c)
    val pc = math.abs(a + b - 2 * c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Deterministic 8-bit truecolor PNG: pixel (x, y), y from the TOP, has
    * R = (x + y + seed) mod 256, G = (3x + 5y + 11·seed) mod 256,
    * B = (7x + 13y + seed) mod 256 — the synthBmp formulas, so the same
    * oracle arithmetic replays either container. Row y is ENCODED with
    * filter (y + seed) mod 5, so any image taller than four rows
    * exercises every filter type; one zlib IDAT, chunk CRCs real. */
  def synthPng(width: Int, height: Int, seed: Int): Array[Byte] = {
    require(width > 0 && height > 0, "dims must be positive")
    require(seed >= 0, "seed must be nonnegative")
    val stride = 3 * width
    val raw = Array.ofDim[Byte](height, stride)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        raw(y)(3 * x) = ((x + y + seed) % 256).toByte
        raw(y)(3 * x + 1) = ((3 * x + 5 * y + 11 * seed) % 256).toByte
        raw(y)(3 * x + 2) = ((7 * x + 13 * y + seed) % 256).toByte
        x += 1
      }
      y += 1
    }
    val filtered = new Array[Byte](height * (1 + stride))
    y = 0
    while (y < height) {
      val ft = (y + seed) % 5
      val base = y * (1 + stride)
      filtered(base) = ft.toByte
      var i = 0
      while (i < stride) {
        val xv = raw(y)(i) & 0xff
        val a = if (i >= 3) raw(y)(i - 3) & 0xff else 0
        val b = if (y > 0) raw(y - 1)(i) & 0xff else 0
        val c = if (y > 0 && i >= 3) raw(y - 1)(i - 3) & 0xff else 0
        val f = ft match {
          case 0 => xv
          case 1 => xv - a
          case 2 => xv - b
          case 3 => xv - (a + b) / 2
          case 4 => xv - paeth(a, b, c)
        }
        filtered(base + 1 + i) = (f & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater(6)
    defl.setInput(filtered); defl.finish()
    val zOut = new java.io.ByteArrayOutputStream(filtered.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = zOut.toByteArray
    val out = new java.io.ByteArrayOutputStream(idat.length + 64)
    def be32(v: Long): Unit =
      (3 to 0 by -1).foreach(k => out.write(((v >>> (8 * k)) & 0xff).toInt))
    def chunk(tpe: String, payload: Array[Byte]): Unit = {
      be32(payload.length.toLong)
      val body = tpe.getBytes("US-ASCII") ++ payload
      body.foreach(b => out.write(b & 0xff))
      be32(pngCrc(body, 0, body.length))
    }
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    val ihdr = new java.io.ByteArrayOutputStream(13)
    def ibe32(v: Int): Unit =
      (3 to 0 by -1).foreach(k => ihdr.write((v >>> (8 * k)) & 0xff))
    ibe32(width); ibe32(height)
    ihdr.write(8); ihdr.write(2); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    chunk("IHDR", ihdr.toByteArray)
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** REAL PNG decode: chunk walk → concatenated-IDAT Inflater → the five
    * unfilters. Returns (width, height, pixels) with pixels = top-down
    * RGB rows (3·w·h bytes); None for anything outside the supported
    * profile (8-bit truecolor, non-interlaced) or malformed zlib/layout.
    * Chunk CRCs are not rechecked (a flipped bit surfaces as an inflate
    * error or wrong pixels, both caught by the spec's round-trip). */
  def pngDecode(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (bytes.length < 8 + 25 || u8(0) != 0x89 || bytes(1) != 'P' ||
      bytes(2) != 'N' || bytes(3) != 'G') return None
    var w = 0; var h = 0; var ok = false
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    while (i + 8 <= bytes.length) {
      val len = be32(i)
      if (len < 0 || i + 12 + len > bytes.length) return None
      val tpe = new String(bytes.slice(i + 4, i + 8), "US-ASCII")
      tpe match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(i + 8).toInt; h = be32(i + 12).toInt
          // profile gate: 8-bit depth, truecolor, deflate, standard
          // filtering, non-interlaced
          ok = w > 0 && h > 0 && u8(i + 16) == 8 && u8(i + 17) == 2 &&
            u8(i + 18) == 0 && u8(i + 19) == 0 && u8(i + 20) == 0
          if (!ok) return None
        case "IDAT" => idat.write(bytes, i + 8, len.toInt)
        case _ => ()
      }
      i += 12 + len.toInt
    }
    if (!ok || idat.size == 0) return None
    val stride = 3 * w
    val expect = h.toLong * (1 + stride)
    if (expect > Int.MaxValue - 8) return None
    val infl = new java.util.zip.Inflater()
    infl.setInput(idat.toByteArray)
    val filtered = new Array[Byte](expect.toInt)
    var got = 0
    try {
      while (got < filtered.length && !infl.finished()) {
        val n = infl.inflate(filtered, got, filtered.length - got)
        if (n == 0 && infl.needsInput()) return None // truncated stream
        got += n
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally infl.end()
    if (got != filtered.length) return None
    val px = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val ft = filtered(y * (1 + stride)) & 0xff
      if (ft > 4) return None
      val fb = y * (1 + stride) + 1
      val pb = y * stride
      var k = 0
      while (k < stride) {
        val f = filtered(fb + k) & 0xff
        val a = if (k >= 3) px(pb + k - 3) & 0xff else 0
        val b = if (y > 0) px(pb - stride + k) & 0xff else 0
        val c = if (y > 0 && k >= 3) px(pb - stride + k - 3) & 0xff else 0
        val v = ft match {
          case 0 => f
          case 1 => f + a
          case 2 => f + b
          case 3 => f + (a + b) / 2
          case 4 => f + paeth(a, b, c)
        }
        px(pb + k) = (v & 0xff).toByte
        k += 1
      }
      y += 1
    }
    Some((w, h, px))
  }

  /** Encode top-down RGB pixels as a PNG (filter 0 rows — the decoder
    * proves the interesting direction; the encoder just needs to be a
    * valid container for the resized payload). */
  def pngEncode(width: Int, height: Int, px: Array[Byte]): Array[Byte] = {
    require(px.length == 3 * width * height, "pixel buffer shape mismatch")
    val stride = 3 * width
    val filtered = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      filtered(y * (1 + stride)) = 0
      System.arraycopy(px, y * stride, filtered, y * (1 + stride) + 1, stride)
      y += 1
    }
    val defl = new java.util.zip.Deflater(6)
    defl.setInput(filtered); defl.finish()
    val zOut = new java.io.ByteArrayOutputStream(filtered.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = zOut.toByteArray
    val out = new java.io.ByteArrayOutputStream(idat.length + 64)
    def be32(v: Long): Unit =
      (3 to 0 by -1).foreach(k => out.write(((v >>> (8 * k)) & 0xff).toInt))
    def chunk(tpe: String, payload: Array[Byte]): Unit = {
      be32(payload.length.toLong)
      val body = tpe.getBytes("US-ASCII") ++ payload
      body.foreach(b => out.write(b & 0xff))
      be32(pngCrc(body, 0, body.length))
    }
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    val ihdr = new java.io.ByteArrayOutputStream(13)
    def ibe32(v: Int): Unit =
      (3 to 0 by -1).foreach(k => ihdr.write((v >>> (8 * k)) & 0xff))
    ibe32(width); ibe32(height)
    ihdr.write(8); ihdr.write(2); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    chunk("IHDR", ihdr.toByteArray)
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** REAL nearest-neighbor resize of a decodable PNG — same integer
    * floor mapping as [[bmpResizeNearest]], run on the DECODED pixels
    * and re-encoded as PNG. None outside the decoder's profile. */
  def pngResizeNearest(bytes: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] = {
    require(outW > 0 && outH > 0, "target dims must be positive")
    pngDecode(bytes).map { case (w, h, px) =>
      val res = new Array[Byte](3 * outW * outH)
      var y = 0
      while (y < outH) {
        val sy = y * h / outH
        var x = 0
        while (x < outW) {
          val sx = x * w / outW
          val sp = (sy * w + sx) * 3
          val dp = (y * outW + x) * 3
          res(dp) = px(sp); res(dp + 1) = px(sp + 1); res(dp + 2) = px(sp + 2)
          x += 1
        }
        y += 1
      }
      pngEncode(outW, outH, res)
    }
  }

  /** Container-agnostic pixel decode to TOP-DOWN RGB: PNGs through the
    * real zlib path, 24-bpp BMPs through the raw-row path (rows
    * reordered from the file's bottom-up storage so (0,0) is the top-left
    * in both containers). None outside both profiles. */
  def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    pngDecode(bytes).orElse(bmpLayout(bytes).map { case (w, h, off, rowSize) =>
      val px = new Array[Byte](3 * w * h)
      var y = 0
      while (y < h) {
        val src = off + (h - 1 - y) * rowSize // file row (bottom-up)
        var x = 0
        while (x < w) {
          // BMP stores BGR; normalize to RGB
          px((y * w + x) * 3) = bytes(src + 3 * x + 2)
          px((y * w + x) * 3 + 1) = bytes(src + 3 * x + 1)
          px((y * w + x) * 3 + 2) = bytes(src + 3 * x)
          x += 1
        }
        y += 1
      }
      (w, h, px)
    })

  /** Perceptual average-hash (aHash) of a decodable image, in exact
    * integer arithmetic: an 8×8 nearest-neighbor sample grid
    * (x_i = i·w div 8, y_j = j·h div 8), gray = (R+G+B) div 3 per
    * sample, mean = floor of the 64-sample average, bit (j·8+i) set
    * when gray STRICTLY exceeds the mean. Identical images hash
    * identically on any engine (every step is floor-integer); small
    * pixel edits flip few bits, so Hamming distance ranks visual
    * near-duplicates — the image leg of the dedup family. */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    decodePixels(bytes).map { case (w, h, px) =>
      val gray = new Array[Long](64)
      var j = 0
      while (j < 8) {
        val sy = j * h / 8
        var i = 0
        while (i < 8) {
          val sx = i * w / 8
          val p = (sy * w + sx) * 3
          gray(j * 8 + i) =
            ((px(p) & 0xff) + (px(p + 1) & 0xff) + (px(p + 2) & 0xff)) / 3
          i += 1
        }
        j += 1
      }
      val mean = gray.sum / 64
      var hash = 0L
      var k = 0
      while (k < 64) {
        if (gray(k) > mean) hash |= (1L << k)
        k += 1
      }
      hash
    }

  // ---- REAL audio feature extraction: PCM-16 WAV energy ----

  /** Deterministic mono 16-bit PCM WAV: sample k =
    * ((31k + 7 + seed) mod 65536) − 32768 — an integer pseudo-waveform
    * whose energy stats an oracle recomputes exactly. */
  def synthWavPcm16(sampleRate: Int, nSamples: Int, seed: Long): Array[Byte] = {
    require(nSamples >= 0, "nSamples must be nonnegative")
    val out = new java.io.ByteArrayOutputStream(44 + 2 * nSamples)
    def w(s: String): Unit = s.foreach(c => out.write(c.toInt & 0xff))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >>> (8 * k)) & 0xff).toInt))
    w("RIFF"); le32(36L + 2L * nSamples); w("WAVE")
    w("fmt "); le32(16); le16(1); le16(1); le32(sampleRate)
    le32(sampleRate.toLong * 2); le16(2); le16(16)
    w("data"); le32(2L * nSamples)
    var k = 0L
    while (k < nSamples) {
      le16((((31L * k + 7L + seed) % 65536L).toInt - 32768) & 0xffff)
      k += 1
    }
    out.toByteArray
  }

  /** Exact energy statistics of a mono PCM-16 WAV: (n_samples, peak_abs,
    * sum_sq) as integers — REAL sample-level decode, pure JDK; None for
    * anything that isn't mono 16-bit PCM. sum_sq fits a long for any
    * payload under ~8.5 G samples (n · 32768² ≤ 2⁶³). */
  def wavEnergy(bytes: Array[Byte]): Option[(Long, Long, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String): Boolean =
      s.indices.forall(k => i + k < bytes.length && (bytes(i + k) & 0xff) == s.charAt(k))
    if (bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12
    var fmtOk = false
    while (i + 8 <= bytes.length) {
      val sz = le32(i + 4)
      if (tag(i, "fmt ")) {
        if (sz < 16 || i + 8 + 16 > bytes.length) return None
        fmtOk = le16(i + 8) == 1 && le16(i + 10) == 1 && le16(i + 22) == 16
      } else if (tag(i, "data")) {
        if (!fmtOk) return None
        val n = sz / 2
        if (i + 8 + n * 2 > bytes.length) return None
        var k = 0L; var peak = 0L; var sumSq = 0L
        while (k < n) {
          val s = le16((i + 8 + 2 * k).toInt).toShort.toLong
          val a = math.abs(s)
          if (a > peak) peak = a
          sumSq += s * s
          k += 1
        }
        return Some((n, peak, sumSq))
      }
      i += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
    }
    None
  }

  /** Batched media transform — the `mapInPandas` batch shape on the JVM:
    * rows are processed `batchSize` at a time inside each partition, so a
    * vectorized/native codec can amortize per-call overhead across the
    * batch (exactly how Arrow-batched Python UDFs consume record
    * batches). No shuffle; batch size bounds peak decode memory. */
  def resizeBatched(media: Dataset[MediaRecord], maxBytes: Int,
                    batchSize: Int = 64): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap { batch =>
      // a real impl hands `batch` to the codec as one vectorized call
      batch.map(fakeResize(_, maxBytes))
    })
  }

  /** Typed metadata join-back: enrich the media table with extracted
    * metadata without materializing bytes twice (select drops the payload
    * before the shuffle). */
  def withMeta(media: Dataset[MediaRecord]): DataFrame = {
    val meta = extractMeta(media).toDF()
    media.toDF().select("media_id", "modality", "source")
      .join(meta.drop("modality"), Seq("media_id"))
  }

  /** Deterministic ID3v2.3 tag synthesizer — an "ID3" header whose size
    * rides SYNCHSAFE bytes (7 bits per byte, so 0xFF can never appear
    * and break MPEG frame sync — the container's defining trick), two
    * ISO-8859-1 text frames (TIT2 title, TPE1 artist, v2.3 plain
    * big-endian frame sizes + 2 flag bytes + encoding byte 0x00),
    * `padBytes` of zero padding (real taggers over-allocate so edits
    * need no rewrite), then a fake 0xFF 0xFB MPEG frame header and
    * `audioBytes` of deterministic filler. */
  def synthMp3Id3(title: String, artist: String, padBytes: Int,
                  audioBytes: Int): Array[Byte] = {
    require(padBytes >= 0 && audioBytes >= 0, "sizes must be nonnegative")
    require(title.forall(_ < 256) && artist.forall(_ < 256),
      "ISO-8859-1 text only")
    val body = new java.io.ByteArrayOutputStream()
    def bb(v: Int): Unit = body.write(v & 0xff)
    def frame(id: String, text: String): Unit = {
      id.foreach(c => bb(c.toInt))
      val sz = 1 + text.length // encoding byte + text
      bb(sz >>> 24); bb(sz >>> 16); bb(sz >>> 8); bb(sz)
      bb(0); bb(0) // flags
      bb(0)        // encoding 0x00 = ISO-8859-1
      text.foreach(c => bb(c.toInt))
    }
    frame("TIT2", title)
    frame("TPE1", artist)
    (0 until padBytes).foreach(_ => bb(0))
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    "ID3".foreach(c => b(c.toInt))
    b(3); b(0); b(0) // v2.3.0, no flags
    val sz = body.size()
    require(sz < (1 << 28), "tag too large for synchsafe 32")
    b((sz >>> 21) & 0x7f); b((sz >>> 14) & 0x7f)
    b((sz >>> 7) & 0x7f); b(sz & 0x7f)
    body.writeTo(out)
    b(0xff); b(0xfb) // MPEG-1 layer III frame sync
    (0 until audioBytes).foreach(i => b((i * 31 + 7) & 0xef)) // never 0xff
    out.toByteArray
  }

  /** ID3v2 tag walk — title, artist and the declared tag size, no audio
    * decode: verify "ID3", de-synchsafe the 28-bit size (reject any size
    * byte with bit 7 set — that is the corruption the encoding exists to
    * make impossible), then iterate v2.3 frames (4-char id, big-endian
    * size, 2 flag bytes) collecting TIT2/TPE1 ISO-8859-1 payloads,
    * stopping at zero padding or the declared end. Conservative walk:
    * any truncation/inconsistency returns None rather than a guess. */
  def id3Tags(bytes: Array[Byte]): Option[(String, String, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' ||
      bytes(2) != '3') return None
    val szBytes = (6 to 9).map(u8)
    if (szBytes.exists(_ > 0x7f)) return None // not synchsafe → corrupt
    val tagSize = szBytes.foldLeft(0)((a, v) => (a << 7) | v)
    val end = 10 + tagSize
    if (end > bytes.length) return None
    var i = 10
    var title: String = null
    var artist: String = null
    while (i + 10 <= end && u8(i) != 0) {
      val id = new String(bytes, i, 4, StandardCharsets.ISO_8859_1)
      val fsz = (u8(i + 4) << 24) | (u8(i + 5) << 16) |
        (u8(i + 6) << 8) | u8(i + 7)
      if (fsz < 0 || i + 10 + fsz > end) return None
      if ((id == "TIT2" || id == "TPE1") && fsz >= 1 && u8(i + 10) == 0) {
        val text = new String(bytes, i + 11, fsz - 1,
          StandardCharsets.ISO_8859_1)
        if (id == "TIT2") title = text else artist = text
      }
      i += 10 + fsz
    }
    if (title == null || artist == null) None
    else Some((title, artist, tagSize.toLong))
  }

  /** Deterministic frame-sample schedule — the planning half of video
    * frame extraction: from each clip's decoded duration, the instants a
    * sampler should decode (every `stepMs`, capped at `maxFrames` per
    * clip so a feature-length outlier cannot explode the fan-out). The
    * schedule is pure arithmetic on the metadata table — the decode of
    * the scheduled frames stays behind the documented compressed-codec
    * stand-in ([[fakeResize]]), but partitioning, fan-out bounds and the
    * (clip, frame) batch shape downstream tooling consumes are all real
    * and oracle-checked. Clips with nonpositive duration emit no frames
    * (absent, not zero-frame rows — same semantic in the oracle).
    *
    * Scale: explode is map-side; output is ≤ maxFrames × clips rows by
    * construction. */
  def frameSchedule(meta: DataFrame, idCol: String, durationMsCol: String,
                    stepMs: Long, maxFrames: Int): DataFrame = {
    require(stepMs > 0 && maxFrames > 0, "stepMs and maxFrames positive")
    meta
      .filter(col(durationMsCol) > 0)
      .select(col(idCol),
        explode(sequence(lit(0L),
          least(floor((col(durationMsCol) - 1) / stepMs),
            lit(maxFrames - 1L)))).as("frame_idx"))
      .select(col(idCol), col("frame_idx"),
        (col("frame_idx") * stepMs).as("ts_ms"))
  }

  /** Minimal JPEG with a REAL EXIF APP1 block (SOI → APP1["Exif\0\0" +
    * TIFF header + IFD0 with Orientation 0x0112 SHORT and DateTime
    * 0x0132 ASCII-at-offset] → EOI), in EITHER byte order — "II" (Intel,
    * little-endian) or "MM" (Motorola, big-endian), because real camera
    * files ship both and an EXIF walker that hardcodes one silently
    * misreads half the wild corpus. Fixture for [[exifTags]]. */
  def synthExifJpeg(orientation: Int, dateTime: String,
                    littleEndian: Boolean): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, "EXIF orientation is 1-8")
    require(dateTime.length == 19 && dateTime.forall(_ < 128),
      "EXIF DateTime is 19 ASCII chars (YYYY:MM:DD HH:MM:SS)")
    val tiff = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = tiff.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { b(v); b(v >>> 8) } else { b(v >>> 8); b(v) }
    def w32(v: Int): Unit =
      if (littleEndian) { b(v); b(v >>> 8); b(v >>> 16); b(v >>> 24) }
      else { b(v >>> 24); b(v >>> 16); b(v >>> 8); b(v) }
    if (littleEndian) { b('I'); b('I') } else { b('M'); b('M') }
    w16(42)   // TIFF magic
    w32(8)    // IFD0 offset (immediately after this header)
    // IFD0: 2 entries; the ASCII value (20 bytes with NUL) lives past
    // the entry table at offset 8 + 2 + 2*12 + 4 = 38.
    w16(2)
    w16(0x0112); w16(3); w32(1) // Orientation, SHORT, count 1
    // SHORT value packs into the FIRST two bytes of the 4-byte slot in
    // file byte order; the remaining two bytes are zero.
    if (littleEndian) { b(orientation); b(0); b(0); b(0) }
    else { b(0); b(orientation); b(0); b(0) }
    w16(0x0132); w16(2); w32(20); w32(38) // DateTime, ASCII, at offset
    w32(0) // no IFD1
    dateTime.foreach(c => b(c.toInt)); b(0)
    val out = new java.io.ByteArrayOutputStream()
    def ob(v: Int): Unit = out.write(v & 0xff)
    ob(0xff); ob(0xd8) // SOI
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++
      tiff.toByteArray
    ob(0xff); ob(0xe1) // APP1
    val len = payload.length + 2
    ob(len >>> 8); ob(len)
    out.write(payload)
    ob(0xff); ob(0xd9) // EOI
    out.toByteArray
  }

  /** EXIF tag walk — orientation and capture DateTime from a JPEG's
    * APP1 block, no pixel decode: scan the segment chain for
    * APP1/"Exif\0\0", read the TIFF header HONORING ITS DECLARED BYTE
    * ORDER ("II" little, "MM" big — the walk reads every 16/32-bit
    * field through that switch, so both camera families parse), follow
    * the IFD0 offset, iterate 12-byte entries collecting tag 0x0112
    * (Orientation, SHORT in the value slot's leading bytes) and 0x0132
    * (DateTime, ASCII stored at offset when count > 4). Conservative
    * walk: truncation, a bad magic, an out-of-bounds offset, or a
    * missing tag degrades to None — never a throw, never a guess
    * ([[id3Tags]]'s rule). */
  def exifTags(bytes: Array[Byte]): Option[(Long, String)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    // Segment scan for APP1 with the Exif identifier.
    var p = 2
    var app1: Int = -1
    var app1End: Int = -1
    while (app1 < 0 && p + 4 <= bytes.length && u8(p) == 0xff) {
      val marker = u8(p + 1)
      if (marker == 0xd9 || marker == 0xda) return None // hit image data
      val len = (u8(p + 2) << 8) | u8(p + 3)
      if (len < 2 || p + 2 + len > bytes.length) return None
      if (marker == 0xe1 && len >= 8 &&
        bytes.slice(p + 4, p + 10).sameElements(
          "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0))) {
        app1 = p + 10 // TIFF header start
        app1End = p + 2 + len
      }
      p += 2 + len
    }
    if (app1 < 0) return None
    val t0 = app1
    if (t0 + 8 > app1End) return None
    val le =
      if (u8(t0) == 'I' && u8(t0 + 1) == 'I') true
      else if (u8(t0) == 'M' && u8(t0 + 1) == 'M') false
      else return None
    def r16(i: Int): Int =
      if (le) u8(i) | (u8(i + 1) << 8) else (u8(i) << 8) | u8(i + 1)
    def r32(i: Int): Long =
      if (le) u8(i).toLong | (u8(i + 1).toLong << 8) |
        (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
      else (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
        (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    if (r16(t0 + 2) != 42) return None
    val ifd0 = r32(t0 + 4)
    if (ifd0 < 8 || t0 + ifd0 + 2 > app1End) return None
    val e0 = t0 + ifd0.toInt
    val n = r16(e0)
    if (e0 + 2 + n * 12 + 4 > app1End) return None
    var orientation: Option[Long] = None
    var dateTime: Option[String] = None
    var k = 0
    while (k < n) {
      val e = e0 + 2 + k * 12
      val tag = r16(e)
      val typ = r16(e + 2)
      val cnt = r32(e + 4)
      if (tag == 0x0112 && typ == 3 && cnt == 1L)
        orientation = Some(r16(e + 8).toLong)
      if (tag == 0x0132 && typ == 2 && cnt >= 2L && cnt <= 64L) {
        val off = t0 + r32(e + 8)
        if (off < t0 || off + cnt > app1End) return None
        val raw = bytes.slice(off.toInt, (off + cnt).toInt)
        if (raw.exists(b => (b & 0xff) >= 128)) return None
        dateTime = Some(new String(raw.takeWhile(_ != 0), "US-ASCII"))
      }
      k += 1
    }
    for (o <- orientation; d <- dateTime) yield (o, d)
  }

  // ---- Archive containers (APPNOTE.TXT §4.3 / POSIX ustar) ----

  /** ZIP central-directory metadata, pure JDK — the archive leg of the
    * binary family (corpora ship as zips; the manifest question is
    * "how many members, how many bytes" WITHOUT inflating anything).
    * The authoritative index is at the END: the End-Of-Central-Directory
    * record (PK\x05\x06, scanned backward through its ≤64 KiB comment),
    * which locates the central directory; each CD file header
    * (PK\x01\x02, 46 fixed bytes + name/extra/comment) carries the
    * member's compressed and uncompressed sizes. The walk reads ONLY
    * the EOCD + CD — never the member payloads — exactly how any
    * archive indexer lists a 100 GB zip in milliseconds. The walked
    * entry count must equal the EOCD's declared total. Returns
    * (nEntries, totalUncompressed, totalCompressed); None on
    * malformed/truncated — degrade, never throw. */
  def zipMeta(bytes: Array[Byte]): Option[(Int, Long, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def sig(i: Int, c3: Int, c4: Int): Boolean =
      i + 4 <= bytes.length && u8(i) == 'P' && u8(i + 1) == 'K' &&
        u8(i + 2) == c3 && u8(i + 3) == c4
    if (bytes.length < 22) return None
    // EOCD: fixed 22 bytes + variable comment — scan back from the end
    var eocd = -1
    var i = bytes.length - 22
    val floor = math.max(0, bytes.length - 22 - 0xffff)
    while (eocd < 0 && i >= floor) {
      if (sig(i, 5, 6) &&
        i + 22 + le16(i + 20) == bytes.length) eocd = i
      i -= 1
    }
    if (eocd < 0) return None
    val declared = le16(eocd + 10)
    val cdSize = le32(eocd + 12)
    val cdOff = le32(eocd + 16)
    if (cdOff + cdSize > eocd) return None
    var p = cdOff.toInt
    var n = 0
    var unc = 0L
    var comp = 0L
    while (p < cdOff + cdSize) {
      if (!sig(p, 1, 2) || p + 46 > bytes.length) return None
      comp += le32(p + 20)
      unc += le32(p + 24)
      n += 1
      p += 46 + le16(p + 28) + le16(p + 30) + le16(p + 32)
    }
    if (p != cdOff + cdSize || n != declared) return None
    Some((n, unc, comp))
  }

  /** Deterministic ZIP fixture: `entries` STORED members (method 0 —
    * compressed == uncompressed, so the fixture is bit-stable across
    * zlib builds) of `bytesPer` zero bytes each, written with the JDK's
    * own ZipOutputStream so the walk is tested against a REAL writer,
    * not a private mirror of the reader. */
  def synthZip(entries: Int, bytesPer: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    val payload = new Array[Byte](bytesPer)
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    (0 until entries).foreach { k =>
      val e = new java.util.zip.ZipEntry(f"member$k%04d.bin")
      e.setMethod(java.util.zip.ZipOutputStream.STORED)
      e.setSize(bytesPer.toLong)
      e.setCompressedSize(bytesPer.toLong)
      e.setCrc(crc.getValue)
      z.putNextEntry(e)
      z.write(payload)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** POSIX ustar (tar) metadata, pure JDK — the other archive leg.
    * A tar is a sequence of 512-byte header blocks, each followed by
    * ⌈size/512⌉ payload blocks; the header carries name[100],
    * size[12, octal], typeflag at 156, and "ustar" magic at 257. The
    * walk hops header to header by the declared sizes (payloads never
    * read) and stops at the two-zero-block terminator or end of bytes.
    * Counts REGULAR members only (typeflag '0' or NUL); directories
    * and specials hop but don't count. Returns (nEntries, totalBytes);
    * None on malformed — degrade, never throw. */
  def tarMeta(bytes: Array[Byte]): Option[(Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    var i = 0
    var n = 0
    var total = 0L
    while (i + 512 <= bytes.length) {
      if ((0 until 512).forall(k => bytes(i + k) == 0))
        return Some((n, total)) // terminator block — done
      // "ustar" magic (accept the GNU "ustar " variant's first 5 bytes)
      if (!(u8(i + 257) == 'u' && u8(i + 258) == 's' && u8(i + 259) == 't' &&
        u8(i + 260) == 'a' && u8(i + 261) == 'r')) return None
      // size: octal, space/NUL-terminated
      var sz = 0L
      var k = i + 124
      val end = i + 136
      while (k < end && (bytes(k) == ' ' || bytes(k) == 0)) k += 1
      var digits = 0
      while (k < end && bytes(k) >= '0' && bytes(k) <= '7') {
        sz = sz * 8 + (bytes(k) - '0'); k += 1; digits += 1
      }
      if (digits == 0) return None
      val tf = u8(i + 156)
      if (tf == '0' || tf == 0) { n += 1; total += sz }
      val hop = 512L + ((sz + 511) / 512) * 512
      if (i + hop > Int.MaxValue) return None
      i += hop.toInt
    }
    // end of bytes with no terminator: GNU tar tolerates EOF-terminated
    // archives, so a block-aligned end keeps its counts; a mid-block
    // tear is malformed
    if (i == bytes.length && n > 0) Some((n, total)) else None
  }

  /** Deterministic minimal ustar fixture: `entries` regular members of
    * `bytesPer` zero bytes each, correct octal sizes + checksums +
    * two-zero-block terminator. */
  def synthTar(entries: Int, bytesPer: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    (0 until entries).foreach { k =>
      val h = new Array[Byte](512)
      val name = f"member$k%04d.bin".getBytes("US-ASCII")
      System.arraycopy(name, 0, h, 0, name.length)
      def oct(v: Long, off: Int, len: Int): Unit = {
        val s = ("%0" + (len - 1) + "o").format(v).getBytes("US-ASCII")
        System.arraycopy(s, 0, h, off, s.length) // NUL already terminates
      }
      oct(420, 100, 8) // mode 0644
      oct(0, 108, 8); oct(0, 116, 8) // uid/gid
      oct(bytesPer.toLong, 124, 12)
      oct(0, 136, 12) // mtime
      h(156) = '0'
      "ustar ".getBytes("US-ASCII").copyToArray(h, 257)
      "00".getBytes("US-ASCII").copyToArray(h, 263)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum field spaces
      val sum = h.map(_ & 0xff).sum
      ("%06o".format(sum) + "  ").getBytes("US-ASCII")
        .copyToArray(h, 148)
      out.write(h)
      out.write(new Array[Byte](((bytesPer + 511) / 512) * 512))
    }
    out.write(new Array[Byte](1024)) // two-zero-block terminator
    out.toByteArray
  }

  /** gzip member metadata, pure JDK (RFC 1952) — the compressed-stream
    * leg of the archive family (crawl corpora ship as .jsonl.gz; the
    * manifest question is "when was it made, how big does it inflate,
    * is it intact" without keeping the inflated bytes): header MTIME +
    * FLG-driven optional fields (FEXTRA/FNAME/FCOMMENT/FHCRC all
    * honored), then a STORED-block walk of the deflate stream (BTYPE 00
    * — the only deflate shape readable without a Huffman engine; any
    * compressed block degrades to None, the JPEG-pixel honesty rule),
    * then the footer's CRC32/ISIZE. The walk recomputes CRC32 over the
    * stored payload with the JDK's own table and verifies BOTH footer
    * fields, so `crcOk` is a real integrity check, not an echo.
    * Returns (mtime, fnameLen, nBlocks, isize, crcOk); None on
    * malformed/truncated/non-stored — degrade, never throw. */
  def gzipMeta(bytes: Array[Byte]): Option[(Long, Int, Int, Long, Boolean)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (bytes.length < 18) return None
    if (u8(0) != 0x1f || u8(1) != 0x8b || u8(2) != 8) return None
    val flg = u8(3)
    val mtime = le32(4)
    var p = 10
    if ((flg & 4) != 0) { // FEXTRA
      if (p + 2 > bytes.length) return None
      p += 2 + le16(p)
    }
    var fnameLen = 0
    if ((flg & 8) != 0) { // FNAME, NUL-terminated
      val start = p
      while (p < bytes.length && bytes(p) != 0) p += 1
      if (p >= bytes.length) return None
      fnameLen = p - start
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (p < bytes.length && bytes(p) != 0) p += 1
      if (p >= bytes.length) return None
      p += 1
    }
    if ((flg & 2) != 0) p += 2 // FHCRC
    // stored-block walk: 3-bit header at a byte boundary → first byte
    // is BFINAL | BTYPE<<1; BTYPE 00 re-aligns, so LEN/NLEN follow
    val crc = new java.util.zip.CRC32()
    var nBlocks = 0
    var inflated = 0L
    var done = false
    while (!done) {
      if (p + 5 > bytes.length) return None
      val hdr = u8(p)
      if ((hdr >> 1 & 3) != 0 || (hdr & 0xf8) != 0) return None
      val len = le16(p + 1)
      if (le16(p + 3) != (~len & 0xffff)) return None
      if (p + 5 + len > bytes.length) return None
      crc.update(bytes, p + 5, len)
      inflated += len
      nBlocks += 1
      done = (hdr & 1) != 0
      p += 5 + len
    }
    if (p + 8 > bytes.length) return None
    val crcOk = le32(p) == crc.getValue &&
      le32(p + 4) == (inflated & 0xffffffffL)
    Some((mtime, fnameLen, nBlocks, inflated, crcOk))
  }

  /** Deterministic gzip fixture: one member with MTIME + FNAME set and
    * a `payloadLen`-byte deterministic payload ((k·31 + 7) mod 256)
    * split into STORED deflate blocks of `blockSize`, real CRC32/ISIZE
    * footer. A zero-length payload still writes one final empty block
    * (zlib's own convention). */
  def synthGzip(payloadLen: Int, mtime: Long, blockSize: Int,
                name: String = "member.bin"): Array[Byte] = {
    require(payloadLen >= 0 && blockSize >= 1 && blockSize <= 0xffff,
      "payloadLen >= 0 and 1 <= blockSize <= 65535 required")
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8 & 0xff) }
    def le32(v: Long): Unit = { le16((v & 0xffff).toInt)
      le16((v >> 16 & 0xffff).toInt) }
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(8) // FLG: FNAME only
    le32(mtime)
    out.write(0); out.write(255) // XFL, OS unknown
    out.write(name.getBytes("US-ASCII")); out.write(0)
    val payload = Array.tabulate[Byte](payloadLen)(k => ((k * 31 + 7) & 0xff).toByte)
    var off = 0
    var wrote = false
    while (off < payloadLen || !wrote) {
      val len = math.min(blockSize, payloadLen - off)
      val fin = off + len >= payloadLen
      out.write(if (fin) 1 else 0)
      le16(len); le16(~len & 0xffff)
      out.write(payload, off, len)
      off += len
      wrote = true
    }
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    le32(crc.getValue)
    le32(payloadLen.toLong)
    out.toByteArray
  }

  /** ICO icon-directory metadata — the multi-image icon leg of the
    * dimension family: ICONDIR (reserved 0, type 1, count) then 16-byte
    * ICONDIRENTRY records whose width/height bytes encode 1..255 with 0
    * meaning 256 (the format's one quirk); each entry's declared
    * (size, offset) must lie inside the file — a torn download fails
    * that containment check. Payloads (PNG or BMP) never read. Returns
    * (nImages, maxWidth, maxHeight); None on malformed. */
  def icoMeta(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (bytes.length < 6) return None
    if (le16(0) != 0 || le16(2) != 1) return None
    val n = le16(4)
    if (n == 0 || 6 + 16 * n > bytes.length) return None
    var maxW = 0
    var maxH = 0
    (0 until n).foreach { e =>
      val p = 6 + 16 * e
      val w = if (u8(p) == 0) 256 else u8(p)
      val h = if (u8(p + 1) == 0) 256 else u8(p + 1)
      val size = le32(p + 8)
      val off = le32(p + 12)
      if (off < 6 + 16 * n || off + size > bytes.length) return None
      maxW = math.max(maxW, w)
      maxH = math.max(maxH, h)
    }
    Some((n, maxW, maxH))
  }

  /** Deterministic ICO fixture: `dims` (w, h) entries (1..256), each
    * with a small placeholder payload at a correct offset. */
  def synthIco(dims: Seq[(Int, Int)]): Array[Byte] = {
    require(dims.nonEmpty && dims.forall { case (w, h) =>
      w >= 1 && w <= 256 && h >= 1 && h <= 256 }, "dims must be 1..256")
    val per = 8
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8 & 0xff) }
    def le32(v: Long): Unit = { le16((v & 0xffff).toInt)
      le16((v >> 16 & 0xffff).toInt) }
    le16(0); le16(1); le16(dims.size)
    dims.zipWithIndex.foreach { case ((w, h), e) =>
      out.write(if (w == 256) 0 else w)
      out.write(if (h == 256) 0 else h)
      out.write(0); out.write(0) // palette, reserved
      le16(1); le16(32)          // planes, bpp
      le32(per.toLong)
      le32((6 + 16 * dims.size + per * e).toLong)
    }
    dims.indices.foreach(_ => out.write(new Array[Byte](per)))
    out.toByteArray
  }

  // ---- EBML / Matroska (RFC 8794 + matroska.org spec) ----

  /** Matroska/WebM metadata via a real EBML walk — the modern-container
    * leg of the video family next to MP4: EBML varint IDs/sizes parsed
    * per RFC 8794, the header's DocType read, then Segment → Info
    * (TimestampScale, Duration) and Segment → Tracks → TrackEntry
    * (TrackType; Video's PixelWidth/PixelHeight for the first video
    * track). Duration converts to ms by the Matroska rule
    * duration·scale/10⁶ (scale defaults to 10⁶ ns/tick). Cluster
    * payloads are never read. Returns (docType, durationMs, nVideo,
    * nAudio, width, height); None on malformed/truncated — degrade,
    * never throw. */
  def webmMeta(bytes: Array[Byte]): Option[(String, Long, Int, Int, Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    // EBML varint: leading-zero count of the first byte gives the
    // length; IDs keep their marker bit, sizes strip it.
    def vintLen(i: Int): Int = {
      val b = u8(i)
      if (b == 0) return -1
      var l = 1
      while ((b & (0x80 >> (l - 1))) == 0) l += 1
      l
    }
    def readId(i: Int): Option[(Long, Int)] = {
      if (i >= bytes.length) return None
      val l = vintLen(i)
      if (l < 1 || l > 4 || i + l > bytes.length) return None
      var v = 0L
      (0 until l).foreach(j => v = (v << 8) | u8(i + j))
      Some((v, l))
    }
    def readSize(i: Int): Option[(Long, Int)] = {
      if (i >= bytes.length) return None
      val l = vintLen(i)
      if (l < 1 || l > 8 || i + l > bytes.length) return None
      var v = (u8(i) & (0xff >> l)).toLong
      (1 until l).foreach(j => v = (v << 8) | u8(i + j))
      Some((v, l))
    }
    def readUint(off: Int, len: Int): Long = {
      var v = 0L
      (0 until len).foreach(j => v = (v << 8) | u8(off + j))
      v
    }
    def readFloat(off: Int, len: Int): Double = len match {
      case 4 => java.lang.Float.intBitsToFloat(readUint(off, 4).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(readUint(off, 8))
      case _ => Double.NaN
    }
    /** Walk the children of [from, to), calling f(id, payloadOff, payloadLen). */
    def walk(from: Int, to: Int)(f: (Long, Int, Int) => Unit): Boolean = {
      var p = from
      while (p < to) {
        val (id, il) = readId(p).getOrElse(return false)
        val (sz, sl) = readSize(p + il).getOrElse(return false)
        val off = p + il + sl
        if (sz > Int.MaxValue || off + sz > to) return false
        f(id, off, sz.toInt)
        p = off + sz.toInt
      }
      true
    }
    if (bytes.length < 8) return None
    var docType = ""
    var scale = 1000000L
    var duration = Double.NaN
    var nVideo = 0
    var nAudio = 0
    var w = -1
    var h = -1
    var sawSegment = false
    val okTop = walk(0, bytes.length) { (id, off, len) =>
      id match {
        case 0x1A45DFA3L => // EBML header
          walk(off, off + len) { (cid, coff, clen) =>
            if (cid == 0x4282L)
              docType = new String(bytes, coff, clen, "US-ASCII")
          }
        case 0x18538067L => // Segment
          sawSegment = true
          walk(off, off + len) { (cid, coff, clen) =>
            cid match {
              case 0x1549A966L => // Info
                walk(coff, coff + clen) { (iid, ioff, ilen) =>
                  if (iid == 0x2AD7B1L) scale = readUint(ioff, ilen)
                  else if (iid == 0x4489L) duration = readFloat(ioff, ilen)
                }
              case 0x1654AE6BL => // Tracks
                walk(coff, coff + clen) { (tid, toff, tlen) =>
                  if (tid == 0xAEL) { // TrackEntry
                    var ttype = -1L
                    var tw = -1
                    var th = -1
                    walk(toff, toff + tlen) { (eid, eoff, elen) =>
                      if (eid == 0x83L) ttype = readUint(eoff, elen)
                      else if (eid == 0xE0L) { // Video
                        walk(eoff, eoff + elen) { (vid, voff, vlen) =>
                          if (vid == 0xB0L) tw = readUint(voff, vlen).toInt
                          else if (vid == 0xBAL) th = readUint(voff, vlen).toInt
                        }
                        ()
                      }
                    }
                    if (ttype == 1L) {
                      nVideo += 1
                      if (w < 0) { w = tw; h = th }
                    } else if (ttype == 2L) nAudio += 1
                  }
                }
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    if (!okTop || docType.isEmpty || !sawSegment) return None
    val durMs =
      if (duration.isNaN || scale <= 0) -1L
      else math.floor(duration * scale / 1e6).toLong
    Some((docType, durMs, nVideo, nAudio, w, h))
  }

  /** Deterministic minimal Matroska/WebM fixture: EBML header with the
    * given DocType, Segment with Info (explicit 10⁶ TimestampScale,
    * 8-byte-double Duration in ms) and Tracks (one video WxH plus
    * `nAudio` audio entries). All sizes written as 8-byte varints. */
  def synthWebm(docType: String, durMs: Long, w: Int, h: Int,
                nAudio: Int): Array[Byte] = {
    def size8(n: Int): Array[Byte] =
      // Long shifts: Int shift amounts wrap mod 32, so 14 >> 32 = 14
      Array(0x01.toByte) ++
        (48 to 0 by -8).map(s => ((n.toLong >> s) & 0xff).toByte)
    def uint(v: Long): Array[Byte] = {
      var l = 1
      while (l < 8 && (v >> (8 * l)) != 0) l += 1
      (l - 1 to 0 by -1).map(s => ((v >> (8 * s)) & 0xff).toByte).toArray
    }
    def el(id: Array[Int], payload: Array[Byte]): Array[Byte] =
      id.map(_.toByte) ++ size8(payload.length) ++ payload
    val header = el(Array(0x1A, 0x45, 0xDF, 0xA3),
      el(Array(0x42, 0x82), docType.getBytes("US-ASCII")))
    val info = el(Array(0x15, 0x49, 0xA9, 0x66),
      el(Array(0x2A, 0xD7, 0xB1), uint(1000000L)) ++
        el(Array(0x44, 0x89), {
          val b = java.nio.ByteBuffer.allocate(8)
          b.putDouble(durMs.toDouble); b.array()
        }))
    val videoTrack = el(Array(0xAE),
      el(Array(0x83), uint(1L)) ++
        el(Array(0xE0),
          el(Array(0xB0), uint(w.toLong)) ++ el(Array(0xBA), uint(h.toLong))))
    val audioTracks = (0 until nAudio).map(_ =>
      el(Array(0xAE), el(Array(0x83), uint(2L)))).toArray.flatten
    val tracks = el(Array(0x16, 0x54, 0xAE, 0x6B), videoTrack ++ audioTracks)
    header ++ el(Array(0x18, 0x53, 0x80, 0x67), info ++ tracks)
  }

  // ---- Document containers (SVG 1.1 §5.1.2 / PDF 32000-1 §7.5) ----

  /** SVG dimensions — the vector leg of the image-dimension family
    * (crawls carry SVG alongside the raster formats; the intake
    * question is the same width×height): parse the root `<svg>` tag's
    * `width`/`height` attributes (unitless or `px` only — physical
    * units need a DPI context this audit doesn't have), falling back to
    * the `viewBox` third/fourth values when either is absent (the
    * common icon shape). Input is the UTF-8 byte column the pipeline
    * stores; only the prefix up to the end of the root tag is examined.
    * None on no root svg tag, non-pixel units, or no resolvable size —
    * degrade, never throw. */
  def svgDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    val head = new String(bytes, 0, math.min(bytes.length, 4096),
      java.nio.charset.StandardCharsets.UTF_8)
    val tagStart = head.indexOf("<svg")
    if (tagStart < 0) return None
    val tagEnd = head.indexOf('>', tagStart)
    if (tagEnd < 0) return None
    val tag = head.substring(tagStart, tagEnd)
    def attr(name: String): Option[String] = {
      val re = (name + "\\s*=\\s*\"([^\"]*)\"").r
      re.findFirstMatchIn(tag).map(_.group(1).trim)
    }
    def px(v: String): Option[Int] = {
      val s = if (v.endsWith("px")) v.dropRight(2).trim else v
      if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toInt) else None
    }
    (attr("width").flatMap(px), attr("height").flatMap(px)) match {
      case (Some(w), Some(h)) => Some((w, h))
      case _ =>
        attr("viewBox").flatMap { vb =>
          val parts = vb.split("[\\s,]+").filter(_.nonEmpty)
          if (parts.length == 4 && parts.forall(_.forall(_.isDigit)))
            Some((parts(2).toInt, parts(3).toInt))
          else None
        }
    }
  }

  /** Deterministic SVG fixture: root tag with explicit width/height
    * when `explicit`, else viewBox only. */
  def synthSvg(w: Int, h: Int, explicit: Boolean): Array[Byte] = {
    val tag =
      if (explicit)
        s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h">"""
      else
        s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 $w $h">"""
    (s"""<?xml version="1.0"?>\n$tag<rect x="1" y="1"/></svg>""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** PDF document metadata, pure JDK — the document leg of the binary
    * family (corpora ship PDFs; the intake question is version + page
    * count + "is the xref where the trailer says"): header `%PDF-M.m`,
    * page count by scanning for `/Type /Page` object markers (the
    * `/Pages` tree node excluded by the following byte — the same
    * count the catalog's `/Count` declares), and `startxref` validated
    * by checking the bytes at the declared offset actually start an
    * `xref` table (a torn download fails exactly this check). Linearized
    * or cross-reference-STREAM PDFs (no literal `xref` keyword) report
    * xrefOk false rather than None — version and page count still
    * stand. Returns (major, minor, nPages, xrefOk); None on missing
    * header — degrade, never throw. */
  def pdfMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Boolean)] = {
    if (bytes.length < 16) return None
    val head = new String(bytes, 0, math.min(bytes.length, 16),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!head.startsWith("%PDF-")) return None
    val ver = head.substring(5).takeWhile(c => c.isDigit || c == '.')
    val vp = ver.split("\\.")
    if (vp.length < 2 || vp(0).isEmpty || vp(1).isEmpty ||
      !vp(0).forall(_.isDigit) || !vp(1).forall(_.isDigit)) return None
    val body = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    // page objects: "/Type /Page" not followed by 's' (which would be
    // the /Pages tree node); tolerate the no-space "/Type/Page" form
    var n = 0
    var i = body.indexOf("/Type")
    while (i >= 0) {
      var j = i + 5
      while (j < body.length && body.charAt(j) == ' ') j += 1
      if (body.startsWith("/Page", j) &&
        (j + 5 >= body.length || body.charAt(j + 5) != 's')) n += 1
      i = body.indexOf("/Type", i + 5)
    }
    val sx = body.lastIndexOf("startxref")
    val xrefOk = sx >= 0 && {
      val off = body.substring(sx + 9).trim.takeWhile(_.isDigit)
      off.nonEmpty && off.length <= 10 && {
        val o = off.toLong
        o < bytes.length - 4 && body.startsWith("xref", o.toInt)
      }
    }
    Some((vp(0).toInt, vp(1).toInt, n, xrefOk))
  }

  /** Deterministic minimal-but-valid PDF fixture: catalog + pages tree
    * + `pages` page objects, a real xref table with correct byte
    * offsets, trailer and startxref. */
  def synthPdf(major: Int, minor: Int, pages: Int): Array[Byte] = {
    val sb = new StringBuilder
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def obj(body: String): Unit = {
      offsets += sb.length
      sb.append(s"${offsets.length} 0 obj\n$body\nendobj\n")
    }
    sb.append(s"%PDF-$major.$minor\n")
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    val kids = (0 until pages).map(k => s"${3 + k} 0 R").mkString(" ")
    obj(s"<< /Type /Pages /Kids [$kids] /Count $pages >>")
    (0 until pages).foreach { _ =>
      obj("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>")
    }
    val xrefAt = sb.length
    sb.append(s"xref\n0 ${offsets.length + 1}\n")
    sb.append("0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\n")
    sb.append(s"startxref\n$xrefAt\n%%EOF\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
