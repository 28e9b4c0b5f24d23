package graft.ops

/** Decodeless MP3 (MPEG-1/2/2.5 audio) metadata walker — the
  * [[Jpeg.meta]] pattern applied to the dominant crawl audio format
  * (round 17). Full audio DECODE stays out of scope (the subband/MDCT
  * synthesis is a codec-library job — Multimodal scaladoc, r14); what a
  * 100 TB crawl pipeline needs FIRST is the filter/group pass at
  * header cost, and an MP3's frame headers carry everything that pass
  * reads: MPEG version, layer, bitrate, sample rate, frame count →
  * duration, VBR-ness, ID3 tagging. All from the public MPEG audio
  * frame-header layout (11-bit sync, version/layer/bitrate/samplerate
  * index fields, the standard bitrate/samplerate tables) and the
  * public ID3v2/ID3v1 tag formats.
  *
  * The walk is STRICT the way [[Jpeg.meta]] is: every frame header is
  * validated, frame lengths must chain exactly through the stream, and
  * the stream must end on a frame boundary (optionally at an ID3v1
  * `TAG` trailer) — a truncated download fails loudly instead of
  * reporting a shortened duration, so "which blobs have metadata" is
  * deterministic for the oracle and for pipeline bookkeeping.
  * Free-format bitrate (index 0) and reserved version/layer/rate codes
  * refuse loudly. Payload bytes are never inspected.
  */
object Mp3 {
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"mp3: $msg")

  // public MPEG-1/2 audio bitrate tables, kbit/s, index 1-14
  // (index 0 = free format, 15 = forbidden)
  private val BrV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val BrV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val BrV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val BrV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  // sample-rate tables by version bits (0 = MPEG-2.5, 2 = MPEG-2,
  // 3 = MPEG-1), index 0-2
  private val SrV1 = Array(44100, 48000, 32000)
  private val SrV2 = Array(22050, 24000, 16000)
  private val SrV25 = Array(11025, 12000, 8000)

  final case class Meta(version: String, layer: Int, sampleRate: Int,
      bitrateKbps: Int, vbr: Boolean, nFrames: Int, durationMs: Long,
      hasId3v2: Boolean, hasId3v1: Boolean)

  /** Offset just past a leading ID3v2 tag ("ID3" ver(2) flags(1)
    * syncsafe-size(4), optional 10-byte footer), or −1 when the prefix
    * is not a well-formed in-bounds ID3v2 header. Dispatch-grade only
    * (the [[graft.ops.MediaFormat.sniff]] re-sniff for
    * ID3v2-tagged FLAC — a common real-world shape the mp3-first
    * sniff order used to drop as malformed); [[meta]] keeps its own
    * loud-refusal walk. */
  private[graft] def id3v2TagEnd(bytes: Array[Byte]): Int = {
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' ||
      bytes(2) != '3') return -1
    val flags = bytes(5) & 0xff
    var size = 0
    var i = 0
    while (i < 4) {
      val b = bytes(6 + i) & 0xff
      if ((b & 0x80) != 0) return -1
      size = (size << 7) | b
      i += 1
    }
    val end = 10 + size + (if ((flags & 0x10) != 0) 10 else 0)
    if (end > bytes.length) -1 else end
  }

  /** Walk every frame header; never reads entropy/payload bytes. */
  def meta(bytes: Array[Byte]): Meta = {
    var pos = 0
    var hasId3v2 = false
    // ID3v2: "ID3" ver(2) flags(1) syncsafe-size(4), optional footer
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      val flags = bytes(5) & 0xff
      var size = 0
      var i = 0
      while (i < 4) {
        val b = bytes(6 + i) & 0xff
        if ((b & 0x80) != 0) fail("ID3v2 size is not syncsafe")
        size = (size << 7) | b
        i += 1
      }
      pos = 10 + size + (if ((flags & 0x10) != 0) 10 else 0)
      if (pos > bytes.length) fail("truncated ID3v2 tag")
      hasId3v2 = true
    }
    var nFrames = 0
    var totalSamples = 0L
    var version = ""
    var layer = 0
    var sr = 0
    var br0 = 0
    var vbr = false
    var hasId3v1 = false
    var done = false
    while (!done) {
      if (pos == bytes.length) done = true
      else if (bytes.length - pos == 128 && bytes(pos) == 'T' &&
          bytes(pos + 1) == 'A' && bytes(pos + 2) == 'G') {
        hasId3v1 = true; done = true
      } else {
        if (pos + 4 > bytes.length) fail(s"truncated frame header at $pos")
        val h = ((bytes(pos) & 0xff) << 24) | ((bytes(pos + 1) & 0xff) << 16) |
          ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
        if (((h >>> 21) & 0x7ff) != 0x7ff) fail(f"lost frame sync at $pos")
        val verBits = (h >>> 19) & 3
        if (verBits == 1) fail("reserved MPEG version code")
        val layerBits = (h >>> 17) & 3
        if (layerBits == 0) fail("reserved layer code")
        val lyr = 4 - layerBits // bits 3/2/1 → layer I/II/III
        val brIdx = (h >>> 12) & 15
        if (brIdx == 0) fail("free-format bitrate unsupported")
        if (brIdx == 15) fail("forbidden bitrate index")
        val srIdx = (h >>> 10) & 3
        if (srIdx == 3) fail("reserved sample-rate code")
        val pad = (h >>> 9) & 1
        val v1 = verBits == 3
        val fsr = (verBits match {
          case 3 => SrV1
          case 2 => SrV2
          case _ => SrV25
        })(srIdx)
        val fbr = (if (v1) lyr match {
          case 1 => BrV1L1
          case 2 => BrV1L2
          case _ => BrV1L3
        } else if (lyr == 1) BrV2L1 else BrV2L23)(brIdx)
        val ver = verBits match {
          case 3 => "1"
          case 2 => "2"
          case _ => "2.5"
        }
        if (nFrames == 0) {
          version = ver; layer = lyr; sr = fsr; br0 = fbr
        } else {
          // a real stream never changes version/layer/rate mid-file; a
          // sync that "parses" but disagrees is a desync, not a frame
          if (ver != version || lyr != layer || fsr != sr)
            fail(s"mid-stream version/layer/rate change at $pos")
          if (fbr != br0) vbr = true
        }
        val spf = if (lyr == 1) 384 else if (lyr == 2) 1152
          else if (v1) 1152 else 576
        val flen =
          if (lyr == 1) (12 * fbr * 1000 / fsr + pad) * 4
          else spf / 8 * (fbr * 1000) / fsr + pad
        if (flen <= 4) fail("degenerate frame length")
        if (pos + flen > bytes.length) fail(s"truncated frame at $pos")
        totalSamples += spf
        nFrames += 1
        pos += flen
      }
    }
    if (nFrames == 0) fail("no MPEG audio frames")
    Meta(version, layer, sr, br0, vbr, nFrames,
      totalSamples * 1000L / sr, hasId3v2, hasId3v1)
  }

  /** Fixture-grade frame writer: valid headers chained exactly as the
    * walker expects, deterministic junk payload (the walker never
    * reads it — this is a METADATA fixture, not audio). `brIdxOf(i)`
    * sets frame i's bitrate index (vary it for a VBR cohort). */
  def encodeFrames(verBits: Int, layerBits: Int, brIdxOf: Int => Int,
      srIdx: Int, nFrames: Int, id3v2PayloadLen: Int = -1,
      id3v1: Boolean = false, seed: Long = 0L): Array[Byte] = {
    require(verBits != 1 && layerBits != 0 && srIdx != 3, "reserved codes")
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2PayloadLen >= 0) {
      require(id3v2PayloadLen < (1 << 28), "ID3v2 payload too large")
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0) // v2.4.0
      out.write(0) // flags: no footer
      var i = 3
      while (i >= 0) {
        out.write((id3v2PayloadLen >>> (7 * i)) & 0x7f); i -= 1
      }
      var p = 0
      while (p < id3v2PayloadLen) {
        out.write(((seed + p * 37) & 0x7f).toInt); p += 1
      }
    }
    val v1 = verBits == 3
    val lyr = 4 - layerBits
    val fsr = (verBits match {
      case 3 => SrV1
      case 2 => SrV2
      case _ => SrV25
    })(srIdx)
    var f = 0
    while (f < nFrames) {
      val brIdx = brIdxOf(f)
      require(brIdx >= 1 && brIdx <= 14, s"bad bitrate index $brIdx")
      val fbr = (if (v1) lyr match {
        case 1 => BrV1L1
        case 2 => BrV1L2
        case _ => BrV1L3
      } else if (lyr == 1) BrV2L1 else BrV2L23)(brIdx)
      val spf = if (lyr == 1) 384 else if (lyr == 2) 1152
        else if (v1) 1152 else 576
      val flen =
        if (lyr == 1) (12 * fbr * 1000 / fsr + 0) * 4
        else spf / 8 * (fbr * 1000) / fsr // padding bit 0
      val h = (0x7ff << 21) | (verBits << 19) | (layerBits << 17) |
        (1 << 16) | (brIdx << 12) | (srIdx << 10) | (0 << 9)
      out.write((h >>> 24) & 0xff); out.write((h >>> 16) & 0xff)
      out.write((h >>> 8) & 0xff); out.write(h & 0xff)
      var p = 4
      while (p < flen) {
        out.write(((seed * 31 + f * 7 + p) & 0xff).toInt); p += 1
      }
      f += 1
    }
    if (id3v1) {
      out.write('T'); out.write('A'); out.write('G')
      var p = 0
      while (p < 125) { out.write(((seed + p) & 0x7f).toInt); p += 1 }
    }
    out.toByteArray
  }
}
