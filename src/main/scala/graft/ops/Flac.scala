package graft.ops

/** FLAC codec from the public spec (RFC 9639): the decodeless
  * metadata walker (round 18, the [[Jpeg.meta]] / [[Mp3.meta]]
  * pattern) plus FULL PCM frame decode (round 19 — the audio analog
  * of [[Vp8l]]): frame-header walk (sync, block-size/sample-rate/
  * channel-assignment/sample-size codes, UTF-8-coded frame number,
  * CRC-8), subframes (CONSTANT / VERBATIM / FIXED orders 0–4 / LPC
  * orders 1–32 with quantized-coefficient prediction), partitioned
  * Rice residuals (4- and 5-bit parameters, the escape-to-raw mode),
  * wasted-bits shifts, interchannel decorrelation (left/side,
  * right/side, mid/side with the odd-bit reconstruction), and the
  * CRC-16 frame footer. Lossless ⇒ a WAV↔FLAC transcode of the same
  * master decodes to IDENTICAL samples, so the perceptual audio
  * dedup family pairs them exactly (the VP8L re-encode shape, in
  * audio).
  *
  * Container layout (shared by [[meta]] and [[decode]]): the `fLaC`
  * magic, the metadata-block chain (1-byte header: last-flag + 7-bit
  * type; 24-bit big-endian length), and the mandatory first
  * STREAMINFO block's fixed 34-byte layout — block-size bounds,
  * sample rate (20 bits), channels (3 bits, stored −1), bits per
  * sample (5 bits, stored −1), total samples (36 bits) → duration.
  *
  * The walk is STRICT the [[Mp3.meta]] way: block lengths must chain
  * exactly, the first block MUST be STREAMINFO of exactly 34 bytes
  * (spec §"METADATA_BLOCK_STREAMINFO"), a duplicate STREAMINFO or the
  * invalid type 127 refuses, a declared sample rate of 0 refuses, and
  * the first two bytes after the last metadata block must carry the
  * 14-bit frame sync (0xFFF8/0xFFF9) — a stream truncated inside its
  * metadata, or one with no audio frames at all, fails loudly instead
  * of reporting a phantom duration. FRAME bytes past that sync are
  * never inspected (the decodeless boundary).
  *
  * Reference analog: the reference engine ingests every value as an
  * opaque byte string (src/tdb_cons.c:356-411) — this walker is the
  * Spark-side pre-pass that makes those opaque audio blobs
  * filterable/groupable without a codec. */
object Flac {
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"flac: $msg")

  def isFlac(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' &&
      bytes(2) == 'a' && bytes(3) == 'C'

  final case class Meta(sampleRate: Int, nChannels: Int,
      bitsPerSample: Int, totalSamples: Long, durationMs: Long,
      nBlocks: Int, minBlockSize: Int, maxBlockSize: Int,
      hasSeekTable: Boolean, hasVorbisComment: Boolean)

  /** Offset of the `fLaC` magic: 0 for a bare stream, past a
    * well-formed leading ID3v2 tag otherwise (the common real-world
    * tagged-FLAC shape [[graft.ops.MediaFormat.sniff]] re-sniffs,
    * round 19). Fails when neither applies. */
  private[graft] def streamStart(bytes: Array[Byte]): Int = {
    if (isFlac(bytes)) return 0
    val end = Mp3.id3v2TagEnd(bytes)
    if (end > 0 && end + 4 <= bytes.length && bytes(end) == 'f' &&
      bytes(end + 1) == 'L' && bytes(end + 2) == 'a' &&
      bytes(end + 3) == 'C') end
    else fail("not a flac stream (bad fLaC magic)")
  }

  /** Walk the metadata-block chain; never reads audio-frame bytes. */
  def meta(bytes: Array[Byte]): Meta = metaWalk(bytes)._1

  /** [[meta]] plus the byte offset of the first audio frame — the
    * entry point [[decode]] shares, so meta/decoder GUARD PARITY on
    * the metadata chain holds by construction. */
  private def metaWalk(bytes: Array[Byte]): (Meta, Int) = {
    def u8(o: Int): Int = bytes(o) & 0xff
    var pos = streamStart(bytes) + 4
    var last = false
    var first = true
    var sr = 0; var ch = 0; var bps = 0; var total = 0L
    var minBs = 0; var maxBs = 0
    var nBlocks = 0
    var seek = false; var vorbis = false
    while (!last) {
      if (pos + 4 > bytes.length) fail(s"truncated block header at $pos")
      val h = u8(pos)
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      if (typ == 127) fail("invalid metadata block type 127")
      val len = (u8(pos + 1) << 16) | (u8(pos + 2) << 8) | u8(pos + 3)
      val d = pos + 4
      if (d + len > bytes.length) fail(s"truncated metadata block at $pos")
      if (first) {
        if (typ != 0) fail("first metadata block is not STREAMINFO")
        if (len != 34) fail(s"STREAMINFO length $len != 34")
        minBs = (u8(d) << 8) | u8(d + 1)
        maxBs = (u8(d + 2) << 8) | u8(d + 3)
        if (minBs < 16) fail(s"min block size $minBs below the spec floor 16")
        if (maxBs < minBs) fail("max block size below min block size")
        // bytes 10..17: sampleRate(20) channels-1(3) bps-1(5) total(36)
        sr = (u8(d + 10) << 12) | (u8(d + 11) << 4) | (u8(d + 12) >> 4)
        if (sr == 0) fail("sample rate 0 is invalid")
        ch = ((u8(d + 12) >> 1) & 7) + 1
        bps = (((u8(d + 12) & 1) << 4) | (u8(d + 13) >> 4)) + 1
        total = ((u8(d + 13) & 0x0f).toLong << 32) |
          ((u8(d + 14).toLong << 24) | (u8(d + 15) << 16) |
            (u8(d + 16) << 8) | u8(d + 17))
        first = false
      } else typ match {
        case 0 => fail("duplicate STREAMINFO block")
        case 3 => seek = true
        case 4 => vorbis = true
        case _ => () // padding/application/cuesheet/picture: length skip
      }
      nBlocks += 1
      pos = d + len
    }
    if (first) fail("no metadata blocks")
    // the audio stream must follow: the 14-bit frame sync plus the
    // mandatory-ZERO reserved bit — only 0xFFF8/0xFFF9 are valid
    // (0xFFFA/0xFFFB have the reserved bit set and must refuse)
    if (pos + 2 > bytes.length) fail("no audio frames after metadata")
    if (u8(pos) != 0xff || (u8(pos + 1) & 0xfe) != 0xf8)
      fail(f"no frame sync after metadata (got 0x${u8(pos)}%02x${u8(pos + 1)}%02x)")
    // total samples 0 = "unknown" per spec → duration 0 (sentinel-free:
    // the gate's duration axis treats it as an instant clip, which is
    // what an unknown-length stream should look like to a junk filter)
    (Meta(sr, ch, bps, total, total * 1000L / sr, nBlocks, minBs, maxBs,
      seek, vorbis), pos)
  }

  /** Fixture-grade writer: a real metadata chain per the public spec
    * (STREAMINFO + optional SEEKTABLE/VORBIS_COMMENT/PADDING), then a
    * valid first frame sync followed by deterministic junk the walker
    * never reads — a METADATA fixture, not audio. */
  def encode(sampleRate: Int, nChannels: Int, bitsPerSample: Int,
      totalSamples: Long, blockSize: Int = 4096,
      vorbisCommentLen: Int = -1, seekPoints: Int = 0,
      paddingLen: Int = -1, frameLen: Int = 64, seed: Long = 0L): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"20-bit rate: $sampleRate")
    require(nChannels >= 1 && nChannels <= 8, s"channels: $nChannels")
    require(bitsPerSample >= 4 && bitsPerSample <= 32, s"bps: $bitsPerSample")
    require(totalSamples >= 0 && totalSamples < (1L << 36), "36-bit total")
    require(blockSize >= 16 && blockSize <= 0xffff, s"block size: $blockSize")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"), 0, 4)
    def block(typ: Int, last: Boolean, payload: Array[Byte]): Unit = {
      out.write((if (last) 0x80 else 0) | typ)
      out.write((payload.length >> 16) & 0xff)
      out.write((payload.length >> 8) & 0xff)
      out.write(payload.length & 0xff)
      out.write(payload, 0, payload.length)
    }
    val si = new Array[Byte](34)
    si(0) = ((blockSize >> 8) & 0xff).toByte; si(1) = (blockSize & 0xff).toByte
    si(2) = si(0); si(3) = si(1) // min == max (fixed-blocksize stream)
    // min/max frame size (24+24 bits): 0 = unknown, spec-legal
    si(10) = ((sampleRate >> 12) & 0xff).toByte
    si(11) = ((sampleRate >> 4) & 0xff).toByte
    si(12) = (((sampleRate & 0x0f) << 4) | (((nChannels - 1) & 7) << 1) |
      (((bitsPerSample - 1) >> 4) & 1)).toByte
    si(13) = ((((bitsPerSample - 1) & 0x0f) << 4) |
      ((totalSamples >> 32) & 0x0f).toInt).toByte
    si(14) = ((totalSamples >> 24) & 0xff).toByte
    si(15) = ((totalSamples >> 16) & 0xff).toByte
    si(16) = ((totalSamples >> 8) & 0xff).toByte
    si(17) = (totalSamples & 0xff).toByte
    for (i <- 18 until 34) si(i) = ((seed * 31 + i) & 0xff).toByte // MD5: junk
    val tail = Seq.newBuilder[(Int, Array[Byte])]
    if (seekPoints > 0) tail += ((3, Array.tabulate(18 * seekPoints)(i =>
      ((seed * 13 + i) & 0xff).toByte)))
    if (vorbisCommentLen >= 0) {
      // vendor-length + vendor string + 0 user comments (LE u32s)
      val vendor = Array.tabulate(vorbisCommentLen)(i =>
        ('a' + ((seed + i) % 26)).toByte)
      val b = new java.io.ByteArrayOutputStream()
      def u32le(v: Int): Unit =
        for (i <- 0 until 4) b.write((v >> (8 * i)) & 0xff)
      u32le(vendor.length); b.write(vendor, 0, vendor.length); u32le(0)
      tail += ((4, b.toByteArray))
    }
    if (paddingLen >= 0) tail += ((1, new Array[Byte](paddingLen)))
    val blocks = tail.result()
    if (blocks.isEmpty) block(0, last = true, si)
    else {
      block(0, last = false, si)
      blocks.zipWithIndex.foreach { case ((t, p), i) =>
        block(t, last = i == blocks.length - 1, p)
      }
    }
    // first frame sync + junk "audio" the walker never reads
    // (frameLen = 0 writes NO frames — the no-audio refusal fixture)
    require(frameLen == 0 || frameLen >= 2, s"frameLen: $frameLen")
    if (frameLen >= 2) {
      out.write(0xff); out.write(0xf8)
      for (i <- 0 until frameLen - 2)
        out.write(((seed * 37 + i) & 0xff).toInt)
    }
    out.toByteArray
  }

  // ---- PCM frame codec (round 19) ----

  /** CRC-8, polynomial x⁸+x²+x+1 (0x07), init 0 — the frame-header
    * checksum (RFC 9639 §9.1.1; a public-constant table). */
  private val Crc8Table: Array[Int] = Array.tabulate(256) { i =>
    var c = i
    var k = 0
    while (k < 8) { c = if ((c & 0x80) != 0) (c << 1) ^ 0x07 else c << 1; k += 1 }
    c & 0xff
  }

  /** CRC-16, polynomial x¹⁶+x¹⁵+x²+1 (0x8005), init 0 — the frame
    * footer checksum. */
  private val Crc16Table: Array[Int] = Array.tabulate(256) { i =>
    var c = i << 8
    var k = 0
    while (k < 8) {
      c = if ((c & 0x8000) != 0) (c << 1) ^ 0x8005 else c << 1; k += 1
    }
    c & 0xffff
  }

  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc8Table(c ^ (b(i) & 0xff)); i += 1 }
    c
  }

  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c = ((c << 8) & 0xffff) ^ Crc16Table(((c >> 8) ^ (b(i) & 0xff)) & 0xff)
      i += 1
    }
    c
  }

  /** MSB-first bit reader over a byte range (FLAC's bit order — the
    * opposite of [[Vp8l]]'s LSB-first one). `pos` points at the next
    * unread byte whenever the reader is byte-aligned. */
  private final class Br(b: Array[Byte], var pos: Int, end: Int) {
    private var cur = 0
    private var avail = 0
    def bit(): Int = {
      if (avail == 0) {
        if (pos >= end) fail("unexpected end of stream")
        cur = b(pos) & 0xff; pos += 1; avail = 8
      }
      avail -= 1
      (cur >> avail) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var r = n
      while (r > 0) {
        if (avail == 0) {
          if (pos >= end) fail("unexpected end of stream")
          cur = b(pos) & 0xff; pos += 1; avail = 8
        }
        val take = if (r < avail) r else avail
        avail -= take
        v = (v << take) | ((cur >> avail) & ((1 << take) - 1))
        r -= take
      }
      v
    }
    /** Sign-extended n-bit read (n ≤ 32; n = 0 → 0). */
    def sbits(n: Int): Int =
      if (n == 0) 0 else { val v = bits(n); (v << (32 - n)) >> (32 - n) }
    /** Count 0 bits until the terminating 1 (Rice quotient / wasted
      * bits / … — bounded by the stream end). */
    def unary(): Int = {
      var q = 0
      while (bit() == 0) q += 1
      q
    }
    def aligned: Boolean = avail == 0
    /** Drop bits to the next byte boundary; FLAC pads with ZEROS. */
    def alignByte(): Unit =
      while (avail != 0) if (bit() != 0) fail("nonzero frame padding")
    def atEnd: Boolean = avail == 0 && pos >= end
  }

  /** Decoded PCM: `samples` channel-interleaved, one Int per sample
    * (any bps ≤ 32). */
  final case class Pcm(sampleRate: Int, nChannels: Int,
      bitsPerSample: Int, samples: Array[Int]) {
    def nFrames: Long = samples.length.toLong / nChannels
  }

  private val SrTable = Array(-1, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)
  private val SsTable = Array(-1, 8, 12, -1, 16, 20, 24, 32)

  /** Default decode cap: total interleaved samples (≈ 256 MB as Int).
    * The duration meta-gate is the real junk control; this bounds the
    * ungated path the way [[Vp8l]]'s per-bit pixel ceiling does. */
  final val DefaultMaxSamples: Long = 1L << 26

  /** Full PCM decode per RFC 9639. STRICT: every structural rule the
    * spec states refuses loudly (sync/CRC/UTF-8 number chain,
    * STREAMINFO agreement, reserved codes, residual partition
    * arithmetic, declared-total agreement) — a crawl blob either
    * decodes exactly or routes to the undecodable branch, never a
    * garbage raster. */
  def decode(bytes: Array[Byte],
      maxSamples: Long = DefaultMaxSamples): Pcm = {
    val (md, audioStart) = metaWalk(bytes)
    val ch = md.nChannels
    if (md.totalSamples * ch > maxSamples)
      fail(s"declared ${md.totalSamples} samples x $ch channels " +
        s"exceeds the decode cap $maxSamples")
    val known = md.totalSamples > 0
    val out =
      if (known) new Array[Int]((md.totalSamples * ch).toInt) else null
    val grow = if (known) null
      else scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    val br = new Br(bytes, audioStart, bytes.length)
    var samplesDone = 0L
    var frameIdx = 0L
    while (!br.atEnd) {
      // ---- frame header ----
      val frameStart = br.pos
      if (br.bits(14) != 0x3ffe) fail(s"bad frame sync at $frameStart")
      if (br.bit() != 0) fail("reserved frame-header bit set")
      val variableBlocking = br.bit() == 1
      val bsCode = br.bits(4)
      val srCode = br.bits(4)
      val chanAsgn = br.bits(4)
      val ssCode = br.bits(3)
      if (br.bit() != 0) fail("reserved frame-header bit set")
      // UTF-8-coded frame/sample number (extended to 36 bits)
      val first = br.bits(8)
      var coded = 0L
      if ((first & 0x80) == 0) coded = first
      else {
        var n = 0
        var mask = 0x40
        while (mask != 0 && (first & mask) != 0) { n += 1; mask >>= 1 }
        if (n < 1 || n > 6) fail("bad UTF-8 number prefix")
        coded = first & (mask - 1)
        var k = 0
        while (k < n) {
          val c = br.bits(8)
          if ((c & 0xc0) != 0x80) fail("bad UTF-8 number continuation")
          coded = (coded << 6) | (c & 0x3f)
          k += 1
        }
      }
      if (variableBlocking) {
        if (coded != samplesDone)
          fail(s"frame sample number $coded != position $samplesDone")
      } else if (coded != frameIdx)
        fail(s"frame number $coded != index $frameIdx")
      val blockSize = bsCode match {
        case 0 => fail("reserved block-size code 0")
        case 1 => 192
        case c if c <= 5 => 576 << (c - 2)
        case 6 => br.bits(8) + 1
        case 7 => br.bits(16) + 1
        case c => 256 << (c - 8)
      }
      val frameSr = srCode match {
        case 0 => md.sampleRate
        case 12 => br.bits(8) * 1000
        case 13 => br.bits(16)
        case 14 => br.bits(16) * 10
        case 15 => fail("invalid sample-rate code 15")
        case c => SrTable(c)
      }
      if (frameSr != md.sampleRate)
        fail(s"frame sample rate $frameSr != STREAMINFO ${md.sampleRate}")
      val frameCh = if (chanAsgn < 8) chanAsgn + 1
        else if (chanAsgn <= 10) 2
        else fail(s"reserved channel assignment $chanAsgn")
      if (frameCh != ch)
        fail(s"frame channels $frameCh != STREAMINFO $ch")
      val bps = ssCode match {
        case 0 => md.bitsPerSample
        case 3 => fail("reserved sample-size code 3")
        case c => SsTable(c)
      }
      if (bps != md.bitsPerSample)
        fail(s"frame sample size $bps != STREAMINFO ${md.bitsPerSample}")
      val crc8Pos = br.pos
      val wantCrc8 = br.bits(8)
      if (crc8(bytes, frameStart, crc8Pos) != wantCrc8)
        fail(s"frame-header CRC-8 mismatch at $frameStart")
      if (samplesDone + blockSize > maxSamples)
        fail(s"decoded samples exceed the cap $maxSamples")
      if (known && samplesDone + blockSize > md.totalSamples)
        fail(s"frames overrun the declared total ${md.totalSamples}")
      // ---- subframes ----
      val chans = new Array[Array[Long]](ch)
      var c = 0
      while (c < ch) {
        val side = (chanAsgn == 8 && c == 1) || (chanAsgn == 9 && c == 0) ||
          (chanAsgn == 10 && c == 1)
        chans(c) = decodeSubframe(br, blockSize,
          bps + (if (side) 1 else 0))
        c += 1
      }
      br.alignByte()
      val crc16Pos = br.pos
      val wantCrc16 = br.bits(16)
      if (crc16(bytes, frameStart, crc16Pos) != wantCrc16)
        fail(s"frame CRC-16 mismatch at $frameStart")
      // ---- interchannel decorrelation ----
      chanAsgn match {
        case 8 => // left/side: right = left − side
          val l = chans(0); val s = chans(1)
          var i = 0
          while (i < blockSize) { s(i) = l(i) - s(i); i += 1 }
        case 9 => // side/right: left = right + side
          val s = chans(0); val r = chans(1)
          var i = 0
          while (i < blockSize) { s(i) = r(i) + s(i); i += 1 }
        case 10 => // mid/side with the lost-odd-bit reconstruction
          val m = chans(0); val s = chans(1)
          var i = 0
          while (i < blockSize) {
            val mid2 = (m(i) << 1) | (s(i) & 1L)
            m(i) = (mid2 + s(i)) >> 1
            s(i) = (mid2 - s(i)) >> 1
            i += 1
          }
        case _ => ()
      }
      // ---- range-check + interleave ----
      val lo = -(1L << (bps - 1)); val hi = (1L << (bps - 1)) - 1
      val frameOut =
        if (known) out else new Array[Int](blockSize * ch)
      val base = if (known) (samplesDone * ch).toInt else 0
      var i = 0
      while (i < blockSize) {
        var cc = 0
        while (cc < ch) {
          val v = chans(cc)(i)
          if (v < lo || v > hi)
            fail(s"decoded sample $v outside the $bps-bit range")
          frameOut(base + i * ch + cc) = v.toInt
          cc += 1
        }
        i += 1
      }
      if (!known) grow += frameOut
      samplesDone += blockSize
      frameIdx += 1
    }
    if (frameIdx == 0) fail("no audio frames")
    if (known && samplesDone != md.totalSamples)
      fail(s"decoded $samplesDone samples, STREAMINFO declares ${md.totalSamples}")
    val samples =
      if (known) out
      else {
        val all = new Array[Int]((samplesDone * ch).toInt)
        var off = 0
        grow.foreach { f =>
          System.arraycopy(f, 0, all, off, f.length); off += f.length
        }
        all
      }
    Pcm(md.sampleRate, ch, md.bitsPerSample, samples)
  }

  /** One subframe → `blockSize` samples at `effBps` (side channels
    * pass bps+1), wasted-bits shift applied. */
  private def decodeSubframe(br: Br, blockSize: Int,
      effBps0: Int): Array[Long] = {
    if (br.bit() != 0) fail("subframe padding bit set")
    val typ = br.bits(6)
    val wasted =
      if (br.bit() == 1) br.unary() + 1 else 0
    val effBps = effBps0 - wasted
    if (effBps <= 0) fail(s"wasted bits $wasted consume the sample size")
    val out = new Array[Long](blockSize)
    if (typ == 0) { // CONSTANT
      val v = br.sbits(effBps).toLong
      java.util.Arrays.fill(out, v)
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { out(i) = br.sbits(effBps).toLong; i += 1 }
    } else if (typ >= 8 && typ <= 12) { // FIXED, order 0–4
      val order = typ - 8
      if (order > blockSize) fail(s"fixed order $order > block $blockSize")
      var i = 0
      while (i < order) { out(i) = br.sbits(effBps).toLong; i += 1 }
      decodeResidual(br, blockSize, order, out)
      i = order
      order match {
        case 0 => ()
        case 1 => while (i < blockSize) { out(i) += out(i - 1); i += 1 }
        case 2 => while (i < blockSize) {
          out(i) += 2 * out(i - 1) - out(i - 2); i += 1 }
        case 3 => while (i < blockSize) {
          out(i) += 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3); i += 1 }
        case 4 => while (i < blockSize) {
          out(i) += 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) -
            out(i - 4); i += 1 }
      }
    } else if (typ >= 32) { // LPC, order 1–32
      val order = typ - 31
      if (order > blockSize) fail(s"LPC order $order > block $blockSize")
      var i = 0
      while (i < order) { out(i) = br.sbits(effBps).toLong; i += 1 }
      val precCode = br.bits(4)
      if (precCode == 15) fail("invalid LPC precision code 15")
      val prec = precCode + 1
      val shift = br.sbits(5)
      if (shift < 0) fail(s"negative LPC shift $shift is reserved")
      val coef = new Array[Long](order)
      var j = 0
      while (j < order) { coef(j) = br.sbits(prec).toLong; j += 1 }
      decodeResidual(br, blockSize, order, out)
      i = order
      while (i < blockSize) {
        var acc = 0L
        j = 0
        while (j < order) { acc += coef(j) * out(i - 1 - j); j += 1 }
        out(i) += acc >> shift
        i += 1
      }
    } else fail(s"reserved subframe type $typ")
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) <<= wasted; i += 1 }
    }
    out
  }

  /** Partitioned Rice residuals into out(order until blockSize). */
  private def decodeResidual(br: Br, blockSize: Int, order: Int,
      out: Array[Long]): Unit = {
    val method = br.bits(2)
    if (method > 1) fail(s"reserved residual coding method $method")
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = br.bits(4)
    val nParts = 1 << partOrder
    if (blockSize % nParts != 0)
      fail(s"block $blockSize not divisible into $nParts partitions")
    val perPart = blockSize >> partOrder
    // the spec forbids only a NEGATIVE first partition (zero is legal)
    if (perPart < order)
      fail(s"partition size $perPart < predictor order $order")
    var idx = order
    var p = 0
    while (p < nParts) {
      val count = if (p == 0) perPart - order else perPart
      val param = br.bits(paramBits)
      if (param == escape) {
        val raw = br.bits(5)
        var i = 0
        while (i < count) { out(idx) = br.sbits(raw).toLong; idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = br.unary()
          val u = (q.toLong << param) | br.bits(param).toLong
          out(idx) = (u >>> 1) ^ -(u & 1L)
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  // ---- PCM frame encoder ----

  /** MSB-first bit writer. */
  private final class Bw(out: java.io.ByteArrayOutputStream) {
    private var cur = 0
    private var n = 0
    def bit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1); n += 1
      if (n == 8) { out.write(cur); cur = 0; n = 0 }
    }
    def bits(v: Long, w: Int): Unit = {
      var i = w - 1
      while (i >= 0) { bit(((v >> i) & 1L).toInt); i -= 1 }
    }
    def align(): Unit = while (n != 0) bit(0)
  }

  private def writeUtf8(bw: Bw, v: Long): Unit = {
    if (v < 0x80) { bw.bits(v, 8); return }
    val n =
      if (v < 0x800) 2 else if (v < 0x10000) 3 else if (v < 0x200000) 4
      else if (v < 0x4000000) 5 else if (v < 0x80000000L) 6 else 7
    val contBits = 6 * (n - 1)
    if (n == 7) bw.bits(0xfe, 8)
    else {
      val headBits = 7 - n
      val prefix = (((1 << n) - 1) << 1) << headBits
      bw.bits(prefix | ((v >> contBits) & ((1 << headBits) - 1)), 8)
    }
    var sh = contBits - 6
    while (sh >= 0) { bw.bits(0x80L | ((v >> sh) & 0x3f), 8); sh -= 6 }
  }

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  /** Smallest signed width holding v (≥ 1). */
  private def signedBits(v: Long): Int = {
    var n = 1
    while (n < 63 && (v < -(1L << (n - 1)) || v > (1L << (n - 1)) - 1))
      n += 1
    n
  }

  private def writeResidual(bw: Bw, res: Array[Long], from: Int,
      partOrderWant: Int, blockSize: Int, order: Int,
      escape: Boolean): Unit = {
    // largest legal partition order ≤ the requested one
    var po = partOrderWant
    while (po > 0 && (blockSize % (1 << po) != 0 ||
      (blockSize >> po) < order)) po -= 1
    val nParts = 1 << po
    val perPart = blockSize >> po
    // per-partition best Rice parameter (cost-minimizing)
    val params = new Array[Int](nParts)
    var needWide = false
    var p = 0
    var idx = from
    while (p < nParts) {
      val count = if (p == 0) perPart - order else perPart
      var best = 0
      var bestCost = Long.MaxValue
      var param = 0
      while (param <= 30) {
        var cost = 0L
        var i = 0
        while (i < count) {
          cost += (zigzag(res(idx + i)) >>> param) + 1 + param
          i += 1
        }
        if (cost < bestCost) { bestCost = cost; best = param }
        param += 1
      }
      params(p) = best
      if (best > 14) needWide = true
      idx += count
      p += 1
    }
    val method = if (needWide) 1 else 0
    val paramBits = if (method == 0) 4 else 5
    bw.bits(method, 2)
    bw.bits(po, 4)
    idx = from
    p = 0
    while (p < nParts) {
      val count = if (p == 0) perPart - order else perPart
      if (escape) {
        var raw = 1
        var i = 0
        while (i < count) {
          val b = signedBits(res(idx + i))
          if (b > raw) raw = b
          i += 1
        }
        require(raw <= 31, s"escape residual needs $raw bits")
        bw.bits((1 << paramBits) - 1, paramBits)
        bw.bits(raw, 5)
        i = 0
        while (i < count) {
          bw.bits(res(idx) & ((1L << raw) - 1), raw)
          idx += 1; i += 1
        }
      } else {
        val param = params(p)
        bw.bits(param, paramBits)
        var i = 0
        while (i < count) {
          val u = zigzag(res(idx))
          var q = u >>> param
          while (q > 0) { bw.bit(0); q -= 1 }
          bw.bit(1)
          bw.bits(u & ((1L << param) - 1), param)
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  private def encodeSubframe(bw: Bw, d: Array[Long], effBps0: Int,
      mode: String, partOrder: Int, escape: Boolean): Unit = {
    val n = d.length
    var const = true
    var i = 1
    while (const && i < n) { if (d(i) != d(0)) const = false; i += 1 }
    if (const && (mode == "auto" || mode == "constant")) {
      bw.bit(0); bw.bits(0, 6); bw.bit(0)
      bw.bits(d(0) & ((1L << effBps0) - 1), effBps0)
      return
    }
    require(mode != "constant", "constant mode on a non-constant block")
    // wasted-bits auto-detection (the real-encoder shape: common
    // trailing zeros move out of every coded sample)
    var orAll = 0L
    i = 0
    while (i < n) { orAll |= d(i); i += 1 }
    var wasted = if (orAll == 0L) 0
      else java.lang.Long.numberOfTrailingZeros(orAll)
    if (wasted >= effBps0) wasted = effBps0 - 1
    val dd = if (wasted > 0) d.map(_ >> wasted) else d
    val effBps = effBps0 - wasted
    def header(typ: Int): Unit = {
      bw.bit(0); bw.bits(typ, 6)
      if (wasted > 0) {
        bw.bit(1)
        var k = wasted - 1
        while (k > 0) { bw.bit(0); k -= 1 }
        bw.bit(1)
      } else bw.bit(0)
    }
    def verbatim(): Unit = {
      header(1)
      var j = 0
      while (j < n) { bw.bits(dd(j) & ((1L << effBps) - 1), effBps); j += 1 }
    }
    def fixedRes(order: Int): Array[Long] = {
      val r = new Array[Long](n)
      var j = 0
      while (j < order) { r(j) = dd(j); j += 1 }
      while (j < n) {
        r(j) = order match {
          case 0 => dd(j)
          case 1 => dd(j) - dd(j - 1)
          case 2 => dd(j) - 2 * dd(j - 1) + dd(j - 2)
          case 3 => dd(j) - 3 * dd(j - 1) + 3 * dd(j - 2) - dd(j - 3)
          case 4 => dd(j) - 4 * dd(j - 1) + 6 * dd(j - 2) -
            4 * dd(j - 3) + dd(j - 4)
        }
        j += 1
      }
      r
    }
    def writeFixed(order: Int, r: Array[Long]): Unit = {
      header(8 + order)
      var j = 0
      while (j < order) { bw.bits(dd(j) & ((1L << effBps) - 1), effBps); j += 1 }
      writeResidual(bw, r, order, partOrder, n, order, escape)
    }
    mode match {
      case "verbatim" => verbatim()
      // a forced predictor mode degrades to verbatim when the (tail)
      // block is too short for its warmup — the encoder stays total
      // over any stream length
      case m if m.startsWith("fixed") && m.substring(5).toInt >= n =>
        verbatim()
      case "lpc" if n <= 2 => verbatim()
      case m if m.startsWith("fixed") =>
        val order = m.substring(5).toInt
        require(order >= 0 && order <= 4, s"fixed order $order")
        writeFixed(order, fixedRes(order))
      case "lpc" =>
        // a real quantized-coefficient LPC subframe: order 2,
        // coefficients (3, −1), shift 1, precision 4 —
        // pred = (3·s[i−1] − s[i−2]) >> 1; exact round-trip for ANY
        // input because the residual is defined as the difference
        header(32 + 1) // type 100001 = LPC order 2
        var j = 0
        while (j < 2) { bw.bits(dd(j) & ((1L << effBps) - 1), effBps); j += 1 }
        bw.bits(3, 4)  // precision code 3 → 4 bits
        bw.bits(1 & 0x1f, 5) // shift 1
        bw.bits(3L & 0xf, 4)  // c0 = 3
        bw.bits(-1L & 0xf, 4) // c1 = −1
        val r = new Array[Long](n)
        j = 2
        while (j < n) {
          r(j) = dd(j) - ((3 * dd(j - 1) - dd(j - 2)) >> 1)
          j += 1
        }
        writeResidual(bw, r, 2, partOrder, n, 2, escape)
      case "auto" =>
        // pick the fixed order 0–2 with the smallest |residual| mass
        var bestOrder = 0
        var bestRes: Array[Long] = null
        var bestCost = Long.MaxValue
        var order = 0
        while (order <= 2 && order < n) {
          val r = fixedRes(order)
          var cost = 0L
          var j = order
          while (j < n) { cost += math.abs(r(j)); j += 1 }
          if (cost < bestCost) { bestCost = cost; bestOrder = order; bestRes = r }
          order += 1
        }
        writeFixed(bestOrder, bestRes)
      case m => throw new IllegalArgumentException(s"unknown subframe mode $m")
    }
  }

  /** REAL FLAC encoder — the [[Vp8l.encode]] convention in audio:
    * spec-valid frames ([[decode]] and any conforming decoder read
    * them back bit-exactly) over the full surface the decoder
    * implements, so encoder and decoder pin each other. `stereo`
    * picks the interchannel decorrelation for 2-channel input
    * (`indep`/`ls`/`rs`/`ms`); `subframeMode` forces a subframe type
    * (`auto` = constant where possible, else best fixed order 0–2;
    * `lpc` = a real quantized-coefficient LPC subframe;
    * `fixed0`–`fixed4`; `verbatim`); `partOrder` requests a Rice
    * partition order (lowered to the largest legal one);
    * `escapeResiduals` forces the escape-to-raw residual mode.
    * `samples` are channel-interleaved. */
  def encodePcm(sampleRate: Int, nChannels: Int, bitsPerSample: Int,
      samples: Array[Int], blockSize: Int = 4096,
      stereo: String = "indep", subframeMode: String = "auto",
      partOrder: Int = 0, escapeResiduals: Boolean = false): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"rate $sampleRate")
    require(nChannels >= 1 && nChannels <= 8, s"channels $nChannels")
    require(bitsPerSample >= 4 && bitsPerSample <= 31, s"bps $bitsPerSample")
    require(blockSize >= 16 && blockSize <= 0xffff, s"block $blockSize")
    require(samples.length % nChannels == 0, "ragged interleave")
    require(stereo == "indep" || nChannels == 2,
      s"stereo mode $stereo needs 2 channels")
    val total = samples.length / nChannels
    require(total > 0, "empty stream")
    val lo = -(1L << (bitsPerSample - 1)); val hi = (1L << (bitsPerSample - 1)) - 1
    samples.foreach(v => require(v >= lo && v <= hi,
      s"sample $v outside $bitsPerSample bits"))
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"), 0, 4)
    // STREAMINFO (the one mandatory block), real MD5 when bps is a
    // whole-byte width (the spec's interleaved little-endian layout)
    val si = new Array[Byte](34)
    si(0) = ((blockSize >> 8) & 0xff).toByte; si(1) = (blockSize & 0xff).toByte
    si(2) = si(0); si(3) = si(1)
    si(10) = ((sampleRate >> 12) & 0xff).toByte
    si(11) = ((sampleRate >> 4) & 0xff).toByte
    si(12) = (((sampleRate & 0x0f) << 4) | (((nChannels - 1) & 7) << 1) |
      (((bitsPerSample - 1) >> 4) & 1)).toByte
    si(13) = ((((bitsPerSample - 1) & 0x0f) << 4) |
      ((total.toLong >> 32) & 0x0f).toInt).toByte
    si(14) = ((total.toLong >> 24) & 0xff).toByte
    si(15) = ((total.toLong >> 16) & 0xff).toByte
    si(16) = ((total.toLong >> 8) & 0xff).toByte
    si(17) = (total.toLong & 0xff).toByte
    if (bitsPerSample % 8 == 0) {
      val mdigest = java.security.MessageDigest.getInstance("MD5")
      val bytesPer = bitsPerSample / 8
      val buf = new Array[Byte](samples.length * bytesPer)
      var i = 0
      while (i < samples.length) {
        var k = 0
        while (k < bytesPer) {
          buf(i * bytesPer + k) = ((samples(i) >> (8 * k)) & 0xff).toByte
          k += 1
        }
        i += 1
      }
      System.arraycopy(mdigest.digest(buf), 0, si, 18, 16)
    }
    out.write(0x80) // last block, type 0 (STREAMINFO)
    out.write(0); out.write(0); out.write(34)
    out.write(si, 0, 34)
    // frame-header code tables
    val (bsCode, bsXBits, bsXVal): (Int, Int, Int) = blockSize match {
      case 192 => (1, 0, 0)
      case b if b >= 576 && Integer.bitCount(b / 576) == 1 &&
        b % 576 == 0 && b / 576 <= 8 && (576 * (b / 576)) == b =>
        (2 + Integer.numberOfTrailingZeros(b / 576), 0, 0)
      case b if b >= 256 && Integer.bitCount(b) == 1 && b <= 32768 =>
        (8 + Integer.numberOfTrailingZeros(b) - 8, 0, 0)
      case b if b <= 256 => (6, 8, b - 1)
      case b => (7, 16, b - 1)
    }
    val (srCode, srXBits, srXVal): (Int, Int, Int) = sampleRate match {
      case 88200 => (1, 0, 0); case 176400 => (2, 0, 0)
      case 192000 => (3, 0, 0); case 8000 => (4, 0, 0)
      case 16000 => (5, 0, 0); case 22050 => (6, 0, 0)
      case 24000 => (7, 0, 0); case 32000 => (8, 0, 0)
      case 44100 => (9, 0, 0); case 48000 => (10, 0, 0)
      case 96000 => (11, 0, 0)
      case r if r % 1000 == 0 && r / 1000 <= 255 => (12, 8, r / 1000)
      case r if r <= 65535 => (13, 16, r)
      case r if r % 10 == 0 && r / 10 <= 65535 => (14, 16, r / 10)
      case _ => (0, 0, 0)
    }
    val ssCode = bitsPerSample match {
      case 8 => 1; case 12 => 2; case 16 => 4; case 20 => 5; case 24 => 6
      case _ => 0
    }
    val chanAsgn = stereo match {
      case "indep" => nChannels - 1
      case "ls" => 8
      case "rs" => 9
      case "ms" => 10
      case m => throw new IllegalArgumentException(s"unknown stereo mode $m")
    }
    var off = 0
    var frameIdx = 0L
    while (off < total) {
      val n = math.min(blockSize, total - off)
      val fb = new java.io.ByteArrayOutputStream()
      val bw = new Bw(fb)
      bw.bits(0x3ffe, 14)
      bw.bit(0); bw.bit(0) // reserved, fixed blocking strategy
      // the last frame may be shorter: its size needs its own code
      val (fBsCode, fBsXBits, fBsXVal) =
        if (n == blockSize) (bsCode, bsXBits, bsXVal)
        else if (n == 192) (1, 0, 0)
        else if (n <= 256) (6, 8, n - 1)
        else (7, 16, n - 1)
      bw.bits(fBsCode, 4)
      bw.bits(srCode, 4)
      bw.bits(chanAsgn, 4)
      bw.bits(ssCode, 3)
      bw.bit(0)
      writeUtf8(bw, frameIdx)
      if (fBsXBits > 0) bw.bits(fBsXVal, fBsXBits)
      if (srXBits > 0) bw.bits(srXVal, srXBits)
      val headerBytes = fb.toByteArray // byte-aligned by construction
      fb.write(crc8(headerBytes, 0, headerBytes.length))
      // channel extraction + interchannel decorrelation
      val chans = new Array[Array[Long]](nChannels)
      val effBps = new Array[Int](nChannels)
      var c = 0
      while (c < nChannels) {
        val d = new Array[Long](n)
        var i = 0
        while (i < n) { d(i) = samples((off + i) * nChannels + c); i += 1 }
        chans(c) = d
        effBps(c) = bitsPerSample
        c += 1
      }
      chanAsgn match {
        case 8 => // left/side
          var i = 0
          while (i < n) { chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
          effBps(1) = bitsPerSample + 1
        case 9 => // side/right
          var i = 0
          while (i < n) { chans(0)(i) = chans(0)(i) - chans(1)(i); i += 1 }
          effBps(0) = bitsPerSample + 1
        case 10 => // mid/side
          var i = 0
          while (i < n) {
            val l = chans(0)(i); val r = chans(1)(i)
            chans(0)(i) = (l + r) >> 1
            chans(1)(i) = l - r
            i += 1
          }
          effBps(1) = bitsPerSample + 1
        case _ => ()
      }
      c = 0
      while (c < nChannels) {
        encodeSubframe(bw, chans(c), effBps(c), subframeMode, partOrder,
          escapeResiduals)
        c += 1
      }
      bw.align()
      val body = fb.toByteArray
      val fcrc = crc16(body, 0, body.length)
      fb.write((fcrc >> 8) & 0xff); fb.write(fcrc & 0xff)
      fb.writeTo(out)
      off += n
      frameIdx += 1
    }
    out.toByteArray
  }
}
