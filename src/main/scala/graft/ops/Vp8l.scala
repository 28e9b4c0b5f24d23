package graft.ops

/** From-spec VP8L (lossless WebP) codec (round 18) — the last
  * top-crawl image format whose re-encodes never paired: the
  * [[Png]]/[[Gif]] skill set applied to the public VP8L bitstream
  * specification (Google's "WebP Lossless Bitstream Specification" /
  * RFC 9649). Implemented from the spec text, zero new dependencies:
  *
  *  - LSB-first bit reading over the VP8L chunk payload
  *  - canonical prefix codes, read via BOTH spec paths: the 2-symbol
  *    "simple" form and the full code-length-coded form (19-symbol
  *    code-length alphabet in the spec's fixed order, zero-run RLE
  *    symbols 17/18, repeat-previous 16, the optional max_symbol
  *    short-circuit), completeness (Kraft) enforced with the lone
  *    single-symbol exception
  *  - per-group 5-code sets (green+length+cache / red / blue / alpha /
  *    distance), META prefix codes for the top-level ARGB image
  *    (block-indexed group selection via a recursively entropy-coded
  *    sub-image)
  *  - LZ77 backrefs with the spec's length/distance prefix-value
  *    scheme and the 120-entry 2D distance map (close pixels in the
  *    row above map to short codes), plus the color cache
  *    (0x1e35a7bd multiplicative hash, 1..11 bits), every emitted
  *    pixel inserted
  *  - all four transforms, applied inversely in reverse read order:
  *    PREDICTOR (14 modes incl. Select and the clamped add/subtract
  *    pair, spec edge rules: top-left black, first row L, first
  *    column T, rightmost TR wraps to (0, y−1)), COLOR (signed 3.5
  *    fixed-point cross-channel deltas), SUBTRACT_GREEN, and
  *    COLOR_INDEXING with sub-byte pixel bundling (1/2/4-bit packed
  *    indices, out-of-range index → transparent black per spec)
  *
  * Lossy VP8 stays a loud refusal (the MP3/H.264 codec boundary —
  * [[Webp]] scaladoc); GIF-style animation decode arrives via the
  * ANMF walk in [[Webp.frames]].
  *
  * The ENCODER is fixture-grade but spec-correct: it emits real
  * entropy-coded streams (true Huffman code lengths over measured
  * symbol frequencies, code-length-coded headers with zero-RLE,
  * simple codes where the alphabet collapses), optional LZ77 (runs
  * against distance 1 and the row above through the distance map),
  * optional color cache, any single predictor mode, constant color
  * transforms, subtract-green, palettes with bundling, and 2-group
  * meta prefix splits — enough surface to exercise every decoder
  * path. Interop caveat (documented): with no second WebP
  * implementation in this container, encoder and decoder are pinned
  * against each other plus ANALYTIC pixel oracles (the m_webp gate
  * recomputes channel means from the planted raster definitions in
  * DuckDB), so a shared misreading of the spec would have to
  * reproduce the planted pixels exactly to go unseen.
  *
  * Reference analog: the reference engine ingests opaque byte-string
  * values (src/tdb_cons.c:356-411); this codec is what lets the Spark
  * side treat a top-3 crawl image format as pixels instead of opaque
  * bytes. */
object Vp8l {
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"vp8l: $msg")

  private def divUp(a: Int, b: Int): Int = (a + b - 1) / b

  // ---- bit I/O (LSB-first, per spec §"RIFF Header"/bitstream notes) ----

  private final class BitReader(bytes: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var acc = 0L
    private var nBits = 0
    def bits(n: Int): Int = {
      while (nBits < n) {
        if (pos >= end) fail("truncated bitstream")
        acc |= (bytes(pos) & 0xffL) << nBits
        pos += 1; nBits += 8
      }
      val v = (acc & ((1L << n) - 1)).toInt
      acc >>>= n; nBits -= n
      v
    }
    def bit(): Int = bits(1)
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nBits = 0
    def writeBits(v: Int, n: Int): Unit = {
      acc |= (v.toLong & ((1L << n) - 1)) << nBits
      nBits += n
      while (nBits >= 8) {
        out.write((acc & 0xff).toInt); acc >>>= 8; nBits -= 8
      }
    }
    def writeBit(b: Int): Unit = writeBits(b, 1)
    /** prefix codes are emitted MSB-first (the DEFLATE convention the
      * spec shares): reverse before the LSB-first packer */
    def writeCode(code: Int, len: Int): Unit = {
      var c = code; var r = 0; var i = 0
      while (i < len) { r = (r << 1) | (c & 1); c >>= 1; i += 1 }
      writeBits(r, len)
    }
    def result(): Array[Byte] = {
      if (nBits > 0) { out.write((acc & 0xff).toInt); acc = 0; nBits = 0 }
      out.toByteArray
    }
  }

  // ---- canonical prefix codes ----

  /** Decode-side code: a binary tree over canonical codes (first bit
    * read = MSB of the canonical code). `single` ≥ 0 short-circuits a
    * one-symbol alphabet to a 0-bit read (the spec's lone incomplete
    * code). */
  private final class PrefixCode(left: Array[Int], right: Array[Int],
      sym: Array[Int], single: Int) {
    def read(br: BitReader): Int =
      if (single >= 0) single
      else {
        var node = 0
        while (sym(node) < 0) {
          node = if (br.bit() == 0) left(node) else right(node)
          if (node < 0) fail("prefix bits reach no symbol")
        }
        sym(node)
      }
  }

  private object PrefixCode {
    def fromLengths(lengths: Array[Int]): PrefixCode = {
      var used = 0
      var lone = -1
      var maxLen = 0
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        if (l < 0 || l > 15) fail(s"code length $l out of range")
        if (l > 0) { used += 1; lone = i; if (l > maxLen) maxLen = l }
        i += 1
      }
      if (used == 0) fail("empty prefix code")
      if (used == 1) return new PrefixCode(null, null, null, lone)
      // completeness (Kraft sum == 1)
      var kraft = 0L
      i = 0
      while (i < lengths.length) {
        if (lengths(i) > 0) kraft += 1L << (maxLen - lengths(i))
        i += 1
      }
      if (kraft != (1L << maxLen))
        fail(s"prefix code is not complete (kraft $kraft of ${1L << maxLen})")
      // canonical assignment: count per length, first code per length
      val blCount = new Array[Int](16)
      i = 0
      while (i < lengths.length) { if (lengths(i) > 0) blCount(lengths(i)) += 1; i += 1 }
      val nextCode = new Array[Int](16)
      var code = 0
      var l = 1
      while (l <= 15) {
        code = (code + blCount(l - 1)) << 1
        nextCode(l) = code
        l += 1
      }
      val cap = 2 * used // a strict binary tree with `used` leaves
      val left = Array.fill(cap)(-1)
      val right = Array.fill(cap)(-1)
      val sym = Array.fill(cap)(-1)
      var nNodes = 1
      i = 0
      while (i < lengths.length) {
        val len = lengths(i)
        if (len > 0) {
          val c = nextCode(len); nextCode(len) += 1
          var node = 0
          var b = len - 1
          while (b >= 0) {
            val bit = (c >> b) & 1
            val child = if (bit == 0) left(node) else right(node)
            val next =
              if (child >= 0) child
              else {
                val nn = nNodes; nNodes += 1
                if (bit == 0) left(node) = nn else right(node) = nn
                nn
              }
            node = next
            b -= 1
          }
          sym(node) = i
        }
        i += 1
      }
      new PrefixCode(left, right, sym, -1)
    }
  }

  /** Huffman code lengths from frequencies, depth-capped by frequency
    * damping (encoder-side only; fixtures rarely hit the cap). */
  private def huffmanLengths(freqs: Array[Long], maxLen: Int): Array[Int] = {
    val n = freqs.length
    val lengths = new Array[Int](n)
    var f = freqs.clone()
    var attempts = 0
    while (attempts < 32) {
      java.util.Arrays.fill(lengths, 0)
      val used = (0 until n).filter(f(_) > 0)
      if (used.isEmpty) return lengths
      if (used.length == 1) { lengths(used.head) = 1; return lengths }
      // heap-free Huffman: sort leaves, two-queue merge
      case class Node(w: Long, depth1: List[Int])
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, List[Int])](
        Ordering.by[(Long, List[Int]), Long](_._1).reverse)
      used.foreach(s => pq.enqueue((f(s), List(s))))
      val depth = new Array[Int](n)
      while (pq.size > 1) {
        val (w1, s1) = pq.dequeue()
        val (w2, s2) = pq.dequeue()
        (s1 ++ s2).foreach(s => depth(s) += 1)
        pq.enqueue((w1 + w2, s1 ++ s2))
      }
      used.foreach(s => lengths(s) = depth(s))
      if (used.forall(s => lengths(s) <= maxLen)) return lengths
      // damp and retry
      f = f.map(v => if (v > 0) (v + 1) / 2 else 0L)
      attempts += 1
    }
    fail(s"could not cap huffman depth at $maxLen")
  }

  private def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val blCount = new Array[Int](16)
    lengths.foreach(l => if (l > 0) blCount(l) += 1)
    val nextCode = new Array[Int](16)
    var code = 0
    for (l <- 1 to 15) { code = (code + blCount(l - 1)) << 1; nextCode(l) = code }
    lengths.map { l =>
      if (l == 0) 0 else { val c = nextCode(l); nextCode(l) += 1; c }
    }
  }

  // spec's fixed order for the code-length alphabet
  private val CodeLengthOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def readPrefixCode(br: BitReader, alphabetSize: Int): PrefixCode = {
    if (br.bit() == 1) {
      // simple: 1 or 2 symbols, lengths implicit
      val numSymbols = br.bit() + 1
      val first8 = br.bit()
      val s0 = if (first8 == 1) br.bits(8) else br.bit()
      if (s0 >= alphabetSize) fail(s"simple symbol $s0 outside alphabet")
      if (numSymbols == 1)
        new PrefixCode(null, null, null, s0)
      else {
        val s1 = br.bits(8)
        if (s1 >= alphabetSize) fail(s"simple symbol $s1 outside alphabet")
        if (s1 == s0) fail("duplicate simple symbols")
        val lengths = new Array[Int](alphabetSize)
        lengths(s0) = 1; lengths(s1) = 1
        PrefixCode.fromLengths(lengths)
      }
    } else {
      val numCodes = br.bits(4) + 4
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCodes) {
        clLengths(CodeLengthOrder(i)) = br.bits(3)
        i += 1
      }
      val clCode = PrefixCode.fromLengths(clLengths)
      var maxSymbol = alphabetSize
      if (br.bit() == 1) {
        val lengthNBits = 2 + 2 * br.bits(3)
        maxSymbol = 2 + br.bits(lengthNBits)
        if (maxSymbol > alphabetSize) fail("max_symbol beyond the alphabet")
      }
      val lengths = new Array[Int](alphabetSize)
      var symbol = 0
      var prevLen = 8
      while (symbol < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clCode.read(br)
        if (cl < 16) {
          lengths(symbol) = cl; symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (repLen, extraBits, offset) = cl match {
            case 16 => (prevLen, 2, 3)
            case 17 => (0, 3, 3)
            case _ => (0, 7, 11)
          }
          val rep = offset + br.bits(extraBits)
          if (symbol + rep > alphabetSize)
            fail("code-length repeat overflows the alphabet")
          var r = 0
          while (r < rep) { lengths(symbol) = repLen; symbol += 1; r += 1 }
        }
      }
      PrefixCode.fromLengths(lengths)
    }
  }

  // ---- LZ77 prefix values and the 2D distance map ----

  private def prefixValue(code: Int, br: BitReader): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.bits(extra) + 1
    }

  /** (code, extraBits, extraVal) for value ≥ 1 — the encoder inverse. */
  private def prefixEncode(v: Int): (Int, Int, Int) = {
    require(v >= 1, s"prefix value $v")
    if (v <= 4) (v - 1, 0, 0)
    else {
      val x = v - 1
      val log = 31 - Integer.numberOfLeadingZeros(x)
      val extra = log - 1
      if (x < (3 << extra)) (2 * extra + 2, extra, x - (2 << extra))
      else (2 * extra + 3, extra, x - (3 << extra))
    }
  }

  /** The spec's 120-entry close-neighborhood distance map, generated
    * by its ordering rule (ascending squared distance, then descending
    * y, then positive x before negative) — spot-pinned against the
    * spec's published listing in the test suite. */
  private[graft] val DistanceMap: Array[(Int, Int)] =
    (for { y <- 0 to 7; x <- -7 to 8; if y > 0 || x > 0 } yield (x, y))
      .sortBy { case (x, y) => (x * x + y * y, -y, -x) }.toArray

  private def planeCodeToDist(xsize: Int, planeCode: Int): Int =
    if (planeCode > 120) planeCode - 120
    else {
      val (dx, dy) = DistanceMap(planeCode - 1)
      val d = dy * xsize + dx
      if (d >= 1) d else 1
    }

  // ---- pixel helpers ----

  private def addPixels(a: Int, b: Int): Int = {
    val aa = (((a >>> 24) + (b >>> 24)) & 0xff) << 24
    val rr = ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) & 0xff) << 16
    val gg = ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) & 0xff) << 8
    val bb = ((a & 0xff) + (b & 0xff)) & 0xff
    aa | rr | gg | bb
  }

  private def subPixels(a: Int, b: Int): Int = {
    val aa = (((a >>> 24) - (b >>> 24)) & 0xff) << 24
    val rr = ((((a >> 16) & 0xff) - ((b >> 16) & 0xff)) & 0xff) << 16
    val gg = ((((a >> 8) & 0xff) - ((b >> 8) & 0xff)) & 0xff) << 8
    val bb = ((a & 0xff) - (b & 0xff)) & 0xff
    aa | rr | gg | bb
  }

  private def average2(a: Int, b: Int): Int =
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // signed 3.5 fixed-point cross-channel delta (both args as int8)
  private def colorDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  // ---- predictor modes (spec §4.2.2) ----

  private def predict(mode: Int, l: Int, t: Int, tl: Int, tr: Int): Int =
    mode match {
      case 0 => 0xff000000
      case 1 => l
      case 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => average2(average2(l, tr), t)
      case 6 => average2(l, tl)
      case 7 => average2(l, t)
      case 8 => average2(tl, t)
      case 9 => average2(t, tr)
      case 10 => average2(average2(l, tl), average2(t, tr))
      case 11 => // Select(T, L, TL)
        def sub3(a: Int, b: Int, c: Int): Int =
          math.abs(b - c) - math.abs(a - c)
        val d = sub3(t >>> 24, l >>> 24, tl >>> 24) +
          sub3((t >> 16) & 0xff, (l >> 16) & 0xff, (tl >> 16) & 0xff) +
          sub3((t >> 8) & 0xff, (l >> 8) & 0xff, (tl >> 8) & 0xff) +
          sub3(t & 0xff, l & 0xff, tl & 0xff)
        if (d <= 0) t else l
      case 12 => // ClampAddSubtractFull(L, T, TL) per channel
        def ch(sh: Int): Int = clip255(((l >>> sh) & 0xff) +
          ((t >>> sh) & 0xff) - ((tl >>> sh) & 0xff))
        (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
      case 13 => // ClampAddSubtractHalf(Average2(L,T), TL) per channel
        val ave = average2(l, t)
        def ch(sh: Int): Int = {
          val a = (ave >>> sh) & 0xff
          val c = (tl >>> sh) & 0xff
          clip255(a + (a - c) / 2)
        }
        (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
      case m => fail(s"predictor mode $m out of range")
    }

  // ---- entropy-coded image decode ----

  private final case class Group(green: PrefixCode, red: PrefixCode,
      blue: PrefixCode, alpha: PrefixCode, dist: PrefixCode)

  private def decodeImage(br: BitReader, xsize: Int, ysize: Int,
      topLevel: Boolean): Array[Int] = {
    if (xsize <= 0 || ysize <= 0) fail(s"bad sub-image $xsize x $ysize")
    val cacheBits =
      if (br.bit() == 1) {
        val cb = br.bits(4)
        if (cb < 1 || cb > 11) fail(s"color cache bits $cb out of [1,11]")
        cb
      } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    var metaImg: Array[Int] = null
    var metaBits = 0
    var metaXsize = 0
    var nGroups = 1
    if (topLevel && br.bit() == 1) {
      metaBits = br.bits(3) + 2
      metaXsize = divUp(xsize, 1 << metaBits)
      metaImg = decodeImage(br, metaXsize, divUp(ysize, 1 << metaBits),
        topLevel = false)
      var maxIdx = 0
      var i = 0
      while (i < metaImg.length) {
        val idx = (metaImg(i) >> 8) & 0xffff
        if (idx > maxIdx) maxIdx = idx
        i += 1
      }
      nGroups = maxIdx + 1
    }
    val greenAlphabet = 256 + 24 + cacheSize
    val groups = Array.fill(nGroups)(Group(
      readPrefixCode(br, greenAlphabet), readPrefixCode(br, 256),
      readPrefixCode(br, 256), readPrefixCode(br, 256),
      readPrefixCode(br, 40)))
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    def insert(p: Int): Unit =
      if (cache != null) cache((0x1e35a7bd * p) >>> (32 - cacheBits)) = p
    val n = xsize * ysize
    val out = new Array[Int](n)
    var pos = 0
    while (pos < n) {
      val g =
        if (metaImg == null) groups(0)
        else {
          val x = pos % xsize; val y = pos / xsize
          val mi = metaImg((y >> metaBits) * metaXsize + (x >> metaBits))
          groups((mi >> 8) & 0xffff)
        }
      val s = g.green.read(br)
      if (s < 256) {
        val red = g.red.read(br)
        val blue = g.blue.read(br)
        val alpha = g.alpha.read(br)
        val p = (alpha << 24) | (red << 16) | (s << 8) | blue
        out(pos) = p; insert(p); pos += 1
      } else if (s < 256 + 24) {
        val length = prefixValue(s - 256, br)
        val dist = planeCodeToDist(xsize, prefixValue(g.dist.read(br), br))
        if (dist > pos) fail("backref reaches before the image start")
        if (pos + length > n) fail("backref runs past the image end")
        var i = 0
        while (i < length) {
          val p = out(pos - dist)
          out(pos) = p; insert(p); pos += 1; i += 1
        }
      } else {
        if (cache == null) fail("cache symbol without a color cache")
        out(pos) = cache(s - 256 - 24)
        pos += 1
      }
    }
    out
  }

  // ---- transforms ----

  private sealed trait Transform { def applyWidth: Int }
  private final case class PredictorT(bits: Int, data: Array[Int],
      applyWidth: Int) extends Transform
  private final case class ColorT(bits: Int, data: Array[Int],
      applyWidth: Int) extends Transform
  private final case class SubGreenT(applyWidth: Int) extends Transform
  private final case class PaletteT(table: Array[Int], widthBits: Int,
      applyWidth: Int) extends Transform

  private def invPredictor(img: Array[Int], w: Int, h: Int, bits: Int,
      data: Array[Int]): Array[Int] = {
    val bw = divUp(w, 1 << bits)
    var pos = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val res = img(pos)
        val pred =
          if (x == 0 && y == 0) 0xff000000
          else if (y == 0) img(pos - 1) // first row: L
          else if (x == 0) img(pos - w) // first column: T
          else {
            val mode = (data((y >> bits) * bw + (x >> bits)) >> 8) & 0xff
            if (mode > 13) fail(s"predictor mode $mode out of range")
            val l = img(pos - 1)
            val t = img(pos - w)
            val tl = img(pos - w - 1)
            val tr = if (x == w - 1) img(pos - w - x) else img(pos - w + 1)
            predict(mode, l, t, tl, tr)
          }
        img(pos) = addPixels(res, pred)
        pos += 1; x += 1
      }
      y += 1
    }
    img
  }

  private def invColor(img: Array[Int], w: Int, h: Int, bits: Int,
      data: Array[Int]): Array[Int] = {
    val bw = divUp(w, 1 << bits)
    var pos = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cte = data((y >> bits) * bw + (x >> bits))
        val g2r = cte & 0xff // blue channel of the cte pixel
        val g2b = (cte >> 8) & 0xff // green channel
        val r2b = (cte >> 16) & 0xff // red channel
        val p = img(pos)
        val green = (p >> 8) & 0xff
        var red = (p >> 16) & 0xff
        var blue = p & 0xff
        red = (red + colorDelta(g2r, green)) & 0xff
        blue = (blue + colorDelta(g2b, green) + colorDelta(r2b, red)) & 0xff
        img(pos) = (p & 0xff00ff00) | (red << 16) | blue
        pos += 1; x += 1
      }
      y += 1
    }
    img
  }

  private def invSubGreen(img: Array[Int]): Array[Int] = {
    var i = 0
    while (i < img.length) {
      val p = img(i)
      val g = (p >> 8) & 0xff
      val r = (((p >> 16) & 0xff) + g) & 0xff
      val b = ((p & 0xff) + g) & 0xff
      img(i) = (p & 0xff00ff00) | (r << 16) | b
      i += 1
    }
    img
  }

  private def invPalette(img: Array[Int], packedW: Int, h: Int,
      table: Array[Int], widthBits: Int, fullW: Int): Array[Int] = {
    if (widthBits == 0) {
      var i = 0
      while (i < img.length) {
        val idx = (img(i) >> 8) & 0xff
        img(i) = if (idx < table.length) table(idx) else 0
        i += 1
      }
      img
    } else {
      val bitsPerPixel = 8 >> widthBits
      val pixelsPerByte = 1 << widthBits
      val countMask = pixelsPerByte - 1
      val bitMask = (1 << bitsPerPixel) - 1
      val out = new Array[Int](fullW * h)
      var y = 0
      while (y < h) {
        var packed = 0
        var x = 0
        while (x < fullW) {
          if ((x & countMask) == 0)
            packed = (img(y * packedW + (x >> widthBits)) >> 8) & 0xff
          val idx = packed & bitMask
          out(y * fullW + x) = if (idx < table.length) table(idx) else 0
          packed >>= bitsPerPixel
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Decode a VP8L payload (the chunk body, signature byte included).
    * Returns (width, height, alphaHint, ARGB pixels). */
  def decode(bytes: Array[Byte], offset: Int, length: Int): (Int, Int, Boolean, Array[Int]) = {
    val br = new BitReader(bytes, offset, offset + length)
    if (br.bits(8) != 0x2f) fail("bad VP8L signature byte")
    val w = br.bits(14) + 1
    val h = br.bits(14) + 1
    val alphaHint = br.bit() == 1
    if (br.bits(3) != 0) fail("unsupported VP8L version")
    if (w.toLong * h * 4 >= Int.MaxValue) fail(s"raster too large $w x $h")
    // Cost-bomb floor (round 19, advisor): the cheapest covering
    // construct a legal VP8L stream can carry is an LZ77 backref — at
    // most 4096 pixels for >= 2 bits of payload (green length symbol +
    // distance symbol), i.e. < 2048 pixels per payload BIT even before
    // code-table overhead. A ~50-byte blob declaring 16383 x 8000 from
    // its 14-bit header dims is therefore structurally impossible to
    // fill and must refuse BEFORE the w*h raster (and transform
    // sub-image) allocations, not after — ungated decode paths
    // (decodeAnyImages without mediaMetaGate) hit
    // this allocation directly per blob.
    if (w.toLong * h > length.toLong * 8L * 2048L)
      fail(s"declared $w x $h exceeds the per-bit pixel ceiling " +
        s"for a $length-byte payload")
    var xsize = w
    val transforms = scala.collection.mutable.ListBuffer.empty[Transform]
    val seen = scala.collection.mutable.Set.empty[Int]
    while (br.bit() == 1) {
      val t = br.bits(2)
      if (seen.contains(t)) fail(s"duplicate transform $t")
      seen += t
      t match {
        case 0 =>
          val bits = br.bits(3) + 2
          transforms += PredictorT(bits, decodeImage(br,
            divUp(xsize, 1 << bits), divUp(h, 1 << bits),
            topLevel = false), xsize)
        case 1 =>
          val bits = br.bits(3) + 2
          transforms += ColorT(bits, decodeImage(br,
            divUp(xsize, 1 << bits), divUp(h, 1 << bits),
            topLevel = false), xsize)
        case 2 =>
          transforms += SubGreenT(xsize)
        case _ =>
          val tsize = br.bits(8) + 1
          val table = decodeImage(br, tsize, 1, topLevel = false)
          var i = 1
          while (i < tsize) { table(i) = addPixels(table(i), table(i - 1)); i += 1 }
          val widthBits =
            if (tsize <= 2) 3 else if (tsize <= 4) 2
            else if (tsize <= 16) 1 else 0
          transforms += PaletteT(table, widthBits, xsize)
          xsize = divUp(xsize, 1 << widthBits)
      }
    }
    var img = decodeImage(br, xsize, h, topLevel = true)
    // inverse transforms in REVERSE read order; each runs at the width
    // that was current when its header was read
    transforms.reverseIterator.foreach {
      case PredictorT(bits, data, aw) => img = invPredictor(img, aw, h, bits, data)
      case ColorT(bits, data, aw) => img = invColor(img, aw, h, bits, data)
      case SubGreenT(_) => img = invSubGreen(img)
      case PaletteT(table, wb, aw) =>
        img = invPalette(img, divUp(aw, 1 << wb), h, table, wb, aw)
    }
    if (img.length != w * h) fail("transform stack width mismatch")
    (w, h, alphaHint, img)
  }

  // =====================================================================
  // Encoder
  // =====================================================================

  /** Encoder options — each flag exercises one decoder path; they
    * compose (except palette with predictor/color, which fixtures do
    * not need). Transforms are written in the order subtract-green,
    * color, predictor, palette; the decoder inverts them in reverse. */
  final case class EncOptions(
      subtractGreen: Boolean = false,
      predictorMode: Int = -1, // -1 off, else 0..13 uniform
      predictorBits: Int = 4,
      colorTx: Option[(Int, Int, Int)] = None, // (g2r, g2b, r2b) int8s
      colorBits: Int = 4,
      palette: Boolean = false,
      cacheBits: Int = 0, // 0 off, 1..11 on
      lz77: Boolean = true,
      metaBits: Int = 0) // 0 = one group; ≥2 = two groups split by block x

  def encode(w: Int, h: Int, argbIn: Array[Int],
      opts: EncOptions = EncOptions()): Array[Byte] = {
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384, s"dims $w x $h")
    require(argbIn.length == w * h, "raster size mismatch")
    require(!(opts.palette && (opts.predictorMode >= 0 ||
      opts.colorTx.nonEmpty || opts.subtractGreen)),
      "fixture encoder: palette composes with nothing")
    val bw = new BitWriter
    bw.writeBits(0x2f, 8)
    bw.writeBits(w - 1, 14)
    bw.writeBits(h - 1, 14)
    bw.writeBit(0) // alpha hint
    bw.writeBits(0, 3) // version
    var img = argbIn.clone()
    var xsize = w

    if (opts.subtractGreen) {
      bw.writeBit(1); bw.writeBits(2, 2)
      var i = 0
      while (i < img.length) {
        val p = img(i)
        val g = (p >> 8) & 0xff
        val r = (((p >> 16) & 0xff) - g) & 0xff
        val b = ((p & 0xff) - g) & 0xff
        img(i) = (p & 0xff00ff00) | (r << 16) | b
        i += 1
      }
    }
    opts.colorTx.foreach { case (g2r, g2b, r2b) =>
      bw.writeBit(1); bw.writeBits(1, 2)
      bw.writeBits(opts.colorBits - 2, 3)
      val tw = divUp(xsize, 1 << opts.colorBits)
      val th = divUp(h, 1 << opts.colorBits)
      val cte = 0xff000000 | ((r2b & 0xff) << 16) | ((g2b & 0xff) << 8) |
        (g2r & 0xff)
      writeEntropyImage(bw, tw, th, Array.fill(tw * th)(cte),
        topLevel = false, cacheBits = 0, lz77 = false, metaBits = 0)
      var pos = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < xsize) {
          val p = img(pos)
          val green = (p >> 8) & 0xff
          val red = (p >> 16) & 0xff
          val blue = p & 0xff
          val redE = (red - colorDelta(g2r & 0xff, green)) & 0xff
          val blueE = (blue - colorDelta(g2b & 0xff, green) -
            colorDelta(r2b & 0xff, red)) & 0xff
          img(pos) = (p & 0xff00ff00) | (redE << 16) | blueE
          pos += 1; x += 1
        }
        y += 1
      }
    }
    if (opts.predictorMode >= 0) {
      require(opts.predictorMode <= 13, "predictor mode 0..13")
      require(opts.predictorBits >= 2 && opts.predictorBits <= 9, "3-bit field")
      bw.writeBit(1); bw.writeBits(0, 2)
      bw.writeBits(opts.predictorBits - 2, 3)
      val tw = divUp(xsize, 1 << opts.predictorBits)
      val th = divUp(h, 1 << opts.predictorBits)
      writeEntropyImage(bw, tw, th,
        Array.fill(tw * th)(0xff000000 | (opts.predictorMode << 8)),
        topLevel = false, cacheBits = 0, lz77 = false, metaBits = 0)
      // residuals from the ORIGINAL (reconstructed-at-decode) pixels
      val res = new Array[Int](img.length)
      var pos = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < xsize) {
          val pred =
            if (x == 0 && y == 0) 0xff000000
            else if (y == 0) img(pos - 1)
            else if (x == 0) img(pos - xsize)
            else {
              val l = img(pos - 1)
              val t = img(pos - xsize)
              val tl = img(pos - xsize - 1)
              val tr = if (x == xsize - 1) img(pos - xsize - x)
                else img(pos - xsize + 1)
              predict(opts.predictorMode, l, t, tl, tr)
            }
          res(pos) = subPixels(img(pos), pred)
          pos += 1; x += 1
        }
        y += 1
      }
      img = res
    }
    if (opts.palette) {
      val distinct = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      img.foreach(p => if (!distinct.contains(p)) distinct(p) = distinct.size)
      val tsize = distinct.size
      require(tsize <= 256, s"palette needs ≤ 256 colors, got $tsize")
      bw.writeBit(1); bw.writeBits(3, 2)
      bw.writeBits(tsize - 1, 8)
      val table = distinct.keys.toArray
      val deltas = table.zipWithIndex.map { case (p, i) =>
        if (i == 0) p else subPixels(p, table(i - 1))
      }
      writeEntropyImage(bw, tsize, 1, deltas, topLevel = false,
        cacheBits = 0, lz77 = false, metaBits = 0)
      val widthBits =
        if (tsize <= 2) 3 else if (tsize <= 4) 2
        else if (tsize <= 16) 1 else 0
      val packedW = divUp(xsize, 1 << widthBits)
      val packed = new Array[Int](packedW * h)
      val bitsPerPixel = 8 >> widthBits
      var y = 0
      while (y < h) {
        var x = 0
        while (x < xsize) {
          val idx = distinct(img(y * xsize + x))
          val px = x >> widthBits
          val shift = bitsPerPixel * (x & ((1 << widthBits) - 1))
          val cur = packed(y * packedW + px)
          val green = ((cur >> 8) & 0xff) | (idx << shift)
          packed(y * packedW + px) = 0xff000000 | (green << 8)
          x += 1
        }
        y += 1
      }
      img = packed
      xsize = packedW
    }
    bw.writeBit(0) // no more transforms
    writeEntropyImage(bw, xsize, h, img, topLevel = true,
      cacheBits = opts.cacheBits, lz77 = opts.lz77, metaBits = opts.metaBits)
    bw.result()
  }

  // ---- encoder: token streams ----

  private sealed trait Token { def group: Int }
  private final case class Lit(p: Int, group: Int) extends Token
  private final case class CacheRef(idx: Int, group: Int) extends Token
  private final case class BackRef(len: Int, dist: Int, group: Int) extends Token

  private def writeEntropyImage(bw: BitWriter, xsize: Int, ysize: Int,
      pixels: Array[Int], topLevel: Boolean, cacheBits: Int,
      lz77: Boolean, metaBits: Int): Unit = {
    // color cache header
    if (cacheBits > 0) { bw.writeBit(1); bw.writeBits(cacheBits, 4) }
    else bw.writeBit(0)
    // meta prefix header (+ recursive meta image): two groups split on
    // block-x parity
    var nGroups = 1
    var metaXsize = 0
    if (topLevel) {
      if (metaBits >= 2) {
        require(metaBits <= 9, "3-bit field")
        bw.writeBit(1)
        bw.writeBits(metaBits - 2, 3)
        metaXsize = divUp(xsize, 1 << metaBits)
        val metaYsize = divUp(ysize, 1 << metaBits)
        val metaImg = Array.tabulate(metaXsize * metaYsize) { i =>
          val bx = i % metaXsize
          0xff000000 | ((bx & 1) << 8)
        }
        writeEntropyImage(bw, metaXsize, metaYsize, metaImg,
          topLevel = false, cacheBits = 0, lz77 = false, metaBits = 0)
        nGroups = if (metaXsize > 1) 2 else 1
      } else bw.writeBit(0)
    }
    def groupOf(pos: Int): Int =
      if (nGroups == 1) 0
      else (((pos % xsize) >> metaBits) & 1)
    // distance → plane code map for THIS xsize (first-wins like the
    // decoder's table order)
    val distToPlane = scala.collection.mutable.HashMap.empty[Int, Int]
    var pc = 1
    while (pc <= 120) {
      val d = planeCodeToDist(xsize, pc)
      if (!distToPlane.contains(d)) distToPlane(d) = pc
      pc += 1
    }
    // tokenize (cache state mirrors the decoder exactly)
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    val cacheValid = if (cacheSize > 0) new Array[Boolean](cacheSize) else null
    def cacheSlot(p: Int): Int = (0x1e35a7bd * p) >>> (32 - cacheBits)
    def insert(p: Int): Unit =
      if (cache != null) { val s = cacheSlot(p); cache(s) = p; cacheValid(s) = true }
    val n = xsize * ysize
    val tokens = scala.collection.mutable.ArrayBuffer.empty[Token]
    var pos = 0
    while (pos < n) {
      val g = groupOf(pos)
      var emitted = false
      if (lz77 && pos > 0) {
        // try dist = xsize (row above) first, then dist = 1
        var bestLen = 0
        var bestDist = 0
        for (dist <- Seq(xsize, 1) if dist <= pos) {
          var len = 0
          while (pos + len < n && len < 4096 &&
              pixels(pos + len) == pixels(pos + len - dist)) len += 1
          if (len > bestLen) { bestLen = len; bestDist = dist }
        }
        if (bestLen >= 3) {
          tokens += BackRef(bestLen, bestDist, g)
          var i = 0
          while (i < bestLen) { insert(pixels(pos + i)); i += 1 }
          pos += bestLen
          emitted = true
        }
      }
      if (!emitted) {
        val p = pixels(pos)
        if (cache != null && cacheValid(cacheSlot(p)) && cache(cacheSlot(p)) == p)
          tokens += CacheRef(cacheSlot(p), g)
        else {
          tokens += Lit(p, g)
          insert(p)
        }
        pos += 1
      }
    }
    // frequencies per group per alphabet
    val greenAlphabet = 256 + 24 + cacheSize
    val freqG = Array.fill(nGroups)(new Array[Long](greenAlphabet))
    val freqR = Array.fill(nGroups)(new Array[Long](256))
    val freqB = Array.fill(nGroups)(new Array[Long](256))
    val freqA = Array.fill(nGroups)(new Array[Long](256))
    val freqD = Array.fill(nGroups)(new Array[Long](40))
    tokens.foreach {
      case Lit(p, g) =>
        freqG(g)((p >> 8) & 0xff) += 1
        freqR(g)((p >> 16) & 0xff) += 1
        freqB(g)(p & 0xff) += 1
        freqA(g)((p >>> 24) & 0xff) += 1
      case CacheRef(idx, g) => freqG(g)(256 + 24 + idx) += 1
      case BackRef(len, dist, g) =>
        freqG(g)(256 + prefixEncode(len)._1) += 1
        val plane = distToPlane.getOrElse(dist, dist + 120)
        freqD(g)(prefixEncode(plane)._1) += 1
    }
    // codes per group (empty alphabets get a 1-symbol code on symbol 0);
    // `single` is precomputed — the emit loop must not rescan the
    // alphabet-sized lengths array per token
    final case class WCode(lengths: Array[Int], codes: Array[Int],
        single: Boolean)
    def build(freqs: Array[Long], maxLen: Int): WCode = {
      val f = if (freqs.forall(_ == 0L)) {
        val g = freqs.clone(); g(0) = 1; g
      } else freqs
      val lengths = huffmanLengths(f, maxLen)
      WCode(lengths, canonicalCodes(lengths), lengths.count(_ > 0) == 1)
    }
    val codes = Array.tabulate(nGroups) { g =>
      Array(build(freqG(g), 15), build(freqR(g), 15), build(freqB(g), 15),
        build(freqA(g), 15), build(freqD(g), 15))
    }
    // write the 5 prefix codes per group
    for (g <- 0 until nGroups; c <- codes(g)) writePrefixCode(bw, c.lengths)
    // write tokens
    def emit(c: WCode, sym: Int): Unit = {
      if (c.lengths(sym) == 0) fail(s"emitting symbol $sym with no code")
      // a 1-symbol code is read with ZERO bits (the decoder's single
      // short-circuit) — write nothing
      if (!c.single) bw.writeCode(c.codes(sym), c.lengths(sym))
    }
    tokens.foreach {
      case Lit(p, g) =>
        emit(codes(g)(0), (p >> 8) & 0xff)
        emit(codes(g)(1), (p >> 16) & 0xff)
        emit(codes(g)(2), p & 0xff)
        emit(codes(g)(3), (p >>> 24) & 0xff)
      case CacheRef(idx, g) => emit(codes(g)(0), 256 + 24 + idx)
      case BackRef(len, dist, g) =>
        val (lc, leb, lev) = prefixEncode(len)
        emit(codes(g)(0), 256 + lc)
        bw.writeBits(lev, leb)
        val plane = distToPlane.getOrElse(dist, dist + 120)
        val (dc, deb, dev) = prefixEncode(plane)
        emit(codes(g)(4), dc)
        bw.writeBits(dev, deb)
    }
  }

  /** Write one prefix code: the simple 1/2-symbol form when the used
    * symbols fit it, else the full code-length-coded form with
    * zero-run RLE (symbols 17/18). */
  private def writePrefixCode(bw: BitWriter, lengths: Array[Int]): Unit = {
    val used = lengths.zipWithIndex.filter(_._1 > 0).map(_._2)
    require(used.nonEmpty, "empty code")
    if (used.length <= 2 && used.forall(_ <= 255)) {
      bw.writeBit(1) // simple
      bw.writeBit(used.length - 1)
      val s0 = used(0)
      if (s0 <= 1) { bw.writeBit(0); bw.writeBit(s0) }
      else { bw.writeBit(1); bw.writeBits(s0, 8) }
      if (used.length == 2) bw.writeBits(used(1), 8)
      return
    }
    bw.writeBit(0) // normal
    // code-length symbol stream with zero-RLE
    val clStream = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) == 0) {
        var run = 0
        while (i + run < lengths.length && lengths(i + run) == 0) run += 1
        var rem = run
        while (rem > 0) {
          if (rem >= 11) {
            val take = math.min(rem, 138)
            clStream += ((18, 7, take - 11)); rem -= take
          } else if (rem >= 3) {
            clStream += ((17, 3, rem - 3)); rem = 0
          } else {
            var k = 0
            while (k < rem) { clStream += ((0, 0, 0)); k += 1 }
            rem = 0
          }
        }
        i += run
      } else {
        clStream += ((lengths(i), 0, 0))
        i += 1
      }
    }
    val clFreq = new Array[Long](19)
    clStream.foreach { case (s, _, _) => clFreq(s) += 1 }
    val clLengths = huffmanLengths(clFreq, 7)
    val clCodes = canonicalCodes(clLengths)
    // num_code_lengths: cover every used position of the fixed order
    var numCodes = 19
    while (numCodes > 4 && clLengths(CodeLengthOrder(numCodes - 1)) == 0)
      numCodes -= 1
    bw.writeBits(numCodes - 4, 4)
    var j = 0
    while (j < numCodes) {
      bw.writeBits(clLengths(CodeLengthOrder(j)), 3)
      j += 1
    }
    bw.writeBit(0) // no max_symbol short-circuit
    val clSingle = clLengths.count(_ > 0) == 1
    clStream.foreach { case (s, extraBits, extraVal) =>
      if (!clSingle) bw.writeCode(clCodes(s), clLengths(s))
      if (extraBits > 0) bw.writeBits(extraVal, extraBits)
    }
  }
}
