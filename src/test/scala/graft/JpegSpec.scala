package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.functions._

import graft.ops.{Jpeg, Multimodal}

/** The from-spec JPEG codec (ITU-T T.81, round 16): exact
  * reconstruction on DC-only fixtures, interop against the JDK's own
  * independent codec (javax.imageio) in both directions — baseline
  * AND progressive (Annex G multi-scan) — restart markers, raster
  * block order for non-interleaved scans, DROPMALFORMED skipping, and
  * the decodeAnyImages / classifyMedia FFD8 dispatch. */
class JpegSpec extends SparkSpec {
  import spark.implicits._

  private val q8 = Array.fill(64)(8)

  /** Planted constant-block planes, the jpegMediaFromDocuments shape. */
  private def constPlanes(w: Int, h: Int, seed: Long):
      (Array[Byte], (Int, Int) => Int) = {
    def yv(bx: Int, by: Int): Int = 64 + ((seed * 31 + bx * 7 + by * 13) % 128).toInt
    (Array.tabulate(w * h)(p => yv((p % w) / 8, (p / w) / 8).toByte), yv)
  }

  test("grayscale constant-block streams reconstruct EXACTLY (incl. restart intervals)") {
    for (seed <- 0L to 5L; ri <- Seq(0, 1, 2)) {
      val w = 10 + (seed % 23).toInt
      val h = 9 + (seed % 19).toInt
      val (yp, yv) = constPlanes(w, h, seed)
      val bytes = Jpeg.encodeGray(w, h, yp, q8, ri)
      val (dw, dh, rgb) = Jpeg.decode(bytes)
      assert(dw === w && dh === h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert((rgb((y * w + x) * 3 + c) & 0xff) === yv(x / 8, y / 8),
          s"seed=$seed ri=$ri ($x,$y,$c)")
    }
  }

  test("4:2:0 and 4:4:4 color constant-block streams reconstruct EXACTLY via the fixed-point conversion") {
    for (seed <- 1L to 6L; samp <- Seq(1, 2)) {
      val w = 10 + (seed % 23).toInt
      val h = 9 + (seed % 19).toInt
      val (yp, yv) = constPlanes(w, h, seed)
      val cw = (w + samp - 1) / samp
      val ch = (h + samp - 1) / samp
      def cbOff(rx: Int, ry: Int) = ((seed * 5 + rx * 3 + ry * 11) % 32).toInt
      def crOff(rx: Int, ry: Int) = ((seed * 7 + rx * 5 + ry * 3) % 32).toInt
      val cb = Array.tabulate(cw * ch)(p =>
        (128 + cbOff((p % cw) / 8, (p / cw) / 8)).toByte)
      val cr = Array.tabulate(cw * ch)(p =>
        (128 + crOff((p % cw) / 8, (p / cw) / 8)).toByte)
      val bytes = Jpeg.encodeYcc(w, h, yp, cb, cr, samp, samp, q8, q8)
      val (dw, dh, rgb) = Jpeg.decode(bytes)
      assert(dw === w && dh === h)
      val cs = 8 * samp // chroma-constant luma region side
      for (y <- 0 until h; x <- 0 until w) {
        val yy = yv(x / 8, y / 8)
        val co = cbOff(x / cs, y / cs)
        val ro = crOff(x / cs, y / cs)
        val er = yy + ((91881 * ro + 32768) >> 16)
        val eg = yy - ((22554 * co + 46802 * ro + 32768) >> 16)
        val eb = yy + ((116130 * co + 32768) >> 16)
        val o = (y * w + x) * 3
        assert((rgb(o) & 0xff) === er, s"R seed=$seed samp=$samp ($x,$y)")
        assert((rgb(o + 1) & 0xff) === eg, s"G seed=$seed samp=$samp ($x,$y)")
        assert((rgb(o + 2) & 0xff) === eb, s"B seed=$seed samp=$samp ($x,$y)")
      }
    }
  }

  private def randomRgb(w: Int, h: Int, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    // smooth-ish content (JPEG-friendly): base gradient + small noise
    Array.tabulate(w * h * 3) { p =>
      val i = p / 3; val x = i % w; val y = i / w
      val base = (x * 7 + y * 5) % 160 + 40
      (base + rnd.nextInt(17) - 8).toByte
    }
  }

  private def imageIoDecode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO failed to decode")
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val o = (y * w + x) * 3
      out(o) = ((p >> 16) & 0xff).toByte
      out(o + 1) = ((p >> 8) & 0xff).toByte
      out(o + 2) = (p & 0xff).toByte
    }
    (w, h, out)
  }

  private def maxAbsDiff(a: Array[Byte], b: Array[Byte]): Int = {
    assert(a.length === b.length)
    a.indices.map(i => math.abs((a(i) & 0xff) - (b(i) & 0xff))).max
  }

  test("interop: the JDK's independent codec decodes OUR streams (gray, 4:4:4, 4:2:2, 4:4:0, 4:2:0, restarts)") {
    // IDCT implementations legitimately differ by ±1; chroma
    // interpolation (ImageIO smooths, we use nearest) can add a little
    // more on color streams — bound it tightly rather than exactly.
    // The asymmetric (2,1)/(1,2) rows cover 4:2:2 and 4:4:0 chroma
    // geometry, which share no code path shortcuts with 2x2.
    for ((sh, sv, ri, tol) <- Seq((1, 1, 0, 8), (2, 2, 0, 8),
        (2, 1, 0, 8), (1, 2, 0, 8), (2, 2, 3, 8))) {
      val w = 37; val h = 29
      val rgb = randomRgb(w, h, sh * 100L + sv * 10L + ri)
      val bytes = Jpeg.encode(w, h, rgb, sh, sv,
        Jpeg.StdQuantLuma, Jpeg.StdQuantChroma, ri)
      val (dw, dh, theirs) = imageIoDecode(bytes)
      assert(dw === w && dh === h)
      val (_, _, ours) = Jpeg.decode(bytes)
      assert(maxAbsDiff(ours, theirs) <= tol,
        s"samp=${sh}x$sv ri=$ri diverged beyond ±$tol from ImageIO")
    }
    // grayscale: compare RAW raster samples — BufferedImage.getRGB on a
    // TYPE_BYTE_GRAY image applies a linear→sRGB gamma conversion that
    // has nothing to do with the codec
    val w = 24; val h = 16
    val yp = Array.tabulate(w * h)(p => ((p * 31) % 200 + 20).toByte)
    val g = Jpeg.encodeGray(w, h, yp, Jpeg.StdQuantLuma, 2)
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(g))
    assert(img != null && img.getWidth === w && img.getHeight === h)
    val (_, _, ours) = Jpeg.decode(g)
    val maxD = (for (y <- 0 until h; x <- 0 until w) yield
      math.abs(img.getRaster.getSample(x, y, 0) -
        (ours((y * w + x) * 3) & 0xff))).max
    assert(maxD <= 2, s"grayscale diverged from ImageIO raster by $maxD")
  }

  test("interop: WE decode the JDK writer's streams (its own tables, subsampling choices)") {
    for (quality <- Seq(0.95f, 0.7f)) {
      val w = 33; val h = 25
      val rgb = randomRgb(w, h, (quality * 100).toLong)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(o) & 0xff) << 16) |
          ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.close(); writer.dispose()
      val bytes = bos.toByteArray
      val (dw, dh, ours) = Jpeg.decode(bytes)
      assert(dw === w && dh === h)
      val (_, _, theirs) = imageIoDecode(bytes)
      assert(maxAbsDiff(ours, theirs) <= 8,
        s"quality=$quality diverged beyond ±8 from ImageIO's own decode")
    }
  }

  private def imageIoEncode(w: Int, h: Int, rgb: Array[Byte],
      quality: Float, progressive: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      img.setRGB(x, y, ((rgb(o) & 0xff) << 16) |
        ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    if (progressive)
      params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("our progressive encoder round-trips constant-block planes EXACTLY (DC approximation + refinement + EOBRUN)") {
    for (seed <- 0L to 4L; (samp, ri) <- Seq((0, 0), (0, 2), (2, 0), (1, 3))) {
      // samp 0 = grayscale; the decoded constants must equal the planted
      // values exactly, same as the sequential encoding of these planes
      val w = 10 + (seed % 23).toInt
      val h = 9 + (seed % 19).toInt
      val (yp, yv) = constPlanes(w, h, seed)
      val bytes =
        if (samp == 0) Jpeg.encodeYccProgressive(w, h, yp, null, null, 1, 1, q8, null, ri)
        else {
          val cw = (w + samp - 1) / samp
          val ch = (h + samp - 1) / samp
          val cb = Array.tabulate(cw * ch)(_ => 128.toByte) // neutral chroma
          val cr = Array.tabulate(cw * ch)(_ => 128.toByte)
          Jpeg.encodeYccProgressive(w, h, yp, cb, cr, samp, samp, q8, q8, ri)
        }
      assert((0 until bytes.length - 1).exists(i =>
        (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc2),
        "not SOF2")
      val (dw, dh, rgb) = Jpeg.decode(bytes)
      assert(dw === w && dh === h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert((rgb((y * w + x) * 3 + c) & 0xff) === yv(x / 8, y / 8),
          s"seed=$seed samp=$samp ri=$ri ($x,$y,$c)")
    }
  }

  test("PROGRESSIVE streams decode (multi-scan spectral selection + successive approximation, T.81 Annex G)") {
    for (quality <- Seq(0.9f, 0.5f)) {
      val w = 41; val h = 27 // partial MCUs on both axes
      val rgb = randomRgb(w, h, (quality * 1000).toLong)
      val bytes = imageIoEncode(w, h, rgb, quality, progressive = true)
      // confirm the stream really is SOF2 (the JDK writer honors the mode)
      assert((0 until bytes.length - 1).exists(i =>
        (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc2),
        "fixture is not progressive")
      val (dw, dh, ours) = Jpeg.decode(bytes)
      assert(dw === w && dh === h)
      val (_, _, theirs) = imageIoDecode(bytes)
      assert(maxAbsDiff(ours, theirs) <= 8,
        s"progressive quality=$quality diverged beyond ±8 from ImageIO's own decode")
    }
    // a progressive stream must equal the SEQUENTIAL encoding of the
    // same raster up to IDCT/interpolation tolerance — the scans carry
    // the same coefficients, just reordered
    val w = 32; val h = 24
    val rgb = randomRgb(w, h, 777L)
    val (_, _, seq) = Jpeg.decode(imageIoEncode(w, h, rgb, 0.9f, progressive = false))
    val (_, _, prg) = Jpeg.decode(imageIoEncode(w, h, rgb, 0.9f, progressive = true))
    assert(maxAbsDiff(seq, prg) <= 2,
      "progressive and sequential encodings of the same raster diverged")
  }

  test("meta: marker-level parse without decoding (dims, sampling, progressive, DRI, quality estimate)") {
    val yp = Array.fill(24 * 16)(100.toByte)
    // unscaled Annex K tables are by definition libjpeg quality 50
    val std = Jpeg.meta(Jpeg.encodeGray(24, 16, yp))
    assert(std === Jpeg.Meta(24, 16, 1, false, 1, 1, 0, 50, 0))
    val cw = 12; val chh = 8
    val color = Jpeg.meta(Jpeg.encodeYcc(24, 16, yp,
      Array.fill(cw * chh)(128.toByte), Array.fill(cw * chh)(128.toByte),
      2, 2, Array.fill(64)(8), Array.fill(64)(8), 3))
    assert(color === Jpeg.Meta(24, 16, 3, false, 2, 2, 3, 93, 0))
    val prog = Jpeg.meta(Jpeg.encodeYccProgressive(24, 16, yp,
      Array.fill(cw * chh)(128.toByte), Array.fill(cw * chh)(128.toByte),
      2, 2, Array.fill(64)(8), Array.fill(64)(8), 2))
    // the progressive encoder resets DRI to 0 before its refinement scan
    assert(prog === Jpeg.Meta(24, 16, 3, true, 2, 2, 0, 93, 0))
    // EXIF orientation rides an APP1 TIFF IFD; decode ignores it, meta
    // surfaces it; a garbled APP1 payload reads back as absent (0),
    // never a failure — EXIF is ancillary metadata
    for (o <- Seq(1, 6, 8)) {
      val b = Jpeg.encodeGray(24, 16, yp, exifOrientation = o)
      assert(Jpeg.meta(b).orientation === o)
      val (dw, dh, _) = Jpeg.decode(b)
      assert(dw === 24 && dh === 16)
      // garble the TIFF byte-order mark inside APP1 (APP1 starts after
      // the 20-byte SOI+APP0 prefix; 'M' sits at offset 20+4+6)
      val g = b.clone()
      assert(g(30) === 'M'.toByte)
      g(30) = 'X'.toByte
      assert(Jpeg.meta(g).orientation === 0)
    }
    // a spec-legal stream whose component uses quant slot 1 (no slot 0
    // at all) must carry metadata — decode only requires the tables the
    // scans reference, and meta's containment must match (r16 ADVICE);
    // patch the encoder's slot-0 stream: DQT Pq/Tq byte 0x00→0x01 and
    // the SOF component's Tq 0→1
    locally {
      val b = Jpeg.encodeGray(24, 16, yp, Array.fill(64)(8))
      var i = 2
      while (!((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xdb)) i += 1
      assert(b(i + 4) === 0x00.toByte) // DQT Pq/Tq
      b(i + 4) = 0x01.toByte
      var j = i + 2 // SOF follows the DQT in the encoder's layout
      while (!((b(j) & 0xff) == 0xff && (b(j + 1) & 0xff) == 0xc0)) j += 1
      assert(b(j + 12) === 0x00.toByte) // SOF comp Tq (FFC0 len2 prec h2 w2 nf id hv → tq)
      b(j + 12) = 0x01.toByte
      assert(Jpeg.meta(b) === Jpeg.Meta(24, 16, 1, false, 1, 1, 0, 93, 0))
      val (dw, dh, _) = Jpeg.decode(b)
      assert(dw === 24 && dh === 16)
    }
    // truncated stream: meta requires EOI, so bookkeeping stays
    // deterministic
    val g = Jpeg.encodeGray(24, 16, yp)
    intercept[IllegalArgumentException](
      Jpeg.meta(java.util.Arrays.copyOfRange(g, 0, g.length / 2)))
    // malformed-header PARITY with the decoder: a DQT whose declared
    // length exceeds its payload must fail in BOTH parsers (before
    // round-16's third review pass, meta silently desynchronized here)
    var i = 2
    while (!((g(i) & 0xff) == 0xff && (g(i + 1) & 0xff) == 0xdb)) i += 1
    val bad = new Array[Byte](g.length + 1)
    System.arraycopy(g, 0, bad, 0, i + 69) // marker+len+pqtq+64 q bytes
    bad(i + 3) = 68.toByte                 // declared len 67 -> 68
    bad(i + 69) = 0x55.toByte              // junk byte inside the segment
    System.arraycopy(g, i + 69, bad, i + 70, g.length - (i + 69))
    intercept[IllegalArgumentException](Jpeg.meta(bad))
    intercept[IllegalArgumentException](Jpeg.decode(bad))
  }

  test("truncation and garbage throw") {
    val good = Jpeg.encodeGray(8, 8, Array.fill(64)(100.toByte))
    intercept[IllegalArgumentException](
      Jpeg.decode(java.util.Arrays.copyOfRange(good, 0, good.length / 2)))
    intercept[IllegalArgumentException](Jpeg.decode("nope".getBytes))
    // a truncated PROGRESSIVE stream throws too (mid-scan EOF)
    val w = 24; val h = 24
    val pbytes = imageIoEncode(w, h, randomRgb(w, h, 9L), 0.9f, progressive = true)
    intercept[IllegalArgumentException](
      Jpeg.decode(java.util.Arrays.copyOfRange(pbytes, 0, pbytes.length / 2)))
  }

  test("grayscale with declared 2x2 sampling decodes in raster block order (non-interleaved scan, T.81 A.2)") {
    // a grayscale transcode can keep its source's 2x2 luma factors; the
    // single-component scan is NON-interleaved, so block order must stay
    // raster order regardless of the declared factors (24×16 = 3×2
    // blocks, where an MCU-grouped reading would consume 8 blocks)
    val w = 24; val h = 16
    def bval(bx: Int, by: Int) = bx * 50 + by * 25 + 40
    val yp = Array.tabulate(w * h)(p =>
      bval((p % w) / 8, (p / w) / 8).toByte)
    val bytes = Jpeg.encodeGray(w, h, yp, q8)
    var i = 2
    while (!((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc0)) i += 1
    val hvIdx = i + 11 // FF C0 len(2) prec(1) h(2) w(2) nf(1) id(1) → h/v byte
    assert(bytes(hvIdx) === 0x11.toByte)
    bytes(hvIdx) = 0x22.toByte
    val (dw, dh, rgb) = Jpeg.decode(bytes)
    assert(dw === w && dh === h)
    for (y <- 0 until h; x <- 0 until w)
      assert((rgb((y * w + x) * 3) & 0xff) === bval(x / 8, y / 8), s"($x,$y)")
  }

  test("leftover entropy bytes before EOI fail loudly (coded-data desync)") {
    val good = Jpeg.encodeGray(8, 8, Array.fill(64)(100.toByte))
    // splice a non-marker byte between the entropy data and EOI
    val bad = new Array[Byte](good.length + 1)
    System.arraycopy(good, 0, bad, 0, good.length - 2)
    bad(good.length - 2) = 0xab.toByte
    bad(good.length - 1) = 0xff.toByte
    bad(good.length) = 0xd9.toByte
    val e = intercept[IllegalArgumentException](Jpeg.decode(bad))
    assert(e.getMessage.contains("desync"))
  }

  test("applyOrientation implements the public EXIF tag table (all 8 transforms, hand-pinned)") {
    // stored 3×2 raster  A B C / D E F  (one byte per channel, gray)
    val names = "ABCDEF".getBytes("US-ASCII")
    val stored = Array.tabulate(6 * 3)(i => names(i / 3))
    def gridOf(w: Int, h: Int, r: Array[Byte]): Seq[String] =
      (0 until h).map(y => new String(
        (0 until w).map(x => r((y * w + x) * 3)).toArray, "US-ASCII"))
    // expectations written from the EXIF orientation definitions
    // (1 normal, 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose,
    // 6 rotate 90 CW, 7 transverse, 8 rotate 270 CW)
    val expected = Map(
      1 -> (3, Seq("ABC", "DEF")),
      2 -> (3, Seq("CBA", "FED")),
      3 -> (3, Seq("FED", "CBA")),
      4 -> (3, Seq("DEF", "ABC")),
      5 -> (2, Seq("AD", "BE", "CF")),
      6 -> (2, Seq("DA", "EB", "FC")),
      7 -> (2, Seq("FC", "EB", "DA")),
      8 -> (2, Seq("CF", "BE", "AD")))
    for ((tag, (ew, rows)) <- expected) {
      val (ow, oh, out) = Multimodal.applyOrientation(3, 2, stored, tag)
      assert(ow === ew && oh === rows.length, s"tag $tag dims")
      assert(gridOf(ow, oh, out) === rows, s"tag $tag grid")
    }
    // tag 0 (absent) is identity
    val (zw, zh, zr) = Multimodal.applyOrientation(3, 2, stored, 0)
    assert(zw === 3 && zh === 2 && (zr eq stored))
  }

  test("exifOrientation reads the tag without decoding and never throws") {
    val yp = Array.fill(24 * 16)(100.toByte)
    for (o <- 1 to 8)
      assert(Jpeg.exifOrientation(
        Jpeg.encodeGray(24, 16, yp, exifOrientation = o)) === o)
    assert(Jpeg.exifOrientation(Jpeg.encodeGray(24, 16, yp)) === 0)
    assert(Jpeg.exifOrientation("not a jpeg".getBytes) === 0)
    // a truncated stream reads 0, never throws — EXIF is ancillary
    val b = Jpeg.encodeGray(24, 16, yp, exifOrientation = 6)
    assert(Jpeg.exifOrientation(java.util.Arrays.copyOfRange(b, 0, 6)) === 0)
  }

  test("a rotated re-save pairs ONLY under autoOrient (tag-8 thumb equality pinned)") {
    val docs = (0L until 16L).toDF("doc_id")
    val media = Multimodal.orientDedupMediaFromDocuments(docs)
    // tag-8 pin: the normalized thumb of the rotated member is
    // BIT-identical to its base's
    val oriented = Multimodal.decodeAnyImages(media, thumbSide = 8,
      autoOrient = true)
    val thumbs = oriented.select("media_id", "thumb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(thumbs(1L) === thumbs(0L), "tag-8 member normalizes onto base")
    assert(thumbs(2L) !== thumbs(0L), "untagged rotated control stays rotated")
    val withNorm = Multimodal.imageNearDupPairs(oriented, maxHamming = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withNorm === (0L until 4L).map(g => (g * 4, g * 4 + 1)).toSet)
    // without normalization the rotated re-save NEVER pairs with its
    // base — but the two identically-stored rotated members (m=1, m=2)
    // pair with each other, which is exactly the raw-bytes semantics
    val raw = Multimodal.decodeAnyImages(media, thumbSide = 8)
    val withoutNorm = Multimodal.imageNearDupPairs(raw, maxHamming = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withoutNorm === (0L until 4L).map(g => (g * 4 + 1, g * 4 + 2)).toSet)
  }

  test("the orientation convention freezes into the index and cannot be cross-probed") {
    val docs = (0L until 16L).toDF("doc_id")
    val media = Multimodal.orientDedupMediaFromDocuments(docs)
    val corpus = media.filter(col("media_id") % 4 === 0)
    val batch = media.filter(col("media_id") % 4 === 1)
    // an index frozen over ORIENTED thumbs matches the rotated re-save
    // through imageNearDupAgainstIndex, which derives the convention
    // from the index metadata (nothing to pass)
    val orientedIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(corpus, thumbSide = 8, autoOrient = true))
    assert(Multimodal.indexIsOriented(orientedIdx))
    val matches = Multimodal.imageNearDupAgainstIndex(batch, orientedIdx)
      .select("media_id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches === (0L until 4L).map(g => (g * 4 + 1, g * 4)).toSet)
    // a RAW index finds none of them (dHash is not rotation-invariant)
    val rawIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(corpus, thumbSide = 8))
    assert(!Multimodal.indexIsOriented(rawIdx))
    assert(Multimodal.imageNearDupAgainstIndex(batch, rawIdx).isEmpty)
    // the incremental path derives BOTH conventions from the index
    // too: the rotated batch matches the oriented corpus seamlessly —
    // no knob to thread, no way to cross the conventions
    val incr = Multimodal.incrementalImageNearDup(batch, orientedIdx)
      .filter(col("side") === "corpus")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr === (0L until 4L).map(g => (g * 4, g * 4 + 1)).toSet)
    // and the thumb metadata the derivation rides round-trips a select
    val dec = Multimodal.decodeAnyImages(batch, thumbSide = 8,
      autoOrient = true).select("media_id", "thumb")
    assert(Multimodal.thumbsAreOriented(dec))
    assert(!Multimodal.thumbsAreOriented(
      Multimodal.decodeAnyImages(batch, thumbSide = 8)))
  }

  test("decodeAnyImages dispatches FFD8 and DROPMALFORMED skips truncated jpegs") {
    val jp = Jpeg.encodeGray(8, 8, Array.fill(64)(100.toByte))
    val ppm = Multimodal.Ppm.encode(2, 2, Array.fill(12)(50.toByte))
    val qoi = Multimodal.Qoi.encode(2, 2, Array.fill(12)(60.toByte))
    val bad = java.util.Arrays.copyOfRange(jp, 0, jp.length / 2)
    val media = Seq(
      (1L, jp), (2L, ppm), (3L, qoi), (4L, bad)
    ).toDF("media_id", "bytes")
    val dec = Multimodal.decodeAnyImages(media, thumbSide = 2)
      .select("media_id", "mean_r").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dec.keySet === Set(1L, 2L, 3L)) // truncated jpeg dropped
    assert(dec(1L) === 100.0 && dec(2L) === 50.0 && dec(3L) === 60.0)
    // and the mixed-media classifier tags jpeg as image
    val cls = Multimodal.classifyMedia(media.filter(col("media_id") === 1))
      .select("modality").head().getString(0)
    assert(cls === "image")
  }

  test("routedMediaDedup routes JPEG blobs through the image path (FFD8 in the dispatcher)") {
    // one group: base jpeg + exact copy + an independent, plus one WAV so
    // the mixed dispatch actually branches; the jpeg pair must surface as
    // an image-modality pair (perceptual or exact — both prove routing)
    val docs = (0L until 8L).toDF("doc_id")
    val jp = Multimodal.jpegDedupMediaFromDocuments(docs)
      .filter(col("media_id") < 3) // m=0 base, m=1 copy, m=2 flipped
    val wav = Multimodal.dedupAudioMediaFromDocuments(docs)
      .filter(col("media_id") === 4)
      .select((col("media_id") + 100L).as("media_id"), col("bytes"))
    val pairs = Multimodal.routedMediaDedup(jp.unionByName(wav))
      .filter(col("modality") === "image")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("jpegMediaFromDocuments decodes to the closed-form channel means (the m_jpeg oracle, in-process)") {
    val docs = (0L until 60L).toDF("doc_id")
    val dec = Multimodal.decodeAnyImages(
        Multimodal.jpegMediaFromDocuments(docs), thumbSide = 2)
      .select("media_id", "width", "height", "mean_r", "mean_g", "mean_b")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(dec.keySet === (0L until 60L).filter(_ % 17 != 0).toSet)
    for (id <- 0L until 60L if id % 17 != 0) {
      val m = (id % 3).toInt
      val w = 10 + (id % 23).toInt
      val h = 9 + (id % 19).toInt
      val cs = if (m == 1) 16 else 8
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (x <- 0 until w; y <- 0 until h) {
        val yy = 64 + ((id * 31 + (x / 8) * 7 + (y / 8) * 13) % 128).toInt
        if (m == 0) { sr += yy; sg += yy; sb += yy }
        else {
          val co = ((id * 5 + (x / cs) * 3 + (y / cs) * 11) % 32).toInt
          val ro = ((id * 7 + (x / cs) * 5 + (y / cs) * 3) % 32).toInt
          sr += yy + ((91881 * ro + 32768) >> 16)
          sg += yy - ((22554 * co + 46802 * ro + 32768) >> 16)
          sb += yy + ((116130 * co + 32768) >> 16)
        }
      }
      val n = (w * h).toDouble
      val (dw, dh, mr, mg, mb) = dec(id)
      assert(dw === w && dh === h, s"dims id=$id")
      assert(mr === sr / n && mg === sg / n && mb === sb / n, s"means id=$id")
    }
  }
}
