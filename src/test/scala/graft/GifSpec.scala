package graft

import java.io.ByteArrayInputStream

import graft.ops.Gif

/** The from-spec GIF codec (round 17): LZW (fixed-width fixture form
  * AND the JDK writer's real growing-dictionary streams — KwKwK, width
  * bumps), interlace, animation compositing (transparency + disposal
  * 0/2/3), decodeless meta census, truncation refusal, and interop
  * against javax.imageio in both directions. */
class GifSpec extends SparkSpec {

  private val pal16 = Array.tabulate(16 * 3) { i =>
    val c = i / 3
    ((i % 3) match {
      case 0 => c * 17
      case 1 => 255 - c * 17
      case _ => (c * 31) % 256
    }).toByte
  }

  private def palAt(i: Int): (Int, Int, Int) =
    ((pal16(3 * i) & 0xff), (pal16(3 * i + 1) & 0xff), (pal16(3 * i + 2) & 0xff))

  test("single-frame round-trip, interlace, and the JDK reader decode OUR streams exactly") {
    val w = 19; val h = 13
    val idx = Array.tabulate(w * h)(p => ((p * 7 + 3) % 16).toByte)
    for (inter <- Seq(false, true)) {
      val bytes = Gif.encode(w, h, pal16,
        Seq(Gif.EncFrame(idx, interlaced = inter)))
      val (dw, dh, rgb) = Gif.decode(bytes)
      assert(dw === w && dh === h)
      for (p <- 0 until w * h) {
        val (er, eg, eb) = palAt((p * 7 + 3) % 16)
        assert((rgb(3 * p) & 0xff) === er, s"inter=$inter p=$p r")
        assert((rgb(3 * p + 1) & 0xff) === eg, s"inter=$inter p=$p g")
        assert((rgb(3 * p + 2) & 0xff) === eb, s"inter=$inter p=$p b")
      }
      // the JDK's independent reader agrees exactly
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val p = y * w + x
        val (er, eg, eb) = palAt((p * 7 + 3) % 16)
        val v = img.getRGB(x, y)
        assert(((v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff) === ((er, eg, eb)),
          s"imageio inter=$inter ($x,$y)")
      }
    }
  }

  test("WE decode the JDK writer's real LZW streams (dictionary growth, KwKwK, width bumps) exactly") {
    // run-heavy content triggers the KwKwK self-reference and several
    // code-width bumps in a real compressing encoder
    val w = 120; val h = 90
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until h; x <- 0 until w) {
      val band = (x / 10 + y / 10) % 4
      val v = band * 80
      img.setRGB(x, y, (v << 16) | (v << 8) | (255 - v))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val bytes = bos.toByteArray
    val (dw, dh, ours) = Gif.decode(bytes)
    assert(dw === w && dh === h)
    val theirs = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      val v = theirs.getRGB(x, y)
      assert((ours(o) & 0xff) === ((v >> 16) & 0xff), s"r ($x,$y)")
      assert((ours(o + 1) & 0xff) === ((v >> 8) & 0xff), s"g ($x,$y)")
      assert((ours(o + 2) & 0xff) === (v & 0xff), s"b ($x,$y)")
    }
  }

  test("animation compositing: transparency, disposal none/background/previous, frame census") {
    val w = 8; val h = 8
    val base = Array.tabulate(w * h)(_ => 1.toByte)
    // frame 2: a 4x4 patch at (2,2) of colour 2, transparent elsewhere
    // in its rect is not possible (full-rect frame) — use a sub-rect
    val patch = Array.fill(16)(2.toByte)
    // frame 3: full-canvas, colour 3 only where index != 0 (0 transparent)
    val overlay = Array.tabulate(w * h)(p => if (p % 2 == 0) 0.toByte else 3.toByte)
    val bytes = Gif.encode(w, h, pal16, Seq(
      Gif.EncFrame(base, delayCs = 10),
      Gif.EncFrame(patch, left = 2, top = 2, w = 4, h = 4, delayCs = 20,
        disposal = 3), // restore-to-previous after this frame
      Gif.EncFrame(overlay, delayCs = 30, transparentIdx = 0)))
    val (dw, dh, fs) = Gif.frames(bytes)
    assert(dw === w && dh === h && fs.length === 3)
    assert(fs.map(_._1) === Seq(10, 20, 30))
    val (r1, g1, b1) = palAt(1)
    // frame 1: all colour 1
    assert((fs(0)._2(0) & 0xff) === r1)
    // frame 2: patch over base
    val f2 = fs(1)._2
    val (r2, _, _) = palAt(2)
    assert((f2((3 * (3 * w + 3))) & 0xff) === r2, "inside patch")
    assert((f2(0) & 0xff) === r1, "outside patch keeps base")
    // frame 3: disposal 3 restored the base, then colour 3 lands only
    // on odd pixels (0 is transparent)
    val f3 = fs(2)._2
    val (r3, _, _) = palAt(3)
    // (2,3) sits inside the old patch AND is even (transparent in the
    // overlay): it must show the RESTORED base, not the patch colour
    assert((f3(3 * (3 * w + 2)) & 0xff) === r1,
      "restore-to-previous erased the patch under a transparent pixel")
    assert((f3(3 * 1) & 0xff) === r3, "odd pixels take the overlay colour")
    // meta agrees decodelessly
    val m = Gif.meta(bytes)
    assert(m === Gif.Meta(w, h, "89a", 3, animated = true,
      hasTransparency = true, gctSize = 16, interlaced = false,
      totalDelayCs = 60))
    // the JDK reader agrees on the census
    val rdr = javax.imageio.ImageIO.getImageReadersBySuffix("gif").next()
    rdr.setInput(javax.imageio.ImageIO.createImageInputStream(
      new ByteArrayInputStream(bytes)))
    assert(rdr.getNumImages(true) === 3)
    rdr.dispose()
  }

  test("dispatch: GIF routes to image decode, WebP classifies image but keeps only exact dedup") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val gif = Gif.encode(4, 4, pal16, Seq(Gif.EncFrame(Array.fill(16)(5.toByte))))
    val webp = graft.ops.Webp.encodeLossy(32, 24)
    val truncated = java.util.Arrays.copyOfRange(gif, 0, gif.length / 2)
    val media = Seq((1L, gif), (2L, webp), (3L, truncated), (11L, gif),
      (12L, webp)).toDF("media_id", "bytes")
    val cls = graft.ops.Multimodal.classifyMedia(media).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // WebP is RIFF-framed: before round 17 it routed to the AUDIO
    // cohort; the image arm must win
    assert(cls(1L) === "image" && cls(2L) === "image" && cls(3L) === "image")
    val dec = graft.ops.Multimodal.decodeAnyImages(media, thumbSide = 2)
      .select("media_id", "mean_r").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // gif decodes (constant colour-5 raster), webp and the truncated
    // gif drop under DROPMALFORMED
    val (r5, _, _) = palAt(5)
    assert(dec.keySet === Set(1L, 11L))
    assert(dec(1L) === r5.toDouble)
    // and routedMediaDedup keeps the byte-identical copies of BOTH:
    // gif pairs perceptually (decodable), webp exactly (undecodable)
    val pairs = graft.ops.Multimodal.routedMediaDedup(media)
      .select("id_a", "id_b", "kind").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(pairs.contains((2L, 12L, "exact_blob")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 11L))
  }

  test("animated GIFs ride the video dedup stack: trim pairs, reversed collage excluded by minLisFrac") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = (0L until 16L).toDF("doc_id")
    val media = graft.ops.Multimodal.gifDedupMediaFromDocuments(docs)
    val pairs = graft.ops.Multimodal.animationNearDupPairs(media)
      .select("id_a", "id_b", "n_matched", "lis").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val expected = (for {
      g <- 0L until 4L
      a <- 0L until 3L; b <- 0L until 3L if a < b
    } yield (g * 4 + a, g * 4 + b)).toSet
    assert(pairs.keySet === expected)
    pairs.foreach { case ((a, b), (nm, lis)) =>
      val nf = 3 + ((a / 4) % 3)
      val exp = if (a % 4 == 2 || b % 4 == 2) nf - 1 else nf
      assert(nm === exp && lis === exp, s"($a,$b)")
    }
    // a frame-REVERSED animation pairs at full n_matched but lis 1 —
    // and the temporal keep policy excludes it (the video semantics,
    // inherited through the shared matcher)
    val blobs = media.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val (w, h, fs) = graft.ops.Gif.frames(blobs(0L))
    assert(fs.length === 3)
    val pal = Array[Byte](0, 0, 0, 255.toByte, 255.toByte, 255.toByte,
      64, 64, 64, 192.toByte, 192.toByte, 192.toByte)
    // rebuild the base's frames reversed (indexes recovered from the
    // composited rasters: colour 1 has r=255)
    val revFrames = fs.reverse.map { case (_, rgb) =>
      graft.ops.Gif.EncFrame(Array.tabulate(w * h)(p =>
        (if ((rgb(3 * p) & 0xff) > 128) 1 else 0).toByte), delayCs = 4)
    }
    val withRev = media.unionByName(Seq(
      (1000L, graft.ops.Gif.encode(w, h, pal, revFrames)))
      .toDF("media_id", "bytes"))
    val rev = graft.ops.Multimodal.animationNearDupPairs(withRev)
      .filter(col("id_b") === 1000L)
      .select("id_a", "n_matched", "lis").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rev(0L) === ((3L, 1L)), "reversed animation: full match, lis 1")
    val temporal = graft.ops.Multimodal.animationNearDupPairs(withRev,
        minLisFrac = 0.8)
      .filter(col("id_b") === 1000L).count()
    assert(temporal === 0L, "the collage must not survive the keep policy")
  }

  test("truncation, junk, oversize frames, and trailing bytes refuse loudly; 87a census") {
    val good = Gif.encode(8, 8, pal16,
      Seq(Gif.EncFrame(Array.fill(64)(5.toByte))))
    assert(Gif.meta(good).version === "87a")
    assert(!Gif.meta(good).animated)
    intercept[IllegalArgumentException](
      Gif.decode(java.util.Arrays.copyOfRange(good, 0, good.length / 2)))
    intercept[IllegalArgumentException](
      Gif.meta(java.util.Arrays.copyOfRange(good, 0, good.length / 2)))
    intercept[IllegalArgumentException](Gif.decode("GIF85a junk".getBytes))
    intercept[IllegalArgumentException](Gif.decode("nope".getBytes))
    val trailing = java.util.Arrays.copyOf(good, good.length + 1)
    intercept[IllegalArgumentException](Gif.decode(trailing))
    intercept[IllegalArgumentException](Gif.meta(trailing))
    // a frame rect outside the canvas refuses
    val bad = good.clone()
    // image descriptor: 0x2c at some offset; left u16 follows
    var i = 6 + 7 + 48
    while ((bad(i) & 0xff) != 0x2c) i += 1
    bad(i + 1) = 7 // left = 7 → 7 + 8 > 8
    intercept[IllegalArgumentException](Gif.decode(bad))
  }

  test("decode is first-frame-only (r18): later frames structurally skipped, never LZW-decoded") {
    val w = 8; val h = 8
    val idx1 = Array.tabulate(w * h)(p => (p % 4).toByte)
    val one = Gif.encode(w, h, pal16, Seq(Gif.EncFrame(idx1, delayCs = 1)))
    // splice a SECOND frame whose LZW payload is garbage (first 3-bit
    // code = 7, not a literal): full-decode refuses it, the
    // first-frame path must not even read it
    val frame2 = Array[Byte](0x21.toByte, 0xf9.toByte, 4, 0, 1, 0, 0, 0,
      0x2c, 0, 0, 0, 0, 8, 0, 8, 0, 0, // descriptor 8x8 at (0,0), no LCT
      2, // LZW min code size
      1, 0xff.toByte, 0, // one sub-block of junk + terminator
      0x3b)
    val corrupt = one.dropRight(1) ++ frame2
    intercept[IllegalArgumentException](Gif.frames(corrupt))
    val (dw, dh, raster) = Gif.decode(corrupt)
    assert(dw === w && dh === h)
    assert(raster === Gif.decode(one)._3,
      "first frame must decode identically with the junk tail skipped")
    // meta (which never validates LZW payloads) agrees on the census
    assert(Gif.meta(corrupt).nFrames === 2)
    // the structural guards still apply to SKIPPED frames: a bad LZW
    // code size past the cap refuses
    val badCode = corrupt.clone()
    badCode(one.length - 1 + 18) = 1 // min code size 1 on frame 2
    intercept[IllegalArgumentException](Gif.decode(badCode))
  }
}
