package graft

import org.apache.spark.sql.functions.col

import graft.ops.{Multimodal, Png, Vp8l, Webp}

/** APNG + animated-WebP through the video bridge (round 18): frame
  * assembly (acTL/fcTL/fdAT sequence discipline, the IDAT-as-frame
  * rule; VP8X/ANMF with real VP8L payloads), compositing semantics
  * (dispose none/background/previous, blend source/over; the
  * no-blend/alpha-blend flag byte), the shared banded matcher (trim
  * pairs, reversed-collage exclusion via minLisFrac), and first-frame
  * decode caps. */
class ApngSpec extends SparkSpec {
  import spark.implicits._

  private def rgbFrame(seed: Long): Array[Byte] = {
    val pattern = graft.ops.Multimodal.splitmix64(seed)
    val rgb = new Array[Byte](64 * 3)
    var p = 0
    while (p < 64) {
      val v = if (((pattern >>> p) & 1L) == 1L) 255.toByte else 0.toByte
      rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
      p += 1
    }
    rgb
  }

  test("apng: frame round-trip (IDAT frame + fdAT frames), delays, re-encode invariance") {
    val fs = (0 until 4).map(k => (3 + k, rgbFrame(k * 7919L + 11)))
    val bytes = Png.encodeApng(8, 8, fs)
    val (w, h, dec) = Png.frames(bytes)
    assert(w === 8 && h === 8 && dec.length === 4)
    assert(dec.map(_._1) === Seq(3, 4, 5, 6))
    // full-canvas source-blend frames: composite == the frame itself
    dec.zip(fs).foreach { case ((_, got), (_, want)) => assert(got === want) }
    // a re-encode with different per-row filters decodes identically
    val re = Png.encodeApng(8, 8, fs, y => 1 + (y % 4))
    assert(!java.util.Arrays.equals(bytes, re))
    assert(Png.frames(re)._3.map(_._2.toSeq) === dec.map(_._2.toSeq))
    // the decodeless census agrees (the Gif.meta convention, r18):
    // acTL flags animation, fcTL count and summed delays at header cost
    val md = Png.meta(bytes)
    assert(md.animated && md.nFrames === 4 && md.totalDelayCs === 3 + 4 + 5 + 6)
    // a plain PNG is its own single frame and censuses (false, 1, 0)
    val still = Png.encode(8, 8, rgbFrame(3))
    val sm = Png.meta(still)
    assert(!sm.animated && sm.nFrames === 1 && sm.totalDelayCs === 0)
    val (_, _, one) = Png.frames(still)
    assert(one.map(f => (f._1, f._2.toSeq)) ===
      Seq((0, Png.decode(still)._3.toSeq)))
    // Png.decode on an APNG is the FIRST frame (fdAT never inflated)
    assert(Png.decode(bytes)._3 === fs.head._2)
  }

  test("apng: blend OVER and dispose background/previous composite per spec") {
    val redFull = Array.tabulate(64 * 4)(i => (i % 4 match {
      case 0 => 255; case 3 => 255; case _ => 0
    }).toByte)
    val bluePatch = Array.tabulate(16 * 4)(i => (i % 4 match {
      case 2 => 255; case 3 => 128; case _ => 0
    }).toByte) // 4x4 half-transparent blue
    val greenDot = Array[Byte](0, 255.toByte, 0, 255.toByte)
    def run(dispose: Int): Seq[Array[Byte]] =
      Png.frames(Png.encodeApngRgba(8, 8, Seq(
        Png.ApngFrame(redFull, delayCs = 1),
        Png.ApngFrame(bluePatch, x = 2, y = 2, w = 4, h = 4,
          delayCs = 1, dispose = dispose, blend = 1),
        Png.ApngFrame(greenDot, x = 0, y = 0, w = 1, h = 1,
          delayCs = 1))))._3.map(_._2)
    val fs = run(dispose = 1) // background
    assert(fs.length === 3)
    // frame 1: OVER at alpha 128 — in (2,2): r = 255·127/255 = 127,
    // b = 255·128/255 = 128; outside: full red
    val in = 3 * (3 * 8 + 3)
    assert((fs(1)(in) & 0xff) === 127 && (fs(1)(in + 2) & 0xff) === 128)
    assert((fs(1)(0) & 0xff) === 255 && (fs(1)(2) & 0xff) === 0)
    // frame 2 after dispose=background: the patch rect cleared to
    // transparent black, the dot green, the rest red
    assert(fs(2)(in) === 0 && fs(2)(in + 2) === 0)
    assert((fs(2)(1) & 0xff) === 255, "the 1x1 dot is green")
    assert((fs(2)(3 * 7) & 0xff) === 255, "outside the rect stays red")
    // dispose=previous restores the pre-patch red instead
    val fp = run(dispose = 2)
    assert((fp(2)(in) & 0xff) === 255 && (fp(2)(in + 2) & 0xff) === 0,
      "dispose-previous restores the red under the patch")
    // OVER onto a TRANSPARENT destination lands the source EXACTLY
    // (the delta-frame shape: dispose-background then blend-over) —
    // the r18 review caught the dst-alpha-free formula rendering it
    // at half brightness
    val ft = Png.frames(Png.encodeApngRgba(8, 8, Seq(
      Png.ApngFrame(redFull, delayCs = 1, dispose = 1), // clears ALL
      Png.ApngFrame(bluePatch, x = 2, y = 2, w = 4, h = 4,
        delayCs = 1, blend = 1))))._3.map(_._2)
    assert((ft(1)(in + 2) & 0xff) === 255,
      "half-alpha blue over transparent must land at FULL blue")
    assert((ft(1)(in) & 0xff) === 0)
  }

  test("apng: sequence gaps, frame-count mismatch, and out-of-canvas rects refuse") {
    val fs = (0 until 3).map(k => (2, rgbFrame(k * 31L)))
    val good = Png.encodeApng(8, 8, fs)
    // acTL declares 3 frames; drop the last fcTL+fdAT pair by
    // re-encoding 2 frames under a patched acTL count
    val two = Png.encodeApng(8, 8, fs.take(2))
    // acTL data starts after sig(8) + IHDR(25): len(4)+type(4) → count at 41
    val bad = two.clone()
    bad(41 + 3) = 3 // declared 3, present 2 — and the CRC now lies
    intercept[IllegalArgumentException](Png.frames(bad))
    // fix the CRC so ONLY the count mismatch trips
    val crc = new java.util.zip.CRC32()
    crc.update(bad, 41 - 4, 4 + 8)
    val v = crc.getValue
    for (i <- 0 until 4) bad(41 + 8 + i) = ((v >>> (24 - 8 * i)) & 0xff).toByte
    val e = intercept[IllegalArgumentException](Png.frames(bad))
    assert(e.getMessage.contains("declares"))
    // truncation anywhere refuses via the CRC walk
    intercept[IllegalArgumentException](
      Png.frames(java.util.Arrays.copyOfRange(good, 0, good.length - 6)))
  }

  test("awebp: VP8X/ANMF round-trip with real VP8L frames, re-encode invariance, first-frame cap") {
    val fs = (0 until 3).map { k =>
      val pattern = Multimodal.splitmix64(k * 104729L + 7)
      (40 + k, Array.tabulate(64)(p =>
        if (((pattern >>> p) & 1L) == 1L) 0xffffffff else 0xff000000))
    }
    val bytes = Webp.encodeAnimatedVp8l(8, 8, fs)
    val md = Webp.meta(bytes)
    assert(md.animated && md.nFrames === 3 && md.width === 8)
    val (w, h, dec) = Webp.frames(bytes)
    assert(w === 8 && h === 8 && dec.length === 3)
    assert(dec.map(_._1) === Seq(40, 41, 42))
    dec.zip(fs).foreach { case ((_, rgb), (_, px)) =>
      for (p <- 0 until 64) {
        assert((rgb(3 * p) & 0xff) === ((px(p) >> 16) & 0xff))
        assert((rgb(3 * p + 2) & 0xff) === (px(p) & 0xff))
      }
    }
    // a different transform stack decodes identically
    val re = Webp.encodeAnimatedVp8l(8, 8, fs,
      Vp8l.EncOptions(subtractGreen = true, cacheBits = 4))
    assert(!java.util.Arrays.equals(bytes, re))
    assert(Webp.frames(re)._3.map(_._2.toSeq) === dec.map(_._2.toSeq))
    // Webp.decode on an animation = composited first frame only
    assert(Webp.decode(bytes)._3 === dec.head._2)
    // truncation refuses (the RIFF census), junk ANMF refuses
    intercept[IllegalArgumentException](
      Webp.frames(java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 4)))
    intercept[IllegalArgumentException](
      Webp.frames(Webp.encodeExtended(8, 8, nFrames = 2)))
  }

  test("awebp: alpha-blend and dispose-to-background composite per the flag byte; VP8X-wrapped stills decode; alpha round-trips VP8L") {
    // alpha round-trips through the VP8L alpha prefix code
    val alphaPx = Array.tabulate(64) { p =>
      ((64 + p * 3) << 24) | (0xff0000) | ((p * 5 & 0xff) << 8) | (p & 0xff)
    }
    val encA = Vp8l.encode(8, 8, alphaPx)
    assert(Vp8l.decode(encA, 0, encA.length)._4 === alphaPx)
    // VP8X-wrapped STILL lossless decodes through the container walk
    val px = Array.tabulate(64)(p =>
      0xff000000 | ((p * 7 & 0xff) << 16) | ((p * 11 & 0xff) << 8))
    val wrapped = Webp.encodeVp8xVp8l(8, 8, px)
    assert(Webp.meta(wrapped).format === "extended")
    assert(Webp.decode(wrapped)._3 === Webp.decode(
      Webp.encodeVp8lPixels(8, 8, px))._3)
    // compositing: full red; half-alpha blue 4x4 at (2,2) ALPHA-BLEND
    // with dispose-background; full-canvas transparent no-op frame so
    // the cleared rect shows
    val red = Array.fill(64)(0xffff0000.toInt)
    val bluePatch = Array.fill(16)((128 << 24) | 0xff)
    val clear = Array.fill(64)(0) // fully transparent, alpha-blend = no-op
    val bytes = Webp.encodeAnimatedVp8lFrames(8, 8, Seq(
      Webp.AwebpFrame(red),
      Webp.AwebpFrame(bluePatch, x = 2, y = 2, w = 4, h = 4,
        alphaBlend = true, disposeBackground = true),
      Webp.AwebpFrame(clear, alphaBlend = true)))
    val (_, _, fs) = Webp.frames(bytes)
    assert(fs.length === 3)
    val in = 3 * (3 * 8 + 3)
    // frame 1: OVER at alpha 128 over opaque red → r 127, b 128
    assert((fs(1)._2(in) & 0xff) === 127 && (fs(1)._2(in + 2) & 0xff) === 128)
    assert((fs(1)._2(0) & 0xff) === 255, "outside the rect stays red")
    // frame 2: the rect was disposed to transparent black; the
    // transparent alpha-blend frame must not repaint it
    assert(fs(2)._2(in) === 0 && fs(2)._2(in + 2) === 0)
    assert((fs(2)._2(0) & 0xff) === 255, "outside the rect still red")
  }

  test("cross-format animation matching: a GIF corpus index catches APNG/AWebP transcodes (and transcoded trims)") {
    val docs = (0L until 16L).toDF("doc_id")
    val media = Multimodal.xformatAnimMediaFromDocuments(docs)
      .localCheckpoint()
    val index = Multimodal.videoFrameIndexFromSets(
      Multimodal.animationFrameHashSets(media.filter(
        col("media_id") % 4 === 0 || col("media_id") % 4 === 3)))
      .localCheckpoint()
    def probe(m: Long) =
      Multimodal.animationAgainstIndex(Multimodal.animationFrameHashSets(
          media.filter(col("media_id") % 4 === m)), index)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
    val apng = probe(1L)
    val awebp = probe(2L)
    for (g <- 0L until 4L) {
      val nf = 3 + g % 3
      assert(apng((g * 4 + 1, g * 4)) === ((nf, nf)), s"apng g=$g")
      assert(awebp((g * 4 + 2, g * 4)) === ((nf, nf)), s"awebp g=$g")
    }
    assert(apng.size === 4 && awebp.size === 4,
      "independents must match nothing")
    // a transcoded TRIM (APNG re-encode of the base minus its last
    // frame) still matches with nf−1 frames in order — the clip-trim
    // recall survives the container change
    val (w, h, fs) = graft.ops.Png.frames(
      media.filter(col("media_id") === 1L).collect()(0).getAs[Array[Byte]](1))
    val trimmed = graft.ops.Png.encodeApng(w, h,
      fs.dropRight(1).map { case (_, rgb) => (4, rgb) })
    val trimMatch = Multimodal.animationAgainstIndex(
        Multimodal.animationFrameHashSets(
          Seq((5000L, trimmed)).toDF("media_id", "bytes")), index)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(trimMatch.toSeq === Seq((0L, fs.length - 1L, fs.length - 1L)))
  }

  test("apng + awebp ride the video dedup stack: trim pairs, reversed collage excluded by minLisFrac") {
    val docs = (0L until 16L).toDF("doc_id")
    for ((media, pairsOf) <- Seq(
        (Multimodal.apngDedupMediaFromDocuments(docs),
          (df: org.apache.spark.sql.DataFrame, f: Double) =>
            Multimodal.animationNearDupPairs(df, minLisFrac = f)),
        (Multimodal.awebpDedupMediaFromDocuments(docs),
          (df: org.apache.spark.sql.DataFrame, f: Double) =>
            Multimodal.animationNearDupPairs(df, minLisFrac = f)))) {
      val pairs = pairsOf(media, 0.0)
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
    }
    // reversed-collage exclusion on the APNG path (the GIF semantics,
    // inherited through the one shared matcher body)
    val media = Multimodal.apngDedupMediaFromDocuments(docs)
    val blobs = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val (w, h, fs) = Png.frames(blobs(0L))
    assert(fs.length === 3)
    val rev = Png.encodeApng(w, h, fs.reverse.map { case (_, rgb) =>
      (4, rgb) })
    val withRev = media.unionByName(
      Seq((1000L, rev)).toDF("media_id", "bytes"))
    val revPairs = Multimodal.animationNearDupPairs(withRev)
      .filter(col("id_b") === 1000L)
      .select("id_a", "n_matched", "lis").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(revPairs(0L) === ((3L, 1L)), "reversed animation: full match, lis 1")
    assert(Multimodal.animationNearDupPairs(withRev, minLisFrac = 0.8)
      .filter(col("id_b") === 1000L).count() === 0L,
      "the collage must not survive the keep policy")
  }

  // ---- round 19: tRNS transparency in the compositing path ----

  private def pngChunk(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val len = payload.length
    out.write((len >>> 24) & 0xff); out.write((len >>> 16) & 0xff)
    out.write((len >>> 8) & 0xff); out.write(len & 0xff)
    val tb = typ.getBytes("US-ASCII")
    out.write(tb, 0, 4)
    out.write(payload, 0, payload.length)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(payload)
    val c = crc.getValue
    out.write(((c >>> 24) & 0xff).toInt); out.write(((c >>> 16) & 0xff).toInt)
    out.write(((c >>> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
    out.toByteArray
  }

  /** Insert a raw chunk right after IHDR (offset 8 + 25). */
  private def insertAfterIhdr(png: Array[Byte], chunk: Array[Byte]): Array[Byte] =
    png.take(33) ++ chunk ++ png.drop(33)

  test("apng: palette tRNS alpha feeds blend OVER compositing") {
    // palette: red, blue, green, white; tRNS: red opaque, blue fully
    // transparent, green opaque, white at alpha 100
    val palette = Array[Byte](255.toByte, 0, 0, 0, 0, 255.toByte,
      0, 255.toByte, 0, 255.toByte, 255.toByte, 255.toByte)
    val trns = Array[Byte](255.toByte, 0, 255.toByte, 100)
    val f0 = Array.fill[Byte](64)(0) // all red, opaque
    val f1 = Array.tabulate[Byte](16)(i => (i / 4 match {
      case 0 => 1; case 1 => 2; case 2 => 3; case _ => 0
    }).toByte) // rows: blue(transparent), green, white@100, red
    val bytes = Png.encodeApngPalette(8, 8, palette, trns, Seq(
      Png.ApngIdxFrame(f0, delayCs = 1),
      Png.ApngIdxFrame(f1, x = 2, y = 2, w = 4, h = 4, delayCs = 1,
        blend = 1)))
    val (_, _, fs) = Png.frames(bytes)
    assert(fs.length === 2)
    def px(f: Array[Byte], x: Int, y: Int): Seq[Int] = {
      val p = (y * 8 + x) * 3
      Seq(f(p) & 0xff, f(p + 1) & 0xff, f(p + 2) & 0xff)
    }
    val c = fs(1)._2
    assert(px(c, 2, 2) === Seq(255, 0, 0),
      "fully-transparent palette entry must leave the red canvas")
    assert(px(c, 2, 3) === Seq(0, 255, 0),
      "green row is opaque (within tRNS, alpha 255)")
    assert(px(c, 2, 4) === Seq(255, 100, 100),
      "alpha-100 white OVER red blends by the spec formula")
    assert(px(c, 2, 5) === Seq(255, 0, 0), "red row stays red")
    assert(px(c, 0, 0) === Seq(255, 0, 0), "outside the rect untouched")
    // entries past the tRNS payload are opaque: same stream with a
    // 1-entry tRNS — the green/white rows now land at full opacity
    val bytes2 = Png.encodeApngPalette(8, 8, palette,
      Array[Byte](255.toByte), Seq(
        Png.ApngIdxFrame(f0, delayCs = 1),
        Png.ApngIdxFrame(f1, x = 2, y = 2, w = 4, h = 4, delayCs = 1,
          blend = 1)))
    val c2 = Png.frames(bytes2)._3(1)._2
    assert(px(c2, 2, 2) === Seq(0, 0, 255),
      "blue beyond the 1-entry tRNS payload is opaque")
    assert(px(c2, 2, 4) === Seq(255, 255, 255),
      "white beyond the payload lands opaque")
  }

  test("apng: truecolour tRNS sample key feeds blend OVER") {
    // frame 0: half red / half green; frame 1: all red, blend OVER,
    // with tRNS keying pure red out — the canvas must keep frame 0
    val f0 = Array.tabulate(64 * 3)(i => (i % 3 match {
      case 0 => if ((i / 3) % 8 < 4) 255 else 0
      case 1 => if ((i / 3) % 8 < 4) 0 else 255
      case _ => 0
    }).toByte)
    val allRed = Array.tabulate(64 * 3)(i =>
      (if (i % 3 == 0) 255 else 0).toByte)
    val base = Png.encodeApng(8, 8, Seq((1, f0), (1, allRed)))
    // surgery: insert tRNS (16-bit keys: R=255, G=0, B=0) after IHDR
    // and flip frame 1's fcTL blend byte to OVER (payload byte 25)
    val trns = Array[Byte](0, 255.toByte, 0, 0, 0, 0)
    val withTrns = insertAfterIhdr(base, pngChunk("tRNS", trns))
    def patchSecondFctlBlend(png: Array[Byte]): Array[Byte] = {
      // locate chunks, patch the SECOND fcTL's last payload byte, fix CRC
      var pos = 8
      var seen = 0
      while (pos + 8 <= png.length) {
        val len = ((png(pos) & 0xff) << 24) | ((png(pos + 1) & 0xff) << 16) |
          ((png(pos + 2) & 0xff) << 8) | (png(pos + 3) & 0xff)
        val typ = new String(png, pos + 4, 4, "US-ASCII")
        if (typ == "fcTL") {
          seen += 1
          if (seen == 2) {
            val out = png.clone()
            out(pos + 8 + 25) = 1 // blend_op = OVER
            val crc = new java.util.zip.CRC32()
            crc.update(out, pos + 4, 4 + len)
            val c = crc.getValue
            out(pos + 8 + len) = ((c >>> 24) & 0xff).toByte
            out(pos + 8 + len + 1) = ((c >>> 16) & 0xff).toByte
            out(pos + 8 + len + 2) = ((c >>> 8) & 0xff).toByte
            out(pos + 8 + len + 3) = (c & 0xff).toByte
            return out
          }
        }
        pos += 8 + len + 4
      }
      fail("no second fcTL found")
    }
    val patched = patchSecondFctlBlend(withTrns)
    val (_, _, fs) = Png.frames(patched)
    assert(fs.length === 2)
    assert(fs(1)._2.toSeq === f0.toSeq,
      "an all-keyed-out frame OVER the canvas must leave it unchanged")
    // without tRNS the same OVER frame is opaque red everywhere
    val noKey = Png.frames(patchSecondFctlBlend(base))._3
    assert(noKey(1)._2.toSeq === allRed.toSeq)
  }

  test("apng: tRNS structural refusals") {
    val palette = Array[Byte](255.toByte, 0, 0, 0, 0, 255.toByte)
    val f0 = Array.fill[Byte](64)(0)
    // payload longer than the palette
    val tooLong = Png.encodeApngPalette(8, 8, palette,
      Array[Byte](255.toByte, 0, 7), Seq(Png.ApngIdxFrame(f0)))
    val e1 = intercept[IllegalArgumentException](Png.frames(tooLong))
    assert(e1.getMessage.contains("exceeds"))
    // tRNS with an alpha colour type (6) is prohibited
    val rgba = Array.tabulate(64 * 4)(i =>
      (if (i % 4 == 3) 255 else 40).toByte)
    val t6 = insertAfterIhdr(
      Png.encodeApngRgba(8, 8, Seq(Png.ApngFrame(rgba))),
      pngChunk("tRNS", Array[Byte](0, 0)))
    val e2 = intercept[IllegalArgumentException](Png.frames(t6))
    assert(e2.getMessage.contains("alpha colour type"))
    // duplicate tRNS refuses
    val dup = insertAfterIhdr(Png.encodeApngPalette(8, 8, palette,
      Array[Byte](255.toByte), Seq(Png.ApngIdxFrame(f0))),
      pngChunk("tRNS", Array[Byte](0)))
    val e3 = intercept[IllegalArgumentException](Png.frames(dup))
    assert(e3.getMessage.contains("multiple tRNS"))
  }
}
