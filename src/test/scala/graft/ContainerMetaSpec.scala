package graft

import org.apache.spark.sql.functions._

import graft.ops.{Mp3, Mp4, Multimodal}

/** The decodeless MP3/MP4 metadata walkers (round 17): strict header
  * walks against the public MPEG frame-header layout and ISO-BMFF box
  * structure, truncation refusal, classifyMedia routing, and the
  * undecodable-route guarantee (an MP3/MP4 blob keeps its exact
  * duplicates through routedMediaDedup even with no committed
  * decoder). */
class ContainerMetaSpec extends SparkSpec {
  import spark.implicits._

  test("mp3: frame-header walk across versions/layers, VBR, ID3 tags") {
    // MPEG-1 Layer III, CBR 128 kbps @ 44100: frame = 144·128000/44100
    // = 417 bytes (the canonical pub-quiz number)
    val b = Mp3.encodeFrames(3, 1, _ => 9, 0, nFrames = 5)
    assert(b.length === 417 * 5)
    val m = Mp3.meta(b)
    assert(m === Mp3.Meta("1", 3, 44100, 128, vbr = false, nFrames = 5,
      durationMs = 5L * 1152 * 1000 / 44100, hasId3v2 = false,
      hasId3v1 = false))
    // MPEG-2 Layer III @ 16000 Hz: 576 samples/frame
    val m2 = Mp3.meta(Mp3.encodeFrames(2, 1, _ => 5, 2, nFrames = 4))
    assert(m2.version === "2" && m2.sampleRate === 16000)
    assert(m2.durationMs === 4L * 576 * 1000 / 16000)
    // MPEG-2.5 + both tags + VBR
    val m25 = Mp3.meta(Mp3.encodeFrames(0, 1, i => 1 + (3 + i) % 13, 1,
      nFrames = 6, id3v2PayloadLen = 200, id3v1 = true, seed = 7))
    assert(m25.version === "2.5" && m25.sampleRate === 12000)
    assert(m25.vbr && m25.hasId3v2 && m25.hasId3v1 && m25.nFrames === 6)
    assert(m25.bitrateKbps === 32) // first frame: index 4 in the V2 table
    // Layer I frame arithmetic (slots of 4 bytes)
    val l1 = Mp3.meta(Mp3.encodeFrames(3, 3, _ => 4, 0, nFrames = 2))
    assert(l1.layer === 1 && l1.durationMs === 2L * 384 * 1000 / 44100)
    // Layer II
    assert(Mp3.meta(Mp3.encodeFrames(3, 2, _ => 4, 1, nFrames = 2)).layer === 2)
  }

  test("mp3: truncation, junk, free-format, and desync refuse loudly") {
    val good = Mp3.encodeFrames(3, 1, _ => 9, 0, nFrames = 3)
    intercept[IllegalArgumentException](
      Mp3.meta(java.util.Arrays.copyOfRange(good, 0, good.length - 3)))
    intercept[IllegalArgumentException](Mp3.meta("not audio".getBytes))
    // free-format bitrate (index 0) refuses
    val free = good.clone()
    free(2) = (free(2) & 0x0f).toByte // zero the bitrate index bits
    intercept[IllegalArgumentException](Mp3.meta(free))
    // a mid-stream sample-rate change is a desync, not a new stream
    val twoRates = Mp3.encodeFrames(3, 1, _ => 9, 0, 1) ++
      Mp3.encodeFrames(3, 1, _ => 9, 1, 1)
    intercept[IllegalArgumentException](Mp3.meta(twoRates))
    // ID3v2 whose declared size overruns the file
    val id3 = Mp3.encodeFrames(3, 1, _ => 9, 0, 1, id3v2PayloadLen = 50)
    intercept[IllegalArgumentException](
      Mp3.meta(java.util.Arrays.copyOfRange(id3, 0, 30)))
  }

  test("mp4: box walk (brand, duration, tracks, codecs), largesize chaining, truncation") {
    val b = Mp4.encode("isom", 512, 600, 3000, Some("avc1"), Some("mp4a"),
      mdatLen = 64, seed = 3)
    val m = Mp4.meta(b)
    assert(m === Mp4.Meta("isom", 512, 600, 5000, 2, "avc1", "mp4a",
      hasMdat = true))
    val a = Mp4.meta(Mp4.encode("M4A ", 0, 1000, 2500, None, Some("mp4a")))
    assert(a.nTracks === 1 && a.videoCodec === "" && a.audioCodec === "mp4a")
    assert(a.durationMs === 2500 && !a.hasMdat)
    // truncation anywhere inside moov refuses (sizes chain exactly)
    intercept[IllegalArgumentException](
      Mp4.meta(java.util.Arrays.copyOfRange(b, 0, b.length / 2)))
    intercept[IllegalArgumentException](Mp4.meta("no boxes here".getBytes))
    // a file NOT leading with ftyp refuses
    intercept[IllegalArgumentException](
      Mp4.meta(java.util.Arrays.copyOfRange(b, 24, b.length)))
    // 64-bit largesize on mdat parses (size=1 + u64)
    val mdat = b.slice(b.length - 72, b.length)
    assert(new String(mdat, 4, 4, "ISO-8859-1") === "mdat")
    val large = b.slice(0, b.length - 72) ++
      Array[Byte](0, 0, 0, 1) ++ "mdat".getBytes("ISO-8859-1") ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 80) ++ mdat.drop(8)
    assert(Mp4.meta(large).hasMdat)
  }

  test("wav/y4m decodeless meta: declared structure reported, truncation refused, frames stepped not read") {
    val wav = Multimodal.Wav.encode(16000, Array.tabulate(800)(_.toShort))
    val wm = Multimodal.Wav.meta(wav)
    assert(wm === Multimodal.Wav.Meta(16000, 1, 16, 800, 50))
    intercept[IllegalArgumentException](
      Multimodal.Wav.meta(java.util.Arrays.copyOfRange(wav, 0, 30)))
    // meta REPORTS what decode refuses (stereo/24-bit) — cost routing
    val stereo = wav.clone()
    stereo(22) = 2 // nChannels in the canonical fmt layout
    assert(Multimodal.Wav.meta(stereo).nChannels === 2)
    intercept[IllegalArgumentException](Multimodal.Wav.decode(stereo))
    val frames = (0 until 5).map(_ => new Array[Byte](6 * 4 * 3 / 2))
    val y4m = Multimodal.Y4m.encode(6, 4, 25, frames)
    val ym = Multimodal.Y4m.meta(y4m)
    assert(ym === Multimodal.Y4m.Meta(6, 4, 25, 1, 5, 200))
    intercept[IllegalArgumentException](
      Multimodal.Y4m.meta(java.util.Arrays.copyOfRange(y4m, 0, y4m.length - 3)))
    // the unified dispatcher: one row per blob, -1 sentinels, unknown
    // survives
    val rows = Multimodal.mediaMetadata(Seq(
        (1L, wav), (2L, y4m), (3L, "???".getBytes),
        (4L, java.util.Arrays.copyOfRange(wav, 0, 30)))
      .toDF("media_id", "bytes")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getLong(5), r.getInt(6))).toMap
    assert(rows(1L) === (("audio", "wav", -1, -1, 50L, 16000)))
    assert(rows(2L) === (("video", "y4m", 6, 4, 200L, -1)))
    assert(rows(3L) === (("unknown", "unknown", -1, -1, -1L, -1)))
    assert(!rows.contains(4L)) // truncated: dropped, not misreported
  }

  test("webp: container walk across lossy/lossless/extended, alpha/animation census, truncation refusal") {
    import graft.ops.Webp
    val lossy = Webp.meta(Webp.encodeLossy(320, 240))
    assert(lossy === Webp.Meta(320, 240, "lossy", hasAlpha = false,
      animated = false, nFrames = 1, nChunks = 1))
    val ll = Webp.meta(Webp.encodeLossless(100, 50, alphaHint = true))
    assert(ll.format === "lossless" && ll.width === 100 && ll.height === 50)
    assert(ll.hasAlpha)
    val anim = Webp.meta(Webp.encodeExtended(640, 480, alpha = true,
      nFrames = 3, frameDurMs = 50))
    assert(anim === Webp.Meta(640, 480, "extended", hasAlpha = true,
      animated = true, nFrames = 3, nChunks = 4,
      totalDurationMs = 150L))
    val still = Webp.meta(Webp.encodeExtended(12, 9))
    assert(still.format === "extended" && !still.animated && still.nFrames === 1)
    val good = Webp.encodeLossy(32, 24)
    intercept[IllegalArgumentException](
      Webp.meta(java.util.Arrays.copyOfRange(good, 0, good.length - 3)))
    intercept[IllegalArgumentException](Webp.meta("RIFFxxxxWAVE".getBytes))
    // a garbled VP8 start code refuses (the one in-chunk structural check)
    val bad = good.clone()
    bad(12 + 8 + 3) = 0x00
    intercept[IllegalArgumentException](Webp.meta(bad))
  }

  test("classifyMedia routes MP3 (ID3 + bare sync) to audio and ftyp to video; exact dedup survives") {
    val docs = (0L until 8L).toDF("doc_id")
    val mp3Tagged = Mp3.encodeFrames(3, 1, _ => 9, 0, 2, id3v2PayloadLen = 10)
    val mp3Bare = Mp3.encodeFrames(2, 1, _ => 5, 1, 2)
    val mp4 = Mp4.encode("mp42", 1, 600, 1200, Some("hev1"), Some("mp4a"), 16)
    val media = Seq((1L, mp3Tagged), (2L, mp3Bare), (3L, mp4),
      (11L, mp3Tagged), (13L, mp4)).toDF("media_id", "bytes")
    val cls = Multimodal.classifyMedia(media).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(cls(1L) === "audio" && cls(2L) === "audio")
    assert(cls(3L) === "video" && cls(13L) === "video")
    // the routed path keeps byte-identical MP3/MP4 copies as exact
    // pairs even though neither container decodes (the undecodable
    // branch) — no committed decoder, no lost duplicates
    val pairs = Multimodal.routedMediaDedup(media)
      .select("id_a", "id_b", "kind", "modality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(pairs === Set((1L, 11L, "exact_blob", "audio"),
      (3L, 13L, "exact_blob", "video")))
  }

  test("flac: STREAMINFO walk, block census, truncation/structure refusal (r18)") {
    import graft.ops.Flac
    val b = Flac.encode(44100, 2, 16, 441000L, vorbisCommentLen = 12,
      seekPoints = 2, paddingLen = 30)
    val m = Flac.meta(b)
    assert(m === Flac.Meta(44100, 2, 16, 441000L, 10000L, 4, 4096, 4096,
      hasSeekTable = true, hasVorbisComment = true))
    // 20-bit sample rate and 36-bit total exercise the odd-width fields
    val hi = Flac.meta(Flac.encode(655349, 8, 24, (1L << 35) + 7))
    assert(hi.sampleRate === 655349 && hi.nChannels === 8)
    assert(hi.bitsPerSample === 24 && hi.totalSamples === (1L << 35) + 7)
    // truncation inside the metadata chain refuses
    intercept[IllegalArgumentException](
      Flac.meta(java.util.Arrays.copyOfRange(b, 0, 20)))
    // a stream with no frame sync after the chain refuses
    val noFrames = Flac.encode(8000, 1, 16, 100L, frameLen = 0)
    intercept[IllegalArgumentException](Flac.meta(noFrames))
    // a non-STREAMINFO first block refuses
    val wrongFirst = b.clone(); wrongFirst(4) = 1
    intercept[IllegalArgumentException](Flac.meta(wrongFirst))
    intercept[IllegalArgumentException](Flac.meta("not flac".getBytes))
  }

  test("ID3v2-tagged FLAC re-sniffs as flac, not mp3 (r19, advisor)") {
    import graft.ops.Flac
    def id3(payloadLen: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("ID3".getBytes("US-ASCII"), 0, 3)
      out.write(4); out.write(0); out.write(0) // v2.4, no flags
      var i = 3
      while (i >= 0) { out.write((payloadLen >>> (7 * i)) & 0x7f); i -= 1 }
      for (j <- 0 until payloadLen) out.write(j & 0x7f)
      out.toByteArray
    }
    val flac = Flac.encode(22050, 1, 16, 22050L)
    val tagged = id3(40) ++ flac
    // the unified sniff re-sniffs past the tag; meta walks from there
    val media = Seq((1L, tagged)).toDF("media_id", "bytes")
    val row = Multimodal.mediaMetadata(media).collect().head
    assert(row.getString(1) === "audio" && row.getString(2) === "flac")
    assert(row.getLong(5) === 1000L && row.getInt(6) === 22050)
    val m = Flac.meta(tagged)
    assert(m.sampleRate === 22050 && m.totalSamples === 22050L)
    // a MALFORMED tag (non-syncsafe size) keeps the old mp3 commit and
    // drops at Mp3.meta's strict walk — never a silent flac guess
    val badTag = id3(40) ++ flac
    badTag(6) = 0x80.toByte
    assert(Multimodal.mediaMetadata(
      Seq((2L, badTag)).toDF("media_id", "bytes")).count() === 0L)
    // an ID3-tagged true mp3 still sniffs mp3 (the re-sniff only
    // reroutes when fLaC magic follows the tag)
    val mp3 = graft.ops.Mp3.encodeFrames(3, 1, _ => 9, 0, 20,
      id3v2PayloadLen = 16)
    val mrow = Multimodal.mediaMetadata(
      Seq((3L, mp3)).toDF("media_id", "bytes")).collect().head
    assert(mrow.getString(2) === "mp3")
  }

  test("ogg: CRC-verified page walk, vorbis/opus/unknown codecs, truncation/sequence refusal (r18)") {
    import graft.ops.Ogg
    val v = Ogg.meta(Ogg.encode("vorbis", 44100, 2, 88200L, nAudioPages = 3))
    assert(v === Ogg.Meta("vorbis", 44100, 2, 4, 88200L, 2000L))
    val o = Ogg.meta(Ogg.encode("opus", 48000, 1, 48312L, nAudioPages = 2))
    assert(o.codec === "opus" && o.sampleRate === 48000)
    assert(o.durationMs === (48312L - 312) * 1000 / 48000)
    // an unknown codec still walks (framing is codec-independent) and
    // reports sentinels — never a refusal
    val u = Ogg.meta(Ogg.encode("junk", 0, 0, 5000L))
    assert(u.codec === "unknown" && u.sampleRate === -1 && u.nChannels === -1)
    assert(u.durationMs === -1L && u.lastGranule === 5000L)
    // truncation refuses (tiling AND CRC break)
    val good = Ogg.encode("vorbis", 8000, 1, 4000L)
    intercept[IllegalArgumentException](
      Ogg.meta(java.util.Arrays.copyOfRange(good, 0, good.length - 5)))
    // a single flipped payload bit fails the page CRC
    val rot = good.clone(); rot(rot.length - 1) = (rot(rot.length - 1) ^ 1).toByte
    intercept[IllegalArgumentException](Ogg.meta(rot))
    // a missing EOS refuses (cut exactly at a page boundary)
    val twoPages = Ogg.encode("vorbis", 8000, 1, 4000L, nAudioPages = 2,
      payloadLen = 10)
    val lastPageLen = 27 + 1 + 10
    intercept[IllegalArgumentException](Ogg.meta(
      java.util.Arrays.copyOfRange(twoPages, 0, twoPages.length - lastPageLen)))
    intercept[IllegalArgumentException](Ogg.meta("OggX???".getBytes))
  }

  test("flac/ogg ride the unified pre-pass and both dispatches agree (r18)") {
    import graft.ops.{Flac, Ogg}
    val flac = Flac.encode(16000, 1, 16, 16000L)
    val ogg = Ogg.encode("vorbis", 8000, 1, 8000L)
    val media = Seq((1L, flac), (2L, ogg), (10L, flac), (20L, ogg))
      .toDF("media_id", "bytes")
    val cls = Multimodal.classifyMedia(media).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(cls.values.toSet === Set("audio"))
    val rows = Multimodal.mediaMetadata(media).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getLong(5), r.getInt(6)))).toMap
    assert(rows(1L) === (("audio", "flac", 1000L, 16000)))
    assert(rows(2L) === (("audio", "ogg", 1000L, 8000)))
    // the gate's duration axis applies: both clips are exactly 1 s
    val gate = Multimodal.mediaMetaGate(media, minDurationMs = 2000L)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(gate(1L) === "dropped_tiny" && gate(2L) === "dropped_tiny")
    // exact dedup survives in the audio cohort (no committed decoder)
    val pairs = Multimodal.routedMediaDedup(media)
      .select("id_a", "id_b", "kind", "modality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(pairs === Set((1L, 10L, "exact_blob", "audio"),
      (2L, 20L, "exact_blob", "audio")))
  }

  test("routing parity (r18): bare Layer I/II syncs route audio in BOTH dispatches; non-WAVE RIFF and reserved syncs stay kept as unknown") {
    // a bare Layer II stream (verBits=3 layerBits=2 → second byte
    // 0xFC/0xFD — absent from the pre-r18 classifyMedia list)
    val layer2 = Mp3.encodeFrames(3, 2, _ => 4, 1, nFrames = 2)
    assert((layer2(1) & 0xff) === 0xfd)
    // a RIFF container that is neither WEBP nor WAVE (an AVI shape)
    val avi = "RIFF".getBytes ++ Array[Byte](8, 0, 0, 0) ++
      "AVI LIST".getBytes
    // a sync byte pair with a RESERVED version code (0xFF 0xE9: ver=01)
    val reserved = Array(0xff.toByte, 0xe9.toByte) ++
      Array.tabulate(40)(_.toByte)
    val media = Seq((1L, layer2), (2L, avi), (3L, reserved))
      .toDF("media_id", "bytes")
    // the native-column dispatch and the Scala-side gate dispatch agree
    val cls = Multimodal.classifyMedia(media).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(cls === Map(1L -> "audio", 2L -> "unknown", 3L -> "unknown"))
    val gate = Multimodal.mediaMetaGate(media).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getString(3)))).toMap
    assert(gate(1L) === (("audio", "kept")))
    // the pre-r18 bug: these two sniffed wav/mp3, failed their strict
    // walks, and dropped as malformed — a pre-pass must never silently
    // drop what it cannot read
    assert(gate(2L) === (("unknown", "kept")))
    assert(gate(3L) === (("unknown", "kept")))
    // mediaMetadata keeps them as unknown rows, and parses the Layer II
    // stream (Mp3.meta covers Layers I-III)
    val rows = Multimodal.mediaMetadata(media).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(rows === Map(1L -> (("audio", "mp3")),
      2L -> (("unknown", "unknown")), 3L -> (("unknown", "unknown"))))

    // every MediaFormat entry, one encoded blob each, plus the edge
    // blobs: all three dispatches — the Scala-side sniff, the native
    // classifyMedia columns and the mediaMetadata pre-pass — agree on
    // each blob's modality. A format added to the table without a blob
    // here fails the coverage assert.
    import graft.ops.{Flac, Gif, Jpeg, MediaFormat, Ogg, Png, Webp}
    val rgb = Array.tabulate(4 * 4 * 3)(i => (i * 7).toByte)
    val pcm = Array.tabulate(400)(i => ((i % 50) * 100).toShort)
    val id3Flac = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("ID3".getBytes("US-ASCII"), 0, 3)
      out.write(4); out.write(0); out.write(0) // v2.4, no flags
      out.write(Array[Byte](0, 0, 0, 20), 0, 4) // syncsafe size 20
      out.write(new Array[Byte](20), 0, 20)
      out.toByteArray ++ Flac.encode(22050, 1, 16, 22050L)
    }
    val blobs: Seq[(String, Array[Byte])] = Seq(
      "jpeg" -> Jpeg.encodeGray(8, 8, Array.fill(64)(90.toByte)),
      "png" -> Png.encode(4, 4, rgb),
      "gif" -> Gif.encode(4, 4, Array.tabulate(12)(i => (i * 20).toByte),
        Seq(Gif.EncFrame(Array.tabulate(16)(i => (i % 4).toByte)))),
      "webp" -> Webp.encodeVp8lPixels(4, 4, Array.fill(16)(0xff336699)),
      "ppm" -> Multimodal.Ppm.encode(4, 4, rgb),
      "qoi" -> Multimodal.Qoi.encode(4, 4, rgb),
      "mp3" -> Mp3.encodeFrames(3, 1, _ => 9, 0, nFrames = 2),
      "flac" -> Flac.encodePcm(16000, 1, 16, pcm.map(_.toInt)),
      "ogg" -> Ogg.encode("vorbis", 44100, 1, 44100L),
      "wav" -> Multimodal.Wav.encode(16000, pcm),
      "mp4" -> Mp4.encode("isom", 0L, 600L, 1200L, video = Some("avc1"),
        audio = Some("mp4a"), mdatLen = 20, seed = 1L),
      "y4m" -> Multimodal.Y4m.encode(4, 4, 25,
        Seq(Array.fill(4 * 4 * 3 / 2)(77.toByte))),
      "id3-tagged flac" -> id3Flac,
      "bare-RIFF AVI" -> avi,
      "reserved mp3 sync" -> reserved,
      "1-byte blob" -> Array[Byte](0x47))
    val sniffed = blobs.map { case (_, b) => MediaFormat.sniff(b) }
    assert(sniffed.take(MediaFormat.all.length).map(_.map(_.name)) ===
      MediaFormat.all.map(f => Some(f.name)),
      "one blob per table entry, in table order")
    assert(sniffed.drop(MediaFormat.all.length).map(_.map(_.name)) ===
      Seq(Some("flac"), None, None, None))
    val all = blobs.zipWithIndex.map { case ((_, b), i) => (i.toLong, b) }
      .toDF("media_id", "bytes")
    val native = Multimodal.classifyMedia(all).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val pre = Multimodal.mediaMetadata(all, skipMalformed = false).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    blobs.zip(sniffed).zipWithIndex.foreach { case (((name, _), fmt), i) =>
      val scala = fmt.fold("unknown")(_.modality)
      assert(native(i.toLong) === scala, s"classifyMedia vs sniff: $name")
      assert(pre(i.toLong) === scala, s"mediaMetadata vs sniff: $name")
    }
  }

  test("the meta gate classifies junk at header cost and gated junk is NEVER pixel-decoded (accumulator-proven)") {
    val docs = (0L until 32L).toDF("doc_id")
    val junk = Multimodal.junkImageMediaFromDocuments(docs)
      .select((col("media_id") + lit(1000000L)).as("media_id"), col("bytes"))
    val media = Multimodal.jpegDedupMediaFromDocuments(docs)
      .unionByName(junk).localCheckpoint()
    // collect every update of the decode-attempt accumulator
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        sc.stageInfo.accumulables.values
          .filter(_.name.contains("graft.image_decode_attempts"))
          .foreach(a => seen.addAndGet(
            a.value.map(_.toString.toLong).getOrElse(0L)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = Multimodal.gatedImageDedup(media, minSide = 8,
        maxPixels = 1000000L).collect()
      // junk keeps exact duplicates (per-group stars), kept cohort
      // pairs perceptually — the m_gated_dedup structure
      val exact = pairs.filter(_.getString(2) == "exact_blob")
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact === (0L until 8L).flatMap(g =>
        (1L to 3L).map(m => (1000000L + g * 4, 1000000L + g * 4 + m))).toSet)
      assert(pairs.count(_.getString(2) == "perceptual") === 8 * 3)
      // listener events drain asynchronously
      var waited = 0
      while (seen.get() < 32 && waited < 50) { Thread.sleep(100); waited += 1 }
      // the 32 kept JPEGs decode exactly once; the 32 junk blobs never
      // reach a pixel decode (header gate only)
      assert(seen.get() === 32L,
        s"decode attempts ${seen.get()} != kept 32 — the gate leaked " +
          "blobs into (or out of) the pixel decoder")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("gatedMediaDedup (r18): one header walk gates every modality; decode attempts ≡ kept PER MODALITY (accumulator-proven); gated junk keeps exact stars in its modality") {
    val docs = (0L until 32L).toDF("doc_id")
    def off(df: org.apache.spark.sql.DataFrame, o: Long) = df.select(
      (col("media_id") + lit(o)).as("media_id"), col("bytes"))
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
      .unionByName(off(Multimodal.dedupAudioMediaFromDocuments(docs), 2000000L))
      .unionByName(off(Multimodal.dedupVideoMediaFromDocuments(docs), 4000000L))
      .unionByName(Multimodal.junkMediaFixture(docs))
      .localCheckpoint()
    val seen = scala.collection.mutable.Map(
      "image" -> new java.util.concurrent.atomic.AtomicLong(0),
      "audio" -> new java.util.concurrent.atomic.AtomicLong(0),
      "video" -> new java.util.concurrent.atomic.AtomicLong(0))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        sc.stageInfo.accumulables.values.foreach { a =>
          seen.foreach { case (mod, ctr) =>
            if (a.name.exists(_.contains(s"graft.${mod}_decode_attempts")))
              ctr.addAndGet(a.value.map(_.toString.toLong).getOrElse(0L))
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = Multimodal.gatedMediaDedup(media, minSide = 8,
          maxPixels = 1000000L, minDurationMs = 5L, maxDurationMs = 5000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
        .toSet
      // junk keeps per-group exact stars in its magic-derived modality
      for ((offset, mod) <- Seq((16000000L, "image"), (18000000L, "audio"),
          (20000000L, "video")); g <- 0L until 8L; m <- 1L to 3L)
        assert(pairs.contains((offset + g * 4, offset + g * 4 + m,
          "exact_blob", mod)), s"missing junk star at $offset g=$g m=$m")
      // kept cohorts pair perceptually exactly as the ungated routing
      for (g <- 0L until 8L)
        assert(pairs.contains((g * 4, g * 4 + 1, "perceptual", "image")) &&
          pairs.contains((2000000L + g * 4, 2000000L + g * 4 + 1,
            "perceptual", "audio")) &&
          pairs.contains((4000000L + g * 4, 4000000L + g * 4 + 1,
            "perceptual", "video")))
      // no junk blob ever reaches a decode: attempts == kept, per
      // modality (32 each; the 96 junk blobs decode nowhere)
      var waited = 0
      while (seen.values.map(_.get()).sum < 96 && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      for ((mod, ctr) <- seen)
        assert(ctr.get() === 32L,
          s"$mod decode attempts ${ctr.get()} != kept 32 — the gate " +
            "leaked blobs into (or out of) the decoder")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("mp3Metadata / mp4Metadata drop truncated blobs under DROPMALFORMED (the gate fixtures, in-process)") {
    val docs = (0L until 40L).toDF("doc_id")
    val mp3Ids = Multimodal.mp3Metadata(
        Multimodal.mp3MediaFromDocuments(docs))
      .select("media_id").as[Long].collect().toSet
    assert(mp3Ids === (0L until 40L).filter(_ % 17 != 0).toSet)
    val mp4Rows = Multimodal.mp4Metadata(
        Multimodal.mp4MediaFromDocuments(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(mp4Rows.keySet === (0L until 40L).filter(_ % 17 != 0).toSet)
    // spot-check one row against the closed form
    val r6 = mp4Rows(6L)
    assert(r6.getString(1) === "isom") // 6 % 3 = 0
    assert(r6.getLong(2) === 600L * 3) // timescale
    assert(r6.getLong(3) === (1000L + 6) * 1000 / 1800) // duration_ms
    assert(r6.getInt(4) === 2 && r6.getString(5) === "avc1")
  }
}
