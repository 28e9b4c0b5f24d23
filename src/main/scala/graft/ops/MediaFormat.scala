package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, substring, when}

import graft.ops.Multimodal.{Ppm, Qoi, Wav, Y4m}

/** One media container the engine recognizes: its name and modality,
  * its magic, its decodeless header walker, and whichever decoders it
  * has. [[MediaFormat.all]] is the ONE list of containers — every
  * dispatch in [[Multimodal]] reads it (the Scala-side
  * [[MediaFormat.sniff]], the native [[MediaFormat.modalityColumn]],
  * the gates, the unified metadata pre-pass, and the still / frame /
  * PCM decode dispatches), so two dispatches can never disagree about
  * a format. Parallel copies of this list disagreed twice before it
  * existed: WebP routed as audio, and the MP3 sync codes differed
  * between the native and the Scala-side classification.
  *
  * `magic` is data: alternatives, each a conjunction of
  * (offset, bytes) parts that must all match. `header` is the
  * format's decodeless walker reduced to the [[MediaFormat.Header]]
  * axes; it refuses (throws) on a failed structural walk. A format
  * without a decoder of a kind refuses that decode: its blobs keep
  * exact dedup through the undecodable route. */
final case class MediaFormat(
    name: String,
    modality: String,
    magic: Seq[Seq[(Int, Array[Byte])]],
    header: Array[Byte] => MediaFormat.Header,
    still: Option[Array[Byte] => (Int, Int, Array[Byte])] = None,
    frames: Option[Array[Byte] => (Int, Int, Seq[(Int, Array[Byte])])] = None,
    pcm: Option[Array[Byte] => (Int, Array[Short])] = None) {

  /** Whether `b` carries this format's magic starting at `base` (never
    * for a negative `base`). */
  private[graft] def matchesAt(b: Array[Byte], base: Int): Boolean =
    base >= 0 && magic.exists(_.forall { case (off, m) =>
      base + off + m.length <= b.length && {
        var i = 0
        while (i < m.length && b(base + off + i) == m(i)) i += 1
        i == m.length
      }
    })
}

object MediaFormat {

  /** The cross-container header axes. −1 means the container has no
    * such axis (audio has no geometry, a still image no duration, MP4
    * no geometry at header cost); `unsupported` flags a stream the
    * decoder would refuse for a structural reason the header walk can
    * already see (a PNG with an unknown critical chunk, the Apple CgBI
    * shape). */
  final case class Header(width: Int = -1, height: Int = -1,
      durationMs: Long = -1L, sampleRate: Int = -1,
      unsupported: Boolean = false)

  private def at(off: Int, s: String): (Int, Array[Byte]) =
    (off, s.getBytes("US-ASCII"))

  private def bytesAt(off: Int, bs: Int*): (Int, Array[Byte]) =
    (off, bs.map(_.toByte).toArray)

  /** Bare MPEG frame syncs: 0xFF, then 111 (sync tail) |
    * version(2, ≠01 reserved) | layer(2, ≠00 reserved) | protection(1).
    * Reserved codes stay unknown — [[Mp3.meta]] refuses them, and a
    * pre-pass must keep what it cannot read. */
  private val mp3Syncs: Seq[Seq[(Int, Array[Byte])]] =
    for {
      ver <- Seq(0, 2, 3); layer <- Seq(1, 2, 3); prot <- Seq(0, 1)
    } yield Seq(bytesAt(0, 0xff, 0xe0 | (ver << 3) | (layer << 1) | prot))

  /** FLAC through the from-spec [[Flac.decode]], held to the
    * 16-bit-mono contract of [[Wav.decode]]: a stereo or non-16-bit
    * stream refuses. Lossless, so a WAV↔FLAC transcode of one master
    * returns identical samples from either container. */
  private def flacPcm16(b: Array[Byte]): (Int, Array[Short]) = {
    val p = Flac.decode(b)
    if (p.bitsPerSample != 16)
      throw new IllegalArgumentException(
        s"flac: ${p.bitsPerSample}-bit stream (decode path is 16-bit)")
    if (p.nChannels != 1)
      throw new IllegalArgumentException(
        s"flac: ${p.nChannels}-channel stream (decode path is mono)")
    val s = new Array[Short](p.samples.length)
    var i = 0
    while (i < s.length) { s(i) = p.samples(i).toShort; i += 1 }
    (p.sampleRate, s)
  }

  private def timed(durationMs: Long, sampleRate: Int): Header =
    Header(durationMs = durationMs, sampleRate = sampleRate)

  private val Mp3Format = MediaFormat("mp3", "audio",
    Seq(at(0, "ID3")) +: mp3Syncs,
    b => { val m = Mp3.meta(b); timed(m.durationMs, m.sampleRate) })

  private val FlacFormat = MediaFormat("flac", "audio",
    Seq(Seq(at(0, "fLaC"))),
    b => { val m = Flac.meta(b); timed(m.durationMs, m.sampleRate) },
    pcm = Some(flacPcm16))

  /** Every container, in sniffing order: the first entry whose magic
    * matches wins. Modalities are contiguous, so the native
    * [[modalityColumn]] (first matching modality) and [[sniff]] (first
    * matching format) route every blob alike. PNG and GIF report
    * `totalDelayCs × 10` as their duration (0 for stills); a still WebP
    * reports −1. */
  val all: Seq[MediaFormat] = Seq(
    MediaFormat("jpeg", "image", Seq(Seq(bytesAt(0, 0xff, 0xd8))),
      b => { val m = Jpeg.meta(b); Header(m.width, m.height) },
      still = Some(b => Jpeg.decode(b))),
    MediaFormat("png", "image", Seq(Seq((0, Png.Signature))),
      b => {
        val m = Png.meta(b)
        Header(m.width, m.height, m.totalDelayCs * 10L,
          unsupported = m.unknownCritical)
      },
      still = Some(b => Png.decode(b)), frames = Some(b => Png.frames(b))),
    MediaFormat("gif", "image",
      Seq(Seq(at(0, "GIF87a")), Seq(at(0, "GIF89a"))),
      b => {
        val m = Gif.meta(b)
        Header(m.width, m.height, m.totalDelayCs * 10L)
      },
      still = Some(b => Gif.decode(b)), frames = Some(b => Gif.frames(b))),
    // RIFF-framed like WAV: the WEBP form tag makes it an image
    MediaFormat("webp", "image", Seq(Seq(at(0, "RIFF"), at(8, "WEBP"))),
      b => {
        val m = Webp.meta(b)
        Header(m.width, m.height, if (m.animated) m.totalDurationMs else -1L)
      },
      // lossless VP8L decodes; lossy VP8 refuses inside Webp.decode
      still = Some(b => Webp.decode(b)), frames = Some(b => Webp.frames(b))),
    MediaFormat("ppm", "image", Seq(Seq(at(0, "P6"))),
      b => { val (w, h) = Ppm.dims(b); Header(w, h) },
      still = Some(b => Ppm.decode(b))),
    MediaFormat("qoi", "image", Seq(Seq(at(0, "qoif"))),
      b => { val (w, h) = Qoi.dims(b); Header(w, h) },
      still = Some(b => Qoi.decode(b))),
    Mp3Format,
    FlacFormat,
    // codec-agnostic container, routed audio: its crawl population is
    // overwhelmingly Vorbis/Opus (a Theora-in-Ogg keeps only its exact
    // duplicates). An unknown codec reports duration −1.
    MediaFormat("ogg", "audio", Seq(Seq(at(0, "OggS"))),
      b => { val m = Ogg.meta(b); timed(m.durationMs, m.sampleRate) }),
    // the WAVE form tag is required: a bare-RIFF AVI is not a wav
    MediaFormat("wav", "audio", Seq(Seq(at(0, "RIFF"), at(8, "WAVE"))),
      b => { val m = Wav.meta(b); timed(m.durationMs, m.sampleRate) },
      pcm = Some(b => Wav.decode(b))),
    MediaFormat("mp4", "video", Seq(Seq(at(4, "ftyp"))),
      b => Header(durationMs = Mp4.meta(b).durationMs)),
    MediaFormat("y4m", "video", Seq(Seq(at(0, "YUV4MPEG2"))),
      b => { val m = Y4m.meta(b); Header(m.width, m.height, m.durationMs) }))

  private val modalityRuns = all.map(_.modality).foldLeft(List.empty[String]) {
    (runs, m) => if (runs.headOption.contains(m)) runs else m :: runs
  }
  require(modalityRuns.distinct == modalityRuns,
    "media format modalities must be contiguous in sniffing order")

  /** The format of a blob by its magic (first match in [[all]]), or
    * None for an unknown container. One rule on top of the magics: an
    * ID3v2 tag says nothing about the codec behind it, so a
    * well-formed tag is skipped and a `fLaC` right after it is FLAC
    * (a common real-world shape); a malformed or truncated tag stays
    * MP3, and [[Mp3.meta]] refuses it loudly. */
  private[graft] def sniff(b: Array[Byte]): Option[MediaFormat] =
    all.find(_.matchesAt(b, 0)).map { f =>
      // id3v2TagEnd is −1 for a bare frame sync or a malformed tag
      if ((f eq Mp3Format) && FlacFormat.matchesAt(b, Mp3.id3v2TagEnd(b)))
        FlacFormat
      else f
    }

  /** `b`'s decoder of one kind (`pick`: still, frames or pcm) — or a
    * refusal naming the format, for a blob whose format has no such
    * decoder (its exact duplicates survive through the undecodable
    * route). */
  private[graft] def decoderOf[D](b: Array[Byte], kind: String)(
      pick: MediaFormat => Option[D]): D = {
    val fmt = sniff(b)
    fmt.flatMap(pick).getOrElse(throw new IllegalArgumentException(
      s"no $kind decoder for ${fmt.fold("an unknown container")(_.name)}"))
  }

  /** Native-column modality of a binary column — the same magics as
    * [[sniff]], as `substring === literal` compares (codegen'd, no
    * JVM-side row walk), one `when` arm per modality in table order;
    * "unknown" otherwise. The ID3 re-sniff needs no arm: MP3 and FLAC
    * are both audio. */
  private[graft] def modalityColumn(bytes: Column): Column = {
    def isFormat(f: MediaFormat): Column = f.magic.map(_.map {
      case (off, m) => substring(bytes, off + 1, m.length) === lit(m)
    }.reduce(_ && _)).reduce(_ || _)
    val arms = all.map(_.modality).distinct.map { m =>
      m -> all.filter(_.modality == m).map(isFormat).reduce(_ || _)
    }
    arms.tail.foldLeft(when(arms.head._2, arms.head._1)) {
      case (c, (m, test)) => c.when(test, m)
    }.otherwise("unknown")
  }
}
