package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.util.Containers
import graft.util.Containers.{be16, be32, le16, le32, tag}

/** Dependency-free audio metadata from raw bytes — the audio sibling
  * of [[ImageMeta]]: container format, sample rate, channel count,
  * bit depth, and total frame count parsed straight out of the header
  * with no codec library. WAV (RIFF chunk walk to "fmt " and "data",
  * per the WAVE spec's little-endian layout; chunks framed by
  * [[graft.util.Containers.riff]] like AIFF's), FLAC (the 34-byte
  * STREAMINFO metadata block's packed bit fields, per the FLAC format
  * spec), AIFF/AIFF-C (FORM walk to COMM, the 80-bit extended-float
  * sample rate), Sun .au (fixed big-endian header), MP3 frame
  * headers (rate/channels only — the honest lossy boundary), and
  * OGG containers (Vorbis/Opus identification headers plus the
  * final page's granule position for total samples — a page-header
  * walk, no packet decode). Sample DECODE stays behind
  * [[graft.llm.Multimodal.MediaDecoder]] exactly as for images.
  *
  * Returned struct: (format, sample_rate, channels, bits_per_sample,
  * n_frames). format is "wav" / "flac" when the magic matches (the
  * numeric fields null if the header is truncated or the needed chunk
  * is missing) and "unknown" with nulls otherwise; null bytes → null
  * struct.
  *
  * Scale shape: identical to [[ImageMeta]] — a pure per-row
  * expression reading only header bytes, inside whole-stage codegen,
  * zero shuffle; the parser is a static JVM method invoked from the
  * generated code (not inlined — the Janino method-size lesson).
  */
case class AudioMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = AudioMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "audio_meta"

  override def nullSafeEval(input: Any): Any =
    AudioMeta.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.AudioMeta.parse($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AudioMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("bits_per_sample", IntegerType, nullable = true),
    StructField("n_frames", LongType, nullable = true)))

  private def row(fmt: String, rate: Any, ch: Any, bits: Any,
                  frames: Any): InternalRow =
    new GenericInternalRow(
      Array[Any](UTF8String.fromString(fmt), rate, ch, bits, frames))

  /** Called from both the interpreted eval and the generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // WAV: "RIFF" <size> "WAVE", then a chunk walk. "fmt " carries
    // (audioFormat, channels, sampleRate, byteRate, blockAlign,
    // bitsPerSample), all little-endian; "data"'s size / blockAlign
    // is the frame count.
    if (tag(b, 0, "RIFF") && tag(b, 8, "WAVE")) {
      var rate: Any = null; var ch: Any = null; var bits: Any = null
      var align = 0
      var dataSize = -1L
      // The walk ends at a chunk that runs past the bytes given (a
      // header prefix, a cut-off upload): fields read before it stand,
      // and a data chunk's declared size still counts.
      val c = Containers.riff(b, 12, b.length)
      while (c.next()) {
        val p = c.start
        if (c.is("fmt ") && c.end - p >= 16) {
          ch = le16(b, p + 2)
          rate = le32(b, p + 4).toInt
          align = le16(b, p + 12)
          bits = le16(b, p + 14)
        } else if (c.is("data")) {
          dataSize = c.size
        }
      }
      val frames: Any =
        if (dataSize >= 0 && align > 0) dataSize / align else null
      return row("wav", rate, ch, bits, frames)
    }
    // FLAC: "fLaC", then metadata blocks; STREAMINFO (type 0) is
    // mandatory and first: 4-byte block header, 10 bytes of block/frame
    // sizes, then 8 bytes packing sample rate (20 bits), channels-1
    // (3), bits-1 (5), and total samples (36).
    if (tag(b, 0, "fLaC")) {
      if (b.length >= 4 + 4 + 18 + 8 && (b(4) & 0x7F) == 0) {
        val o = 8 + 10 // skip block header + min/max block/frame sizes
        val rate20 = ((b(o) & 0xFF) << 12) | ((b(o + 1) & 0xFF) << 4) |
          ((b(o + 2) & 0xF0) >>> 4)
        val channels = ((b(o + 2) & 0x0E) >>> 1) + 1
        val bits = (((b(o + 2) & 0x01) << 4) | ((b(o + 3) & 0xF0) >>> 4)) + 1
        val frames = ((b(o + 3) & 0x0FL) << 32) | ((b(o + 4) & 0xFFL) << 24) |
          ((b(o + 5) & 0xFFL) << 16) | ((b(o + 6) & 0xFFL) << 8) |
          (b(o + 7) & 0xFFL)
        return row("flac", rate20, channels, bits, frames)
      }
      return row("flac", null, null, null, null)
    }
    // AIFF / AIFF-C: FORM walk to COMM — channels, frame count, bit
    // depth, and the 80-bit extended-float sample rate (parsed
    // integer-exact by the same routine the decoder uses).
    if (tag(b, 0, "FORM") && b.length >= 12 &&
        (tag(b, 8, "AIFF") || tag(b, 8, "AIFC"))) {
      val c = Containers.riff(b, 12, b.length) // FORM: big-endian sizes
      if (c.find("COMM") && !c.overrun && c.end - c.start >= 18) {
        val p = c.start
        val ch = be16(b, p)
        val frames = be32(b, p + 2)
        val bits = be16(b, p + 6)
        val rate =
          try graft.llm.Multimodal.BmpWavDecoder.extended80ToInt(b, p + 8)
          catch { case _: IllegalArgumentException =>
            return row("aiff", null, ch, bits, frames) }
        return row("aiff", rate, ch, bits, frames)
      }
      return row("aiff", null, null, null, null)
    }
    // Sun/NeXT .au: fixed big-endian header; bit depth from the
    // encoding code, frames from data size / frame bytes.
    if (tag(b, 0, ".snd")) {
      if (b.length < 24) return row("au", null, null, null, null)
      val dataSize = be32(b, 8)
      val enc = be32(b, 12).toInt
      val rate = be32(b, 16).toInt
      val ch = be32(b, 20).toInt
      val width = enc match {
        case 1 | 2 | 27 => 1
        case 3 => 2
        case 4 => 3
        case 5 | 6 => 4
        case 7 => 8
        case _ => 0
      }
      if (width == 0 || ch <= 0) return row("au", rate, ch, null, null)
      val frames: Any =
        if (dataSize == 0xFFFFFFFFL) null else dataSize / (width.toLong * ch)
      return row("au", rate, ch, width * 8, frames)
    }
    // OGG: "OggS" pages (27-byte header + segment table); the first
    // page's first packet is the codec identification header —
    // Vorbis I (`\x01vorbis`: channels u8, rate u32le) or Opus
    // (`OpusHead`: channels u8, pre-skip u16le; output rate is the
    // codec's FIXED 48 kHz, the head's input rate is informational).
    // Total samples come from the LAST page's granule position
    // (PCM-sample domain for Vorbis; 48 kHz domain minus pre-skip
    // for Opus) via a page-header walk — header-only metadata, no
    // packet decode (the MP3 lossy boundary). Bit depth is null
    // (lossy). Truncated/foreign id headers → nulls; a broken page
    // chain nulls only n_frames.
    if (tag(b, 0, "OggS")) {
      if (b.length < 28) return row("ogg", null, null, null, null)
      val nsegs = b(26) & 0xFF
      val bodyOff = 27 + nsegs
      if (bodyOff > b.length) return row("ogg", null, null, null, null)
      if (bodyOff + 7 <= b.length && b(bodyOff) == 1 &&
          tag(b, bodyOff + 1, "vorbis")) {
        // \x01vorbis, version u32le, channels u8, rate u32le
        if (bodyOff + 16 > b.length)
          return row("ogg-vorbis", null, null, null, null)
        val ch = b(bodyOff + 11) & 0xFF
        val rate = le32(b, bodyOff + 12).toInt
        return row("ogg-vorbis", rate, ch, null, oggLastGranule(b))
      }
      if (bodyOff + 8 <= b.length && tag(b, bodyOff, "OpusHead")) {
        if (bodyOff + 12 > b.length)
          return row("ogg-opus", null, null, null, null)
        val ch = b(bodyOff + 9) & 0xFF
        val preSkip = le16(b, bodyOff + 10)
        val g = oggLastGranule(b)
        val frames: Any = g match {
          case gl: java.lang.Long if gl.longValue >= preSkip =>
            java.lang.Long.valueOf(gl.longValue - preSkip)
          case _ => null
        }
        return row("ogg-opus", 48000, ch, null, frames)
      }
      return row("ogg", null, null, null, null)
    }
    // MP3: an optional ID3v2 tag (10-byte header, 28-bit syncsafe
    // size) followed by an MPEG audio frame header — 11 sync bits,
    // then version (V1/V2/V2.5 select the sample-rate table), layer,
    // bitrate/samplerate indices, and the channel mode (11 = mono).
    // Lossy frames have no bit depth and the frame count needs a full
    // scan, so both stay null — honest header-only metadata.
    {
      val hasId3 = tag(b, 0, "ID3")
      val off =
        if (hasId3 && b.length >= 10)
          10 + (((b(6) & 0x7F) << 21) | ((b(7) & 0x7F) << 14) |
            ((b(8) & 0x7F) << 7) | (b(9) & 0x7F))
        else 0
      val sync = off >= 0 && off + 4 <= b.length &&
        (b(off) & 0xFF) == 0xFF && (b(off + 1) & 0xE0) == 0xE0
      if (hasId3 || sync) {
        if (!sync) return row("mp3", null, null, null, null)
        val version = (b(off + 1) >> 3) & 3 // 3=V1, 2=V2, 0=V2.5
        val layer = (b(off + 1) >> 1) & 3   // 0 = reserved
        val srIdx = (b(off + 2) >> 2) & 3   // 3 = reserved
        val mode = (b(off + 3) >> 6) & 3
        if (version == 1 || layer == 0 || srIdx == 3)
          return row("mp3", null, null, null, null)
        val base =
          if (version == 3) Array(44100, 48000, 32000)
          else if (version == 2) Array(22050, 24000, 16000)
          else Array(11025, 12000, 8000)
        return row("mp3", base(srIdx), if (mode == 3) 1 else 2, null, null)
      }
    }
    row("unknown", null, null, null, null)
  }

  /** Walk every OGG page header (27 bytes + lacing table + the laced
    * body) and return the last COMPLETE page's granule position
    * (s64le at +6) FOR THE FIRST page's logical stream — multiplexed
    * A/V files interleave pages of several serial numbers, and the
    * physically-last page can belong to another stream (the id
    * header parsed is the first BOS stream's, so its granule domain
    * is the one that composes with rate). Null when the chain breaks
    * mid-file — a truncated stream keeps rate/channels but loses
    * duration, matching the WAV missing-chunk convention. -1
    * granules ("no packet completes on this page") are skipped. */
  private def oggLastGranule(b: Array[Byte]): Any = {
    var i = 0
    var last: Any = null
    var serial = 0L
    var haveSerial = false
    while (i + 27 <= b.length && tag(b, i, "OggS")) {
      val nsegs = b(i + 26) & 0xFF
      if (i + 27 + nsegs > b.length) return null // truncated lacing
      var body = 0
      var s = 0
      while (s < nsegs) { body += b(i + 27 + s) & 0xFF; s += 1 }
      if (i + 27 + nsegs + body > b.length) return null // truncated body
      val pageSerial = le32(b, i + 14)
      if (!haveSerial) { serial = pageSerial; haveSerial = true }
      if (pageSerial == serial) {
        var g = 0L
        var k = 7
        while (k >= 0) { g = (g << 8) | (b(i + 6 + k) & 0xFFL); k -= 1 }
        if (g >= 0) last = java.lang.Long.valueOf(g)
      }
      i += 27 + nsegs + body
    }
    if (i != b.length) null else last // trailing junk: not a clean chain
  }
}

object AudioMetaNative {

  /** struct(format, sample_rate, channels, bits_per_sample, n_frames)
    * parsed from a binary column. */
  def audioMeta(spark: SparkSession, bytes: Column): Column =
    NativeFunctions.Audio(spark, bytes)
}
