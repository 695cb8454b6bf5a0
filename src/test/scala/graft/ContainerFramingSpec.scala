package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{ApngCodec, AudioFixtures, AviMjpeg, Exif, ImageFixtures,
  JpegCodec, Multimodal, VideoFixtures, Vp8lCodec}
import graft.llm.ApngCodec.FrameSpec
import graft.plans.{AudioMeta, ImageMeta, VideoMeta}
import graft.sources.Mp4Index
import graft.util.Containers

/** Container framing: the shared walkers on well-formed input, then
  * every parser that walks RIFF/IFF chunks, ISO-BMFF boxes, PNG chunks
  * or JPEG segments against malformed framing — each fixture cut at
  * every offset, and every size field of it overwritten with hostile
  * values (0, 1, 7, 2^31 - 1, 2^31, -8 and -1 as 32-bit integers),
  * flipped to the other parity, and set to seeded random values. The
  * metadata parsers must return a row and never throw, the decoders
  * may only refuse with `IllegalArgumentException`, and nothing may
  * spin: each fixture's whole mutation batch runs under a watchdog. */
class ContainerFramingSpec extends AnyFunSuite with Watchdog {

  // ------------------------------------------- walkers, well-formed

  private def ascii(s: String) = s.getBytes("US-ASCII")
  private def be32(v: Long) = Array.tabulate[Byte](4)(k => (v >>> (24 - 8 * k)).toByte)
  private def le32(v: Long) = Array.tabulate[Byte](4)(k => (v >>> (8 * k)).toByte)
  private def be64(v: Long) = be32(v >>> 32) ++ be32(v)

  /** (name or marker, start, end, size, overrun) for every step. */
  private def steps(w: Containers.Walk): Seq[(String, Int, Int, Long, Boolean)] = {
    val out = ArrayBuffer[(String, Int, Int, Long, Boolean)]()
    while (w.next()) {
      out += ((if (w.id >>> 8 == 0) f"${w.id}%02X" else w.name,
        w.start, w.end, w.size, w.overrun))
      assert(out.size < 1000, s"no end after ${out.take(3)}")
    }
    assert(!w.next(), "a finished walk stays finished")
    out.toSeq
  }

  test("riff: little-endian RIFF, big-endian FORM, a pad byte after odd sizes") {
    for ((form, size) <- Seq("RIFF" -> le32 _, "FORM" -> be32 _)) {
      val b = ascii(form) ++ size(26) ++ ascii("WAVE") ++
        ascii("odd ") ++ size(3) ++ Array[Byte](1, 2, 3, 0) ++
        ascii("even") ++ size(2) ++ Array[Byte](4, 5) ++
        ascii("last") ++ size(1) ++ Array[Byte](6) // pad byte missing at the end
      assert(steps(Containers.riff(b, 12, b.length)) === Seq(
        ("odd ", 20, 23, 3L, false),
        ("even", 32, 34, 2L, false),
        ("last", 42, 43, 1L, false)), form)
    }
  }

  test("boxes: plain, 64-bit largesize and to-the-end boxes") {
    val b = be32(12) ++ ascii("plai") ++ Array[Byte](1, 2, 3, 4) ++
      be32(1) ++ ascii("larg") ++ be64(19) ++ Array[Byte](5, 6, 7) ++
      be32(0) ++ ascii("rest") ++ Array[Byte](8, 9, 10, 11, 12)
    assert(steps(Containers.boxes(b, 0, b.length)) === Seq(
      ("plai", 8, 12, 12L, false),
      ("larg", 28, 31, 19L, false),
      ("rest", 39, 44, 0L, false)))
    // a walk over a sub-range sees only the boxes inside it
    assert(steps(Containers.boxes(b, 12, 31)) === Seq(("larg", 28, 31, 19L, false)))
  }

  test("pngChunks: data bounds after the signature, the CRC skipped") {
    val png = ImageFixtures.pngFull(3, 2, (x, y) => (x, y, 7))
    val got = steps(Containers.pngChunks(png))
    assert(got.head === (("IHDR", 16, 29, 13L, false)))
    assert(got.map(_._1).distinct === Seq("IHDR", "IDAT", "IEND"))
    // each chunk starts 12 bytes (length, type, CRC) after the last ends
    got.sliding(2).foreach { case Seq(a, b) => assert(b._2 == a._3 + 12) }
    assert(got.last._3 == png.length - 4)
  }

  test("jpegSegments: fill bytes, RSTn/TEM/EOI skipped, SOS ends the walk") {
    val b = Array(0xFF, 0xD8, // SOI
      0xFF, 0xFF, 0xFF, 0xE0, 0x00, 0x04, 0x0A, 0x0B, // fill bytes, APP0
      0xFF, 0xD3, 0xFF, 0x01, 0xFF, 0xD9, // RST3, TEM, EOI: no length
      0xFF, 0xFE, 0x00, 0x03, 0x43, // COM
      0xFF, 0xDA, 0x00, 0x02, // SOS
      0xFF, 0xC0, 0x00, 0x02, 0x12, 0xFF, 0xD9).map(_.toByte) // scan data
    assert(steps(Containers.jpegSegments(b)) === Seq(
      ("E0", 8, 10, 4L, false),
      ("FE", 20, 21, 3L, false),
      ("DA", 25, 25, 2L, false)))
  }

  test("a size that does not fit is reported once, clamped to the parent, and ends the walk") {
    val riff = ascii("RIFF") ++ le32(0) ++ ascii("WAVE") ++
      ascii("good") ++ le32(2) ++ Array[Byte](0, 0) ++
      ascii("huge") ++ le32(0xFFFFFFF8L) ++ new Array[Byte](8) ++
      ascii("gone") ++ le32(0)
    assert(steps(Containers.riff(riff, 12, riff.length)) === Seq(
      ("good", 20, 22, 2L, false), ("huge", 30, 46, 0xFFFFFFF8L, true)))
    // below its own header, a largesize cut off, past the parent
    for ((sz, start, end) <- Seq((7L, 8, 8), (1L, 14, 14), (40L, 8, 14))) {
      val b = be32(sz) ++ ascii("bad ") ++ new Array[Byte](6)
      assert(steps(Containers.boxes(b, 0, b.length)) ===
        Seq(("bad ", start, end, sz, true)), s"size $sz")
    }
    val hugeLarge = be32(1) ++ ascii("big ") ++ be64(Long.MaxValue) ++ new Array[Byte](4)
    assert(steps(Containers.boxes(hugeLarge, 0, hugeLarge.length)) ===
      Seq(("big ", 16, 20, Long.MaxValue, true)))
    // PNG: the data fits but the CRC does not
    val png = ImageFixtures.pngTruncated ++ be32(2) ++ ascii("tEXt") ++ Array[Byte](1, 2, 3)
    assert(steps(Containers.pngChunks(png)) === Seq(("tEXt", 16, 18, 2L, true)))
    // JPEG: a length field below its own two bytes
    val jpg = Array(0xFF, 0xD8, 0xFF, 0xE1, 0x00, 0x01, 0xFF, 0xD9).map(_.toByte)
    assert(steps(Containers.jpegSegments(jpg)) === Seq(("E1", 6, 6, 1L, true)))
  }

  test("a header cut off by the parent's end ends the walk without a report") {
    val b = ascii("RIFF") ++ le32(0) ++ ascii("WAVE") ++ ascii("part") ++ le32(0).take(3)
    assert(steps(Containers.riff(b, 12, b.length)).isEmpty)
    assert(steps(Containers.boxes(be32(8) ++ ascii("box"), 0, 7)).isEmpty)
    assert(steps(Containers.jpegSegments(Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00)
      .map(_.toByte))).isEmpty)
    assert(steps(Containers.riff(b, 30, 12)).isEmpty) // from past to
  }

  // ------------------------------------------------ malformed framing

  /** A size field of a well-formed fixture: offset and width in bytes. */
  private case class Field(at: Int, width: Int, bigEndian: Boolean)

  private def read(b: Array[Byte], f: Field): Long =
    (0 until f.width).map(k => (b(f.at + k) & 0xFFL) <<
      (if (f.bigEndian) 8 * (f.width - 1 - k) else 8 * k)).sum

  // Independent walks of WELL-FORMED fixtures, listing where their size
  // fields sit (a test oracle, deliberately not the walker under test).

  private def riffFields(b: Array[Byte], from: Int, to: Int,
                         bigEndian: Boolean): Seq[Field] = {
    val out = ArrayBuffer[Field]()
    var p = from
    while (p + 8 <= to) {
      out += Field(p + 4, 4, bigEndian)
      val n = read(b, out.last).toInt
      if (new String(b, p, 4, "US-ASCII") == "LIST")
        out ++= riffFields(b, p + 12, p + 8 + n, bigEndian)
      p += 8 + n + n % 2
    }
    out.toSeq
  }

  private val BoxParents = Set("moov", "trak", "mdia", "minf", "stbl", "dinf",
    "iprp", "ipco")

  private def boxFields(b: Array[Byte], from: Int, to: Int): Seq[Field] = {
    val out = ArrayBuffer[Field]()
    var p = from
    while (p + 8 <= to) {
      val typ = new String(b, p + 4, 4, "US-ASCII")
      out += Field(p, 4, true)
      val (n, hdr) = read(b, out.last) match {
        case 0 => ((to - p).toLong, 8)
        case 1 =>
          out += Field(p + 8, 8, true)
          (read(b, out.last), 16)
        case n => (n, 8)
      }
      if (BoxParents(typ)) out ++= boxFields(b, p + hdr, p + n.toInt)
      if (typ == "meta") out ++= boxFields(b, p + hdr + 4, p + n.toInt)
      p += n.toInt
    }
    out.toSeq
  }

  private def pngFields(b: Array[Byte]): Seq[Field] = {
    val out = ArrayBuffer[Field]()
    var p = 8
    while (p + 8 <= b.length) {
      out += Field(p, 4, true)
      p += 12 + read(b, out.last).toInt
    }
    out.toSeq
  }

  private def jpegFields(b: Array[Byte]): Seq[Field] = {
    val out = ArrayBuffer[Field]()
    var p = 2
    var sos = false
    while (!sos && p + 4 <= b.length) {
      val m = b(p + 1) & 0xFF
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD9)) p += 2
      else {
        out += Field(p + 2, 2, true)
        sos = m == 0xDA
        p += 2 + read(b, out.last).toInt
      }
    }
    out.toSeq
  }

  private val Hostile32 = Seq(0L, 1L, 7L, 0x7FFFFFFFL, 0x80000000L,
    0xFFFFFFF8L, 0xFFFFFFFFL)
  private val Hostile16 = Seq(0L, 1L, 7L, 0x7FFFL, 0x8000L, 0xFFFFL)
  private val Hostile64 = Seq(0L, 1L, 7L, 15L, Long.MaxValue, Long.MinValue, -1L)

  private def write(b: Array[Byte], f: Field, v: Long): Array[Byte] = {
    val m = b.clone()
    for (k <- 0 until f.width)
      m(f.at + k) = (v >>> (if (f.bigEndian) 8 * (f.width - 1 - k) else 8 * k)).toByte
    m
  }

  /** (description, bytes): every prefix, then per size field the
    * hostile values and the other parity, then seeded random sizes. */
  private def mutants(b: Array[Byte], fields: Seq[Field],
                      seed: Long): Iterator[(String, Array[Byte])] = {
    require(fields.nonEmpty)
    val rnd = new Random(seed)
    val cuts = (0 until b.length).iterator.map(n => s"cut at $n" -> b.take(n))
    val sized = fields.iterator.flatMap { f =>
      val hostile = f.width match {
        case 2 => Hostile16; case 4 => Hostile32; case _ => Hostile64
      }
      (hostile :+ (read(b, f) ^ 1L)).map(v =>
        s"size field at ${f.at} = 0x${v.toHexString}" -> write(b, f, v))
    }
    val random = Iterator.fill(64) {
      val f = fields(rnd.nextInt(fields.size))
      val v = rnd.nextLong()
      s"size field at ${f.at} = 0x${v.toHexString} (seed $seed)" -> write(b, f, v)
    }
    cuts ++ sized ++ random
  }

  /** Every mutant through the three metadata parsers (a row, never a
    * throw) and `decoders` (success or `IllegalArgumentException`
    * only), the whole batch under the watchdog. */
  private def check(name: String, b: Array[Byte], fields: Seq[Field], seed: Long)
                   (decoders: (Array[Byte] => Any)*): Unit = {
    val failures = within(60) {
      val bad = ArrayBuffer[String]()
      for ((what, m) <- mutants(b, fields, seed)) {
        for ((parser, parse) <- Seq[(String, Array[Byte] => AnyRef)](
               "ImageMeta" -> (ImageMeta.parse _), "AudioMeta" -> (AudioMeta.parse _),
               "VideoMeta" -> (VideoMeta.parse _)))
          try { if (parse(m) == null) bad += s"$name, $what: $parser returned null" }
          catch { case e: Throwable => bad += s"$name, $what: $parser threw $e" }
        for ((decode, i) <- decoders.zipWithIndex)
          try decode(m)
          catch {
            case _: IllegalArgumentException =>
            case e: Throwable => bad += s"$name, $what: decoder $i threw $e"
          }
      }
      bad.toSeq
    }
    assert(failures.isEmpty,
      s"${failures.size} failures, first: ${failures.take(3).mkString("; ")}")
  }

  private val Decoder = Multimodal.BmpWavDecoder
  private def rgb(x: Int, y: Int) = (x * 40, y * 50, (x + y) * 20)

  test("image framing: PNG, APNG, JPEG/EXIF, WebP and AVIF mutants") {
    val png = ImageFixtures.pngFull(5, 3, rgb)
    check("png", png, pngFields(png), 1)(Decoder.decodePngWithDims, ApngCodec.decodeFrames)
    val palette = ImageFixtures.pngPalette(4, 3, Seq((1, 2, 3), (200, 100, 50)),
      (x, y) => (x + y) % 2)
    check("palette png", palette, pngFields(palette), 2)(Decoder.decodePngWithDims)
    val apng = ApngCodec.encode(Seq(FrameSpec(4, 3, 0, 0, rgb),
      FrameSpec(2, 2, 1, 1, rgb, dispose = 1, blend = 1)))
    check("apng", apng, pngFields(apng), 3)(ApngCodec.decodeFrames,
      ApngCodec.isApng, Decoder.decodePngWithDims)
    val jpeg = Exif.withExifOrientation(JpegCodec.encode(8, 8, rgb), 6)
    assert(Exif.orientation(jpeg) == 6)
    check("exif jpeg", jpeg, jpegFields(jpeg), 4)(
      m => assert((1 to 8).contains(Exif.orientation(m))))
    for ((kind, seed) <- Seq("lossy", "lossless", "x").zipWithIndex) {
      val webp = ImageFixtures.webp(300, 200, kind)
      check(s"webp $kind", webp, riffFields(webp, 12, webp.length, false), 5 + seed)(
        Vp8lCodec.isVp8l)
    }
    val vp8l = Vp8lCodec.encode(5, 4, rgb)
    check("vp8l", vp8l, riffFields(vp8l, 12, vp8l.length, false), 8)(Vp8lCodec.decode)
    val avif = ImageFixtures.avif(640, 480)
    check("avif", avif, boxFields(avif, 0, avif.length), 9)()
  }

  test("audio framing: WAV and AIFF mutants") {
    val wav = AudioFixtures.wavRaw(8000, 1, 1, 16, Array.tabulate[Byte](40)(_.toByte),
      withListChunk = true)
    check("wav", wav, riffFields(wav, 12, wav.length, false), 11)(Decoder.decodeWav)
    val ext = AudioFixtures.wavRaw(8000, 2, 3, 32, new Array[Byte](32), extensible = true)
    check("extensible wav", ext, riffFields(ext, 12, ext.length, false), 12)(Decoder.decodeWav)
    val meta = AudioFixtures.wav(44100, 2, 16, 20, withListChunk = true)
    check("wav header", meta, riffFields(meta, 12, meta.length, false), 13)(Decoder.decodeWav)
    val aiff = AudioFixtures.aiff(22050, 1, 16, Array.tabulate[Byte](30)(_.toByte),
      ssndOffset = 3)
    check("aiff", aiff, riffFields(aiff, 12, aiff.length, true), 14)(Decoder.decodeAiff)
    val aifc = AudioFixtures.aiff(8000, 2, 16, new Array[Byte](24), comp = "sowt")
    check("aifc", aifc, riffFields(aifc, 12, aifc.length, true), 15)(Decoder.decodeAiff)
  }

  test("video framing: MP4 box and AVI chunk mutants") {
    for ((mp4, seed) <- Seq(VideoFixtures.mp4V0("isom", 600, 1200, 320, 240),
                            VideoFixtures.mp4V1("mp42", 90000, 1L << 33, 1920, 1080),
                            VideoFixtures.mp4LargeSize("isom", 1000, 5000, 64, 48))
                          .zipWithIndex)
      check(s"mp4 $seed", mp4, boxFields(mp4, 0, mp4.length), 21 + seed)()
    val stbl = VideoFixtures.mp4Stbl("isom", 600, "avc1", 320, 180,
      sttsRuns = Seq((3, 100L), (2, 150L)), sizes = (10L to 14L).toSeq,
      stscRuns = Seq((1, 2), (2, 3)), chunkOffsets = Seq(1000L, 2000L),
      sync = Some(Seq(1, 4)))
    check("mp4 stbl", stbl, boxFields(stbl, 0, stbl.length), 24)(Mp4Index.parse)
    val avi = VideoFixtures.aviMjpeg(8, 8, 2, f => (x, y) => (x * 9 + f, y * 7, 30),
      recGroups = true)
    check("avi", avi, riffFields(avi, 12, avi.length, false), 25)(AviMjpeg.frameBytes)
  }

  test("LIST nesting deeper than 16 stops at the cap, without recursing further") {
    val frame = JpegCodec.encode(8, 8, rgb)
    val inner = ascii("00dc") ++ le32(frame.length) ++ frame ++
      new Array[Byte](frame.length % 2)
    /** `depth` nested LIST rec groups inside LIST movi, one frame inside. */
    def avi(depth: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val movi = 4 + 12 * depth + inner.length
      out.write(ascii("RIFF")); out.write(le32(12 + movi))
      out.write(ascii("AVI ")); out.write(ascii("LIST")); out.write(le32(movi))
      out.write(ascii("movi"))
      for (i <- 0 until depth) {
        out.write(ascii("LIST")); out.write(le32(4 + 12 * (depth - 1 - i) + inner.length))
        out.write(ascii("rec "))
      }
      out.write(inner)
      out.toByteArray
    }
    // movi's body is level 1, so 15 rec groups put the frame at level
    // 16, the cap
    assert(within(10)(AviMjpeg.frameBytes(avi(15))).map(_.toSeq) === Seq(frame.toSeq))
    assert(within(10)(AviMjpeg.frameBytes(avi(16))).isEmpty)
    val deep = avi(20000)
    assert(within(10)(AviMjpeg.frameBytes(deep)).isEmpty)
    assert(within(10)(VideoMeta.parse(deep)).getUTF8String(0).toString == "avi")
    check("deep avi", avi(40), riffFields(avi(40), 12, avi(40).length, false), 26)(
      AviMjpeg.frameBytes)
  }
}
