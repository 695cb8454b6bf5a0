package graft

import org.apache.spark.sql.functions._

import graft.llm.ImageFixtures
import graft.plans.{ImageMeta, ImageMetaNative}

class ImageHeadersSpec extends SparkSpec {
  import spark.implicits._

  private def parsed(bytes: Array[Byte]): (String, Option[Int], Option[Int]) = {
    val r = ImageMeta.parse(bytes)
    (r.getUTF8String(0).toString,
     if (r.isNullAt(1)) None else Some(r.getInt(1)),
     if (r.isNullAt(2)) None else Some(r.getInt(2)))
  }

  test("every fixture branch parses to its staged dimensions") {
    assert(parsed(ImageFixtures.png(640, 480)) === (("png", Some(640), Some(480))))
    assert(parsed(ImageFixtures.png(1, 1)) === (("png", Some(1), Some(1))))
    assert(parsed(ImageFixtures.gif(320, 200, "87a")) === (("gif", Some(320), Some(200))))
    assert(parsed(ImageFixtures.gif(12345, 6789)) === (("gif", Some(12345), Some(6789))))
    assert(parsed(ImageFixtures.jpeg(1024, 768)) === (("jpeg", Some(1024), Some(768))))
    assert(parsed(ImageFixtures.jpeg(800, 600, sofMarker = 0xC2,
      comment = Some("skip me"))) === (("jpeg", Some(800), Some(600))))
    assert(parsed(ImageFixtures.pngTruncated) === (("png", None, None)))
    assert(parsed("plain text".getBytes("UTF-8")) === (("unknown", None, None)))
  }

  test("ico/pnm/tga: directory best-entry, header tokens, magicless sniff") {
    import graft.llm.{IcoCodec, PnmCodec, TgaCodec}
    val ico = IcoCodec.encode(Seq(
      IcoCodec.DibEntry(16, 16, 32, rgb = (_, _) => (1, 2, 3)),
      IcoCodec.DibEntry(48, 48, 24, rgb = (_, _) => (4, 5, 6))))
    assert(parsed(ico) === (("ico", Some(48), Some(48))))
    assert(parsed(PnmCodec.encodeGray(321, 97, (x, y) => (x + y) % 256,
      comment = Some("c"))) === (("pnm", Some(321), Some(97))))
    assert(parsed(TgaCodec.encodeRgb(44, 33, (x, y) => (x % 256, y % 256, 7)))
      === (("tga", Some(44), Some(33))))
    // 'BM' bytes never reach the TGA sniff
    assert(parsed("BMxxxxxxxxxxxxxxxxxx".getBytes("US-ASCII"))._1 == "unknown")
    assert(parsed(graft.llm.QoiCodec.encode(77, 31, (x, y) => (x, y, 0)))
      === (("qoi", Some(77), Some(31))))
  }

  test("tiff: IFD dimensions in both byte orders; malformed IFDs null dims") {
    import graft.llm.TiffCodec
    assert(parsed(TiffCodec.encodeGray(321, 97, (x, y) => (x + y) % 256)) ===
      (("tiff", Some(321), Some(97))))
    assert(parsed(TiffCodec.encodeRgb(44, 33, (x, y) => (x, y, 7),
      TiffCodec.Options(littleEndian = false))) ===
      (("tiff", Some(44), Some(33))))
    // header only: valid magic, IFD offset pointing past the buffer
    assert(parsed(Array[Byte]('I', 'I', 42, 0, 99, 0, 0, 0)) ===
      (("tiff", None, None)))
  }

  test("webp: VP8 lossy, VP8L lossless, VP8X canvas (chunk walk over a preceding ICCP)") {
    assert(parsed(ImageFixtures.webp(1920, 1080, "lossy")) ===
      (("webp", Some(1920), Some(1080))))
    assert(parsed(ImageFixtures.webp(333, 77, "lossless")) ===
      (("webp", Some(333), Some(77))))
    assert(parsed(ImageFixtures.webp(16384, 8192, "x")) ===
      (("webp", Some(16384), Some(8192))))
    // one-pixel lossless: the minus-one packing must round-trip 1x1
    assert(parsed(ImageFixtures.webp(1, 1, "lossless")) ===
      (("webp", Some(1), Some(1))))
    // RIFF WEBP magic with no size chunk: format known, dims null
    val magicOnly = "RIFF".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0) ++ "WEBP".getBytes("US-ASCII")
    assert(parsed(magicOnly) === (("webp", None, None)))
    // a corrupted lossy start code keeps the format, nulls the dims
    val bad = ImageFixtures.webp(64, 48, "lossy")
    bad(23) = 0x00 // first start-code byte (0x9D)
    assert(parsed(bad) === (("webp", None, None)))
  }

  test("avif: ispe spatial extents through meta -> iprp -> ipco; missing ispe nulls dims") {
    assert(parsed(ImageFixtures.avif(1152, 768)) ===
      (("avif", Some(1152), Some(768))))
    assert(parsed(ImageFixtures.avif(1, 1)) === (("avif", Some(1), Some(1))))
    // ftyp only: brand identifies the format, no meta box -> nulls
    val ftypOnly = ImageFixtures.avif(10, 10).take(20)
    assert(parsed(ftypOnly) === (("avif", None, None)))
  }

  test("avif: a 64-bit largesize box and a to-the-end meta box are followed") {
    def be32(v: Long) = Array.tabulate[Byte](4)(k => (v >>> (24 - 8 * k)).toByte)
    def box(tpe: String, payload: Array[Byte]) =
      be32(8 + payload.length) ++ tpe.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "avif".getBytes("US-ASCII") ++ be32(0) ++
      "avifmif1".getBytes("US-ASCII"))
    // size 1: the 64-bit box size follows the type
    val free = be32(1) ++ "free".getBytes("US-ASCII") ++ be32(0) ++ be32(24) ++
      new Array[Byte](8)
    val fullBox = new Array[Byte](4) // version + flags
    val iprp = box("iprp", box("ipco", box("ispe", fullBox ++ be32(640) ++ be32(480))))
    assert(parsed(ftyp ++ free ++ box("meta", fullBox ++ iprp)) ===
      (("avif", Some(640), Some(480))))
    // size 0: the meta box runs to the end of the file
    val toEnd = be32(0) ++ "meta".getBytes("US-ASCII") ++ fullBox ++ iprp
    assert(parsed(ftyp ++ free ++ toEnd) === (("avif", Some(640), Some(480))))
  }

  test("large dimensions and format edges") {
    // PNG dimensions are 31-bit per spec; parser must not sign-extend.
    assert(parsed(ImageFixtures.png(0x7FFFFFFF, 2)) ===
      (("png", Some(0x7FFFFFFF), Some(2))))
    assert(parsed(ImageFixtures.gif(65535, 65535)) ===
      (("gif", Some(65535), Some(65535))))
    // JPEG with only SOI+EOI has no frame header.
    assert(parsed(Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)) ===
      (("jpeg", None, None)))
    // Truncated mid-segment: APP0 length points past the end.
    assert(parsed(Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte)) ===
      (("jpeg", None, None)))
    // Empty input.
    assert(parsed(Array.emptyByteArray) === (("unknown", None, None)))
    // DHT (0xC4) shares the SOF range but is NOT a frame header: a
    // file with DHT before SOF0 must take dimensions from SOF0.
    val withDht = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0xFF, 0xD8, 0xFF, 0xC4, 0x00, 0x04, 0x00, 0x00)
        .map(_.toByte))
      out.write(ImageFixtures.jpeg(64, 32).drop(2)) // strip its SOI
      out.toByteArray
    }
    assert(parsed(withDht) === (("jpeg", Some(64), Some(32))))
  }

  test("dataframe path (codegen) agrees with the static parser, null-safe") {
    val rows = ImageFixtures.all
    val df = rows.toDF("img_id", "bytes")
      .union(Seq((99L, null.asInstanceOf[Array[Byte]])).toDF("img_id", "bytes"))
    val got = df
      .select($"img_id", ImageMetaNative.imageMeta(spark, $"bytes").as("m"))
      .select($"img_id", $"m.format", $"m.width", $"m.height")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3))))).toMap
    rows.foreach { case (id, bytes) =>
      assert(got(id) === parsed(bytes), s"img_id=$id")
    }
    assert(got(99L) === null) // null bytes → null struct
  }

  test("tiff: an IFD entry with a count of 0 gives the null-dims row, in the expression too") {
    val b = graft.llm.TiffCodec.encodeRgb(8, 6, (x, y) => (x, y, 7))
    b(13) = 0; b(14) = 0 // the ImageWidth entry's count
    assert(parsed(b) === (("tiff", None, None)))
    val r = Seq(Tuple1(b)).toDF("bytes")
      .select(ImageMetaNative.imageMeta(spark, $"bytes").as("m"))
      .select($"m.format", $"m.width", $"m.height").collect().head
    assert(r.getString(0) === "tiff" && r.isNullAt(1) && r.isNullAt(2))
  }
}
