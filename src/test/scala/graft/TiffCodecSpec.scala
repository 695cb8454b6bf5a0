package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.TiffCodec
import graft.llm.TiffCodec.Options

/** TIFF codec: fixture round-trips across the option matrix, plus
  * BOTH-direction cross-validation against the JDK's independent
  * TIFF plugin (our encoder → ImageIO reader; ImageIO writer at
  * LZW/PackBits/Deflate → our decoder) — the decisive pin for the
  * LZW early-width-change and predictor conventions. */
class TiffCodecSpec extends AnyFunSuite {

  private val rgbPix = (x: Int, y: Int) =>
    ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256, (x + y * 2 + 101) % 256)
  private val runPix = (x: Int, y: Int) =>
    ((x / 9) * 31 % 256, (y / 4) * 53 % 256, 77)
  private val gray8 = (x: Int, y: Int) => (x * 11 + y * 17 + 3) % 256
  private val gray16 = (x: Int, y: Int) => (x * 2021 + y * 977 + 11) % 65536
  private val bit1 = (x: Int, y: Int) => (x * x + y * 3) % 2

  private def expectRgb(w: Int, h: Int,
                        pix: (Int, Int) => (Int, Int, Int)): Array[Float] = {
    val out = new Array[Float](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pix(x, y)
      out((y * w + x) * 3) = r; out((y * w + x) * 3 + 1) = g
      out((y * w + x) * 3 + 2) = b
    }
    out
  }
  private def expectGray(w: Int, h: Int, g: (Int, Int) => Int,
                         mask: Int): Array[Float] = {
    val out = new Array[Float](w * h)
    for (y <- 0 until h; x <- 0 until w) out(y * w + x) = g(x, y) & mask
    out
  }

  private def check(bytes: Array[Byte], w: Int, h: Int,
                    want: Array[Float], clue: String): Unit = {
    assert(TiffCodec.isTiff(bytes), clue)
    val (dw, dh, got) = TiffCodec.decode(bytes)
    assert(dw == w && dh == h, s"$clue dims $dw x $dh")
    assert(got.length == want.length, s"$clue length ${got.length}")
    var i = 0
    while (i < want.length) {
      assert(got(i) == want(i), s"$clue sample $i: ${got(i)} != ${want(i)}")
      i += 1
    }
  }

  test("RGB round-trip across compression x endianness x strips x predictor") {
    val want = expectRgb(21, 13, rgbPix)
    for {
      le <- Seq(true, false)
      comp <- Seq(1, 5, 8, 32773)
      rps <- Seq(0, 4)
      pred <- Seq(1, 2)
      if pred == 1 || comp == 5 || comp == 8
    } {
      val o = Options(littleEndian = le, compression = comp,
        predictor = pred, rowsPerStrip = rps)
      check(TiffCodec.encodeRgb(21, 13, rgbPix, o), 21, 13, want,
        s"rgb le=$le comp=$comp rps=$rps pred=$pred")
    }
  }

  test("runs compress well and survive PackBits/LZW round-trips") {
    val want = expectRgb(40, 24, runPix)
    for (comp <- Seq(5, 32773)) {
      val bytes = TiffCodec.encodeRgb(40, 24, runPix,
        Options(compression = comp, rowsPerStrip = 7))
      check(bytes, 40, 24, want, s"runs comp=$comp")
    }
  }

  test("grayscale 8/16-bit and bilevel, both photometrics, raw samples") {
    check(TiffCodec.encodeGray(17, 9, gray8), 17, 9,
      expectGray(17, 9, gray8, 0xFF), "gray8")
    check(TiffCodec.encodeGray(17, 9, gray8, photo = 0), 17, 9,
      expectGray(17, 9, gray8, 0xFF), "gray8 white-is-zero stays raw")
    for (le <- Seq(true, false)) {
      check(TiffCodec.encodeGray(12, 7, gray16, bits = 16,
          opts = Options(littleEndian = le, compression = 8)), 12, 7,
        expectGray(12, 7, gray16, 0xFFFF), s"gray16 le=$le")
    }
    check(TiffCodec.encodeGray(19, 11, bit1, bits = 1,
        opts = Options(compression = 32773)), 19, 11,
      expectGray(19, 11, bit1, 1), "bilevel packs MSB-first")
  }

  test("palette expands through the 16-bit ColorMap at 8- and 1-bit indices") {
    val pal = (0 until 5).map(i => ((i * 37 + 11) % 256, (i * 73 + 5) % 256,
      (i * 151 + 97) % 256))
    val idx = (x: Int, y: Int) => (x * 3 + y * 7) % 5
    val want = expectRgb(14, 8, (x, y) => pal(idx(x, y)))
    check(TiffCodec.encodePalette(14, 8, pal, idx,
        opts = Options(compression = 5)), 14, 8, want, "palette8")
    val pal1 = Seq((10, 200, 35), (250, 4, 99))
    val idx1 = (x: Int, y: Int) => (x + y) % 2
    check(TiffCodec.encodePalette(9, 6, pal1, idx1, bits = 1), 9, 6,
      expectRgb(9, 6, (x, y) => pal1(idx1(x, y))), "palette1")
  }

  test("LZW hits the table-full clear on a large non-repeating image") {
    // 128x64 RGB with a high-entropy generative pattern forces the
    // dictionary past 4094 and exercises the mid-stream ClearCode
    val pix = (x: Int, y: Int) =>
      ((x * 149 + y * 211 + (x * y) % 97) % 256,
       (x * 83 + y * 59 + (x ^ y)) % 256,
       (x * 7 + y * 131 + x * x % 251) % 256)
    val bytes = TiffCodec.encodeRgb(128, 64, pix, Options(compression = 5))
    check(bytes, 128, 64, expectRgb(128, 64, pix), "lzw table-full")
  }

  // ------------------------------------------------- JDK cross-validation

  private def imageIoRead(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO failed to read our TIFF")
    img
  }

  test("ImageIO reads our RGB/gray/palette/predictor TIFFs identically") {
    for {
      le <- Seq(true, false)
      comp <- Seq(1, 5, 8, 32773)
    } {
      val bytes = TiffCodec.encodeRgb(21, 13, rgbPix,
        Options(littleEndian = le, compression = comp, rowsPerStrip = 5))
      val img = imageIoRead(bytes)
      assert(img.getWidth == 21 && img.getHeight == 13)
      for (y <- 0 until 13; x <- 0 until 21) {
        val (r, g, b) = rgbPix(x, y)
        assert((img.getRGB(x, y) & 0xFFFFFF) == ((r << 16) | (g << 8) | b),
          s"imageio rgb le=$le comp=$comp ($x,$y)")
      }
    }
    // predictor 2 through the JDK reader (reader-side undo)
    val predBytes = TiffCodec.encodeRgb(21, 13, rgbPix,
      Options(compression = 5, predictor = 2))
    val predImg = imageIoRead(predBytes)
    for (y <- 0 until 13; x <- 0 until 21) {
      val (r, g, b) = rgbPix(x, y)
      assert((predImg.getRGB(x, y) & 0xFFFFFF) == ((r << 16) | (g << 8) | b),
        s"imageio predictor ($x,$y)")
    }
    // 8-bit gray: raster samples are the raw values
    val gImg = imageIoRead(TiffCodec.encodeGray(17, 9, gray8,
      opts = Options(compression = 32773)))
    for (y <- 0 until 9; x <- 0 until 17)
      assert(gImg.getRaster.getSample(x, y, 0) == gray8(x, y),
        s"imageio gray ($x,$y)")
    // 16-bit gray raster
    val g16 = imageIoRead(TiffCodec.encodeGray(12, 7, gray16, bits = 16))
    for (y <- 0 until 7; x <- 0 until 12)
      assert(g16.getRaster.getSample(x, y, 0) == gray16(x, y),
        s"imageio gray16 ($x,$y)")
    // palette: the JDK expands through the same ColorMap
    val pal = (0 until 5).map(i => ((i * 37 + 11) % 256, (i * 73 + 5) % 256,
      (i * 151 + 97) % 256))
    val idx = (x: Int, y: Int) => (x * 3 + y * 7) % 5
    val pImg = imageIoRead(TiffCodec.encodePalette(14, 8, pal, idx))
    for (y <- 0 until 8; x <- 0 until 14) {
      val (r, g, b) = pal(idx(x, y))
      assert((pImg.getRGB(x, y) & 0xFFFFFF) == ((r << 16) | (g << 8) | b),
        s"imageio palette ($x,$y)")
    }
  }

  test("our decoder reads the JDK writer's LZW/PackBits/Deflate TIFFs") {
    import javax.imageio.{ImageIO, ImageWriteParam, IIOImage}
    val w = 37; val h = 19
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgbPix(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val want = expectRgb(w, h, rgbPix)
    for (ctype <- Seq("LZW", "PackBits", "Deflate", "ZLib")) {
      val writer = ImageIO.getImageWritersByFormatName("tiff").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionType(ctype)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), p)
      ios.close(); writer.dispose()
      check(bos.toByteArray, w, h, want, s"jdk-written $ctype")
    }
    // uncompressed via MODE_DISABLED
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_DISABLED)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), p)
    ios.close(); writer.dispose()
    check(bos.toByteArray, w, h, want, "jdk-written uncompressed")
  }

  test("PackBits literal run is bounded by the strip, not its neighbor") {
    // [2, a, b, c] = literal run of 3: legal when it ends the strip
    val buf = Array[Byte](9, 9, 2, 10, 11, 12, 7, 7)
    assert(TiffCodec.packBitsDecode(buf, 2, 4, 3).toSeq == Seq(10, 11, 12))
    // declared len 3 but the run needs 4 bytes: must refuse, never
    // read the neighbor byte (the old off-by-one allowed i+n == end)
    intercept[IllegalArgumentException] {
      TiffCodec.packBitsDecode(buf, 2, 3, 3)
    }
  }

  test("an IFD entry with a count of 0 reads as an absent tag and refuses") {
    val b = TiffCodec.encodeRgb(8, 6, rgbPix)
    assert(TiffCodec.decode(b)._1 == 8)
    // the first entry (ImageWidth, at 10) keeps its count at 14..17
    b(13) = 0; b(14) = 0
    assert(!TiffCodec.parseIfd(b)._2.contains(256))
    val e = intercept[IllegalArgumentException] { TiffCodec.decode(b) }
    assert(e.getMessage.contains("tag 256"))
  }

  test("unsupported shapes refuse loudly") {
    intercept[IllegalArgumentException] {
      TiffCodec.decode(Array[Byte]('I', 'I', 42, 0, 8, 0, 0, 0))
    }
    // tiled TIFF: patch a TileWidth tag into a valid fixture's IFD
    val bytes = TiffCodec.encodeGray(4, 4, gray8)
    val (_, tags) = TiffCodec.parseIfd(bytes)
    assert(tags.contains(256) && tags.contains(273))
    intercept[IllegalArgumentException] {
      // compression 4 (CCITT T.6) is codec-bound: rewrite tag 259
      val b = bytes.clone()
      // find the IFD entry for tag 259 (count at offset 8, entries at 10)
      var e = 10
      while (!((b(e) & 0xFF) == 3 && (b(e + 1) & 0xFF) == 1)) e += 12
      b(e + 8) = 4
      TiffCodec.decode(b)
    }
  }
}
