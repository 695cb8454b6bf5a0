package graft.llm

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}

import org.scalatest.funsuite.AnyFunSuite

/** The table-driven sparse IDCT in [[JpegCodec]] against the textbook
  * 64-term double sum it replaces: equal bits per block, and equal
  * decoded planes per stream, so no pixel of any decode can move. */
class JpegIdctSpec extends AnyFunSuite {

  private def cosTab(u: Int, x: Int): Double =
    math.cos((2 * x + 1) * u * math.Pi / 16.0)

  private def cC(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  /** The reference: every pixel sums all 64 terms. */
  private def naiveIdct(in: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    for (y <- 0 until 8; x <- 0 until 8) {
      var s = 0.0
      for (v <- 0 until 8; u <- 0 until 8)
        s += cC(u) * cC(v) * in(v * 8 + u) * cosTab(u, x) * cosTab(v, y)
      out(y * 8 + x) = s / 4.0
    }
    out
  }

  /** Arrays.equals on doubles compares bits (it tells -0.0 from 0.0). */
  private def assertSameBits(in: Array[Double], clue: String): Unit = {
    val mine = JpegCodec.idct(in)
    val ref = naiveIdct(in)
    assert(java.util.Arrays.equals(mine, ref),
      s"$clue: first split at ${mine.indices.find(i => mine(i) != ref(i))}")
  }

  test("random sparse and dense dequantized blocks: same bits as the 64-term sum") {
    val rnd = new scala.util.Random(20240917)
    for (trial <- 0 until 400) {
      val nonzero = if (trial < 300) 1 + rnd.nextInt(12) else 64
      val in = new Array[Double](64)
      for (_ <- 0 until nonzero) {
        val q = 1 + rnd.nextInt(120)
        in(rnd.nextInt(64)) = (rnd.nextInt(2047) - 1023).toDouble * q
      }
      assertSameBits(in, s"trial $trial ($nonzero nonzero)")
    }
    // non-integer and -0.0 inputs, which dequantization never makes
    for (trial <- 0 until 50) {
      val in = Array.fill(64)(if (rnd.nextInt(3) == 0) rnd.nextGaussian() * 300 else -0.0)
      assertSameBits(in, s"gaussian trial $trial")
    }
    assertSameBits(new Array[Double](64), "all-zero block")
  }

  test("DC-only block landing on an exact .5 rounds like the reference") {
    // in exact arithmetic a DC of 8k+4 gives k + ½ at every pixel; in
    // doubles the sum falls just short of it, and for DC = 4 adding
    // 128.0 lands on 128.5 exactly, a tie Math.round takes upwards and
    // any reordering of the product could flip
    val in = new Array[Double](64)
    in(0) = 4.0
    assertSameBits(in, "dc 4")
    assert(JpegCodec.idct(in).forall(_ + 128.0 == 128.5))
    assert(math.round(JpegCodec.idct(in)(0) + 128.0) == 129L)
    for (dc <- -1020 to 1020 by 8) {
      in(0) = dc.toDouble
      assertSameBits(in, s"dc $dc")
    }
  }

  // ---- whole-stream decode: the same decoder through either transform

  private def assertSameDecode(bytes: Array[Byte], clue: String): Unit = {
    val (w, h, mine) = JpegCodec.decode(bytes)
    val (rw, rh, ref) = JpegCodec.decodeWith(bytes, naiveIdct)
    assert((w, h) == ((rw, rh)), clue)
    assert(java.util.Arrays.equals(mine, ref), s"$clue: decoded planes differ")
  }

  private def noise(w: Int, h: Int, seed: Int, gray: Boolean): BufferedImage = {
    val rnd = new scala.util.Random(seed)
    val img = new BufferedImage(w, h,
      if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      // a gradient plus noise: both low- and high-frequency coefficients
      val g = (40 + x * 3 + y * 2 + rnd.nextInt(48)) % 256
      if (gray) img.getRaster.setSample(x, y, 0, g)
      else img.setRGB(x, y, (g << 16) | (((g + rnd.nextInt(64)) % 256) << 8) |
        ((255 - g + rnd.nextInt(32)) % 256))
    }
    img
  }

  /** ImageIO's JPEG writer; `chroma420 = false` rewrites the luma
    * sampling factors in its metadata to 1×1, making a 4:4:4 stream. */
  private def imageIoJpeg(img: BufferedImage, progressive: Boolean,
                          chroma420: Boolean = true): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), p)
    if (!chroma420) {
      val format = "javax_imageio_jpeg_image_1.0"
      val tree = meta.getAsTree(format)
      val specs = tree.asInstanceOf[org.w3c.dom.Element].getElementsByTagName("componentSpec")
      for (i <- 0 until specs.getLength) {
        val c = specs.item(i).asInstanceOf[org.w3c.dom.Element]
        c.setAttribute("HsamplingFactor", "1")
        c.setAttribute("VsamplingFactor", "1")
      }
      meta.setFromTree(format, tree)
    }
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, meta), p)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  /** Luma sampling factors as declared in the stream's SOF. */
  private def lumaSampling(b: Array[Byte]): Int = {
    val sof = b.indices.find(i => (b(i) & 0xFF) == 0xFF && i + 1 < b.length &&
      Set(0xC0, 0xC1, 0xC2)(b(i + 1) & 0xFF)).get
    b(sof + 11) & 0xFF
  }

  test("ImageIO baseline and progressive streams, 4:2:0 and 4:4:4, decode to the reference planes") {
    for ((w, h) <- Seq((45, 37), (64, 48)); progressive <- Seq(false, true);
         chroma420 <- Seq(true, false)) {
      val bytes = imageIoJpeg(noise(w, h, w * h, gray = false), progressive, chroma420)
      assert(lumaSampling(bytes) == (if (chroma420) 0x22 else 0x11))
      assertSameDecode(bytes, s"ImageIO ${w}x$h progressive=$progressive 4:2:0=$chroma420")
    }
  }

  test("grayscale streams decode to the reference planes") {
    for ((w, h) <- Seq((17, 11), (33, 26)); progressive <- Seq(false, true))
      assertSameDecode(imageIoJpeg(noise(w, h, w + h, gray = true), progressive),
        s"gray ${w}x$h progressive=$progressive")
  }

  test("own-encoder 4:2:2, 4:4:0 and restart streams decode to the reference planes") {
    val rnd = new scala.util.Random(77)
    val px = Array.fill(29, 41)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    val pix = (x: Int, y: Int) => px(y)(x)
    for ((sh, sv) <- Seq((2, 1), (1, 2)))
      assertSameDecode(JpegCodec.encode(41, 29, pix, 85, sampH = sh, sampV = sv),
        s"own $sh x $sv")
    assertSameDecode(JpegCodec.encode(41, 29, pix, 75, restartInterval = 3), "own restart 3")
    assertSameDecode(JpegCodec.encode(41, 29, pix, 75, restartInterval = 2, sampH = 2, sampV = 2),
      "own 4:2:0 restart 2")
  }
}
