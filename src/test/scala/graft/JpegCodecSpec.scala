package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.JpegCodec

/** JPEG codec ground truth: round-trip error bounds against the
  * original plane, and BOTH cross-directions against the JDK's
  * independent ImageIO codec (encode-mine/decode-theirs and
  * encode-theirs/decode-mine) — tolerances, not equality, because
  * T.81 allows ±1-level IDCT variance between conforming decoders and
  * ImageIO subsamples chroma. */
class JpegCodecSpec extends AnyFunSuite {

  // a smooth plane: quantization error stays near the DC/low-AC terms
  private val smooth = (x: Int, y: Int) =>
    (96 + x * 2 + y, 80 + x + y * 2, 120 + x - y / 2)

  private def maxErr(a: Array[Float], b: Array[Float]): Float = {
    require(a.length == b.length, s"length ${a.length} vs ${b.length}")
    a.zip(b).map { case (x, y) => math.abs(x - y) }.max
  }

  private def planeOf(w: Int, h: Int,
                      pix: (Int, Int) => (Int, Int, Int)): Array[Float] = {
    val out = new Array[Float](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pix(x, y)
      val o = (y * w + x) * 3
      out(o) = (r & 0xFF).toFloat
      out(o + 1) = (g & 0xFF).toFloat
      out(o + 2) = (b & 0xFF).toFloat
    }
    out
  }

  test("round-trip: smooth plane survives q95 within a tight bound (incl. non-multiple-of-8 dims)") {
    for ((w, h) <- Seq((24, 16), (17, 13), (8, 8), (1, 1), (9, 1))) {
      val bytes = JpegCodec.encode(w, h, smooth, quality = 95)
      val (gw, gh, out) = JpegCodec.decode(bytes)
      assert((gw, gh) === ((w, h)))
      val err = maxErr(out, planeOf(w, h, smooth))
      assert(err <= 6.0f, s"${w}x$h max error $err")
    }
  }

  test("round-trip with restart markers matches the restart-free decode exactly") {
    val plain = JpegCodec.decode(JpegCodec.encode(24, 24, smooth, 90))._3
    val rst = JpegCodec.decode(
      JpegCodec.encode(24, 24, smooth, 90, restartInterval = 2))._3
    assert(plain.toSeq == rst.toSeq)
  }

  test("cross-check A: ImageIO decodes OUR stream to within IDCT variance") {
    val w = 24; val h = 16
    val bytes = JpegCodec.encode(w, h, smooth, quality = 95)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO rejected our stream")
    assert(img.getWidth == w && img.getHeight == h)
    val theirs = new Array[Float](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val o = (y * w + x) * 3
      theirs(o) = ((rgb >> 16) & 0xFF).toFloat
      theirs(o + 1) = ((rgb >> 8) & 0xFF).toFloat
      theirs(o + 2) = (rgb & 0xFF).toFloat
    }
    val mine = JpegCodec.decode(bytes)._3
    val err = maxErr(mine, theirs)
    assert(err <= 2.0f, s"decoder disagreement $err > IDCT variance")
  }

  test("cross-check B: we decode ImageIO's stream (chroma-subsampled, standard tables)") {
    val w = 32; val h = 24
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = smooth(x, y)
      img.setRGB(x, y, ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val (gw, gh, mine) = JpegCodec.decode(bytes)
    assert((gw, gh) === ((w, h)))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val theirs = new Array[Float](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = back.getRGB(x, y)
      val o = (y * w + x) * 3
      theirs(o) = ((rgb >> 16) & 0xFF).toFloat
      theirs(o + 1) = ((rgb >> 8) & 0xFF).toFloat
      theirs(o + 2) = (rgb & 0xFF).toFloat
    }
    // ImageIO upsamples chroma with interpolation, we replicate — on a
    // smooth plane the split stays small
    val err = maxErr(mine, theirs)
    assert(err <= 12.0f, s"vs ImageIO decode of ImageIO stream: $err")
    // and against the ORIGINAL plane (both codecs' loss combined)
    val errOrig = maxErr(mine, planeOf(w, h, smooth))
    assert(errOrig <= 16.0f, s"vs original plane: $errOrig")
  }

  test("grayscale (1-component) JPEG decodes; gray replicates across RGB") {
    val w = 17; val h = 11
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      // write the RASTER sample directly: setRGB on TYPE_BYTE_GRAY
      // color-converts through sRGB gamma and would skew the stored
      // plane away from the formula
      img.getRaster.setSample(x, y, 0, 60 + x * 4 + y * 3)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val (gw, gh, mine) = JpegCodec.decode(bytes)
    assert((gw, gh) === ((w, h)))
    for (i <- 0 until w * h) { // replication contract
      assert(mine(i * 3) == mine(i * 3 + 1) && mine(i * 3) == mine(i * 3 + 2))
    }
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val theirs = new Array[Float](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      val g = back.getRaster.getSample(x, y, 0).toFloat // raw gray sample
      theirs(o) = g; theirs(o + 1) = g; theirs(o + 2) = g
    }
    assert(maxErr(mine, theirs) <= 2.0f)
    // and against the original plane: smooth gradient, tight bound
    val orig = planeOf(w, h, (x, y) => {
      val g = 60 + x * 4 + y * 3; (g, g, g)
    })
    assert(maxErr(mine, orig) <= 6.0f)
  }

  test("refusals: malformed scan script, truncated, not-a-JPEG, 12-bit, lossless") {
    val good = JpegCodec.encode(16, 16, smooth, 90)
    val sof = good.indices.find(i => (good(i) & 0xFF) == 0xFF &&
      i + 1 < good.length && (good(i + 1) & 0xFF) == 0xC0).get
    // patch SOF0 -> SOF2 WITHOUT rewriting the scan script: the
    // baseline full-band scan is malformed under progressive rules
    val prog = good.clone()
    prog(sof + 1) = 0xC2.toByte
    val e = intercept[IllegalArgumentException] { JpegCodec.decode(prog) }
    assert(e.getMessage.contains("progressive"))
    // 12-bit precision: patch the SOF precision byte
    val deep = good.clone()
    deep(sof + 4) = 12.toByte
    intercept[IllegalArgumentException] { JpegCodec.decode(deep) }
    // lossless (SOF3) refuses by frame type
    val lossless = good.clone()
    lossless(sof + 1) = 0xC3.toByte
    intercept[IllegalArgumentException] { JpegCodec.decode(lossless) }
    // truncated entropy stream
    intercept[IllegalArgumentException] {
      JpegCodec.decode(good.take(20))
    }
    intercept[IllegalArgumentException] {
      JpegCodec.decode("definitely not a jpeg".getBytes("UTF-8"))
    }
  }

  test("a table selector out of range or naming an undefined table refuses") {
    val good = JpegCodec.encode(16, 16, smooth, 90)
    // 154: the third SOF component's quantization-table selector (0x7F);
    // 156: the first DHT's marker byte, so DC table 0 is never defined
    // and the scan selects a Huffman table that does not exist
    for ((off, v, msg) <- Seq((154, 0x7FFF, "quantization table"), (156, 0x0000, "Huffman table"))) {
      val bad = good.clone()
      bad(off) = (v >> 8).toByte; bad(off + 1) = v.toByte
      val e = intercept[IllegalArgumentException] { JpegCodec.decode(bad) }
      assert(e.getMessage.contains(msg), s"offset $off: ${e.getMessage}")
    }
  }

  test("standalone markers in the header walk: TEM and a stray RSTn are skipped") {
    val good = JpegCodec.encode(16, 16, smooth, 90)
    val base = JpegCodec.decode(good)._3
    // splice FF 01 (TEM) and FF D0 (stray RSTn) right after SOI
    val spliced = good.take(2) ++
      Array(0xFF.toByte, 0x01.toByte, 0xFF.toByte, 0xD0.toByte) ++ good.drop(2)
    assert(JpegCodec.decode(spliced)._3.toSeq == base.toSeq)
    // a corrupt DHT symbol count must refuse, not read into the next
    // marker: patch the first DHT BITS byte up so counts exceed len
    val dht = good.indices.find(i => (good(i) & 0xFF) == 0xFF &&
      i + 1 < good.length && (good(i + 1) & 0xFF) == 0xC4).get
    val bad = good.clone()
    bad(dht + 5) = 0xFF.toByte // BITS[1] = 255 symbols
    val e = intercept[IllegalArgumentException] { JpegCodec.decode(bad) }
    assert(e.getMessage.contains("DHT"))
  }

  private def sofMarkers(b: Array[Byte]): Set[Int] =
    b.indices.filter(i => (b(i) & 0xFF) == 0xFF && i + 1 < b.length &&
      Set(0xC0, 0xC1, 0xC2)((b(i + 1) & 0xFF))).map(i => b(i + 1) & 0xFF).toSet

  test("subsampled round-trips: 4:2:2, 4:4:0, 4:2:0 decode within bounds and ImageIO agrees") {
    for ((sh, sv) <- Seq((2, 1), (1, 2), (2, 2));
         (w, h) <- Seq((24, 16), (17, 13), (9, 21))) {
      val bytes = JpegCodec.encode(w, h, smooth, quality = 95,
        sampH = sh, sampV = sv)
      val (gw, gh, mine) = JpegCodec.decode(bytes)
      assert((gw, gh) === ((w, h)), s"$sh x $sv dims")
      // vs the original plane: chroma subsampling loses a little more
      // than 4:4:4 (bound measured; structural bugs measure 100+)
      val errOrig = maxErr(mine, planeOf(w, h, smooth))
      assert(errOrig <= 10.0f, s"$sh x $sv ${w}x$h vs plane: $errOrig")
      // the independent JDK codec reads our subsampled stream; its
      // fancy (interpolating) chroma upsampling vs our replication
      // splits a few levels on a smooth plane
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == w && img.getHeight == h,
        s"ImageIO rejected the $sh x $sv stream")
      val theirs = new Array[Float](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * 3
        theirs(o) = ((rgb >> 16) & 0xFF).toFloat
        theirs(o + 1) = ((rgb >> 8) & 0xFF).toFloat
        theirs(o + 2) = (rgb & 0xFF).toFloat
      }
      val err = maxErr(mine, theirs)
      assert(err <= 8.0f, s"$sh x $sv ${w}x$h vs ImageIO: $err")
    }
  }

  test("progressive own-encoder: SOF2 stream decodes EXACTLY equal to the sequential stream") {
    // spectral selection re-orders the SAME quantized coefficients, so
    // the unified coefficient-accumulating decoder must reproduce the
    // sequential decode bit-for-bit — across all four sampling modes
    // and on arbitrary (non-smooth) content
    val rnd = new scala.util.Random(1234)
    for (((sh, sv), i) <- Seq((1, 1), (2, 1), (1, 2), (2, 2)).zipWithIndex) {
      val w = 9 + rnd.nextInt(40); val h = 9 + rnd.nextInt(40)
      val px = Array.fill(h, w)(
        (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val pix = (x: Int, y: Int) => px(y)(x)
      val q = 60 + 10 * i
      val seq = JpegCodec.encode(w, h, pix, q, sampH = sh, sampV = sv)
      val prog = JpegCodec.encode(w, h, pix, q, sampH = sh, sampV = sv,
        progressive = true)
      assert(sofMarkers(seq) == Set(0xC0) && sofMarkers(prog) == Set(0xC2))
      val a = JpegCodec.decode(seq)
      val b = JpegCodec.decode(prog)
      assert((a._1, a._2) == ((b._1, b._2)))
      assert(a._3.toSeq == b._3.toSeq, s"$sh x $sv ${w}x$h q$q progressive split")
      // and ImageIO reads our progressive stream to the same pixels it
      // reads from our sequential stream (its own IDCT both times)
      val ia = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(seq))
      val ib = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(prog))
      assert(ia != null && ib != null, "ImageIO rejected a stream")
      for (y <- 0 until h; x <- 0 until w)
        assert(ia.getRGB(x, y) == ib.getRGB(x, y),
          s"ImageIO split at ($x,$y) for $sh x $sv")
    }
  }

  private def imageIoProgressive(img: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("ImageIO progressive stream (successive approximation) decodes within tolerance") {
    // the JDK writer's progressive script uses successive
    // approximation (Ah/Al refinement scans) — the decode paths our
    // own spectral-selection encoder cannot reach. Grayscale first:
    // no chroma upsampling, so mine-vs-ImageIO pins to IDCT variance.
    val w = 33; val h = 26
    val gimg = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gimg.getRaster.setSample(x, y, 0, (40 + x * 5 + y * 3) % 256)
    val gbytes = imageIoProgressive(gimg)
    assert(sofMarkers(gbytes) == Set(0xC2), "JDK writer did not emit SOF2")
    val (gw, gh, mine) = JpegCodec.decode(gbytes)
    assert((gw, gh) === ((w, h)))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gbytes))
    val theirs = new Array[Float](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val g = back.getRaster.getSample(x, y, 0).toFloat
      val o = (y * w + x) * 3
      theirs(o) = g; theirs(o + 1) = g; theirs(o + 2) = g
    }
    assert(maxErr(mine, theirs) <= 2.0f, "grayscale progressive disagreement")

    // color (4:2:0 subsampled by the JDK writer): upsample-filter
    // split on a smooth plane stays within the cross-check B bound
    val cimg = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = smooth(x, y)
      cimg.setRGB(x, y, ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF))
    }
    val cbytes = imageIoProgressive(cimg)
    assert(sofMarkers(cbytes) == Set(0xC2))
    val (cw2, ch2, cmine) = JpegCodec.decode(cbytes)
    assert((cw2, ch2) === ((w, h)))
    val cback = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(cbytes))
    val ctheirs = new Array[Float](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = cback.getRGB(x, y)
      val o = (y * w + x) * 3
      ctheirs(o) = ((rgb >> 16) & 0xFF).toFloat
      ctheirs(o + 1) = ((rgb >> 8) & 0xFF).toFloat
      ctheirs(o + 2) = (rgb & 0xFF).toFloat
    }
    assert(maxErr(cmine, ctheirs) <= 12.0f, "color progressive disagreement")
  }

  test("property: seeded-random planes through ImageIO progressive grayscale — refinement scans at scale") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed * 104729)
      val w = 1 + rnd.nextInt(48); val h = 1 + rnd.nextInt(48)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val bytes = imageIoProgressive(img)
      assert(sofMarkers(bytes) == Set(0xC2), s"seed $seed: not progressive")
      val (gw, gh, mine) = JpegCodec.decode(bytes)
      assert((gw, gh) === ((w, h)), s"seed $seed dims")
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val theirs = new Array[Float](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val g = back.getRaster.getSample(x, y, 0).toFloat
        val o = (y * w + x) * 3
        theirs(o) = g; theirs(o + 1) = g; theirs(o + 2) = g
      }
      val err = maxErr(mine, theirs)
      assert(err <= 2.0f, s"seed $seed (${w}x$h): progressive disagreement $err")
    }
  }

  test("property: seeded-random planes — our decoder agrees with ImageIO on our stream within IDCT variance") {
    // arbitrary (not smooth) content, deterministic seeds: validates
    // Huffman/zigzag/DCT against the independent JDK codec on inputs
    // with full-range coefficients, where a table or scan bug cannot
    // hide behind smoothness
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed * 7919)
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(40)
      val px = Array.fill(h, w)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val bytes = JpegCodec.encode(w, h, (x, y) => px(y)(x),
        quality = 50 + rnd.nextInt(48))
      val (gw, gh, mine) = JpegCodec.decode(bytes)
      assert((gw, gh) === ((w, h)), s"seed $seed dims")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == w && img.getHeight == h,
        s"seed $seed: ImageIO rejected the stream")
      val theirs = new Array[Float](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * 3
        theirs(o) = ((rgb >> 16) & 0xFF).toFloat
        theirs(o + 1) = ((rgb >> 8) & 0xFF).toFloat
        theirs(o + 2) = (rgb & 0xFF).toFloat
      }
      val err = maxErr(mine, theirs)
      assert(err <= 2.0f, s"seed $seed (${w}x$h): decoder disagreement $err")
    }
  }

  test("sharp (sawtooth) plane still decodes and bounds its error by the quant step") {
    val sharp = (x: Int, y: Int) =>
      ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
       (x + y * 2 + 101) % 256)
    val w = 16; val h = 16
    val bytes = JpegCodec.encode(w, h, sharp, quality = 97)
    val (gw, gh, out) = JpegCodec.decode(bytes)
    assert((gw, gh) === ((w, h)))
    // sawtooth wrap puts a 255->0 cliff inside blocks: the error bound
    // is loose but must stay FAR from garbage (a Huffman/zigzag bug
    // produces errors ~128+)
    val err = maxErr(out, planeOf(w, h, sharp))
    assert(err <= 96.0f, s"sharp-plane error $err looks structural")
  }

  test("encoder output is pinned: SHA-256 of four parameter sets") {
    // the encoder's exact bytes: any change to the forward DCT's
    // arithmetic or to the bitstream layout moves a digest
    val pix = (x: Int, y: Int) =>
      ((x * 7 + y * 13) % 256, (96 + x * 2 + y) % 256, (x * y + 101) % 256)
    def sha256(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(v => f"${v & 0xFF}%02x").mkString
    val cases = Seq(
      "4:4:4" -> JpegCodec.encode(45, 37, pix),
      "4:2:0" -> JpegCodec.encode(45, 37, pix, sampH = 2, sampV = 2),
      "restart 3" -> JpegCodec.encode(45, 37, pix, restartInterval = 3),
      "progressive" -> JpegCodec.encode(45, 37, pix, progressive = true))
    val expected = Map(
      "4:4:4" -> "f5cb41ad06d81eda9473b8d1ee13bf2e392724303c88a00eb948142ea4284d91",
      "4:2:0" -> "52e36606bb81ac2416dd56db4008ce1e1a18bbb9d21ce458c78ef40e06ea1881",
      "restart 3" -> "549cd88a4931e4e782e839f878c33522b47a3e32e42ffcc059e0f3adbdbf2093",
      "progressive" -> "b3f08f4f8f8f6f0ff2102d21ec88d59c5b5e6aa8630c470878e19eed3f257cbf")
    for ((name, bytes) <- cases) assert(sha256(bytes) == expected(name), name)
  }

  test("hostile SOF dimensions refuse before allocating") {
    // 65535² overflows the padded block count in Int (it wraps to 0);
    // 40000² would ask for gigabytes of coefficients before any scan
    def withDims(b: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val sof = b.indices.find(i => (b(i) & 0xFF) == 0xFF &&
        i + 1 < b.length && (b(i + 1) & 0xFF) == 0xC0).get
      val out = b.clone()
      out(sof + 5) = (h >> 8).toByte; out(sof + 6) = h.toByte
      out(sof + 7) = (w >> 8).toByte; out(sof + 8) = w.toByte
      out
    }
    // SOI, then a grayscale SOF0 (8-bit, 1 component, 1x1, table 0), EOI
    val headerOnly = Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 0x08,
      0x00, 0x10, 0x00, 0x10, 0x01, 0x01, 0x11, 0x00, 0xFF, 0xD9).map(_.toByte)
    val full = JpegCodec.encode(16, 16, smooth, 90)
    for (stream <- Seq(full, headerOnly); (w, h) <- Seq((65535, 65535), (40000, 40000))) {
      val e = intercept[IllegalArgumentException] {
        JpegCodec.decode(withDims(stream, w, h))
      }
      assert(e.getMessage.contains("too large"), s"${w}x$h: ${e.getMessage}")
    }
    // the same header at its real size still parses up to the missing scan
    val e = intercept[IllegalArgumentException] { JpegCodec.decode(headerOnly) }
    assert(e.getMessage.contains("SOS"))
  }
}
