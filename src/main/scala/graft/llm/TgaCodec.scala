package graft.llm

import scala.collection.mutable.ArrayBuffer

/** Truevision TGA codec — the game/texture-asset raster format.
  *
  * Decode covers image types 1/2/3 and their RLE variants 9/10/11:
  * 8-bit grayscale and palette indices (24/32-bit map entries),
  * 24-bit BGR, 32-bit BGRA, bottom-up (default) and top-down row
  * order, ID fields skipped, RLE packets that may NOT span the
  * nominal row boundary requirement (runs are decoded against the
  * full pixel stream, the liberal reading every real decoder uses).
  * 15/16-bit ARGB1555 and right-to-left origins refuse loudly.
  *
  * Channel contract mirrors the other codecs: gray/palette-gray 1
  * channel raw, BGR→RGB 3, BGRA→RGBA 4. TGA has no JDK reader, so
  * the pin is fixture round-trips + the q269 generative oracle (the
  * format carries no entropy coding — RLE packets and row order are
  * the only moving parts).
  */
object TgaCodec {

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)

  /** TGA has no magic; sniff the header's internal consistency the
    * way stb_image does: colorMapType ∈ {0,1}, a known imageType,
    * a legal depth, nonzero dims. Only safe AFTER richer magics. */
  def isTga(b: Array[Byte]): Boolean = {
    if (b.length < 18) return false
    val cmType = b(1) & 0xFF
    val imgType = b(2) & 0xFF
    val depth = b(16) & 0xFF
    val w = le16(b, 12); val h = le16(b, 14)
    cmType <= 1 &&
      Set(1, 2, 3, 9, 10, 11)(imgType) &&
      (if (imgType == 1 || imgType == 9) cmType == 1 && depth == 8
       else Set(8, 24, 32)(depth)) &&
      w > 0 && h > 0 && w <= 16384 && h <= 16384
  }

  def decode(b: Array[Byte]): (Int, Int, Array[Float]) = {
    require(isTga(b), "not a decodable TGA")
    val idLen = b(0) & 0xFF
    val cmType = b(1) & 0xFF
    val imgType = b(2) & 0xFF
    val cmFirst = le16(b, 3)
    val cmLen = le16(b, 5)
    val cmBits = b(7) & 0xFF
    val w = le16(b, 12)
    val h = le16(b, 14)
    val depth = b(16) & 0xFF
    val desc = b(17) & 0xFF
    require((desc & 0x10) == 0, "right-to-left TGA unsupported")
    val topDown = (desc & 0x20) != 0
    val rle = imgType >= 9
    val baseType = if (rle) imgType - 8 else imgType
    require(w.toLong * h <= Multimodal.MaxPixels, s"TGA $w x $h too large")

    var pos = 18 + idLen
    require(pos <= b.length, s"TGA ID field (len=$idLen) overruns the file")
    val cm: Array[Int] = if (cmType == 1) {
      require(cmLen > 0 && cmLen <= 256 && cmFirst == 0,
        s"TGA color map first=$cmFirst len=$cmLen unsupported")
      require(cmBits == 24 || cmBits == 32, s"TGA map entry $cmBits bits")
      val bytes = cmBits / 8
      require(pos + cmLen.toLong * bytes <= b.length,
        s"TGA color map ($cmLen x $bytes bytes) overruns the file")
      val m = new Array[Int](cmLen * 4)
      var i = 0
      while (i < cmLen) {
        m(i * 4) = b(pos + i * bytes + 2) & 0xFF     // R (stored BGR[A])
        m(i * 4 + 1) = b(pos + i * bytes + 1) & 0xFF
        m(i * 4 + 2) = b(pos + i * bytes) & 0xFF
        m(i * 4 + 3) = if (bytes == 4) b(pos + i * bytes + 3) & 0xFF else 255
        i += 1
      }
      pos += cmLen * bytes
      m
    } else null
    require(baseType != 1 || cm != null, "palette TGA missing color map")

    val bpp = depth / 8
    val n = w * h
    // decode the raw pixel stream (RLE or flat) into file-order bytes
    val px = new Array[Byte](n * bpp)
    if (!rle) {
      require(pos + n.toLong * bpp <= b.length, "TGA pixel data short")
      System.arraycopy(b, pos, px, 0, n * bpp)
    } else {
      var o = 0
      var i = pos
      while (o < n * bpp) {
        require(i < b.length, "TGA RLE stream short")
        val hdr = b(i) & 0xFF; i += 1
        val count = (hdr & 0x7F) + 1
        if ((hdr & 0x80) != 0) { // run packet: one pixel repeated
          require(i + bpp <= b.length && o + count * bpp <= n * bpp,
            "TGA RLE run overrun")
          var k = 0
          while (k < count) {
            System.arraycopy(b, i, px, o, bpp); o += bpp; k += 1
          }
          i += bpp
        } else { // literal packet
          require(i + count * bpp <= b.length && o + count * bpp <= n * bpp,
            "TGA RLE literal overrun")
          System.arraycopy(b, i, px, o, count * bpp)
          i += count * bpp; o += count * bpp
        }
      }
    }

    val chans = baseType match {
      case 3 => 1
      case 1 => if ((0 until cm.length / 4).exists(i => cm(i * 4 + 3) != 255)) 4
                else 3
      case _ => if (bpp == 4) 4 else 3
    }
    val out = new Array[Float](n * chans)
    var y = 0
    while (y < h) {
      val srcY = if (topDown) y else h - 1 - y
      var x = 0
      while (x < w) {
        val s = (srcY * w + x) * bpp
        val d = (y * w + x) * chans
        baseType match {
          case 3 => out(d) = px(s) & 0xFF
          case 1 =>
            val idx = px(s) & 0xFF
            require(idx < cm.length / 4, s"TGA palette index $idx")
            out(d) = cm(idx * 4); out(d + 1) = cm(idx * 4 + 1)
            out(d + 2) = cm(idx * 4 + 2)
            if (chans == 4) out(d + 3) = cm(idx * 4 + 3)
          case _ =>
            out(d) = px(s + 2) & 0xFF     // stored BGR[A]
            out(d + 1) = px(s + 1) & 0xFF
            out(d + 2) = px(s) & 0xFF
            if (chans == 4) out(d + 3) = px(s + 3) & 0xFF
        }
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  // ---------------------------------------------------------------- encode

  case class Options(rle: Boolean = false, topDown: Boolean = false,
                     idField: String = "")

  private def header(imgType: Int, cmLen: Int, cmBits: Int, w: Int, h: Int,
                     depth: Int, opts: Options): ArrayBuffer[Byte] = {
    val out = new ArrayBuffer[Byte]()
    val id = opts.idField.getBytes("US-ASCII")
    require(id.length <= 255)
    out += id.length.toByte
    out += (if (cmLen > 0) 1 else 0).toByte
    out += (if (opts.rle) imgType + 8 else imgType).toByte
    out += 0 += 0 // first entry
    out += (cmLen & 0xFF).toByte += ((cmLen >> 8) & 0xFF).toByte
    out += cmBits.toByte
    out += 0 += 0 += 0 += 0 // x/y origin
    out += (w & 0xFF).toByte += ((w >> 8) & 0xFF).toByte
    out += (h & 0xFF).toByte += ((h >> 8) & 0xFF).toByte
    out += depth.toByte
    out += (if (opts.topDown) 0x20 else 0).toByte
    out ++= id
    out
  }

  /** Pack file-order pixel bytes, optionally RLE: maximal runs (cap
    * 128), literals between them. */
  private def pack(px: Array[Byte], bpp: Int, rle: Boolean,
                   out: ArrayBuffer[Byte]): Unit = {
    if (!rle) { out ++= px; return }
    val n = px.length / bpp
    def same(i: Int, j: Int): Boolean =
      (0 until bpp).forall(k => px(i * bpp + k) == px(j * bpp + k))
    var i = 0
    while (i < n) {
      var run = 1
      while (i + run < n && run < 128 && same(i, i + run)) run += 1
      if (run >= 2) {
        out += (0x80 | (run - 1)).toByte
        out ++= px.slice(i * bpp, (i + 1) * bpp)
        i += run
      } else {
        var j = i + 1
        while (j < n && j - i < 128 &&
               !(j + 1 < n && same(j, j + 1))) j += 1
        out += (j - i - 1).toByte
        out ++= px.slice(i * bpp, j * bpp)
        i = j
      }
    }
  }

  private def fileOrder(w: Int, h: Int, topDown: Boolean)
      : Seq[(Int, Int)] =
    for (fy <- 0 until h; x <- 0 until w)
      yield (x, if (topDown) fy else h - 1 - fy)

  def encodeGray(w: Int, h: Int, gray: (Int, Int) => Int,
                 opts: Options = Options()): Array[Byte] = {
    val out = header(3, 0, 0, w, h, 8, opts)
    val px = fileOrder(w, h, opts.topDown)
      .map { case (x, y) => (gray(x, y) & 0xFF).toByte }.toArray
    pack(px, 1, opts.rle, out)
    out.toArray
  }

  /** 24-bit BGR, or 32-bit BGRA when `alpha` is provided. */
  def encodeRgb(w: Int, h: Int, pix: (Int, Int) => (Int, Int, Int),
                alpha: (Int, Int) => Int = null,
                opts: Options = Options()): Array[Byte] = {
    val bpp = if (alpha == null) 3 else 4
    val out = header(2, 0, 0, w, h, bpp * 8, opts)
    val px = new ArrayBuffer[Byte]()
    fileOrder(w, h, opts.topDown).foreach { case (x, y) =>
      val (r, g, b) = pix(x, y)
      px += b.toByte += g.toByte += r.toByte
      if (bpp == 4) px += alpha(x, y).toByte
    }
    pack(px.toArray, bpp, opts.rle, out)
    out.toArray
  }

  /** 8-bit palette indices over 24- or 32-bit BGR[A] map entries. */
  def encodePalette(w: Int, h: Int, palette: Seq[(Int, Int, Int, Int)],
                    idx: (Int, Int) => Int, mapBits: Int = 24,
                    opts: Options = Options()): Array[Byte] = {
    require(palette.nonEmpty && palette.size <= 256)
    require(mapBits == 24 || mapBits == 32)
    val out = header(1, palette.size, mapBits, w, h, 8, opts)
    palette.foreach { case (r, g, b, a) =>
      out += b.toByte += g.toByte += r.toByte
      if (mapBits == 32) out += a.toByte
    }
    val px = fileOrder(w, h, opts.topDown)
      .map { case (x, y) => idx(x, y).toByte }.toArray
    pack(px, 1, opts.rle, out)
    out.toArray
  }
}
