package graft.llm

import scala.collection.mutable.ArrayBuffer

/** Netpbm (PNM) codec: P1-P6 — the zero-compression interchange
  * family scientific and tooling pipelines emit. ASCII variants
  * (P1 bitmap / P2 graymap / P3 pixmap) tokenize on whitespace with
  * `#` comments anywhere in the header or raster; binary variants
  * (P4 MSB-packed bitmap rows, P5/P6 one- or two-byte big-endian
  * samples per the maxval) start after the single whitespace byte
  * that terminates the header. Sample values stay RAW (bitmaps keep
  * the stored 0/1 where 1 = black per the spec; maxval is metadata)
  * — the PNG/TIFF contract. Gray/bitmap emit one channel, pixmaps
  * three.
  *
  * The JDK ships no PNM plugin, so validation is fixture round-trips
  * plus the q266 generative-formula oracle — for a format this
  * transparent (no entropy coding, no prediction) that pins every
  * byte.
  */
object PnmCodec {

  def isPnm(b: Array[Byte]): Boolean =
    b.length >= 3 && b(0) == 'P' && b(1) >= '1' && b(1) <= '6' &&
      (b(2) == ' ' || b(2) == '\t' || b(2) == '\n' || b(2) == '\r' ||
       b(2) == '#')

  private final class Toks(b: Array[Byte]) {
    var pos = 0
    /** Next ASCII token, skipping whitespace and # comments. */
    def next(): String = {
      while (pos < b.length) {
        val c = b(pos)
        if (c == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') pos += 1
        else {
          val start = pos
          while (pos < b.length && !isWs(b(pos)) && b(pos) != '#') pos += 1
          return new String(b, start, pos - start, "US-ASCII")
        }
      }
      throw new IllegalArgumentException("truncated PNM header")
    }
    def nextInt(): Int = {
      val t = next()
      require(t.forall(_.isDigit) && t.length <= 9, s"bad PNM integer '$t'")
      t.toInt
    }
    /** Consume exactly ONE whitespace byte — the header/raster
      * boundary for binary variants. */
    def rasterStart(): Int = {
      require(pos < b.length && isWs(b(pos)), "missing PNM raster separator")
      pos + 1
    }
    private def isWs(c: Byte): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r'
  }

  /** Header-only dimensions — the metadata path (no raster walk). */
  def dims(b: Array[Byte]): (Int, Int) = {
    require(isPnm(b), "not a PNM")
    val t = new Toks(b)
    t.pos = 2
    val w = t.nextInt()
    val h = t.nextInt()
    require(w > 0 && h > 0, s"PNM dims $w x $h")
    (w, h)
  }

  def decode(b: Array[Byte]): (Int, Int, Array[Float]) = {
    require(isPnm(b), "not a PNM")
    val kind = b(1) - '0'
    val t = new Toks(b)
    t.pos = 2
    val w = t.nextInt()
    val h = t.nextInt()
    require(w > 0 && h > 0 && w.toLong * h <= Multimodal.MaxPixels,
      s"PNM $w x $h out of decodable range")
    val maxval = if (kind == 1 || kind == 4) 1 else t.nextInt()
    require(maxval > 0 && maxval < 65536, s"PNM maxval $maxval")
    val chans = if (kind == 3 || kind == 6) 3 else 1
    val n = w * h * chans
    val out = new Array[Float](n)
    kind match {
      case 1 =>
        // ASCII bitmap: digits may be packed without separators
        var i = 0; var p = t.pos
        while (i < n && p < b.length) {
          val c = b(p)
          if (c == '0' || c == '1') { out(i) = c - '0'; i += 1; p += 1 }
          else if (c == '#') { while (p < b.length && b(p) != '\n') p += 1 }
          else { require(c == ' ' || c == '\t' || c == '\n' || c == '\r',
            s"bad P1 raster byte $c"); p += 1 }
        }
        require(i == n, s"P1 raster short ($i < $n)")
      case 2 | 3 =>
        var i = 0
        while (i < n) {
          val v = t.nextInt()
          require(v <= maxval, s"PNM sample $v > maxval $maxval")
          out(i) = v; i += 1
        }
      case 4 =>
        val start = t.rasterStart()
        val stride = (w + 7) / 8
        require(start + stride.toLong * h <= b.length, "P4 raster short")
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out(y * w + x) =
              (b(start + y * stride + (x >> 3)) >> (7 - (x & 7))) & 1
            x += 1
          }
          y += 1
        }
      case _ => // 5 | 6
        val start = t.rasterStart()
        val bpsamp = if (maxval > 255) 2 else 1
        require(start + n.toLong * bpsamp <= b.length,
          s"P$kind raster short")
        var i = 0
        while (i < n) {
          val o = start + i * bpsamp
          val v = if (bpsamp == 2) ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
                  else b(o) & 0xFF
          require(v <= maxval, s"PNM sample $v > maxval $maxval")
          out(i) = v; i += 1
        }
    }
    (w, h, out)
  }

  // ---------------------------------------------------------------- encode

  /** Gray (P2/P5) or bitmap (P1/P4); binary picks the raw variant. */
  def encodeGray(w: Int, h: Int, gray: (Int, Int) => Int,
                 maxval: Int = 255, binary: Boolean = true,
                 comment: Option[String] = None): Array[Byte] = {
    require(maxval >= 1 && maxval < 65536)
    if (maxval == 1) encodeBitmap(w, h, gray, binary, comment)
    else {
      val hdr = header(if (binary) 5 else 2, w, h, Some(maxval), comment)
      if (binary) {
        val bp = if (maxval > 255) 2 else 1
        val out = new ArrayBuffer[Byte]()
        out ++= hdr
        for (y <- 0 until h; x <- 0 until w) {
          val v = gray(x, y)
          require(v >= 0 && v <= maxval, s"sample $v")
          if (bp == 2) out += (v >> 8).toByte
          out += (v & 0xFF).toByte
        }
        out.toArray
      } else hdr ++ ascii(w, h, (x, y) => Seq(gray(x, y)), maxval)
    }
  }

  /** Pixmap (P3/P6). */
  def encodeRgb(w: Int, h: Int, pix: (Int, Int) => (Int, Int, Int),
                maxval: Int = 255, binary: Boolean = true,
                comment: Option[String] = None): Array[Byte] = {
    require(maxval >= 1 && maxval < 65536)
    val hdr = header(if (binary) 6 else 3, w, h, Some(maxval), comment)
    if (binary) {
      val bp = if (maxval > 255) 2 else 1
      val out = new ArrayBuffer[Byte]()
      out ++= hdr
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = pix(x, y)
        for (v <- Seq(r, g, b)) {
          require(v >= 0 && v <= maxval, s"sample $v")
          if (bp == 2) out += (v >> 8).toByte
          out += (v & 0xFF).toByte
        }
      }
      out.toArray
    } else hdr ++ ascii(w, h, (x, y) => {
      val (r, g, b) = pix(x, y); Seq(r, g, b)
    }, maxval)
  }

  private def encodeBitmap(w: Int, h: Int, bit: (Int, Int) => Int,
                           binary: Boolean,
                           comment: Option[String]): Array[Byte] = {
    val hdr = header(if (binary) 4 else 1, w, h, None, comment)
    if (binary) {
      val stride = (w + 7) / 8
      val raster = new Array[Byte](stride * h)
      for (y <- 0 until h; x <- 0 until w)
        if ((bit(x, y) & 1) != 0)
          raster(y * stride + (x >> 3)) =
            (raster(y * stride + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
      hdr ++ raster
    } else {
      val sb = new StringBuilder
      for (y <- 0 until h) {
        for (x <- 0 until w) { sb.append(bit(x, y) & 1); sb.append(' ') }
        sb.append('\n')
      }
      hdr ++ sb.toString.getBytes("US-ASCII")
    }
  }

  private def header(kind: Int, w: Int, h: Int, maxval: Option[Int],
                     comment: Option[String]): Array[Byte] = {
    val c = comment.map(s => s"# $s\n").getOrElse("")
    (s"P$kind\n$c$w $h\n" + maxval.map(m => s"$m\n").getOrElse(""))
      .getBytes("US-ASCII")
  }

  private def ascii(w: Int, h: Int, vals: (Int, Int) => Seq[Int],
                    maxval: Int): Array[Byte] = {
    val sb = new StringBuilder
    for (y <- 0 until h) {
      for (x <- 0 until w; v <- vals(x, y)) {
        require(v >= 0 && v <= maxval, s"sample $v")
        sb.append(v); sb.append(' ')
      }
      sb.append('\n')
    }
    sb.toString.getBytes("US-ASCII")
  }
}
