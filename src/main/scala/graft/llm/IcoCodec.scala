package graft.llm

import scala.collection.mutable.ArrayBuffer

/** Windows ICO (favicon) decode — the container web crawls hit on
  * nearly every site root.
  *
  * An ICO is a directory of independently-encoded images; each entry
  * is either a complete PNG stream (post-Vista convention, delegated
  * to the JDK-cross-validated PNG path in
  * [[Multimodal.BmpWavDecoder]]) or a DIB: a BITMAPINFOHEADER whose
  * `biHeight` is DOUBLED to cover the bottom-up XOR (color) bitmap
  * followed by a 1-bpp bottom-up AND (transparency) mask, rows padded
  * to 32 bits, with a BGRA palette at ≤8 bpp.
  *
  * `decode` picks the best entry (largest area, then deepest
  * bit-count — the convention browsers use) and returns RGBA: alpha
  * comes from the 32-bpp alpha byte when present, else from the AND
  * mask (0 → opaque 255). PNG entries gain a constant 255 alpha when
  * the PNG itself carried no alpha channel, so the ICO contract is
  * uniformly 4 channels.
  *
  * Cursor files (type 2) share the layout and decode identically;
  * the hotspot fields replace planes/bitCount in the directory and
  * are ignored. BI_RGB only — compressed DIBs inside ICO are not a
  * thing real writers emit and refuse loudly.
  */
object IcoCodec {

  def isIco(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 0 && b(1) == 0 &&
      (b(2) == 1 || b(2) == 2) && b(3) == 0 &&
      le16(b, 4) > 0 && le16(b, 4) <= 1024 &&
      b.length >= 6 + 16 * le16(b, 4)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (le16(b, o).toLong | (le16(b, o + 2).toLong << 16)) & 0xFFFFFFFFL

  private case class Dir(w: Int, h: Int, bits: Int, off: Int, len: Int)

  private def directory(b: Array[Byte]): Seq[Dir] = {
    require(isIco(b), "not an ICO")
    val n = le16(b, 4)
    (0 until n).map { i =>
      val e = 6 + 16 * i
      val w0 = b(e) & 0xFF
      val h0 = b(e + 1) & 0xFF
      val off = le32(b, e + 12)
      val len = le32(b, e + 8)
      require(off + len <= b.length && len >= 16,
        s"ICO entry $i out of range (off=$off len=$len)")
      Dir(if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0,
        le16(b, e + 6), off.toInt, len.toInt)
    }
  }

  /** Decode entry `i` to (w, h, RGBA). */
  private def decodeEntry(b: Array[Byte], d: Dir): (Int, Int, Array[Float]) = {
    if (graft.util.ByteCodecs.isPng(b, d.off)) {
      val png = java.util.Arrays.copyOfRange(b, d.off, d.off + d.len)
      val (w, h, px) = Multimodal.BmpWavDecoder.decodePngWithDims(png)
      val chans = px.length / (w * h)
      if (chans == 4) (w, h, px)
      else {
        // lift 1/2/3-channel PNGs into the uniform RGBA contract
        val out = new Array[Float](w * h * 4)
        var p = 0
        while (p < w * h) {
          chans match {
            case 3 =>
              out(p * 4) = px(p * 3); out(p * 4 + 1) = px(p * 3 + 1)
              out(p * 4 + 2) = px(p * 3 + 2); out(p * 4 + 3) = 255f
            case 2 => // gray + alpha
              out(p * 4) = px(p * 2); out(p * 4 + 1) = px(p * 2)
              out(p * 4 + 2) = px(p * 2); out(p * 4 + 3) = px(p * 2 + 1)
            case _ =>
              out(p * 4) = px(p); out(p * 4 + 1) = px(p)
              out(p * 4 + 2) = px(p); out(p * 4 + 3) = 255f
          }
          p += 1
        }
        (w, h, out)
      }
    } else decodeDib(b, d)
  }

  private def decodeDib(b: Array[Byte], d: Dir): (Int, Int, Array[Float]) = {
    val o = d.off
    val hdr = le32(b, o).toInt
    require(hdr == 40, s"ICO DIB header size $hdr unsupported (BITMAPINFOHEADER)")
    val w = le32(b, o + 4).toInt
    val h2 = le32(b, o + 8).toInt
    require(w > 0 && h2 > 0 && h2 % 2 == 0, s"ICO DIB dims $w x $h2 malformed")
    val h = h2 / 2
    require(w.toLong * h <= 16000000L, s"ICO $w x $h too large")
    val bits = le16(b, o + 14)
    require(Set(1, 4, 8, 24, 32)(bits), s"ICO DIB $bits bpp unsupported")
    val compression = le32(b, o + 16)
    require(compression == 0, s"ICO DIB compression $compression unsupported")
    val clrUsed = le32(b, o + 32).toInt
    val palN =
      if (bits > 8) 0 else if (clrUsed > 0) clrUsed else 1 << bits
    require(palN <= 256, s"ICO palette size $palN out of range")
    val palAt = o + 40
    val xorAt = palAt + 4 * palN
    val xorStride = ((w * bits + 31) / 32) * 4
    val andAt = xorAt + xorStride * h
    val andStride = ((w + 31) / 32) * 4
    require(andAt + andStride * h <= d.off + d.len,
      "ICO DIB bitmaps exceed the directory entry")

    val out = new Array[Float](w * h * 4)
    var y = 0
    while (y < h) {
      val srcY = h - 1 - y // bottom-up
      val xr = xorAt + xorStride * srcY
      val ar = andAt + andStride * srcY
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 4
        bits match {
          case 32 =>
            out(p) = b(xr + x * 4 + 2) & 0xFF     // R (stored BGRA)
            out(p + 1) = b(xr + x * 4 + 1) & 0xFF
            out(p + 2) = b(xr + x * 4) & 0xFF
            out(p + 3) = b(xr + x * 4 + 3) & 0xFF // real alpha channel
          case 24 =>
            out(p) = b(xr + x * 3 + 2) & 0xFF
            out(p + 1) = b(xr + x * 3 + 1) & 0xFF
            out(p + 2) = b(xr + x * 3) & 0xFF
          case _ =>
            val idx = bits match {
              case 8 => b(xr + x) & 0xFF
              case 4 => (b(xr + (x >> 1)) >> (if ((x & 1) == 0) 4 else 0)) & 0xF
              case _ => (b(xr + (x >> 3)) >> (7 - (x & 7))) & 1
            }
            require(idx < palN, s"ICO palette index $idx out of range")
            out(p) = b(palAt + idx * 4 + 2) & 0xFF // palette entries are BGRA
            out(p + 1) = b(palAt + idx * 4 + 1) & 0xFF
            out(p + 2) = b(palAt + idx * 4) & 0xFF
        }
        if (bits != 32) {
          val masked = ((b(ar + (x >> 3)) >> (7 - (x & 7))) & 1) == 1
          out(p + 3) = if (masked) 0f else 255f
        }
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** Best-entry decode: largest pixel area, ties to the deepest
    * bit-count, then directory order (the browser convention). */
  def decode(b: Array[Byte]): (Int, Int, Array[Float]) = {
    val dirs = directory(b)
    val best = dirs.zipWithIndex.maxBy { case (d, i) =>
      (d.w.toLong * d.h, d.bits.toLong, -i.toLong)
    }._1
    decodeEntry(b, best)
  }

  /** All entries, for pipelines that want the full favicon ladder.
    * The cumulative-pixel cap guards the PNG-entry path: a small
    * hostile directory can reference deflate streams that each
    * inflate to the per-image limit, and 1024 of those OOM a task
    * even though every single entry is legal. Directory dims bound
    * real decoded dims for DIB entries and honest PNGs alike. */
  def decodeAll(b: Array[Byte]): Seq[(Int, Int, Array[Float])] = {
    val dirs = directory(b)
    require(dirs.map(d => d.w.toLong * d.h).sum <= Multimodal.MaxPixels,
      s"ICO directory declares ${dirs.size} entries beyond the pixel cap")
    var seen = 0L // REAL decoded pixels — directories lie, so check
    dirs.map { d => // as each entry lands (each is singly capped)
      val e = decodeEntry(b, d)
      seen += e._1.toLong * e._2
      require(seen <= Multimodal.MaxPixels,
        "ICO decoded pixel volume exceeds the cap (lying directory)")
      e
    }
  }

  // ---------------------------------------------------------------- encode

  sealed trait Entry
  /** DIB entry at 32/24/8/4/1 bpp. `rgb` feeds the XOR bitmap;
    * `alpha` feeds the 32-bpp alpha byte AND (inverted) the AND mask
    * (alpha 0 → masked). At ≤8 bpp `palette`+`idx` replace `rgb`. */
  case class DibEntry(w: Int, h: Int, bits: Int,
                      rgb: (Int, Int) => (Int, Int, Int) = null,
                      alpha: (Int, Int) => Int = (_, _) => 255,
                      palette: Seq[(Int, Int, Int)] = Nil,
                      idx: (Int, Int) => Int = null) extends Entry
  /** A complete PNG stream embedded verbatim. */
  case class PngEntry(bytes: Array[Byte], w: Int, h: Int) extends Entry

  def encode(entries: Seq[Entry]): Array[Byte] = {
    require(entries.nonEmpty && entries.size <= 1024, "ICO entry count")
    val blobs = entries.map {
      case PngEntry(bytes, _, _) => bytes
      case e: DibEntry => encodeDib(e)
    }
    val out = new ArrayBuffer[Byte]()
    def w16(v: Int): Unit = { out += (v & 0xFF).toByte += ((v >> 8) & 0xFF).toByte }
    def w32(v: Int): Unit = { w16(v & 0xFFFF); w16((v >>> 16) & 0xFFFF) }
    w16(0); w16(1); w16(entries.size)
    var off = 6 + 16 * entries.size
    entries.zip(blobs).foreach { case (e, blob) =>
      val (w, h, bits) = e match {
        case DibEntry(w, h, bits, _, _, _, _) => (w, h, bits)
        case PngEntry(_, w, h) => (w, h, 32)
      }
      out += (if (w >= 256) 0 else w).toByte
      out += (if (h >= 256) 0 else h).toByte
      out += (if (bits <= 8) 1 << bits else 0).toByte
      out += 0.toByte
      w16(1); w16(bits)
      w32(blob.length); w32(off)
      off += blob.length
    }
    blobs.foreach(out ++= _)
    out.toArray
  }

  private def encodeDib(e: DibEntry): Array[Byte] = {
    require(Set(1, 4, 8, 24, 32)(e.bits), s"DIB bpp ${e.bits}")
    require(e.bits > 8 || (e.palette.nonEmpty && e.idx != null &&
      e.palette.size <= (1 << e.bits)), "palette DIB needs palette + idx")
    require(e.bits <= 8 || e.rgb != null, "truecolor DIB needs rgb")
    val out = new ArrayBuffer[Byte]()
    def w16(v: Int): Unit = { out += (v & 0xFF).toByte += ((v >> 8) & 0xFF).toByte }
    def w32(v: Int): Unit = { w16(v & 0xFFFF); w16((v >>> 16) & 0xFFFF) }
    val palN = if (e.bits <= 8) e.palette.size else 0
    w32(40); w32(e.w); w32(e.h * 2); w16(1); w16(e.bits)
    w32(0); w32(0); w32(0); w32(0); w32(palN); w32(0)
    e.palette.foreach { case (r, g, b) =>
      out += b.toByte += g.toByte += r.toByte += 0.toByte
    }
    val xorStride = ((e.w * e.bits + 31) / 32) * 4
    val andStride = ((e.w + 31) / 32) * 4
    val xor = new Array[Byte](xorStride * e.h)
    val and = new Array[Byte](andStride * e.h)
    for (y <- 0 until e.h; x <- 0 until e.w) {
      val srcY = e.h - 1 - y // write bottom-up
      val r = srcY * xorStride
      e.bits match {
        case 32 =>
          val (cr, cg, cb) = e.rgb(x, y)
          xor(r + x * 4) = cb.toByte; xor(r + x * 4 + 1) = cg.toByte
          xor(r + x * 4 + 2) = cr.toByte
          xor(r + x * 4 + 3) = e.alpha(x, y).toByte
        case 24 =>
          val (cr, cg, cb) = e.rgb(x, y)
          xor(r + x * 3) = cb.toByte; xor(r + x * 3 + 1) = cg.toByte
          xor(r + x * 3 + 2) = cr.toByte
        case 8 => xor(r + x) = e.idx(x, y).toByte
        case 4 =>
          val i = e.idx(x, y) & 0xF
          xor(r + (x >> 1)) = (xor(r + (x >> 1)) |
            (if ((x & 1) == 0) i << 4 else i)).toByte
        case _ =>
          if ((e.idx(x, y) & 1) != 0)
            xor(r + (x >> 3)) = (xor(r + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
      }
      if (e.alpha(x, y) == 0) {
        val a = srcY * andStride
        and(a + (x >> 3)) = (and(a + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
      }
    }
    out ++= xor ++= and
    out.toArray
  }
}
