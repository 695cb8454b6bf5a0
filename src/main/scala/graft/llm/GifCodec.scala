package graft.llm

import java.io.ByteArrayOutputStream

/** Dependency-free GIF decode (GIF87a/GIF89a) — the remaining common
  * web-crawl image container after BMP/PNG/JPEG: logical-screen +
  * image-descriptor parsing, global/local color tables, the GIF LZW
  * variant (LSB-first packed codes, clear/end codes, dictionary growth
  * to 12 bits, the KwKwK case), four-pass GIF interlacing, and
  * multi-frame ANIMATIONS composited per the GIF89a graphic-control
  * disposal semantics (1/none = draw over, 2 = restore background,
  * 3 = restore previous via a pre-draw canvas snapshot; transparent
  * pixels keep the underlying canvas). Returns the
  * [[Multimodal.BmpWavDecoder]] plane
  * contract — row-major top-down [r,g,b, …] floats, transparency
  * dropped after compositing.
  *
  * The ENCODER ([[encode]]) stages pixel-exact-known fixtures: real
  * LZW compression (dictionary growth + code-size bumps + clear on
  * overflow), optional interlacing, and multi-frame animations with
  * per-frame rects/disposal — GIF is lossless, so the q249 oracle
  * replays every channel value from the generative palette formula.
  *
  * Reference scope: no reference counterpart ([[graft.plans.ImageMeta]]
  * reads GIF headers since round 4); driver multimodal mandate.
  */
object GifCodec {

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)

  def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  /** One decoded frame ON THE CANVAS: full logical-screen RGB plane. */
  private case class Frame(pixels: Array[Int]) // packed 0xRRGGBB

  // ---- GIF-variant LZW decode: LSB-first code stream ----
  private def lzwDecode(minCodeSize: Int, data: Array[Byte],
                        nPixels: Int): Array[Int] = {
    require(minCodeSize >= 2 && minCodeSize <= 8, "bad GIF LZW code size")
    val clear = 1 << minCodeSize
    val end = clear + 1
    val out = new Array[Int](nPixels)
    var outN = 0
    // dictionary as (prefix code, appended index) pairs; singles implicit
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var nextCode = end + 1
    var codeSize = minCodeSize + 1
    var prev = -1
    var acc = 0L; var nbits = 0; var pos = 0
    val stack = new Array[Int](4096)

    def firstIndexOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    def emit(code: Int): Unit = {
      var n = 0
      var c = code
      while (c >= clear) { stack(n) = suffix(c); n += 1; c = prefix(c) }
      stack(n) = c; n += 1
      while (n > 0) {
        n -= 1
        require(outN < nPixels, "GIF LZW output overruns the frame")
        out(outN) = stack(n); outN += 1
      }
    }
    var done = false
    while (!done && outN < nPixels) {
      while (nbits < codeSize && pos < data.length) {
        acc |= (data(pos) & 0xFFL) << nbits
        nbits += 8; pos += 1
      }
      require(nbits >= codeSize, "GIF LZW stream truncated")
      val code = (acc & ((1 << codeSize) - 1)).toInt
      acc >>>= codeSize; nbits -= codeSize
      if (code == clear) {
        nextCode = end + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (code == end) {
        done = true
      } else {
        require(code < nextCode || (code == nextCode && prev >= 0),
          s"GIF LZW code $code ahead of dictionary ($nextCode)")
        if (prev < 0) {
          require(code < clear, "first GIF LZW code must be a literal")
          emit(code)
        } else {
          if (code == nextCode) { // KwKwK: entry being defined right now
            if (nextCode < 4096) {
              prefix(nextCode) = prev; suffix(nextCode) = firstIndexOf(prev)
              nextCode += 1
            }
            emit(code) // == the entry just added
          } else {
            if (nextCode < 4096) {
              prefix(nextCode) = prev; suffix(nextCode) = firstIndexOf(code)
              nextCode += 1
            }
            emit(code)
          }
          if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    require(outN == nPixels,
      s"GIF frame decoded $outN of $nPixels pixels")
    out
  }

  /** Interlaced GIF row order: passes start 0/4/2/1 step 8/8/4/2. */
  private def rowOrder(h: Int, interlaced: Boolean): Seq[Int] =
    if (!interlaced) 0 until h
    else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, d) =>
      s until h by d
    }

  /** Decode every frame, composited on the logical screen. */
  def decodeFramesWithDims(b: Array[Byte]): (Int, Int, Seq[Array[Float]]) = {
    require(isGif(b), "not a GIF")
    val w = u16(b, 6); val h = u16(b, 8)
    require(w > 0 && h > 0, "GIF missing screen dimensions")
    require(w.toLong * h <= Multimodal.MaxPixels, // canvas + 3-float plane stay
      s"GIF $w x $h too large to decode dependency-free")  // Int-safe
    val packed = b(10) & 0xFF
    val bgIndex = b(11) & 0xFF
    var pos = 13
    val gct: Array[Int] =
      if ((packed & 0x80) != 0) {
        val n = 2 << (packed & 7)
        require(pos + 3 * n <= b.length, "GIF truncated in color table")
        val t = Array.tabulate(n) { i =>
          ((b(pos + 3 * i) & 0xFF) << 16) | ((b(pos + 3 * i + 1) & 0xFF) << 8) |
            (b(pos + 3 * i + 2) & 0xFF)
        }
        pos += 3 * n
        t
      } else null

    val canvas = new Array[Int](w * h)
    // previous frame's rect, for disposal-2 restores (call-local)
    var lastRect: Option[(Int, Int, Int, Int)] = None
    // canvas snapshot taken BEFORE drawing a disposal-3 frame, so the
    // next frame can restore-previous (one buffer, cloned only when a
    // frame actually asks for disposal 3)
    var saved: Array[Int] = null
    val bg = if (gct != null && bgIndex < gct.length) gct(bgIndex) else 0
    java.util.Arrays.fill(canvas, bg)

    val frames = Seq.newBuilder[Frame]
    var transparent = -1
    var disposal = 0     // from the GCE preceding the NEXT image
    var lastDisposal = 0 // how the PREVIOUS frame asked to be disposed
    var done = false
    while (!done) {
      require(pos < b.length, "GIF truncated before trailer")
      (b(pos) & 0xFF) match {
        case 0x3B => done = true // trailer
        case 0x21 => // extension: label + size-prefixed sub-blocks
          require(pos + 2 < b.length, "GIF truncated in extension")
          val label = b(pos + 1) & 0xFF
          var p = pos + 2
          if (label == 0xF9) { // graphic control
            require(p + 5 <= b.length, "GIF truncated in graphic control")
            val sz = b(p) & 0xFF
            require(sz >= 4, "short graphic-control block")
            val flags = b(p + 1) & 0xFF
            disposal = (flags >> 2) & 7
            transparent = if ((flags & 1) != 0) b(p + 4) & 0xFF else -1
          }
          while ({ require(p < b.length, "GIF truncated in extension")
                   (b(p) & 0xFF) != 0 }) p += 1 + (b(p) & 0xFF)
          pos = p + 1
        case 0x2C => // image descriptor
          require(pos + 11 <= b.length, "GIF truncated in image descriptor")
          val left = u16(b, pos + 1); val top = u16(b, pos + 3)
          val fw = u16(b, pos + 5); val fh = u16(b, pos + 7)
          val ip = b(pos + 9) & 0xFF
          require(left + fw <= w && top + fh <= h, "GIF frame exceeds screen")
          var p = pos + 10
          val lct: Array[Int] =
            if ((ip & 0x80) != 0) {
              val n = 2 << (ip & 7)
              require(p + 3 * n <= b.length, "GIF truncated in color table")
              val t = Array.tabulate(n) { i =>
                ((b(p + 3 * i) & 0xFF) << 16) |
                  ((b(p + 3 * i + 1) & 0xFF) << 8) | (b(p + 3 * i + 2) & 0xFF)
              }
              p += 3 * n
              t
            } else gct
          require(lct != null, "GIF frame has no color table")
          require(p < b.length, "GIF truncated before LZW data")
          val minCode = b(p) & 0xFF
          p += 1
          val data = new ByteArrayOutputStream()
          while ({ require(p < b.length, "GIF truncated in image data")
                   (b(p) & 0xFF) != 0 }) {
            val n = b(p) & 0xFF
            require(p + 1 + n <= b.length, "GIF truncated in image data")
            data.write(b, p + 1, n)
            p += 1 + n
          }
          pos = p + 1
          val idx = lzwDecode(minCode, data.toByteArray, fw * fh)
          // a GCE's disposal describes what happens AFTER its own
          // frame — so before drawing this frame, apply the PREVIOUS
          // frame's requested disposal to the previous frame's rect
          if (lastDisposal == 2) lastRect.foreach { case (l, t, rw, rh) =>
            var y = 0
            while (y < rh) {
              var x = 0
              while (x < rw) { canvas((t + y) * w + l + x) = bg; x += 1 }
              y += 1
            }
          }
          if (lastDisposal == 3) {
            // restore-previous: the canvas reverts to its state before
            // the disposal-3 frame drew (snapshot taken below)
            require(saved != null,
              "GIF disposal 3 with no prior frame to restore")
            System.arraycopy(saved, 0, canvas, 0, canvas.length)
          }
          // this frame itself asks for restore-previous afterwards:
          // snapshot the composited state it is about to draw over
          if (disposal == 3) saved = canvas.clone()
          val order = rowOrder(fh, (ip & 0x40) != 0)
          var src = 0
          order.foreach { fy =>
            var fx = 0
            while (fx < fw) {
              val ix = idx(src); src += 1
              if (ix != transparent) {
                require(ix < lct.length, s"GIF index $ix beyond color table")
                canvas((top + fy) * w + left + fx) = lct(ix)
              }
              fx += 1
            }
          }
          lastRect = Some((left, top, fw, fh))
          lastDisposal = disposal
          frames += Frame(canvas.clone())
          transparent = -1 // GCE applies to one image only
          disposal = 0
        case other =>
          throw new IllegalArgumentException(
            f"unknown GIF block 0x$other%02X")
      }
    }
    val fs = frames.result()
    require(fs.nonEmpty, "GIF has no image data")
    (w, h, fs.map { f =>
      val out = new Array[Float](w * h * 3)
      var i = 0
      while (i < w * h) {
        out(i * 3) = ((f.pixels(i) >> 16) & 0xFF).toFloat
        out(i * 3 + 1) = ((f.pixels(i) >> 8) & 0xFF).toFloat
        out(i * 3 + 2) = (f.pixels(i) & 0xFF).toFloat
        i += 1
      }
      out
    })
  }

  /** First-frame decode — the [[Multimodal.BmpWavDecoder]] image
    * contract (animations: use [[decodeFramesWithDims]]). */
  def decode(b: Array[Byte]): (Int, Int, Array[Float]) = {
    val (w, h, frames) = decodeFramesWithDims(b)
    (w, h, frames.head)
  }

  // ------------------------------------------------------------------
  // Encoder (fixture staging): real LZW, optional interlace, frames
  // ------------------------------------------------------------------

  private final class LzwEncoder(minCodeSize: Int, out: ByteArrayOutputStream) {
    private val clear = 1 << minCodeSize
    private val end = clear + 1
    private var dict = collection.mutable.Map[List[Int], Int]()
    private var nextCode = end + 1
    private var codeSize = minCodeSize + 1
    private var acc = 0L; private var nbits = 0
    private val body = new ByteArrayOutputStream()

    private def putCode(c: Int): Unit = {
      acc |= c.toLong << nbits; nbits += codeSize
      while (nbits >= 8) { body.write((acc & 0xFF).toInt); acc >>>= 8; nbits -= 8 }
    }
    private def resetDict(): Unit = {
      dict = collection.mutable.Map[List[Int], Int]()
      nextCode = end + 1; codeSize = minCodeSize + 1
    }
    def encode(indices: Array[Int]): Unit = {
      putCode(clear)
      var cur: List[Int] = Nil
      var curCode = -1
      for (ix <- indices) {
        require(ix < clear, s"index $ix exceeds 2^$minCodeSize")
        val ext = ix :: cur
        val extCode = if (cur.isEmpty) Some(ix) else dict.get(ext)
        extCode match {
          case Some(c) => cur = ext; curCode = c
          case None =>
            putCode(curCode)
            // the decoder's dictionary trails the encoder's by one
            // entry, so its size bump (at nextCode_d == 1<<size) maps
            // to nextCode_e == (1<<size)+1 here; clearing at 4095
            // keeps both sides away from the 4096-ceiling edge cases
            if (nextCode < 4095) {
              dict(ext) = nextCode
              nextCode += 1
              if (nextCode == (1 << codeSize) + 1 && codeSize < 12)
                codeSize += 1
            } else { putCode(clear); resetDict() }
            cur = List(ix); curCode = ix
        }
      }
      if (curCode >= 0) putCode(curCode)
      putCode(end)
      if (nbits > 0) body.write((acc & 0xFF).toInt)
      // size-prefixed sub-blocks
      val bytes = body.toByteArray
      var o = 0
      while (o < bytes.length) {
        val n = math.min(255, bytes.length - o)
        out.write(n)
        out.write(bytes, o, n)
        o += n
      }
      out.write(0)
    }
  }

  /** One animation frame spec for [[encode]]: a rect at (left, top)
    * whose index formula is evaluated in FRAME coordinates; `transparentIndex`
    * ≥ 0 marks that index see-through (the canvas shows). */
  case class FrameSpec(left: Int, top: Int, w: Int, h: Int,
                       idx: (Int, Int) => Int,
                       transparentIndex: Int = -1,
                       disposal: Int = 0)

  /** Encode a palette GIF: full-screen first frame plus optional
    * extra animation frames; `interlace` applies to every frame. */
  def encode(w: Int, h: Int, palette: Seq[(Int, Int, Int)],
             frames: Seq[FrameSpec], interlace: Boolean = false,
             bgIndex: Int = 0): Array[Byte] = {
    require(palette.nonEmpty && palette.size <= 256, "palette size in [1, 256]")
    require(frames.nonEmpty, "need at least one frame")
    // color-table size: power of two >= max(2, palette)
    var bits = 1
    while ((1 << bits) < palette.size) bits += 1
    val n = 1 << bits
    val minCode = math.max(2, bits)
    val out = new ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    le16(w); le16(h)
    out.write(0x80 | ((bits - 1) & 7)) // GCT present
    out.write(bgIndex); out.write(0)
    for (i <- 0 until n) {
      val (r, g, bb) = if (i < palette.size) palette(i) else (0, 0, 0)
      out.write(r & 0xFF); out.write(g & 0xFF); out.write(bb & 0xFF)
    }
    for (f <- frames) {
      require(f.left + f.w <= w && f.top + f.h <= h, "frame exceeds screen")
      if (f.transparentIndex >= 0 || f.disposal > 0) {
        out.write(0x21); out.write(0xF9); out.write(4)
        out.write(((f.disposal & 7) << 2) |
          (if (f.transparentIndex >= 0) 1 else 0))
        le16(4) // delay
        out.write(math.max(0, f.transparentIndex)); out.write(0)
      }
      out.write(0x2C)
      le16(f.left); le16(f.top); le16(f.w); le16(f.h)
      out.write(if (interlace) 0x40 else 0x00) // no LCT
      out.write(minCode)
      val order = rowOrder(f.h, interlace)
      val indices = order.toArray.flatMap(y =>
        (0 until f.w).map(x => f.idx(x, y)))
      new LzwEncoder(minCode, out).encode(indices)
    }
    out.write(0x3B)
    out.toByteArray
  }
}
