package graft.llm

import scala.collection.mutable.ArrayBuffer

import graft.util.ByteCodecs
import graft.util.ByteCodecs.{LzwClear, LzwEoi}

/** Dependency-free baseline-TIFF codec (TIFF 6.0).
  *
  * Decode covers the honest web/scan-crawl matrix: both byte orders
  * (`II`/`MM`), strip- AND tile-organized chunky data (tags 322-325,
  * edge tiles clip-scattered), compressions 1 (none), 2/3/4 (CCITT
  * MH / T.4 1-D / T.6 — see [[CcittCodec]]; the scanned-document
  * corpus staple), 5 (TIFF-variant LZW with early code-width
  * change), 8/32946 (Deflate/ZLib), 32773 (PackBits),
  * horizontal-differencing predictor 2, photometric 0/1 (bilevel +
  * grayscale, raw samples), 2 (RGB) and 3 (palette, expanded through
  * the 16-bit ColorMap), at 1/8/16-bit sample depths. Planar
  * configuration 2, G3 2-D and JPEG-in-TIFF refuse loudly — the
  * last is genuinely codec-bound. LZW and Deflate strips go through
  * the shared [[graft.util.ByteCodecs]] kernels; PackBits stays here,
  * since its byte 128 is a no-op where PDF RunLengthDecode ends.
  *
  * The encoder exists for fixtures (the GIF/JPEG pattern): it writes
  * the same matrix so specs can cross-validate bit-exactly against
  * the JDK's independent TIFF plugin in BOTH directions (our bytes →
  * ImageIO reader; ImageIO writer → our decoder).
  *
  * Sample-value contract matches the PNG path (`Multimodal`
  * decodePngWithDims): RAW stored samples — grayscale/bilevel emit
  * one channel per pixel (photometric 0 is NOT inverted; consumers
  * needing display semantics read the photometric tag via metadata),
  * RGB emits three, palette expands to three 8-bit channels
  * (ColorMap >> 8, the 257-multiple convention writers use).
  */
object TiffCodec {

  def isTiff(b: Array[Byte]): Boolean =
    b.length >= 8 &&
      ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
       (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))

  // ---------------------------------------------------------------- decode

  private[graft] final class Rd(b: Array[Byte], val le: Boolean) {
    def u8(o: Int): Int = b(o) & 0xFF
    def u16(o: Int): Int =
      if (le) u8(o) | (u8(o + 1) << 8) else (u8(o) << 8) | u8(o + 1)
    def u32(o: Int): Long =
      if (le) (u16(o).toLong | (u16(o + 2).toLong << 16)) & 0xFFFFFFFFL
      else ((u16(o).toLong << 16) | u16(o + 2).toLong) & 0xFFFFFFFFL
  }

  /** One parsed IFD entry: TIFF type code and its values widened to
    * Long (BYTE/SHORT/LONG only — RATIONAL etc. aren't needed for
    * baseline strips and refuse on access). `vals` is never empty. */
  private[graft] final case class Entry(typ: Int, vals: IndexedSeq[Long])

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1 // BYTE / ASCII / SBYTE / UNDEFINED
    case 3 | 8         => 2 // SHORT / SSHORT
    case 4 | 9         => 4 // LONG / SLONG
    case 5 | 10        => 8 // RATIONAL / SRATIONAL
    case 11            => 4 // FLOAT
    case 12            => 8 // DOUBLE
    case _             => -1
  }

  /** Walk the first IFD into a tag → Entry map. Value arrays over 4
    * bytes indirect through the offset field; shorter ones are
    * inline left-justified in the writer's byte order. */
  private[graft] def parseIfd(b: Array[Byte]): (Rd, Map[Int, Entry]) = {
    require(isTiff(b), "not a TIFF")
    val rd = new Rd(b, b(0) == 'I')
    val ifd = rd.u32(4)
    require(ifd >= 8 && ifd + 2 <= b.length, s"TIFF IFD offset $ifd out of range")
    val n = rd.u16(ifd.toInt)
    require(ifd + 2 + 12L * n <= b.length, "truncated TIFF IFD")
    val m = Map.newBuilder[Int, Entry]
    var i = 0
    while (i < n) {
      val e = ifd.toInt + 2 + 12 * i
      val tag = rd.u16(e)
      val typ = rd.u16(e + 2)
      val cnt = rd.u32(e + 4)
      val sz = typeSize(typ)
      // a count of 0 carries no value: the tag reads as absent, so a
      // required one refuses and an optional one takes its default
      if (sz > 0 && cnt >= 1 && cnt <= 1000000 && (typ == 1 || typ == 3 || typ == 4)) {
        val total = sz * cnt
        val base = if (total <= 4) e + 8 else {
          val off = rd.u32(e + 8)
          require(off + total <= b.length,
            s"TIFF tag $tag values out of range (off=$off len=$total)")
          off.toInt
        }
        val vals = (0 until cnt.toInt).map { k =>
          typ match {
            case 1 => rd.u8(base + k).toLong
            case 3 => rd.u16(base + k * 2).toLong
            case _ => rd.u32(base + k * 4)
          }
        }
        m += tag -> Entry(typ, vals)
      }
      // other value types (rationals, ASCII) are metadata we don't
      // need — skipped, not an error
      i += 1
    }
    (rd, m.result())
  }

  /** Decode the first image of a baseline strip TIFF. Returns
    * (width, height, samples) — see the class doc for the channel
    * and raw-value contract. */
  def decode(b: Array[Byte]): (Int, Int, Array[Float]) = {
    val (rd, tags) = parseIfd(b)
    def one(tag: Int, default: Long = -1L): Long =
      tags.get(tag).map(_.vals.head).getOrElse {
        require(default >= 0, s"TIFF missing required tag $tag"); default
      }
    def all(tag: Int): IndexedSeq[Long] =
      tags.get(tag).map(_.vals).getOrElse {
        throw new IllegalArgumentException(s"TIFF missing required tag $tag")
      }

    val w = one(256).toInt
    val h = one(257).toInt
    require(w > 0 && h > 0 && w.toLong * h <= Multimodal.MaxPixels,
      s"TIFF $w x $h out of decodable range")
    val spp = one(277, 1L).toInt
    require(spp == 1 || spp == 3,
      s"TIFF samples-per-pixel $spp unsupported (1 or 3)")
    val bitsSeq = tags.get(258).map(_.vals).getOrElse(IndexedSeq(1L))
    require(bitsSeq.distinct.size == 1,
      s"TIFF mixed bits-per-sample ${bitsSeq.mkString(",")} unsupported")
    val bits = bitsSeq.head.toInt
    require(bits == 1 || bits == 8 || bits == 16,
      s"TIFF $bits-bit samples unsupported (1/8/16)")
    val comp = one(259, 1L).toInt
    val photo = one(262, 1L).toInt
    require(photo >= 0 && photo <= 3,
      s"TIFF photometric $photo unsupported (YCbCr is codec-bound)")
    val t4Opts = one(292, 0L)
    // FillOrder 2 (LSB-first bit fill, tag 266) ships in real fax
    // TIFFs; ignoring it would silently decode garbage. Supported by
    // reversing each byte ahead of the bit-level CCITT reader;
    // anything else (writers only pair it with CCITT) refuses.
    val fillOrder = one(266, 1L).toInt
    require(fillOrder == 1 || fillOrder == 2,
      s"TIFF FillOrder $fillOrder invalid")
    require(fillOrder == 1 || comp == 2 || comp == 3 || comp == 4,
      s"TIFF FillOrder 2 with compression $comp unsupported (CCITT only)")
    if (comp == 2 || comp == 3 || comp == 4) {
      require(bits == 1 && spp == 1 && photo == 0,
        s"TIFF CCITT needs bilevel WhiteIsZero (bits=$bits spp=$spp photo=$photo)")
      // T4Options: bit 0 = 2-D coding (supported), bit 2 = fill bits
      // (tolerated by the EOL scanner); uncompressed-mode bit 1 and
      // anything else refuse. T6Options must be 0.
      require(comp != 3 || (t4Opts & ~5L) == 0L,
        s"TIFF T4Options $t4Opts unsupported")
      require(comp != 4 || one(293, 0L) == 0L,
        s"TIFF T6Options ${one(293, 0L)} unsupported")
    }
    require(photo != 3 || (spp == 1 && bits <= 8), "malformed palette TIFF")
    val planar = one(284, 1L).toInt
    require(planar == 1, s"TIFF planar configuration $planar unsupported")
    val predictor = one(317, 1L).toInt
    require(predictor == 1 || predictor == 2,
      s"TIFF predictor $predictor unsupported")
    require(predictor == 1 || bits == 8,
      s"TIFF predictor 2 with $bits-bit samples unsupported")
    val cm: Array[Int] = if (photo == 3) {
      val raw = all(320)
      val n = 1 << bits
      require(raw.size == 3 * n, s"TIFF ColorMap size ${raw.size} != ${3 * n}")
      raw.map(_.toInt).toArray
    } else null

    val chans = if (photo == 3) 3 else spp
    val out = new Array[Float](w * h * chans)

    /** Decompress one segment (strip or tile) of segW x segRows. */
    def segment(off: Long, len: Long, segW: Int, segRows: Int,
                segRowBytes: Int, what: String): Array[Byte] = {
      require(off + len <= b.length, s"TIFF $what out of range")
      val expect = segRowBytes * segRows
      def exact(d: Array[Byte], kind: String): Array[Byte] = {
        require(d.length == expect,
          s"TIFF $what $kind short (${d.length} < $expect)")
        d
      }
      comp match {
        case 1 =>
          require(len >= expect, s"TIFF $what short ($len < $expect)")
          java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + expect)
        case 2 | 3 | 4 =>
          val src = if (fillOrder == 1) b
                    else reverseBits(b, off.toInt, len.toInt)
          val srcOff = if (fillOrder == 1) off.toInt else 0
          CcittCodec.decode(src, srcOff, len.toInt, segW, segRows, comp,
            g3TwoD = comp == 3 && (t4Opts & 1L) != 0L)
        case 5 => exact(ByteCodecs.lzwDecode(b, off.toInt, len.toInt,
          earlyChange = 1, maxOut = expect), "LZW")
        case 8 | 32946 => exact(ByteCodecs.inflate(b, off.toInt, len.toInt,
          nowrap = false, maxOut = expect), "deflate")
        case 32773 => packBitsDecode(b, off.toInt, len.toInt, expect)
        case c => throw new IllegalArgumentException(
          s"TIFF compression $c unsupported (1/2/3/4/5/8/32773/32946)")
      }
    }

    /** Clip-scatter a decoded segment at (rowOff, colOff). */
    def scatter(data: Array[Byte], segRows: Int, segRowBytes: Int,
                rowOff: Int, colOff: Int, segW: Int): Unit = {
      var r = 0
      while (r < segRows && rowOff + r < h) {
        val base = r * segRowBytes
        var x = 0
        while (x < segW && colOff + x < w) {
          val pix = (rowOff + r) * w + (colOff + x)
          if (photo == 3) {
            val idx = sampleAt(data, base, x, 0, 1, bits, rd.le)
            require(idx < (1 << bits), "palette index out of range")
            val n = 1 << bits
            out(pix * 3) = (cm(idx) >> 8).toFloat
            out(pix * 3 + 1) = (cm(n + idx) >> 8).toFloat
            out(pix * 3 + 2) = (cm(2 * n + idx) >> 8).toFloat
          } else {
            var c = 0
            while (c < chans) {
              out(pix * chans + c) =
                sampleAt(data, base, x, c, spp, bits, rd.le).toFloat
              c += 1
            }
          }
          x += 1
        }
        r += 1
      }
    }

    val tiled = tags.contains(322) || tags.contains(324)
    if (tiled) {
      val tw = one(322).toInt
      val th = one(323).toInt
      require(tw > 0 && th > 0 && tw % 16 == 0 && th % 16 == 0,
        s"TIFF tile geometry $tw x $th (must be positive multiples of 16)")
      val tOffs = all(324)
      val tCnts = all(325)
      val across = (w + tw - 1) / tw
      val down = (h + th - 1) / th
      require(tOffs.size == across.toLong * down &&
        tCnts.size == tOffs.size,
        s"TIFF tile count ${tOffs.size} != $across x $down")
      val tileRowBytes = (tw.toLong * spp * bits + 7) / 8
      require(tileRowBytes * th <= Int.MaxValue / 2, "TIFF tile too large")
      var ty = 0
      while (ty < down) {
        var tx = 0
        while (tx < across) {
          val ti = ty * across + tx
          val data = segment(tOffs(ti), tCnts(ti), tw, th,
            tileRowBytes.toInt, s"tile $ti")
          if (predictor == 2)
            undoPredictor(data, tileRowBytes.toInt, th, spp)
          scatter(data, th, tileRowBytes.toInt, ty * th, tx * tw, tw)
          tx += 1
        }
        ty += 1
      }
    } else {
      val offsets = all(273)
      val counts = all(279)
      require(offsets.size == counts.size && offsets.nonEmpty,
        "TIFF strip offsets/counts mismatch")
      val rps0 = one(278, 0xFFFFFFFFL)
      val rps = if (rps0 <= 0 || rps0 > h) h else rps0.toInt
      require((h + rps - 1) / rps == offsets.size,
        s"TIFF strip count ${offsets.size} inconsistent with rows-per-strip $rps")
      val rowBytes = (w.toLong * spp * bits + 7) / 8
      require(rowBytes <= Int.MaxValue / 2, "TIFF row too wide")
      var row = 0
      var strip = 0
      while (strip < offsets.size) {
        val sRows = math.min(rps, h - row)
        val data = segment(offsets(strip), counts(strip), w, sRows,
          rowBytes.toInt, s"strip $strip")
        if (predictor == 2) undoPredictor(data, rowBytes.toInt, sRows, spp)
        scatter(data, sRows, rowBytes.toInt, row, 0, w)
        row += sRows
        strip += 1
      }
    }
    (w, h, out)
  }

  private val BitReverse: Array[Byte] = Array.tabulate(256) { v =>
    (Integer.reverse(v) >>> 24).toByte
  }

  /** LSB-first → MSB-first byte copy of a segment (FillOrder 2). */
  private def reverseBits(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var i = 0
    while (i < len) { out(i) = BitReverse(b(off + i) & 0xFF); i += 1 }
    out
  }

  /** Pull sample `c` of pixel `x` from a decompressed row starting at
    * `base`: 1-bit samples are MSB-first packed, 16-bit samples
    * follow the FILE byte order (TIFF 6.0 §Section 2). */
  private def sampleAt(d: Array[Byte], base: Int, x: Int, c: Int,
                       spp: Int, bits: Int, le: Boolean): Int = bits match {
    case 8 => d(base + x * spp + c) & 0xFF
    case 16 =>
      val o = base + (x * spp + c) * 2
      if (le) (d(o) & 0xFF) | ((d(o + 1) & 0xFF) << 8)
      else ((d(o) & 0xFF) << 8) | (d(o + 1) & 0xFF)
    case _ => // 1-bit, MSB first; spp == 1 enforced by bit matrix
      val i = x * spp + c
      (d(base + (i >> 3)) >> (7 - (i & 7))) & 1
  }

  /** In-place horizontal-differencing undo (predictor 2, 8-bit):
    * each byte adds the same-channel byte one pixel left. */
  private def undoPredictor(d: Array[Byte], rowBytes: Int, rows: Int,
                            spp: Int): Unit = {
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var i = spp
      while (i < rowBytes) {
        d(base + i) = ((d(base + i) + d(base + i - spp)) & 0xFF).toByte
        i += 1
      }
      r += 1
    }
  }

  private[graft] def packBitsDecode(b: Array[Byte], off: Int, len: Int,
                                    expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var i = off; val end = off + len; var o = 0
    while (i < end && o < expect) {
      val n = b(i).toInt; i += 1
      if (n >= 0) { // literal run of n + 1 bytes
        require(i + n + 1 <= end && o + n + 1 <= expect, "PackBits overrun")
        System.arraycopy(b, i, out, o, n + 1); i += n + 1; o += n + 1
      } else if (n != -128) { // repeat next byte 1 - n times
        require(i < end && o + (1 - n) <= expect, "PackBits overrun")
        java.util.Arrays.fill(out, o, o + 1 - n, b(i)); i += 1; o += 1 - n
      } // -128: noop
    }
    require(o == expect, s"PackBits strip short ($o < $expect)")
    out
  }

  /** TIFF-variant LZW (TIFF 6.0 §13) encoder; decoding is the shared
    * [[ByteCodecs.lzwDecode]] with `earlyChange` 1. */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val bits = new ArrayBuffer[Byte]()
    var acc = 0L; var nAcc = 0
    def write(code: Int, width: Int): Unit = {
      acc = (acc << width) | code; nAcc += width
      while (nAcc >= 8) {
        bits += ((acc >> (nAcc - 8)) & 0xFF).toByte; nAcc -= 8
      }
    }
    def flush(): Unit =
      if (nAcc > 0) { bits += ((acc << (8 - nAcc)) & 0xFF).toByte; nAcc = 0 }

    var width = 9
    var next = 258
    val dict = new java.util.HashMap[Long, Integer]()
    def key(p: Int, c: Int): Long = (p.toLong << 8) | c
    write(LzwClear, width)
    var i = 0
    var prev = -1
    while (i < data.length) {
      val c = data(i) & 0xFF
      if (prev < 0) prev = c
      else {
        val k = key(prev, c)
        val hit = dict.get(k)
        if (hit != null) prev = hit.intValue()
        else {
          write(prev, width)
          dict.put(k, next)
          next += 1
          // the DECODER carries the early change (it bumps at
          // 2^w - 1 to compensate its one-entry lag); the encoder,
          // one entry ahead, bumps at 2^w so both switch width at
          // the same stream position
          if (next == (1 << width) && width < 12) width += 1
          if (next == 4094) { // table nearly full: clear and restart
            write(LzwClear, width)
            dict.clear(); width = 9; next = 258
          }
          prev = c
        }
      }
      i += 1
    }
    if (prev >= 0) {
      write(prev, width)
      // the decoder adds a table entry for this last code too, so it
      // may widen before EOI; EOI must follow at that width (libtiff's
      // LZWPostEncode does the same)
      next += 1
      if (next == (1 << width) && width < 12) width += 1
    }
    write(LzwEoi, width)
    flush()
    bits.toArray
  }

  private[graft] def packBitsEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    var i = 0
    while (i < data.length) {
      // find run length at i
      var run = 1
      while (i + run < data.length && run < 128 && data(i + run) == data(i))
        run += 1
      if (run >= 2) {
        out += (1 - run).toByte += data(i)
        i += run
      } else {
        // literal stretch until a 3+ run starts (2-byte runs aren't
        // worth breaking a literal for)
        var j = i + 1
        var stop = false
        while (j < data.length && j - i < 128 && !stop) {
          if (j + 2 < data.length && data(j) == data(j + 1) &&
              data(j) == data(j + 2)) stop = true
          else j += 1
        }
        out += (j - i - 1).toByte
        out ++= data.slice(i, j)
        i = j
      }
    }
    out.toArray
  }

  // ---------------------------------------------------------------- encode

  /** Fixture-encoder options. `compression`: 1 none, 2/3/4 CCITT
    * (MH / T.4 1-D / T.6 — bilevel WhiteIsZero only), 5 LZW, 8
    * Deflate, 32773 PackBits. `predictor` 2 requires 8-bit samples
    * and LZW/Deflate (the spec's pairing). `tile` > 0 writes tiled
    * organization (tag 322/323/324/325) with that square tile edge
    * (a multiple of 16) instead of strips. */
  case class Options(littleEndian: Boolean = true,
                     compression: Int = 1,
                     predictor: Int = 1,
                     rowsPerStrip: Int = 0, // 0 = single strip
                     orientation: Int = 0,  // 0 = omit tag 274
                     tile: Int = 0,         // 0 = strips
                     fillOrder: Int = 1)    // 2 = LSB-first (CCITT only)

  /** RGB 8-bit chunky. */
  def encodeRgb(w: Int, h: Int, pix: (Int, Int) => (Int, Int, Int),
                opts: Options = Options()): Array[Byte] = {
    val raw = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pix(x, y)
      raw((y * w + x) * 3) = r.toByte
      raw((y * w + x) * 3 + 1) = g.toByte
      raw((y * w + x) * 3 + 2) = b.toByte
    }
    build(w, h, spp = 3, bits = 8, photo = 2, raw, opts, cm = null)
  }

  /** Grayscale (photometric 1, or 0 for white-is-zero) at 1/8/16
    * bits. 16-bit samples follow the file byte order; 1-bit rows pack
    * MSB-first. */
  def encodeGray(w: Int, h: Int, gray: (Int, Int) => Int,
                 bits: Int = 8, photo: Int = 1,
                 opts: Options = Options()): Array[Byte] = {
    require(Set(1, 8, 16)(bits) && (photo == 0 || photo == 1))
    val rowBytes = (w * bits + 7) / 8
    val raw = new Array[Byte](rowBytes * h)
    for (y <- 0 until h; x <- 0 until w) {
      val v = gray(x, y) & ((1 << bits) - 1)
      bits match {
        case 8 => raw(y * rowBytes + x) = v.toByte
        case 16 =>
          val o = y * rowBytes + x * 2
          if (opts.littleEndian) {
            raw(o) = (v & 0xFF).toByte; raw(o + 1) = (v >> 8).toByte
          } else {
            raw(o) = (v >> 8).toByte; raw(o + 1) = (v & 0xFF).toByte
          }
        case _ =>
          if (v != 0) {
            val i = y * rowBytes + (x >> 3)
            raw(i) = (raw(i) | (1 << (7 - (x & 7)))).toByte
          }
      }
    }
    build(w, h, spp = 1, bits, photo, raw, opts, cm = null)
  }

  /** Palette (photometric 3): 16-bit ColorMap from 8-bit triples via
    * the v * 257 convention, indices at `bits` ∈ {1, 8}. */
  def encodePalette(w: Int, h: Int, palette: Seq[(Int, Int, Int)],
                    idx: (Int, Int) => Int, bits: Int = 8,
                    opts: Options = Options()): Array[Byte] = {
    require(bits == 1 || bits == 8)
    require(palette.nonEmpty && palette.size <= (1 << bits))
    val n = 1 << bits
    val cm = new Array[Int](3 * n)
    palette.zipWithIndex.foreach { case ((r, g, b), i) =>
      cm(i) = r * 257; cm(n + i) = g * 257; cm(2 * n + i) = b * 257
    }
    val rowBytes = (w * bits + 7) / 8
    val raw = new Array[Byte](rowBytes * h)
    for (y <- 0 until h; x <- 0 until w) {
      val v = idx(x, y)
      require(v >= 0 && v < palette.size, "palette index out of range")
      if (bits == 8) raw(y * rowBytes + x) = v.toByte
      else if (v != 0) {
        val i = y * rowBytes + (x >> 3)
        raw(i) = (raw(i) | (1 << (7 - (x & 7)))).toByte
      }
    }
    build(w, h, spp = 1, bits, photo = 3, raw, opts, cm)
  }

  private def applyPredictor(raw: Array[Byte], rowBytes: Int, rows: Int,
                             spp: Int): Array[Byte] = {
    val d = raw.clone()
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var i = rowBytes - 1
      while (i >= spp) {
        d(base + i) = ((raw(base + i) - raw(base + i - spp)) & 0xFF).toByte
        i -= 1
      }
      r += 1
    }
    d
  }

  private def build(w: Int, h: Int, spp: Int, bits: Int, photo: Int,
                    raw: Array[Byte], opts: Options,
                    cm: Array[Int]): Array[Byte] = {
    require(opts.predictor == 1 ||
      (bits == 8 && (opts.compression == 5 || opts.compression == 8)),
      "predictor 2 pairs with 8-bit LZW/Deflate")
    val ccitt = opts.compression == 2 || opts.compression == 3 ||
      opts.compression == 4
    require(!ccitt || (bits == 1 && spp == 1 && photo == 0 &&
      opts.predictor == 1),
      "CCITT encodes bilevel WhiteIsZero only")
    val le = opts.littleEndian
    val rowBytes = (w * spp * bits + 7) / 8

    require(opts.fillOrder == 1 || (opts.fillOrder == 2 && ccitt),
      "FillOrder 2 pairs with CCITT only")

    def compress(d: Array[Byte], segW: Int, segRows: Int): Array[Byte] =
      opts.compression match {
        case 1 => d
        case 2 | 3 | 4 =>
          val enc = CcittCodec.encode(d, segW, segRows, opts.compression)
          if (opts.fillOrder == 1) enc else reverseBits(enc, 0, enc.length)
        case 5 => lzwEncode(d)
        case 8 => ByteCodecs.deflate(d)
        case 32773 => packBitsEncode(d)
        case c => throw new IllegalArgumentException(s"encoder compression $c")
      }

    val tiled = opts.tile > 0
    require(!tiled || opts.tile % 16 == 0, "tile edge must be a multiple of 16")
    val (segs, rps, tilesAcross, tilesDown) = if (tiled) {
      val t = opts.tile
      val across = (w + t - 1) / t
      val down = (h + t - 1) / t
      val tileRowBytes = (t * spp * bits + 7) / 8
      val out = for (ty <- 0 until down; tx <- 0 until across) yield {
        // full t x t tile, zero-padded at right/bottom edges
        val buf = new Array[Byte](tileRowBytes * t)
        var r = 0
        while (r < t && ty * t + r < h) {
          if (bits % 8 == 0) {
            val bytesPerPix = spp * bits / 8
            val n = math.min(t, w - tx * t) * bytesPerPix
            System.arraycopy(raw,
              (ty * t + r) * rowBytes + tx * t * bytesPerPix,
              buf, r * tileRowBytes, n)
          } else { // 1-bit: re-pack bit by bit across the column cut
            var x = 0
            while (x < t && tx * t + x < w) {
              val srcX = tx * t + x
              val bit = (raw((ty * t + r) * rowBytes + (srcX >> 3)) >>
                (7 - (srcX & 7))) & 1
              if (bit != 0) {
                val i = r * tileRowBytes + (x >> 3)
                buf(i) = (buf(i) | (1 << (7 - (x & 7)))).toByte
              }
              x += 1
            }
          }
          r += 1
        }
        var d = buf
        if (opts.predictor == 2) d = applyPredictor(d, tileRowBytes, t, spp)
        compress(d, t, t)
      }
      (out, 0, across, down)
    } else {
      val rps0 = if (opts.rowsPerStrip <= 0) h
                 else math.min(opts.rowsPerStrip, h)
      val nStrips = (h + rps0 - 1) / rps0
      val out = (0 until nStrips).map { s =>
        val rows = math.min(rps0, h - s * rps0)
        var d = java.util.Arrays.copyOfRange(raw, s * rps0 * rowBytes,
          (s * rps0 + rows) * rowBytes)
        if (opts.predictor == 2) d = applyPredictor(d, rowBytes, rows, spp)
        compress(d, w, rows)
      }
      (out, rps0, 0, 0)
    }
    val strips = segs
    val nStrips = segs.size

    val out = new ArrayBuffer[Byte]()
    def w16(v: Int): Unit =
      if (le) { out += (v & 0xFF).toByte += ((v >> 8) & 0xFF).toByte }
      else { out += ((v >> 8) & 0xFF).toByte += (v & 0xFF).toByte }
    def w32(v: Long): Unit =
      if (le) { w16((v & 0xFFFF).toInt); w16(((v >> 16) & 0xFFFF).toInt) }
      else { w16(((v >> 16) & 0xFFFF).toInt); w16((v & 0xFFFF).toInt) }

    out += (if (le) 'I' else 'M').toByte += (if (le) 'I' else 'M').toByte
    w16(42)
    w32(8) // IFD immediately after header

    // entries: tag, type, count, value-or-offset — values wider than
    // 4 bytes are appended to a trailing value area
    final case class E(tag: Int, typ: Int, vals: Seq[Long])
    var entries = Seq(
      E(256, 4, Seq(w)), E(257, 4, Seq(h)),
      E(258, 3, Seq.fill(spp)(bits.toLong)),
      E(259, 3, Seq(opts.compression)),
      E(262, 3, Seq(photo)),
      E(277, 3, Seq(spp)),
      E(284, 3, Seq(1L))
    )
    if (opts.predictor == 2) entries :+= E(317, 3, Seq(2L))
    if (opts.orientation > 0) entries :+= E(274, 3, Seq(opts.orientation))
    if (cm != null) entries :+= E(320, 3, cm.map(_.toLong).toSeq)
    if (opts.compression == 3) entries :+= E(292, 4, Seq(0L)) // 1-D, no fill
    if (opts.compression == 4) entries :+= E(293, 4, Seq(0L))
    if (opts.fillOrder == 2) entries :+= E(266, 3, Seq(2L))
    // segment offsets get placeholders patched below
    val offsetsTag = if (tiled) 324 else 273
    if (tiled) {
      entries :+= E(322, 3, Seq(opts.tile.toLong))
      entries :+= E(323, 3, Seq(opts.tile.toLong))
      entries :+= E(324, 4, Seq.fill(nStrips)(0L))
      entries :+= E(325, 4, strips.map(_.length.toLong))
    } else {
      entries :+= E(278, 4, Seq(rps))
      entries :+= E(273, 4, Seq.fill(nStrips)(0L))
      entries :+= E(279, 4, strips.map(_.length.toLong))
    }
    entries = entries.sortBy(_.tag)

    val ifdAt = out.length
    w16(entries.size)
    val entryAt = scala.collection.mutable.Map[Int, Int]()
    var tailAt = ifdAt + 2 + 12 * entries.size + 4 // after next-IFD ptr
    val tail = new ArrayBuffer[Byte]()
    def tw16(v: Int): Unit =
      if (le) { tail += (v & 0xFF).toByte += ((v >> 8) & 0xFF).toByte }
      else { tail += ((v >> 8) & 0xFF).toByte += (v & 0xFF).toByte }
    def tw32(v: Long): Unit =
      if (le) { tw16((v & 0xFFFF).toInt); tw16(((v >> 16) & 0xFFFF).toInt) }
      else { tw16(((v >> 16) & 0xFFFF).toInt); tw16((v & 0xFFFF).toInt) }

    entries.foreach { e =>
      w16(e.tag); w16(e.typ); w32(e.vals.size)
      entryAt(e.tag) = out.length
      val sz = typeSize(e.typ) * e.vals.size
      if (sz <= 4) {
        // inline, left-justified in file byte order
        val before = out.length
        e.vals.foreach(v => if (e.typ == 3) w16(v.toInt) else w32(v))
        while (out.length < before + 4) out += 0.toByte
      } else {
        w32(tailAt + tail.length)
        e.vals.foreach(v => if (e.typ == 3) tw16(v.toInt) else tw32(v))
      }
    }
    w32(0) // next IFD: none
    out ++= tail

    // append strips and patch tag 273's values (inline when a single
    // strip, indirect otherwise — matching the writer logic above)
    val stripAt = new Array[Long](nStrips)
    strips.zipWithIndex.foreach { case (s, i) =>
      stripAt(i) = out.length
      out ++= s
    }
    val bytes = out.toArray
    def patch32(at: Int, v: Long): Unit = {
      val vv = v & 0xFFFFFFFFL
      if (le) {
        bytes(at) = (vv & 0xFF).toByte
        bytes(at + 1) = ((vv >> 8) & 0xFF).toByte
        bytes(at + 2) = ((vv >> 16) & 0xFF).toByte
        bytes(at + 3) = ((vv >> 24) & 0xFF).toByte
      } else {
        bytes(at) = ((vv >> 24) & 0xFF).toByte
        bytes(at + 1) = ((vv >> 16) & 0xFF).toByte
        bytes(at + 2) = ((vv >> 8) & 0xFF).toByte
        bytes(at + 3) = (vv & 0xFF).toByte
      }
    }
    val at273 = entryAt(offsetsTag)
    if (nStrips == 1) patch32(at273, stripAt(0))
    else {
      // indirect: the offset field points at the tail array we wrote
      val arrAt = if (le) {
        (bytes(at273) & 0xFFL) | ((bytes(at273 + 1) & 0xFFL) << 8) |
          ((bytes(at273 + 2) & 0xFFL) << 16) | ((bytes(at273 + 3) & 0xFFL) << 24)
      } else {
        ((bytes(at273) & 0xFFL) << 24) | ((bytes(at273 + 1) & 0xFFL) << 16) |
          ((bytes(at273 + 2) & 0xFFL) << 8) | (bytes(at273 + 3) & 0xFFL)
      }
      stripAt.zipWithIndex.foreach { case (o, i) =>
        patch32(arrAt.toInt + 4 * i, o)
      }
    }
    bytes
  }
}
