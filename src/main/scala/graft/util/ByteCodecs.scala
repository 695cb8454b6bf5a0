package graft.util

/** The ONE copy of each lossless byte kernel the container decoders
  * share: zlib inflate/deflate (PNG, APNG, TIFF Deflate, PDF
  * FlateDecode, HTTP `deflate`), a capped gzip drain (HTTP `gzip`,
  * `sitemap.xml.gz`), the PNG row-filter undo (PNG, Adam7 passes,
  * APNG frames, PDF PNG predictors) and MSB-first LZW (TIFF §13, PDF
  * §7.4.4). Centralized so a hostile-input guard is fixed in one
  * place instead of drifting between copies — the preset-dictionary
  * (FDICT) spin once guarded only some of the inflate loops.
  *
  * Output contract shared by every decoder here: decoding stops at
  * the end of the stream or at `maxOut` bytes, whichever comes first.
  * Exact-length callers (a TIFF strip, a PNG pixel stream) pass the
  * length they need and check what comes back; capped callers pass
  * `cap + 1` and refuse anything longer than `cap`. Malformed input
  * refuses with `IllegalArgumentException`. */
object ByteCodecs {

  /** `buf` grown to hold at least `need` bytes, never past `maxOut`. */
  private def grow(buf: Array[Byte], need: Int, maxOut: Int): Array[Byte] =
    if (need <= buf.length) buf
    else java.util.Arrays.copyOf(buf, math.min(maxOut,
      math.max(need, (buf.length.toLong * 2).min(Int.MaxValue - 8).toInt)))

  private def initialCapacity(inLen: Int, maxOut: Int): Int =
    math.min(maxOut.toLong, math.max(64L, inLen * 4L)).toInt

  // ----------------------------------------------------------- deflate

  /** zlib-wrapped (RFC 1950) inflate of `b[off, off + len)`, or a raw
    * RFC 1951 stream with `nowrap`. Stops at the end of the stream or
    * after `maxOut` bytes. Refuses a preset dictionary (FDICT — the
    * inflater would return 0 forever), truncation, a stalled inflater
    * and corrupt data. */
  def inflate(b: Array[Byte], off: Int, len: Int, nowrap: Boolean,
              maxOut: Int): Array[Byte] = {
    require(maxOut >= 0, s"inflate maxOut $maxOut")
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(b, off, len)
      var out = new Array[Byte](initialCapacity(len, maxOut))
      var got = 0
      while (got < maxOut && !inf.finished()) {
        if (got == out.length) out = grow(out, got + 1, maxOut)
        val n =
          try inf.inflate(out, got, out.length - got)
          catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"deflate stream invalid: ${e.getMessage}")
          }
        if (n == 0 && !inf.finished()) {
          require(!inf.needsDictionary(),
            "deflate stream requires a preset dictionary (FDICT)")
          require(!inf.needsInput(), "deflate stream truncated")
          throw new IllegalArgumentException("deflate stream stalled")
        }
        got += n
      }
      if (got == out.length) out else java.util.Arrays.copyOf(out, got)
    } finally inf.end()
  }

  /** zlib-wrapped deflate at the default level — the fixture encoders'
    * one compressor, so their bytes (and the oracles fed by them) stay
    * put. */
  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    } finally d.end()
  }

  /** Gunzip (RFC 1952, concatenated members included) up to `maxOut`
    * bytes. A malformed or truncated stream refuses. */
  def gunzip(b: Array[Byte], maxOut: Int): Array[Byte] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b), 65536)
      try in.readNBytes(maxOut) finally in.close()
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(
          s"gzip stream invalid: ${e.getMessage}")
    }

  /** One gzip member at the default level — the fixture writers' wire
    * form of `Content-Encoding: gzip` and `.gz` files. */
  def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  // --------------------------------------------------------------- PNG

  /** PNG signature sniff (its first four bytes) at `off`. */
  def isPng(b: Array[Byte], off: Int = 0): Boolean =
    b.length - off >= 8 && (b(off) & 0xFF) == 0x89 && b(off + 1) == 'P' &&
      b(off + 2) == 'N' && b(off + 3) == 'G'

  /** The Paeth predictor (RFC 2083 §6.6). */
  def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Undo the five PNG row filters (None/Sub/Up/Average/Paeth, RFC
    * 2083 §6) in place over `rows` rows at `off`, each a filter-type
    * byte followed by `rowBytes` data bytes; `bpp` is the filter step
    * in whole bytes (floored at 1 for sub-byte depths). The row above
    * row 0 reads as zeros. */
  def unfilter(raw: Array[Byte], off: Int, rows: Int, rowBytes: Int,
               bpp: Int): Unit = {
    val stride = rowBytes + 1
    var r = 0
    while (r < rows) {
      val f = raw(off + r * stride) & 0xFF
      val cur = off + r * stride + 1
      val pri = cur - stride // the row above; only read when r > 0
      var i = 0
      f match {
        case 0 =>
        case 1 =>
          i = bpp
          while (i < rowBytes) {
            raw(cur + i) = (raw(cur + i) + raw(cur + i - bpp)).toByte
            i += 1
          }
        case 2 =>
          if (r > 0) while (i < rowBytes) {
            raw(cur + i) = (raw(cur + i) + raw(pri + i)).toByte
            i += 1
          }
        case 3 =>
          while (i < rowBytes) {
            val left = if (i >= bpp) raw(cur + i - bpp) & 0xFF else 0
            val up = if (r > 0) raw(pri + i) & 0xFF else 0
            raw(cur + i) = (raw(cur + i) + ((left + up) >> 1)).toByte
            i += 1
          }
        case 4 =>
          while (i < rowBytes) {
            val left = if (i >= bpp) raw(cur + i - bpp) & 0xFF else 0
            val up = if (r > 0) raw(pri + i) & 0xFF else 0
            val ul = if (r > 0 && i >= bpp) raw(pri + i - bpp) & 0xFF else 0
            raw(cur + i) = (raw(cur + i) + paeth(left, up, ul)).toByte
            i += 1
          }
        case _ => throw new IllegalArgumentException(
          s"unknown PNG filter type $f")
      }
      r += 1
    }
  }

  // --------------------------------------------------------------- LZW

  final val LzwClear = 256
  final val LzwEoi = 257

  /** MSB-first LZW as TIFF §13 and PDF §7.4.4 both define it:
    * Clear=256, EOI/EOD=257, 9→12-bit codes. `earlyChange` 1 (TIFF,
    * and the PDF default) bumps the code width when the next table
    * slot is 2^w − 1; 0 bumps at 2^w. Decodes `b[off, off + len)`
    * until EOI or `maxOut` output bytes — a TIFF strip whose exact
    * length is reached needs no EOI, while running out of bits first
    * refuses (a PDF stream must end in EOD). */
  def lzwDecode(b: Array[Byte], off: Int, len: Int, earlyChange: Int,
                maxOut: Int): Array[Byte] = {
    require(earlyChange == 0 || earlyChange == 1,
      s"LZW EarlyChange $earlyChange")
    var out = new Array[Byte](initialCapacity(len, maxOut))
    var o = 0
    var bitPos = 0L
    val bitEnd = len.toLong * 8
    def read(width: Int): Int = {
      require(bitPos + width <= bitEnd, "truncated LZW stream (no EOI/EOD)")
      var v = 0; var k = 0
      while (k < width) {
        val p = bitPos + k
        v = (v << 1) | ((b(off + (p >> 3).toInt) >> (7 - (p & 7).toInt)) & 1)
        k += 1
      }
      bitPos += width
      v
    }
    // dictionary as (prefix code, appended byte) pairs; entries 0-255
    // are roots, 256/257 reserved
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    val buf = new Array[Byte](4096)
    def emit(code: Int): Byte = { // writes the string; returns first byte
      var c = code; var n = 0
      while (c >= 258) { buf(n) = append(c); n += 1; c = prefix(c) }
      require(c < 256, s"corrupt LZW code chain at $code")
      require(o + n + 1 <= maxOut, s"LZW output exceeds $maxOut bytes")
      out = grow(out, o + n + 1, maxOut)
      out(o) = c.toByte; o += 1
      var i = n - 1
      while (i >= 0) { out(o) = buf(i); o += 1; i -= 1 }
      c.toByte
    }
    var width = 9
    var next = 258
    var prev = -1
    var done = false
    while (!done && o < maxOut) {
      val code = read(width)
      if (code == LzwEoi) done = true
      else if (code == LzwClear) { width = 9; next = 258; prev = -1 }
      else {
        require(code < next || (code == next && prev >= 0),
          s"LZW code $code ahead of table ($next)")
        if (code == next) { // KwKwK: prev string + its own first byte
          var c = prev; while (c >= 258) c = prefix(c)
          prefix(next) = prev; append(next) = c.toByte
        }
        val first = emit(code)
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; append(next) = first
          next += 1
          if (next == (1 << width) - earlyChange && width < 12) width += 1
        }
        prev = code
      }
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }
}
