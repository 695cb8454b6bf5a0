package graft.util

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.TiffCodec

/** The shared lossless kernels, each refusal covered once here; the
  * container specs (PNG, APNG, TIFF, PDF, WARC, sitemap) cover them
  * through their decoders. */
class ByteCodecsSpec extends AnyFunSuite {

  private val text =
    ("lossless kernels — " * 200 + "end").getBytes("UTF-8")

  /** Codes packed MSB-first at a fixed width, zero-padded to a byte. */
  private def pack(codes: Seq[Int], width: Int = 9): Array[Byte] = {
    val bits = codes.flatMap(c => (width - 1 to 0 by -1).map(k => (c >> k) & 1))
    bits.grouped(8).map { g =>
      g.padTo(8, 0).foldLeft(0)((acc, bit) => (acc << 1) | bit).toByte
    }.toArray
  }

  /** [[TiffCodec.lzwEncode]] with the code-width bump moved one code
    * later, i.e. the stream an `EarlyChange 0` PDF writer emits. */
  private def lzwEncodeLate(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nAcc = 0
    def write(code: Int, width: Int): Unit = {
      acc = (acc << width) | code; nAcc += width
      while (nAcc >= 8) { out.write(((acc >> (nAcc - 8)) & 0xFF).toInt); nAcc -= 8 }
    }
    var width = 9
    var next = 258
    val dict = new java.util.HashMap[Long, Integer]()
    write(256, width)
    var prev = -1
    data.foreach { byte =>
      val c = byte & 0xFF
      if (prev < 0) prev = c
      else {
        val hit = dict.get((prev.toLong << 8) | c)
        if (hit != null) prev = hit.intValue()
        else {
          write(prev, width)
          dict.put((prev.toLong << 8) | c, next)
          next += 1
          if (next == (1 << width) + 1 && width < 12) width += 1
          if (next == 4094) {
            write(256, width); dict.clear(); width = 9; next = 258
          }
          prev = c
        }
      }
    }
    if (prev >= 0) {
      write(prev, width)
      next += 1
      if (next == (1 << width) + 1 && width < 12) width += 1
    }
    write(257, width)
    if (nAcc > 0) out.write(((acc << (8 - nAcc)) & 0xFF).toInt)
    out.toByteArray
  }

  // ---------------------------------------------------------- deflate

  test("inflate round-trips deflate, zlib and raw, and stops at maxOut") {
    val z = ByteCodecs.deflate(text)
    assert(ByteCodecs.inflate(z, 0, z.length, nowrap = false, text.length)
      .sameElements(text))
    // an offset window into a larger buffer
    val framed = Array[Byte](9, 9) ++ z ++ Array[Byte](7)
    assert(ByteCodecs.inflate(framed, 2, z.length, nowrap = false,
      Int.MaxValue).sameElements(text))
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(text); d.finish()
    val rawBuf = new Array[Byte](text.length)
    val rawLen = d.deflate(rawBuf); d.end()
    assert(ByteCodecs.inflate(rawBuf, 0, rawLen, nowrap = true, Int.MaxValue)
      .sameElements(text))
    // a stream past maxOut yields exactly maxOut bytes: a capped caller
    // passing cap + 1 sees more than its cap and refuses
    val capped = ByteCodecs.inflate(z, 0, z.length, nowrap = false, 100)
    assert(capped.sameElements(text.take(100)))
    assert(ByteCodecs.inflate(z, 0, z.length, nowrap = false, 0).isEmpty)
  }

  test("inflate refuses truncation, corruption and nowrap on a zlib stream") {
    val z = ByteCodecs.deflate(text)
    val truncated = intercept[IllegalArgumentException] {
      ByteCodecs.inflate(z, 0, z.length / 2, nowrap = false, Int.MaxValue)
    }
    assert(truncated.getMessage.contains("truncated"))
    val corrupt = z.clone()
    corrupt(0) = 0x79 // not a zlib CMF/FLG pair
    val bad = intercept[IllegalArgumentException] {
      ByteCodecs.inflate(corrupt, 0, corrupt.length, nowrap = false,
        Int.MaxValue)
    }
    assert(bad.getMessage.contains("invalid"))
    intercept[IllegalArgumentException] {
      ByteCodecs.inflate(z, 0, z.length, nowrap = true, Int.MaxValue)
    }
    // FDICT: FdictHangSpec (TIFF, APNG) and WarcWireDecodeSpec (HTTP)
  }

  test("gunzip drains concatenated members up to maxOut and refuses junk") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val two = gz(text) ++ gz(text)
    assert(ByteCodecs.gunzip(two, Int.MaxValue).sameElements(text ++ text))
    assert(ByteCodecs.gunzip(two, 10).sameElements(text.take(10)))
    intercept[IllegalArgumentException] { ByteCodecs.gunzip(text, 100) }
    val one = gz(text)
    intercept[IllegalArgumentException] {
      ByteCodecs.gunzip(one.take(one.length - 6), Int.MaxValue)
    }
  }

  // -------------------------------------------------------------- PNG

  test("unfilter undoes each filter type and refuses type 5") {
    // two rows of 4 bytes at bpp 2, every filter on the second row
    // against a hand-computed reference
    val prior = Array(10, 20, 30, 40)
    val want = Array(200, 7, 99, 250)
    for (f <- 0 to 4) {
      val filtered = want.indices.map { i =>
        val left = if (i >= 2) want(i - 2) else 0
        val up = prior(i)
        val ul = if (i >= 2) prior(i - 2) else 0
        val pred = f match {
          case 0 => 0; case 1 => left; case 2 => up
          case 3 => (left + up) / 2
          case _ => // RFC 2083 §6.6, written out independently
            val p = left + up - ul
            val (pa, pb, pc) =
              (math.abs(p - left), math.abs(p - up), math.abs(p - ul))
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        ((want(i) - pred) & 0xFF).toByte
      }
      val raw = Array[Byte](5, 0) ++ prior.map(_.toByte) ++
        Array(f.toByte) ++ filtered
      ByteCodecs.unfilter(raw, 1, 2, 4, 2)
      assert(raw.slice(7, 11).map(_ & 0xFF).sameElements(want), s"filter $f")
      assert(raw(0) == 5, "bytes before `off` untouched")
    }
    val ex = intercept[IllegalArgumentException] {
      ByteCodecs.unfilter(Array[Byte](5, 1, 2), 0, 1, 2, 1)
    }
    assert(ex.getMessage.contains("filter type 5"))
  }

  // -------------------------------------------------------------- LZW

  test("LZW round-trips both EarlyChange conventions") {
    val rnd = new scala.util.Random(7)
    val payloads = Seq(
      Array.emptyByteArray,
      "hello filters".getBytes("US-ASCII"),
      Array.fill(257)(0.toByte), // KwKwK all the way
      Array.tabulate(4096)(i => (i * 31 % 251).toByte),
      Array.fill(20000)((rnd.nextInt(256) - 128).toByte)) // table-full clears
    payloads.foreach { p =>
      val early = TiffCodec.lzwEncode(p)
      assert(ByteCodecs.lzwDecode(early, 0, early.length, 1, Int.MaxValue)
        .sameElements(p), s"earlyChange 1 len=${p.length}")
      val late = lzwEncodeLate(p)
      assert(ByteCodecs.lzwDecode(late, 0, late.length, 0, Int.MaxValue)
        .sameElements(p), s"earlyChange 0 len=${p.length}")
    }
    // the PDF 32000-1 §7.4.4.2 example (EarlyChange 1)
    val spec = Array(0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01)
      .map(_.toByte)
    assert(new String(ByteCodecs.lzwDecode(spec, 0, spec.length, 1, 100),
      "US-ASCII") == "-----A---B")
    intercept[IllegalArgumentException] {
      ByteCodecs.lzwDecode(spec, 0, spec.length, 2, 100)
    }
  }

  test("LZW: KwKwK, codes ahead of the table, and bits that end before EOI") {
    // Clear, 'a', then 258 == the next free slot: "a" + "a" + "a"
    val kwk = pack(Seq(256, 'a', 258, 257))
    assert(new String(ByteCodecs.lzwDecode(kwk, 0, kwk.length, 1, 100),
      "US-ASCII") == "aaa")
    val ahead = pack(Seq(256, 'a', 300, 257))
    val ex = intercept[IllegalArgumentException] {
      ByteCodecs.lzwDecode(ahead, 0, ahead.length, 1, 100)
    }
    assert(ex.getMessage.contains("ahead of table"))
    // no EOI: a TIFF strip that reaches its exact length is complete,
    // a stream that must run to EOI/EOD is truncated
    val noEoi = pack(Seq(256, 'a', 'b'))
    assert(new String(ByteCodecs.lzwDecode(noEoi, 0, noEoi.length, 1, 2),
      "US-ASCII") == "ab")
    val cut = intercept[IllegalArgumentException] {
      ByteCodecs.lzwDecode(noEoi, 0, noEoi.length, 1, 100)
    }
    assert(cut.getMessage.contains("truncated"))
    // a string that would cross maxOut refuses instead of clipping
    intercept[IllegalArgumentException] {
      ByteCodecs.lzwDecode(kwk, 0, kwk.length, 1, 2)
    }
  }
}
