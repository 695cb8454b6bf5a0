package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{ApngCodec, TiffCodec}
import graft.llm.ApngCodec.FrameSpec

/** A zlib header with FDICT set makes `Inflater.inflate` return 0 with
  * `needsDictionary()` forever, so an inflate loop that only checks
  * `needsInput()` spins: on a cluster, an executor task that never
  * finishes. Every container decoder must refuse such a stream. */
class FdictHangSpec extends AnyFunSuite with Watchdog {

  /** zlib stream of `raw` compressed against a preset dictionary. */
  private def dictZlib(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setDictionary("preset dictionary".getBytes("US-ASCII"))
    d.setInput(raw); d.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  test("TIFF Deflate strip with a preset dictionary refuses, not spins") {
    val (w, h) = (8, 4)
    val raw = Array.tabulate[Byte](w * h)(i => (i * 37).toByte)
    val base = TiffCodec.encodeGray(w, h, (x, y) => raw(y * w + x) & 0xFF)
    val strip = dictZlib(raw)
    val b = base ++ strip
    // little-endian, IFD at 8: patch compression (259) to Deflate and
    // point the single strip's offset (273) and count (279) at `strip`
    def u16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    def put32(o: Int, v: Int): Unit =
      (0 until 4).foreach(k => b(o + k) = (v >>> (8 * k)).toByte)
    val n = u16(8)
    for (e <- (0 until n).map(10 + 12 * _)) u16(e) match {
      case 259 => b(e + 8) = 8; b(e + 9) = 0
      case 273 => put32(e + 8, base.length)
      case 279 => put32(e + 8, strip.length)
      case _ =>
    }
    val ex = intercept[IllegalArgumentException] {
      within(10)(TiffCodec.decode(b))
    }
    assert(ex.getMessage.contains("FDICT"))
  }

  test("APNG fdAT frame with a preset dictionary refuses, not spins") {
    val rgb = (x: Int, y: Int) => (x * 30, y * 40, 99)
    val apng = ApngCodec.encode(Seq(FrameSpec(6, 4, 0, 0, rgb),
      FrameSpec(3, 2, 1, 1, rgb)))
    // rebuild the chunk list with frame 1's fdAT payload (after its
    // sequence number) swapped for a preset-dictionary stream
    val out = new java.io.ByteArrayOutputStream()
    out.write(apng, 0, 8)
    var pos = 8
    def be32(o: Int): Int =
      ((apng(o) & 0xFF) << 24) | ((apng(o + 1) & 0xFF) << 16) |
        ((apng(o + 2) & 0xFF) << 8) | (apng(o + 3) & 0xFF)
    def writeBe32(v: Int): Unit =
      (3 to 0 by -1).foreach(k => out.write(v >>> (8 * k)))
    while (pos < apng.length) {
      val len = be32(pos)
      val typ = new String(apng, pos + 4, 4, "US-ASCII")
      val data = java.util.Arrays.copyOfRange(apng, pos + 8, pos + 8 + len)
      val body =
        if (typ != "fdAT") data
        else data.take(4) ++ dictZlib(Array.tabulate[Byte](2 * (1 + 3 * 4))(
          i => if (i % 13 == 0) 0 else (i * 11).toByte))
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(body)
      writeBe32(body.length); out.write(typ.getBytes("US-ASCII"))
      out.write(body); writeBe32(crc.getValue.toInt)
      pos += 12 + len
    }
    val ex = intercept[IllegalArgumentException] {
      within(10)(ApngCodec.decodeFrames(out.toByteArray))
    }
    assert(ex.getMessage.contains("FDICT"))
  }
}
