package graft.llm

import scala.collection.mutable.ArrayBuffer

/** QOI ("Quite OK Image", qoiformat.org, 2022) — the one-page
  * lossless format game and dataset tooling increasingly emits.
  *
  * Byte-exact implementation of the published spec: running
  * 64-entry index keyed by (r*3 + g*5 + b*7 + a*11) % 64, DIFF
  * (2-bit channel deltas, bias 2), LUMA (6-bit green delta bias 32
  * with 4-bit red/blue deltas relative to it, bias 8), RUN (1..62),
  * RGB/RGBA literal ops, previous-pixel state seeded (0,0,0,255),
  * 8-byte end marker. Wraparound arithmetic is mod 256 throughout.
  * 3-channel images decode to RGB planes, 4-channel to RGBA —
  * the repo's channel contract.
  *
  * No JDK reader exists; the pin is encoder/decoder round-trips over
  * op-diverse fixtures plus the q271 generative oracle (QOI is
  * lossless, so every sample replays).
  */
object QoiCodec {

  def isQoi(b: Array[Byte]): Boolean =
    b.length >= 14 && b(0) == 'q' && b(1) == 'o' && b(2) == 'i' &&
      b(3) == 'f'

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

  private def hash(r: Int, g: Int, b: Int, a: Int): Int =
    (r * 3 + g * 5 + b * 7 + a * 11) % 64

  def decode(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    require(isQoi(bytes), "not a QOI")
    val w = be32(bytes, 4)
    val h = be32(bytes, 8)
    val channels = bytes(12) & 0xFF
    val colorspace = bytes(13) & 0xFF
    require(w > 0 && h > 0 && w.toLong * h <= Multimodal.MaxPixels,
      s"QOI $w x $h out of range")
    require(channels == 3 || channels == 4, s"QOI channels $channels")
    require(colorspace <= 1, s"QOI colorspace $colorspace")
    val n = w * h
    val out = new Array[Float](n * channels)
    val index = Array.fill(64)((0, 0, 0, 0))
    var r = 0; var g = 0; var b = 0; var a = 255
    var p = 14
    var px = 0
    while (px < n) {
      require(p < bytes.length - 8, "QOI stream short of the end marker")
      val b1 = bytes(p) & 0xFF; p += 1
      var run = 1
      if (b1 == 0xFE) { // RGB
        r = bytes(p) & 0xFF; g = bytes(p + 1) & 0xFF
        b = bytes(p + 2) & 0xFF; p += 3
      } else if (b1 == 0xFF) { // RGBA
        r = bytes(p) & 0xFF; g = bytes(p + 1) & 0xFF
        b = bytes(p + 2) & 0xFF; a = bytes(p + 3) & 0xFF; p += 4
      } else (b1 >> 6) match {
        case 0 => // INDEX
          val e = index(b1 & 0x3F)
          r = e._1; g = e._2; b = e._3; a = e._4
        case 1 => // DIFF
          r = (r + ((b1 >> 4) & 3) - 2) & 0xFF
          g = (g + ((b1 >> 2) & 3) - 2) & 0xFF
          b = (b + (b1 & 3) - 2) & 0xFF
        case 2 => // LUMA
          val b2 = bytes(p) & 0xFF; p += 1
          val dg = (b1 & 0x3F) - 32
          r = (r + dg + ((b2 >> 4) & 0xF) - 8) & 0xFF
          g = (g + dg) & 0xFF
          b = (b + dg + (b2 & 0xF) - 8) & 0xFF
        case _ => // RUN
          run = (b1 & 0x3F) + 1
      }
      index(hash(r, g, b, a)) = (r, g, b, a)
      var k = 0
      while (k < run && px < n) {
        val d = px * channels
        out(d) = r; out(d + 1) = g; out(d + 2) = b
        if (channels == 4) out(d + 3) = a
        px += 1; k += 1
      }
      require(run <= 62 || (b1 >> 6) != 3, "QOI run out of range")
    }
    // end marker: seven 0x00 then 0x01
    require(bytes.length >= p + 8 &&
      (0 until 7).forall(i => bytes(p + i) == 0) && bytes(p + 7) == 1,
      "QOI missing end marker")
    (w, h, out)
  }

  /** Greedy spec encoder: RUN > INDEX > DIFF > LUMA > literal. */
  def encode(w: Int, h: Int, pix: (Int, Int) => (Int, Int, Int),
             alpha: (Int, Int) => Int = null): Array[Byte] = {
    val channels = if (alpha == null) 3 else 4
    val out = new ArrayBuffer[Byte]()
    out ++= "qoif".getBytes("US-ASCII")
    def w32(v: Int): Unit = {
      out += ((v >> 24) & 0xFF).toByte += ((v >> 16) & 0xFF).toByte
      out += ((v >> 8) & 0xFF).toByte += (v & 0xFF).toByte
    }
    w32(w); w32(h)
    out += channels.toByte += 0.toByte
    val index = Array.fill(64)((0, 0, 0, 0))
    var pr = 0; var pg = 0; var pb = 0; var pa = 255
    var run = 0
    def flushRun(): Unit =
      while (run > 0) {
        val take = math.min(run, 62)
        out += (0xC0 | (take - 1)).toByte
        run -= take
      }
    for (y <- 0 until h; x <- 0 until w) {
      val (r0, g0, b0) = pix(x, y)
      val r = r0 & 0xFF; val g = g0 & 0xFF; val b = b0 & 0xFF
      val a = if (alpha == null) pa else alpha(x, y) & 0xFF
      if (r == pr && g == pg && b == pb && a == pa) run += 1
      else {
        flushRun()
        val hidx = hash(r, g, b, a)
        if (index(hidx) == ((r, g, b, a))) out += hidx.toByte
        else {
          index(hidx) = (r, g, b, a)
          if (a == pa) {
            val dr = ((r - pr) & 0xFF).toByte.toInt // signed wrap
            val dg = ((g - pg) & 0xFF).toByte.toInt
            val db = ((b - pb) & 0xFF).toByte.toInt
            if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 &&
                db >= -2 && db <= 1)
              out += (0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) |
                (db + 2)).toByte
            else {
              val drg = ((dr - dg) & 0xFF).toByte.toInt
              val dbg = ((db - dg) & 0xFF).toByte.toInt
              if (dg >= -32 && dg <= 31 && drg >= -8 && drg <= 7 &&
                  dbg >= -8 && dbg <= 7) {
                out += (0x80 | (dg + 32)).toByte
                out += (((drg + 8) << 4) | (dbg + 8)).toByte
              } else {
                out += 0xFE.toByte += r.toByte += g.toByte += b.toByte
              }
            }
          } else {
            out += 0xFF.toByte += r.toByte += g.toByte += b.toByte += a.toByte
          }
        }
        pr = r; pg = g; pb = b; pa = a
      }
      // the index also records run-continued pixels' value (it is
      // already there from the first occurrence)
    }
    flushRun()
    out ++= Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)
    out.toArray
  }
}
