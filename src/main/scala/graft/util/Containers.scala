package graft.util

import java.nio.charset.StandardCharsets.US_ASCII

/** The ONE walker per container framing the media parsers share, and
  * the byte readers they read fields with:
  *
  *  - [[riff]]: RIFF/IFF chunks — 4-byte id, 32-bit size, a pad byte
  *    after odd sizes. The byte order comes from the container: AIFF's
  *    `FORM` is big-endian, RIFF (WAV, AVI, WebP) little-endian.
  *  - [[boxes]]: ISO-BMFF boxes (MP4, AVIF) — size 1 means a 64-bit
  *    largesize follows the type, size 0 runs to the end of the parent.
  *  - [[pngChunks]]: PNG chunks after the 8-byte signature — length,
  *    type, data, CRC (the CRC is skipped, not checked).
  *  - [[jpegSegments]]: JPEG header segments from SOI up to and
  *    including SOS, skipping fill bytes and the markers that carry no
  *    length (TEM, RSTn, SOI, EOI).
  *
  * A walker is a cursor over one level: `next()` steps to the next
  * chunk and sets `id`, the payload bounds `start`/`end` and the
  * declared `size`. Sizes are computed as `Long`, every step advances
  * past at least one header, and nothing here throws. A chunk whose
  * declared size does not fit — it runs past the parent, or is smaller
  * than its own header — is reported with `overrun` set and `end`
  * clamped to the parent, and the walk stops after it; a header cut
  * off by the end of the parent ends the walk without a report. What
  * a malformed chunk means is each caller's one-line decision:
  * metadata parsers degrade to null fields, decoders refuse with
  * `require`. Centralized so a size rule is fixed in one place instead
  * of drifting between copies — an `Int` size once kept a WAV walk
  * stepping by zero bytes forever. */
object Containers {

  // ------------------------------------------------------ byte readers

  def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)

  def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

  /** Unsigned; `.toInt` gives the signed 32-bit value. */
  def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  /** Unsigned; `.toInt` gives the signed 32-bit value. */
  def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)

  def be64(b: Array[Byte], i: Int): Long = (be32(b, i) << 32) | be32(b, i + 4)

  /** A four-character code as the big-endian int a walker's `id` holds. */
  private def fourcc(s: String): Int =
    (s.charAt(0) << 24) | (s.charAt(1) << 16) | (s.charAt(2) << 8) | s.charAt(3)

  /** The ASCII bytes of `s` at `i`; false when they would run off `b`. */
  def tag(b: Array[Byte], i: Int, s: String): Boolean =
    i >= 0 && i + s.length <= b.length &&
      s.indices.forall(j => b(i + j) == s.charAt(j).toByte)

  // ----------------------------------------------------------- walkers

  /** RIFF/IFF chunks in `b[from, to)`; big-endian sizes when `b` is an
    * IFF `FORM` container. */
  def riff(b: Array[Byte], from: Int, to: Int): Walk =
    new Walk(b, if (tag(b, 0, "FORM")) IffBE else RiffLE, from, to)

  /** ISO-BMFF boxes in `b[from, to)`. */
  def boxes(b: Array[Byte], from: Int, to: Int): Walk =
    new Walk(b, Bmff, from, to)

  /** The chunks of a PNG, after its signature. */
  def pngChunks(b: Array[Byte]): Walk = new Walk(b, Png, 8, b.length)

  /** The header segments of a JPEG, after its SOI; `id` is the marker. */
  def jpegSegments(b: Array[Byte]): Walk = new Walk(b, Jpeg, 2, b.length)

  private final val RiffLE = 0
  private final val IffBE = 1
  private final val Bmff = 2
  private final val Png = 3
  private final val Jpeg = 4

  /** A cursor over one level of chunks: `next()` sets the fields. */
  final class Walk private[Containers] (b: Array[Byte], framing: Int,
                                        from: Int, to: Int) {
    /** A big-endian fourcc, or the marker byte of a JPEG segment. */
    var id: Int = 0
    /** Payload bounds; `start <= end <= to` always holds. */
    var start: Int = 0
    var end: Int = 0
    /** The size field as the framing declares it: payload bytes for
      * RIFF and PNG, box bytes with the header for ISO-BMFF (the
      * largesize when the 32-bit field is 1; 0 for a to-the-end box),
      * the self-counting length field for JPEG. */
    var size: Long = 0L
    /** The declared size does not fit; this chunk is the last. */
    var overrun: Boolean = false

    private var pos: Long = from
    private var done = false

    def is(s: String): Boolean = id == fourcc(s)

    def name: String = new String(Array[Byte]((id >>> 24).toByte,
      (id >>> 16).toByte, (id >>> 8).toByte, id.toByte), US_ASCII)

    /** Steps to the next chunk with id `s`; false when none is left. */
    def find(s: String): Boolean = {
      val want = fourcc(s)
      while (next()) if (id == want) return true
      false
    }

    def next(): Boolean = {
      if (done) return false
      (framing: @annotation.switch) match {
        case RiffLE | IffBE =>
          if (pos + 8 > to) return stop()
          val p = pos.toInt
          id = be32(b, p).toInt
          size = if (framing == IffBE) be32(b, p + 4) else le32(b, p + 4)
          emit(p + 8L, p + 8L + size, p + 8L + size + (size & 1), fits = true)
        case Bmff =>
          if (pos + 8 > to) return stop()
          val p = pos.toInt
          id = be32(b, p + 4).toInt
          size = be32(b, p)
          if (size == 0) emit(p + 8L, to, to, fits = true)
          else if (size != 1) emit(p + 8L, p + size, p + size, fits = size >= 8)
          else if (p + 16L > to) emit(p + 16L, to, to, fits = false)
          else {
            size = be64(b, p + 8)
            val boxEnd = if (size > to - p) to + 1L else p + size
            emit(p + 16L, boxEnd, boxEnd, fits = size >= 16)
          }
        case Png =>
          if (pos + 8 > to) return stop()
          val p = pos.toInt
          size = be32(b, p)
          id = be32(b, p + 4).toInt
          emit(p + 8L, p + 8L + size, p + 12L + size,
            fits = p + 12L + size <= to)
        case _ =>
          var j = pos.toInt
          var m = -1
          while (m < 0) {
            if (j + 1 >= to || (b(j) & 0xFF) != 0xFF) return stop()
            while (j + 1 < to && (b(j + 1) & 0xFF) == 0xFF) j += 1 // fill
            if (j + 1 >= to) return stop()
            val marker = b(j + 1) & 0xFF
            if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD9)) j += 2
            else m = marker
          }
          if (j + 4 > to) return stop()
          id = m
          size = be16(b, j + 2)
          emit(j + 4L, j + 2L + size, j + 2L + size, fits = size >= 2)
          if (m == 0xDA) done = true // SOS: entropy-coded data follows
          true
      }
    }

    private def stop(): Boolean = { done = true; false }

    private def emit(payload: Long, stop: Long, after: Long,
                     fits: Boolean): Boolean = {
      start = math.min(payload, to.toLong).toInt
      if (fits && stop <= to) { end = stop.toInt; pos = after }
      else {
        end = math.max(start.toLong, math.min(stop, to.toLong)).toInt
        overrun = true
        done = true
      }
      true
    }
  }
}
