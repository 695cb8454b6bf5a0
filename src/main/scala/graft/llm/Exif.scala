package graft.llm

import graft.util.Containers

/** EXIF orientation: the one EXIF field a training-data image
  * pipeline must honor — phones store rotated sensor data and mark
  * the display transform here, so hashes/embeddings computed on
  * un-normalized pixels silently disagree across re-encodes of the
  * same photo.
  *
  * `orientation` reads the tag from a JPEG (APP1 "Exif\0\0" segment
  * wrapping a little TIFF structure, found through
  * [[graft.util.Containers.jpegSegments]]) or from a bare TIFF (tag 274
  * in IFD0), through [[TiffCodec.parseIfd]]'s defensive walk. Absent or
  * malformed metadata degrades to 1 (identity) — the browser
  * convention — never an exception: orientation is advisory.
  *
  * `applyOrientation` maps stored pixels to display pixels for all
  * eight values (CIPA DC-008 §4.6.4): displayed(x, y) = stored(sx,
  * sy) with dimensions swapping for 5-8. The spec cross-validates
  * the rotations/flips against `AffineTransformOp`, the JDK's
  * independent implementation.
  */
object Exif {

  /** Orientation 1-8; 1 when absent or unparseable. */
  def orientation(b: Array[Byte]): Int = {
    if (b == null || b.length < 4) return 1
    var tiff: Array[Byte] = if (TiffCodec.isTiff(b)) b else null
    if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      // the embedded TIFF structure of the first APP1 Exif segment
      val seg = Containers.jpegSegments(b)
      while (tiff == null && seg.next() && !seg.overrun)
        if (seg.id == 0xE1 && Containers.tag(b, seg.start, "Exif\u0000\u0000") &&
            seg.start + 6 <= seg.end)
          tiff = java.util.Arrays.copyOfRange(b, seg.start + 6, seg.end)
    }
    if (tiff == null) return 1
    try {
      val (_, tags) = TiffCodec.parseIfd(tiff)
      tags.get(274).map(_.vals.head.toInt).filter(o => o >= 1 && o <= 8)
        .getOrElse(1)
    } catch {
      case _: IllegalArgumentException => 1
    }
  }

  /** Stored → displayed pixel remap for EXIF orientations 1-8 on an
    * interleaved `chans`-channel plane; orientations 5-8 swap the
    * output dimensions. */
  def applyOrientation(w: Int, h: Int, chans: Int, px: Array[Float],
                       orient: Int): (Int, Int, Array[Float]) = {
    require(orient >= 1 && orient <= 8, s"EXIF orientation $orient")
    require(px.length == w * h * chans,
      s"plane ${px.length} != $w x $h x $chans")
    if (orient == 1) return (w, h, px)
    val swap = orient >= 5
    val dw = if (swap) h else w
    val dh = if (swap) w else h
    val out = new Array[Float](px.length)
    var y = 0
    while (y < dh) {
      var x = 0
      while (x < dw) {
        val (sx, sy) = (orient: @annotation.switch) match {
          case 2 => (w - 1 - x, y)
          case 3 => (w - 1 - x, h - 1 - y)
          case 4 => (x, h - 1 - y)
          case 5 => (y, x)
          case 6 => (y, h - 1 - x)
          case 7 => (w - 1 - y, h - 1 - x)
          case _ => (w - 1 - y, x) // 8
        }
        val d = (y * dw + x) * chans
        val s = (sy * w + sx) * chans
        var c = 0
        while (c < chans) { out(d + c) = px(s + c); c += 1 }
        x += 1
      }
      y += 1
    }
    (dw, dh, out)
  }

  /** Fixture: inject an APP1 Exif segment (carrying just tag 274)
    * immediately after a JPEG's SOI. `littleEndian` picks the
    * embedded TIFF byte order; a RATIONAL XResolution and an ASCII
    * Make entry are included so parsers must skip value types they
    * don't read. */
  def withExifOrientation(jpeg: Array[Byte], orient: Int,
                          littleEndian: Boolean = true): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xFF) == 0xFF &&
      (jpeg(1) & 0xFF) == 0xD8, "not a JPEG")
    require(orient >= 1 && orient <= 8)
    val t = new scala.collection.mutable.ArrayBuffer[Byte]()
    def w16(v: Int): Unit =
      if (littleEndian) { t += (v & 0xFF).toByte += ((v >> 8) & 0xFF).toByte }
      else { t += ((v >> 8) & 0xFF).toByte += (v & 0xFF).toByte }
    def w32(v: Int): Unit =
      if (littleEndian) { w16(v & 0xFFFF); w16((v >>> 16) & 0xFFFF) }
      else { w16((v >>> 16) & 0xFFFF); w16(v & 0xFFFF) }
    val bom = if (littleEndian) 'I' else 'M'
    t += bom.toByte += bom.toByte
    w16(42); w32(8)
    w16(3) // three IFD entries, ascending tag order
    // 271 Make, ASCII x4 (inline)
    w16(271); w16(2); w32(4)
    t += 'g'.toByte += 'f'.toByte += 't'.toByte += 0.toByte
    // 274 Orientation, SHORT x1 (inline, left-justified)
    w16(274); w16(3); w32(1)
    w16(orient); w16(0)
    // 282 XResolution, RATIONAL x1 (indirect: after the IFD)
    w16(282); w16(5); w32(1)
    val ratAt = 8 + 2 + 3 * 12 + 4
    w32(ratAt)
    w32(0) // next IFD
    w32(72); w32(1) // 72/1 dpi
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ t
    val seg = new scala.collection.mutable.ArrayBuffer[Byte]()
    seg += 0xFF.toByte += 0xE1.toByte
    val len = payload.length + 2
    seg += ((len >> 8) & 0xFF).toByte += (len & 0xFF).toByte
    seg ++= payload
    jpeg.take(2) ++ seg ++ jpeg.drop(2)
  }
}
