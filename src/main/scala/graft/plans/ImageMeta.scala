package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.util.Containers
import graft.util.Containers.{be16, be32, le16, le32, tag}

/** Dependency-free image metadata from raw bytes: container format and
  * pixel dimensions parsed straight out of the header — PNG (IHDR
  * chunk), JPEG (SOFn segment walk), GIF (logical screen descriptor),
  * WebP (RIFF chunk walk: VP8X canvas, VP8 lossy start-code fields,
  * VP8L lossless packed fields), AVIF (ISO-BMFF box walk to the first
  * meta → iprp → ipco → ispe property) — with no codec library; the
  * segment, chunk and box walks are [[graft.util.Containers]]'. This
  * makes the multimodal binary column's `width`/`height`/`format`
  * REAL metadata (the pixel-decode step stays behind
  * [[graft.llm.Multimodal.MediaDecoder]]; WebP/AVIF pixels genuinely
  * need VP8/AV1 codecs, but header inspection does not).
  *
  * The returned struct is (format, width, height): format is "png" /
  * "jpeg" / "gif" / "webp" / "avif" when the magic bytes match
  * (dimensions null if the header is truncated or the size-carrying
  * chunk is absent), and "unknown" with null dimensions otherwise.
  * Null bytes → null struct.
  *
  * Scale shape: a pure per-row expression — at 100 TB the metadata
  * pass reads only header bytes of each value, stays inside
  * whole-stage codegen, and never shuffles. The branchy byte-walk
  * lives in a static JVM method invoked FROM the generated code
  * (inlining a ~100-line parser per call site would bloat Janino
  * method bodies toward the 64 KB limit — the q63 lesson — for zero
  * gain: the call target JITs identically).
  */
case class ImageMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ImageMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "image_meta"

  override def nullSafeEval(input: Any): Any =
    ImageMeta.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.ImageMeta.parse($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImageMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  private def row(fmt: String, w: Any, h: Any): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h))

  /** SOF0-SOF15 carry frame dimensions, except the non-frame markers
    * that share the 0xCx range: DHT (C4), JPG (C8), DAC (CC). */
  private def isSof(m: Int): Boolean =
    m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC

  /** Called from both the interpreted eval and the generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // PNG: 8-byte signature; the spec requires IHDR as the first chunk
    // (length 13 at offset 8, type at 12, width/height big-endian at
    // 16/20).
    if (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G' && b(4) == 0x0D && b(5) == 0x0A &&
        b(6) == 0x1A && b(7) == 0x0A) {
      if (b.length >= 24 && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' &&
          b(15) == 'R')
        return row("png", be32(b, 16).toInt, be32(b, 20).toInt)
      return row("png", null, null)
    }
    // GIF: "GIF87a"/"GIF89a", then the logical screen descriptor's
    // little-endian width/height at offsets 6/8.
    if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      if (b.length >= 10) return row("gif", le16(b, 6), le16(b, 8))
      return row("gif", null, null)
    }
    // JPEG: SOI, then the header segments up to the first SOFn frame
    // header (precision byte, then big-endian height and width).
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      val seg = Containers.jpegSegments(b)
      while (seg.next()) if (isSof(seg.id)) {
        if (seg.end - seg.start < 5) return row("jpeg", null, null)
        return row("jpeg", be16(b, seg.start + 3), be16(b, seg.start + 1))
      }
      return row("jpeg", null, null)
    }
    // WebP: RIFF container with a 'WEBP' form type; dimensions come
    // from whichever first chunk carries them — VP8X (extended: 24-bit
    // LE canvas minus-one fields), VP8 (lossy: 0x9D012A start code,
    // 14-bit LE fields), or VP8L (lossless: 0x2F signature, 14-bit
    // packed minus-one fields).
    if (tag(b, 0, "RIFF") && tag(b, 8, "WEBP")) {
      val c = Containers.riff(b, 12, b.length)
      while (c.next() && !c.overrun) {
        val p = c.start
        val size = c.end - c.start
        if (c.is("VP8X")) { // extended header: canvas size at payload +4
          if (size >= 10)
            return row("webp",
              (le16(b, p + 4) | ((b(p + 6) & 0xFF) << 16)) + 1,
              (le16(b, p + 7) | ((b(p + 9) & 0xFF) << 16)) + 1)
          return row("webp", null, null)
        }
        if (c.is("VP8 ")) { // lossy: frame tag (3), start code 9D 01 2A
          if (size >= 10 && (b(p + 3) & 0xFF) == 0x9D &&
              (b(p + 4) & 0xFF) == 0x01 && (b(p + 5) & 0xFF) == 0x2A)
            return row("webp", le16(b, p + 6) & 0x3FFF, le16(b, p + 8) & 0x3FFF)
          return row("webp", null, null)
        }
        if (c.is("VP8L")) { // lossless: 0x2F, then 2x 14-bit minus-one
          if (size >= 5 && (b(p) & 0xFF) == 0x2F) {
            val bits = le32(b, p + 1)
            return row("webp", (bits & 0x3FFF).toInt + 1,
              ((bits >> 14) & 0x3FFF).toInt + 1)
          }
          return row("webp", null, null)
        }
      }
      return row("webp", null, null)
    }
    // AVIF: ISO-BMFF with an 'avif'/'avis' ftyp brand; dimensions are
    // the first 'ispe' (image spatial extents) property inside
    // meta → iprp → ipco. meta is a FULL box (4-byte version/flags).
    if (tag(b, 4, "ftyp") && (tag(b, 8, "avif") || tag(b, 8, "avis"))) {
      val meta = Containers.boxes(b, 0, b.length)
      if (meta.find("meta") && !meta.overrun) {
        val iprp = Containers.boxes(b, meta.start + 4, meta.end)
        if (iprp.find("iprp") && !iprp.overrun) {
          val ipco = Containers.boxes(b, iprp.start, iprp.end)
          if (ipco.find("ipco") && !ipco.overrun) {
            val ispe = Containers.boxes(b, ipco.start, ipco.end)
            // full box: version/flags, then width and height
            if (ispe.find("ispe") && !ispe.overrun && ispe.end - ispe.start >= 12)
              return row("avif", be32(b, ispe.start + 4).toInt,
                be32(b, ispe.start + 8).toInt)
          }
        }
      }
      return row("avif", null, null)
    }
    // ICO: reserved 0 + type 1/2 + entry count; dims are the BEST
    // directory entry (largest area, then deepest bit-count — the
    // selection IcoCodec.decode returns), width/height byte 0 = 256.
    if (graft.llm.IcoCodec.isIco(b)) {
      val n = le16(b, 4)
      var bw = 0; var bh = 0; var bbits = -1
      var i = 0
      while (i < n) {
        val e = 6 + 16 * i
        val w = if ((b(e) & 0xFF) == 0) 256 else b(e) & 0xFF
        val h = if ((b(e + 1) & 0xFF) == 0) 256 else b(e + 1) & 0xFF
        val bits = le16(b, e + 6)
        if (w.toLong * h > bw.toLong * bh ||
            (w.toLong * h == bw.toLong * bh && bits > bbits)) {
          bw = w; bh = h; bbits = bits
        }
        i += 1
      }
      return row("ico", bw, bh)
    }
    // PNM: P1-P6, then ASCII width/height tokens (comments skipped);
    // header-only — no raster walk.
    if (graft.llm.PnmCodec.isPnm(b)) {
      try {
        val (w, h) = graft.llm.PnmCodec.dims(b)
        return row("pnm", w, h)
      } catch {
        case _: IllegalArgumentException => return row("pnm", null, null)
      }
    }
    // TIFF: "II*\0" / "MM\0*", then ImageWidth (256) / ImageLength
    // (257) out of the first IFD — the codec's defensive walk, with
    // malformed files degrading to null dims rather than throwing.
    if (graft.llm.TiffCodec.isTiff(b)) {
      try {
        val (_, tags) = graft.llm.TiffCodec.parseIfd(b)
        (tags.get(256), tags.get(257)) match {
          case (Some(w), Some(h)) =>
            return row("tiff", w.vals.head.toInt, h.vals.head.toInt)
          case _ => return row("tiff", null, null)
        }
      } catch {
        case _: IllegalArgumentException => return row("tiff", null, null)
      }
    }
    // QOI: "qoif" magic, big-endian dims at 4/8.
    if (graft.llm.QoiCodec.isQoi(b))
      return row("qoi", be32(b, 4).toInt, be32(b, 8).toInt)
    // TGA last: the format has no magic, so the header-consistency
    // sniff only runs when nothing above matched.
    if (graft.llm.TgaCodec.isTga(b))
      return row("tga", le16(b, 12), le16(b, 14))
    row("unknown", null, null)
  }
}

object ImageMetaNative {

  /** struct(format, width, height) parsed from a binary column. */
  def imageMeta(spark: SparkSession, bytes: Column): Column =
    NativeFunctions.Image(spark, bytes)
}
