package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.util.Containers
import graft.util.Containers.{be32, be64, le32, tag}

/** Dependency-free video metadata from raw bytes — the video sibling
  * of [[ImageMeta]]/[[AudioMeta]]: container format, brand, movie
  * timescale/duration, and first-track pixel dimensions parsed
  * straight out of the header with no codec library. MP4/ISO BMFF
  * (ISO 14496-12 box walk: ftyp → moov → mvhd/trak → tkhd, both mvhd
  * versions) is parsed fully; RIFF AVI reads dimensions/frame count
  * from the avih main header (duration in a fixed µs timescale); both
  * containers are framed by [[graft.util.Containers]] (largesize and
  * to-the-end boxes, padded chunks), and a box or chunk that does not
  * fit ends the parse with the fields read so far. EBML
  * (WebM/Matroska) is detected by magic.
  * Frame DECODE stays behind [[graft.llm.Multimodal.MediaDecoder]]
  * exactly as for images and audio — REAL for MJPEG-in-AVI via
  * [[graft.llm.AviMjpeg]] + [[graft.llm.JpegCodec]].
  *
  * Returned struct: (format, brand, timescale, duration, width,
  * height). Numeric fields are null when the needed box is truncated
  * or absent; null bytes → null struct. Track width/height are the
  * integer part of tkhd's 16.16 fixed-point fields.
  *
  * Scale shape: identical to [[ImageMeta]] — a pure per-row
  * expression reading only header bytes, inside whole-stage codegen,
  * zero shuffle; the parser is a static JVM method invoked from the
  * generated code (not inlined — the Janino method-size lesson).
  */
case class VideoMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = VideoMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "video_meta"

  override def nullSafeEval(input: Any): Any =
    VideoMeta.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.VideoMeta.parse($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VideoMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("brand", StringType, nullable = true),
    StructField("timescale", LongType, nullable = true),
    StructField("duration", LongType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  private def row(fmt: String, brand: Any, ts: Any, dur: Any,
                  w: Any, h: Any): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(fmt),
      brand match {
        case s: String => UTF8String.fromString(s)
        case _ => null
      }, ts, dur, w, h))

  /** Called from both the interpreted eval and the generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // EBML magic (WebM / Matroska)
    if (b.length >= 4 && (b(0) & 0xFF) == 0x1A && (b(1) & 0xFF) == 0x45 &&
        (b(2) & 0xFF) == 0xDF && (b(3) & 0xFF) == 0xA3)
      return row("webm", null, null, null, null, null)
    // RIFF AVI: dimensions and duration from the avih main header
    // (LIST hdrl → avih: dwMicroSecPerFrame, dwTotalFrames, dwWidth,
    // dwHeight) — duration expressed in a fixed µs timescale so
    // duration_ms composes the same way as for MP4. Header-less AVI
    // magic (or any truncation) degrades to the null-field row.
    if (tag(b, 0, "RIFF") && tag(b, 8, "AVI ")) {
      val top = Containers.riff(b, 12, b.length)
      while (top.next() && !top.overrun)
        if (top.is("LIST") && tag(b, top.start, "hdrl")) {
          val c = Containers.riff(b, top.start + 4, top.end)
          if (c.find("avih") && !c.overrun && c.end - c.start >= 40) {
            val p = c.start
            return row("avi", null, 1000000L, le32(b, p) * le32(b, p + 16),
              le32(b, p + 32).toInt, le32(b, p + 36).toInt)
          }
          return row("avi", null, null, null, null, null)
        }
      return row("avi", null, null, null, null, null)
    }
    // ISO BMFF: the first top-level box must carry a known type; an
    // ftyp anywhere in the top-level walk names the brand.
    if (!tag(b, 4, "ftyp") && !tag(b, 4, "moov") && !tag(b, 4, "mdat") &&
        !tag(b, 4, "free") && !tag(b, 4, "skip"))
      return row("unknown", null, null, null, null, null)

    var brand: Any = null
    var ts: Any = null; var dur: Any = null
    var w: Any = null; var h: Any = null

    val top = Containers.boxes(b, 0, b.length)
    while (top.next()) {
      if (top.overrun) return row("mp4", brand, ts, dur, w, h)
      if (top.is("ftyp") && top.start + 4 <= top.end) {
        brand = new String(b, top.start, 4, "US-ASCII")
      } else if (top.is("moov")) {
        // moov children: mvhd (movie header), trak → tkhd (first track)
        val m = Containers.boxes(b, top.start, top.end)
        while (m.next()) {
          if (m.overrun) return row("mp4", brand, ts, dur, w, h)
          val p = m.start
          if (m.is("mvhd") && p < m.end) {
            val v = b(p) & 0xFF
            if (v == 0 && p + 20 <= m.end) {
              ts = be32(b, p + 12); dur = be32(b, p + 16)
            } else if (v == 1 && p + 32 <= m.end) {
              ts = be32(b, p + 20); dur = be64(b, p + 24)
            }
          } else if (m.is("trak") && w == null) {
            val t = Containers.boxes(b, p, m.end)
            while (t.next()) {
              if (t.overrun) return row("mp4", brand, ts, dur, w, h)
              if (t.is("tkhd") && t.start < t.end) {
                val wOff = t.start + (if (b(t.start) == 1) 88 else 76)
                if (wOff + 8 <= t.end) {
                  w = (be32(b, wOff) >>> 16).toInt
                  h = (be32(b, wOff + 4) >>> 16).toInt
                }
              }
            }
          }
        }
      }
    }
    row("mp4", brand, ts, dur, w, h)
  }
}

object VideoMetaNative {

  /** struct(format, brand, timescale, duration, width, height) parsed
    * from a binary column. */
  def videoMeta(spark: SparkSession, bytes: Column): Column =
    NativeFunctions.Video(spark, bytes)
}
