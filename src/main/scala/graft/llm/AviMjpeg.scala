package graft.llm

import graft.util.Containers
import graft.util.Containers.tag

/** Dependency-free MJPEG-in-AVI video frame decode — the first REAL
  * video codec path behind [[Multimodal.MediaDecoder]]: AVI 'MJPG'
  * streams carry one complete baseline/progressive JPEG per frame, so
  * the RIFF chunk walk ([[graft.util.Containers.riff]]) composes with
  * [[JpegCodec]] into actual pixel planes with no codec library.
  * [[graft.plans.VideoMeta]] parses the container header; this walks
  * `LIST movi` and hands each `##dc`/`##db` video chunk (including
  * chunks nested in `LIST rec ` groups) to the JPEG decoder.
  *
  * Formats that are NOT MJPEG-in-AVI (H.264 in MP4, VP9 in WebM, …)
  * genuinely need a codec library and keep the labeled
  * [[Multimodal.FakeDecoder]] stand-in.
  */
object AviMjpeg {

  def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && tag(b, 0, "RIFF") && tag(b, 8, "AVI ")

  /** Depth-first, in order, over the [[Containers.riff]] chunks of
    * [start, end). The callback sees (fourcc, listType, payloadStart,
    * chunkEnd) and returns true to descend into a LIST body. A chunk
    * that runs past its parent ends the current level unseen (header
    * inspection must never throw on a cut-off upload); depth is capped
    * so a crafted LIST chain cannot blow the JVM stack. */
  private def visit(b: Array[Byte], start: Int, end: Int, depth: Int = 0)
                   (f: (String, String, Int, Int) => Boolean): Unit =
    if (depth <= 16) {
      val c = Containers.riff(b, start, end)
      while (c.next() && !c.overrun) {
        val listType =
          if (c.is("LIST") && c.end - c.start >= 4)
            new String(b, c.start, 4, "US-ASCII")
          else ""
        if (f(c.name, listType, c.start, c.end) && listType.nonEmpty)
          visit(b, c.start + 4, c.end, depth + 1)(f)
      }
    }

  /** Stream index (strl declaration order) of the first 'MJPG' video
    * stream, or -1 when the header declares none. */
  private def mjpegStreamIndex(b: Array[Byte]): Int = {
    var idx = -1
    var nStreams = 0
    visit(b, 12, b.length) { (id, listType, payload, end) =>
      if (id == "strh") {
        if (idx < 0 && payload + 8 <= end &&
            tag(b, payload, "vids") && tag(b, payload + 4, "MJPG"))
          idx = nStreams
        nStreams += 1
      }
      id == "LIST" && (listType == "hdrl" || listType == "strl")
    }
    idx
  }

  /** True when the container is AVI and declares an 'MJPG' video
    * stream handler (hdrl → strl → strh fccType 'vids'). */
  def isMjpegAvi(b: Array[Byte]): Boolean =
    isAvi(b) && mjpegStreamIndex(b) >= 0

  /** The raw JPEG payloads of the MJPG stream's data chunks
    * (`##dc`/`##db`, matched to THAT stream's number so a second
    * stream's frames never interleave — review finding) in stream
    * order, including chunks grouped under `LIST rec `. Headerless
    * files (no hdrl) fall back to accepting any video chunk. */
  def frameBytes(b: Array[Byte]): Seq[Array[Byte]] = {
    require(isAvi(b), "not a RIFF AVI")
    val si = mjpegStreamIndex(b)
    val prefix = if (si >= 0) f"$si%02d" else null
    val out = Seq.newBuilder[Array[Byte]]
    visit(b, 12, b.length) { (id, listType, payload, end) =>
      if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
          (id.endsWith("dc") || id.endsWith("db")) &&
          (prefix == null || id.startsWith(prefix)))
        out += java.util.Arrays.copyOfRange(b, payload, end)
      id == "LIST" && (listType == "movi" || listType == "rec ")
    }
    out.result()
  }

  /** Decode every MJPEG frame to (width, height, row-major RGB
    * floats) — the [[Multimodal.BmpWavDecoder]] plane contract per
    * frame. Refuses loudly when a video chunk is not a JPEG. */
  def decodeFrames(b: Array[Byte]): Seq[(Int, Int, Array[Float])] =
    frameBytes(b).map { f =>
      require(JpegCodec.isJpeg(f), "AVI video chunk is not an MJPEG frame")
      JpegCodec.decode(f)
    }
}
