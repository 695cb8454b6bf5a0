package graft.llm

import scala.collection.mutable.ArrayBuffer

import graft.util.{ByteCodecs, Containers}
import graft.util.ByteCodecs.isPng
import graft.util.Containers.be32

/** APNG (Animated PNG, PNG 3rd-edition chunks acTL/fcTL/fdAT) — the
  * second animation container web crawls carry next to GIF.
  *
  * `decodeFrames` returns per-frame RGBA canvases composited per the
  * spec: frame regions render at (x, y) offsets with blend op 0
  * (SOURCE, replace) or 1 (OVER, Porter-Duff on non-premultiplied
  * alpha), then dispose op 0 (none), 1 (background: clear the region
  * to transparent black) or 2 (previous: revert to the pre-render
  * canvas; on the first frame it degrades to background, per spec).
  * The default image (IDAT) is frame 0 when an fcTL precedes IDAT,
  * otherwise it is NOT part of the animation and only fdAT frames
  * render.
  *
  * Frame rasters inflate and undo their row filters through the
  * shared [[graft.util.ByteCodecs]] kernels, at 8-bit depth, color
  * types 0/2/3/4/6, non-interlaced — the shapes APNG encoders actually
  * emit; anything else refuses loudly. Only the RGBA lift is local:
  * the still-image PNG path in Multimodal keeps its own wider depth
  * matrix, and this decoder exists because compositing needs the
  * alpha plane that path deliberately drops.
  */
object ApngCodec {

  /** PNG signature + an acTL chunk before IDAT. */
  def isApng(b: Array[Byte]): Boolean = isPng(b) && {
    val c = Containers.pngChunks(b)
    var found = false
    while (!found && c.next() && !c.is("IDAT") && !c.is("IEND"))
      found = c.is("acTL")
    found
  }

  private case class Fctl(seq: Int, w: Int, h: Int, x: Int, y: Int,
                          dispose: Int, blend: Int,
                          data: ArrayBuffer[Byte])

  /** (canvasW, canvasH, RGBA canvas per animation frame). */
  def decodeFrames(b: Array[Byte]): (Int, Int, Seq[Array[Float]]) = {
    require(isApng(b), "not an APNG")
    var w = 0; var h = 0; var depth = 0; var color = -1
    var palette: Array[Int] = null
    var numFrames = -1
    val frames = ArrayBuffer[Fctl]()
    var pendingFctl: Fctl = null // fcTL seen, awaiting IDAT/fdAT data
    var idatIsFrame = false
    val idat = ArrayBuffer[Byte]()
    val c = Containers.pngChunks(b)
    var done = false
    while (!done && c.next()) {
      require(!c.overrun, s"truncated APNG chunk ${c.name}")
      val p = c.start
      val len = c.end - p
      c.name match {
        case "IHDR" =>
          require(len >= 13, "short APNG IHDR chunk")
          w = be32(b, p).toInt; h = be32(b, p + 4).toInt
          depth = b(p + 8) & 0xFF; color = b(p + 9) & 0xFF
          require(depth == 8 && Set(0, 2, 3, 4, 6)(color),
            s"APNG frames decode at 8-bit depth (got depth=$depth color=$color)")
          require((b(p + 12) & 0xFF) == 0, "interlaced APNG unsupported")
          require(w > 0 && h > 0 && w.toLong * h <= 16000000L,
            s"APNG $w x $h out of range")
        case "PLTE" =>
          palette = Array.tabulate(len)(i => b(p + i) & 0xFF)
        case "acTL" =>
          require(len >= 8, "short APNG acTL chunk")
          numFrames = be32(b, p).toInt
          require(numFrames > 0 && numFrames <= 4096,
            s"APNG frame count $numFrames out of range")
        case "fcTL" =>
          require(len >= 26, "short APNG fcTL chunk")
          val f = Fctl(be32(b, p).toInt, be32(b, p + 4).toInt,
            be32(b, p + 8).toInt, be32(b, p + 12).toInt, be32(b, p + 16).toInt,
            b(p + 24) & 0xFF, b(p + 25) & 0xFF, ArrayBuffer[Byte]())
          require(f.w > 0 && f.h > 0 && f.x >= 0 && f.y >= 0 &&
            f.x + f.w <= w && f.y + f.h <= h,
            s"APNG frame rect ${f.w}x${f.h}+${f.x}+${f.y} outside canvas")
          require(f.dispose <= 2 && f.blend <= 1,
            s"APNG dispose=${f.dispose} blend=${f.blend} unknown")
          frames += f
          pendingFctl = f
        case "IDAT" =>
          if (pendingFctl != null && frames.size == 1) {
            idatIsFrame = true
            pendingFctl.data ++= b.slice(p, p + len)
          } else idat ++= b.slice(p, p + len)
        case "fdAT" =>
          require(pendingFctl != null, "APNG fdAT before any fcTL")
          pendingFctl.data ++= b.slice(p + 4, p + len) // skip sequence no.
        case "IEND" => done = true
        case _ => // ancillary
      }
    }
    require(numFrames == frames.size,
      s"acTL declares $numFrames frames, found ${frames.size}")
    require(color != 3 || palette != null, "palette APNG missing PLTE")
    // each output frame is a full canvas clone — cap the TOTAL
    // pixel-frame volume, not just per-frame dims, or a hostile
    // 4096-frame animation over a large canvas OOMs the task
    require(frames.size.toLong * w * h <= Multimodal.MaxPixels,
      s"APNG ${frames.size} frames x $w x $h exceeds the composite cap")
    // IDAT-as-frame-0 requires its fcTL to cover the full canvas
    if (idatIsFrame) {
      val f = frames.head
      require(f.w == w && f.h == h && f.x == 0 && f.y == 0,
        "APNG default-image frame must cover the canvas")
    }

    val canvas = new Array[Float](w * h * 4)
    val out = ArrayBuffer[Array[Float]]()
    var first = true
    frames.foreach { f =>
      require(f.data.nonEmpty, s"APNG frame ${f.seq} carries no data")
      val px = decodeRaster(f.data.toArray, f.w, f.h, color, palette)
      val snapshot =
        if (f.dispose == 2 && !first) canvas.clone() else null
      // render
      var fy = 0
      while (fy < f.h) {
        var fx = 0
        while (fx < f.w) {
          val d = ((f.y + fy) * w + (f.x + fx)) * 4
          val s = (fy * f.w + fx) * 4
          if (f.blend == 0 || px(s + 3) == 255f) {
            canvas(d) = px(s); canvas(d + 1) = px(s + 1)
            canvas(d + 2) = px(s + 2); canvas(d + 3) = px(s + 3)
          } else if (px(s + 3) > 0f) {
            // OVER on non-premultiplied alpha (double arithmetic)
            val fa = px(s + 3) / 255.0
            val ba = canvas(d + 3) / 255.0
            val oa = fa + ba * (1 - fa)
            var c = 0
            while (c < 3) {
              canvas(d + c) =
                ((px(s + c) * fa + canvas(d + c) * ba * (1 - fa)) / oa).toFloat
              c += 1
            }
            canvas(d + 3) = (oa * 255.0).toFloat
          } // fa == 0: fully transparent fg leaves the canvas pixel
          fx += 1
        }
        fy += 1
      }
      out += canvas.clone()
      // dispose for the NEXT frame
      val dispose = if (first && f.dispose == 2) 1 else f.dispose
      if (dispose == 1) {
        var fy = 0
        while (fy < f.h) {
          var fx = 0
          while (fx < f.w) {
            val d = ((f.y + fy) * w + (f.x + fx)) * 4
            canvas(d) = 0; canvas(d + 1) = 0; canvas(d + 2) = 0
            canvas(d + 3) = 0
            fx += 1
          }
          fy += 1
        }
      } else if (dispose == 2 && snapshot != null)
        System.arraycopy(snapshot, 0, canvas, 0, canvas.length)
      first = false
    }
    (w, h, out.toSeq)
  }

  /** Inflate + per-row filter undo + RGBA lift for one frame raster
    * (8-bit, non-interlaced; color types 0/2/3/4/6). */
  private def decodeRaster(z: Array[Byte], w: Int, h: Int, color: Int,
                           palette: Array[Int]): Array[Float] = {
    val chans = color match {
      case 0 | 3 => 1; case 4 => 2; case 2 => 3; case _ => 4
    }
    val stride = w * chans
    val rawLen = (1 + stride) * h
    val raw = ByteCodecs.inflate(z, 0, z.length, nowrap = false,
      maxOut = rawLen)
    require(raw.length == rawLen, s"APNG frame raster short (${raw.length})")
    ByteCodecs.unfilter(raw, 0, h, stride, chans)
    val out = new Array[Float](w * h * 4)
    var y = 0
    while (y < h) {
      val row = y * (1 + stride) + 1
      def cur(i: Int): Int = raw(row + i) & 0xFF
      var x = 0
      while (x < w) {
        val d = (y * w + x) * 4
        color match {
          case 0 =>
            val g = cur(x)
            out(d) = g; out(d + 1) = g; out(d + 2) = g; out(d + 3) = 255
          case 4 =>
            val g = cur(x * 2)
            out(d) = g; out(d + 1) = g; out(d + 2) = g
            out(d + 3) = cur(x * 2 + 1)
          case 2 =>
            out(d) = cur(x * 3); out(d + 1) = cur(x * 3 + 1)
            out(d + 2) = cur(x * 3 + 2); out(d + 3) = 255
          case 3 =>
            val idx = cur(x)
            require(idx * 3 + 2 < palette.length, s"APNG palette index $idx")
            out(d) = palette(idx * 3); out(d + 1) = palette(idx * 3 + 1)
            out(d + 2) = palette(idx * 3 + 2); out(d + 3) = 255
          case _ =>
            out(d) = cur(x * 4); out(d + 1) = cur(x * 4 + 1)
            out(d + 2) = cur(x * 4 + 2); out(d + 3) = cur(x * 4 + 3)
        }
        x += 1
      }
      y += 1
    }
    out
  }

  // ---------------------------------------------------------------- fixture

  /** One animation frame for the fixture builder. */
  case class FrameSpec(w: Int, h: Int, x: Int, y: Int,
                       pix: (Int, Int) => (Int, Int, Int),
                       alpha: (Int, Int) => Int = (_, _) => 255,
                       dispose: Int = 0, blend: Int = 0)

  /** Assemble an APNG: canvas IHDR from frame 0 (which must cover
    * the canvas), acTL, then per frame fcTL + IDAT (frame 0) / fdAT.
    * Frames are 8-bit RGBA, filter 0, zlib-deflated. */
  def encode(frames: Seq[FrameSpec]): Array[Byte] = {
    require(frames.nonEmpty)
    val f0 = frames.head
    require(f0.x == 0 && f0.y == 0, "frame 0 must cover the canvas")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    def be32(v: Int): Array[Byte] = ImageFixtures.be32(v)
    def chunk(typ: String, data: Array[Byte]): Unit =
      out ++= ImageFixtures.pngChunk(typ, data)
    chunk("IHDR", be32(f0.w) ++ be32(f0.h) ++
      Array[Byte](8, 6, 0, 0, 0)) // 8-bit RGBA, non-interlaced
    chunk("acTL", be32(frames.size) ++ be32(0))
    var seq = 0
    frames.zipWithIndex.foreach { case (f, i) =>
      chunk("fcTL", be32(seq) ++ be32(f.w) ++ be32(f.h) ++ be32(f.x) ++
        be32(f.y) ++ Array[Byte](0, 1, 0, 100) ++ // delay 1/100 s
        Array[Byte](f.dispose.toByte, f.blend.toByte))
      seq += 1
      val stride = f.w * 4
      val raster = new Array[Byte]((1 + stride) * f.h)
      for (y <- 0 until f.h; x <- 0 until f.w) {
        val (r, g, b) = f.pix(x, y)
        val o = y * (1 + stride) + 1 + x * 4
        raster(o) = r.toByte; raster(o + 1) = g.toByte
        raster(o + 2) = b.toByte; raster(o + 3) = f.alpha(x, y).toByte
      }
      val z = ByteCodecs.deflate(raster)
      if (i == 0) chunk("IDAT", z)
      else { chunk("fdAT", be32(seq) ++ z); seq += 1 }
    }
    chunk("IEND", Array.empty)
    out.toArray
  }
}
