package graft.llm

import java.io.ByteArrayOutputStream

import graft.util.ByteCodecs

/** Deterministic minimal-but-valid image byte fixtures for the
  * multimodal metadata path (q88 / ImageHeadersSpec). Each builder
  * emits exactly the header structure [[graft.plans.ImageMeta]]
  * parses — built from the public format specs (PNG: RFC 2083 §3/§4.1,
  * GIF: GIF89a spec §17-18, JPEG: ITU T.81 §B.2) so the container
  * needs no image library to stage known-dimension bytes. Pixel data
  * is absent or fake: the fixtures exercise header parsing, not
  * decoding (decode stays behind [[Multimodal.MediaDecoder]]).
  */
object ImageFixtures {

  private[llm] def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
          ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
          ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** Full 24-bit uncompressed BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, BI_RGB, bottom-up rows, BGR byte order, rows
    * padded to 4 bytes) with pixel (r,g,b) = `pix(x, y)` — the ONE
    * image container decodable without any codec library, so unlike
    * the header-only PNG/GIF/JPEG fixtures this one carries real
    * pixel data for [[Multimodal.BmpWavDecoder]] to decode
    * (q189 / MultimodalDecodeSpec). Layout per the public BMP spec
    * (Windows BITMAPINFOHEADER). */
  def bmp(width: Int, height: Int,
          pix: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowSize = ((3 * width + 3) / 4) * 4
    val dataSize = rowSize * height
    val out = new ByteArrayOutputStream()
    out.write('B'); out.write('M')
    out.write(le32(54 + dataSize)) // file size
    out.write(le32(0))             // reserved
    out.write(le32(54))            // pixel-array offset
    out.write(le32(40))            // BITMAPINFOHEADER size
    out.write(le32(width)); out.write(le32(height)) // +height = bottom-up
    out.write(le16(1))             // planes
    out.write(le16(24))            // bits per pixel
    out.write(le32(0))             // BI_RGB (uncompressed)
    out.write(le32(dataSize))
    out.write(le32(2835)); out.write(le32(2835)) // 72 dpi in px/metre
    out.write(le32(0)); out.write(le32(0))       // palette (none)
    for (y <- height - 1 to 0 by -1) { // bottom-up row order
      for (x <- 0 until width) {
        val (r, g, b) = pix(x, y)
        out.write(b); out.write(g); out.write(r) // BGR on disk
      }
      (3 * width until rowSize).foreach(_ => out.write(0))
    }
    out.toByteArray
  }

  /** Shared PNG writer behind the pixel-data fixtures: `raw` holds
    * one Int per SAMPLE (`channels` samples per pixel, each in
    * [0, 2^depth)); samples pack into scanline bytes per the spec
    * (sub-byte MSB-first within each byte, 16-bit as big-endian
    * pairs), scanlines filter BYTE-wise (step = whole bytes per
    * pixel, floored at 1 — RFC 2083 §6.2) with the type CYCLING % 5
    * over a GLOBAL row counter so every filter type
    * (None/Sub/Up/Average/Paeth) appears, Adam7 or identity passes
    * (empty passes contribute no bytes), zlib-deflated into an IDAT
    * split across TWO chunks (one stream, RFC 2083 §2.3), real
    * CRC32s, plus any extra chunks (PLTE/tRNS) between IHDR and
    * IDAT. */
  private def pngEncode(width: Int, height: Int, channels: Int, colorType: Int,
                        raw: Array[Array[Int]], interlace: Boolean,
                        extraChunks: Seq[(String, Array[Byte])] = Nil,
                        depth: Int = 8)
      : Array[Byte] = {
    val bitspp = depth * channels
    val bpp = math.max(1, bitspp / 8) // filter step in bytes
    /** One pass scanline, packed to bytes. */
    def packRow(y: Int, px0: Int, pdx: Int, pw: Int): Array[Int] = {
      val stride = (pw * bitspp + 7) / 8
      val out = new Array[Int](stride)
      if (depth == 8) {
        for (px <- 0 until pw; c <- 0 until channels)
          out(px * channels + c) = raw(y)((px0 + px * pdx) * channels + c)
      } else if (depth == 16) {
        for (px <- 0 until pw; c <- 0 until channels) {
          val v = raw(y)((px0 + px * pdx) * channels + c)
          out((px * channels + c) * 2) = (v >> 8) & 0xFF
          out((px * channels + c) * 2 + 1) = v & 0xFF
        }
      } else {
        for (px <- 0 until pw) { // sub-byte ⇒ single channel
          val v = raw(y)(px0 + px * pdx) & ((1 << depth) - 1)
          val bitOff = px * depth
          out(bitOff >> 3) |= v << (8 - depth - (bitOff & 7))
        }
      }
      out
    }
    val passes =
      if (interlace) Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
        (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      else Seq((0, 0, 1, 1))
    val filtered = new ByteArrayOutputStream()
    var globalRow = 0
    for ((px0, py0, pdx, pdy) <- passes) {
      val pw = if (width > px0) (width - px0 + pdx - 1) / pdx else 0
      val ph = if (height > py0) (height - py0 + pdy - 1) / pdy else 0
      if (pw > 0 && ph > 0) {
        val stride = (pw * bitspp + 7) / 8
        val sub = Array.tabulate(ph)(j => packRow(py0 + j * pdy, px0, pdx, pw))
        for (j <- 0 until ph) {
          val f = globalRow % 5
          globalRow += 1
          filtered.write(f)
          val cur = sub(j)
          val pri = if (j == 0) new Array[Int](stride) else sub(j - 1)
          for (i <- 0 until stride) {
            val left = if (i >= bpp) cur(i - bpp) else 0
            val up = pri(i)
            val ul = if (i >= bpp) pri(i - bpp) else 0
            val v = f match {
              case 0 => cur(i)
              case 1 => cur(i) - left
              case 2 => cur(i) - up
              case 3 => cur(i) - (left + up) / 2
              case _ => cur(i) - ByteCodecs.paeth(left, up, ul)
            }
            filtered.write(v & 0xFF)
          }
        }
      }
    }
    val ib = ByteCodecs.deflate(filtered.toByteArray)
    val ihdr = new ByteArrayOutputStream()
    ihdr.write(be32(width)); ihdr.write(be32(height))
    ihdr.write(depth)
    ihdr.write(colorType)
    ihdr.write(0); ihdr.write(0)
    ihdr.write(if (interlace) 1 else 0)
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte))
    out.write(pngChunk("IHDR", ihdr.toByteArray))
    extraChunks.foreach { case (t, d) => out.write(pngChunk(t, d)) }
    out.write(pngChunk("IDAT", ib.take(ib.length / 2)))
    out.write(pngChunk("IDAT", ib.drop(ib.length / 2)))
    out.write(pngChunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** One PNG chunk (RFC 2083 §3.2): length, type, data, real CRC32. */
  private[llm] def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val tb = typ.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    be32(data.length) ++ tb ++ data ++ be32(crc.getValue.toInt)
  }

  /** FULL 8-bit truecolor PNG (RFC 2083: color type 2 = RGB, or 6 =
    * RGBA with alpha = (x*5 + y*3 + 29) % 256) carrying real pixel
    * data through [[pngEncode]] — a decoder must undo all five
    * filters (and, with `interlace = true`, the Adam7 pass geometry)
    * to round-trip `pix`. Counterpart of [[bmp]] for
    * [[Multimodal.BmpWavDecoder]]'s PNG path
    * (q215/q247 / MultimodalDecodeSpec). */
  def pngFull(width: Int, height: Int, pix: (Int, Int) => (Int, Int, Int),
              rgba: Boolean = false, interlace: Boolean = false,
              depth: Int = 8): Array[Byte] = {
    require(depth == 8 || depth == 16, s"truecolor depth $depth")
    val mask = (1 << depth) - 1
    val ch = if (rgba) 4 else 3
    val raw = Array.ofDim[Int](height, width * ch)
    for (y <- 0 until height; x <- 0 until width) {
      val (r, g, b) = pix(x, y)
      // mask to the sample width HERE (the [[bmp]] fixture's
      // OutputStream.write masking) — filter arithmetic must see the
      // stored bytes
      raw(y)(x * ch) = r & mask
      raw(y)(x * ch + 1) = g & mask
      raw(y)(x * ch + 2) = b & mask
      if (rgba) raw(y)(x * ch + 3) = (x * 5 + y * 3 + 29) % 256
    }
    pngEncode(width, height, ch, if (rgba) 6 else 2, raw, interlace,
      depth = depth)
  }

  /** FULL GRAYSCALE PNG (RFC 2083 color type 0 at depth 1/2/4/8/16,
    * or 4 at 8/16 with an alpha plane = (x*5 + y*3 + 29) % 256 the
    * decoder must drop). `gray` values are masked to the depth. */
  def pngGray(width: Int, height: Int, gray: (Int, Int) => Int,
              withAlpha: Boolean = false,
              interlace: Boolean = false,
              depth: Int = 8): Array[Byte] = {
    require(Set(1, 2, 4, 8, 16)(depth), s"gray depth $depth")
    require(!withAlpha || depth >= 8, s"gray+alpha needs depth >= 8")
    val mask = (1 << depth) - 1
    val ch = if (withAlpha) 2 else 1
    val raw = Array.ofDim[Int](height, width * ch)
    for (y <- 0 until height; x <- 0 until width) {
      raw(y)(x * ch) = gray(x, y) & mask
      if (withAlpha) raw(y)(x * ch + 1) = (x * 5 + y * 3 + 29) % 256
    }
    pngEncode(width, height, ch, if (withAlpha) 4 else 0, raw, interlace,
      depth = depth)
  }

  /** FULL 8-bit PALETTE PNG (RFC 2083 color type 3): PLTE triples,
    * 1-byte-per-pixel indices through the shared [[pngEncode]] filter
    * cycle, optionally a tRNS chunk (which the decoder must accept
    * and ignore — the RGB plane contract drops alpha) and Adam7
    * interlacing. `idx(x, y)` must return a valid palette index. */
  def pngPalette(width: Int, height: Int, palette: Seq[(Int, Int, Int)],
                 idx: (Int, Int) => Int,
                 withTrns: Boolean = false,
                 interlace: Boolean = false,
                 depth: Int = 8): Array[Byte] = {
    require(palette.nonEmpty && palette.size <= 256, "PLTE size in [1, 256]")
    require(Set(1, 2, 4, 8)(depth), s"palette depth $depth")
    require(palette.size <= (1 << depth),
      s"${palette.size}-entry PLTE needs more than $depth-bit indices")
    val raw = Array.tabulate(height, width)((y, x) => idx(x, y) & 0xFF)
    val plte = palette.flatMap { case (r, g, b) =>
      Seq((r & 0xFF).toByte, (g & 0xFF).toByte, (b & 0xFF).toByte)
    }.toArray
    val extras = Seq("PLTE" -> plte) ++
      (if (withTrns) // alpha 255 - i per entry; decoder must skip it
        Seq("tRNS" -> palette.indices.map(i => (255 - i).toByte).toArray)
      else Nil)
    pngEncode(width, height, 1, 3, raw, interlace, extras, depth = depth)
  }

  /** PNG signature + IHDR chunk (CRC zeroed — the parser reads
    * dimensions, not checksums). */
  def png(width: Int, height: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte))
    out.write(be32(13)) // IHDR data length
    out.write("IHDR".getBytes("US-ASCII"))
    out.write(be32(width)); out.write(be32(height))
    out.write(Array[Byte](8, 2, 0, 0, 0)) // bit depth, color, c/f/i
    out.write(be32(0)) // CRC (unchecked)
    out.toByteArray
  }

  /** Just the 8-byte PNG signature — a truncated file. */
  def pngTruncated: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** GIF header + logical screen descriptor ("87a" or "89a"). */
  def gif(width: Int, height: Int, version: String = "89a"): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(("GIF" + version).getBytes("US-ASCII"))
    out.write(le16(width)); out.write(le16(height))
    out.write(Array[Byte](0, 0, 0)) // flags, bg index, aspect
    out.toByteArray
  }

  /** JPEG: SOI, APP0/JFIF, optional COM segment, SOFn frame header,
    * EOI. `sofMarker` 0xC0 = baseline, 0xC2 = progressive. */
  def jpeg(width: Int, height: Int, sofMarker: Int = 0xC0,
           comment: Option[String] = None): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array(0xFF, 0xD8).map(_.toByte)) // SOI
    out.write(Array(0xFF, 0xE0).map(_.toByte)) // APP0
    out.write(be16(16))
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(Array[Byte](1, 2, 0)) // version, density units
    out.write(be16(72)); out.write(be16(72)) // x/y density
    out.write(0); out.write(0) // thumbnail w/h
    comment.foreach { c =>
      out.write(Array(0xFF, 0xFE).map(_.toByte)) // COM
      out.write(be16(2 + c.length))
      out.write(c.getBytes("US-ASCII"))
    }
    out.write(0xFF); out.write(sofMarker)
    out.write(be16(17)) // 2 len + 1 precision + 2 h + 2 w + 1 nc + 3*3
    out.write(8) // precision
    out.write(be16(height)); out.write(be16(width))
    out.write(3) // components
    (1 to 3).foreach { c => out.write(c); out.write(0x11); out.write(0) }
    out.write(Array(0xFF, 0xD9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** The q88 staging set: (img_id, bytes) with every parser branch —
    * both PNG paths, both GIF versions, baseline + progressive JPEG
    * (the latter behind a COM segment the walk must skip), a truncated
    * PNG, and non-image bytes. */
  /** RIFF/WEBP with one dimension-carrying chunk: kind "lossy"
    * (VP8 with the 9D 01 2A start code and 14-bit LE fields),
    * "lossless" (VP8L, 0x2F + packed minus-one fields), or "x"
    * (VP8X extended header, 24-bit LE canvas minus-one fields) —
    * exactly the three layouts [[graft.plans.ImageMeta]] reads; an
    * ICCP chunk precedes the size chunk in the "x" case to exercise
    * the chunk walk. */
  def webp(width: Int, height: Int, kind: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def chunk(id: String, body: Array[Byte]): Unit = {
      out.write(id.getBytes("US-ASCII"))
      out.write(le32(body.length))
      out.write(body)
      if (body.length % 2 == 1) out.write(0)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le32(0)) // container size — unread by the parser
    out.write("WEBP".getBytes("US-ASCII"))
    kind match {
      case "lossy" =>
        val body = new ByteArrayOutputStream()
        body.write(Array[Byte](0, 0, 0)) // frame tag (key frame bits unread)
        body.write(0x9D); body.write(0x01); body.write(0x2A)
        body.write(le16(width & 0x3FFF)); body.write(le16(height & 0x3FFF))
        chunk("VP8 ", body.toByteArray)
      case "lossless" =>
        val bits = ((width - 1) & 0x3FFF) | (((height - 1) & 0x3FFF) << 14)
        chunk("VP8L", Array(0x2F.toByte) ++ le32(bits))
      case "x" =>
        chunk("ICCP", Array[Byte](1, 2, 3)) // walked over (odd: pads)
        val body = new ByteArrayOutputStream()
        body.write(le32(0)) // flags + reserved
        val wm = width - 1; val hm = height - 1
        body.write(wm & 0xFF); body.write((wm >> 8) & 0xFF)
        body.write((wm >> 16) & 0xFF)
        body.write(hm & 0xFF); body.write((hm >> 8) & 0xFF)
        body.write((hm >> 16) & 0xFF)
        chunk("VP8X", body.toByteArray)
      case other => throw new IllegalArgumentException(s"kind $other")
    }
    out.toByteArray
  }

  /** AVIF header: ftyp(avif) + meta full box → iprp → ipco → ispe
    * carrying the spatial extents — the box path
    * [[graft.plans.ImageMeta]] walks (a pitm box before iprp
    * exercises the sibling skip). */
  def avif(width: Int, height: Int): Array[Byte] = {
    def boxOf(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ tpe.getBytes("US-ASCII") ++ payload
    val ispe = boxOf("ispe", Array[Byte](0, 0, 0, 0) ++ be32(width) ++ be32(height))
    val ipco = boxOf("ipco", ispe)
    val iprp = boxOf("iprp", ipco)
    val pitm = boxOf("pitm", Array[Byte](0, 0, 0, 0, 0, 1))
    val meta = boxOf("meta", Array[Byte](0, 0, 0, 0) ++ pitm ++ iprp)
    boxOf("ftyp", "avif".getBytes("US-ASCII") ++ be32(0) ++
      "mif1".getBytes("US-ASCII")) ++ meta
  }

  def all: Seq[(Long, Array[Byte])] = Seq(
    1L -> png(640, 480),
    2L -> png(1, 1),
    3L -> gif(320, 200, "87a"),
    4L -> gif(12345, 6789, "89a"),
    5L -> jpeg(1024, 768),
    6L -> jpeg(800, 600, sofMarker = 0xC2, comment = Some("graft fixture")),
    7L -> pngTruncated,
    8L -> "not an image at all".getBytes("UTF-8"),
    9L -> webp(1920, 1080, "lossy"),
    10L -> webp(333, 77, "lossless"),
    11L -> webp(16384, 8192, "x"),
    12L -> avif(1152, 768))
}
