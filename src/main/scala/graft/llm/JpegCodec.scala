package graft.llm

import java.io.ByteArrayOutputStream

/** JPEG (ITU T.81, 8-bit) codec with zero library dependencies — the
  * JDK-only sibling of the Inflater-backed PNG path, closing the
  * "JPEG absent" gap in the multimodal decode surface.
  *
  * DECODER ([[decode]]): a unified multi-scan coefficient-accumulating
  * design — the marker walk (length-less markers TEM/RSTn/SOI/EOI
  * handled standalone, segment-declared table counts re-checked
  * against the segment bound) parses multi-table DQT (8- and 16-bit
  * precisions) and DHT segments, SOF0/1 (baseline/extended
  * sequential) AND SOF2 (progressive) frames with 1 or 3 components
  * at sampling factors 1–2 (4:4:4, 4:2:2, 4:4:0, 4:2:0), DRI/RSTn
  * restart handling, and byte-unstuffing (FF 00). Every SOS decodes
  * into per-component zigzag-order coefficient blocks: baseline in
  * one interleaved pass; progressive via spectral selection
  * (Ss..Se bands) and successive approximation (Ah/Al first +
  * refinement passes, EOB-run skips) per T.81 Annex G — DC first/
  * refine, AC first/refine with correction bits, interleaved DC and
  * single-component AC scan geometry (non-interleaved scans traverse
  * ceil(compW/8)×ceil(compH/8) blocks of the padded grid). A frame
  * declaring more than [[Multimodal.MaxPixels]] refuses at SOF, before
  * any array is allocated. At EOI the accumulated coefficients
  * dequantize, zigzag-undo, and IDCT once — so a baseline stream and a
  * progressive re-ordering of the SAME quantized coefficients decode to
  * IDENTICAL pixels (asserted by JpegCodecSpec). The IDCT sums only a
  * block's nonzero coefficients against precomputed cosine tables, with
  * the same bits as the textbook 64-term double sum (JpegIdctSpec).
  * Chroma upsamples by replication, JFIF YCbCr→RGB with clamp —
  * returns row-major top-down [r,g,b, …] floats, the
  * [[Multimodal.BmpWavDecoder]] plane contract. Arithmetic-coded,
  * lossless, hierarchical, 12-bit and 4-component (CMYK) streams
  * refuse loudly.
  *
  * ENCODER ([[encode]]): quality-scaled Annex-K quantization tables
  * (the libjpeg 5000/q | 200−2q scaling), SELF-DECLARED canonical
  * Huffman tables embedded in DHT — DC categories as twelve 5-bit
  * codes, AC run/size symbols as 8-bit codes (plus the fourteen EOBn
  * symbols when encoding progressive; the all-ones code stays unused
  * at both lengths as T.81 recommends). Luma sampling factors
  * (sampH, sampV) ∈ {1, 2}² stage 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0
  * streams (chroma box-averaged), and `progressive = true` emits
  * SOF2 with a spectral-selection scan script (interleaved DC scan,
  * then one full-band AC scan per component with EOB-run coding) over
  * the SAME quantized coefficients as the sequential mode. The
  * encoder exists to stage pixel-exact-known fixtures: q242/q245's
  * oracles replay the original plane formula and bound the decode
  * error by the quantization step; the default-argument path
  * (4:4:4 sequential) is byte-identical to prior rounds.
  *
  * Decoder/encoder rounding is pinned (Math.round + clamp at every
  * stage), so the round-trip is deterministic on any JVM; T.81 allows
  * ±1 IDCT variance BETWEEN decoders, which is why the ImageIO
  * cross-checks in JpegCodecSpec assert small tolerances, not
  * equality, while the q242 gate pins THIS decoder's exact output
  * through invariant booleans.
  */
object JpegCodec {

  private val ZigZag: Array[Int] = Array(
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.1 luminance / K.2 chrominance base quantization tables. */
  private val QLumBase: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  private val QChromBase: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** libjpeg quality scaling: q in [1, 100]. */
  private def scaleQ(base: Array[Int], quality: Int): Array[Int] = {
    val s = if (quality < 50) 5000 / quality else 200 - 2 * quality
    base.map(t => math.min(255, math.max(1, (t * s + 50) / 100)))
  }

  /** cos((2x+1)·u·π/16) at u*8+x: the same doubles as evaluating the
    * cosine per term, built once. */
  private val Cos: Array[Double] = Array.tabulate(64) { i =>
    math.cos((2 * (i & 7) + 1) * (i >> 3) * math.Pi / 16.0)
  }

  /** cC(u)·cC(v) at v*8+u, with cC(0) = 1/√2 and cC(u > 0) = 1. */
  private val Norm: Array[Double] = Array.tabulate(64) { i =>
    def cC(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    cC(i & 7) * cC(i >> 3)
  }

  /** 2D 8×8 inverse DCT: out(y*8+x) = ¼·Σ cC(u)cC(v)·in(v*8+u)·
    * cos(u,x)·cos(v,y), summed over the block's nonzero coefficients
    * only (dequantized blocks are mostly zeros). Terms are added in
    * ascending v*8+u order, each multiplied left to right as
    * ((cC(u)cC(v)·in)·cos(u,x))·cos(v,y), exactly as the full 64-term
    * sum does it. A skipped term is ±0.0; a sum that starts at +0.0 is
    * never -0.0, so adding ±0.0 never changes it, and the result has the
    * same bits as the full sum. */
  private[llm] def idct(in: Array[Double]): Array[Double] = {
    var n = 0
    var k = 0
    while (k < 64) { if (in(k) != 0.0) n += 1; k += 1 }
    // per nonzero term j: rows(j*8+x) = (cC(u)cC(v)·in)·cos(u,x), vRow(j) = v*8
    val rows = new Array[Double](n * 8)
    val vRow = new Array[Int](n)
    var j = 0
    k = 0
    while (j < n) {
      val c = in(k)
      if (c != 0.0) {
        val p = Norm(k) * c
        val u8 = (k & 7) * 8
        var x = 0
        while (x < 8) { rows(j * 8 + x) = p * Cos(u8 + x); x += 1 }
        vRow(j) = k & ~7
        j += 1
      }
      k += 1
    }
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        j = 0
        while (j < n) { s += rows(j * 8 + x) * Cos(vRow(j) + y); j += 1 }
        out(y * 8 + x) = s / 4.0
        x += 1
      }
      y += 1
    }
    out
  }

  /** 2D 8×8 forward DCT. */
  private def fdct(in: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s += in(y * 8 + x) * Cos(u * 8 + x) * Cos(v * 8 + y)
            x += 1
          }
          y += 1
        }
        out(v * 8 + u) = Norm(v * 8 + u) * s / 4.0
        u += 1
      }
      v += 1
    }
    out
  }

  private def clamp255(v: Long): Int =
    if (v < 0) 0 else if (v > 255) 255 else v.toInt

  // ------------------------------------------------------------------
  // Huffman machinery — canonical code tables from DHT BITS/HUFFVAL.
  // ------------------------------------------------------------------

  /** Decode-side table: for each code length, the first code value and
    * the index of its first symbol (canonical layout). */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    val values: Array[Int] = vals
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        maxCode(l) = if (bits(l - 1) > 0) code + bits(l - 1) - 1 else -1
        code += bits(l - 1)
        k += bits(l - 1)
        code <<= 1
        l += 1
      }
    }
  }

  /** Entropy-coded-segment bit reader with FF00 unstuffing; stops at
    * any marker (the caller inspects it). */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var atMarker: Int = -1 // set when FFxx (xx != 0) interrupts the scan
    var synthEoi = false   // buffer ended without a real marker

    def bit(): Int = {
      if (nbits == 0) {
        if (atMarker >= 0) return 0 // draining past a marker: pad bits
        if (pos >= b.length) { atMarker = 0xD9; synthEoi = true; return 0 }
        var v = b(pos) & 0xFF
        pos += 1
        if (v == 0xFF) {
          val next = if (pos < b.length) b(pos) & 0xFF else 0xD9
          if (next == 0x00) { pos += 1 }
          else { atMarker = next; pos += 1; return 0 }
          v = 0xFF
        }
        acc = v; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }

    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    /** Consume an expected RSTn at a restart boundary: drop the
      * current byte's padding bits, then the marker — which the bit
      * loop may already have run into while draining padding. */
    def expectRestart(): Unit = {
      nbits = 0
      if (atMarker < 0) {
        require(pos + 1 < b.length && (b(pos) & 0xFF) == 0xFF,
          "JPEG restart marker missing")
        atMarker = b(pos + 1) & 0xFF
        pos += 2
      }
      require(atMarker >= 0xD0 && atMarker <= 0xD7,
        f"JPEG restart marker expected, found FF$atMarker%02X")
      atMarker = -1
    }

    def decodeSym(t: HuffTable): Int = {
      var code = bit()
      var l = 1
      while (l <= 16) {
        if (t.maxCode(l) >= 0 && code <= t.maxCode(l) && code >= t.minCode(l))
          return t.values(t.valPtr(l) + code - t.minCode(l))
        code = (code << 1) | bit()
        l += 1
      }
      throw new IllegalArgumentException("JPEG: invalid Huffman code")
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  private case class Comp(id: Int, h: Int, v: Int, tq: Int,
                          var dcTab: Int = 0, var acTab: Int = 0)

  def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 &&
      (b(2) & 0xFF) == 0xFF

  /** Decode a baseline or progressive JPEG to (width, height,
    * row-major RGB floats). */
  def decode(b: Array[Byte]): (Int, Int, Array[Float]) = decodeWith(b, idct)

  /** [[decode]] with the block inverse DCT passed in, so a spec can
    * decode the same stream through a reference transform. */
  private[llm] def decodeWith(b: Array[Byte],
                              idctFn: Array[Double] => Array[Double]): (Int, Int, Array[Float]) = {
    require(isJpeg(b), "not a JPEG (no SOI)")
    val quant = Array.ofDim[Int](4, 64) // natural order
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var comps: Array[Comp] = null
    var progressive = false
    var w = 0; var h = 0
    var restartInterval = 0
    // coefficient accumulators, allocated at SOF (zigzag order per block)
    var coefs: Array[Array[Int]] = null
    var bpl: Array[Int] = null // padded blocks per line  (mcusX * c.h)
    var bpc: Array[Int] = null // padded blocks per column (mcusY * c.v)
    var blocksW: Array[Int] = null // non-interleaved scan width in blocks
    var blocksH: Array[Int] = null
    var maxH = 1; var maxV = 1
    var mcusX = 0; var mcusY = 0
    var sawScan = false
    var pos = 2

    def u16(o: Int) = ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)

    // ---- one entropy-coded scan (baseline full-band or progressive
    // band/approximation pass); returns the stream position of the
    // next marker's FF, or -1 when the stream ends without one.
    def decodeScan(segStart: Int, segLen: Int): Int = {
      require(comps != null, "JPEG SOS before SOF")
      val ns = b(segStart) & 0xFF
      require(ns >= 1 && ns <= comps.length, s"bad SOS component count $ns")
      require(segLen >= 2 + 1 + 2 * ns + 3, "short SOS segment")
      val scanComps = new Array[Int](ns)
      var i = 0
      while (i < ns) {
        val cid = b(segStart + 1 + 2 * i) & 0xFF
        val tt = b(segStart + 2 + 2 * i) & 0xFF
        val ci = comps.indexWhere(_.id == cid)
        require(ci >= 0, "SOS names unknown component")
        comps(ci).dcTab = (tt >> 4) & 0xF
        comps(ci).acTab = tt & 0xF
        scanComps(i) = ci
        i += 1
      }
      val so = segStart + 1 + 2 * ns
      val ss = b(so) & 0xFF
      val se = b(so + 1) & 0xFF
      val ah = (b(so + 2) >> 4) & 0xF
      val al = b(so + 2) & 0xF
      if (!progressive) {
        require(ss == 0 && se == 63 && ah == 0 && al == 0,
          "sequential JPEG scan must cover the full band")
        require(ns == comps.length, "partial-scan sequential JPEG not supported")
      } else {
        require(se >= ss && se <= 63 && ah <= 13 && al <= 13, "bad progressive scan band")
        require(ah == 0 || ah == al + 1, "non-contiguous successive approximation")
        if (ss == 0) require(se == 0, "progressive scan mixes DC and AC")
        else require(ns == 1, "progressive AC scan must be non-interleaved")
      }
      val dcScan = ss == 0
      // the Huffman tables this scan will read must exist now: a DC
      // first pass reads DC tables, an AC pass AC tables, a sequential
      // scan both (a selector above 3 or one no DHT defined refuses)
      val needDc = !progressive || (dcScan && ah == 0)
      val needAc = !progressive || !dcScan
      for (ci <- scanComps) {
        val c = comps(ci)
        require(!needDc || (c.dcTab <= 3 && dcTabs(c.dcTab) != null),
          s"SOS selects undefined DC Huffman table ${c.dcTab}")
        require(!needAc || (c.acTab <= 3 && acTabs(c.acTab) != null),
          s"SOS selects undefined AC Huffman table ${c.acTab}")
      }

      val br = new BitReader(b, segStart + segLen - 2) // start of entropy data
      val dcPred = new Array[Int](comps.length)
      var eobrun = 0

      // --- per-block coefficient passes (coef = 64 zigzag ints at off)
      def dcFirst(ci: Int, cf: Array[Int], off: Int): Unit = {
        val sDc = br.decodeSym(dcTabs(comps(ci).dcTab))
        require(sDc <= 11, "bad DC category")
        dcPred(ci) += extend(br.bits(sDc), sDc)
        cf(off) = dcPred(ci) << al
      }
      def dcRefine(cf: Array[Int], off: Int): Unit =
        if (br.bit() == 1) cf(off) |= (1 << al)
      def acFirst(ci: Int, cf: Array[Int], off: Int): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        var k = math.max(ss, 1)
        var done = false
        while (k <= se && !done) {
          val rs = br.decodeSym(acTabs(comps(ci).acTab))
          val r = (rs >> 4) & 0xF; val s = rs & 0xF
          if (s == 0) {
            if (r == 15) k += 16 // ZRL
            else { eobrun = (1 << r) - 1 + br.bits(r); done = true } // EOBn
          } else {
            k += r
            require(k <= se, "AC run past band end")
            cf(off + k) = extend(br.bits(s), s) << al
            k += 1
          }
        }
      }
      // T.81 G.1.2.3 successive-approximation AC refinement: one
      // correction bit per nonzero-history coefficient passed, new
      // ±1<<Al coefficients placed after their declared zero-run.
      def acRefine(ci: Int, cf: Array[Int], off: Int): Unit = {
        val p1 = 1 << al; val m1 = -1 << al
        var k = ss
        if (eobrun == 0) {
          var brk = false
          while (k <= se && !brk) {
            val rs = br.decodeSym(acTabs(comps(ci).acTab))
            var r = (rs >> 4) & 0xF; val s = rs & 0xF
            var newVal = 0
            if (s == 0) {
              if (r < 15) { eobrun = (1 << r) + br.bits(r); brk = true }
              // r == 15 (ZRL): pass over 16 zero-history coefficients
            } else {
              require(s == 1, "refinement AC size must be 1")
              newVal = if (br.bit() == 1) p1 else m1
            }
            if (!brk) {
              var placed = false
              while (k <= se && !placed) {
                val c = cf(off + k)
                if (c != 0) {
                  if (br.bit() == 1 && (c & p1) == 0)
                    cf(off + k) = if (c >= 0) c + p1 else c + m1
                } else {
                  if (r == 0) {
                    if (s != 0) cf(off + k) = newVal
                    placed = true
                  } else r -= 1
                }
                k += 1
              }
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            val c = cf(off + k)
            if (c != 0 && br.bit() == 1 && (c & p1) == 0)
              cf(off + k) = if (c >= 0) c + p1 else c + m1
            k += 1
          }
          eobrun -= 1
        }
      }
      def baselineBlock(ci: Int, cf: Array[Int], off: Int): Unit = {
        dcFirst(ci, cf, off)
        var k = 1
        var eob = false
        while (k < 64 && !eob) {
          val rs = br.decodeSym(acTabs(comps(ci).acTab))
          val r = (rs >> 4) & 0xF; val s = rs & 0xF
          if (s == 0) {
            if (r == 15) k += 16 else eob = true
          } else {
            k += r
            require(k < 64, "AC run past block end")
            cf(off + k) = extend(br.bits(s), s)
            k += 1
          }
        }
      }
      def decodeBlock(ci: Int, blockRow: Int, blockCol: Int): Unit = {
        val off = (blockRow * bpl(ci) + blockCol) * 64
        val cf = coefs(ci)
        if (!progressive) baselineBlock(ci, cf, off)
        else if (dcScan) { if (ah == 0) dcFirst(ci, cf, off) else dcRefine(cf, off) }
        else { if (ah == 0) acFirst(ci, cf, off) else acRefine(ci, cf, off) }
      }

      val interleaved = ns > 1
      val totalMcus =
        if (interleaved) mcusX * mcusY
        else blocksW(scanComps(0)) * blocksH(scanComps(0))
      var mcu = 0
      while (mcu < totalMcus) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          br.expectRestart()
          java.util.Arrays.fill(dcPred, 0)
          eobrun = 0
        }
        if (interleaved) {
          val my = mcu / mcusX; val mx = mcu % mcusX
          var si = 0
          while (si < ns) {
            val ci = scanComps(si)
            val c = comps(ci)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                decodeBlock(ci, my * c.v + by, mx * c.h + bx)
                bx += 1
              }
              by += 1
            }
            si += 1
          }
        } else {
          // non-interleaved scan: MCU = one block over the component's
          // own ceil(compW/8) × ceil(compH/8) grid (T.81 A.2.2)
          val ci = scanComps(0)
          decodeBlock(ci, mcu / blocksW(ci), mcu % blocksW(ci))
        }
        mcu += 1
      }
      sawScan = true
      // locate the next marker (the bit reader may have consumed it)
      if (br.synthEoi) -1
      else if (br.atMarker >= 0) br.pos - 2
      else {
        var p = br.pos
        var found = -1
        while (found < 0 && p + 1 < b.length) {
          val v0 = b(p) & 0xFF; val v1 = b(p + 1) & 0xFF
          if (v0 == 0xFF && v1 != 0x00 && v1 != 0xFF) found = p else p += 1
        }
        found
      }
    }

    // ---- marker walk: headers, tables, and scans until EOI
    var done = false
    while (!done) {
      require(pos + 2 <= b.length, "truncated JPEG before EOI")
      require((b(pos) & 0xFF) == 0xFF, s"JPEG marker expected at $pos")
      // T.81 B.1.1.2: any number of FF fill bytes may precede a marker
      while (pos + 2 <= b.length && (b(pos + 1) & 0xFF) == 0xFF) pos += 1
      val m = b(pos + 1) & 0xFF
      if (m == 0xD9) { done = true } // EOI
      else if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) {
        pos += 2 // length-less marker (TEM / stray RSTn / SOI): skip
      } else {
        require(pos + 4 <= b.length, "truncated JPEG segment header")
        val len = u16(pos + 2)
        require(len >= 2 && pos + 2 + len <= b.length,
          f"truncated JPEG segment FF$m%02X")
        val segEnd = pos + 2 + len
        m match {
          case 0xC0 | 0xC1 | 0xC2 => // SOF0/1 sequential, SOF2 progressive
            require(comps == null, "multiple JPEG frames")
            progressive = m == 0xC2
            require((b(pos + 4) & 0xFF) == 8, "only 8-bit JPEG")
            h = u16(pos + 5); w = u16(pos + 7)
            require(w > 0 && h > 0, "JPEG missing SOF dimensions")
            // refuse before allocating: the coefficient, plane and output
            // arrays all scale with the declared (up to 65535²) size
            require(w.toLong * h <= Multimodal.MaxPixels,
              s"JPEG $w x $h too large to decode dependency-free")
            val nc = b(pos + 9) & 0xFF
            require(nc == 1 || nc == 3,
              s"only grayscale or YCbCr JPEG ($nc components)")
            require(len >= 8 + 3 * nc, "short SOF segment")
            comps = Array.tabulate(nc) { i =>
              val o = pos + 10 + i * 3
              val hv = b(o + 1) & 0xFF
              val c = Comp(b(o) & 0xFF, (hv >> 4) & 0xF, hv & 0xF, b(o + 2) & 0xFF)
              require(c.h >= 1 && c.h <= 2 && c.v >= 1 && c.v <= 2,
                s"unsupported sampling ${c.h}x${c.v}")
              require(c.tq <= 3, s"SOF selects quantization table ${c.tq} (0-3)")
              c
            }
            maxH = comps.map(_.h).max
            maxV = comps.map(_.v).max
            mcusX = (w + 8 * maxH - 1) / (8 * maxH)
            mcusY = (h + 8 * maxV - 1) / (8 * maxV)
            bpl = comps.map(c => mcusX * c.h)
            bpc = comps.map(c => mcusY * c.v)
            blocksW = comps.map(c => ((w * c.h + maxH - 1) / maxH + 7) / 8)
            blocksH = comps.map(c => ((h * c.v + maxV - 1) / maxV + 7) / 8)
            coefs = comps.indices.toArray.map(i => new Array[Int](bpl(i) * bpc(i) * 64))
          case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            throw new IllegalArgumentException(
              f"unsupported JPEG frame type FFC${m & 0xF}%X")
          case 0xC4 => // DHT (possibly several tables)
            var o = pos + 4
            while (o < segEnd) {
              val tc = (b(o) >> 4) & 0xF; val th = b(o) & 0xF
              require(tc <= 1 && th <= 3, "bad DHT header")
              require(o + 17 <= segEnd, "DHT BITS past segment end")
              val bits = Array.tabulate(16)(i => b(o + 1 + i) & 0xFF)
              val n = bits.sum
              require(o + 17 + n <= segEnd, "DHT symbol count past segment end")
              val vals = Array.tabulate(n)(i => b(o + 17 + i) & 0xFF)
              val t = new HuffTable(bits, vals)
              if (tc == 0) dcTabs(th) = t else acTabs(th) = t
              o += 17 + n
            }
          case 0xDB => // DQT (possibly several tables, 8- or 16-bit)
            var o = pos + 4
            while (o < segEnd) {
              val pq = (b(o) >> 4) & 0xF; val tq = b(o) & 0xF
              require(pq <= 1 && tq <= 3, "bad DQT header")
              require(o + 1 + (if (pq == 0) 64 else 128) <= segEnd,
                "DQT table past segment end")
              var i = 0
              while (i < 64) {
                val v = if (pq == 0) b(o + 1 + i) & 0xFF
                        else u16(o + 1 + 2 * i)
                quant(tq)(ZigZag(i)) = v
                i += 1
              }
              o += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xDD =>
            require(len >= 4, "short DRI segment") // u16 stays in-segment
            restartInterval = u16(pos + 4)
          case 0xDA => // SOS: decode the scan, resume at the next marker
            val next = decodeScan(pos + 4, len)
            if (next < 0) done = true else pos = next
          case _ => // APPn / COM / DNL / others: skip
        }
        if (!done && m != 0xDA) pos = segEnd
      }
    }

    require(comps != null, "JPEG missing SOF")
    require(sawScan, "JPEG missing SOS")

    // ---- dequantize + IDCT every accumulated block into the planes
    val planes = comps.indices.toArray.map(i => new Array[Int](bpl(i) * 8 * bpc(i) * 8))
    val planeW = comps.indices.toArray.map(i => bpl(i) * 8)
    val block = new Array[Double](64)
    var ci = 0
    while (ci < comps.length) {
      val q = quant(comps(ci).tq)
      val cf = coefs(ci)
      var br2 = 0
      while (br2 < bpc(ci)) {
        var bc = 0
        while (bc < bpl(ci)) {
          val off = (br2 * bpl(ci) + bc) * 64
          java.util.Arrays.fill(block, 0.0)
          var k = 0
          while (k < 64) {
            val c = cf(off + k)
            if (c != 0) block(ZigZag(k)) = c.toDouble * q(ZigZag(k))
            k += 1
          }
          val px = idctFn(block)
          val ox = bc * 8; val oy = br2 * 8
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              planes(ci)((oy + yy) * planeW(ci) + ox + xx) =
                clamp255(math.round(px(yy * 8 + xx) + 128.0))
              xx += 1
            }
            yy += 1
          }
          bc += 1
        }
        br2 += 1
      }
      ci += 1
    }

    val out = new Array[Float](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        if (comps.length == 1) {
          val g = planes(0)(y * planeW(0) + x).toFloat
          out(o) = g; out(o + 1) = g; out(o + 2) = g
        } else {
          def sample(ci: Int): Int = {
            val c = comps(ci)
            planes(ci)((y * c.v / maxV) * planeW(ci) + (x * c.h / maxH))
          }
          val yv = sample(0).toDouble
          val cb = sample(1).toDouble - 128.0
          val cr = sample(2).toDouble - 128.0
          out(o) = clamp255(math.round(yv + 1.402 * cr)).toFloat
          out(o + 1) = clamp255(
            math.round(yv - 0.344136 * cb - 0.714136 * cr)).toFloat
          out(o + 2) = clamp255(math.round(yv + 1.772 * cb)).toFloat
        }
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  // ------------------------------------------------------------------
  // Encoder (4:4:4 / 4:2:2 / 4:4:0 / 4:2:0; sequential or progressive
  // spectral-selection; self-declared canonical Huffman tables)
  // ------------------------------------------------------------------

  /** DC symbols 0..11 as 5-bit canonical codes; AC symbols (EOB, ZRL,
    * every run/size — plus the fourteen EOBn run symbols when
    * progressive) as 8-bit canonical codes — the all-ones code is
    * unused at both lengths. */
  private val DcBits: Array[Int] =
    Array(0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals: Array[Int] = (0 to 11).toArray
  private val AcVals: Array[Int] =
    (0x00 +: (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s) :+ 0xF0)
      .sorted.toArray
  private val AcBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, AcVals.length, 0, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcVals: Array[Int] =
    (AcVals ++ (1 to 14).map(r => r << 4)).sorted.toArray
  private val ProgAcBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, ProgAcVals.length, 0, 0, 0, 0, 0, 0, 0, 0)

  /** (code, length) per symbol from BITS/HUFFVAL. */
  private def encTable(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var k = 0
    val m = Map.newBuilder[Int, (Int, Int)]
    for (l <- 1 to 16) {
      for (_ <- 0 until bits(l - 1)) {
        m += vals(k) -> ((code, l)); code += 1; k += 1
      }
      code <<= 1
    }
    m.result()
  }

  private final class BitWriter(out: ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        n += 1
        if (n == 8) {
          out.write(acc & 0xFF)
          if ((acc & 0xFF) == 0xFF) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (n > 0) { put(0xFF, 8 - n) } // 1-padding
  }

  private def category(v: Int): Int = {
    var s = 0; var a = math.abs(v)
    while (a > 0) { s += 1; a >>= 1 }
    s
  }

  /** Encode an RGB formula plane as a baseline (or, with
    * `progressive = true`, spectral-selection SOF2) JPEG. Luma
    * sampling factors (sampH, sampV) ∈ {1, 2}² select 4:4:4 / 4:2:2 /
    * 4:4:0 / 4:2:0 (chroma box-averaged over the sampH×sampV cell);
    * `restartInterval` > 0 adds DRI + RSTn markers every that many
    * MCUs (sequential only — exercises the decoder's restart path).
    * The default-argument path emits bytes identical to the
    * pre-progressive encoder. */
  def encode(width: Int, height: Int, pix: (Int, Int) => (Int, Int, Int),
             quality: Int = 95, restartInterval: Int = 0,
             sampH: Int = 1, sampV: Int = 1,
             progressive: Boolean = false): Array[Byte] = {
    require(width >= 1 && height >= 1, "empty image")
    require(width <= 65535 && height <= 65535,
      "JPEG dimensions are 16-bit (T.81 B.2.2)")
    require(quality >= 1 && quality <= 100, "quality in [1, 100]")
    require(restartInterval >= 0, "restartInterval >= 0")
    require(sampH >= 1 && sampH <= 2 && sampV >= 1 && sampV <= 2,
      "luma sampling factors in {1, 2}")
    require(!progressive || restartInterval == 0,
      "restart markers unsupported in the progressive encoder")
    val qLum = scaleQ(QLumBase, quality)
    val qChrom = scaleQ(QChromBase, quality)

    // ---- color transform: full-res Y, box-averaged chroma planes
    val yPlane = new Array[Int](width * height)
    val cbFull = new Array[Int](width * height)
    val crFull = new Array[Int](width * height)
    for (y <- 0 until height; x <- 0 until width) {
      val (r0, g0, b0) = pix(x, y)
      val r = r0 & 0xFF; val g = g0 & 0xFF; val bb = b0 & 0xFF
      val o = y * width + x
      yPlane(o) = clamp255(math.round(0.299 * r + 0.587 * g + 0.114 * bb))
      cbFull(o) = clamp255(math.round(
        -0.168736 * r - 0.331264 * g + 0.5 * bb + 128.0))
      crFull(o) = clamp255(math.round(
        0.5 * r - 0.418688 * g - 0.081312 * bb + 128.0))
    }
    val cw = (width + sampH - 1) / sampH
    val ch = (height + sampV - 1) / sampV
    def downsample(full: Array[Int]): Array[Int] = {
      if (sampH == 1 && sampV == 1) return full
      val out = new Array[Int](cw * ch)
      for (cy <- 0 until ch; cx <- 0 until cw) {
        var s = 0; var n = 0
        for (dy <- 0 until sampV; dx <- 0 until sampH) {
          val sx = cx * sampH + dx; val sy = cy * sampV + dy
          if (sx < width && sy < height) { s += full(sy * width + sx); n += 1 }
        }
        out(cy * cw + cx) = clamp255(math.round(s.toDouble / n))
      }
      out
    }
    val cbPlane = downsample(cbFull)
    val crPlane = downsample(crFull)

    val mcusX = (width + 8 * sampH - 1) / (8 * sampH)
    val mcusY = (height + 8 * sampV - 1) / (8 * sampV)
    // per-component geometry: (plane, planeW, planeH, q, blocksPerLine)
    val compPlanes = Array(yPlane, cbPlane, crPlane)
    val compW = Array(width, cw, cw)
    val compH = Array(height, ch, ch)
    val compQ = Array(qLum, qChrom, qChrom)
    val compBpl = Array(mcusX * sampH, mcusX, mcusX)
    val compBpc = Array(mcusY * sampV, mcusY, mcusY)

    // ---- quantized zigzag coefficients for every padded-grid block
    val coefBlocks = Array.tabulate(3) { ci =>
      val out = new Array[Int](compBpl(ci) * compBpc(ci) * 64)
      val block = new Array[Double](64)
      for (brow <- 0 until compBpc(ci); bcol <- 0 until compBpl(ci)) {
        for (yy <- 0 until 8; xx <- 0 until 8) {
          // edge blocks replicate the last row/column (the usual pad)
          val sx = math.min(bcol * 8 + xx, compW(ci) - 1)
          val sy = math.min(brow * 8 + yy, compH(ci) - 1)
          block(yy * 8 + xx) = compPlanes(ci)(sy * compW(ci) + sx) - 128.0
        }
        val f = fdct(block)
        val off = (brow * compBpl(ci) + bcol) * 64
        for (i <- 0 until 64)
          out(off + i) = math.round(f(ZigZag(i)) / compQ(ci)(ZigZag(i))).toInt
      }
      out
    }

    val out = new ByteArrayOutputStream()
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }

    marker(0xD8) // SOI
    // DQT: two 8-bit tables
    marker(0xDB); be16(2 + 2 * 65)
    out.write(0x00); ZigZag.foreach(i => out.write(qLum(i)))
    out.write(0x01); ZigZag.foreach(i => out.write(qChrom(i)))
    // SOF0 (sequential) or SOF2 (progressive)
    marker(if (progressive) 0xC2 else 0xC0)
    be16(8 + 3 * 3); out.write(8)
    be16(height); be16(width); out.write(3)
    out.write(1); out.write((sampH << 4) | sampV); out.write(0) // Y  -> q0
    out.write(2); out.write(0x11); out.write(1)                 // Cb -> q1
    out.write(3); out.write(0x11); out.write(1)                 // Cr -> q1
    // DHT: same canonical tables declared for ids 0 and 1, DC and AC
    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xC4); be16(2 + 1 + 16 + vals.length)
      out.write((tc << 4) | th); bits.foreach(out.write); vals.foreach(out.write)
    }
    val acBits = if (progressive) ProgAcBits else AcBits
    val acVals = if (progressive) ProgAcVals else AcVals
    dht(0, 0, DcBits, DcVals); dht(1, 0, acBits, acVals)
    dht(0, 1, DcBits, DcVals); dht(1, 1, acBits, acVals)
    if (restartInterval > 0) { marker(0xDD); be16(4); be16(restartInterval) }
    val dcEnc = encTable(DcBits, DcVals)
    val acEnc = encTable(acBits, acVals)

    def sos(scanComps: Seq[Int], ss: Int, se: Int): Unit = {
      marker(0xDA); be16(6 + 2 * scanComps.length)
      out.write(scanComps.length)
      scanComps.foreach { ci =>
        out.write(ci + 1)
        out.write(if (ci == 0) 0x00 else 0x11)
      }
      out.write(ss); out.write(se); out.write(0) // Ah/Al = 0 (no approx)
    }
    def putDc(bw: BitWriter, diff: Int): Unit = {
      val s = category(diff)
      val (dc, dl) = dcEnc(s)
      bw.put(dc, dl)
      if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    }

    if (!progressive) {
      // ---- single interleaved full-band scan
      sos(Seq(0, 1, 2), 0, 63)
      val bw = new BitWriter(out)
      val dcPred = new Array[Int](3)
      var rstCount = 0
      for (m <- 0 until mcusX * mcusY) {
        if (restartInterval > 0 && m > 0 && m % restartInterval == 0) {
          bw.flush()
          marker(0xD0 + (rstCount % 8)); rstCount += 1
          java.util.Arrays.fill(dcPred, 0)
        }
        val my = m / mcusX; val mx = m % mcusX
        for (ci <- 0 until 3) {
          val (nh, nv) = if (ci == 0) (sampH, sampV) else (1, 1)
          for (by <- 0 until nv; bx <- 0 until nh) {
            val off = ((my * nv + by) * compBpl(ci) + mx * nh + bx) * 64
            val qz = coefBlocks(ci)
            putDc(bw, qz(off) - dcPred(ci))
            dcPred(ci) = qz(off)
            var k = 1
            while (k < 64) {
              var run = 0
              while (k < 64 && qz(off + k) == 0) { run += 1; k += 1 }
              if (k == 64) {
                val (c, l) = acEnc(0x00); bw.put(c, l) // EOB
              } else {
                while (run > 15) {
                  val (c, l) = acEnc(0xF0); bw.put(c, l); run -= 16 // ZRL
                }
                val v = qz(off + k)
                val sz = category(v)
                require(sz <= 10, "AC coefficient out of baseline range")
                val (c, l) = acEnc((run << 4) | sz)
                bw.put(c, l)
                bw.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
                k += 1
              }
            }
          }
        }
      }
      bw.flush()
    } else {
      // ---- spectral-selection scan script: interleaved DC scan, then
      // one full-band AC scan per component (EOB-run coded)
      sos(Seq(0, 1, 2), 0, 0)
      val bw = new BitWriter(out)
      val dcPred = new Array[Int](3)
      for (m <- 0 until mcusX * mcusY) {
        val my = m / mcusX; val mx = m % mcusX
        for (ci <- 0 until 3) {
          val (nh, nv) = if (ci == 0) (sampH, sampV) else (1, 1)
          for (by <- 0 until nv; bx <- 0 until nh) {
            val off = ((my * nv + by) * compBpl(ci) + mx * nh + bx) * 64
            putDc(bw, coefBlocks(ci)(off) - dcPred(ci))
            dcPred(ci) = coefBlocks(ci)(off)
          }
        }
      }
      bw.flush()
      for (ci <- 0 until 3) {
        sos(Seq(ci), 1, 63)
        val bw = new BitWriter(out)
        // non-interleaved geometry: ceil(compW/8) × ceil(compH/8)
        val bw8 = (compW(ci) + 7) / 8
        val bh8 = (compH(ci) + 7) / 8
        var eobrun = 0
        def flushEob(): Unit = if (eobrun > 0) {
          var r = 0
          while ((2 << r) <= eobrun) r += 1 // largest r with 1<<r <= eobrun
          val (c, l) = acEnc(r << 4)
          bw.put(c, l)
          if (r > 0) bw.put(eobrun - (1 << r), r)
          eobrun = 0
        }
        for (brow <- 0 until bh8; bcol <- 0 until bw8) {
          val off = (brow * compBpl(ci) + bcol) * 64
          val qz = coefBlocks(ci)
          var last = 0
          for (k <- 1 until 64) if (qz(off + k) != 0) last = k
          if (last == 0) {
            eobrun += 1
            if (eobrun == 32767) flushEob()
          } else {
            flushEob()
            var k = 1
            while (k <= last) {
              var run = 0
              while (qz(off + k) == 0) { run += 1; k += 1 }
              while (run > 15) {
                val (c, l) = acEnc(0xF0); bw.put(c, l); run -= 16 // ZRL
              }
              val v = qz(off + k)
              val sz = category(v)
              require(sz <= 10, "AC coefficient out of range")
              val (c, l) = acEnc((run << 4) | sz)
              bw.put(c, l)
              bw.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
              k += 1
            }
            if (last < 63) eobrun += 1 // trailing zeros: start an EOB run
          }
        }
        flushEob()
        bw.flush()
      }
    }
    marker(0xD9) // EOI
    out.toByteArray
  }
}
