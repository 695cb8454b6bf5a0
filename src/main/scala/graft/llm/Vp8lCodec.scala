package graft.llm

import graft.util.Containers

/** Dependency-free VP8L (lossless WebP) codec: a full pixel DECODER
  * for the VP8L bitstream (RFC 9649 §3-5 / the WebP lossless spec)
  * plus a fixture ENCODER — the [[FlacCodec]]/[[GifCodec]] pattern:
  * the encoder exists so specs and oracle queries can exercise every
  * decoder branch from generative formulas, and because VP8L is
  * lossless the decode of any encode must reproduce the input pixels
  * BIT-EXACTLY (the q258 oracle replays the generative formula
  * without knowing WebP exists).
  *
  * Decoder surface — the whole lossless feature set:
  *   - LSB-first bit reader over the RIFF/WEBP container (VP8L chunk,
  *     VP8X-wrapped VP8L accepted) or a bare VP8L payload; lossy VP8
  *     refuses loudly (an honest boundary: VP8 needs a real codec);
  *   - canonical prefix codes in both stream forms: SIMPLE (1-2
  *     symbols) and code-length-coded with the 19-symbol code-length
  *     code, the kCodeLengthCodeOrder permutation, the optional
  *     max-symbol limit field, and repeat codes 16/17/18 (previous /
  *     zero-run / long zero-run, default previous length 8);
  *   - META prefix groups: the entropy image at 2^bits granularity,
  *     group index = (r << 8) | g of its pixel;
  *   - the LZ77 layer: green/length/cache alphabet (256 + 24 +
  *     cache), length & distance prefix codes with extra bits, the
  *     120-entry near-pixel distance mapping (derived in code from
  *     the spec's ordering rule — all (dx, dy) with dy in 0..7, dx in
  *     −7..8, dy==0 ⇒ dx>0, sorted by dx²+dy² then dy then dx
  *     descending — and pinned against the spec's hex anchors in
  *     Vp8lCodecSpec), and the color cache with the 0x1e35a7bd hash;
  *   - all FOUR transforms, inverted in reverse read order:
  *     PREDICTOR (14 modes, block-granular mode image, the spec's
  *     edge rules incl. the wrapped top-right of the last column),
  *     COLOR (signed ×/>>5 multiplier deltas, block-granular),
  *     SUBTRACT-GREEN, and COLOR-INDEXING (delta-coded palette,
  *     sub-byte pixel bundling at 1/2/4 bits per index).
  * Reserved/invalid codes refuse loudly; allocation is capped before
  * it happens (crafted-header hardening, the GIF/PNG/FLAC rule).
  *
  * There is no JDK WebP codec to cross-check against, so the spec
  * pins hand-worked layers directly (distance-table anchors, hash
  * identities, prefix-code ranges) and every round-trip asserts exact
  * pixel equality across the full option matrix.
  *
  * Scale shape: decode is a pure per-row byte-array function driven
  * inside narrow `mapPartitions` batches by
  * [[Multimodal.extractFeatures]] — embarrassingly parallel across a
  * 100 TB image corpus, zero shuffle before downstream features.
  *
  * Reference scope: no reference counterpart
  * ([[graft.plans.ImageMeta]] reads VP8L headers since round 9); this
  * closes the lossless half of the WebP boundary the same way
  * GifCodec closed GIF. Lossy VP8/AV1 stay header-only.
  */
object Vp8lCodec {

  // ---------------------------------------------------------------
  // LSB-first bit IO (VP8L, unlike PNG/FLAC/JPEG, packs bits little-
  // endian: the first bit of a field is the LSB of the current byte)
  // ---------------------------------------------------------------
  private final class LsbReader(b: Array[Byte], startByte: Int, endByte: Int) {
    private var bit: Long = startByte.toLong * 8
    private val end: Long = endByte.toLong * 8
    def readBit(): Int = {
      require(bit < end, "truncated VP8L stream")
      val v = (b((bit / 8).toInt) >> (bit % 8).toInt) & 1
      bit += 1
      v
    }
    def readBits(n: Int): Int = {
      require(n >= 0 && n <= 24, s"readBits($n)")
      var v = 0; var i = 0
      while (i < n) { v |= readBit() << i; i += 1 }
      v
    }
  }

  private final class LsbWriter {
    private var buf = new Array[Byte](256)
    private var len = 0
    private var nb = 0
    def writeBit(v: Int): Unit = {
      if (nb == 0) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        len += 1
      }
      if ((v & 1) != 0) buf(len - 1) = (buf(len - 1) | (1 << nb)).toByte
      nb = (nb + 1) % 8
    }
    /** n bits of v, LSB first (the VP8L field convention). */
    def writeBits(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { writeBit((v >> i) & 1); i += 1 }
    }
    /** A canonical prefix code: MSB of the code goes first on the
      * wire (equivalently: the bit-reversed code written LSB-first —
      * the libwebp convention). */
    def writeCode(code: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit((code >> i) & 1); i -= 1 }
    }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ---------------------------------------------------------------
  // Canonical prefix codes
  // ---------------------------------------------------------------
  /** Decode-side canonical code from code lengths: codes assigned in
    * (length, symbol) order; reading walks bit-by-bit accumulating
    * the code MSB-first (each stream bit is the next lower code
    * bit). A single used symbol decodes with ZERO bits (the spec's
    * degenerate-code rule). */
  private final class Huff(lengths: Array[Int],
                           simple2: Option[(Int, Int)] = None) {
    private val maxLen = if (lengths.isEmpty) 0 else lengths.max
    require(maxLen <= 15, s"code length $maxLen > 15")
    private val used = lengths.count(_ > 0)
    require(used >= 1, "empty prefix code")
    val single: Int = if (used == 1) lengths.indexWhere(_ > 0) else -1
    // firstCode(l) = canonical code of the first symbol of length l;
    // syms(l) = symbols of length l in ascending order
    private val syms: Array[Array[Int]] = {
      val a = Array.fill(maxLen + 1)(Array.empty[Int])
      for (l <- 1 to maxLen)
        a(l) = lengths.indices.filter(lengths(_) == l).toArray
      a
    }
    private val firstCode: Array[Int] = {
      val f = new Array[Int](maxLen + 2)
      var code = 0
      for (l <- 1 to maxLen) {
        f(l) = code
        code = (code + syms(l).length) << 1
      }
      require(single >= 0 || (code >> 1) <= (1 << maxLen),
        "over-subscribed prefix code")
      f
    }
    def read(r: LsbReader): Int = {
      if (single >= 0) return single
      // SIMPLE 2-symbol codes assign code 0 to the FIRST symbol in
      // stream order (not ascending-symbol canonical order)
      simple2.foreach { case (s0, s1) =>
        return if (r.readBit() == 0) s0 else s1 }
      var code = 0
      var l = 0
      while (l < maxLen) {
        code = (code << 1) | r.readBit()
        l += 1
        val off = code - firstCode(l)
        if (off >= 0 && off < syms(l).length) return syms(l)(off)
      }
      throw new IllegalArgumentException("invalid VP8L prefix code")
    }
  }

  /** Encode-side canonical code: lengths from a depth-limited Huffman
    * build (frequency-halving retry when too deep — the classic
    * clamp), codes in the same (length, symbol) order as [[Huff]]. */
  private final case class Code(lengths: Array[Int], codes: Array[Int]) {
    def write(w: LsbWriter, sym: Int): Unit = {
      require(lengths(sym) > 0, s"symbol $sym has no code")
      if (lengths.count(_ > 0) > 1) w.writeCode(codes(sym), lengths(sym))
      // single-symbol code: zero bits on the wire
    }
  }

  private def buildLengths(freqIn: Array[Long], limit: Int): Array[Int] = {
    val n = freqIn.length
    var freq = freqIn.clone()
    var attempt = 0
    while (true) {
      val used = freq.indices.filter(freq(_) > 0)
      val lengths = new Array[Int](n)
      if (used.isEmpty) return lengths
      if (used.length == 1) { lengths(used.head) = 1; return lengths }
      // standard Huffman over (weight, node); parent depth propagated
      case class Node(w: Long, syms: List[Int])
      val pq = scala.collection.mutable.PriorityQueue.empty[Node](
        Ordering.by[Node, Long](_.w).reverse)
      used.foreach(s => pq.enqueue(Node(freq(s), List(s))))
      val depth = new Array[Int](n)
      while (pq.size > 1) {
        val a = pq.dequeue(); val b = pq.dequeue()
        (a.syms ++ b.syms).foreach(s => depth(s) += 1)
        pq.enqueue(Node(a.w + b.w, a.syms ++ b.syms))
      }
      if (depth.max <= limit) {
        used.foreach(s => lengths(s) = depth(s))
        return lengths
      }
      attempt += 1
      require(attempt < 32, "Huffman depth clamp did not converge")
      freq = freq.map(f => if (f > 0) (f + 1) / 2 else 0)
    }
    throw new IllegalStateException("unreachable")
  }

  private def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val codes = new Array[Int](lengths.length)
    var code = 0
    val maxLen = if (lengths.isEmpty) 0 else lengths.max
    for (l <- 1 to maxLen) {
      for (s <- lengths.indices if lengths(s) == l) { codes(s) = code; code += 1 }
      code <<= 1
    }
    codes
  }

  private def mkCode(freq: Array[Long], limit: Int = 15): Code = {
    val lengths = buildLengths(freq, limit)
    Code(lengths, canonicalCodes(lengths))
  }

  // ---------------------------------------------------------------
  // Shared tables
  // ---------------------------------------------------------------
  private val CodeLengthOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** The 120 near-pixel (dx, dy) offsets, derived from the spec's
    * ordering rule (see object Scaladoc); Vp8lCodecSpec pins the hex
    * anchors (dy<<4 | 8−dx): 0x18 0x07 0x17 0x19 0x28 …, entry 97 =
    * (8,0) = 0x00, tail (8,6)(8,7) = 0x60 0x70. */
  private[graft] val DistTable: Array[(Int, Int)] =
    (for (dy <- 0 to 7; dx <- -7 to 8
          if !(dy == 0 && dx <= 0)) yield (dx, dy))
      .sortBy { case (dx, dy) => (dx * dx + dy * dy, -dy, -dx) }
      .toArray

  private def planeCodeToDistance(w: Int, planeCode: Int): Int =
    if (planeCode > 120) planeCode - 120
    else {
      val (dx, dy) = DistTable(planeCode - 1)
      math.max(1, dy * w + dx)
    }

  /** distance → plane code (encoder side): near-pixel offsets map to
    * 1..120, everything else to distance + 120. */
  private def distanceToPlaneCode(w: Int, dist: Int): Int = {
    var i = 0
    while (i < 120) {
      val (dx, dy) = DistTable(i)
      if (dy * w + dx == dist && dy * w + dx >= 1) return i + 1
      i += 1
    }
    dist + 120
  }

  /** LZ77 length/distance prefix coding: code < 4 → value code+1;
    * else extra = (code−2)>>1, offset = (2 + (code&1)) << extra,
    * value = offset + extras + 1. */
  private def prefixDecode(code: Int, r: LsbReader): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + r.readBits(extra) + 1
    }

  /** value → (code, extraBits, extraVal). */
  private def prefixEncode(v: Int): (Int, Int, Int) = {
    require(v >= 1, s"prefix value $v")
    if (v <= 4) return (v - 1, 0, 0)
    var code = 4
    while (code < 64) {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      if (v >= offset + 1 && v <= offset + (1 << extra))
        return (code, extra, v - 1 - offset)
      code += 1
    }
    throw new IllegalArgumentException(s"prefix value $v out of range")
  }

  private def cacheHash(argb: Int, bits: Int): Int =
    (0x1e35a7bd * argb) >>> (32 - bits)

  // ARGB helpers
  private def a(p: Int) = (p >>> 24) & 0xFF
  private def rC(p: Int) = (p >>> 16) & 0xFF
  private def gC(p: Int) = (p >>> 8) & 0xFF
  private def bC(p: Int) = p & 0xFF
  private def argb(aa: Int, rr: Int, gg: Int, bb: Int): Int =
    ((aa & 0xFF) << 24) | ((rr & 0xFF) << 16) | ((gg & 0xFF) << 8) | (bb & 0xFF)

  private def subSample(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  def isVp8l(bytes: Array[Byte]): Boolean = vp8l(bytes).isDefined

  /** The VP8L payload's bounds: bare (0x2F signature) or inside a
    * RIFF/WEBP container (direct VP8L chunk or VP8X-extended file);
    * a lossy VP8 chunk returns None (the caller refuses loudly). */
  private def vp8l(b: Array[Byte]): Option[(Int, Int)] = {
    if (b == null || b.length < 5) return None
    if ((b(0) & 0xFF) == 0x2F) return Some((0, b.length))
    if (!(Containers.tag(b, 0, "RIFF") && Containers.tag(b, 8, "WEBP")))
      return None
    val c = Containers.riff(b, 12, b.length)
    if (c.find("VP8L") && !c.overrun) Some((c.start, c.end)) else None
  }

  // ---------------------------------------------------------------
  // DECODER
  // ---------------------------------------------------------------
  def decode(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val (w, h, px) = decodeArgb(bytes)
    val out = new Array[Float](w * h * 3)
    var i = 0
    while (i < w * h) {
      out(i * 3) = rC(px(i)).toFloat
      out(i * 3 + 1) = gC(px(i)).toFloat
      out(i * 3 + 2) = bC(px(i)).toFloat
      i += 1
    }
    (w, h, out)
  }

  def decodeArgb(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val (from, until) = vp8l(bytes).getOrElse {
      throw new IllegalArgumentException(
        if (bytes != null && bytes.length > 15 &&
            new String(bytes, 12, 4, "US-ASCII").startsWith("VP8"))
          "lossy VP8 needs a real codec library — only VP8L decodes here"
        else "not a VP8L / lossless WebP stream")
    }
    require((bytes(from) & 0xFF) == 0x2F, "bad VP8L signature")
    val r = new LsbReader(bytes, from, until)
    r.readBits(8) // signature
    val w = r.readBits(14) + 1
    val h = r.readBits(14) + 1
    r.readBits(1) // alpha hint
    require(r.readBits(3) == 0, "unknown VP8L version")
    require(w.toLong * h <= Multimodal.MaxPixels,
      s"VP8L $w x $h too large to decode dependency-free")
    val px = decodeImageStream(r, w, h, isLevel0 = true)
    (w, h, px)
  }

  /** One spatially- or entropy-coded image: transforms (level 0
    * only), color cache, prefix codes (meta groups at level 0 only),
    * then the LZ77/literal/cache pixel loop — the spec's
    * DecodeImageStream shape. */
  private def decodeImageStream(r: LsbReader, wIn: Int, h: Int,
                                isLevel0: Boolean): Array[Int] = {
    var w = wIn
    // --- transforms (spec: at most one of each of the four kinds) ---
    // each entry: (type, sizeBits, data) captured in READ order
    var transforms = List.empty[(Int, Int, Array[Int])]
    if (isLevel0) {
      var seen = Set.empty[Int]
      while (r.readBit() == 1) {
        val t = r.readBits(2)
        require(!seen(t), s"VP8L transform $t appears twice")
        seen += t
        t match {
          case 0 | 1 => // PREDICTOR / COLOR: block-granular sub-image
            val bits = r.readBits(3) + 2
            val sub = decodeImageStream(r, subSample(w, bits),
              subSample(h, bits), isLevel0 = false)
            transforms ::= ((t, bits, sub))
          case 2 => // SUBTRACT-GREEN: no data
            transforms ::= ((2, 0, Array.emptyIntArray))
          case 3 => // COLOR-INDEXING: delta-coded palette, then the
            // main image shrinks to the bundled width
            val nColors = r.readBits(8) + 1
            val raw = decodeImageStream(r, nColors, 1, isLevel0 = false)
            val pal = new Array[Int](nColors)
            var prev = 0
            for (i <- 0 until nColors) {
              // component-wise cumulative sum mod 256
              val d = raw(i)
              prev = argb(a(prev) + a(d), rC(prev) + rC(d),
                gC(prev) + gC(d), bC(prev) + bC(d))
              pal(i) = prev
            }
            val widthBits =
              if (nColors <= 2) 3 else if (nColors <= 4) 2
              else if (nColors <= 16) 1 else 0
            transforms ::= ((3, widthBits, pal))
            w = subSample(w, widthBits)
        }
      }
    }
    // --- color cache ---
    val cacheBits = if (r.readBit() == 1) {
      val cb = r.readBits(4)
      require(cb >= 1 && cb <= 11, s"color-cache bits $cb")
      cb
    } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    // --- prefix code groups (meta image at level 0 only) ---
    var metaBits = 0
    var metaImg: Array[Int] = null
    var metaW = 0
    if (isLevel0 && r.readBit() == 1) {
      metaBits = r.readBits(3) + 2
      metaW = subSample(w, metaBits)
      metaImg = decodeImageStream(r, metaW, subSample(h, metaBits),
        isLevel0 = false)
    }
    val nGroups =
      if (metaImg == null) 1
      else metaImg.map(p => (p >>> 8) & 0xFFFF).max + 1
    require(nGroups <= 1 + 65535, "meta group count")
    val greenSize = 256 + 24 + cacheSize
    val groups = Array.fill(nGroups) {
      val green = readPrefixCode(r, greenSize)
      val red = readPrefixCode(r, 256)
      val blue = readPrefixCode(r, 256)
      val alpha = readPrefixCode(r, 256)
      val dist = readPrefixCode(r, 40)
      (green, red, blue, alpha, dist)
    }
    // --- pixel loop ---
    val n = w * h
    require(n >= 1 && n <= Multimodal.MaxPixels, s"sub-image $w x $h")
    val px = new Array[Int](n)
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    def insert(p: Int): Unit =
      if (cache != null) cache(cacheHash(p, cacheBits)) = p
    var pos = 0
    while (pos < n) {
      val grp =
        if (metaImg == null) groups(0)
        else {
          val x = pos % w; val y = pos / w
          val idx = metaImg((y >> metaBits) * metaW + (x >> metaBits))
          val g = (idx >>> 8) & 0xFFFF
          require(g < nGroups, s"meta group $g out of range")
          groups(g)
        }
      val s = grp._1.read(r)
      if (s < 256) { // literal: green, then red/blue/alpha
        val red = grp._2.read(r)
        val blue = grp._3.read(r)
        val alpha = grp._4.read(r)
        val p = argb(alpha, red, s, blue)
        px(pos) = p; insert(p); pos += 1
      } else if (s < 256 + 24) { // backward reference
        val len = prefixDecode(s - 256, r)
        val distCode = prefixDecode(grp._5.read(r), r)
        val dist = planeCodeToDistance(w, distCode)
        require(dist >= 1 && dist <= pos,
          s"VP8L backref distance $dist at pixel $pos")
        require(pos + len <= n, s"VP8L backref overruns the image")
        var i = 0
        while (i < len) {
          val p = px(pos - dist)
          px(pos) = p; insert(p); pos += 1; i += 1
        }
      } else { // color-cache hit
        val idx = s - 256 - 24
        require(cache != null && idx < cacheSize, s"cache index $idx")
        px(pos) = cache(idx); pos += 1
      }
    }
    // --- inverse transforms, reverse read order (list head = last read) ---
    var img = px
    var iw = w
    transforms.foreach { case (t, bits, data) =>
      t match {
        case 3 =>
          val full = wIn
          img = inverseColorIndex(img, iw, h, full, bits, data)
          iw = full
        case 2 =>
          var i = 0
          while (i < img.length) {
            val p = img(i)
            img(i) = argb(a(p), rC(p) + gC(p), gC(p), bC(p) + gC(p))
            i += 1
          }
        case 1 => inverseColorTransform(img, iw, h, bits, data)
        case 0 => inversePredictor(img, iw, h, bits, data)
      }
    }
    img
  }

  private def readPrefixCode(r: LsbReader, alphabet: Int): Huff = {
    if (r.readBit() == 1) { // SIMPLE code: 1 or 2 symbols
      val nSym = r.readBits(1) + 1
      val s0 = if (r.readBit() == 1) r.readBits(8) else r.readBits(1)
      val lengths = new Array[Int](alphabet)
      require(s0 < alphabet, s"simple-code symbol $s0 >= $alphabet")
      if (nSym == 1) { lengths(s0) = 1; new Huff(lengths) }
      else {
        val s1 = r.readBits(8)
        require(s1 < alphabet && s1 != s0, s"simple-code symbol $s1")
        lengths(s0) = 1; lengths(s1) = 1
        new Huff(lengths, simple2 = Some((s0, s1)))
      }
    } else { // code-length-coded
      val numCodes = r.readBits(4) + 4
      require(numCodes <= 19, s"code-length count $numCodes")
      val clcl = new Array[Int](19)
      for (i <- 0 until numCodes) clcl(CodeLengthOrder(i)) = r.readBits(3)
      val clHuff = new Huff(clcl)
      val lengths = new Array[Int](alphabet)
      var maxSymbol =
        if (r.readBit() == 1) {
          val nbits = 2 + 2 * r.readBits(3)
          2 + r.readBits(nbits)
        } else alphabet
      var symbol = 0
      var prevLen = 8 // the spec's default
      while (symbol < alphabet && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clHuff.read(r)
        if (cl < 16) {
          lengths(symbol) = cl; symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (extraBits, offset, usePrev) = cl match {
            case 16 => (2, 3, true)
            case 17 => (3, 3, false)
            case 18 => (7, 11, false)
            case other =>
              throw new IllegalArgumentException(s"code-length code $other")
          }
          var repeat = r.readBits(extraBits) + offset
          require(symbol + repeat <= alphabet,
            "code-length repeat overruns the alphabet")
          val fill = if (usePrev) prevLen else 0
          while (repeat > 0) { lengths(symbol) = fill; symbol += 1; repeat -= 1 }
        }
      }
      new Huff(lengths)
    }
  }

  // --- inverse transforms ---

  private def avg2(p1: Int, p2: Int): Int =
    argb((a(p1) + a(p2)) / 2, (rC(p1) + rC(p2)) / 2,
         (gC(p1) + gC(p2)) / 2, (bC(p1) + bC(p2)) / 2)

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def select(l: Int, t: Int, tl: Int): Int = {
    val pa = a(l) + a(t) - a(tl); val pr = rC(l) + rC(t) - rC(tl)
    val pg = gC(l) + gC(t) - gC(tl); val pb = bC(l) + bC(t) - bC(tl)
    val pL = math.abs(pa - a(l)) + math.abs(pr - rC(l)) +
      math.abs(pg - gC(l)) + math.abs(pb - bC(l))
    val pT = math.abs(pa - a(t)) + math.abs(pr - rC(t)) +
      math.abs(pg - gC(t)) + math.abs(pb - bC(t))
    if (pL < pT) l else t
  }

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int =
    argb(clamp255(a(l) + a(t) - a(tl)), clamp255(rC(l) + rC(t) - rC(tl)),
         clamp255(gC(l) + gC(t) - gC(tl)), clamp255(bC(l) + bC(t) - bC(tl)))

  private def clampAddSubtractHalf(l: Int, t: Int, tl: Int): Int = {
    val av = avg2(l, t)
    def c(x: Int, b: Int) = clamp255(x + (x - b) / 2)
    argb(c(a(av), a(tl)), c(rC(av), rC(tl)), c(gC(av), gC(tl)),
         c(bC(av), bC(tl)))
  }

  /** pred for mode 0..13 with neighbors (L, T, TR, TL). */
  private def predict(mode: Int, l: Int, t: Int, tr: Int, tl: Int): Int =
    mode match {
      case 0 => 0xFF000000
      case 1 => l
      case 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => avg2(avg2(l, tr), t)
      case 6 => avg2(l, tl)
      case 7 => avg2(l, t)
      case 8 => avg2(tl, t)
      case 9 => avg2(t, tr)
      case 10 => avg2(avg2(l, tl), avg2(t, tr))
      case 11 => select(l, t, tl)
      case 12 => clampAddSubtractFull(l, t, tl)
      case 13 => clampAddSubtractHalf(l, t, tl)
      case other =>
        throw new IllegalArgumentException(s"VP8L predictor mode $other")
    }

  private def addPixels(p: Int, pred: Int): Int =
    argb(a(p) + a(pred), rC(p) + rC(pred), gC(p) + gC(pred),
         bC(p) + bC(pred))

  /** In-place predictor inversion; `modes` is the block-granular mode
    * image (green channel), `bits` the block size log2. Edge rules:
    * (0,0) uses black (mode 0's constant); row 0 uses LEFT, column 0
    * uses TOP; the last column's top-right wraps to the current row's
    * first pixel via the flat layout (the normative libwebp/spec
    * behavior). */
  private def inversePredictor(px: Array[Int], w: Int, h: Int, bits: Int,
                               modes: Array[Int]): Unit = {
    val mw = subSample(w, bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val pred =
          if (x == 0 && y == 0) 0xFF000000
          else if (y == 0) px(i - 1) // row 0: left
          else if (x == 0) px(i - w) // col 0: top
          else {
            val mode = gC(modes((y >> bits) * mw + (x >> bits)))
            // flat-layout top-right: for the last column this is the
            // CURRENT row's first pixel (already reconstructed)
            predict(mode, px(i - 1), px(i - w), px(i - w + 1), px(i - w - 1))
          }
        px(i) = addPixels(px(i), pred)
        x += 1
      }
      y += 1
    }
  }

  private def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  /** In-place color-transform inversion: multipliers per block from
    * the sub-image — green_to_red in BLUE, green_to_blue in GREEN,
    * red_to_blue in RED; blue's red delta uses the RECONSTRUCTED
    * red. */
  private def inverseColorTransform(px: Array[Int], w: Int, h: Int, bits: Int,
                                    mults: Array[Int]): Unit = {
    val mw = subSample(w, bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val m = mults((y >> bits) * mw + (x >> bits))
        val g2r = bC(m); val g2b = gC(m); val r2b = rC(m)
        val p = px(i)
        val green = gC(p)
        var red = rC(p) + ctDelta(g2r, green)
        red &= 0xFF
        var blue = bC(p) + ctDelta(g2b, green)
        blue += ctDelta(r2b, red)
        blue &= 0xFF
        px(i) = argb(a(p), red, green, blue)
        x += 1
      }
      y += 1
    }
  }

  /** Color-index inversion incl. sub-byte unbundling (indices pack
    * LSB-first within each green byte); out-of-range indices map to
    * transparent black, the interop behavior. */
  private def inverseColorIndex(px: Array[Int], packedW: Int, h: Int,
                                fullW: Int, widthBits: Int,
                                pal: Array[Int]): Array[Int] = {
    if (widthBits == 0) {
      val out = new Array[Int](packedW * h)
      var i = 0
      while (i < out.length) {
        val idx = gC(px(i))
        out(i) = if (idx < pal.length) pal(idx) else 0
        i += 1
      }
      out
    } else {
      val perByte = 1 << widthBits
      val bitsPer = 8 >> widthBits
      val mask = (1 << bitsPer) - 1
      val out = new Array[Int](fullW * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < fullW) {
          val packed = gC(px(y * packedW + x / perByte))
          val idx = (packed >> (bitsPer * (x % perByte))) & mask
          out(y * fullW + x) = if (idx < pal.length) pal(idx) else 0
          x += 1
        }
        y += 1
      }
      out
    }
  }

  // ---------------------------------------------------------------
  // FIXTURE ENCODER
  // ---------------------------------------------------------------
  /** Encoder options — each flag exists to pin a decoder branch.
    * `predictorMode` >= 0 applies the predictor transform with a
    * per-block mode of `(bx + by + predictorMode) % 14`;
    * `colorMults` applies the color transform with those
    * (g2r, g2b, r2b) multipliers everywhere; `paletteSize` > 0
    * palette-quantizes `pix` output through color indexing (callers
    * must feed pixels drawn FROM that palette); `metaGroups` = 2
    * splits the image into left/right prefix-code groups. */
  final case class Options(
      subtractGreen: Boolean = false,
      predictorMode: Int = -1,
      colorMults: Option[(Int, Int, Int)] = None,
      paletteSize: Int = 0,
      cacheBits: Int = 0,
      useLz77: Boolean = true,
      metaGroups: Int = 1,
      useRepeats: Boolean = true)

  def encode(w: Int, h: Int, pix: (Int, Int) => (Int, Int, Int),
             opts: Options = Options()): Array[Byte] = {
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384, s"dims $w x $h")
    require(opts.cacheBits >= 0 && opts.cacheBits <= 11, "cacheBits")
    require(opts.metaGroups == 1 || opts.metaGroups == 2, "metaGroups")
    var img = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pix(x, y)
      img(y * w + x) = argb(255, r, g, b)
    }
    val wr = new LsbWriter
    wr.writeBits(0x2F, 8)
    wr.writeBits(w - 1, 14)
    wr.writeBits(h - 1, 14)
    wr.writeBits(0, 1) // no alpha
    wr.writeBits(0, 3) // version
    // --- forward transforms, written in application order (the
    // decoder inverts in reverse read order) ---
    var curW = w
    if (opts.paletteSize > 0) {
      val pal = (0 until opts.paletteSize).map { i =>
        val (r, g, b) = pix(i, 0) // callers draw from row 0's colors
        argb(255, r, g, b)
      }.toArray.distinct
      val lookup = pal.zipWithIndex.toMap
      val widthBits =
        if (pal.length <= 2) 3 else if (pal.length <= 4) 2
        else if (pal.length <= 16) 1 else 0
      val perByte = if (widthBits == 0) 1 else 1 << widthBits
      val bitsPer = 8 >> widthBits
      val packedW = subSample(w, widthBits)
      val packed = new Array[Int](packedW * h)
      for (y <- 0 until h; x <- 0 until w) {
        val idx = lookup.getOrElse(img(y * w + x),
          throw new IllegalArgumentException(
            s"pixel at ($x,$y) not in the declared palette"))
        val slot = y * packedW + x / perByte
        val shifted = idx << (bitsPer * (x % perByte))
        packed(slot) = argb(255, 0, gC(packed(slot)) | shifted, 0)
      }
      wr.writeBits(1, 1); wr.writeBits(3, 2) // transform: COLOR_INDEXING
      wr.writeBits(pal.length - 1, 8)
      // delta-code the palette
      val deltas = new Array[Int](pal.length)
      var prev = 0
      for (i <- pal.indices) {
        deltas(i) = argb(a(pal(i)) - a(prev), rC(pal(i)) - rC(prev),
          gC(pal(i)) - gC(prev), bC(pal(i)) - bC(prev))
        prev = pal(i)
      }
      encodeImageStream(wr, deltas, pal.length, 1, opts.copy(
        paletteSize = 0, cacheBits = 0, metaGroups = 1, useLz77 = false))
      img = packed
      curW = packedW
    }
    if (opts.subtractGreen) {
      wr.writeBits(1, 1); wr.writeBits(2, 2)
      img = img.map(p =>
        argb(a(p), rC(p) - gC(p), gC(p), bC(p) - gC(p)))
    }
    opts.colorMults.foreach { case (g2r, g2b, r2b) =>
      wr.writeBits(1, 1); wr.writeBits(1, 2)
      val bits = 4 // 16-pixel blocks (any granularity works: constant)
      wr.writeBits(bits - 2, 3)
      val mw = subSample(curW, bits); val mh = subSample(h, bits)
      val mults = Array.fill(mw * mh)(argb(255, r2b, g2b, g2r))
      encodeImageStream(wr, mults, mw, mh, Options(useLz77 = false))
      img = img.map { p =>
        val green = gC(p)
        val red = rC(p) // original red feeds the blue delta
        val nr = (rC(p) - ctDelta(g2r, green)) & 0xFF
        val nb = (bC(p) - ctDelta(g2b, green) - ctDelta(r2b, red)) & 0xFF
        argb(a(p), nr, green, nb)
      }
    }
    if (opts.predictorMode >= 0) {
      wr.writeBits(1, 1); wr.writeBits(0, 2)
      val bits = 4
      wr.writeBits(bits - 2, 3)
      val mw = subSample(curW, bits); val mh = subSample(h, bits)
      val modes = Array.tabulate(mw * mh)(i =>
        argb(255, 0, (i % mw + i / mw + opts.predictorMode) % 14, 0))
      encodeImageStream(wr, modes, mw, mh, Options(useLz77 = false))
      val res = new Array[Int](img.length)
      for (y <- 0 until h; x <- 0 until curW) {
        val i = y * curW + x
        val pred =
          if (x == 0 && y == 0) 0xFF000000
          else if (y == 0) img(i - 1)
          else if (x == 0) img(i - curW)
          else {
            val mode = gC(modes((y >> bits) * mw + (x >> bits)))
            predict(mode, img(i - 1), img(i - curW), img(i - curW + 1),
              img(i - curW - 1))
          }
        res(i) = argb(a(img(i)) - a(pred), rC(img(i)) - rC(pred),
          gC(img(i)) - gC(pred), bC(img(i)) - bC(pred))
      }
      img = res
    }
    wr.writeBits(0, 1) // no more transforms
    encodeImageStream(wr, img, curW, h, opts.copy(paletteSize = 0,
      subtractGreen = false, predictorMode = -1, colorMults = None),
      isLevel0 = true)
    val payload = wr.bytes
    // RIFF/WEBP container
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String) = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int) = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    ascii("RIFF"); le32(4 + 8 + payload.length + (payload.length & 1))
    ascii("WEBP"); ascii("VP8L"); le32(payload.length)
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** Symbolize + entropy-code one image (no transforms here): the
    * literal/cache/LZ77 stream, per-group histograms, canonical
    * codes, and the wire form. */
  private def encodeImageStream(wr: LsbWriter, img: Array[Int], w: Int,
                                h: Int, opts: Options,
                                isLevel0: Boolean = false): Unit = {
    val n = w * h
    val cacheBits = opts.cacheBits
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    if (cacheBits > 0) { wr.writeBits(1, 1); wr.writeBits(cacheBits, 4) }
    else wr.writeBits(0, 1)
    // meta groups: 2 = split left/right halves at 8-pixel granularity
    // (level 0 only — sub-image streams carry no meta bit at all)
    val metaBits = 3
    val useMeta = isLevel0 && opts.metaGroups == 2 && w > 8
    val metaW = subSample(w, metaBits)
    def groupOf(pos: Int): Int =
      if (!useMeta) 0 else if ((pos % w) >> metaBits < metaW / 2) 0 else 1
    // --- pass 1: symbolize (shared by both passes so the cache state
    // the decoder sees is exactly what the histograms counted) ---
    sealed trait Sym
    case class Lit(g: Int, r: Int, b: Int, al: Int, grp: Int) extends Sym
    case class Ref(lenCode: Int, lenExtraB: Int, lenExtra: Int,
                   distCode: Int, distExtraB: Int, distExtra: Int,
                   grp: Int) extends Sym
    case class Hit(idx: Int, grp: Int) extends Sym
    val syms = scala.collection.mutable.ArrayBuffer.empty[Sym]
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    val cacheValid = if (cacheSize > 0) new Array[Boolean](cacheSize) else null
    def insert(p: Int): Unit = if (cache != null) {
      val hsh = cacheHash(p, cacheBits); cache(hsh) = p; cacheValid(hsh) = true
    }
    var pos = 0
    while (pos < n) {
      val grp = groupOf(pos)
      // greedy LZ77 over a few candidate distances (1, w, w±1): runs
      // and vertical repetition — enough to exercise both plane-coded
      // and raw distances
      var bestLen = 0; var bestDist = 0
      if (opts.useLz77) {
        for (dist <- Seq(1, 2, w - 1, w, w + 1, 8 * w + 9)
             if dist >= 1 && dist <= pos) {
          var len = 0
          val maxLen = math.min(4096, n - pos)
          while (len < maxLen && img(pos + len) == img(pos + len - dist))
            len += 1
          if (len > bestLen) { bestLen = len; bestDist = dist }
        }
      }
      if (bestLen >= 3) {
        val (lc, lb, lx) = prefixEncode(bestLen)
        val planeCode = distanceToPlaneCode(w, bestDist)
        val (dc, db, dx) = prefixEncode(planeCode)
        syms += Ref(lc, lb, lx, dc, db, dx, grp)
        var i = 0
        while (i < bestLen) { insert(img(pos)); pos += 1; i += 1 }
      } else {
        val p = img(pos)
        val hsh = if (cache != null) cacheHash(p, cacheBits) else -1
        if (cache != null && cacheValid(hsh) && cache(hsh) == p) {
          syms += Hit(hsh, grp)
          pos += 1
        } else {
          syms += Lit(gC(p), rC(p), bC(p), a(p), grp)
          insert(p); pos += 1
        }
      }
    }
    // --- histograms per group ---
    val nGroups = if (useMeta) 2 else 1
    val greenSize = 256 + 24 + cacheSize
    val hGreen = Array.fill(nGroups)(new Array[Long](greenSize))
    val hRed = Array.fill(nGroups)(new Array[Long](256))
    val hBlue = Array.fill(nGroups)(new Array[Long](256))
    val hAlpha = Array.fill(nGroups)(new Array[Long](256))
    val hDist = Array.fill(nGroups)(new Array[Long](40))
    syms.foreach {
      case Lit(g, r, b, al, grp) =>
        hGreen(grp)(g) += 1; hRed(grp)(r) += 1
        hBlue(grp)(b) += 1; hAlpha(grp)(al) += 1
      case Ref(lc, _, _, dc, _, _, grp) =>
        hGreen(grp)(256 + lc) += 1; hDist(grp)(dc) += 1
      case Hit(idx, grp) => hGreen(grp)(256 + 24 + idx) += 1
    }
    // every tree needs >= 1 used symbol even if its plane is unused
    for (g <- 0 until nGroups) {
      if (hRed(g).forall(_ == 0)) hRed(g)(0) = 1
      if (hBlue(g).forall(_ == 0)) hBlue(g)(0) = 1
      if (hAlpha(g).forall(_ == 0)) hAlpha(g)(0) = 1
      if (hDist(g).forall(_ == 0)) hDist(g)(0) = 1
      if (hGreen(g).forall(_ == 0)) hGreen(g)(0) = 1
    }
    // --- meta image + codes on the wire (the meta BIT itself exists
    // only at level 0 — decoders do not read it for sub-images) ---
    if (useMeta) {
      wr.writeBits(1, 1)
      wr.writeBits(metaBits - 2, 3)
      val mh = subSample(h, metaBits)
      val meta = Array.tabulate(metaW * mh)(i =>
        argb(255, 0, if (i % metaW < metaW / 2) 0 else 1, 0))
      encodeImageStream(wr, meta, metaW, mh, Options(useLz77 = false))
    } else if (isLevel0) wr.writeBits(0, 1)
    val codes = (0 until nGroups).map { g =>
      val cg = mkCode(hGreen(g)); val cr = mkCode(hRed(g))
      val cb = mkCode(hBlue(g)); val ca = mkCode(hAlpha(g))
      val cd = mkCode(hDist(g))
      Seq(cg, cr, cb, ca, cd).foreach(c =>
        writePrefixCode(wr, c, opts.useRepeats))
      (cg, cr, cb, ca, cd)
    }
    // --- emit symbols ---
    syms.foreach {
      case Lit(g, r, b, al, grp) =>
        val (cg, cr, cb, ca, _) = codes(grp)
        cg.write(wr, g); cr.write(wr, r); cb.write(wr, b); ca.write(wr, al)
      case Ref(lc, lb, lx, dc, db, dx, grp) =>
        val (cg, _, _, _, cd) = codes(grp)
        cg.write(wr, 256 + lc); wr.writeBits(lx, lb)
        cd.write(wr, dc); wr.writeBits(dx, db)
      case Hit(idx, grp) =>
        codes(grp)._1.write(wr, 256 + 24 + idx)
    }
  }

  /** Wire form of one prefix code: SIMPLE when <= 2 symbols are used,
    * else the code-length code (optionally with 16/17/18 repeats). */
  private def writePrefixCode(wr: LsbWriter, code: Code,
                              useRepeats: Boolean): Unit = {
    val used = code.lengths.indices.filter(code.lengths(_) > 0)
    if (used.length <= 2 && used.forall(_ < 256)) {
      wr.writeBits(1, 1) // simple
      wr.writeBits(used.length - 1, 1)
      wr.writeBits(1, 1) // first symbol in 8 bits
      wr.writeBits(used.head, 8)
      if (used.length == 2) wr.writeBits(used(1), 8)
      return
    }
    wr.writeBits(0, 1)
    // code-length symbol stream (with optional repeats)
    val cls = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    // (symbol, extraBits, extraVal)
    var i = 0
    var prevNonZero = 8
    val L = code.lengths
    while (i < L.length) {
      val v = L(i)
      var run = 1
      while (i + run < L.length && L(i + run) == v) run += 1
      if (useRepeats && v == 0 && run >= 3) {
        var left = run
        while (left >= 3) {
          if (left >= 11) {
            val take = math.min(left, 138)
            cls += ((18, 7, take - 11)); left -= take
          } else {
            val take = math.min(left, 10)
            cls += ((17, 3, take - 3)); left -= take
          }
        }
        while (left > 0) { cls += ((0, 0, 0)); left -= 1 }
        i += run
      } else if (useRepeats && v != 0 && v == prevNonZero && run >= 3) {
        var left = run
        while (left >= 3) {
          val take = math.min(left, 6)
          cls += ((16, 2, take - 3)); left -= take
        }
        while (left > 0) { cls += ((v, 0, 0)); left -= 1 }
        i += run
      } else {
        // one literal; the loop re-scans from i+1, so the tail of a
        // fresh nonzero run still compresses via code 16 (prev == v now)
        cls += ((v, 0, 0))
        if (v != 0) prevNonZero = v
        i += 1
      }
    }
    // code-length-code over the 19 symbols
    val clFreq = new Array[Long](19)
    cls.foreach { case (s, _, _) => clFreq(s) += 1 }
    val clCode = mkCode(clFreq, limit = 7)
    wr.writeBits(19 - 4, 4) // write all 19 slots
    for (k <- 0 until 19) wr.writeBits(clCode.lengths(CodeLengthOrder(k)), 3)
    wr.writeBits(0, 1) // no max-symbol field
    cls.foreach { case (s, eb, ev) =>
      clCode.write(wr, s)
      if (eb > 0) wr.writeBits(ev, eb)
    }
  }
}
