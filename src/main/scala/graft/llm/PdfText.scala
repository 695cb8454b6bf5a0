package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.ByteCodecs

/** PDF text extraction — after HTML, the largest text source in real
  * crawl-derived training pipelines ([[HtmlText]]'s sibling for
  * `application/pdf` responses).
  *
  * Honest dependency-free subset (PDF 32000-1):
  *   - classic `xref` tables with `/Prev` chains (§7.5.4), PDF 1.5+
  *     cross-reference STREAMS (/W widths, /Index ranges, type-2
  *     entries) and /Type/ObjStm object streams — what modern
  *     writers actually emit — plus hybrid /XRefStm files; trailer
  *     `/Root` → page-tree walk with inherited `/Resources`
  *   - stream filter CHAINS (§7.4): `/FlateDecode` and `/LZWDecode`
  *     (with `/EarlyChange`) through the [[graft.util.ByteCodecs]]
  *     kernels the PNG/TIFF codecs share, `/ASCIIHexDecode`,
  *     `/ASCII85Decode`, `/RunLengthDecode` — each expansion-capped,
  *     each stage with its own /DecodeParms PNG row predictor
  *     (Predictor 10-15) undo, which xref streams routinely carry
  *   - content-stream text operators: `BT/ET`, `Tf`, `Td`, `TD`,
  *     `T-star`, `Tm` (line moves), `Tj/'/"/TJ` (shows; TJ kern
  *     adjustments ≤ -100 units surface as a word space), and `Do`
  *     over `/Subtype /Form` XObjects — the letterhead/stamp layout
  *     executes recursively at its invocation point (depth-capped),
  *     with the Form's own resources falling back PER NAME to the
  *     caller's (a partial /Font dict doesn't orphan page-level
  *     names); Image XObjects are not text and skip
  *   - literal strings with all escapes (octal, line continuation)
  *     and hex strings; simple-font bytes decode through the font's
  *     encoding: WinAnsiEncoding, MacRomanEncoding, StandardEncoding
  *     (Appendix D tables) and `/Differences` over a glyph-name
  *     map — unknown glyph names decode as U+FFFD (extraction is
  *     loss-tolerant at glyph granularity)
  *   - composite `/Type0` (CID) fonts under `/Identity-H` with a
  *     `/ToUnicode` CMap (bfchar + bfrange, string and array forms) —
  *     the layout Word/LaTeX-Unicode/CJK writers actually emit;
  *     2-byte codes map to UTF-16 targets including surrogate pairs
  *   - REFUSES loudly (the VP8 pattern — never silently wrong):
  *     encryption (`/Encrypt`), image/unimplementable filters
  *     (DCTDecode, JBIG2, CCITT-in-content), the TIFF predictor,
  *     and Type0 without /ToUnicode or under a named CMap
  *
  * Deterministic line contract (so SQL oracles can replay the
  * extraction symbolically): every line-move operator appends one
  * `\n` iff the page buffer is non-empty and does not already end
  * with `\n`; pages join with `\n\n`.
  *
  * Scale shape: [[extract]] is a narrow per-row map (bytes in, text
  * out) — at crawl scale it runs inside the same task as the WARC
  * record walk, exactly like the image codecs.
  */
object PdfText {

  private val MaxInflate = 256L << 20 // per-stream decode cap
  private val MaxObjects = 10000000 // xref entry cap
  private val MaxPages = 100000
  private val MaxDepth = 64 // value-nesting / page-tree recursion cap
  // A depth cap alone does NOT bound Form-XObject work: 40 forms
  // each invoking the next TWICE stay at depth 40 while running
  // 2^40 times — an exponential CPU/OOM primitive in a few-KB file.
  // Work and output are budgeted per DOCUMENT; generous for any
  // real layout (a letterhead on every page of a MaxPages doc is
  // 100k invocations).
  private val MaxDoInvocations = 200000
  private val MaxTextChars = 64 << 20 // extracted-text growth cap

  // ------------------------------------------------------------- model

  private case class PName(s: String)
  private case class PRef(num: Int, gen: Int)
  private case object PNull
  private case class PStream(dict: Map[String, Any], raw: Array[Byte])

  /** A font's show-string decoder: bytes → text appended to `sb`. */
  private sealed trait Font {
    def show(bytes: Array[Byte], sb: java.lang.StringBuilder): Unit
  }

  /** Simple (1-byte-code) font over a 256-entry code→char table. */
  private final class SimpleFont(table: Array[Char]) extends Font {
    def show(bytes: Array[Byte], sb: java.lang.StringBuilder): Unit =
      bytes.foreach(x => sb.append(table(x & 0xFF)))
  }

  private lazy val StandardFont: Font = new SimpleFont(Encodings.standard)

  /** Composite `/Type0` font under `/Identity-H`: show strings carry
    * 2-byte big-endian codes, each mapped through the /ToUnicode
    * CMap (a code may map to SEVERAL chars — ligature expansions,
    * astral targets as surrogate pairs). Unmapped codes and an odd
    * trailing byte decode as U+FFFD — extraction stays loss-tolerant
    * at glyph granularity, exactly like unknown /Differences names. */
  private final class Type0Font(cmap: Map[Int, String]) extends Font {
    def show(bytes: Array[Byte], sb: java.lang.StringBuilder): Unit = {
      var i = 0
      while (i + 1 < bytes.length) {
        val code = ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
        sb.append(cmap.getOrElse(code, "�"))
        i += 2
      }
      if (i < bytes.length) sb.append('�')
    }
  }

  /** /ToUnicode CMap parser (Adobe CMap syntax — the same
    * content-stream token grammar the [[Lexer]] already speaks):
    * `beginbfchar` pairs of <src> <dst> hex strings, `beginbfrange`
    * triples of <lo> <hi> and either a <dst> start (last UTF-16 code
    * unit increments across the range, per §9.10.3) or an array of
    * one <dst> per code. Destination strings are UTF-16BE. CMap
    * header operators (codespace ranges, findresource, def) flow
    * through untouched. */
  private[graft] def parseToUnicode(data: Array[Byte]): Map[Int, String] = {
    val lx = new Lexer(data, 0)
    val m = Map.newBuilder[Int, String]
    var count = 0
    def bump(): Unit = {
      count += 1
      require(count <= 65536, "PDF /ToUnicode CMap exceeds 65536 mappings")
    }
    def codeOf(t: Any): Int = t match {
      case b: Array[Byte] if b.length >= 1 && b.length <= 2 =>
        b.foldLeft(0)((a, x) => (a << 8) | (x & 0xFF))
      case other => throw new IllegalArgumentException(
        s"PDF /ToUnicode source code $other (1- or 2-byte hex expected)")
    }
    def utf16(t: Any): String = t match {
      case b: Array[Byte] =>
        new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
      case other => throw new IllegalArgumentException(
        s"PDF /ToUnicode destination $other (hex string expected)")
    }
    var tok = lx.tokenOrNull()
    while (tok != null) {
      tok match {
        case "beginbfchar" =>
          var t = lx.token()
          while (t != "endbfchar") {
            m += codeOf(t) -> utf16(lx.token())
            bump()
            t = lx.token()
          }
        case "beginbfrange" =>
          var t = lx.token()
          while (t != "endbfrange") {
            val lo = codeOf(t)
            val hi = codeOf(lx.token())
            require(hi >= lo && hi - lo < 65536,
              s"PDF /ToUnicode bfrange $lo..$hi")
            lx.token() match {
              case "[" => // one destination string per code
                var c = lo
                var e = lx.token()
                while (e != "]") {
                  require(c <= hi, "PDF /ToUnicode bfrange array overrun")
                  m += c -> utf16(e)
                  bump()
                  c += 1
                  e = lx.token()
                }
                require(c == hi + 1,
                  "PDF /ToUnicode bfrange array length mismatch")
              case dst => // start string; last code unit increments
                val base = utf16(dst)
                require(base.nonEmpty, "PDF /ToUnicode empty bfrange dst")
                var k = 0
                while (k <= hi - lo) {
                  m += (lo + k) -> (base.substring(0, base.length - 1) +
                    (base.charAt(base.length - 1) + k).toChar)
                  bump()
                  k += 1
                }
            }
            t = lx.token()
          }
        case _ => // CMap header/footer operators: not mappings
      }
      tok = lx.tokenOrNull()
    }
    m.result()
  }

  def isPdf(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-'

  /** All pages' text, joined with a blank line. */
  def extractText(pdf: Array[Byte]): String = pages(pdf).mkString("\n\n")

  /** Per-page extracted text. */
  def pages(pdf: Array[Byte]): Seq[String] = {
    require(isPdf(pdf), "not a PDF (missing %PDF- header)")
    val doc = new Doc(pdf)
    doc.pageObjects().map(p => doc.pageText(p))
  }

  /** Document-information dictionary (/Info) — the metadata a
    * curation pipeline filters and dedups on (Title, Author,
    * Subject, Keywords, Creator, Producer, CreationDate, ModDate;
    * only string-valued entries surface). Text strings decode per
    * §7.9.2.2: UTF-16BE when the bytes open with the FE FF BOM, else
    * PDFDocEncoding — whose printable-ASCII range this maps 1:1 and
    * whose high half decodes as U+FFFD (the table is CLOSE to
    * WinAnsi but not identical, and a plausibly-wrong table is worse
    * than a loud replacement char — the /Differences policy). */
  def info(pdf: Array[Byte]): Map[String, String] = {
    require(isPdf(pdf), "not a PDF (missing %PDF- header)")
    new Doc(pdf).infoStrings()
  }

  private[graft] def decodeTextString(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF)
      new String(b, 2, b.length - 2,
        java.nio.charset.StandardCharsets.UTF_16BE)
    else if (b.length >= 3 && (b(0) & 0xFF) == 0xEF &&
        (b(1) & 0xFF) == 0xBB && (b(2) & 0xFF) == 0xBF)
      // PDF 2.0 §7.9.2.2 also admits UTF-8 text strings behind the
      // EF BB BF BOM — modern writers emit them; without this branch
      // their /Info entries decode as FFFD-laced PDFDocEncoding
      new String(b, 3, b.length - 3,
        java.nio.charset.StandardCharsets.UTF_8)
    else {
      val sb = new java.lang.StringBuilder(b.length)
      b.foreach { x =>
        val c = x & 0xFF
        if ((c >= 0x20 && c <= 0x7E) || c == '\n' || c == '\r' || c == '\t')
          sb.append(c.toChar)
        else sb.append('�')
      }
      sb.toString
    }

  /** (id, title, author, subject, producer) — narrow per-row
    * metadata extraction; missing entries are null.
    *
    * Failure contract: FAIL-FAST per partition — one corrupt or
    * non-PDF blob throws and fails the job (same contract as
    * [[extract]] and the DocxText/PptxText/EpubText siblings).
    * Callers batching untrusted crawl bytes should wrap rows in
    * their own `Try`, exactly as
    * [[graft.streaming.StreamingWarcIntake.extractBatch]] does —
    * the per-document failure domain lives at the intake layer,
    * where drop-vs-fail policy belongs. */
  def extractInfo(df: DataFrame, idCol: String,
                  bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val m = info(bytes)
        (id, m.get("Title").orNull, m.get("Author").orNull,
          m.get("Subject").orNull, m.get("Producer").orNull)
      })
      .toDF("id", "title", "author", "subject", "producer")
  }

  /** (id, n_pages, text) — narrow per-row extraction. */
  def extract(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val ps = pages(bytes)
        (id, ps.length, ps.mkString("\n\n"))
      })
      .toDF("id", "n_pages", "text")
  }

  // ------------------------------------------------------------ document

  private final class Doc(b: Array[Byte]) {
    private val cache = scala.collection.mutable.Map[Int, Any]()
    private val (offsets, trailer) = readXrefChain()

    require(!trailer.contains("Encrypt"),
      "encrypted PDF unsupported (refusing, not mis-decoding)")

    /** Resolve indirect references (possibly chained) to a value. */
    def resolve(v: Any, depth: Int = 0): Any = {
      require(depth < MaxDepth, "PDF reference chain too deep")
      v match {
        case PRef(num, _) => resolve(obj(num), depth + 1)
        case other => other
      }
    }

    private val inProgress = scala.collection.mutable.Set[Int]()

    // explicit two-step (not getOrElseUpdate): parsing may recurse
    // into OTHER objects (indirect /Length), and reentrant updates
    // inside getOrElseUpdate's default are not safe on a HashMap.
    // The inProgress set turns a reference CYCLE reached during that
    // recursion (object A's /Length pointing back at A) into a loud
    // IllegalArgumentException instead of a StackOverflowError — SOE
    // is fatal and would escape the per-document Try in streaming
    // callers, killing the whole query on one crafted PDF.
    private def obj(num: Int): Any = cache.get(num) match {
      case Some(v) => v
      case None =>
        require(inProgress.add(num),
          s"PDF object $num participates in a reference cycle")
        try {
          val v = parseObjAt(num)
          cache(num) = v
          v
        } finally inProgress.remove(num)
    }

    private def parseObjAt(num: Int): Any =
      offsets.getOrElse(num,
        throw new IllegalArgumentException(s"PDF object $num not in xref")
      ) match {
        case Left(-1L) => PNull // freed (type-0/'f') object: null per spec
        case Left(off) => parseObjAtOffset(num, off)
        case Right((stmNum, _)) => objFromStream(num, stmNum)
      }

    private def parseObjAtOffset(num: Int, off: Long): Any = {
      val lx = new Lexer(b, off.toInt)
      val n1 = lx.token()
      val n2 = lx.token()
      val kw = lx.token()
      require(n1 == java.lang.Long.valueOf(num.toLong) && kw == "obj" &&
        n2.isInstanceOf[java.lang.Long],
        s"PDF object $num: malformed header at $off")
      val value = lx.value(0)
      lx.skipWs()
      if (lx.peekKeyword("stream")) {
        val dict = value.asInstanceOf[Map[String, Any]]
        val len = resolve(dict.getOrElse("Length",
          throw new IllegalArgumentException(
            s"PDF object $num stream lacks /Length")))
          .asInstanceOf[java.lang.Long].toInt
        val raw = lx.streamBytes(len)
        PStream(dict, raw)
      } else value
    }

    /** Decoded stream payload — the filter CHAIN applied left to
      * right (§7.4: `/Filter` may be a name or an array), each stage
      * followed by its own /DecodeParms predictor undo. Supported:
      * FlateDecode, LZWDecode (with /EarlyChange), ASCIIHexDecode,
      * ASCII85Decode, RunLengthDecode; PNG row predictors
      * (Predictor ≥ 10 — what xref streams routinely carry). Refuses
      * loudly on anything else (DCTDecode/JBIG2/CCITT-in-content,
      * the TIFF predictor 2). */
    def decodedStream(s: PStream): Array[Byte] = {
      val filters: Vector[String] =
        resolve(s.dict.getOrElse("Filter", PNull)) match {
          case PNull => Vector.empty
          case PName(n) => Vector(n)
          case v: Vector[Any] @unchecked => v.map(resolve(_) match {
            case PName(n) => n
            case other => throw new IllegalArgumentException(
              s"PDF /Filter array element $other")
          })
          case other =>
            throw new IllegalArgumentException(s"PDF /Filter $other")
        }
      // /DecodeParms aligns with the filter array positionally; a
      // single dict belongs to a single filter
      val parmsRaw = resolve(s.dict.getOrElse("DecodeParms",
        s.dict.getOrElse("DP", PNull)))
      def parmsFor(i: Int): Map[String, Any] = parmsRaw match {
        case m: Map[String, Any] @unchecked => if (i == 0) m else Map.empty
        case v: Vector[Any] @unchecked if i < v.length =>
          resolve(v(i)) match {
            case m: Map[String, Any] @unchecked => m
            case _ => Map.empty
          }
        case _ => Map.empty
      }
      def intParm(parms: Map[String, Any], key: String, default: Long): Int =
        resolve(parms.getOrElse(key, java.lang.Long.valueOf(default)))
          .asInstanceOf[java.lang.Long].toInt
      def undoPredictor(data: Array[Byte],
                        parms: Map[String, Any]): Array[Byte] = {
        val predictor = intParm(parms, "Predictor", 1L)
        if (predictor <= 1) data
        else if (predictor >= 10)
          pngPredictorUndo(data, intParm(parms, "Columns", 1L),
            intParm(parms, "Colors", 1L),
            intParm(parms, "BitsPerComponent", 8L))
        else throw new IllegalArgumentException(
          s"PDF /Predictor $predictor unsupported (none or PNG)")
      }
      if (filters.isEmpty) undoPredictor(s.raw, parmsFor(0))
      else filters.zipWithIndex.foldLeft(s.raw) { case (data, (name, i)) =>
        val parms = parmsFor(i)
        val decoded = name match {
          case "FlateDecode" | "Fl" =>
            capped(ByteCodecs.inflate(data, 0, data.length, nowrap = false,
              maxOut = MaxInflate.toInt + 1), "Flate")
          case "LZWDecode" | "LZW" =>
            capped(ByteCodecs.lzwDecode(data, 0, data.length,
              intParm(parms, "EarlyChange", 1L), MaxInflate.toInt + 1), "LZW")
          case "ASCIIHexDecode" | "AHx" => asciiHexDecode(data)
          case "ASCII85Decode" | "A85" => ascii85Decode(data)
          case "RunLengthDecode" | "RL" => runLengthDecode(data)
          case other => throw new IllegalArgumentException(
            s"PDF stream filter /$other unsupported " +
              "(Flate/LZW/ASCIIHex/ASCII85/RunLength only)")
        }
        undoPredictor(decoded, parms)
      }
    }

    /** PNG row filters (each row: filter byte + data), undone by the
      * PNG codec's own [[ByteCodecs.unfilter]]; this keeps only the
      * /DecodeParms geometry checks and strips the filter bytes. */
    private def pngPredictorUndo(data: Array[Byte], columns: Int,
                                 colors: Int, bpc: Int): Array[Byte] = {
      require(columns > 0 && colors > 0 && bpc > 0 &&
        columns.toLong * colors * bpc <= (1L << 30), "predictor geometry")
      val rowBytes = (columns.toLong * colors * bpc + 7).toInt / 8
      val bpp = math.max(1, colors * bpc / 8)
      val rows = data.length / (rowBytes + 1)
      require(rows.toLong * (rowBytes + 1) == data.length,
        s"PNG-predicted stream length ${data.length} not a multiple of " +
          s"row ${rowBytes + 1}")
      val d = data.clone() // `data` may be the object's cached raw bytes
      ByteCodecs.unfilter(d, 0, rows, rowBytes, bpp)
      val out = new Array[Byte](rows * rowBytes)
      var r = 0
      while (r < rows) {
        System.arraycopy(d, r * (rowBytes + 1) + 1, out, r * rowBytes,
          rowBytes)
        r += 1
      }
      out
    }

    /** String-valued /Info entries, decoded per §7.9.2.2. */
    def infoStrings(): Map[String, String] =
      resolve(trailer.getOrElse("Info", PNull)) match {
        case m: Map[String, Any] @unchecked =>
          m.flatMap { case (k, v) =>
            resolve(v) match {
              case b: Array[Byte] => Some(k -> decodeTextString(b))
              case _ => None // non-string entries: not metadata text
            }
          }
        case _ => Map.empty
      }

    /** Leaf /Page objects in document order, resources inherited. */
    def pageObjects(): Seq[Map[String, Any]] = {
      val root = resolve(trailer.getOrElse("Root",
        throw new IllegalArgumentException("PDF trailer lacks /Root")))
        .asInstanceOf[Map[String, Any]]
      val top = resolve(root.getOrElse("Pages",
        throw new IllegalArgumentException("PDF catalog lacks /Pages")))
        .asInstanceOf[Map[String, Any]]
      val out = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
      def walk(node: Map[String, Any], inherited: Map[String, Any],
               depth: Int): Unit = {
        require(depth < MaxDepth, "PDF page tree too deep")
        require(out.size <= MaxPages, s"PDF page count exceeds $MaxPages")
        val res = node.get("Resources").map(resolve(_)).orElse(
          inherited.get("Resources")) match {
          case Some(r) => Map[String, Any]("Resources" -> r)
          case None => Map.empty[String, Any]
        }
        resolve(node.getOrElse("Type", PNull)) match {
          case PName("Pages") =>
            val kids = resolve(node.getOrElse("Kids", Vector.empty))
              .asInstanceOf[Vector[Any]]
            kids.foreach { k =>
              walk(resolve(k).asInstanceOf[Map[String, Any]], res, depth + 1)
            }
          case PName("Page") => out += (node ++ res)
          case other =>
            throw new IllegalArgumentException(
              s"PDF page tree node of type $other")
        }
      }
      walk(top, Map.empty, 0)
      out.toSeq
    }

    /** One resource dictionary's decoded lookups: the fonts and the
      * XObjects content streams can name. */
    private case class PageRes(fonts: Map[String, Font],
                               xobjects: Map[String, PStream])

    private def resourcesOf(res: Any): PageRes = resolve(res) match {
      case m: Map[String, Any] @unchecked =>
        val fonts = resolve(m.getOrElse("Font", PNull)) match {
          case fm: Map[String, Any] @unchecked =>
            fm.map { case (name, fref) =>
              name -> fontOf(resolve(fref).asInstanceOf[Map[String, Any]])
            }
          case _ => Map.empty[String, Font]
        }
        val xs = resolve(m.getOrElse("XObject", PNull)) match {
          case xm: Map[String, Any] @unchecked =>
            xm.flatMap { case (name, xref) =>
              resolve(xref) match {
                case s: PStream => Some(name -> s)
                case _ => None
              }
            }
          case _ => Map.empty[String, PStream]
        }
        PageRes(fonts, xs)
      case _ => PageRes(Map.empty, Map.empty)
    }

    /** Text of one page: fonts + XObjects from /Resources, content
      * streams concatenated, interpreted. */
    def pageText(page: Map[String, Any]): String = {
      val res = resourcesOf(page.getOrElse("Resources", PNull))
      val content = resolve(page.getOrElse("Contents", PNull)) match {
        case PNull => Array.emptyByteArray
        case s: PStream => decodedStream(s)
        case v: Vector[Any] @unchecked =>
          v.flatMap(c => resolve(c) match {
            case s: PStream => decodedStream(s) :+ '\n'.toByte
            case other => throw new IllegalArgumentException(
              s"PDF /Contents element $other")
          }).toArray
        case other =>
          throw new IllegalArgumentException(s"PDF /Contents $other")
      }
      interpret(content, res)
    }

    /** Decoder for one font object. Simple fonts map bytes through a
      * 256-entry code→char table; composite `/Type0` fonts are
      * honest for the layout modern writers (Word, LaTeX with
      * Unicode, anything CJK) actually emit — `/Identity-H` 2-byte
      * codes mapped through the font's own `/ToUnicode` CMap — and
      * refuse everything else (a named CMap would need the external
      * Adobe CMap files; no /ToUnicode means the text is
      * unrecoverable glyph indices). */
    private def fontOf(font: Map[String, Any]): Font = {
      resolve(font.getOrElse("Subtype", PNull)) match {
        case PName("Type0") =>
          resolve(font.getOrElse("Encoding", PNull)) match {
            case PName("Identity-H") =>
            case other => throw new IllegalArgumentException(
              s"PDF Type0 /Encoding $other unsupported (Identity-H only)")
          }
          return resolve(font.getOrElse("ToUnicode", PNull)) match {
            case s: PStream => new Type0Font(parseToUnicode(decodedStream(s)))
            case _ => throw new IllegalArgumentException(
              "PDF Type0 font lacks /ToUnicode (codes would be " +
                "unrecoverable glyph indices — refusing, not mis-decoding)")
          }
        case _ =>
      }
      val table = resolve(font.getOrElse("Encoding", PNull)) match {
        case PNull => Encodings.standard
        case PName("WinAnsiEncoding") => Encodings.winAnsi
        case PName("StandardEncoding") => Encodings.standard
        case PName("MacRomanEncoding") => Encodings.macRoman
        case m: Map[String, Any] @unchecked =>
          val base = resolve(m.getOrElse("BaseEncoding", PNull)) match {
            case PName("WinAnsiEncoding") => Encodings.winAnsi
            case PName("MacRomanEncoding") => Encodings.macRoman
            case PName("StandardEncoding") | PNull => Encodings.standard
            case other => throw new IllegalArgumentException(
              s"PDF /BaseEncoding $other unsupported")
          }
          val t = base.clone()
          resolve(m.getOrElse("Differences", Vector.empty)) match {
            case diffs: Vector[Any] @unchecked =>
              var code = 0
              diffs.foreach {
                case n: java.lang.Long => code = n.toInt
                case PName(glyph) =>
                  if (code >= 0 && code < 256) {
                    t(code) =
                      Encodings.glyphs.getOrElse(glyph, '�')
                    code += 1
                  }
                case other => throw new IllegalArgumentException(
                  s"PDF /Differences element $other")
              }
            case other => throw new IllegalArgumentException(
              s"PDF /Differences $other")
          }
          t
        case other =>
          throw new IllegalArgumentException(s"PDF /Encoding $other")
      }
      new SimpleFont(table)
    }

    /** The content-stream text machine. Form XObjects (`Do`) execute
      * recursively into the SAME buffer at their invocation point —
      * letterheads, stamps, and whole-page-in-a-Form layouts stop
      * losing their text silently. Per §8.10.2 a form runs under the
      * graphics state at `Do` (the caller's current font carries in;
      * the form's own state changes don't leak back out). */
    private def interpret(content: Array[Byte], res: PageRes): String = {
      val sb = new java.lang.StringBuilder()
      run(content, res, sb, 0, StandardFont)
      // drop the trailing line-move newline, if any
      while (sb.length > 0 && sb.charAt(sb.length - 1) == '\n')
        sb.setLength(sb.length - 1)
      sb.toString
    }

    // per-DOCUMENT budgets: see MaxDoInvocations
    private var doInvocations = 0
    // a letterhead Form re-invoked per page must not re-inflate its
    // stream per page; identity-keyed because the object cache
    // already dedups PStream instances by object number. Cumulative
    // size cap: past it, decode correctness keeps, caching stops.
    private val formCache =
      new java.util.IdentityHashMap[PStream, Array[Byte]]()
    private var formCacheBytes = 0L
    private def decodedForm(s: PStream): Array[Byte] = {
      val hit = formCache.get(s)
      if (hit != null) hit
      else {
        val d = decodedStream(s)
        if (formCacheBytes + d.length <= MaxInflate) {
          formCache.put(s, d)
          formCacheBytes += d.length
        }
        d
      }
    }

    private def run(content: Array[Byte], res: PageRes,
                    sb: java.lang.StringBuilder, depth: Int,
                    initFont: Font): Unit = {
      require(depth < MaxDepth, "PDF Form XObject nesting too deep")
      val fonts = res.fonts
      var enc: Font = initFont
      val stack = scala.collection.mutable.ArrayBuffer[Any]()
      def newline(): Unit =
        if (sb.length > 0 && sb.charAt(sb.length - 1) != '\n')
          sb.append('\n')
      def show(bytes: Array[Byte]): Unit = enc.show(bytes, sb)
      val lx = new Lexer(content, 0)
      var tok = lx.tokenOrNull()
      while (tok != null) {
        tok match {
          case "[" => // array operand (TJ): collect until the ]
            val arr = Vector.newBuilder[Any]
            var t = lx.token()
            while (t != "]") { arr += t; t = lx.token() }
            stack += arr.result()
          case "<<" => // dict operand (BDC/DP properties): skip it
            var d = 1
            while (d > 0) {
              val t = lx.token()
              if (t == "<<") d += 1
              if (t == ">>") d -= 1
            }
            stack += PNull
          case "BI" => // inline image: binary data — skip to EI
            lx.skipInlineImage()
            stack.clear()
          case op: String => // operator
            op match {
              case "Tf" =>
                if (stack.size >= 2) stack(stack.size - 2) match {
                  case PName(f) => fonts.get(f).foreach(t => enc = t)
                  case _ =>
                }
              case "Td" | "TD" =>
                if (stack.size >= 2) stack.last match {
                  case ty: java.lang.Long if ty.longValue != 0L => newline()
                  case ty: java.lang.Double if ty.doubleValue != 0.0 =>
                    newline()
                  case _ =>
                }
              case "T*" | "Tm" => newline()
              case "Tj" => stack.lastOption.collect {
                  case s: Array[Byte] => show(s)
                }
              case "'" =>
                newline()
                stack.lastOption.collect { case s: Array[Byte] => show(s) }
              case "\"" =>
                newline()
                stack.lastOption.collect { case s: Array[Byte] => show(s) }
              case "TJ" => stack.lastOption.collect {
                  case arr: Vector[Any] @unchecked => arr.foreach {
                    case s: Array[Byte] => show(s)
                    case n: java.lang.Long if n.longValue <= -100 =>
                      if (sb.length > 0 && sb.charAt(sb.length - 1) != ' ' &&
                          sb.charAt(sb.length - 1) != '\n') sb.append(' ')
                    case n: java.lang.Double if n.doubleValue <= -100.0 =>
                      if (sb.length > 0 && sb.charAt(sb.length - 1) != ' ' &&
                          sb.charAt(sb.length - 1) != '\n') sb.append(' ')
                    case _ =>
                  }
                }
              case "Do" => stack.lastOption.collect {
                  case PName(x) => res.xobjects.get(x).foreach { s =>
                    // Form XObjects carry text; Image XObjects don't.
                    // A Form SHOULD ship its own /Resources — when a
                    // writer omits them, inherit the caller's (common
                    // in the wild); cycles bound at MaxDepth, total
                    // fan-out at MaxDoInvocations (the exponential
                    // 2-children-per-level shape stays at shallow
                    // depth), output growth at MaxTextChars
                    if (resolve(s.dict.getOrElse("Subtype", PNull)) ==
                        PName("Form")) {
                      doInvocations += 1
                      require(doInvocations <= MaxDoInvocations,
                        s"PDF Form XObject invocations exceed " +
                          s"$MaxDoInvocations (hostile form fan-out?)")
                      require(sb.length <= MaxTextChars,
                        s"PDF extracted text exceeds $MaxTextChars chars")
                      val own = resourcesOf(
                        s.dict.getOrElse("Resources", PNull))
                      // per-NAME fallback (§7.8.3 reading real
                      // readers apply): a form shipping a partial
                      // /Font dict that also names a page-level font
                      // must not lose the page's entries — the old
                      // all-or-nothing map swap silently decoded
                      // such names through a stale font
                      val inner = PageRes(
                        res.fonts ++ own.fonts,
                        res.xobjects ++ own.xobjects)
                      // §8.10.2: the form sees the CALLER's current
                      // font; its own Tf changes stay inside
                      run(decodedForm(s), inner, sb, depth + 1, enc)
                    }
                  }
                }
              case _ => // graphics/state operator: ignore
            }
            stack.clear()
          case v => stack += v
        }
        tok = lx.tokenOrNull()
      }
    }

    // ------------------------------------------------------------- xref

    /** Where an object lives: a byte offset, or (object stream
      * number, index within it) — xref type-2 entries. */
    private def readXrefChain(): (Map[Int, Either[Long, (Int, Int)]],
                                  Map[String, Any]) = {
      val tail = new String(b, math.max(0, b.length - 2048),
        math.min(2048, b.length), "ISO-8859-1")
      val sx = tail.lastIndexOf("startxref")
      require(sx >= 0, "PDF lacks startxref")
      val numStr = tail.substring(sx + 9).trim.takeWhile(_.isDigit)
      require(numStr.nonEmpty, "PDF startxref offset unreadable")
      var off = numStr.toLong
      val offsets =
        scala.collection.mutable.Map[Int, Either[Long, (Int, Int)]]()
      var trailer: Map[String, Any] = null
      val seen = scala.collection.mutable.Set[Long]()
      while (off >= 0) {
        require(off < b.length && seen.add(off), s"PDF xref offset $off invalid")
        val lx = new Lexer(b, off.toInt)
        lx.skipWs()
        val tdict =
          if (lx.peekKeyword("xref")) {
            // hybrid-reference files: the classic trailer points at a
            // companion xref STREAM (/XRefStm) carrying the
            // object-stream entries, and lists those same objects as
            // FREE in the table so pre-1.5 readers skip them. Within
            // one section the stream's entries must win — merging the
            // table first would let its 'f' tombstones shadow every
            // ObjStm-packed object (catalog resolves to null). So:
            // table into a temp map, stream into `offsets`, then the
            // table's leftovers.
            val table =
              scala.collection.mutable.Map[Int, Either[Long, (Int, Int)]]()
            val td = readClassicXref(lx, table)
            td.get("XRefStm") match {
              case Some(p: java.lang.Long)
                  if p.longValue >= 0 && p.longValue < b.length &&
                    seen.add(p.longValue) =>
                readXrefStream(new Lexer(b, p.intValue), offsets)
              case _ =>
            }
            table.foreach { case (num, e) =>
              if (!offsets.contains(num)) offsets(num) = e
            }
            td
          } else readXrefStream(lx, offsets)
        if (trailer == null) trailer = tdict
        off = tdict.get("Prev") match {
          case Some(p: java.lang.Long) => p.longValue
          case _ => -1L
        }
      }
      (offsets.toMap, trailer)
    }

    private def readClassicXref(
        lx: Lexer,
        offsets: scala.collection.mutable.Map[Int, Either[Long, (Int, Int)]])
        : Map[String, Any] = {
      lx.expectKeyword("xref")
      var tok = lx.token()
      var total = 0L
      while (tok != "trailer") {
        val start = tok.asInstanceOf[java.lang.Long].toInt
        val count = lx.token().asInstanceOf[java.lang.Long].toInt
        total += count
        require(count >= 0 && total <= MaxObjects,
          s"PDF xref entry count exceeds $MaxObjects")
        var i = 0
        while (i < count) {
          val o = lx.token().asInstanceOf[java.lang.Long]
          lx.token() // generation
          val kind = lx.token().asInstanceOf[String]
          // first subsection wins within one table; the caller merges
          // this section's map into the chain newest-first — INCLUDING
          // free ('f') tombstones, else a deleted object resurrects
          // from a stale offset in an older section
          if (!offsets.contains(start + i))
            offsets(start + i) =
              Left(if (kind == "n") o.longValue else -1L)
          i += 1
        }
        tok = lx.token()
      }
      lx.value(0).asInstanceOf[Map[String, Any]]
    }

    /** PDF 1.5 cross-reference STREAM: a stream object whose decoded
      * payload is fixed-width binary entry rows (/W field widths,
      * /Index subsection ranges); type-2 entries point into object
      * streams. All dict values must be direct per spec, so this
      * parses without the offsets map (no chicken-and-egg). */
    private def readXrefStream(
        lx: Lexer,
        offsets: scala.collection.mutable.Map[Int, Either[Long, (Int, Int)]])
        : Map[String, Any] = {
      lx.token() // object number
      lx.token() // generation
      val kw = lx.token()
      require(kw == "obj",
        "PDF startxref points at neither an xref table nor an xref stream")
      val dict = lx.value(0) match {
        case m: Map[String, Any] @unchecked => m
        case other => throw new IllegalArgumentException(
          s"PDF xref stream object is $other, not a dict")
      }
      require(dict.get("Type") == Some(PName("XRef")),
        "PDF startxref object lacks /Type /XRef")
      lx.skipWs()
      require(lx.peekKeyword("stream"), "PDF xref stream has no stream")
      val len = dict.getOrElse("Length",
        throw new IllegalArgumentException("xref stream lacks direct /Length"))
        .asInstanceOf[java.lang.Long].toInt
      val data = decodedStream(PStream(dict, lx.streamBytes(len)))
      val w = dict.getOrElse("W", Vector.empty).asInstanceOf[Vector[Any]]
        .map(_.asInstanceOf[java.lang.Long].toInt)
      require(w.length == 3 && w.forall(x => x >= 0 && x <= 8),
        s"PDF xref stream /W $w")
      val size = dict.getOrElse("Size",
        throw new IllegalArgumentException("xref stream lacks /Size"))
        .asInstanceOf[java.lang.Long].toInt
      val index: Seq[(Int, Int)] = dict.get("Index") match {
        case Some(v: Vector[Any] @unchecked) =>
          require(v.length % 2 == 0, "odd /Index")
          v.map(_.asInstanceOf[java.lang.Long].toInt).grouped(2)
            .map(p => (p(0), p(1))).toSeq
        case _ => Seq((0, size))
      }
      val rowLen = w.sum
      var pos = 0
      var totalRows = 0L
      def field(width: Int, default: Long): Long = {
        if (width == 0) return default
        var v = 0L
        var i = 0
        while (i < width) { v = (v << 8) | (data(pos + i) & 0xFFL); i += 1 }
        pos += width
        v
      }
      index.foreach { case (start, count) =>
        totalRows += count
        require(count >= 0 && totalRows <= MaxObjects,
          s"PDF xref stream entry count exceeds $MaxObjects")
        require(pos + count.toLong * rowLen <= data.length,
          "PDF xref stream data short for /Index")
        var i = 0
        while (i < count) {
          val typ = field(w(0), 1L)
          val f2 = field(w(1), 0L)
          val f3 = field(w(2), 0L)
          val num = start + i
          if (!offsets.contains(num)) typ match {
            case 1L => offsets(num) = Left(f2)
            case 2L => offsets(num) = Right((f2.toInt, f3.toInt))
            case 0L => offsets(num) = Left(-1L) // free: tombstone
            case _ => // unknown types: skip per spec
          }
          i += 1
        }
      }
      dict
    }

    /** An object living inside a /Type /ObjStm container: the stream
      * payload starts with N (num, offset) integer pairs; object i's
      * body begins at /First + offset_i. */
    private def objFromStream(num: Int, stmNum: Int): Any = {
      // a container must itself be a direct (type-1) object — an
      // ObjStm inside an ObjStm is illegal and, unchecked, a hostile
      // cycle (A in B, B in A) would recurse unboundedly
      require(offsets.get(stmNum).exists(_.isLeft),
        s"PDF object stream $stmNum is not a direct object")
      val container = resolve(PRef(stmNum, 0)) match {
        case s: PStream => s
        case other => throw new IllegalArgumentException(
          s"PDF object stream $stmNum is $other")
      }
      require(container.dict.get("Type") == Some(PName("ObjStm")),
        s"PDF object $num points into non-ObjStm $stmNum")
      val data = decodedStream(container)
      val n = resolve(container.dict.getOrElse("N",
        throw new IllegalArgumentException("ObjStm lacks /N")))
        .asInstanceOf[java.lang.Long].toInt
      val first = resolve(container.dict.getOrElse("First",
        throw new IllegalArgumentException("ObjStm lacks /First")))
        .asInstanceOf[java.lang.Long].toInt
      require(n >= 0 && n <= 100000 && first >= 0 && first <= data.length,
        s"ObjStm header out of range (N=$n First=$first)")
      val hdr = new Lexer(data, 0)
      var found = -1L
      var i = 0
      while (i < n && found < 0) {
        val objNum = hdr.token().asInstanceOf[java.lang.Long].toInt
        val off = hdr.token().asInstanceOf[java.lang.Long]
        if (objNum == num) found = off.longValue
        i += 1
      }
      require(found >= 0, s"PDF object $num not in object stream $stmNum")
      require(first + found < data.length, "ObjStm offset out of range")
      new Lexer(data, (first + found).toInt).value(0)
    }
  }

  // ------------------------------------------------------------- filters

  /** A Flate/LZW stage's output, refused past the per-stream cap (the
    * kernels stop at `MaxInflate + 1` bytes). */
  private def capped(out: Array[Byte], filter: String): Array[Byte] = {
    require(out.length <= MaxInflate,
      s"PDF $filter expansion exceeds $MaxInflate bytes")
    out
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, `>` EOD,
    * odd final digit implies a trailing 0 nibble. */
  private[graft] def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      val d = Character.digit(c, 16)
      if (c == '>') done = true
      else if (d >= 0) {
        if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
      } else require(c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
        c == 0 || c == '\f', s"PDF ASCIIHex byte '$c'")
      i += 1
    }
    if (hi >= 0) out.write(hi * 16)
    out.toByteArray
  }

  /** ASCII85Decode (§7.4.3): 5 chars `!`..`u` per 4 bytes base-85,
    * `z` = four zero bytes between groups, whitespace ignored, `~>`
    * EOD required (refuse-loudly convention), partial final group of
    * n chars → n−1 bytes padded with `u`. */
  private[graft] def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length)
    var acc = 0L
    var n = 0
    // tolerate the Adobe `<~` leader some tools emit
    var i = if (data.length >= 2 && data(0) == '<' && data(1) == '~') 2 else 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xFF
      if (c == '~') {
        require(i + 1 < data.length && data(i + 1) == '>',
          "PDF ASCII85 stream: '~' without '>'")
        done = true
      } else if (c == 'z') {
        require(n == 0, "PDF ASCII85 'z' inside a group")
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
                 c == 0 || c == 12) {
        // whitespace between groups
      } else {
        require(c >= '!' && c <= 'u', s"PDF ASCII85 byte $c out of range")
        acc = acc * 85 + (c - '!')
        n += 1
        if (n == 5) {
          require(acc <= 0xFFFFFFFFL, "PDF ASCII85 group overflow")
          out.write(((acc >> 24) & 0xFF).toInt)
          out.write(((acc >> 16) & 0xFF).toInt)
          out.write(((acc >> 8) & 0xFF).toInt)
          out.write((acc & 0xFF).toInt)
          acc = 0; n = 0
        }
      }
      i += 1
    }
    require(done, "PDF ASCII85 stream lacks the ~> EOD marker")
    if (n > 0) {
      require(n >= 2, "PDF ASCII85 dangling single char in final group")
      var k = n
      while (k < 5) { acc = acc * 85 + 84; k += 1 }
      require(acc <= 0xFFFFFFFFL, "PDF ASCII85 group overflow")
      val bytes = Array(((acc >> 24) & 0xFF).toByte,
        ((acc >> 16) & 0xFF).toByte, ((acc >> 8) & 0xFF).toByte)
      out.write(bytes, 0, n - 1)
    }
    out.toByteArray
  }

  /** RunLengthDecode (§7.4.5): length byte 0–127 copies the next
    * len+1 bytes literally, 129–255 repeats the next byte 257−len
    * times, 128 is EOD (required). The byte semantics match PackBits
    * exactly except that PackBits has no EOD — the fixture encoder
    * reuses [[TiffCodec.packBitsEncode]] + the 0x80 terminator. */
  private[graft] def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 2))
    var i = 0
    var done = false
    while (!done) {
      require(i < data.length, "truncated PDF RunLength stream (no EOD)")
      val l = data(i) & 0xFF
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        require(i + l + 1 <= data.length, "truncated PDF RunLength literal")
        out.write(data, i, l + 1)
        i += l + 1
      } else {
        require(i < data.length, "truncated PDF RunLength run")
        val v = data(i) & 0xFF
        i += 1
        var k = 257 - l
        while (k > 0) { out.write(v); k -= 1 }
      }
      require(out.size() <= MaxInflate,
        s"PDF RunLength expansion exceeds $MaxInflate bytes")
    }
    out.toByteArray
  }

  // -------------------------------------------------------------- lexer

  /** PDF object lexer/parser over a byte range. `token()` returns
    * java.lang.Long | java.lang.Double | String (keyword/operator) |
    * PName | Array[Byte] (string) | "[[" structural markers are
    * handled internally by `value`. */
  private final class Lexer(b: Array[Byte], var pos: Int) {

    def skipWs(): Unit = {
      var go = true
      while (go && pos < b.length) {
        val c = b(pos)
        if (c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == 0 ||
            c == 12) pos += 1
        else if (c == '%') { // comment to EOL
          while (pos < b.length && b(pos) != '\r' && b(pos) != '\n') pos += 1
        } else go = false
      }
    }

    def peekKeyword(kw: String): Boolean = {
      skipWs()
      if (pos + kw.length > b.length) return false
      var i = 0
      while (i < kw.length) {
        if (b(pos + i) != kw.charAt(i)) return false
        i += 1
      }
      true
    }

    def expectKeyword(kw: String): Unit = {
      require(peekKeyword(kw), s"PDF: expected '$kw' at $pos")
      pos += kw.length
    }

    /** Raw stream payload: positioned after the stream dict, consumes
      * `stream` EOL + len bytes + `endstream`. */
    def streamBytes(len: Int): Array[Byte] = {
      expectKeyword("stream")
      if (pos < b.length && b(pos) == '\r') pos += 1
      if (pos < b.length && b(pos) == '\n') pos += 1
      require(len >= 0 && pos + len <= b.length,
        s"PDF stream of $len bytes overruns the file")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + len)
      pos += len
      skipWs()
      expectKeyword("endstream")
      out
    }

    def tokenOrNull(): Any = {
      skipWs()
      if (pos >= b.length) null else token()
    }

    /** Skip an inline image (`BI … ID <binary> EI`): binary data is
      * unlexable, so scan for a whitespace-delimited `EI`. */
    def skipInlineImage(): Unit = {
      var i = pos
      while (i + 2 < b.length &&
             !(isDelim(b(i)) && b(i + 1) == 'E' && b(i + 2) == 'I' &&
               (i + 3 >= b.length || isDelim(b(i + 3))))) i += 1
      pos = math.min(b.length, i + 3)
    }

    /** One lexical token (no ref-folding; `value` does that). */
    def token(): Any = {
      skipWs()
      require(pos < b.length, "PDF: unexpected end of input")
      val c = b(pos).toChar
      c match {
        case '/' => name()
        case '(' => literalString()
        case '<' =>
          if (pos + 1 < b.length && b(pos + 1) == '<') { pos += 2; "<<" }
          else hexString()
        case '>' =>
          require(pos + 1 < b.length && b(pos + 1) == '>',
            s"PDF: stray '>' at $pos")
          pos += 2; ">>"
        case '[' => pos += 1; "["
        case ']' => pos += 1; "]"
        case d if d.isDigit || d == '+' || d == '-' || d == '.' => number()
        case _ => keyword()
      }
    }

    /** One VALUE with structure folding: dicts, arrays, refs. */
    def value(depth: Int): Any = {
      require(depth < MaxDepth, "PDF value nesting too deep")
      token() match {
        case "<<" =>
          val m = Map.newBuilder[String, Any]
          var t = token()
          while (t != ">>") {
            val key = t match {
              case PName(k) => k
              case other => throw new IllegalArgumentException(
                s"PDF dict key $other")
            }
            m += key -> valueFrom(token(), depth + 1)
            t = token()
          }
          m.result()
        case "[" =>
          val out = Vector.newBuilder[Any]
          var t = token()
          while (t != "]") {
            out += valueFrom(t, depth + 1)
            t = token()
          }
          out.result()
        case t => valueFrom(t, depth)
      }
    }

    /** Fold a lexed token into a value; an integer may open an
      * `n g R` indirect reference. */
    private def valueFrom(t: Any, depth: Int): Any = t match {
      case "<<" | "[" => rewindAnd(t, depth)
      case n: java.lang.Long => tryRef(n)
      case "true" => java.lang.Boolean.TRUE
      case "false" => java.lang.Boolean.FALSE
      case "null" => PNull
      case other => other
    }

    private def rewindAnd(t: Any, depth: Int): Any = {
      // re-enter structured parse for a token already consumed
      t match {
        case "<<" =>
          val m = Map.newBuilder[String, Any]
          var tk = token()
          while (tk != ">>") {
            val key = tk match {
              case PName(k) => k
              case other => throw new IllegalArgumentException(
                s"PDF dict key $other")
            }
            m += key -> valueFrom(token(), depth + 1)
            tk = token()
          }
          m.result()
        case "[" =>
          val out = Vector.newBuilder[Any]
          var tk = token()
          while (tk != "]") {
            out += valueFrom(tk, depth + 1)
            tk = token()
          }
          out.result()
        case _ => throw new IllegalStateException("unreachable")
      }
    }

    private def tryRef(n: java.lang.Long): Any = {
      val save = pos
      skipWs()
      if (pos < b.length && (b(pos).toChar.isDigit)) {
        val start = pos
        while (pos < b.length && b(pos).toChar.isDigit) pos += 1
        val gen = new String(b, start, pos - start, "US-ASCII")
        skipWs()
        if (pos < b.length && b(pos) == 'R' &&
            (pos + 1 >= b.length || isDelim(b(pos + 1)))) {
          pos += 1
          return PRef(n.toInt, gen.toInt)
        }
      }
      pos = save
      n
    }

    private def isDelim(c: Byte): Boolean =
      c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == 0 ||
        c == 12 || c == '/' || c == '(' || c == ')' || c == '<' ||
        c == '>' || c == '[' || c == ']' || c == '%'

    private def name(): PName = {
      pos += 1 // '/'
      val sb = new java.lang.StringBuilder(16)
      while (pos < b.length && !isDelim(b(pos))) {
        val c = b(pos).toChar
        if (c == '#' && pos + 2 < b.length) {
          sb.append(Integer.parseInt(
            new String(b, pos + 1, 2, "US-ASCII"), 16).toChar)
          pos += 3
        } else { sb.append(c); pos += 1 }
      }
      PName(sb.toString)
    }

    private def number(): Any = {
      val start = pos
      if (b(pos) == '+' || b(pos) == '-') pos += 1
      var dot = false
      while (pos < b.length &&
             (b(pos).toChar.isDigit || (b(pos) == '.' && !dot))) {
        if (b(pos) == '.') dot = true
        pos += 1
      }
      val s = new String(b, start, pos - start, "US-ASCII")
      if (dot) java.lang.Double.valueOf(s.toDouble)
      else java.lang.Long.valueOf(s.toLong)
    }

    private def keyword(): String = {
      val start = pos
      while (pos < b.length && !isDelim(b(pos))) pos += 1
      require(pos > start, s"PDF: unlexable byte ${b(start)} at $start")
      new String(b, start, pos - start, "US-ASCII")
    }

    /** Literal string: balanced parens, all escapes, raw bytes out. */
    private def literalString(): Array[Byte] = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream(32)
      var depth = 1
      while (depth > 0) {
        require(pos < b.length, "PDF: unterminated literal string")
        val c = b(pos)
        c match {
          case '(' => depth += 1; out.write(c); pos += 1
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(c)
            pos += 1
          case '\\' =>
            require(pos + 1 < b.length, "PDF: dangling string escape")
            val e = b(pos + 1).toChar
            pos += 2
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write(12)
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => // line continuation
                if (pos < b.length && b(pos) == '\n') pos += 1
              case '\n' => // line continuation
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < b.length &&
                       b(pos) >= '0' && b(pos) <= '7') {
                  v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xFF)
              case other => out.write(other) // spec: ignore the backslash
            }
          case _ => out.write(c); pos += 1
        }
      }
      out.toByteArray
    }

    private def hexString(): Array[Byte] = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream(16)
      var hi = -1
      while (pos < b.length && b(pos) != '>') {
        val c = b(pos).toChar
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { out.write(hi * 16 + d); hi = -1 }
        } else require(c == ' ' || c == '\t' || c == '\r' || c == '\n',
          s"PDF: bad hex-string byte '$c'")
        pos += 1
      }
      require(pos < b.length, "PDF: unterminated hex string")
      pos += 1
      if (hi >= 0) out.write(hi * 16) // odd count: final 0 nibble
      out.toByteArray
    }
  }

  // ---------------------------------------------------------- encodings

  private[graft] object Encodings {

    /** WinAnsiEncoding ≈ windows-1252: C1 range gets the cp1252
      * specials (5 undefined slots → U+FFFD), the rest is latin-1. */
    val winAnsi: Array[Char] = {
      val t = Array.tabulate[Char](256)(_.toChar)
      val c1 = Map(
        0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
        0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
        0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
        0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
        0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
        0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
        0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)
      (0x80 to 0x9F).foreach(i => t(i) = c1.getOrElse(i, 0xFFFD).toChar)
      t
    }

    /** StandardEncoding per PDF 32000 Appendix D: ASCII with the two
      * quote exceptions, the Adobe high-half set, unmapped → U+FFFD. */
    val standard: Array[Char] = {
      val t = Array.fill[Char](256)('�')
      (0x20 to 0x7E).foreach(i => t(i) = i.toChar)
      t(0x27) = '’' // quoteright
      t(0x60) = '‘' // quoteleft
      val hi = Map(
        0xA1 -> 0x00A1, 0xA2 -> 0x00A2, 0xA3 -> 0x00A3, 0xA4 -> 0x2044,
        0xA5 -> 0x00A5, 0xA6 -> 0x0192, 0xA7 -> 0x00A7, 0xA8 -> 0x00A4,
        0xA9 -> 0x0027, 0xAA -> 0x201C, 0xAB -> 0x00AB, 0xAC -> 0x2039,
        0xAD -> 0x203A, 0xAE -> 0xFB01, 0xAF -> 0xFB02, 0xB1 -> 0x2013,
        0xB2 -> 0x2020, 0xB3 -> 0x2021, 0xB4 -> 0x00B7, 0xB6 -> 0x00B6,
        0xB7 -> 0x2022, 0xB8 -> 0x201A, 0xB9 -> 0x201E, 0xBA -> 0x201D,
        0xBB -> 0x00BB, 0xBC -> 0x2026, 0xBD -> 0x2030, 0xBF -> 0x00BF,
        0xC1 -> 0x0060, 0xC2 -> 0x00B4, 0xC3 -> 0x02C6, 0xC4 -> 0x02DC,
        0xC5 -> 0x00AF, 0xC6 -> 0x02D8, 0xC7 -> 0x02D9, 0xC8 -> 0x00A8,
        0xCA -> 0x02DA, 0xCB -> 0x00B8, 0xCD -> 0x02DD, 0xCE -> 0x02DB,
        0xCF -> 0x02C7, 0xD0 -> 0x2014, 0xE1 -> 0x00C6, 0xE3 -> 0x00AA,
        0xE8 -> 0x0141, 0xE9 -> 0x00D8, 0xEA -> 0x0152, 0xEB -> 0x00BA,
        0xF1 -> 0x00E6, 0xF5 -> 0x0131, 0xF8 -> 0x0142, 0xF9 -> 0x00F8,
        0xFA -> 0x0153, 0xFB -> 0x00DF)
      hi.foreach { case (k, v) => t(k) = v.toChar }
      t
    }

    /** Glyph-name → char map for /Differences: basic latin names,
      * the Latin-1 accented set (Adobe names), common punctuation. */
    val glyphs: Map[String, Char] = {
      val basicLetters =
        (('a' to 'z') ++ ('A' to 'Z')).map(c => c.toString -> c)
      val digits = Seq("zero", "one", "two", "three", "four", "five",
        "six", "seven", "eight", "nine").zipWithIndex
        .map { case (n, i) => n -> ('0' + i).toChar }
      val punct = Map(
        "space" -> ' ', "exclam" -> '!', "quotedbl" -> '"',
        "numbersign" -> '#', "dollar" -> '$', "percent" -> '%',
        "ampersand" -> '&', "quotesingle" -> '\'', "parenleft" -> '(',
        "parenright" -> ')', "asterisk" -> '*', "plus" -> '+',
        "comma" -> ',', "hyphen" -> '-', "period" -> '.', "slash" -> '/',
        "colon" -> ':', "semicolon" -> ';', "less" -> '<', "equal" -> '=',
        "greater" -> '>', "question" -> '?', "at" -> '@',
        "bracketleft" -> '[', "backslash" -> '\\', "bracketright" -> ']',
        "asciicircum" -> '^', "underscore" -> '_', "grave" -> '`',
        "braceleft" -> '{', "bar" -> '|', "braceright" -> '}',
        "asciitilde" -> '~',
        "quoteleft" -> '‘', "quoteright" -> '’',
        "quotedblleft" -> '“', "quotedblright" -> '”',
        "endash" -> '–', "emdash" -> '—',
        "ellipsis" -> '…', "bullet" -> '•',
        "dagger" -> '†', "daggerdbl" -> '‡',
        "Euro" -> '€', "trademark" -> '™',
        "copyright" -> '©', "registered" -> '®',
        "degree" -> '°', "plusminus" -> '±')
      val latin1 = Map(
        "exclamdown" -> 0xA1, "cent" -> 0xA2, "sterling" -> 0xA3,
        "currency" -> 0xA4, "yen" -> 0xA5, "brokenbar" -> 0xA6,
        "section" -> 0xA7, "dieresis" -> 0xA8, "ordfeminine" -> 0xAA,
        "guillemotleft" -> 0xAB, "logicalnot" -> 0xAC, "macron" -> 0xAF,
        "acute" -> 0xB4, "mu" -> 0xB5, "paragraph" -> 0xB6,
        "periodcentered" -> 0xB7, "cedilla" -> 0xB8,
        "ordmasculine" -> 0xBA, "guillemotright" -> 0xBB,
        "onequarter" -> 0xBC, "onehalf" -> 0xBD,
        "threequarters" -> 0xBE, "questiondown" -> 0xBF,
        "Agrave" -> 0xC0, "Aacute" -> 0xC1, "Acircumflex" -> 0xC2,
        "Atilde" -> 0xC3, "Adieresis" -> 0xC4, "Aring" -> 0xC5,
        "AE" -> 0xC6, "Ccedilla" -> 0xC7, "Egrave" -> 0xC8,
        "Eacute" -> 0xC9, "Ecircumflex" -> 0xCA, "Edieresis" -> 0xCB,
        "Igrave" -> 0xCC, "Iacute" -> 0xCD, "Icircumflex" -> 0xCE,
        "Idieresis" -> 0xCF, "Eth" -> 0xD0, "Ntilde" -> 0xD1,
        "Ograve" -> 0xD2, "Oacute" -> 0xD3, "Ocircumflex" -> 0xD4,
        "Otilde" -> 0xD5, "Odieresis" -> 0xD6, "multiply" -> 0xD7,
        "Oslash" -> 0xD8, "Ugrave" -> 0xD9, "Uacute" -> 0xDA,
        "Ucircumflex" -> 0xDB, "Udieresis" -> 0xDC, "Yacute" -> 0xDD,
        "Thorn" -> 0xDE, "germandbls" -> 0xDF,
        "agrave" -> 0xE0, "aacute" -> 0xE1, "acircumflex" -> 0xE2,
        "atilde" -> 0xE3, "adieresis" -> 0xE4, "aring" -> 0xE5,
        "ae" -> 0xE6, "ccedilla" -> 0xE7, "egrave" -> 0xE8,
        "eacute" -> 0xE9, "ecircumflex" -> 0xEA, "edieresis" -> 0xEB,
        "igrave" -> 0xEC, "iacute" -> 0xED, "icircumflex" -> 0xEE,
        "idieresis" -> 0xEF, "eth" -> 0xF0, "ntilde" -> 0xF1,
        "ograve" -> 0xF2, "oacute" -> 0xF3, "ocircumflex" -> 0xF4,
        "otilde" -> 0xF5, "odieresis" -> 0xF6, "divide" -> 0xF7,
        "oslash" -> 0xF8, "ugrave" -> 0xF9, "uacute" -> 0xFA,
        "ucircumflex" -> 0xFB, "udieresis" -> 0xFC, "yacute" -> 0xFD,
        "thorn" -> 0xFE, "ydieresis" -> 0xFF).map {
        case (k, v) => k -> v.toChar
      }
      (basicLetters ++ digits).toMap ++ punct ++ latin1
    }

    /** MacRomanEncoding per PDF 32000 Appendix D (the pre-2005
      * Mac-authored-PDF default): ASCII for 20-7E, the Mac OS Roman
      * accented/punctuation set in the high half — note 0xDB is
      * `currency` in the PDF table (Appendix D predates Mac OS
      * Roman's Euro swap) — unmapped slots (Adobe's table leaves the
      * math-symbol and apple-logo positions empty) → U+FFFD. */
    val macRoman: Array[Char] = {
      val t = Array.fill[Char](256)('�')
      (0x20 to 0x7E).foreach(i => t(i) = i.toChar)
      val hi = Map(
        0x80 -> 0x00C4, 0x81 -> 0x00C5, 0x82 -> 0x00C7, 0x83 -> 0x00C9,
        0x84 -> 0x00D1, 0x85 -> 0x00D6, 0x86 -> 0x00DC, 0x87 -> 0x00E1,
        0x88 -> 0x00E0, 0x89 -> 0x00E2, 0x8A -> 0x00E4, 0x8B -> 0x00E3,
        0x8C -> 0x00E5, 0x8D -> 0x00E7, 0x8E -> 0x00E9, 0x8F -> 0x00E8,
        0x90 -> 0x00EA, 0x91 -> 0x00EB, 0x92 -> 0x00ED, 0x93 -> 0x00EC,
        0x94 -> 0x00EE, 0x95 -> 0x00EF, 0x96 -> 0x00F1, 0x97 -> 0x00F3,
        0x98 -> 0x00F2, 0x99 -> 0x00F4, 0x9A -> 0x00F6, 0x9B -> 0x00F5,
        0x9C -> 0x00FA, 0x9D -> 0x00F9, 0x9E -> 0x00FB, 0x9F -> 0x00FC,
        0xA0 -> 0x2020, 0xA1 -> 0x00B0, 0xA2 -> 0x00A2, 0xA3 -> 0x00A3,
        0xA4 -> 0x00A7, 0xA5 -> 0x2022, 0xA6 -> 0x00B6, 0xA7 -> 0x00DF,
        0xA8 -> 0x00AE, 0xA9 -> 0x00A9, 0xAA -> 0x2122, 0xAB -> 0x00B4,
        0xAC -> 0x00A8, 0xAE -> 0x00C6, 0xAF -> 0x00D8,
        0xB1 -> 0x00B1, 0xB4 -> 0x00A5, 0xB5 -> 0x00B5,
        0xBB -> 0x00AA, 0xBC -> 0x00BA, 0xBE -> 0x00E6, 0xBF -> 0x00F8,
        0xC0 -> 0x00BF, 0xC1 -> 0x00A1, 0xC2 -> 0x00AC, 0xC4 -> 0x0192,
        0xC7 -> 0x00AB, 0xC8 -> 0x00BB, 0xC9 -> 0x2026, 0xCA -> 0x0020,
        0xCB -> 0x00C0, 0xCC -> 0x00C3, 0xCD -> 0x00D5, 0xCE -> 0x0152,
        0xCF -> 0x0153,
        0xD0 -> 0x2013, 0xD1 -> 0x2014, 0xD2 -> 0x201C, 0xD3 -> 0x201D,
        0xD4 -> 0x2018, 0xD5 -> 0x2019, 0xD6 -> 0x00F7, 0xD8 -> 0x00FF,
        0xD9 -> 0x0178, 0xDA -> 0x2044, 0xDB -> 0x00A4, 0xDC -> 0x2039,
        0xDD -> 0x203A, 0xDE -> 0xFB01, 0xDF -> 0xFB02,
        0xE0 -> 0x2021, 0xE1 -> 0x00B7, 0xE2 -> 0x201A, 0xE3 -> 0x201E,
        0xE4 -> 0x2030, 0xE5 -> 0x00C2, 0xE6 -> 0x00CA, 0xE7 -> 0x00C1,
        0xE8 -> 0x00CB, 0xE9 -> 0x00C8, 0xEA -> 0x00CD, 0xEB -> 0x00CE,
        0xEC -> 0x00CF, 0xED -> 0x00CC, 0xEE -> 0x00D3, 0xEF -> 0x00D4,
        0xF1 -> 0x00D2, 0xF2 -> 0x00DA, 0xF3 -> 0x00DB, 0xF4 -> 0x00D9,
        0xF5 -> 0x0131, 0xF6 -> 0x02C6, 0xF7 -> 0x02DC, 0xF8 -> 0x00AF,
        0xF9 -> 0x02D8, 0xFA -> 0x02D9, 0xFB -> 0x02DA, 0xFC -> 0x00B8,
        0xFD -> 0x02DD, 0xFE -> 0x02DB, 0xFF -> 0x02C7)
      hi.foreach { case (k, v) => t(k) = v.toChar }
      t
    }

    /** char → WinAnsi byte, for the fixture writer. */
    val winAnsiInverse: Map[Char, Int] =
      winAnsi.zipWithIndex.filter(_._1 != '�')
        .map { case (c, i) => c -> i }.toMap

    /** char → MacRoman byte, for the fixture writer. The 0xCA
      * no-break-space slot also maps to ' ' — prefer the ASCII
      * space (toMap keeps the LAST pair, and 0x20 sorts after...
      * explicitly overridden to be deterministic). */
    val macRomanInverse: Map[Char, Int] =
      macRoman.zipWithIndex.filter(_._1 != '�')
        .map { case (c, i) => c -> i }.toMap + (' ' -> 0x20)
  }

  // ------------------------------------------------------------ fixture

  private def escape(line: String,
                     inv: Map[Char, Int] = Encodings.winAnsiInverse)
      : Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream(line.length + 8)
    line.foreach { c =>
      val code = inv.getOrElse(c,
        throw new IllegalArgumentException(
          s"fixture text char U+${c.toInt.toHexString} not encodable"))
      if (c == '(' || c == ')' || c == '\\') { bo.write('\\'); bo.write(code) }
      else if (code < 0x20 || code > 0x7E) // 3-digit octal: a digit
        bo.write(("\\" + f"$code%03o").getBytes("US-ASCII")) // may follow
      else bo.write(code)
    }
    bo.toByteArray
  }

  private def content(lines: Seq[String],
                      inv: Map[Char, Int] = Encodings.winAnsiInverse)
      : Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    bo.write("BT\n/F1 12 Tf\n72 720 Td\n".getBytes("US-ASCII"))
    lines.zipWithIndex.foreach { case (line, i) =>
      bo.write('(')
      bo.write(escape(line, inv))
      bo.write(')')
      bo.write((if (i == 0) " Tj\n" else " '\n").getBytes("US-ASCII"))
    }
    // the first line used Tj; later shows move to new lines with '
    bo.write("ET\n".getBytes("US-ASCII"))
    bo.toByteArray
  }

  /** Minimal-but-real PDF writer for specs/oracle fixtures: one
    * content stream per page (`Tf`/`Td`/`Tj` + `'` line shows),
    * Helvetica under `encoding` (WinAnsiEncoding default;
    * MacRomanEncoding writes the pre-2005 Mac-authored shape),
    * classic xref with exact offsets, `/Length` written as an
    * INDIRECT ref on the first page (the parser must resolve it),
    * optional FlateDecode. */
  def fixture(pageLines: Seq[Seq[String]], flate: Boolean = true,
              encoding: String = "WinAnsiEncoding"): Array[Byte] = {
    require(pageLines.nonEmpty, "fixture needs at least one page")
    val inv = encoding match {
      case "WinAnsiEncoding" => Encodings.winAnsiInverse
      case "MacRomanEncoding" => Encodings.macRomanInverse
      case other =>
        throw new IllegalArgumentException(s"fixture encoding $other")
    }
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    def wb(x: Array[Byte]): Unit = out.write(x, 0, x.length)

    val n = pageLines.size
    // object numbering: 1 catalog, 2 pages, 3 font, then per page i:
    // (4+3i) page, (5+3i) content, (6+3i) content-length
    val total = 3 + 3 * n

    w("%PDF-1.4\n%\u00E2\u00E3\u00CF\u00D3\n") // binary-sniff comment
    def obj(num: Int)(body: => Unit): Unit = {
      offsets += out.size().toLong
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    obj(1) { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj(2) {
      val kids = (0 until n).map(i => s"${4 + 3 * i} 0 R").mkString(" ")
      w(s"<< /Type /Pages /Kids [ $kids ] /Count $n >>\n")
    }
    obj(3) {
      w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        s"/Encoding /$encoding >>\n")
    }
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = 4 + 3 * i
      val contNum = pageNum + 1
      val lenNum = pageNum + 2
      obj(pageNum) {
        w(s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
          s"/Resources << /Font << /F1 3 0 R >> >> " +
          s"/Contents $contNum 0 R >>\n")
      }
      val raw = content(lines, inv)
      val payload = if (!flate) raw else ByteCodecs.deflate(raw)
      obj(contNum) {
        val filter = if (flate) " /Filter /FlateDecode" else ""
        w(s"<< /Length $lenNum 0 R$filter >>\nstream\n")
        wb(payload)
        w("\nendstream\n")
      }
      obj(lenNum) { w(s"${payload.length}\n") }
    }
    val xrefOff = out.size()
    w(s"xref\n0 ${total + 1}\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${total + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ---- fixture-side filter encoders (decode-path cross-checks)

  private[graft] def asciiHexEncode(raw: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(raw.length * 2 + raw.length / 40 + 2)
    raw.zipWithIndex.foreach { case (b, i) =>
      sb ++= f"${b & 0xFF}%02X"
      if (i % 40 == 39) sb += '\n' // spec: whitespace is ignored
    }
    sb += '>'
    sb.toString.getBytes("US-ASCII")
  }

  private[graft] def ascii85Encode(raw: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(raw.length * 5 / 4 + 8)
    var i = 0
    while (i + 4 <= raw.length) {
      val v = ((raw(i) & 0xFFL) << 24) | ((raw(i + 1) & 0xFFL) << 16) |
        ((raw(i + 2) & 0xFFL) << 8) | (raw(i + 3) & 0xFFL)
      if (v == 0) sb += 'z' // the all-zero-group shortcut
      else {
        val cs = new Array[Char](5)
        var d = v
        var k = 4
        while (k >= 0) { cs(k) = ('!' + (d % 85)).toChar; d /= 85; k -= 1 }
        sb ++= new String(cs)
      }
      i += 4
      if ((i / 4) % 15 == 0) sb += '\n'
    }
    val rem = raw.length - i
    if (rem > 0) { // zero-pad, truncate to rem+1 digits (btoa convention)
      var v = 0L
      var k = 0
      while (k < 4) {
        v = (v << 8) | (if (k < rem) raw(i + k) & 0xFFL else 0L)
        k += 1
      }
      val cs = new Array[Char](5)
      var j = 4
      while (j >= 0) { cs(j) = ('!' + (v % 85)).toChar; v /= 85; j -= 1 }
      sb ++= new String(cs, 0, rem + 1)
    }
    sb ++= "~>"
    sb.toString.getBytes("US-ASCII")
  }

  /** PDF RunLength = PackBits + the 0x80 EOD (the repo's PackBits
    * encoder never emits 0x80 as a header, so the terminator is
    * unambiguous). */
  private[graft] def runLengthEncode(raw: Array[Byte]): Array[Byte] =
    TiffCodec.packBitsEncode(raw) :+ 0x80.toByte

  private def encodeChain(raw: Array[Byte],
                          filters: Seq[String]): Array[Byte] =
    // encode right-to-left so the declared chain decodes left-to-right
    filters.foldRight(raw) { (f, d) =>
      f match {
        case "FlateDecode" => ByteCodecs.deflate(d)
        case "LZWDecode" => TiffCodec.lzwEncode(d) // TIFF = EarlyChange 1
        case "ASCIIHexDecode" => asciiHexEncode(d)
        case "ASCII85Decode" => ascii85Encode(d)
        case "RunLengthDecode" => runLengthEncode(d)
        case other =>
          throw new IllegalArgumentException(s"fixture filter $other")
      }
    }

  /** Classic-layout fixture with an arbitrary filter chain on the
    * content streams (`/Filter` as a name for one, an array for
    * several) — the q282 gate's input. Direct /Length (q278 covers
    * the indirect form). */
  def fixtureFiltered(pageLines: Seq[Seq[String]],
                      filters: Seq[String]): Array[Byte] = {
    require(pageLines.nonEmpty, "fixture needs at least one page")
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val n = pageLines.size
    val total = 3 + 2 * n // 1 catalog, 2 pages, 3 font, then page+content
    val filterStr =
      if (filters.isEmpty) ""
      else if (filters.size == 1) s" /Filter /${filters.head}"
      else filters.mkString(" /Filter [ /", " /", " ]")
    w("%PDF-1.4\n%âãÏÓ\n")
    def obj(num: Int)(body: => Unit): Unit = {
      offsets += out.size().toLong
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    obj(1) { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj(2) {
      val kids = (0 until n).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
      w(s"<< /Type /Pages /Kids [ $kids ] /Count $n >>\n")
    }
    obj(3) {
      w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /WinAnsiEncoding >>\n")
    }
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = 4 + 2 * i
      val contNum = pageNum + 1
      obj(pageNum) {
        w(s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
          s"/Resources << /Font << /F1 3 0 R >> >> " +
          s"/Contents $contNum 0 R >>\n")
      }
      val payload = encodeChain(content(lines), filters)
      obj(contNum) {
        w(s"<< /Length ${payload.length}$filterStr >>\nstream\n")
        out.write(payload, 0, payload.length)
        w("\nendstream\n")
      }
    }
    val xrefOff = out.size()
    w(s"xref\n0 ${total + 1}\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${total + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Classic fixture plus a document-information dictionary: each
    * entry writes as a UTF-16BE-BOM hex string when it carries
    * non-ASCII (the §7.9.2.2 shape real writers emit for titles) and
    * as an escaped literal string otherwise. */
  def fixtureWithInfo(pageLines: Seq[Seq[String]],
                      infoEntries: Seq[(String, String)]): Array[Byte] = {
    require(pageLines.nonEmpty, "fixture needs at least one page")
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val n = pageLines.size
    val total = 4 + 2 * n // catalog, pages, font, info, page+content
    def infoString(v: String): String =
      if (v.forall(c => c >= 0x20 && c <= 0x7E))
        "(" + v.flatMap {
          case c @ ('(' | ')' | '\\') => "\\" + c
          case c => c.toString
        } + ")"
      else // UTF-16BE with BOM as a hex string (surrogate pairs
        // encode as their two code units — already valid UTF-16BE)
        "<FEFF" + v.flatMap(c => f"${c.toInt}%04X") + ">"
    w("%PDF-1.4\n%âãÏÓ\n")
    def obj(num: Int)(body: => Unit): Unit = {
      offsets += out.size().toLong
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    obj(1) { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj(2) {
      val kids = (0 until n).map(i => s"${5 + 2 * i} 0 R").mkString(" ")
      w(s"<< /Type /Pages /Kids [ $kids ] /Count $n >>\n")
    }
    obj(3) {
      w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /WinAnsiEncoding >>\n")
    }
    obj(4) {
      w(infoEntries.map { case (k, v) => s"/$k ${infoString(v)}" }
        .mkString("<< ", " ", " >>\n"))
    }
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = 5 + 2 * i
      val contNum = pageNum + 1
      obj(pageNum) {
        w(s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
          s"/Resources << /Font << /F1 3 0 R >> >> " +
          s"/Contents $contNum 0 R >>\n")
      }
      val payload = ByteCodecs.deflate(content(lines))
      obj(contNum) {
        w(s"<< /Length ${payload.length} /Filter /FlateDecode >>\nstream\n")
        out.write(payload, 0, payload.length)
        w("\nendstream\n")
      }
    }
    val xrefOff = out.size()
    w(s"xref\n0 ${total + 1}\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${total + 1} /Root 1 0 R /Info 4 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Single-page fixture whose page content draws `bodyLines` and
    * then invokes a `/Subtype /Form` XObject (`/X1 Do`) carrying
    * `stampLines` with its OWN resource dictionary — the letterhead/
    * stamp layout real writers emit, exercising the recursive `Do`
    * path. */
  def fixtureWithForm(bodyLines: Seq[String],
                      stampLines: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n%âãÏÓ\n")
    def obj(num: Int)(body: => Unit): Unit = {
      offsets += out.size().toLong
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    obj(1) { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj(2) { w("<< /Type /Pages /Kids [ 4 0 R ] /Count 1 >>\n") }
    obj(3) {
      w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /WinAnsiEncoding >>\n")
    }
    obj(4) {
      w("<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
        "/Resources << /Font << /F1 3 0 R >> " +
        "/XObject << /X1 6 0 R >> >> /Contents 5 0 R >>\n")
    }
    val body = content(bodyLines) ++ "/X1 Do\n".getBytes("US-ASCII")
    obj(5) {
      w(s"<< /Length ${body.length} >>\nstream\n")
      out.write(body, 0, body.length)
      w("\nendstream\n")
    }
    val stamp = ByteCodecs.deflate(content(stampLines))
    obj(6) {
      w(s"<< /Type /XObject /Subtype /Form /BBox [ 0 0 612 792 ] " +
        s"/Resources << /Font << /F1 3 0 R >> >> " +
        s"/Length ${stamp.length} /Filter /FlateDecode >>\nstream\n")
      out.write(stamp, 0, stamp.length)
      w("\nendstream\n")
    }
    val xrefOff = out.size()
    w("xref\n0 7\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w("trailer\n<< /Size 7 /Root 1 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Type0 show bytes: 2-byte big-endian UTF-16 code units as a hex
    * string (Identity-H; the fixture's code space IS the BMP). */
  private def contentType0(lines: Seq[String]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    bo.write("BT\n/F1 12 Tf\n72 720 Td\n".getBytes("US-ASCII"))
    lines.zipWithIndex.foreach { case (line, i) =>
      bo.write('<')
      line.foreach { c =>
        require(!Character.isSurrogate(c),
          "fixtureType0 is BMP-only (each code is one UTF-16 unit)")
        bo.write(f"${c.toInt}%04X".getBytes("US-ASCII"))
      }
      bo.write('>')
      bo.write((if (i == 0) " Tj\n" else " '\n").getBytes("US-ASCII"))
    }
    bo.write("ET\n".getBytes("US-ASCII"))
    bo.toByteArray
  }

  /** The CMap the Type0 fixture ships: ASCII via ONE bfrange (the
    * incrementing form), every other used char via bfchar blocks of
    * ≤100 entries (the spec's operator cap) — both CMap operator
    * forms exercised by construction. */
  private def toUnicodeCMap(chars: Set[Char]): String = {
    val sb = new StringBuilder
    sb ++= "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
    sb ++= "/CIDSystemInfo << /Registry (graft) /Ordering (UCS) " +
      "/Supplement 0 >> def\n"
    sb ++= "/CMapName /graft-ucs def\n/CMapType 2 def\n"
    sb ++= "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    sb ++= "1 beginbfrange\n<0020> <007E> <0020>\nendbfrange\n"
    val extras = chars.filter(c => c < 0x20 || c > 0x7E).toSeq.sorted
    extras.grouped(100).foreach { g =>
      sb ++= s"${g.size} beginbfchar\n"
      g.foreach(c => sb ++= f"<${c.toInt}%04X> <${c.toInt}%04X>\n")
      sb ++= "endbfchar\n"
    }
    sb ++= "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    sb.toString
  }

  /** Composite-font fixture: `/Type0` + `/Identity-H` + a
    * CIDFontType2 descendant + a Flate-compressed /ToUnicode CMap —
    * the shape Word/LaTeX-Unicode/CJK writers emit. Any BMP text
    * (CJK included) round-trips; codes are UTF-16 units. */
  def fixtureType0(pageLines: Seq[Seq[String]]): Array[Byte] = {
    require(pageLines.nonEmpty, "fixture needs at least one page")
    val chars = pageLines.flatten.flatMap(_.toSeq).toSet
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val n = pageLines.size
    // 1 catalog, 2 pages, 3 Type0 font, 4 CIDFont, 5 ToUnicode,
    // then per page i: (6+2i) page, (7+2i) content
    val total = 5 + 2 * n
    w("%PDF-1.4\n%âãÏÓ\n")
    def obj(num: Int)(body: => Unit): Unit = {
      offsets += out.size().toLong
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    obj(1) { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj(2) {
      val kids = (0 until n).map(i => s"${6 + 2 * i} 0 R").mkString(" ")
      w(s"<< /Type /Pages /Kids [ $kids ] /Count $n >>\n")
    }
    obj(3) {
      w("<< /Type /Font /Subtype /Type0 /BaseFont /GraftUni " +
        "/Encoding /Identity-H /DescendantFonts [ 4 0 R ] " +
        "/ToUnicode 5 0 R >>\n")
    }
    obj(4) {
      w("<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GraftUni " +
        "/CIDSystemInfo << /Registry (graft) /Ordering (UCS) " +
        "/Supplement 0 >> /CIDToGIDMap /Identity >>\n")
    }
    obj(5) {
      val payload =
        ByteCodecs.deflate(toUnicodeCMap(chars).getBytes("ISO-8859-1"))
      w(s"<< /Length ${payload.length} /Filter /FlateDecode >>\nstream\n")
      out.write(payload, 0, payload.length)
      w("\nendstream\n")
    }
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = 6 + 2 * i
      val contNum = pageNum + 1
      obj(pageNum) {
        w(s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
          s"/Resources << /Font << /F1 3 0 R >> >> " +
          s"/Contents $contNum 0 R >>\n")
      }
      val payload = ByteCodecs.deflate(contentType0(lines))
      obj(contNum) {
        w(s"<< /Length ${payload.length} /Filter /FlateDecode >>\nstream\n")
        out.write(payload, 0, payload.length)
        w("\nendstream\n")
      }
    }
    val xrefOff = out.size()
    w(s"xref\n0 ${total + 1}\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${total + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Hybrid-reference fixture (Acrobat style): the catalog / pages /
    * font / page dicts pack into an ObjStm, the CLASSIC xref table
    * lists those objects as FREE (so pre-1.5 readers skip them) and
    * its trailer points at the companion `/XRefStm` stream whose
    * type-2 entries are the only live map for them. A reader that
    * merges the table before the stream tombstones every packed
    * object and loses the catalog — the precedence regression this
    * fixture pins. */
  def fixtureHybrid(pageLines: Seq[Seq[String]]): Array[Byte] = {
    require(pageLines.nonEmpty, "fixture needs at least one page")
    val n = pageLines.size
    val s0 = 4 + n // the ObjStm; packed objects are 1..3+n
    val xn = s0 + n + 1 // the xref stream object

    val packed: Seq[(Int, String)] =
      Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
          2 -> (s"<< /Type /Pages /Kids [ " +
            (0 until n).map(i => s"${4 + i} 0 R").mkString(" ") +
            s" ] /Count $n >>"),
          3 -> ("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
            "/Encoding /WinAnsiEncoding >>")) ++
        (0 until n).map { i =>
          (4 + i) -> (s"<< /Type /Page /Parent 2 0 R " +
            s"/MediaBox [ 0 0 612 792 ] " +
            s"/Resources << /Font << /F1 3 0 R >> >> " +
            s"/Contents ${s0 + 1 + i} 0 R >>")
        }
    val bodies = packed.map(_._2 + "\n")
    val objOffsets = bodies.scanLeft(0)(_ + _.length).init
    val header = packed.zip(objOffsets)
      .map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val stmPayload = ByteCodecs.deflate(
      (header + bodies.mkString).getBytes("ISO-8859-1"))

    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    val offsets = scala.collection.mutable.Map[Int, Long]()
    w("%PDF-1.5\n%âãÏÓ\n")
    offsets(s0) = out.size().toLong
    w(s"$s0 0 obj\n<< /Type /ObjStm /N ${packed.size} " +
      s"/First ${header.length} /Length ${stmPayload.length} " +
      s"/Filter /FlateDecode >>\nstream\n")
    out.write(stmPayload, 0, stmPayload.length)
    w("\nendstream\nendobj\n")
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val num = s0 + 1 + i
      val payload = ByteCodecs.deflate(content(lines))
      offsets(num) = out.size().toLong
      w(s"$num 0 obj\n<< /Length ${payload.length} " +
        s"/Filter /FlateDecode >>\nstream\n")
      out.write(payload, 0, payload.length)
      w("\nendstream\nendobj\n")
    }

    // the companion xref STREAM: type-2 rows for the packed objects,
    // type-1 for the ObjStm / contents / itself (W = [1 3 2])
    val xsOff = out.size().toLong
    offsets(xn) = xsOff
    def row(t: Int, f2: Long, f3: Int): Array[Byte] = Array(
      t.toByte, ((f2 >> 16) & 0xFF).toByte, ((f2 >> 8) & 0xFF).toByte,
      (f2 & 0xFF).toByte, ((f3 >> 8) & 0xFF).toByte, (f3 & 0xFF).toByte)
    val rows: Seq[Array[Byte]] =
      Seq(row(0, 0, 65535)) ++
        packed.zipWithIndex.map { case ((num, _), idx) =>
          require(num == idx + 1); row(2, s0, idx) } ++
        Seq(row(1, offsets(s0), 0)) ++
        (0 until n).map(i => row(1, offsets(s0 + 1 + i), 0)) ++
        Seq(row(1, xsOff, 0))
    require(rows.size == xn + 1)
    val xrefPayload = ByteCodecs.deflate(rows.flatten.toArray)
    w(s"$xn 0 obj\n<< /Type /XRef /Size ${xn + 1} /W [ 1 3 2 ] " +
      s"/Root 1 0 R /Length ${xrefPayload.length} " +
      s"/Filter /FlateDecode >>\nstream\n")
    out.write(xrefPayload, 0, xrefPayload.length)
    w("\nendstream\nendobj\n")

    // the CLASSIC table startxref points at: packed objects FREE,
    // direct objects live, trailer carrying /XRefStm
    val tableOff = out.size().toLong
    w(s"xref\n0 ${xn + 1}\n")
    w("0000000000 65535 f \n")
    (1 to 3 + n).foreach(_ => w("0000000000 65535 f \n"))
    (s0 to xn).foreach(i => w(f"${offsets(i)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${xn + 1} /Root 1 0 R /XRefStm $xsOff >>\n")
    w(s"startxref\n$tableOff\n%%EOF\n")
    out.toByteArray
  }

  /** PDF 1.5-layout fixture: the catalog / pages / font / page dicts
    * live inside a `/Type/ObjStm` object stream, the cross-reference
    * is a `/Type/XRef` STREAM whose binary rows are PNG-Up-predicted
    * (`/DecodeParms << /Predictor 12 /Columns 6 >>`) — the layout
    * modern PDF writers actually emit, exercising the type-2 entry,
    * object-stream and predictor paths end to end. */
  def fixture15(pageLines: Seq[Seq[String]]): Array[Byte] = {
    require(pageLines.nonEmpty, "fixture needs at least one page")
    val n = pageLines.size
    // numbering: 1 catalog, 2 pages, 3 font, 4..3+n page dicts (all
    // packed, type-2), S = 4+n the ObjStm, S+1..S+n content streams,
    // X = S+n+1 the xref stream
    val s0 = 4 + n
    val xn = s0 + n + 1

    // ---- the object stream payload
    val packed: Seq[(Int, String)] =
      Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
          2 -> (s"<< /Type /Pages /Kids [ " +
            (0 until n).map(i => s"${4 + i} 0 R").mkString(" ") +
            s" ] /Count $n >>"),
          3 -> ("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
            "/Encoding /WinAnsiEncoding >>")) ++
        (0 until n).map { i =>
          (4 + i) -> (s"<< /Type /Page /Parent 2 0 R " +
            s"/MediaBox [ 0 0 612 792 ] " +
            s"/Resources << /Font << /F1 3 0 R >> >> " +
            s"/Contents ${s0 + 1 + i} 0 R >>")
        }
    val bodies = packed.map(_._2 + "\n")
    val objOffsets = bodies.scanLeft(0)(_ + _.length).init
    val header = packed.zip(objOffsets)
      .map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val stmRaw = (header + bodies.mkString).getBytes("ISO-8859-1")
    val stmPayload = ByteCodecs.deflate(stmRaw)

    // ---- assemble the file
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    val offsets = scala.collection.mutable.Map[Int, Long]()
    w("%PDF-1.5\n%\u00E2\u00E3\u00CF\u00D3\n")
    offsets(s0) = out.size().toLong
    w(s"$s0 0 obj\n<< /Type /ObjStm /N ${packed.size} " +
      s"/First ${header.length} /Length ${stmPayload.length} " +
      s"/Filter /FlateDecode >>\nstream\n")
    out.write(stmPayload, 0, stmPayload.length)
    w("\nendstream\nendobj\n")
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val num = s0 + 1 + i
      val payload = ByteCodecs.deflate(content(lines))
      offsets(num) = out.size().toLong
      w(s"$num 0 obj\n<< /Length ${payload.length} " +
        s"/Filter /FlateDecode >>\nstream\n")
      out.write(payload, 0, payload.length)
      w("\nendstream\nendobj\n")
    }

    // ---- xref stream rows (W = [1 3 2], 6 bytes each), PNG-Up predicted
    val xrefOff = out.size().toLong
    offsets(xn) = xrefOff
    def row(t: Int, f2: Long, f3: Int): Array[Byte] = Array(
      t.toByte, ((f2 >> 16) & 0xFF).toByte, ((f2 >> 8) & 0xFF).toByte,
      (f2 & 0xFF).toByte, ((f3 >> 8) & 0xFF).toByte, (f3 & 0xFF).toByte)
    val rows: Seq[Array[Byte]] =
      Seq(row(0, 0, 65535)) ++
        packed.zipWithIndex.map { case ((num, _), idx) =>
          require(num == idx + 1); row(2, s0, idx) } ++
        Seq(row(1, offsets(s0), 0)) ++
        (0 until n).map(i => row(1, offsets(s0 + 1 + i), 0)) ++
        Seq(row(1, xrefOff, 0))
    require(rows.size == xn + 1)
    // PNG Up filter (type 2): each row stores raw - rowAbove
    val predicted = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](6)
    rows.foreach { r =>
      predicted.write(2)
      var i = 0
      while (i < 6) {
        predicted.write((r(i) - prev(i)) & 0xFF)
        i += 1
      }
      prev = r
    }
    val xrefPayload = ByteCodecs.deflate(predicted.toByteArray)
    w(s"$xn 0 obj\n<< /Type /XRef /Size ${xn + 1} /W [ 1 3 2 ] " +
      s"/Root 1 0 R /Length ${xrefPayload.length} /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns 6 >> >>\nstream\n")
    out.write(xrefPayload, 0, xrefPayload.length)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }
}
