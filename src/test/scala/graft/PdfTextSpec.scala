package graft

import graft.llm.PdfText

/** PDF text extraction: fixture round-trips (raw + Flate, WinAnsi
  * high bytes through octal escapes, multi-page), the content-stream
  * operator contract (Td, TD, T-star, Tm, quote ops, TJ, hex
  * strings), /Differences
  * encodings, and the loud refusals (encryption, xref streams,
  * non-Flate filters, Type0; MacRoman now decodes). */
class PdfTextSpec extends SparkSpec {
  import spark.implicits._

  test("fixture round-trip: lines, pages, flate x raw, indirect /Length") {
    for (flate <- Seq(false, true)) {
      val pdf = PdfText.fixture(Seq(
        Seq("first line", "second (with) parens", "back\\slash"),
        Seq("page two")), flate = flate)
      assert(PdfText.isPdf(pdf))
      val pages = PdfText.pages(pdf)
      assert(pages == Seq(
        "first line\nsecond (with) parens\nback\\slash", "page two"),
        s"flate=$flate")
      assert(PdfText.extractText(pdf) ==
        "first line\nsecond (with) parens\nback\\slash\n\npage two")
    }
  }

  test("WinAnsi high bytes survive the octal-escape round trip") {
    val text = "café — €5 ™ Šœž"
    val pdf = PdfText.fixture(Seq(Seq(text)))
    assert(PdfText.extractText(pdf) == text)
    // unmappable chars refuse at WRITE time (fixture is honest)
    intercept[IllegalArgumentException] {
      PdfText.fixture(Seq(Seq("snowman ☃")))
    }
  }

  // ---- hand-built single-page PDFs for operator-level control ----

  private def rawPdf(content: String,
                     fontDict: String = "<< /Type /Font /Subtype /Type1 " +
                       "/BaseFont /Helvetica /Encoding /WinAnsiEncoding >>",
                     filterStr: String = "",
                     trailerExtra: String = "",
                     lengthOverride: String = ""): Array[Byte] = {
    val lenStr =
      if (lengthOverride.isEmpty) content.length.toString else lengthOverride
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Resources " +
        "<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      s"<< /Length $lenStr$filterStr >>\nstream\n$content\nendstream",
      fontDict)
    val sb = new StringBuilder("%PDF-1.4\n")
    val offs = objs.zipWithIndex.map { case (o, i) =>
      val off = sb.length
      sb.append(s"${i + 1} 0 obj\n$o\nendobj\n")
      off
    }
    val xref = sb.length
    sb.append(s"xref\n0 ${objs.size + 1}\n0000000000 65535 f \n")
    offs.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R " +
      s"$trailerExtra>>\nstartxref\n$xref\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }

  test("operator contract: Td/TD/T*/Tm line moves, '/\"/TJ shows, hex strings") {
    val content = "BT /F1 12 Tf 72 720 Td (first) Tj " +
      "10 0 Td ( same line) Tj " +
      "0 -14 Td (second) Tj " +
      "T* (third) Tj " +
      "1 0 0 1 72 600 Tm (fourth) Tj " +
      "(fifth) ' " +
      "(x) (y) (sixth) \" " +
      "[(kerned) -150 (words) 20 (glued)] TJ " +
      "T* <68656C6C6F> Tj " +
      "T* (\\101\\102 \\(esc\\)) Tj ET"
    assert(PdfText.extractText(rawPdf(content)) ==
      "first same line\nsecond\nthird\nfourth\nfifth\n" +
      "sixthkerned wordsglued\nhello\nAB (esc)")
  }

  test("encodings: Standard quotes by default; /Differences override") {
    // no /Encoding => StandardEncoding: 0x27 is quoteright, 0x60 quoteleft
    val std = rawPdf("BT /F1 12 Tf (it's \\140quoted\\47) Tj ET",
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    assert(PdfText.extractText(std) == "it’s ‘quoted’")
    val diff = rawPdf("BT /F1 12 Tf (AB C) Tj ET",
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding << /BaseEncoding /WinAnsiEncoding " +
        "/Differences [ 65 /eacute /emdash /unknowable ] >> >>")
    // A->é, B->—, C (67) -> the unknown glyph maps to U+FFFD
    assert(PdfText.extractText(diff) == "é— �")
  }

  test("refusals: encryption, xref streams, filters, Type0") {
    val enc = intercept[IllegalArgumentException] {
      PdfText.extractText(rawPdf("BT (x) Tj ET",
        trailerExtra = "/Encrypt 5 0 R "))
    }
    assert(enc.getMessage.contains("encrypted"))
    val xs = intercept[IllegalArgumentException] {
      // startxref pointing at a non-XRef object refuses loudly
      PdfText.extractText(
        "%PDF-1.4\n1 0 obj\n<< >>\nendobj\nstartxref\n9\n%%EOF\n"
          .getBytes("US-ASCII"))
    }
    assert(xs.getMessage.contains("XRef"))
    val flt = intercept[IllegalArgumentException] {
      PdfText.extractText(rawPdf("BT (x) Tj ET",
        filterStr = " /Filter /DCTDecode"))
    }
    assert(flt.getMessage.contains("filter"))
    // Type0 without /ToUnicode: codes are unrecoverable glyph indices
    val t0 = intercept[IllegalArgumentException] {
      PdfText.extractText(rawPdf("BT /F1 12 Tf (x) Tj ET",
        fontDict = "<< /Type /Font /Subtype /Type0 /BaseFont /X " +
          "/Encoding /Identity-H >>"))
    }
    assert(t0.getMessage.contains("ToUnicode"))
    // Type0 under a named (non-Identity-H) CMap needs external files
    val t0v = intercept[IllegalArgumentException] {
      PdfText.extractText(rawPdf("BT /F1 12 Tf (x) Tj ET",
        fontDict = "<< /Type /Font /Subtype /Type0 /BaseFont /X " +
          "/Encoding /UniJIS-UCS2-H >>"))
    }
    assert(t0v.getMessage.contains("Identity-H"))
    intercept[IllegalArgumentException] {
      PdfText.extractText("not a pdf".getBytes("US-ASCII"))
    }
  }

  test("MacRomanEncoding: Appendix D table, divergent high half") {
    // bytes where MacRoman and WinAnsi DISAGREE: 0x8E é (WinAnsi Ž),
    // 0xD1 — (WinAnsi Ñ), 0xDE fi-ligature (WinAnsi Þ), 0xD6 ÷
    // (WinAnsi Ö), 0xC4 ƒ (WinAnsi Ä), 0xDB ¤ (the PDF table keeps
    // currency where Mac OS Roman later put €; WinAnsi has Û)
    val mac = PdfText.extractText(rawPdf(
      "BT /F1 12 Tf (\\216 \\321 \\336 \\326 \\304 \\333) Tj ET",
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /MacRomanEncoding >>"))
    assert(mac == "é — ﬁ ÷ ƒ ¤")
    // an unmapped slot (0xB0: infinity is NOT in the Adobe Latin
    // set) decodes as loud U+FFFD, the /Differences policy
    val unmapped = PdfText.extractText(rawPdf(
      "BT /F1 12 Tf (\\260) Tj ET",
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /MacRomanEncoding >>"))
    assert(unmapped == "�")
    // as /BaseEncoding under /Differences
    val diff = PdfText.extractText(rawPdf(
      "BT /F1 12 Tf (\\216\\101) Tj ET",
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding << /BaseEncoding /MacRomanEncoding " +
        "/Differences [ 65 /emdash ] >> >>"))
    assert(diff == "é—")
    // fixture round-trip through the writer's MacRoman escape
    val fx = PdfText.fixture(Seq(Seq("Résumé — ﬁn ÷ ƒ ¤", "plain")),
      encoding = "MacRomanEncoding")
    assert(PdfText.extractText(fx) == "Résumé — ﬁn ÷ ƒ ¤\nplain")
  }

  test("PDF 1.5 layout: xref stream + object stream + PNG-Up predictor") {
    val pages = Seq(
      Seq("first line", "with (parens) too", "café — end"),
      Seq("page two"))
    val p15 = PdfText.fixture15(pages)
    assert(PdfText.isPdf(p15))
    // byte layouts differ, extraction must not: 1.5 == classic
    assert(PdfText.pages(p15) == PdfText.pages(PdfText.fixture(pages)))
    assert(PdfText.pages(p15) == Seq(
      "first line\nwith (parens) too\ncafé — end", "page two"))
    // an ObjStm whose xref entry points at another ObjStm refuses
    // (cycle guard) — patch a type-2 entry to reference itself is
    // structural; the cheap probe: object stream number must be a
    // type-1 entry, verified by the happy path above
  }

  test("incremental update: /Prev xref chain, newest entry wins") {
    val base = new String(rawPdf("BT /F1 12 Tf (old text) Tj ET"),
      "ISO-8859-1")
    val oldXref = "startxref\\n(\\d+)".r.findFirstMatchIn(base).get.group(1)
    val newContent = "BT /F1 12 Tf (new text) Tj ET"
    val sb = new StringBuilder(base)
    val obj4Off = sb.length
    sb.append(s"4 0 obj\n<< /Length ${newContent.length} >>\n" +
      s"stream\n$newContent\nendstream\nendobj\n")
    val xref2 = sb.length
    sb.append(f"xref\n4 1\n$obj4Off%010d 00000 n \n" +
      s"trailer\n<< /Size 6 /Root 1 0 R /Prev $oldXref >>\n" +
      s"startxref\n$xref2\n%%EOF\n")
    assert(PdfText.extractText(sb.toString.getBytes("ISO-8859-1")) ==
      "new text")
  }

  test("hostile: /Length self-reference refuses loudly, never StackOverflow") {
    // object 4's /Length points at object 4 itself: resolving it
    // re-enters the same parse — must surface as a catchable
    // IllegalArgumentException (SOE is fatal and would escape the
    // streaming intake's per-document Try)
    val ex = intercept[IllegalArgumentException] {
      PdfText.extractText(rawPdf("BT (x) Tj ET", lengthOverride = "4 0 R"))
    }
    assert(ex.getMessage.contains("cycle"))
  }

  test("free entries shadow: a newer 'f' tombstone beats an older offset") {
    val base = new String(rawPdf("BT /F1 12 Tf (old text) Tj ET"),
      "ISO-8859-1")
    val oldXref = "startxref\\n(\\d+)".r.findFirstMatchIn(base).get.group(1)
    val sb = new StringBuilder(base)
    // update 1: replace the content object
    val newContent = "BT /F1 12 Tf (new text) Tj ET"
    val obj4Off = sb.length
    sb.append(s"4 0 obj\n<< /Length ${newContent.length} >>\n" +
      s"stream\n$newContent\nendstream\nendobj\n")
    val xref2 = sb.length
    sb.append(f"xref\n4 1\n$obj4Off%010d 00000 n \n" +
      s"trailer\n<< /Size 6 /Root 1 0 R /Prev $oldXref >>\n" +
      s"startxref\n$xref2\n%%EOF\n")
    // update 2: DELETE the content object (mark free). The stale
    // offsets in both older sections must not resurrect it — the
    // page resolves /Contents to null and extracts empty text.
    val xref3 = sb.length
    sb.append("xref\n4 1\n0000000000 65535 f \n" +
      s"trailer\n<< /Size 6 /Root 1 0 R /Prev $xref2 >>\n" +
      s"startxref\n$xref3\n%%EOF\n")
    assert(PdfText.extractText(sb.toString.getBytes("ISO-8859-1")) == "")
  }

  test("filter decoders: unit round-trips against the fixture encoders") {
    val rnd = new scala.util.Random(7)
    val payloads = Seq(
      Array.emptyByteArray,
      "hello filters".getBytes("US-ASCII"),
      Array.fill(257)(0.toByte), // 'z' groups + a partial group
      Array.tabulate(4096)(i => (i * 31 % 251).toByte),
      Array.fill(1000)((rnd.nextInt(256) - 128).toByte))
    payloads.foreach { p =>
      assert(PdfText.asciiHexDecode(PdfText.asciiHexEncode(p)).sameElements(p))
      assert(PdfText.ascii85Decode(PdfText.ascii85Encode(p)).sameElements(p))
      assert(PdfText.runLengthDecode(PdfText.runLengthEncode(p))
        .sameElements(p))
    }
    // odd hex digit implies a trailing 0 nibble
    assert(PdfText.asciiHexDecode("41 4>".getBytes("US-ASCII"))
      .sameElements(Array('A'.toByte, 0x40.toByte)))
    // ascii85 EOD is mandatory (refuse-loudly convention)
    intercept[IllegalArgumentException] {
      PdfText.ascii85Decode("87cUR".getBytes("US-ASCII"))
    }
    // runlength EOD is mandatory
    intercept[IllegalArgumentException] {
      PdfText.runLengthDecode(Array(2.toByte, 'a'.toByte, 'b'.toByte,
        'c'.toByte))
    }
  }

  test("filtered fixtures: every filter and a chain, extraction-invariant") {
    val pages = Seq(Seq("first line", "with (parens) too", "café — end"),
                    Seq("page two"))
    val expected = PdfText.pages(PdfText.fixture(pages))
    for (filters <- Seq(Seq("LZWDecode"), Seq("ASCIIHexDecode"),
                        Seq("ASCII85Decode"), Seq("RunLengthDecode"),
                        Seq("ASCII85Decode", "FlateDecode"),
                        Seq("ASCIIHexDecode", "LZWDecode"))) {
      assert(PdfText.pages(PdfText.fixtureFiltered(pages, filters))
        == expected, s"filters=$filters")
    }
  }

  test("Type0/Identity-H + ToUnicode: CJK and symbols round-trip") {
    val pages = Seq(
      Seq("doc one", "汉字文本提取", "русский текст", "∑ ≠ ☃"),
      Seq("page two — café"))
    val pdf = PdfText.fixtureType0(pages)
    assert(PdfText.pages(pdf) == Seq(
      "doc one\n汉字文本提取\nрусский текст\n∑ ≠ ☃",
      "page two — café"))
    // astral chars are two surrogates: the BMP-only fixture refuses
    intercept[IllegalArgumentException] {
      PdfText.fixtureType0(Seq(Seq("emoji 😀")))
    }
  }

  test("ToUnicode CMap: bfrange array form, multi-char and surrogate targets") {
    val cmap = ("1 beginbfrange\n<0001> <0003> [<0041> <FB01> <D83DDE00>]\n" +
      "endbfrange\n2 beginbfchar\n<0010> <00660066>\n<0011> <0058>\n" +
      "endbfchar\n").getBytes("US-ASCII")
    val m = PdfText.parseToUnicode(cmap)
    assert(m(1) == "A")
    assert(m(2) == "ﬁ") // the fi ligature
    assert(m(3) == "😀") // astral target via a surrogate pair
    assert(m(0x10) == "ff") // one code, two chars
    assert(m(0x11) == "X")
    // malformed: bfrange array shorter than the range refuses
    intercept[IllegalArgumentException] {
      PdfText.parseToUnicode(
        "1 beginbfrange\n<0001> <0003> [<0041>]\nendbfrange\n"
          .getBytes("US-ASCII"))
    }
  }

  test("hybrid reference: XRefStm wins over the table's free tombstones") {
    val pages = Seq(
      Seq("first line", "with (parens) too", "café — end"),
      Seq("page two"))
    val hybrid = PdfText.fixtureHybrid(pages)
    assert(PdfText.isPdf(hybrid))
    // the classic table lists the packed catalog/pages/font as FREE;
    // only the /XRefStm stream's type-2 entries can resolve them
    assert(PdfText.pages(hybrid) == PdfText.pages(PdfText.fixture(pages)))
  }

  test("Form XObjects: Do executes recursively; images skip; cycles refuse") {
    val pdf = PdfText.fixtureWithForm(
      Seq("body line one", "body (two)"), Seq("stamp — café"))
    assert(PdfText.extractText(pdf) ==
      "body line one\nbody (two)\nstamp — café")

    // hand-built: a Form WITHOUT its own /Resources inherits the
    // caller's fonts; an Image XObject is silently not-text; an
    // unknown XObject name is ignored
    val inner = "BT /F1 12 Tf 0 -14 Td (inherited) Tj ET"
    def pdfWith(content: String, xobjDicts: String,
                streams: Seq[(Int, String, String)]): Array[Byte] = {
      val sb = new StringBuilder("%PDF-1.4\n")
      val offs = scala.collection.mutable.ArrayBuffer[Int]()
      def obj(num: Int, body: String): Unit = {
        offs += sb.length
        sb.append(s"$num 0 obj\n$body\nendobj\n")
      }
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      obj(2, "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
      obj(3, "<< /Type /Page /Parent 2 0 R /Resources " +
        s"<< /Font << /F1 5 0 R >> /XObject << $xobjDicts >> >> " +
        "/Contents 4 0 R >>")
      obj(4, s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
      obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /WinAnsiEncoding >>")
      streams.foreach { case (num, dict, body) =>
        obj(num, s"<< $dict /Length ${body.length} >>\nstream\n$body\nendstream")
      }
      val xref = sb.length
      sb.append(s"xref\n0 ${offs.size + 1}\n0000000000 65535 f \n")
      offs.foreach(o => sb.append(f"$o%010d 00000 n \n"))
      sb.append(s"trailer\n<< /Size ${offs.size + 1} /Root 1 0 R >>\n" +
        s"startxref\n$xref\n%%EOF\n")
      sb.toString.getBytes("ISO-8859-1")
    }
    val outer = "BT /F1 12 Tf 72 720 Td (outer) Tj ET /X1 Do /IMG Do " +
      "/Nope Do"
    val mixed = pdfWith(outer, "/X1 6 0 R /IMG 7 0 R",
      Seq((6, "/Type /XObject /Subtype /Form /BBox [ 0 0 1 1 ]", inner),
          (7, "/Type /XObject /Subtype /Image /Width 1 /Height 1", "x")))
    assert(PdfText.extractText(mixed) == "outer\ninherited")

    // §8.10.2 state inheritance: a Form without its own Tf decodes
    // show strings through the CALLER's current font — 0xE9 is é
    // under the page's WinAnsi F1 but Ø under a reset-to-Standard
    // table (the silent-wrong-text regression)
    val inherit = pdfWith(
      "BT /F1 12 Tf 72 720 Td (caf) Tj ET /XF Do",
      "/XF 6 0 R",
      Seq((6, "/Type /XObject /Subtype /Form /BBox [ 0 0 1 1 ]",
        "BT 0 -14 Td (\\351) Tj ET")))
    assert(PdfText.extractText(inherit) == "caf\né")

    // a self-referencing Form (cycle) dies at the depth cap as a
    // catchable IAE, never a stack overflow
    val cyclic = pdfWith(outer, "/X1 6 0 R",
      Seq((6, "/Type /XObject /Subtype /Form /BBox [ 0 0 1 1 ]",
        "(loop) Tj /X1 Do")))
    val ex = intercept[IllegalArgumentException] {
      PdfText.extractText(cyclic)
    }
    assert(ex.getMessage.contains("nesting too deep"))

    // exponential fan-out: 26 forms each invoking the NEXT one
    // TWICE — depth stays at 26 (inside MaxDepth) while invocations
    // double per level (2^26 without a budget, a CPU/OOM primitive
    // in a few-KB file); the work budget refuses as catchable IAE
    val fanStreams = (0 until 26).map { i =>
      val body =
        if (i == 25) "BT (x) Tj ET"
        else s"/G${i + 1} Do /G${i + 1} Do"
      (6 + i, "/Type /XObject /Subtype /Form /BBox [ 0 0 1 1 ]", body)
    }
    val fanDicts = (0 until 26).map(i => s"/G$i ${6 + i} 0 R")
      .mkString(" ")
    val bomb = pdfWith("/G0 Do", fanDicts, fanStreams)
    val exb = intercept[IllegalArgumentException] {
      PdfText.extractText(bomb)
    }
    assert(exb.getMessage.contains("invocations"))
  }

  test("Form resources fall back per NAME to the caller's") {
    // a Form shipping a PARTIAL /Font dict (/F2 only) whose content
    // ALSO names the page-level /F1: both must decode through their
    // own tables — the old all-or-nothing map swap left /F1 a miss
    // and decoded its bytes through stale F2 (Standard's 0xE9 is Ø,
    // WinAnsi's is é — the silent-wrong-text shape)
    val sb = new StringBuilder("%PDF-1.4\n")
    val offs = scala.collection.mutable.ArrayBuffer[Int]()
    def obj(num: Int, body: String): Unit = {
      offs += sb.length
      sb.append(s"$num 0 obj\n$body\nendobj\n")
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /Resources " +
      "<< /Font << /F1 5 0 R >> /XObject << /XF 7 0 R >> >> " +
      "/Contents 4 0 R >>")
    val outer = "BT /F1 12 Tf (\\351) Tj ET /XF Do"
    obj(4, s"<< /Length ${outer.length} >>\nstream\n$outer\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>")
    obj(6, "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman " +
      "/Encoding /StandardEncoding >>")
    val form = "BT /F2 12 Tf 0 -14 Td (\\047) Tj " +
      "/F1 12 Tf 0 -14 Td (\\351) Tj ET"
    obj(7, "<< /Type /XObject /Subtype /Form /BBox [ 0 0 1 1 ] " +
      "/Resources << /Font << /F2 6 0 R >> >> " +
      s"/Length ${form.length} >>\nstream\n$form\nendstream")
    val xref = sb.length
    sb.append(s"xref\n0 ${offs.size + 1}\n0000000000 65535 f \n")
    offs.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${offs.size + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xref\n%%EOF\n")
    val pdf = sb.toString.getBytes("ISO-8859-1")
    // page é; form: ’ under its OWN Standard F2, then é under the
    // page's WinAnsi F1 resolved through the per-name fallback
    assert(PdfText.extractText(pdf) == "é\n’\né")
  }

  test("/Info metadata: UTF-16BE titles, ASCII strings, FFFD high bytes") {
    val pdf = PdfText.fixtureWithInfo(
      Seq(Seq("body text")),
      Seq("Title" -> "Résumé — 完了 😀", // non-ASCII → UTF-16BE hex
          "Author" -> "plain (ascii) au\\thor",
          "Producer" -> "graft 1.0"))
    val m = PdfText.info(pdf)
    assert(m("Title") == "Résumé — 完了 😀")
    assert(m("Author") == "plain (ascii) au\\thor")
    assert(m("Producer") == "graft 1.0")
    // extraction of the page text is untouched by /Info
    assert(PdfText.extractText(pdf) == "body text")
    // a PDF without /Info yields no metadata, never an error
    assert(PdfText.info(PdfText.fixture(Seq(Seq("x")))).isEmpty)
    // /Info rides the same xref discipline: a dangling reference
    // fails loudly instead of inventing empty metadata
    intercept[IllegalArgumentException] {
      PdfText.info(rawPdf("BT (x) Tj ET",
        trailerExtra = "/Info 9 0 R "))
    }
    // PDFDocEncoding high bytes decode as U+FFFD (loud, not
    // plausibly-wrong — the table is close to WinAnsi but not it)
    val direct = PdfText.decodeTextString(
      "café".getBytes("ISO-8859-1"))
    assert(direct == "caf�")
    // UTF-16BE BOM path, astral pair survives
    val utf = Array[Byte](0xFE.toByte, 0xFF.toByte) ++
      "A😀".getBytes("UTF-16BE")
    assert(PdfText.decodeTextString(utf) == "A😀")
    // PDF 2.0 UTF-8 BOM path (§7.9.2.2): modern writers' /Info
    // strings decode correctly instead of FFFD-laced PDFDocEncoding
    val utf8 = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "café 😀".getBytes("UTF-8")
    assert(PdfText.decodeTextString(utf8) == "café 😀")
  }

  test("extract(): narrow dataframe path") {
    val rows = Seq(
      (1L, PdfText.fixture(Seq(Seq("doc one", "line two")))),
      (2L, PdfText.fixture(Seq(Seq("p1"), Seq("p2"), Seq("p3")))))
      .toDF("doc_id", "pdf")
    val got = PdfText.extract(rows, "doc_id", "pdf").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(got(0) == ((1L, 1, "doc one\nline two")))
    assert(got(1) == ((2L, 3, "p1\n\np2\n\np3")))
  }
}
