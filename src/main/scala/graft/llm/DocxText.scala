package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DOCX text extraction — after PDF, the next biggest document
  * source in real crawls ([[PdfText]]'s sibling for
  * `application/vnd.openxmlformats-officedocument.wordprocessingml.
  * document` responses).
  *
  * A .docx is a ZIP of OOXML parts; the text lives in
  * `word/document.xml` as `w:p` paragraphs of `w:r` runs. This walks
  * that part with the same dependency-free JDK zip + hardened DOM
  * machinery the xlsx reader uses ([[graft.sources.ExcelStatsDb]]):
  *   - every `w:p` in document order — including paragraphs nested
  *     in tables (`w:tbl`/`w:tr`/`w:tc`) and other containers —
  *     yields exactly ONE output line (empty paragraphs included),
  *     so the contract is symbolic and SQL-replayable
  *   - within a paragraph, `w:t` text nodes concatenate in document
  *     order (runs split mid-word by formatting/spellcheck state
  *     rejoin seamlessly; `xml:space="preserve"` whitespace survives
  *     because DOM text content is taken verbatim), `w:tab` → TAB,
  *     `w:br` and `w:cr` → a newline INSIDE the paragraph's line
  *   - deleted-text nodes (`w:delText`, tracked changes) are NOT
  *     emitted — they are not document text
  *   - REFUSES loudly: OLE/CFB containers (legacy binary `.doc` AND
  *     encrypted OOXML, which wraps the package in CFB), non-zip
  *     payloads, archives without `word/document.xml`, and a
  *     `word/document.xml` part inflating past the bomb cap
  *
  * XML parsing is XXE-hardened exactly like [[graft.sources.Sitemap]]
  * (crawled documents are untrusted: DOCTYPE, external entities and
  * XInclude disabled).
  *
  * Scale shape: [[extract]] is a narrow per-row map (bytes in, text
  * out) — at crawl scale it runs inside the same task as the WARC
  * record walk, exactly like [[PdfText.extract]].
  */
object DocxText {

  /** Bomb cap for the inflated document.xml part: a crafted local
    * file header can declare any size; meter actual inflation. */
  private val MaxPartBytes = 256L << 20

  def isZip(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'P' && b(1) == 'K' &&
      (b(2) == 3 || b(2) == 5 || b(2) == 7)

  /** OLE/CFB magic D0 CF 11 E0 A1 B1 1A E1 — legacy .doc, and the
    * wrapper encrypted OOXML ships in. */
  def isOle(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xFF) == 0xD0 && (b(1) & 0xFF) == 0xCF &&
      (b(2) & 0xFF) == 0x11 && (b(3) & 0xFF) == 0xE0 &&
      (b(4) & 0xFF) == 0xA1 && (b(5) & 0xFF) == 0xB1 &&
      (b(6) & 0xFF) == 0x1A && (b(7) & 0xFF) == 0xE1

  /** All paragraphs joined with newlines. */
  def extractText(docx: Array[Byte]): String =
    paragraphs(docx).mkString("\n")

  /** One string per `w:p`, document order. */
  def paragraphs(docx: Array[Byte]): Seq[String] = {
    require(!isOle(docx),
      "OLE container (legacy .doc or encrypted OOXML) unsupported " +
        "(refusing, not mis-decoding)")
    require(isZip(docx), "not a DOCX (missing zip magic)")
    val part = documentPart(docx)
    val doc = graft.util.SecureXml.builder().parse(new java.io.ByteArrayInputStream(part))
    OoxmlParagraphs(doc.getDocumentElement, Runs, "DOCX")
  }

  /** Footnote + endnote text: one string per REAL note (the
    * separator/continuation pseudo-notes Word always writes are
    * layout, not text — excluded by their `w:type` attribute), note
    * paragraphs joined with newlines, footnotes part first then
    * endnotes, each part in document order. Documents without the
    * parts yield no notes — both are optional in the package. */
  def notes(docx: Array[Byte]): Seq[String] = {
    require(!isOle(docx),
      "OLE container (legacy .doc or encrypted OOXML) unsupported " +
        "(refusing, not mis-decoding)")
    require(isZip(docx), "not a DOCX (missing zip magic)")
    Seq("word/footnotes.xml", "word/endnotes.xml").flatMap { part =>
      partBytes(docx, part).toSeq.flatMap { bytes =>
        val doc = graft.util.SecureXml.builder().parse(new java.io.ByteArrayInputStream(bytes))
        val root = doc.getDocumentElement
        val kids = root.getChildNodes
        (0 until kids.getLength).flatMap { i =>
          val k = kids.item(i)
          if (k.getNodeType == org.w3c.dom.Node.ELEMENT_NODE &&
              Set("footnote", "endnote")(OoxmlParagraphs.localName(k))) {
            // attribute matched on LOCAL name (prefix bindings vary)
            val typ = Option(k.getAttributes).flatMap { a =>
              (0 until a.getLength).map(a.item(_)).collectFirst {
                case at if at.getLocalName == "type" ||
                    at.getNodeName.endsWith(":type") => at.getNodeValue
              }
            }.getOrElse("")
            // ST_FtnEdn: "normal" is the schema DEFAULT — Word omits
            // it but other generators legally write it explicitly
            if (typ.isEmpty || typ == "normal")
              Some(OoxmlParagraphs(k, Runs, "DOCX").mkString("\n"))
            else None // separator / continuationSeparator / notice
          } else None
        }
      }
    }
  }

  /** (id, n_paragraphs, text) — narrow per-row extraction. */
  def extract(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val ps = paragraphs(bytes)
        (id, ps.length, ps.mkString("\n"))
      })
      .toDF("id", "n_paragraphs", "text")
  }

  /** The inflated word/document.xml bytes, bomb-capped. */
  private def documentPart(docx: Array[Byte]): Array[Byte] =
    partBytes(docx, "word/document.xml").getOrElse(
      throw new IllegalArgumentException(
        "not a DOCX (no word/document.xml in the archive)"))

  /** One named part's inflated bytes, bomb-capped via the shared
    * [[graft.util.ZipParts]] walk (early exit at the found part). */
  private def partBytes(docx: Array[Byte],
                        name: String): Option[Array[Byte]] =
    graft.util.ZipParts.collect(docx, keep = _ == name,
      maxTotalBytes = MaxPartBytes, stopAfterFirst = true)
      .headOption.map(_._2)

  /** Run elements of a `w:p`: w:tab TAB, w:br / w:cr newline; w:delText
    * (tracked deletions) and w:instrText (field instruction plumbing)
    * are not document text; w:pPr carries w:tabs/w:tab STOP definitions
    * — layout, not tab characters. */
  private val Runs = Map("tab" -> "\t", "br" -> "\n", "cr" -> "\n",
    "delText" -> "", "instrText" -> "", "pPr" -> "", "rPr" -> "")

  // ------------------------------------------------------------ fixture

  /** Minimal-but-real .docx writer for specs/oracle fixtures: the
    * three-part OOXML package (content types, rels, document), plus
    * a word/footnotes.xml part when `footnotes` is non-empty —
    * complete with the separator/continuationSeparator pseudo-notes
    * Word always writes (the reader must exclude them). Each
    * paragraph splits into two runs at the midpoint (the reader must
    * rejoin them seamlessly); `xml:space="preserve"` keeps edge
    * whitespace honest. */
  def fixture(paragraphs: Seq[String],
              footnotes: Seq[String] = Nil): Array[Byte] = {
    val w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    def para(sb: StringBuilder, p: String): Unit = {
      // never split inside a surrogate pair: getBytes("UTF-8") would
      // encode each lone surrogate as '?' and corrupt the fixture
      val half = p.length / 2
      val mid =
        if (half > 0 && half < p.length &&
            Character.isHighSurrogate(p.charAt(half - 1)) &&
            Character.isLowSurrogate(p.charAt(half))) half + 1
        else half
      val (a, b) = p.splitAt(mid)
      sb ++= "<w:p>"
      Seq(a, b).filter(_.nonEmpty).foreach { seg =>
        sb ++= "<w:r><w:t xml:space=\"preserve\">"
        sb ++= graft.util.SecureXml.escape(seg)
        sb ++= "</w:t></w:r>"
      }
      sb ++= "</w:p>"
    }
    val body = new StringBuilder
    body ++= "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
    body ++= s"""<w:document xmlns:w="$w"><w:body>"""
    paragraphs.foreach(p => para(body, p))
    body ++= "</w:body></w:document>"
    val fnPart = if (footnotes.isEmpty) None else Some {
      val fn = new StringBuilder
      fn ++= "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
      fn ++= s"""<w:footnotes xmlns:w="$w">"""
      fn ++= """<w:footnote w:type="separator" w:id="-1"><w:p/></w:footnote>"""
      fn ++= """<w:footnote w:type="continuationSeparator" w:id="0">""" +
        "<w:p/></w:footnote>"
      footnotes.zipWithIndex.foreach { case (note, i) =>
        fn ++= s"""<w:footnote w:id="${i + 1}">"""
        para(fn, note)
        fn ++= "</w:footnote>"
      }
      fn ++= "</w:footnotes>"
      fn.toString
    }

    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def part(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val xmlDecl =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    part("[Content_Types].xml", xmlDecl +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
      """</Types>""")
    part("_rels/.rels", xmlDecl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
      """</Relationships>""")
    part("word/document.xml", body.toString)
    fnPart.foreach(part("word/footnotes.xml", _))
    zos.close()
    bos.toByteArray
  }
}
