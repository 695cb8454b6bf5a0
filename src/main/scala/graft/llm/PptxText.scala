package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PPTX text extraction — the third OOXML sibling ([[DocxText]] /
  * xlsx complete the family) for
  * `application/vnd.openxmlformats-officedocument.presentationml.
  * presentation` responses: real crawls carry slide decks, and their
  * titles/bullets/notes are training text.
  *
  * A .pptx is a ZIP of OOXML parts; slide text lives in
  * `ppt/slides/slideN.xml` as DrawingML `a:p` paragraphs of `a:r`
  * runs (ECMA-376 part 1 §21.1.2), speaker notes in
  * `ppt/notesSlides/notesSlideN.xml` with the same element
  * vocabulary. This walks those parts with the same dependency-free
  * JDK zip + hardened DOM machinery as [[DocxText]]:
  *   - slides order by their part NUMBER (slide2 before slide10 —
  *     lexicographic zip order would interleave), notes likewise
  *   - within a slide, every `a:p` yields one line in document
  *     order; `a:t` text nodes concatenate (runs split mid-word by
  *     formatting rejoin seamlessly), `a:br` → a newline inside the
  *     paragraph's line
  *   - one zip walk collects ALL matching parts (not a per-slide
  *     re-scan — a 300-slide deck costs one pass), cumulative
  *     inflation bomb-capped
  *   - REFUSES loudly: OLE/CFB containers (legacy .ppt AND encrypted
  *     OOXML), non-zip payloads, packages without
  *     `ppt/presentation.xml`, hostile element nesting (depth-capped
  *     — StackOverflowError is FATAL and would escape per-document
  *     Try domains), parts inflating past the bomb cap
  *
  * XML parsing is XXE-hardened exactly like [[graft.sources.Sitemap]]
  * (DOCTYPE, external entities, XInclude disabled).
  *
  * Scale shape: [[extract]] is a narrow per-row map (bytes in, text
  * out) — at crawl scale it runs inside the WARC record walk task,
  * exactly like [[PdfText.extract]] / [[DocxText.extract]].
  */
object PptxText {

  private val MaxPartBytes = 256L << 20 // cumulative inflation cap
  private val MaxSlides = 10000 // hostile part-count bound

  // 1-6 digits: a hostile 20-digit part number must not escape as
  // NumberFormatException (the refusal contract is IAE), and no real
  // deck has a million slides
  private val SlideName = """ppt/slides/slide(\d{1,6})\.xml""".r
  private val NotesName = """ppt/notesSlides/notesSlide(\d{1,6})\.xml""".r

  /** One string per slide, slides in part-number order; within a
    * slide, one line per `a:p`. */
  def slides(pptx: Array[Byte]): Seq[String] =
    collectParts(pptx) { case SlideName(n) => n.toInt }
      .map { part => slideText(part) }

  /** One string per notes slide, part-number order. Decks without
    * speaker notes yield nothing — the parts are optional. */
  def notes(pptx: Array[Byte]): Seq[String] =
    collectParts(pptx) { case NotesName(n) => n.toInt }
      .map { part => slideText(part) }

  /** All slides joined with a blank line. */
  def extractText(pptx: Array[Byte]): String = slides(pptx).mkString("\n\n")

  /** (id, n_slides, text) — narrow per-row extraction. Fail-fast per
    * row like [[PdfText.extract]]: callers batching untrusted crawl
    * bytes wrap rows in their own Try (the streaming intake's
    * per-document failure domain). */
  def extract(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val ss = slides(bytes)
        (id, ss.length, ss.mkString("\n\n"))
      })
      .toDF("id", "n_slides", "text")
  }

  /** ONE pass over the zip ([[graft.util.ZipParts]] — the shared
    * bomb-capped walk): inflate every entry whose name the partial
    * function numbers, return bodies sorted by that number. Refusals
    * (OLE, non-zip, no presentation part) live here so both slide
    * and notes walks share them. */
  private def collectParts(pptx: Array[Byte])
                          (num: PartialFunction[String, Int])
      : Seq[Array[Byte]] = {
    require(!DocxText.isOle(pptx),
      "OLE container (legacy .ppt or encrypted OOXML) unsupported " +
        "(refusing, not mis-decoding)")
    require(DocxText.isZip(pptx), "not a PPTX (missing zip magic)")
    var sawPresentation = false
    val found = graft.util.ZipParts.collect(pptx,
      keep = num.isDefinedAt,
      maxTotalBytes = MaxPartBytes, maxEntries = 100000,
      onEntry = n => if (n == "ppt/presentation.xml") sawPresentation = true)
    require(found.size <= MaxSlides, s"PPTX part count exceeds $MaxSlides")
    require(sawPresentation,
      "not a PPTX (no ppt/presentation.xml in the archive)")
    found.map { case (name, bytes) => num(name) -> bytes }
      .sortBy(_._1).map(_._2)
  }

  /** Paragraph lines of one slide/notes part: every `a:p` in
    * document order yields one line; `a:t` verbatim, `a:br` a
    * newline within the line. Property bags (`a:pPr`, `a:rPr`,
    * `a:endParaRPr`) are layout, not text. */
  private def slideText(part: Array[Byte]): String = {
    val doc = graft.util.SecureXml.builder().parse(new java.io.ByteArrayInputStream(part))
    OoxmlParagraphs(doc.getDocumentElement, Runs, "PPTX").mkString("\n")
  }

  private val Runs = Map("br" -> "\n", "pPr" -> "", "rPr" -> "", "endParaRPr" -> "")

  // ------------------------------------------------------------ fixture

  private val A = "http://schemas.openxmlformats.org/drawingml/2006/main"
  private val P =
    "http://schemas.openxmlformats.org/presentationml/2006/main"

  private def slideXml(paragraphs: Seq[String]): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
    sb ++= s"""<p:sld xmlns:p="$P" xmlns:a="$A"><p:cSld><p:spTree>"""
    sb ++= "<p:sp><p:txBody><a:bodyPr/>"
    paragraphs.foreach { p =>
      // split into two runs at the midpoint, surrogate-safe (the
      // DocxText fixture convention — the reader must rejoin)
      val half = p.length / 2
      val mid =
        if (half > 0 && half < p.length &&
            Character.isHighSurrogate(p.charAt(half - 1)) &&
            Character.isLowSurrogate(p.charAt(half))) half + 1
        else half
      val (x, y) = p.splitAt(mid)
      sb ++= "<a:p><a:pPr/>"
      Seq(x, y).filter(_.nonEmpty).foreach { seg =>
        sb ++= "<a:r><a:rPr lang=\"en-US\"/><a:t>"
        sb ++= graft.util.SecureXml.escape(seg)
        sb ++= "</a:t></a:r>"
      }
      sb ++= "<a:endParaRPr/></a:p>"
    }
    sb ++= "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    sb.toString
  }

  /** Minimal-but-real .pptx writer for specs/oracle fixtures:
    * content types + rels + presentation + one slide part per
    * element of `slideParas` (each a slide's paragraph list), plus
    * notes parts when `notesParas` is non-empty. Slides are WRITTEN
    * to the zip in reverse order with 1-based numbers — the reader
    * must re-order by part number, not zip order. */
  def fixture(slideParas: Seq[Seq[String]],
              notesParas: Seq[Seq[String]] = Nil): Array[Byte] = {
    require(slideParas.nonEmpty, "fixture needs at least one slide")
    val xmlDecl =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def part(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val overrides = slideParas.indices.map(i =>
      s"""<Override PartName="/ppt/slides/slide${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>""")
      .mkString
    part("[Content_Types].xml", xmlDecl +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>""" +
      overrides + "</Types>")
    part("_rels/.rels", xmlDecl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="ppt/presentation.xml"/>""" +
      """</Relationships>""")
    part("ppt/presentation.xml", xmlDecl +
      s"""<p:presentation xmlns:p="$P"><p:sldIdLst>""" +
      slideParas.indices.map(i =>
        s"""<p:sldId id="${256 + i}" r:id="rId${i + 2}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/>""")
        .mkString +
      "</p:sldIdLst></p:presentation>")
    // reverse write order: slide10 lands before slide2 in the zip,
    // so lexicographic-order OR zip-order readers both get caught
    slideParas.indices.reverse.foreach { i =>
      part(s"ppt/slides/slide${i + 1}.xml", slideXml(slideParas(i)))
    }
    notesParas.indices.reverse.foreach { i =>
      part(s"ppt/notesSlides/notesSlide${i + 1}.xml",
        slideXml(notesParas(i)))
    }
    zos.close()
    bos.toByteArray
  }
}
