package graft.llm

import org.w3c.dom.Node

/** The paragraph walk [[DocxText]] and [[PptxText]] share: every `p`
  * element under a node, in document order — including paragraphs
  * nested in tables and other containers — yields exactly ONE line, the
  * concatenated text of its runs. Elements match on LOCAL name:
  * producers vary the prefix binding (`w:`, `a:`).
  *
  * Within a paragraph `t` text nodes append verbatim (runs split
  * mid-word by formatting rejoin seamlessly; `xml:space="preserve"`
  * whitespace survives because DOM text content is taken verbatim).
  * Each format passes its run table: an element it names appends that
  * string and is not descended into ("" skips it: tracked deletions,
  * property bags); any other element is descended into.
  *
  * Both walks are depth-capped: real documents nest tables a handful of
  * levels, and a crafted 200k-deep element chain would otherwise drive
  * the recursion to StackOverflowError — FATAL, so it would escape the
  * streaming intake's per-document Try and kill the whole query on one
  * hostile document (the PdfText MaxDepth rationale exactly).
  */
private[llm] object OoxmlParagraphs {

  private val MaxDepth = 64

  /** One line per `p` under `node`; `format` names the refusal. */
  def apply(node: Node, runs: Map[String, String], format: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(node: Node, depth: Int): Unit = {
      require(depth < MaxDepth, s"$format element nesting too deep")
      forElements(node) { k =>
        if (localName(k) == "p") {
          val sb = new java.lang.StringBuilder()
          runText(k, sb, 0)
          out += sb.toString
        } else walk(k, depth + 1)
      }
    }
    def runText(node: Node, sb: java.lang.StringBuilder, depth: Int): Unit = {
      require(depth < MaxDepth, s"$format run nesting too deep")
      forElements(node) { k =>
        val name = localName(k)
        if (name == "t") sb.append(k.getTextContent)
        else runs.get(name) match {
          case Some(s) => sb.append(s)
          case None => runText(k, sb, depth + 1)
        }
      }
    }
    walk(node, 0)
    out.toSeq
  }

  def localName(n: Node): String = {
    val ln = n.getLocalName
    if (ln != null) ln
    else { // non-namespace-aware producers: strip any prefix
      val nm = n.getNodeName
      val c = nm.indexOf(':')
      if (c >= 0) nm.substring(c + 1) else nm
    }
  }

  private def forElements(node: Node)(f: Node => Unit): Unit = {
    val kids = node.getChildNodes
    var i = 0
    while (i < kids.getLength) {
      val k = kids.item(i)
      if (k.getNodeType == Node.ELEMENT_NODE) f(k)
      i += 1
    }
  }
}
