package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sitemaps.org protocol parser — the crawl-frontier complement to
  * robots.txt: sites publish `<urlset>` documents of `<url>` entries
  * (loc, lastmod, changefreq, priority) and `<sitemapindex>`
  * documents of child `<sitemap>` locations; the protocol also
  * permits syndication feeds (RSS 2.0 `<rss>` and Atom `<feed>`) as
  * sitemap formats, and both parse to url entries here.
  *
  * Parsing uses the JDK's DOM with XXE hardened off (external
  * general/parameter entities and DOCTYPE declarations disabled —
  * crawled XML is untrusted input, an external-entity fetch from a
  * parser worker would be an SSRF primitive). Namespaces are
  * accepted but not required; element matching is on local names.
  *
  * `entries` is the Spark path: a (id, xml) frame flatMaps narrowly
  * to one row per url/sitemap entry — no shuffle; sitemap files are
  * small (≤50k URLs by spec) so one task handles many. Missing
  * optional fields surface as nulls; priority parses as double
  * (nulls on malformed — crawled XML lies).
  */
object Sitemap {

  case class Entry(kind: String, // "url" | "sitemap"
                   loc: String, lastmod: String,
                   changefreq: String, priority: Option[Double])

  private val MaxBytes = 52428800L // the protocol's own 50 MB cap

  /** Raw crawl payload: sitemaps.org explicitly allows gzipped
    * sitemaps (`sitemap.xml.gz`), so gunzip-by-magic first — bounded
    * by the protocol's 50 MB UNCOMPRESSED cap, which doubles as the
    * bomb guard — then hand the bytes to the XML parser (it resolves
    * the document's own encoding declaration/BOM). */
  def parseBytes(content: Array[Byte]): Seq[Entry] = {
    require(content != null && content.nonEmpty, "empty sitemap document")
    val bytes =
      if (content.length >= 2 && (content(0) & 0xFF) == 0x1F &&
          (content(1) & 0xFF) == 0x8B) {
        val out = graft.util.ByteCodecs.gunzip(content, MaxBytes.toInt + 1)
        require(out.length <= MaxBytes,
          s"gzipped sitemap inflates past the 50 MB protocol limit")
        out
      } else content
    require(bytes.length <= MaxBytes,
      s"sitemap document ${bytes.length} bytes exceeds the 50 MB limit")
    parseDom(graft.util.SecureXml.builder().parse(new java.io.ByteArrayInputStream(bytes)))
  }

  def parse(xml: String): Seq[Entry] = {
    require(xml != null && xml.trim.nonEmpty, "empty sitemap document")
    require(xml.length <= 52428800, // the protocol's own 50 MB cap
      s"sitemap document ${xml.length} chars exceeds the 50 MB limit")
    parseDom(graft.util.SecureXml.builder().parse(new java.io.ByteArrayInputStream(
      xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
  }

  private def parseDom(doc: org.w3c.dom.Document): Seq[Entry] = {
    val root = doc.getDocumentElement
    val (container, child) = root.getLocalName match {
      case "urlset" => ("urlset", "url")
      case "sitemapindex" => ("sitemapindex", "sitemap")
      // sitemaps.org explicitly permits syndication feeds as sitemap
      // formats, and real robots `Sitemap:` lines point at them —
      // without these branches a feed sitemap throws and the
      // frontier's per-document Try silently drops the host's walk
      case "rss" => return parseRss(root)
      case "feed" => return parseAtom(root)
      case other =>
        throw new IllegalArgumentException(s"not a sitemap root: $other")
    }
    val kind = if (container == "urlset") "url" else "sitemap"
    val nodes = root.getChildNodes
    (0 until nodes.getLength).flatMap { i =>
      val n = nodes.item(i)
      if (n.getNodeType == org.w3c.dom.Node.ELEMENT_NODE &&
          n.getLocalName == child) {
        def field(name: String): String = {
          val kids = n.getChildNodes
          (0 until kids.getLength).collectFirst {
            case j if kids.item(j).getNodeType ==
                org.w3c.dom.Node.ELEMENT_NODE &&
                kids.item(j).getLocalName == name =>
              kids.item(j).getTextContent.trim
          }.orNull
        }
        val loc = field("loc")
        if (loc == null || loc.isEmpty) None // spec: loc is required
        else Some(Entry(kind, loc, field("lastmod"), field("changefreq"),
          Option(field("priority")).flatMap(p =>
            scala.util.Try(p.toDouble).toOption)))
      } else None
    }
  }

  private def elementKids(n: org.w3c.dom.Node,
                          name: String): Seq[org.w3c.dom.Node] = {
    val kids = n.getChildNodes
    (0 until kids.getLength).map(kids.item(_)).filter(k =>
      k.getNodeType == org.w3c.dom.Node.ELEMENT_NODE &&
        k.getLocalName == name)
  }

  private def childText(n: org.w3c.dom.Node, name: String): String =
    elementKids(n, name).headOption.map(_.getTextContent.trim).orNull

  /** RSS 2.0 as a sitemap (sitemaps.org "Syndication feed" format):
    * `<rss><channel><item>` → url entries; `<link>` is the location,
    * `<pubDate>` surfaces as lastmod verbatim (RFC 822 form — the
    * feed's own timestamp convention). RSS 2.0 core elements are
    * NON-namespaced, so only namespace-free `<link>` children count —
    * real feeds interleave `<atom:link rel="self"/>` (empty text)
    * that must not shadow the item's actual link. Items without a
    * link drop, like url entries without a loc. */
  private def parseRss(root: org.w3c.dom.Element): Seq[Entry] =
    elementKids(root, "channel").flatMap(ch =>
      elementKids(ch, "item").flatMap { item =>
        val link = elementKids(item, "link")
          .filter(k => k.getNamespaceURI == null ||
            k.getNamespaceURI.isEmpty)
          .map(_.getTextContent.trim)
          .find(_.nonEmpty)
        link.map(l => Entry("url", l, childText(item, "pubDate"),
          null, None))
      })

  /** Atom (RFC 4287) as a sitemap: `<feed><entry>` → url entries;
    * the location is the first `<link>` whose `rel` is absent or
    * "alternate" (RFC 4287 §4.2.7.2 — absent defaults to alternate;
    * `self`/`edit` links are feed plumbing, not page URLs),
    * `<updated>` surfaces as lastmod verbatim (RFC 3339). */
  private def parseAtom(root: org.w3c.dom.Element): Seq[Entry] =
    elementKids(root, "entry").flatMap { entry =>
      val href = elementKids(entry, "link").collectFirst {
        case l: org.w3c.dom.Element
            if {
              val rel = l.getAttribute("rel")
              rel == null || rel.isEmpty || rel == "alternate"
            } && l.getAttribute("href") != null &&
              l.getAttribute("href").nonEmpty =>
          l.getAttribute("href").trim
      }
      href.map(h => Entry("url", h, childText(entry, "updated"),
        null, None))
    }

  /** (id, kind, loc, lastmod, changefreq, priority) — one row per
    * entry, narrow flatMap. */
  def entries(df: DataFrame, idCol: String, xmlCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(xmlCol))
      .as[(Long, String)]
      .flatMap { case (id, xml) =>
        parse(xml).map(e =>
          (id, e.kind, e.loc, e.lastmod, e.changefreq, e.priority))
      }
      .toDF("id", "kind", "loc", "lastmod", "changefreq", "priority")
  }

  /** Fixture helper: the `.xml.gz` wire form of a sitemap document. */
  def gzipped(xml: String): Array[Byte] =
    graft.util.ByteCodecs.gzip(
      xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def escXml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Fixture writer: an RSS 2.0 feed of (link, pubDate) items —
    * the syndication form real sites list in robots `Sitemap:`
    * lines. One item ships linkless (the reader must drop it). */
  def rssFixture(items: Seq[(String, Option[String])]): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<rss version=\"2.0\"><channel><title>feed</title>\n"
    items.foreach { case (link, pubDate) =>
      sb ++= s"  <item><title>t</title><link>${escXml(link)}</link>"
      pubDate.foreach(v => sb ++= s"<pubDate>$v</pubDate>")
      sb ++= "</item>\n"
    }
    sb ++= "  <item><title>no link: dropped</title></item>\n"
    sb ++= "</channel></rss>\n"
    sb.toString
  }

  /** Fixture writer: an Atom feed of (href, updated) entries. Each
    * entry carries a `rel="self"` link FIRST (feed plumbing the
    * reader must skip) before the bare alternate link. */
  def atomFixture(entries: Seq[(String, Option[String])]): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
      "<title>feed</title>\n"
    entries.foreach { case (href, updated) =>
      sb ++= "  <entry><link rel=\"self\" href=\"http://x.invalid/self\"/>"
      sb ++= s"<link href=\"${escXml(href)}\"/>"
      updated.foreach(v => sb ++= s"<updated>$v</updated>")
      sb ++= "</entry>\n"
    }
    sb ++= "</feed>\n"
    sb.toString
  }

  /** Fixture writer: a namespaced urlset (or index) with optional
    * fields present per the mask functions; XML-escapes locs. */
  def fixture(urls: Seq[(String, Option[String], Option[String],
                         Option[Double])],
              index: Boolean = false): String = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val (root, child) =
      if (index) ("sitemapindex", "sitemap") else ("urlset", "url")
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= s"""<$root xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n"""
    urls.foreach { case (loc, lastmod, changefreq, priority) =>
      sb ++= s"  <$child><loc>${esc(loc)}</loc>"
      lastmod.foreach(v => sb ++= s"<lastmod>$v</lastmod>")
      changefreq.foreach(v => sb ++= s"<changefreq>$v</changefreq>")
      priority.foreach(v => sb ++= s"<priority>$v</priority>")
      sb ++= s"</$child>\n"
    }
    sb ++= s"</$root>\n"
    sb.toString
  }
}
