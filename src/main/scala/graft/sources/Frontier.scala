package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{RobotsTxt, UrlCanon}
import graft.util.Pin._

/** Crawl-frontier composition — the discovery loop a real intake
  * runs between "we have each host's robots.txt" and "we have a URL
  * list to fetch": robots `Sitemap:` directives seed the walk, each
  * sitemap document either lists page URLs (`urlset`) or recurses
  * into child sitemaps (`sitemapindex`), and the terminal URL
  * entries dedup by canonical form and carry the robots decision for
  * the crawling agent.
  *
  * Zero-egress stand-in for the fetch step: `fetched` is a
  * (url, xml) corpus frame — the crawl's already-archived sitemap
  * responses. Sitemap URLs with no fetched row drop (nothing to
  * parse); a `sitemapindex` cycle is cut by the visited-set
  * anti-join, and depth is bounded by `maxDepth` regardless.
  *
  * Scale shape: the per-level frame is frontier METADATA (a handful
  * of sitemap URLs per host, ≤50k URL entries per document by spec),
  * so each level broadcasts into the fetched-corpus join and the
  * parse is a narrow flatMap; the only corpus-sized exchange is the
  * final canonical-URL dedup groupBy. The robots rule frame
  * broadcasts exactly as in [[graft.llm.RobotsTxt.withAllowed]].
  */
object Frontier {

  /** (host, url, canonical_url, source_sitemap, lastmod, priority,
    * allowed, crawl_delay) — one row per canonically-distinct
    * discovered URL; the keeper among duplicate spellings is the min
    * (url, source_sitemap) pair, the dedup family's
    * deterministic-survivor convention. `crawl_delay` is the host's
    * robots `Crawl-delay` under the same named-beats-`*` group
    * selection as `allowed` (null where none), so a fetch scheduler
    * consumes ONE frame.
    *
    * Failure observability: malformed/hostile sitemap documents
    * contribute nothing (per-document Try), but each failure bumps
    * the `frontier.sitemap_parse_failures` long accumulator —
    * visible in the Spark UI / `sc.statusStore` — so a
    * silently-empty subtree (e.g. a UTF-8-mangled `.xml.gz` payload
    * in a string column) is observable instead of invisible.
    *
    * `xmlCol` may be a STRING column (decoded sitemap text) or a
    * BINARY column (raw crawl payload — gunzipped by magic, so
    * `.xml.gz` sitemaps walk too, per sitemaps.org). A string that
    * itself carries the gzip magic (an ISO-8859-1-decoded binary
    * payload — byte-transparent) recovers its bytes and takes the
    * same path. */
  def build(robots: DataFrame, robotsHostCol: String, contentCol: String,
            fetched: DataFrame, urlCol: String, xmlCol: String,
            agent: String, maxDepth: Int = 3): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._

    val seeds = robots
      .select(col(robotsHostCol).as("host"), col(contentCol).as("content"))
      .as[(String, String)]
      .flatMap { case (h, c) => RobotsTxt.sitemaps(c).map(u => (h, u)) }
      .toDF("host", "sitemap_url")
      .distinct()

    val xmlIsBinary = fetched.schema(xmlCol).dataType ==
      org.apache.spark.sql.types.BinaryType
    val docs = fetched.select(col(urlCol).as("__url"), col(xmlCol).as("__xml"))
    val parseFailed =
      spark.sparkContext.longAccumulator("frontier.sitemap_parse_failures")

    // one level's (host, parent, entry…) rows; the parse carries a
    // per-document failure domain — crawled sitemap documents lie,
    // and a hostile or malformed one (DOCTYPE bomb, junk bytes,
    // wrong root, a gzip bomb past the 50 MB protocol cap)
    // contributes nothing instead of killing the frontier job
    def parseLevel(level: DataFrame): DataFrame = {
      val joined = docs
        .join(broadcast(level), col("__url") === col("sitemap_url"))
        .select(col("host"), col("sitemap_url"), col("__xml"))
      val parsed =
        if (xmlIsBinary)
          joined.as[(String, String, Array[Byte])]
            .flatMap { case (h, parent, bytes) =>
              scala.util.Try(Sitemap.parseBytes(bytes))
                .fold(_ => { parseFailed.add(1); Seq.empty }, identity)
                .map(e => (h, parent, e.kind, e.loc, e.lastmod, e.priority))
            }
        else
          joined.as[(String, String, String)]
            .flatMap { case (h, parent, xml) =>
              scala.util.Try {
                if (xml != null && xml.length >= 2 && xml.charAt(0) == 0x1F
                    && xml.charAt(1) == 0x8B.toChar)
                  Sitemap.parseBytes(xml.getBytes(
                    java.nio.charset.StandardCharsets.ISO_8859_1))
                else Sitemap.parse(xml)
              }.fold(_ => { parseFailed.add(1); Seq.empty }, identity)
                .map(e => (h, parent, e.kind, e.loc, e.lastmod, e.priority))
            }
      parsed
        .toDF("host", "source_sitemap", "kind", "loc", "lastmod", "priority")
    }

    var level = seeds
    var visited = seeds
    var urls: Option[DataFrame] = None
    var depth = 0
    var more = !level.isEmpty
    while (depth < maxDepth && more) {
      // the pin cuts the per-level lineage: without it each
      // level's action re-parses the WHOLE chain above it
      // (O(depth^2) XML parses) — the classic iterative-algorithm
      // lineage blowup. The checkpoint job is the level's ONE parse;
      // the continue-check below scans the persisted blocks (cheap)
      // instead of re-running the distinct + anti-join the old
      // level.isEmpty paid per level.
      val entries = parseLevel(level).pin
      val urlEntries = entries.filter(col("kind") === "url")
        .select(col("host"), col("source_sitemap"), col("loc"),
                col("lastmod"), col("priority"))
      urls = Some(urls.map(_.unionByName(urlEntries)).getOrElse(urlEntries))
      val children = entries.filter(col("kind") === "sitemap")
        .select(col("host"), col("loc").as("sitemap_url"))
        .distinct()
        .join(broadcast(visited), Seq("host", "sitemap_url"),
          "left_anti") // cycle cut; visited is tiny frontier metadata
      visited = visited.unionByName(children)
      level = children
      // over-approximates children (an all-visited level costs one
      // trivial extra iteration over an empty join) but never
      // under-approximates — kind="sitemap" rows are the only way
      // children can be non-empty
      more = !entries.filter(col("kind") === "sitemap").isEmpty
      depth += 1
    }

    val found = urls.getOrElse {
      Seq.empty[(String, String, String, String, Option[Double])]
        .toDF("host", "source_sitemap", "loc", "lastmod", "priority")
    }

    // canonical dedup: deterministic keeper = min (loc, source) pair.
    // Relative or malformed <loc> values (no scheme://authority) are
    // DROPPED first — they have no crawlable absolute form, and
    // defaulting their robots path would inherit the site root's
    // decision for a URL the agent could never fetch.
    val kept = found
      .filter(col("loc").rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+"))
      .withColumn("canonical_url", UrlCanon.canonicalize(col("loc")))
      .groupBy(col("canonical_url"))
      .agg(min(struct(col("loc"), col("source_sitemap"), col("host"),
        col("lastmod"), col("priority"))).as("k"))
      .select(col("k.host").as("host"), col("k.loc").as("url"),
        col("canonical_url"),
        col("k.source_sitemap").as("source_sitemap"),
        col("k.lastmod").as("lastmod"), col("k.priority").as("priority"))

    // robots decision on path+query (the component rules match on)
    val withPath = kept.withColumn("__path",
      when(regexp_extract(col("url"),
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1) === "", lit("/"))
        .otherwise(regexp_extract(col("url"),
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)))
    // the host's Crawl-delay rides along (same named-beats-* group
    // selection as the rules) — broadcastable per-host metadata, so
    // a fetch scheduler consumes one frame instead of re-joining
    val delays = RobotsTxt.crawlDelayFrame(
      robots, robotsHostCol, contentCol, agent)
    RobotsTxt.withAllowed(withPath, "host", "__path", robots,
        robotsHostCol, contentCol, agent)
      .drop("__path")
      .join(broadcast(delays), Seq("host"), "left")
  }
}
