package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Warc
import graft.llm.HtmlText

/** Streaming crawl intake: WARC segment files land in a directory;
  * each micro-batch parses the new files' response records, extracts
  * boilerplate-stripped text, applies the cheap quality gate, and
  * exact-dedups against ALL accepted history before handing fresh
  * documents to `accept` — the full Common-Crawl-shaped ingest path
  * (archive → HTTP filter → text → quality → dedup) as ONE streaming
  * pipeline over the repo's batch pieces ([[graft.sources.Warc]],
  * [[graft.llm.HtmlText]], the [[StreamingCorpusDedup]] store
  * contract).
  *
  * The source is Structured Streaming's file source over binaryFile
  * (one task per newly-seen segment file — the same per-file grain
  * as the batch scan; records never shuffle; the checkpoint tracks
  * which files are committed, so a restart never re-parses them).
  *
  * Quality gate: HTTP 200 + an html content type, extracted length
  * within [minChars, maxChars], link density ≤ maxLinkDensity — the
  * standard first-pass crawl filters; deeper scoring (Gopher rules,
  * lang-ID, NLL) composes downstream on the accepted frame.
  *
  * Delivery contract: the [[MicroBatch]] intake step (`accept` must be
  * an idempotent keyed upsert).
  *
  * Scale: the history store holds one md5 + uri per accepted page
  * (~50 bytes vs the page's tens of KB); the anti-join is the only
  * exchange per batch. At 10^10 pages, bucket the store by
  * content_hash exactly as [[StreamingCorpusDedup.runBucketed]]
  * lays out.
  */
object StreamingWarcIntake {

  /** Parse + extract + gate one batch of (path, content) WARC files.
    * text/html bodies ride the charset ladder into [[HtmlText]];
    * application/pdf payloads (raw bytes — the walker never charset-
    * decodes them) go through [[graft.llm.PdfText]] and OOXML
    * wordprocessing payloads through [[graft.llm.DocxText]], each
    * with a per-document failure domain: a hostile or unsupported
    * document (encrypted, truncated, exotic filters) drops instead
    * of killing the stream. Exposed for spec parity checks against
    * the batch path. */
  def extractBatch(files: DataFrame, minChars: Int, maxChars: Int,
                   maxLinkDensity: Double): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    // ONE streaming record walk per file: records flow out of the
    // iterator one at a time and the content-type branch happens
    // inside the same pass — two filtered branches over the parsed
    // frame would gunzip and header-walk every segment TWICE per
    // micro-batch (the record parse dominates the stage). Crawl
    // pages key by uri; a stable numeric id gets assigned
    // post-accept.
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        Warc.responses(path, new java.io.ByteArrayInputStream(bytes))
          .flatMap { r =>
            // revisit records carry the ORIGINAL's digest and no body:
            // they are dedup metadata, never document text (without
            // this guard a minChars=0 caller would accept phantom
            // empty documents and poison the store with md5(""))
            if (r.warcType != "response") None
            else if (r.httpStatus != 200) None
            else if (r.decodeFailure.nonEmpty) None
            // ^ undecodable wire body (br, truncated gzip): the
            // walker kept the raw bytes but there is no TEXT to
            // extract — dropping here is the explicit policy, not
            // an accident of a downstream parse failure
            else if (r.contentType.startsWith("text/html")) {
              val (text, density) = HtmlText.extractWithDensity(r.body)
              Some((r.targetUri, r.warcDate, text, density))
            } else if (r.contentType.startsWith("application/pdf"))
              // per-document failure domain: a hostile PDF drops
              scala.util.Try(graft.llm.PdfText.extractText(r.bodyBytes))
                .toOption.map(t => (r.targetUri, r.warcDate, t, 0.0))
            else if (r.contentType.startsWith(
                "application/vnd.openxmlformats-officedocument" +
                  ".wordprocessingml"))
              // same failure domain for DOCX (OLE-wrapped/encrypted,
              // truncated zip, bomb-capped part — all drop)
              scala.util.Try(graft.llm.DocxText.extractText(r.bodyBytes))
                .toOption.map(t => (r.targetUri, r.warcDate, t, 0.0))
            else if (r.contentType.startsWith(
                "application/vnd.openxmlformats-officedocument" +
                  ".presentationml"))
              // slide decks: the third OOXML branch, same domain
              scala.util.Try(graft.llm.PptxText.extractText(r.bodyBytes))
                .toOption.map(t => (r.targetUri, r.warcDate, t, 0.0))
            else if (r.contentType.startsWith("application/epub"))
              // books: container walk + spine-ordered chapters (DRM
              // and hostile zips drop in the same Try domain)
              scala.util.Try(graft.llm.EpubText.extractText(r.bodyBytes))
                .toOption.map(t => (r.targetUri, r.warcDate, t, 0.0))
            else None
          }
      }
      .toDF("uri", "warc_date", "text", "link_density")
      .filter(length(col("text")).between(minChars, maxChars) &&
        col("link_density") <= maxLinkDensity)
  }

  /** Start the intake over a directory glob of .warc[.gz] files.
    * `accept` receives (uri, warc_date, text, link_density,
    * content_hash) frames of ONLY fresh pages. */
  def run(spark: SparkSession, warcGlob: String, storeDir: String,
          checkpoint: String, minChars: Int = 1, maxChars: Int = 1000000,
          maxLinkDensity: Double = 0.9)
         (accept: DataFrame => Unit): StreamingQuery = {
    val files = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, " +
        "content BINARY")
      .load(warcGlob)
    MicroBatch.drain(files, checkpoint) { (batch, _) =>
      MicroBatch.intake(accept) { _ =>
        val extracted =
          extractBatch(batch, minChars, maxChars, maxLinkDensity)
            .withColumn("content_hash", md5(col("text")))
        // unique within the batch (arrival order is arbitrary across
        // an unordered batch: deterministic pick = min struct, i.e.
        // lexicographically smallest uri per hash)
        val inBatch = extracted
          .groupBy(col("content_hash"))
          .agg(min(struct(col("uri"), col("warc_date"), col("text"),
            col("link_density"))).as("r"))
          .select(col("r.uri").as("uri"), col("r.warc_date").as("warc_date"),
            col("r.text").as("text"),
            col("r.link_density").as("link_density"), col("content_hash"))
        (StreamingCorpusDedup.freshVsStore(inBatch, storeDir),
         _.select(col("content_hash")).write.mode("append").parquet(storeDir))
      }
    }
  }
}
