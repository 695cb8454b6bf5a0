package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.ByteCodecs

/** WARC (ISO 28500) reader — the container web crawls (Common Crawl)
  * actually ship. A WARC file is a sequence of records, each
  * `WARC/1.x\r\n` + name:value headers + `\r\n` + a Content-Length-
  * delimited payload + `\r\n\r\n`; crawl archives gzip each record as
  * its own member and concatenate, which `GZIPInputStream` walks
  * natively.
  *
  * The walk is a STREAMING record iterator ([[responses]]): parse one
  * record's headers, read exactly Content-Length payload bytes, emit,
  * move on — per-task memory is O(largest record), never O(file).
  * Real Common-Crawl segments are ~1 GB gzip expanding 3-5x; the old
  * inflate-whole-file-then-index shape demanded that whole expansion
  * per concurrent task, this shape never holds more than one record
  * plus stream buffers. A cumulative decompressed-byte cap still
  * guards the decompression-bomb OOM primitive.
  *
  * `records` is the Spark path: the driver lists the glob (file
  * STATUSES only — thousands of segment names, not bytes), and each
  * task opens its files via Hadoop FileSystem streams, feeding the
  * record walker directly — the file's bytes are never materialized
  * either compressed or decompressed, and files larger than the
  * 2 GiB `binaryFile` ceiling stream fine. One task per file (the
  * Common Crawl layout parallelizes at file grain; records never
  * shuffle). Response AND revisit records surface (with the archive's
  * own `WARC-Payload-Digest` as a column — exact dedup without
  * re-hashing body bytes); warcinfo/request/metadata are filtered at
  * parse time.
  *
  * Textual bodies decode charset-aware
  * ([[graft.llm.Charsets.decodeHtml]]: BOM > HTTP charset param >
  * meta prescan > strict-UTF-8 sniff > windows-1252 fallback), so
  * legacy pages don't silently mangle; clearly-binary content types
  * (application/pdf, images, …) keep raw payload bytes in
  * `bodyBytes` instead — a charset ladder over a PDF would destroy
  * it.
  */
object Warc {

  /** One parsed record. `warcType` is `response` or `revisit`
    * (ISO 28500 §6.7 — crawls emit revisit records instead of
    * re-storing an unchanged page); `payloadDigest` surfaces
    * `WARC-Payload-Digest` verbatim (`""` when absent) so consumers
    * can dedup on the ARCHIVE'S own digests instead of re-hashing
    * gigabytes of body bytes.
    *
    * `decodeFailure` (`""` when clean) is the per-RECORD wire-decode
    * failure domain: a body whose declared Content-/Transfer-
    * Encoding cannot be undone (`br` — no JDK decoder; a truncated
    * gzip under the crawler's size cap — WARC-Truncated records are
    * routine; a malformed chunk stream) surfaces with this message
    * set, `body` null and `bodyBytes` the RAW undecoded payload.
    * Loud at record grain without losing the other records in a
    * gigabyte segment: structural WARC violations still throw (a
    * corrupt archive is not a per-record condition), and the decoded
    * text of a failed record is never fabricated — the mojibake
    * path stays closed. */
  case class WarcResponse(file: String, ordinal: Int, targetUri: String,
                          warcDate: String, httpStatus: Int,
                          contentType: String, body: String,
                          bodyBytes: Array[Byte],
                          warcType: String = "response",
                          payloadDigest: String = "",
                          decodeFailure: String = "")

  /** Default cumulative decompressed-byte cap per file. With the
    * streaming walker, memory is O(record) regardless of file size,
    * so this cap's job is bounding RUNAWAY streams (zip bombs expand
    * millions-fold; a crafted gzip can otherwise keep a task busy
    * producing bytes forever) — NOT fitting the file in memory. Real
    * Common-Crawl segments decode to 3-5 GiB; 64 GiB passes every
    * legitimate archive with order-of-magnitude headroom while
    * million-x bombs still die early and loudly. */
  private[graft] val MaxExpansion: Long = 64L << 30

  private val MaxHeaderBlock = 1 << 20 // hostile-input bound per record

  /** All records of one (possibly multi-member-gzipped) WARC file,
    * materialized — fixture/spec ergonomics. The Spark paths use the
    * streaming [[responses]] directly so rows flow through without
    * the per-file Seq. */
  def parseFile(name: String, bytes: Array[Byte]): Seq[WarcResponse] =
    responses(name, new java.io.ByteArrayInputStream(bytes)).toSeq

  /** The streaming record walker. Detects per-record-member gzip by
    * magic, then iterates records incrementally; at most ONE
    * record's payload is in memory at a time. All structural
    * violations (missing version line, malformed or >Int.MaxValue
    * Content-Length, truncation mid-record, oversized header block,
    * cumulative decompression beyond `maxBytes`) refuse loudly with
    * IllegalArgumentException. */
  def responses(name: String, rawIn: java.io.InputStream,
                maxBytes: Long = MaxExpansion): Iterator[WarcResponse] = {
    val pb = new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(rawIn, 65536), 2)
    val b0 = pb.read()
    val b1 = if (b0 >= 0) pb.read() else -1
    if (b1 >= 0) pb.unread(b1)
    if (b0 >= 0) pb.unread(b0)
    // the bomb cap meters DECOMPRESSED bytes; plain streams are not
    // amplified so they pass through unmetered (records stay
    // individually bounded by the Content-Length cap)
    val decoded: java.io.InputStream =
      if (b0 == 0x1F && b1 == 0x8B)
        new BoundedInput(
          new java.util.zip.GZIPInputStream(pb, 65536), name, maxBytes)
      else pb
    new RecordIterator(name,
      new java.io.PushbackInputStream(decoded, 1))
  }

  /** Counts bytes read and refuses past `max` — the decompression-
    * bomb guard, applied to the inflated side of the gzip stream. */
  private final class BoundedInput(in: java.io.InputStream, name: String,
                                   max: Long) extends java.io.InputStream {
    private var total = 0L
    private def bump(n: Int): Unit = {
      total += n
      require(total <= max,
        s"$name: gzip expansion exceeds $max bytes (decompression bomb?)")
    }
    override def read(): Int = {
      val b = in.read(); if (b >= 0) bump(1); b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) bump(n); n
    }
    override def close(): Unit = in.close()
  }

  private final class RecordIterator(name: String,
                                     in: java.io.PushbackInputStream)
      extends Iterator[WarcResponse] {
    private var nextResp: WarcResponse = null
    private var done = false
    private var ordinal = 0
    private var pos = 0L // decoded-stream offset, for loud messages

    private def read1(): Int = { val b = in.read(); if (b >= 0) pos += 1; b }

    // lazy by one: nothing is read from the stream until asked — a
    // consumer that stops after k records never pays for record k+1
    def hasNext: Boolean = {
      if (nextResp == null && !done) advance()
      nextResp != null
    }

    def next(): WarcResponse = {
      if (!hasNext) throw new NoSuchElementException("WARC iterator")
      val r = nextResp
      nextResp = null
      r
    }

    private def advance(): Unit = {
      nextResp = null
      while (nextResp == null && !done) {
        // tolerate stray CRLF padding between records
        var b = read1()
        while (b == '\r' || b == '\n') b = read1()
        if (b < 0) { done = true; return }
        in.unread(b); pos -= 1
        val recStart = pos
        val headers = readHeaderBlock(recStart)
        require(headers.getOrElse("__version", "").startsWith("WARC/1"),
          s"$name: record at $recStart lacks a WARC/1.x version line")
        val lenStr = headers.getOrElse("content-length",
          throw new IllegalArgumentException(
            s"$name: record at $recStart lacks Content-Length")).trim
        require(lenStr.nonEmpty && lenStr.length <= 18 &&
          lenStr.forall(_.isDigit),
          s"$name: record at $recStart has malformed Content-Length '$lenStr'")
        val lenL = lenStr.toLong
        require(lenL <= Int.MaxValue,
          s"$name: record at $recStart declares a $lenL-byte payload " +
            s"(per-record cap ${Int.MaxValue})")
        val len = lenL.toInt
        val wtype = headers.getOrElse("warc-type", "")
        if (wtype == "response" || wtype == "revisit") {
          val rec = readFully(len, recStart)
          val uri = headers.getOrElse("warc-target-uri", "")
          val date = headers.getOrElse("warc-date", "")
          val digest = headers.getOrElse("warc-payload-digest", "")
          val (status, ctype, payload, decodeFail) = splitHttp(rec)
          if (decodeFail.nonEmpty)
            // undecodable wire body: surface the record with its RAW
            // bytes and the failure message; NEVER run the charset
            // ladder over compressed bytes (mojibake), never abort
            // the whole archive walk over one record
            nextResp = WarcResponse(name, ordinal, uri, date, status,
              ctype, null, payload, wtype, digest, decodeFail)
          else if (isTextual(ctype))
            // charset-aware decode (BOM > header param > meta prescan
            // > strict-UTF-8 sniff > windows-1252) — graft.llm.Charsets
            nextResp = WarcResponse(name, ordinal, uri, date, status,
              ctype, graft.llm.Charsets.decodeHtml(payload, ctype)._1,
              null, wtype, digest)
          else
            nextResp = WarcResponse(name, ordinal, uri, date, status,
              ctype, null, payload, wtype, digest)
        } else skipFully(len, recStart)
        ordinal += 1
      }
    }

    /** header lines to the blank terminator; first line keeps its
      * raw form under `__version`, the rest lowercase-keyed. */
    private def readHeaderBlock(recStart: Long): Map[String, String] = {
      val m = Map.newBuilder[String, String]
      var first = true
      var total = 0
      while (true) {
        val line = readLine()
        total += line.length + 2
        require(total <= MaxHeaderBlock,
          s"$name: record at $recStart header block exceeds $MaxHeaderBlock bytes")
        if (line.isEmpty) return m.result()
        if (first) { m += "__version" -> line; first = false }
        else {
          val c = line.indexOf(':')
          if (c > 0)
            m += line.substring(0, c).toLowerCase.trim ->
              line.substring(c + 1).trim
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** One CRLF-terminated line; a lone CR stays in the line. Bytes
      * above 0x7F decode as U+FFFD (US-ASCII semantics — WARC headers
      * are ASCII by spec). */
    private def readLine(): String = {
      val sb = new java.lang.StringBuilder(64)
      var b = read1()
      while (true) {
        require(b >= 0, s"$name: unterminated WARC record header")
        if (b == '\r') {
          val n = read1()
          if (n == '\n') return sb.toString
          require(n >= 0, s"$name: unterminated WARC record header")
          sb.append('\r')
          b = n
        } else {
          sb.append(if (b <= 0x7F) b.toChar else '\uFFFD')
          b = read1()
        }
      }
      ""
    }

    /** Grow-as-delivered body read: allocation starts at 1 MiB and
      * doubles only as bytes actually arrive, so a tiny hostile file
      * declaring Content-Length: 2 GiB costs its real size plus one
      * buffer — never an up-front 2 GiB allocation (the OOM
      * primitive the old declared-length preallocation opened). */
    private def readFully(len: Int, recStart: Long): Array[Byte] = {
      var buf = new Array[Byte](math.min(len, 1 << 20))
      var got = 0
      while (got < len) {
        if (got == buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.min(len.toLong, buf.length * 2L).toInt)
        val n = in.read(buf, got, buf.length - got)
        require(n >= 0, s"$name: record at $recStart truncated (len=$len)")
        got += n
        pos += n
      }
      buf // length == len: growth is capped at len exactly
    }

    private def skipFully(len: Int, recStart: Long): Unit = {
      val scratch = new Array[Byte](math.min(len, 65536))
      var got = 0
      while (got < len) {
        val n = in.read(scratch, 0, math.min(scratch.length, len - got))
        require(n >= 0, s"$name: record at $recStart truncated (len=$len)")
        got += n
        pos += n
      }
    }
  }

  /** Content types whose payload goes through the charset ladder;
    * everything else (pdf, images, audio, …) stays raw bytes. OOXML
    * packages (docx/xlsx/pptx) carry "xml" in their type name but
    * are ZIP binaries — a charset ladder would destroy them. */
  private[graft] def isTextual(ctype: String): Boolean = {
    val c = ctype.toLowerCase(java.util.Locale.ROOT)
    if (c.startsWith("application/vnd.openxmlformats")) false
    else c.isEmpty || c.startsWith("text/") || c.contains("html") ||
      c.contains("xml") || c.contains("json")
  }

  /** Split an HTTP response message into (status, content-type,
    * payload). The record's bytes are standalone, so the header scan
    * is bounded by the record: a body that looks like HTTP but never
    * terminates its header block inside the record (it would have
    * run into the NEXT record under an unbounded scan) comes back as
    * non-HTTP — status 0 with the raw body, like resource records.
    *
    * Wire encodings are UNDONE here (RFC 9112 §7.1 / RFC 9110
    * §8.4.1): Common Crawl stores decoded payloads, but raw
    * Heritrix/wget/webrecorder WARCs keep the wire bytes — without
    * this, a `Content-Encoding: gzip` HTML page would flow through
    * the charset ladder as compressed bytes and come out as mojibake
    * "text", the one silent-WRONG shape the refuse-loudly convention
    * forbids. `Transfer-Encoding: chunked` de-chunks (trailers
    * dropped), gzip/x-gzip and deflate (zlib-wrapped, with the
    * raw-stream fallback misconfigured servers actually send)
    * inflate under [[MaxHttpBody]]; `br`/unknown codings and
    * malformed/truncated encoded bodies come back with the FOURTH
    * element set (the decode-failure message) and the raw payload —
    * per-record conditions (Brotli is ubiquitous; crawler size caps
    * truncate bodies routinely) must not abort a whole segment, and
    * passing undecoded bytes through as text would be the exact
    * mojibake path this closes. */
  private[graft] def splitHttp(rec: Array[Byte])
      : (Int, String, Array[Byte], String) = {
    if (rec.length < 12 || !(rec(0) == 'H' && rec(1) == 'T' &&
        rec(2) == 'T' && rec(3) == 'P'))
      return (0, "", rec, "")
    val term = blankLineAt(rec)
    if (term < 0) return (0, "", rec, "")
    val headers = parseHttpHeaders(rec, term)
    val status = headers.getOrElse("__version", "").split(' ') match {
      case parts if parts.length >= 2 && parts(1).nonEmpty &&
          parts(1).forall(_.isDigit) && parts(1).length <= 9 =>
        parts(1).toInt
      case _ => 0
    }
    val ctype = headers.getOrElse("content-type", "")
    val raw = java.util.Arrays.copyOfRange(rec, term + 4, rec.length)
    try (status, ctype, decodeWire(raw,
      headers.getOrElse("transfer-encoding", ""),
      headers.getOrElse("content-encoding", "")), "")
    catch {
      case e: IllegalArgumentException =>
        (status, ctype, raw, e.getMessage)
    }
  }

  /** Per-record cap on the DECODED HTTP body. The record's stored
    * bytes are already bounded (Content-Length ≤ Int.MaxValue, file
    * expansion ≤ [[MaxExpansion]]); this bounds the second-stage
    * amplification a crafted `Content-Encoding: gzip` body opens —
    * 1 GiB passes any legitimate page with orders of magnitude to
    * spare while a million-x bomb dies loudly. */
  private[graft] val MaxHttpBody: Long = 1L << 30

  /** Undo transfer-encoding then content-encoding. Token lists apply
    * newest-last on the wire, so decoding walks them right-to-left.
    * An EMPTY payload skips decoding regardless of headers — revisit
    * records legitimately carry the original's headers and no body. */
  private def decodeWire(payload: Array[Byte], transferEnc: String,
                         contentEnc: String): Array[Byte] = {
    if (payload.isEmpty) return payload
    def tokens(v: String): Seq[String] =
      v.split(',').map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(t => t.nonEmpty && t != "identity").toSeq
    var out = payload
    val te = tokens(transferEnc)
    if (te.nonEmpty) {
      // RFC 9112 §6.1: chunked, when present, MUST be the final coding
      require(te.last == "chunked" || !te.contains("chunked"),
        s"HTTP Transfer-Encoding '$transferEnc' lists chunked before " +
          "other codings (malformed message)")
      val rest = if (te.last == "chunked") { out = dechunk(out); te.init }
                 else te
      rest.reverse.foreach(c => out = decodeCoding(out, c, "Transfer"))
    }
    tokens(contentEnc).reverse.foreach(c =>
      out = decodeCoding(out, c, "Content"))
    out
  }

  private def decodeCoding(data: Array[Byte], coding: String,
                           kind: String): Array[Byte] = coding match {
    case "gzip" | "x-gzip" =>
      val out =
        try ByteCodecs.gunzip(data, MaxHttpBody.toInt + 1)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"malformed gzip $kind-Encoding body: ${e.getMessage}")
        }
      httpCapped(out, "gzip")
    case "deflate" =>
      // RFC 9110 says zlib-wrapped; a long tail of servers send a raw
      // deflate stream under the same token — try the spec form, fall
      // back to raw (both verified by the inflater's own checksum /
      // framing, so a wrong guess fails loudly rather than mis-decoding)
      try inflateBytes(data, nowrap = false)
      catch {
        case _: IllegalArgumentException =>
          try inflateBytes(data, nowrap = true)
          catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"malformed deflate $kind-Encoding body: ${e.getMessage}")
          }
      }
    case other => throw new IllegalArgumentException(
      s"HTTP $kind-Encoding '$other' unsupported (no JDK decoder — " +
        "refusing, not mis-decoding)")
  }

  /** A decoded HTTP body, refused past [[MaxHttpBody]] (the kernels
    * stop at `MaxHttpBody + 1` bytes). */
  private def httpCapped(out: Array[Byte], what: String): Array[Byte] = {
    require(out.length <= MaxHttpBody,
      s"HTTP $what body inflates past $MaxHttpBody bytes " +
        "(decompression bomb?)")
    out
  }

  private def inflateBytes(data: Array[Byte], nowrap: Boolean): Array[Byte] =
    httpCapped(ByteCodecs.inflate(data, 0, data.length, nowrap,
      MaxHttpBody.toInt + 1), "deflate")

  /** RFC 9112 §7.1 chunked decoding: hex-size line (extensions after
    * `;` dropped), chunk data, CRLF, …, a zero chunk, then optional
    * trailer fields to a blank line. Every structural violation
    * refuses loudly — a declared-chunked body that doesn't parse is
    * a corrupt record, not text. */
  private[graft] def dechunk(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length)
    var i = 0
    def line(): String = {
      val start = i
      while (i + 1 < data.length &&
             !(data(i) == '\r' && data(i + 1) == '\n')) i += 1
      require(i + 1 < data.length, "chunked body truncated mid-line")
      val s = new String(data, start, i - start,
        java.nio.charset.StandardCharsets.US_ASCII)
      i += 2
      s
    }
    var total = 0L
    while (true) {
      val sizeTok = line().takeWhile(_ != ';').trim
      require(sizeTok.nonEmpty &&
        sizeTok.forall(c => Character.digit(c, 16) >= 0),
        s"chunked body has malformed chunk size '$sizeTok'")
      // RFC 9112 §7.1 chunk-size is 1*HEXDIG: servers legally emit
      // fixed-width sizes with leading zeros — bound the VALUE, not
      // the token length
      val digits = sizeTok.dropWhile(_ == '0')
      require(digits.length <= 8,
        s"chunked body declares an oversized chunk '$sizeTok'")
      val size =
        if (digits.isEmpty) 0L else java.lang.Long.parseLong(digits, 16)
      if (size == 0L) {
        // trailer section: header lines to a blank terminator, dropped
        var t = line()
        while (t.nonEmpty) t = line()
        return out.toByteArray
      }
      total += size
      require(total <= MaxHttpBody,
        s"chunked body exceeds $MaxHttpBody bytes")
      require(i + size + 2 <= data.length,
        "chunked body truncated mid-chunk")
      out.write(data, i, size.toInt)
      i += size.toInt
      require(data(i) == '\r' && data(i + 1) == '\n',
        "chunk data not CRLF-terminated")
      i += 2
    }
    throw new IllegalStateException("unreachable")
  }

  /** Offset of the `\r\n\r\n` header terminator, or -1. */
  private def blankLineAt(rec: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < rec.length) {
      if (rec(i) == '\r' && rec(i + 1) == '\n' &&
          rec(i + 2) == '\r' && rec(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  private def parseHttpHeaders(rec: Array[Byte],
                               term: Int): Map[String, String] = {
    val block = new String(rec, 0, term, java.nio.charset.StandardCharsets.US_ASCII)
    val m = Map.newBuilder[String, String]
    var first = true
    block.split("\r\n").foreach { line =>
      if (first) { m += "__version" -> line; first = false }
      else {
        val c = line.indexOf(':')
        if (c > 0)
          m += line.substring(0, c).toLowerCase.trim ->
            line.substring(c + 1).trim
      }
    }
    m.result()
  }

  /** The distributed scan: the driver expands the glob to file names
    * (statuses only — cheap even at 100k segment files), tasks open
    * Hadoop FileSystem streams and walk records incrementally.
    * Filters (status, content-type) are cheap post-parse selections —
    * at crawl scale, push a path-level partition filter into the glob
    * instead. */
  def records(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val conf = new graft.util.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val glob = new org.apache.hadoop.fs.Path(pathGlob)
    val fs = glob.getFileSystem(conf.value)
    val matched = Option(fs.globStatus(glob)).map(_.toSeq).getOrElse(Seq.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    }.map(_.getPath.toString).sorted
    val bconf = spark.sparkContext.broadcast(conf)
    val slices = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(slices)
      .mapPartitions { paths =>
        paths.flatMap { p =>
          val fp = new org.apache.hadoop.fs.Path(p)
          val in = fp.getFileSystem(bconf.value.value).open(fp)
          // a malformed record throws mid-walk and a downstream
          // limit/take can abandon the iterator before exhaustion —
          // the task-completion listener closes the handle in both
          // cases (close is idempotent, so the eager close below is
          // still the common path)
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
          closeOnExhaust(responses(p, in), in)
        }
      }
      .toDF()
  }

  /** Wraps a record iterator so the underlying stream closes when
    * the walk completes, the file is empty, OR the walk throws. */
  private def closeOnExhaust(it: Iterator[WarcResponse],
                             in: java.io.InputStream): Iterator[WarcResponse] =
    new Iterator[WarcResponse] {
      private var closed = false
      private def closeNow(): Unit =
        if (!closed) { closed = true; in.close() }
      def hasNext: Boolean = {
        val h = try it.hasNext
        catch { case e: Throwable => closeNow(); throw e }
        if (!h) closeNow()
        h
      }
      def next(): WarcResponse =
        try it.next()
        catch { case e: Throwable => closeNow(); throw e }
    }

  // ---------------------------------------------------------------- fixture

  /** One fixture page; non-200 statuses and non-html content types
    * exercise downstream intake filters. */
  case class Page(uri: String, html: String, status: Int = 200,
                  contentType: String = "text/html; charset=utf-8")

  /** One fixture response with a raw byte payload — binary content
    * types (application/pdf, …). `revisit = true` emits a
    * `WARC-Type: revisit` record instead: headers + digest of
    * `payload` (the unchanged original's bytes) but NO body — the
    * Common Crawl dedup shape. `contentEncoding` (a comma list of
    * gzip/deflate/identity, applied left-to-right on the wire) and
    * `chunked` write the RAW-wire shapes Heritrix/wget archives
    * keep — the reader must undo them. */
  case class RawPage(uri: String, payload: Array[Byte], status: Int = 200,
                     contentType: String = "application/octet-stream",
                     revisit: Boolean = false,
                     contentEncoding: String = "",
                     chunked: Boolean = false)

  /** `md5:<hex>` over the payload — the fixture's digest scheme
    * (symbolically replayable in the SQL oracle, unlike base32
    * sha1). */
  private[graft] def md5Digest(payload: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    "md5:" + d.digest(payload).map(b => f"$b%02x").mkString
  }

  /** Fixture writer: a warcinfo record, then per page a request
    * record (which the reader must skip) and a response record
    * wrapping an HTTP message. `gzipPerRecord` concatenates one gzip
    * member per record — the Common Crawl layout. */
  def fixture(pages: Seq[(String, String)],
              gzipPerRecord: Boolean = false): Array[Byte] =
    fixtureOf(pages.map { case (u, h) => Page(u, h) }, gzipPerRecord)

  def fixtureOf(pages: Seq[Page],
                gzipPerRecord: Boolean = false): Array[Byte] =
    fixtureRaw(pages.map { pg =>
      RawPage(pg.uri,
        pg.html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        pg.status, pg.contentType)
    }, gzipPerRecord)

  def fixtureRaw(pages: Seq[RawPage],
                 gzipPerRecord: Boolean = false): Array[Byte] = {
    import scala.collection.mutable.ArrayBuffer
    def record(headers: Seq[(String, String)],
               body: Array[Byte]): Array[Byte] = {
      val h = new StringBuilder("WARC/1.0\r\n")
      headers.foreach { case (k, v) => h.append(s"$k: $v\r\n") }
      h.append(s"Content-Length: ${body.length}\r\n\r\n")
      h.toString.getBytes("US-ASCII") ++ body ++
        "\r\n\r\n".getBytes("US-ASCII")
    }
    val info = record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "WARC-Record-ID" -> "<urn:uuid:00000000-0000-0000-0000-000000000000>"),
      "software: graft-fixture\r\n".getBytes("US-ASCII"))
    val recs = ArrayBuffer[Array[Byte]](info)
    pages.zipWithIndex.foreach { case (pg, i) =>
      recs += record(Seq(
        "WARC-Type" -> "request",
        "WARC-Target-URI" -> pg.uri,
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "WARC-Record-ID" -> f"<urn:uuid:req-$i%08d>"),
        s"GET ${pg.uri} HTTP/1.1\r\nHost: example.com\r\n\r\n"
          .getBytes("US-ASCII"))
      val reason = if (pg.status == 200) "OK" else "NOK"
      if (pg.revisit) {
        // headers + the ORIGINAL payload's digest, no body — what a
        // crawler writes when the page hasn't changed
        val http = (s"HTTP/1.1 ${pg.status} $reason\r\n" +
          s"Content-Type: ${pg.contentType}\r\n" +
          s"Content-Length: 0\r\n\r\n").getBytes("US-ASCII")
        recs += record(Seq(
          "WARC-Type" -> "revisit",
          "WARC-Target-URI" -> pg.uri,
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Payload-Digest" -> md5Digest(pg.payload),
          "WARC-Record-ID" -> f"<urn:uuid:rvst-$i%08d>"),
          http)
      } else {
        // wire-encode as declared: content codings left-to-right,
        // chunking last (the outermost wire layer)
        var body = pg.payload
        val ceHeader =
          if (pg.contentEncoding.isEmpty) ""
          else {
            pg.contentEncoding.split(',').map(_.trim).filter(_.nonEmpty)
              .foreach { c =>
                body = c.toLowerCase(java.util.Locale.ROOT) match {
                  case "gzip" | "x-gzip" => ByteCodecs.gzip(body)
                  case "deflate" => deflateZlib(body)
                  case "identity" => body
                  // declared-but-unencodable: the HEADER is the test
                  // subject (the reader must fail the record on the
                  // token, never inspect the bytes)
                  case "br" => body
                  case other => throw new IllegalArgumentException(
                    s"fixture content coding $other")
                }
              }
            s"Content-Encoding: ${pg.contentEncoding}\r\n"
          }
        val framing =
          if (pg.chunked) { body = chunkify(body)
            "Transfer-Encoding: chunked\r\n" }
          else s"Content-Length: ${body.length}\r\n"
        val http = (s"HTTP/1.1 ${pg.status} $reason\r\n" +
          s"Content-Type: ${pg.contentType}\r\n" +
          ceHeader + framing + "\r\n")
          .getBytes("US-ASCII") ++ body
        recs += record(Seq(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> pg.uri,
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Payload-Digest" -> md5Digest(pg.payload),
          "WARC-Record-ID" -> f"<urn:uuid:resp-$i%08d>"),
          http)
      }
    }
    if (!gzipPerRecord) recs.flatten.toArray
    else recs.toArray.flatMap(r => ByteCodecs.gzip(r))
  }

  /** zlib-wrapped, the RFC 9110 form of the `deflate` coding. */
  private[graft] def deflateZlib(raw: Array[Byte]): Array[Byte] =
    ByteCodecs.deflate(raw)

  /** Chunked-wire form: varying chunk sizes (1 B up to ~300 B so
    * boundary handling is exercised), one chunk carrying an
    * extension the reader must drop, mixed-case hex, and a trailer
    * field after the zero chunk. */
  private[graft] def chunkify(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(raw.length + 64)
    def w(s: String): Unit =
      bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0,
        s.length)
    val sizes = Seq(1, 47, 300, 8, 111)
    var i = 0
    var k = 0
    while (i < raw.length) {
      val n = math.min(sizes(k % sizes.length), raw.length - i)
      val hex = if (k % 2 == 0) n.toHexString else
        n.toHexString.toUpperCase(java.util.Locale.ROOT)
      w(if (k == 1) s"$hex;graft=ext\r\n" else s"$hex\r\n")
      bos.write(raw, i, n)
      w("\r\n")
      i += n
      k += 1
    }
    w("0\r\n")
    w("X-Graft-Trailer: dropped\r\n")
    w("\r\n")
    bos.toByteArray
  }
}
