package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Page

/** WARC (ISO 28500) source — the interchange format Common-Crawl-style
  * web corpora actually arrive in, so the input_hint pages table
  * (`url, warc_ts, html, text, lang`) can be produced from crawl files
  * directly instead of assuming someone else already made parquet.
  *
  * Scale shape: a crawl snapshot is tens of thousands of ~1 GB
  * `.warc.gz` files, so FILE-granular parallelism (`sc.binaryFiles`,
  * one task per file) already saturates a 1000-executor cluster; within
  * a task the file is STREAM-parsed record by record off the
  * `PortableDataStream` — at no point is a whole WARC file, or anything
  * beyond the current record, materialized. This is the documented
  * "RDD only for genuine per-partition imperative logic" case: byte-level
  * record framing has no declarative form, and everything downstream of
  * the one `flatMap` is an ordinary Dataset.
  *
  * Untrusted-input contract (same as the multimodal decoders): a
  * malformed record, an oversized Content-Length, or a truncated tail
  * must never fail the partition — parsing stops at the first
  * irrecoverable framing error and the records already parsed stand.
  * Per-record payloads are capped (`MaxRecordBytes`); gzip members are
  * the per-record members Common Crawl writes (multi-member streams are
  * read transparently), with plain `.warc` supported for fixtures.
  */
object WarcSource {

  /** One parsed response record. `html` is the HTTP response body
    * exactly as stored (de-chunked when the response used
    * Transfer-Encoding: chunked); `mime` is the media type of the
    * response Content-Type header, lowercased, parameters stripped.
    */
  case class WarcRow(url: String, warc_ts: java.sql.Timestamp,
                     html: Array[Byte], http_status: Int, mime: String,
                     warc_file: String)

  /** Hard per-record payload cap — a crawl response larger than this is
    * discarded (and stops the file: Content-Length past the cap cannot
    * be trusted to frame the next record).
    */
  val MaxRecordBytes: Int = 128 << 20

  // ---------------------------------------------------------------- read

  /** All response records under `path` (glob ok) as a DataFrame of
    * [[WarcRow]]. One task per file; see object doc for why that is the
    * right parallelism at crawl scale.
    */
  def read(spark: SparkSession, path: String,
           minPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val mp = if (minPartitions > 0) minPartitions
             else spark.sparkContext.defaultParallelism
    spark.sparkContext.binaryFiles(path, mp)
      .flatMap { case (file, pds) =>
        val in = pds.open()
        // the iterator is LAZY — the stream must live until the task has
        // drained it, so closing rides task completion, not this scope
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case NonFatal(_) => }
          })
        parseStream(in, file)
      }
      .toDS()
      .toDF()
  }

  /** Adapt parsed records to the input_hint pages shape
    * (`url, warc_ts, html, text, lang`): text via the caller's
    * html→text extractor (the per-row invariant seam — byte-identical
    * extraction is the extractor's contract, tested against the
    * synthetic corpus), lang via the caller's classifier (a crawl's
    * `WARC-Identified-Content-Language` is optional, so the library
    * computes it; [[graft.ops.TextAnalysis.langId]] is the batch
    * variant). Rows whose extractor throws are dropped: a page that
    * cannot be extracted is not indexed.
    */
  def toPages(rows: Dataset[WarcRow],
              extract: Array[Byte] => String,
              lang: String => String = _ => "und"): Dataset[Page] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.flatMap { r =>
      scala.util.Try {
        val text = extract(r.html)
        Page(r.url, r.warc_ts, r.html, text, lang(text))
      }.toOption
    }
  }

  /** Stream-parse one WARC file (plain or gzip, incl. multi-member
    * per-record gzip) into response rows. Package-private for the spec.
    *
    * With `skipPayload` the record BODY is skipped instead of
    * materialized (html empty, status 0, mime "") — the column-pruning
    * fast path for scans that only need url/timestamp/file: on plain
    * files the payload bytes are never read, on gzip they are inflated
    * but never buffered, so a metadata-only pass allocates nothing per
    * record beyond the headers.
    */
  private[graft] def parseStream(raw: InputStream, file: String,
                                 skipPayload: Boolean = false): Iterator[WarcRow] = {
    val buf = new BufferedInputStream(raw, 1 << 16)
    buf.mark(2)
    val m0 = buf.read(); val m1 = buf.read()
    buf.reset()
    val in = new DataInputStream(
      if (m0 == 0x1f && m1 == 0x8b)
        new BufferedInputStream(new GZIPInputStream(buf, 1 << 16), 1 << 16)
      else buf)
    new Iterator[WarcRow] {
      private var nextRow: WarcRow = null
      private var done = false
      private def advance(): Unit = {
        while (nextRow == null && !done) {
          parseRecord(in, file, skipPayload) match {
            case ParsedRow(r)  => nextRow = r
            case SkippedRecord => // non-response / unparsable: keep going
            case EndOfStream   => done = true
          }
        }
      }
      def hasNext: Boolean = { advance(); nextRow != null }
      def next(): WarcRow = {
        advance()
        if (nextRow == null) throw new NoSuchElementException
        val r = nextRow; nextRow = null; r
      }
    }
  }

  private sealed trait ParseResult
  private case class ParsedRow(r: WarcRow) extends ParseResult
  private case object SkippedRecord extends ParseResult
  private case object EndOfStream extends ParseResult

  /** One record: version line, headers, Content-Length payload, CRLF
    * CRLF trailer. Any framing violation ends the stream (the byte
    * cursor can no longer be trusted); a well-framed record of the wrong
    * type (warcinfo, request, metadata…) or with an unparsable HTTP
    * payload is skipped.
    */
  private def parseRecord(in: DataInputStream, file: String,
                          skipPayload: Boolean = false): ParseResult =
    try {
      var version = readLine(in)
      // tolerate extra blank lines between records (some writers pad)
      while (version != null && version.isEmpty) version = readLine(in)
      if (version == null) return EndOfStream
      if (!version.startsWith("WARC/")) return EndOfStream
      var warcType = ""; var uri = ""; var date = ""; var ctype = ""
      var len = -1L
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        val i = line.indexOf(':')
        if (i > 0) {
          val k = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
          val v = line.substring(i + 1).trim
          k match {
            case "warc-type"       => warcType = v
            case "warc-target-uri" => uri = stripAngles(v)
            case "warc-date"       => date = v
            case "content-type"    => ctype = v
            case "content-length"  => len = v.toLongOption.getOrElse(-1L)
            case _                 =>
          }
        }
        line = readLine(in)
      }
      if (line == null || len < 0 || len > MaxRecordBytes) return EndOfStream
      val payload =
        if (skipPayload) { skipExact(in, len); Array.emptyByteArray }
        else { val p = new Array[Byte](len.toInt); in.readFully(p); p }
      // record trailer: two CRLFs (tolerate their absence at EOF)
      skipCrlf(in); skipCrlf(in)
      if (warcType != "response" || uri.isEmpty) return SkippedRecord
      val tsOpt = parseWarcDate(date)
      if (tsOpt.isEmpty) return SkippedRecord
      val ts = tsOpt.get
      if (skipPayload) {
        // metadata-only row: the payload (and with it status/mime, which
        // live in the stored HTTP head) was skipped, not parsed
        ParsedRow(WarcRow(uri, ts, Array.emptyByteArray, 0, "", file))
      } else if (ctype.toLowerCase(java.util.Locale.ROOT).startsWith("application/http")) {
        parseHttp(payload) match {
          case Some((status, mime, body)) =>
            ParsedRow(WarcRow(uri, ts, body, status, mime, file))
          case None => SkippedRecord
        }
      } else {
        // resource-style response: the payload IS the content
        ParsedRow(WarcRow(uri, ts, payload, 200,
          mimeOf(ctype), file))
      }
    } catch {
      // EOFException and malformed input alike: the cursor is lost. A
      // fatal error (OOM, an interrupted task) propagates instead of
      // reading as a silently truncated file.
      case NonFatal(_) => EndOfStream
    }

  private def stripAngles(s: String): String =
    if (s.length >= 2 && s.head == '<' && s.last == '>')
      s.substring(1, s.length - 1)
    else s

  private def parseWarcDate(s: String): Option[java.sql.Timestamp] =
    try Some(java.sql.Timestamp.from(java.time.Instant.parse(s)))
    catch { case NonFatal(_) => None }

  private def mimeOf(ctype: String): String = {
    val semi = ctype.indexOf(';')
    (if (semi >= 0) ctype.substring(0, semi) else ctype)
      .trim.toLowerCase(java.util.Locale.ROOT)
  }

  /** HTTP/1.x response payload → (status, mime, body). De-chunks
    * Transfer-Encoding: chunked bodies (crawls store responses verbatim).
    */
  private[sources] def parseHttp(payload: Array[Byte]): Option[(Int, String, Array[Byte])] = {
    val sep = indexOfCrlfCrlf(payload)
    if (sep < 0) return None
    val head = new String(payload, 0, sep, StandardCharsets.ISO_8859_1)
    val lines = head.split("\r\n")
    if (lines.isEmpty || !lines(0).startsWith("HTTP/")) return None
    val parts = lines(0).split(" ")
    val status = parts.lift(1).flatMap(_.toIntOption)
    if (status.isEmpty) return None
    var mime = ""
    var chunked = false
    lines.iterator.drop(1).foreach { l =>
      val i = l.indexOf(':')
      if (i > 0) {
        val k = l.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
        val v = l.substring(i + 1).trim
        if (k == "content-type") mime = mimeOf(v)
        if (k == "transfer-encoding" &&
            v.toLowerCase(java.util.Locale.ROOT).contains("chunked"))
          chunked = true
      }
    }
    val rawBody = java.util.Arrays.copyOfRange(payload, sep + 4, payload.length)
    val body = if (chunked) dechunk(rawBody).getOrElse(rawBody) else rawBody
    Some((status.get, mime, body))
  }

  private def indexOfCrlfCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** Transfer-Encoding: chunked → raw bytes. Bounded by the input length
    * (every loop step consumes at least one byte), None on malformed
    * framing — the caller then keeps the raw body rather than dropping
    * the record.
    */
  private[sources] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    def line(): String = {
      val start = i
      while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
      if (i + 1 >= b.length) return null
      val s = new String(b, start, i - start, StandardCharsets.ISO_8859_1)
      i += 2
      s
    }
    var doneChunks = false
    while (!doneChunks) {
      val l = line()
      if (l == null) return None
      val semi = l.indexOf(';')
      val hex = (if (semi >= 0) l.substring(0, semi) else l).trim
      val n = try Integer.parseInt(hex, 16)
              catch { case _: NumberFormatException => return None }
      if (n < 0 || i + n > b.length) return None
      if (n == 0) doneChunks = true
      else {
        out.write(b, i, n)
        i += n
        if (i + 1 < b.length && b(i) == '\r' && b(i + 1) == '\n') i += 2
        else return None
      }
    }
    Some(out.toByteArray)
  }

  private def readLine(in: DataInputStream): String = {
    val out = new java.io.ByteArrayOutputStream(128)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { out.write(c); c = in.read() }
    val bytes = out.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    new String(bytes, 0, n, StandardCharsets.ISO_8859_1)
  }

  /** Skip exactly `n` payload bytes (skip() may return short). */
  private def skipExact(in: DataInputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else { if (in.read() < 0) throw new EOFException(); left -= 1 }
    }
  }

  private def skipCrlf(in: DataInputStream): Unit = {
    in.mark(2)
    val a = in.read()
    if (a == '\r') { val b = in.read(); if (b != '\n') in.reset() }
    else if (a >= 0) in.reset()
  }

  // --------------------------------------------------------------- write

  /** Fixture/interop writer: the given pages as WARC response records
    * wrapping stored HTTP/1.1 responses — one gzip member PER RECORD when
    * `gzip` (the Common Crawl layout, which is what makes per-record
    * random access possible via a CDX index), plain `.warc` otherwise.
    * Deterministic record ids (hash of url) so fixtures are stable.
    */
  def write(pages: Iterator[Page], out: OutputStream,
            gzip: Boolean = true, chunkedEvery: Int = 0): Unit = {
    var n = 0
    pages.foreach { p =>
      val chunked = chunkedEvery > 0 && n % chunkedEvery == 0
      val rec = record(p, chunked)
      if (gzip) {
        val gz = new GZIPOutputStream(new FilterNoClose(out), 1 << 14)
        gz.write(rec)
        gz.close() // ends the member's native Deflater; FilterNoClose
                   // keeps the underlying file stream open
      } else out.write(rec)
      n += 1
    }
    out.flush()
  }

  /** java.util.zip closes the target on close(); members must not. */
  private final class FilterNoClose(out: OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      out.write(b, off, len)
    override def close(): Unit = flush()
  }

  private def record(p: Page, chunked: Boolean): Array[Byte] = {
    val body =
      if (chunked) {
        // exercise the de-chunker: split the html into two chunks
        val h = p.html
        val half = math.max(1, h.length / 2)
        val b = new java.io.ByteArrayOutputStream(h.length + 64)
        def chunk(off: Int, len: Int): Unit = {
          b.write(Integer.toHexString(len).getBytes(StandardCharsets.ISO_8859_1))
          b.write('\r'); b.write('\n')
          b.write(h, off, len)
          b.write('\r'); b.write('\n')
        }
        chunk(0, half); chunk(half, h.length - half)
        b.write("0\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
        b.toByteArray
      } else p.html
    val httpHead = new StringBuilder()
      .append("HTTP/1.1 200 OK\r\n")
      .append("Content-Type: text/html; charset=UTF-8\r\n")
      .append(if (chunked) "Transfer-Encoding: chunked\r\n"
              else s"Content-Length: ${body.length}\r\n")
      .append("\r\n").toString
      .getBytes(StandardCharsets.ISO_8859_1)
    val payload = httpHead ++ body
    val id = java.util.UUID.nameUUIDFromBytes(
      p.url.getBytes(StandardCharsets.UTF_8))
    val warcHead = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append("WARC-Type: response\r\n")
      .append(s"WARC-Record-ID: <urn:uuid:$id>\r\n")
      .append(s"WARC-Date: ${p.warc_ts.toInstant}\r\n")
      .append(s"WARC-Target-URI: ${p.url}\r\n")
      .append("Content-Type: application/http; msgtype=response\r\n")
      .append(s"Content-Length: ${payload.length}\r\n")
      .append("\r\n").toString
      .getBytes(StandardCharsets.ISO_8859_1)
    warcHead ++ payload ++ "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
  }

  /** A warcinfo header record (what real files start with) — written by
    * the spec fixture so the reader's skip path is exercised.
    */
  def warcinfoRecord(): Array[Byte] = {
    val body = "software: graft-fixture\r\n".getBytes(StandardCharsets.ISO_8859_1)
    val head = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append("WARC-Type: warcinfo\r\n")
      .append("WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000000>\r\n")
      .append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      .append("Content-Type: application/warc-fields\r\n")
      .append(s"Content-Length: ${body.length}\r\n")
      .append("\r\n").toString
      .getBytes(StandardCharsets.ISO_8859_1)
    head ++ body ++ "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
  }
}
