package graft.sources

import java.io.InputStream
import java.util.zip.{CRC32, Inflater}
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDX-style random access over per-record-gzip WARC files.
  *
  * Common Crawl's layout writes each WARC record as its OWN gzip member,
  * which is what makes point reads possible: an index of
  * `(url, file, offset, length)` lets a consumer fetch one document with
  * one ranged read + one member inflate — the docstore pattern a search
  * engine uses to fetch its top-k documents without rescanning the
  * crawl. This object provides the three pieces:
  *
  *  - [[entries]] — scan `.warc.gz` files and emit one index row per
  *    response record with the member's exact compressed `(offset,
  *    length)`. Java's `GZIPInputStream` hides member boundaries behind
  *    read-ahead, so the member framing is parsed here directly (header,
  *    raw-deflate body via `Inflater`, CRC32+ISIZE trailer) with
  *    byte-exact position accounting.
  *  - [[buildCdx]] — the entries globally sorted by url (range partition
  *    + within-partition sort: a lookup binary-searches parquet row
  *    groups by min/max url, the same access path a real CDX serves).
  *  - [[fetchDocs]] — point reads: it joins a url set against the
  *    index, groups fetches per file, and reads each file's members in
  *    offset order — sequential I/O per file, one open per (task, file),
  *    no full-file scan.
  *
  * Scale shape: `entries` is one task per WARC file (same argument as
  * [[WarcSource.read]]); `buildCdx` is one range-partitioned sort of
  * small rows; `fetchDocs` shuffles only the url set (tiny next to the
  * crawl) and touches exactly the bytes of the requested members.
  *
  * Untrusted-input contract: framing violations (bad magic, CRC
  * mismatch, truncated trailer, member over the cap) stop that FILE's
  * scan — offsets past a framing error cannot be trusted — but parsed
  * entries stand and other files are unaffected; a point read of a bad
  * member yields no row instead of throwing.
  */
object WarcIndex {

  /** One index row. `offset`/`length` frame the gzip member inside
    * `warc_file`; `n_bytes` is the stored payload size (decompressed).
    */
  case class CdxEntry(url: String, warc_ts: java.sql.Timestamp,
                      http_status: Int, mime: String, warc_file: String,
                      offset: Long, length: Long, n_bytes: Long)

  /** Index rows for every response record under `path` (glob ok). */
  def entries(spark: SparkSession, path: String,
              minPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val mp = if (minPartitions > 0) minPartitions
             else spark.sparkContext.defaultParallelism
    spark.sparkContext.binaryFiles(path, mp)
      .flatMap { case (file, pds) =>
        val in = pds.open()
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case NonFatal(_) => }
          })
        GzipMembers.iterate(in, WarcSource.MaxRecordBytes).flatMap {
          case (off, len, bytes) =>
            recordOf(bytes).map { r =>
              CdxEntry(r.url, r.warc_ts, r.http_status, r.mime, file,
                off, len, r.html.length.toLong)
            }
        }
      }
      .toDS()
      .toDF()
  }

  /** Parse the single record stored in one inflated member; None for
    * non-response records (warcinfo, request, …).
    */
  private def recordOf(bytes: Array[Byte]): Option[WarcSource.WarcRow] = {
    val it = WarcSource.parseStream(
      new java.io.ByteArrayInputStream(bytes), "")
    if (it.hasNext) Some(it.next()) else None
  }

  /** The CDX: entries globally sorted by url. Write with
    * `.write.parquet(...)` — parquet row-group url min/max statistics
    * then serve range lookups without a full scan.
    */
  def buildCdx(entries: DataFrame): DataFrame =
    entries.sort("url", "warc_ts")

  /** Fetch the stored records for a url set: broadcast-join the (small)
    * url list against the index, then read each file's requested members
    * in offset order. Returns (url, warc_ts, html, http_status, mime).
    */
  def fetchDocs(cdx: DataFrame, urls: DataFrame): DataFrame = {
    val spark = cdx.sparkSession
    import spark.implicits._
    val hits = cdx.join(broadcast(urls.select("url").distinct()), "url")
      .select("warc_file", "offset", "length")
      .as[(String, Long, Long)]
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    hits
      .repartition(col("warc_file"))
      .sortWithinPartitions("warc_file", "offset")
      .mapPartitions { it =>
        var curFile: String = null
        var stream: org.apache.hadoop.fs.FSDataInputStream = null
        def close(): Unit =
          if (stream != null) { try stream.close() catch { case NonFatal(_) => }; stream = null }
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => close()))
        it.flatMap { case (file, off, len) =>
          if (file != curFile) {
            close()
            val p = new Path(file)
            stream = p.getFileSystem(conf.value).open(p)
            curFile = file
          }
          readMemberAt(stream, off, len).flatMap(recordOf)
        }
      }
      .map(r => (r.url, r.warc_ts, r.html, r.http_status, r.mime))
      .toDF("url", "warc_ts", "html", "http_status", "mime")
  }

  /** Ranged read of one gzip member: seek, read `length` bytes, inflate,
    * None on any framing violation.
    */
  private def readMemberAt(in: org.apache.hadoop.fs.FSDataInputStream,
                           offset: Long, length: Long): Option[Array[Byte]] = {
    if (length <= 0 || length > Int.MaxValue) return None
    val comp = new Array[Byte](length.toInt)
    try {
      in.seek(offset)
      in.readFully(comp)
    } catch { case NonFatal(_) => return None }
    val it = GzipMembers.iterate(
      new java.io.ByteArrayInputStream(comp), WarcSource.MaxRecordBytes)
    if (it.hasNext) Some(it.next()._3) else None
  }
}

/** Byte-exact gzip member framing (RFC 1952). [[iterate]] yields
  * `(offset, compressedLength, inflatedBytes)` per member with offsets
  * measured on the COMPRESSED stream — the accounting Java's
  * `GZIPInputStream` cannot provide because its read-ahead buffer hides
  * how many input bytes each member consumed.
  */
private[graft] object GzipMembers {

  /** Iterate members until EOF or the first framing violation (bad
    * magic/CM, inflate error, CRC or ISIZE mismatch, truncated trailer,
    * member inflating past `maxInflated`). Violations END the iteration
    * — offsets after an untrusted frame are meaningless — but never
    * throw.
    */
  def iterate(in: InputStream,
              maxInflated: Int): Iterator[(Long, Long, Array[Byte])] =
    new Iterator[(Long, Long, Array[Byte])] {
      private val cur = new Cursor(in)
      private var nextMember: (Long, Long, Array[Byte]) = null
      private var done = false
      private def advance(): Unit =
        if (nextMember == null && !done) {
          nextMember = readMember(cur, maxInflated).orNull
          if (nextMember == null) done = true
        }
      def hasNext: Boolean = { advance(); nextMember != null }
      def next(): (Long, Long, Array[Byte]) = {
        advance()
        if (nextMember == null) throw new NoSuchElementException
        val m = nextMember; nextMember = null; m
      }
    }

  /** Buffered reader with exact position accounting: `position` is the
    * offset of the next unread byte in the underlying stream.
    */
  private final class Cursor(in: InputStream) {
    private val buf = new Array[Byte](1 << 16)
    private var off = 0       // next unread byte in buf
    private var len = 0       // valid bytes in buf
    private var base = 0L     // stream offset of buf(0)
    def position: Long = base + off
    /** Ensure ≥1 unread byte buffered; false at EOF. */
    def fill(): Boolean = {
      if (off < len) return true
      base += len; off = 0
      len = math.max(in.read(buf), 0)
      len > 0
    }
    def read(): Int = if (!fill()) -1 else { val b = buf(off) & 0xff; off += 1; b }
    def skip(n: Int): Boolean = {
      var left = n
      while (left > 0) {
        if (!fill()) return false
        val take = math.min(left, len - off)
        off += take; left -= take
      }
      true
    }
    /** Expose the buffered window for the inflater. */
    def window: (Array[Byte], Int, Int) = (buf, off, len - off)
    def consume(n: Int): Unit = { off += n }
  }

  private def readMember(cur: Cursor,
                         maxInflated: Int): Option[(Long, Long, Array[Byte])] = {
    val start = cur.position
    val m0 = cur.read()
    if (m0 < 0) return None // clean EOF
    val m1 = cur.read(); val cm = cur.read(); val flg = cur.read()
    if (m0 != 0x1f || m1 != 0x8b || cm != 8 || flg < 0) return None
    if (!cur.skip(6)) return None // MTIME(4) XFL OS
    if ((flg & 4) != 0) { // FEXTRA
      val a = cur.read(); val b = cur.read()
      if (a < 0 || b < 0 || !cur.skip(a | (b << 8))) return None
    }
    if ((flg & 8) != 0 && !skipZeroTerminated(cur)) return None  // FNAME
    if ((flg & 16) != 0 && !skipZeroTerminated(cur)) return None // FCOMMENT
    if ((flg & 2) != 0 && !cur.skip(2)) return None              // FHCRC
    // raw-deflate body, fed from the cursor's window with explicit
    // consumed-byte accounting
    val inf = new Inflater(true)
    val crc = new CRC32
    var out = new Array[Byte](8 << 10)
    var outLen = 0
    try {
      var fedOff = -1; var fedLen = 0
      def sync(): Unit = if (fedOff >= 0) {
        cur.consume(fedLen - inf.getRemaining)
        fedOff = -1
      }
      while (!inf.finished()) {
        if (inf.needsInput()) {
          sync()
          if (!cur.fill()) return None // truncated body
          val (b, o, l) = cur.window
          inf.setInput(b, o, l)
          fedOff = o; fedLen = l
        }
        if (outLen == out.length) {
          if (out.length >= maxInflated) return None // inflate bomb cap
          out = java.util.Arrays.copyOf(out,
            math.min(out.length << 1, math.max(maxInflated, 1)))
        }
        val n = inf.inflate(out, outLen, out.length - outLen)
        if (n > 0) { crc.update(out, outLen, n); outLen += n }
        else if (!inf.finished() && !inf.needsInput()) return None // FDICT &c.
      }
      sync()
      // trailer: CRC32 + ISIZE, little-endian
      var tr = 0L; var i = 0
      while (i < 4) { val b = cur.read(); if (b < 0) return None
        tr |= b.toLong << (8 * i); i += 1 }
      if (tr != crc.getValue) return None
      var isize = 0L; i = 0
      while (i < 4) { val b = cur.read(); if (b < 0) return None
        isize |= b.toLong << (8 * i); i += 1 }
      if (isize != (outLen.toLong & 0xffffffffL)) return None
      Some((start, cur.position - start, java.util.Arrays.copyOf(out, outLen)))
    } catch {
      case NonFatal(_) => None // DataFormatException &c: framing violation
    } finally inf.end()
  }

  private def skipZeroTerminated(cur: Cursor): Boolean = {
    var b = cur.read()
    while (b > 0) b = cur.read()
    b == 0
  }
}
