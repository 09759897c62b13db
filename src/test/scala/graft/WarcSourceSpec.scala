package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.SyntheticCorpus
import graft.sources.WarcSource

/** WARC source round-trip: pages → Common-Crawl-layout `.warc.gz`
  * (per-record gzip members, warcinfo head record, some responses
  * chunked) and plain `.warc` → read back byte-identical. Untrusted-input
  * behavior: malformed tails and oversized Content-Length stop the file
  * without failing it; non-response records are skipped.
  */
class WarcSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val N = 120
  lazy val pages = (0L until N.toLong).map(SyntheticCorpus.page)

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("warc-spec").toString
    val gz = new FileOutputStream(s"$d/part-0.warc.gz")
    // warcinfo head record inside its own gzip member, like real files
    val gzInfo = new java.util.zip.GZIPOutputStream(gz)
    gzInfo.write(WarcSource.warcinfoRecord()); gzInfo.finish()
    WarcSource.write(pages.take(N / 2).iterator, gz, gzip = true,
      chunkedEvery = 5)
    gz.close()
    val plain = new FileOutputStream(s"$d/part-1.warc")
    plain.write(WarcSource.warcinfoRecord())
    WarcSource.write(pages.drop(N / 2).iterator, plain, gzip = false,
      chunkedEvery = 7)
    plain.close()
    d
  }

  test("gz + plain WARC round-trip: url, timestamp, html byte-identical") {
    val rows = WarcSource.read(spark, s"$dir/*").collect()
    assert(rows.length == N)
    val byUrl = rows.map(r => r.getString(0) -> r).toMap
    assert(byUrl.size == N)
    pages.foreach { p =>
      val r = byUrl(p.url)
      assert(r.getTimestamp(1) == p.warc_ts, p.url)
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), p.html), p.url)
      assert(r.getInt(3) == 200)
      assert(r.getString(4) == "text/html")
    }
  }

  test("toPages restores the input_hint shape with byte-identical text") {
    import spark.implicits._
    val rows = WarcSource.read(spark, s"$dir/part-0.warc.gz")
      .as[WarcSource.WarcRow]
    val got = WarcSource.toPages(rows, SyntheticCorpus.extractText,
      t => if (t.nonEmpty) "en" else "und").collect()
    assert(got.length == N / 2)
    val byUrl = got.map(p => p.url -> p).toMap
    pages.take(N / 2).foreach { p =>
      assert(byUrl(p.url).text == p.text, p.url) // byte-identical extraction
    }
  }

  private def writeRecords(ps: Seq[graft.model.Page]): ByteArrayOutputStream = {
    val out = new ByteArrayOutputStream()
    WarcSource.write(ps.iterator, out, gzip = false)
    out
  }

  test("malformed tail stops the file; parsed records stand") {
    val out = writeRecords(pages.take(3))
    out.write("WARC/1.0\r\nWARC-Type: response\r\ngarbage without length\r\n\r\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    val rows = WarcSource.parseStream(
      new ByteArrayInputStream(out.toByteArray), "mem").toVector
    assert(rows.length == 3)
  }

  test("oversized Content-Length stops the file (untrusted framing)") {
    val out = writeRecords(pages.take(2))
    out.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://x/\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${WarcSource.MaxRecordBytes.toLong + 1}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1))
    val rows = WarcSource.parseStream(
      new ByteArrayInputStream(out.toByteArray), "mem").toVector
    assert(rows.length == 2)
  }

  test("non-response and non-HTTP records are skipped, not fatal") {
    val out = new ByteArrayOutputStream()
    out.write(WarcSource.warcinfoRecord())
    WarcSource.write(pages.slice(3, 5).iterator, out, gzip = false)
    out.write(WarcSource.warcinfoRecord())
    WarcSource.write(pages.slice(5, 6).iterator, out, gzip = false)
    val rows = WarcSource.parseStream(
      new ByteArrayInputStream(out.toByteArray), "mem").toVector
    assert(rows.map(_.url) == pages.slice(3, 6).map(_.url))
  }

  test("truncated final record yields the complete prefix") {
    val full = writeRecords(pages.take(4)).toByteArray
    // cut into the middle of the 4th record's payload
    val cut = java.util.Arrays.copyOf(full, full.length - pages(3).html.length / 2)
    val rows = WarcSource.parseStream(
      new ByteArrayInputStream(cut), "mem").toVector
    assert(rows.length == 3)
  }

  test("a fatal read error propagates instead of ending the file") {
    // one complete record, then the stream fails the way an interrupted
    // task's read does: the error must reach the task, not read as EOF
    val record = new ByteArrayInputStream(writeRecords(pages.take(1)).toByteArray)
    val failing = new java.io.InputStream {
      private def interrupted = new InterruptedException("read interrupted")
      def read(): Int = { val b = record.read(); if (b < 0) throw interrupted; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = record.read(b, off, len); if (n < 0) throw interrupted; n
      }
    }
    val rows = WarcSource.parseStream(failing, "mem")
    assert(rows.next().url == pages(0).url)
    intercept[InterruptedException](rows.hasNext)
  }
}
