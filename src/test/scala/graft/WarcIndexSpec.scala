package graft

import java.io.{ByteArrayInputStream, FileOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.SyntheticCorpus
import graft.sources.{WarcIndex, WarcSource}

/** CDX-style random access: the member offsets [[WarcIndex.entries]]
  * records must frame the file EXACTLY (tiling check), every entry must
  * point-read back to the byte-identical stored record, and framing
  * violations must stop the damaged file without poisoning its parsed
  * prefix or other files.
  */
class WarcIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val N = 60
  lazy val pages = (0L until N.toLong).map(SyntheticCorpus.page)

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("warcidx-spec").toString
    var i = 0
    for ((slice, name) <- Seq(
           (pages.take(N / 2), "part-0.warc.gz"),
           (pages.drop(N / 2), "part-1.warc.gz"))) {
      val gz = new FileOutputStream(s"$d/$name")
      val gzInfo = new java.util.zip.GZIPOutputStream(gz)
      gzInfo.write(WarcSource.warcinfoRecord()); gzInfo.finish()
      WarcSource.write(slice.iterator, gz, gzip = true, chunkedEvery = 4 + i)
      gz.close()
      i += 1
    }
    d
  }

  lazy val idx = WarcIndex.entries(spark, s"$dir/*.warc.gz").collect()
  lazy val cdx = WarcIndex.buildCdx(WarcIndex.entries(spark, s"$dir/*.warc.gz"))

  test("one entry per response record; warcinfo members indexed past") {
    assert(idx.length == N)
    assert(idx.map(_.getString(0)).distinct.length == N) // url
  }

  test("members tile each file exactly: offsets+lengths cover to EOF") {
    idx.groupBy(_.getString(4)).foreach { case (file, rows) =>
      val sorted = rows.sortBy(_.getLong(5))
      val fileLen = new java.io.File(new java.net.URI(file)).length()
      // first response member starts after the warcinfo member
      assert(sorted.head.getLong(5) > 0, file)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(5) + a.getLong(6) == b.getLong(5), file)
        case _ =>
      }
      val last = sorted.last
      assert(last.getLong(5) + last.getLong(6) == fileLen, file)
    }
  }

  test("every entry point-reads back byte-identical") {
    import spark.implicits._
    val got = WarcIndex.fetchDocs(cdx, idx.map(_.getString(0)).toSeq.toDF("url"))
      .collect()
    assert(got.map(_.getString(0)).sorted.toSeq == pages.map(_.url).sorted)
    val byUrl = pages.map(p => p.url -> p).toMap
    got.foreach { r =>
      val p = byUrl(r.getString(0))
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), p.html), p.url)
      assert(r.getTimestamp(1) == p.warc_ts, p.url)
    }
  }

  test("fetchDocs returns exactly the requested urls, byte-identical") {
    import spark.implicits._
    val want = pages.zipWithIndex.collect { case (p, i) if i % 7 == 0 => p }
    val got = WarcIndex.fetchDocs(cdx, want.map(_.url).toDF("url")).collect()
    assert(got.map(_.getString(0)).sorted.toSeq ==
      want.map(_.url).sorted)
    val byUrl = want.map(p => p.url -> p).toMap
    got.foreach { r =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]](2), byUrl(r.getString(0)).html), r.getString(0))
    }
  }

  test("a corrupted member stops that file's scan; prefix and other files stand") {
    val d = java.nio.file.Files.createTempDirectory("warcidx-bad").toString
    val gz = new FileOutputStream(s"$d/good.warc.gz")
    WarcSource.write(pages.take(5).iterator, gz, gzip = true)
    gz.close()
    // damaged copy: flip a byte inside the 4th member's deflate body
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/good.warc.gz"))
    val offs = graft.sources.GzipMembers
      .iterate(new ByteArrayInputStream(bytes), WarcSource.MaxRecordBytes)
      .map(_._1).toVector
    assert(offs.length == 5)
    val dmg = bytes.clone()
    dmg((offs(3) + 20).toInt) = (dmg((offs(3) + 20).toInt) ^ 0x55).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/bad.warc.gz"), dmg)
    new java.io.File(s"$d/good.warc.gz").delete()
    val fix = new FileOutputStream(s"$d/other.warc.gz")
    WarcSource.write(pages.slice(10, 13).iterator, fix, gzip = true)
    fix.close()
    val got = WarcIndex.entries(spark, s"$d/*.warc.gz").collect()
    val byFile = got.groupBy(r => r.getString(4).split('/').last)
    assert(byFile("bad.warc.gz").length == 3)  // members 0-2 stand
    assert(byFile("other.warc.gz").length == 3) // unaffected
  }

  test("member iteration enforces the inflate cap") {
    // one member that inflates to 1 MiB: with a 64 KiB cap it must be
    // rejected, with a generous cap accepted
    val big = graft.model.Page("http://big/", pages.head.warc_ts,
      Array.fill[Byte](1 << 20)('x'), "", "en")
    val out = new java.io.ByteArrayOutputStream()
    WarcSource.write(Iterator.single(big), out, gzip = true)
    val b = out.toByteArray
    assert(!graft.sources.GzipMembers
      .iterate(new ByteArrayInputStream(b), 1 << 16).hasNext)
    assert(graft.sources.GzipMembers
      .iterate(new ByteArrayInputStream(b), 1 << 22).hasNext)
  }
}
