package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.apache.spark.sql.functions._
import graft.corpus.SyntheticCorpus
import graft.index.{BuildConf, IndexStore}
import java.nio.file.{Files, Paths}

/** A failing single-slice build cleans up: it throws, and leaves neither a
  * cached frame nor a running job behind (the docmap and segments writers
  * of the fused path run as concurrent jobs over one cached input).
  */
class BuildFaultSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val conf = BuildConf(numSlices = 1, numBuckets = 4,
    termBuckets = 16, shufflePartitions = 4)

  def pages = SyntheticCorpus.pages(spark, 200, 4).toDF()

  def assertCleanFailure(build: => Unit): Unit = {
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    intercept[Exception](build)
    assert((sc.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "the failed build left an RDD cached")
    // the status tracker reads the listener bus's store, which trails the
    // scheduler: give it a moment to see the last job end
    eventually(timeout(Span(10, Seconds))) {
      assert(sc.statusTracker.getActiveJobIds.isEmpty, "a job still runs")
    }
  }

  test("a page whose text fails to compute fails the build and leaves nothing cached") {
    // an "en" page: the build's language filter drops the others first
    val failUrl = (0L until 200L).map(SyntheticCorpus.page)
      .find(_.lang == "en").get.url
    val text = udf { (url: String, t: String) =>
      if (url == failUrl) throw new IllegalStateException(s"unreadable $url") else t
    }
    val dir = Files.createTempDirectory("graft-fault-text").toString
    assertCleanFailure(IndexStore.build(
      pages.withColumn("text", text(col("url"), col("text"))), dir, conf))
  }

  test("a failing docmap writer fails the build only after the segments writer ends") {
    val dir = Files.createTempDirectory("graft-fault-commit").toString
    // a directory holds the docmap commit's temp-file name: the docmap
    // writer fails after its write, while the segments writer runs on
    Files.createDirectories(Paths.get(dir, "_manifests", ".docmap.json.tmp", "x"))
    assertCleanFailure(IndexStore.build(pages, dir, conf))
    assert(!IndexStore.isCommitted(dir, "docmap"))
    assert(IndexStore.isCommitted(dir, "minisegs-slice-0"),
      "the build returned before its segments writer finished")
  }
}
