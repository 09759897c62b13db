package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.apache.spark.sql.functions._
import graft.corpus.SyntheticCorpus
import graft.index.{BuildConf, Codec, IndexStore}
import graft.streaming.StreamingIndexer
import java.nio.file.{Files, Paths}

/** A failing store stage cleans up: the call throws, and leaves neither a
  * cached frame nor a running job behind (concurrent stages share cached
  * inputs), and a re-run completes the store exactly as a clean run does.
  */
class BuildFaultSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val conf = BuildConf(numSlices = 1, numBuckets = 4,
    termBuckets = 16, shufflePartitions = 4)
  val staged = conf.copy(numSlices = 2)

  def pages = SyntheticCorpus.pages(spark, 200, 4).toDF()

  def assertCleanFailure(build: => Unit, clue: String = ""): Unit = {
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    intercept[Exception](build)
    assert((sc.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      s"$clue: the failed call left an RDD cached")
    // the status tracker reads the listener bus's store, which trails the
    // scheduler: give it a moment to see the last job end
    eventually(timeout(Span(10, Seconds))) {
      assert(sc.statusTracker.getActiveJobIds.isEmpty, s"$clue: a job still runs")
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

  /** What a re-run must reproduce: termstats, docstats, the decoded
    * segment rows and the collstats.json bytes.
    */
  def contents(dir: String): Seq[Seq[String]] = {
    import spark.implicits._
    def rows(table: String) =
      spark.read.parquet(s"$dir/$table").collect().map(_.toString).toSeq.sorted
    val postings = spark.read.parquet(s"$dir/segments")
      .select("term", "field", "n", "blob").as[(String, String, Int, Array[Byte])]
      .flatMap { case (t, f, n, blob) =>
        Codec.decode(blob, n).map(p =>
          s"$t|$f|${p.docId}|${p.tf}|${p.dl}|${p.positions.mkString(",")}")
      }.collect().toSeq.sorted
    Seq(rows("termstats"), rows("docstats"), postings,
      Seq(Files.readString(Paths.get(dir, "collstats.json"))))
  }

  /** For each stage: a directory at its commit's temp-file name fails the
    * commit; the run must fail cleanly, and once the blocker is gone a
    * re-run must give the clean store's contents.
    */
  def failEachStage(what: String, stages: Seq[String], clean: String)(
      run: String => Unit): Unit = {
    val want = contents(clean)
    stages.foreach { st =>
      val dir = Files.createTempDirectory("graft-fault-stage").toString
      val blocker = Paths.get(dir, "_manifests", s".$st.json.tmp")
      Files.createDirectories(blocker.resolve("x"))
      assertCleanFailure(run(dir), s"$what, $st")
      assert(!IndexStore.isCommitted(dir, st), s"$what, $st")
      Files.delete(blocker.resolve("x")); Files.delete(blocker)
      run(dir)
      assert(contents(dir) == want, s"$what: re-run after a failed $st commit")
    }
  }

  def cleanDir(run: String => Unit): String = {
    val dir = Files.createTempDirectory("graft-fault-clean").toString
    run(dir)
    dir
  }

  val derived = Seq("segments", "termstats", "docstats", "collstats")

  test("every stage of a fused build fails cleanly and resumes") {
    val run = (dir: String) => IndexStore.build(pages, dir, conf)
    failEachStage("fused build", Seq("docmap", "minisegs-slice-0") ++ derived,
      cleanDir(run))(run)
  }

  test("every stage of a staged build fails cleanly and resumes") {
    val run = (dir: String) => IndexStore.build(pages, dir, staged)
    failEachStage("staged build",
      Seq("docmap", "minisegs-slice-0", "minisegs-slice-1") ++ derived,
      cleanDir(run))(run)
  }

  /** Two sealed halves of the pages, split by url. */
  lazy val halves: (String, String) = {
    val median = pages.select("url").orderBy("url").collect()
      .map(_.getString(0)).apply(100)
    val base = Files.createTempDirectory("graft-fault-halves").toString
    IndexStore.build(pages.filter(col("url") < median), s"$base/a", conf)
    IndexStore.build(pages.filter(col("url") >= median), s"$base/b", staged)
    (s"$base/a", s"$base/b")
  }

  test("every stage of mergeStores fails cleanly and resumes") {
    val run = (dir: String) =>
      IndexStore.mergeStores(spark, halves._1, halves._2, dir, conf)
    failEachStage("merge", "docmap" +: derived, cleanDir(run))(run)
  }

  test("every stage of deleteDocs fails cleanly and resumes") {
    val urls = spark.read.parquet(s"${halves._2}/docmap")
      .filter(col("docId") % 3 === 0).select("url")
    val run = (dir: String) =>
      IndexStore.deleteDocs(spark, halves._2, dir, urls, conf)
    failEachStage("delete", "docmap" +: derived, cleanDir(run))(run)
  }

  test("every stage of a stream seal fails cleanly and resumes") {
    // committed batches are skipped on the re-run; seal redoes its stages
    val run = (dir: String) => {
      (0 until 2).foreach { b =>
        StreamingIndexer.processBatch(
          pages.filter(substring(col("url"), -1, 1).cast("int") % 2 === b),
          b, dir, conf)
      }
      StreamingIndexer.seal(spark, dir, conf)
    }
    failEachStage("seal", "docmap" +: derived, cleanDir(run))(run)
  }

  test("a stream batch whose minisegs write fails returns after its docmap writer") {
    val dir = Files.createTempDirectory("graft-fault-batch").toString
    // a regular file where the minisegs table goes fails that write at once
    Files.writeString(Paths.get(dir, "minisegs"), "")
    assertCleanFailure(StreamingIndexer.processBatch(pages, 0, dir, conf))
    assert(Files.exists(Paths.get(dir, "docmap", "batch=0", "_SUCCESS")),
      "the batch returned before its docmap writer finished")
    assert(!IndexStore.isCommitted(dir, "minisegs-batch-0"))
  }
}
