package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.corpus.SyntheticCorpus
import graft.index.{BuildConf, IndexStore}
import graft.model.Page
import graft.query._
import graft.streaming.StreamingIndexer

/** Structured-Streaming ingestion: per-batch committed slices, idempotent
  * replay, seal → queryable store equivalent to the batch build.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val NumDocs = 240L
  val conf = BuildConf(numSlices = 2, numBuckets = 4,
    termBuckets = 16, shufflePartitions = 4)

  lazy val outDir: String = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val source = MemoryStream[Page]
    val q = StreamingIndexer.ingest(source.toDF(), dir, conf)
    // three micro-batches of 80 pages each
    (0 until 3).foreach { b =>
      source.addData((b * 80L until (b + 1) * 80L).map(SyntheticCorpus.page))
      q.processAllAvailable()
    }
    q.stop()
    StreamingIndexer.seal(spark, dir, conf)
    dir
  }

  lazy val batchDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-batchref").toString
    IndexStore.build(SyntheticCorpus.pages(spark, NumDocs, 4).toDF(), dir, conf)
    dir
  }

  test("each micro-batch commits a slice + docmap shard with counters") {
    outDir
    (0 until 3).foreach { b =>
      val m = IndexStore.readManifest(outDir, s"minisegs-batch-$b")
      assert(m.isDefined, s"batch $b manifest")
      assert(m.get.contains("\"docs\"") && m.get.contains("\"docIdBase\""))
    }
  }

  test("sealed streaming store has identical stats to the batch build") {
    val sIdx = IndexStore.open(spark, outDir, 16)
    val bIdx = IndexStore.open(spark, batchDir, 16)
    assert(sIdx.collStats == bIdx.collStats)
    Seq("obama", "w0", "w123").foreach { t =>
      assert(sIdx.termStat(t, "default") == bIdx.termStat(t, "default"), t)
    }
  }

  /** Segment rows of real terms (a fused build also keeps doclen rows). */
  def termRows(dir: String): Long =
    spark.read.parquet(s"$dir/segments").filter(col("term") =!= "").count()

  test("a batch store below the bucket floor has one segment row per (term, field)") {
    // 240 docs: numBuckets = 4 alone would cut 60-doc buckets
    val rows = termRows(batchDir)
    assert(rows == spark.read.parquet(s"$batchDir/termstats").count())
    assert(rows == IndexStore.manifestCounter(batchDir, "segments", "segments"))
  }

  test("a batch-built and a stream-built store of the same pages share one layout") {
    assert(termRows(batchDir) == termRows(outDir))
    def termstats(dir: String) = spark.read.parquet(s"$dir/termstats")
      .select("term", "field", "df", "cf").collect().map(_.toString).toSeq.sorted
    assert(termstats(batchDir) == termstats(outDir))
    def collstats(dir: String) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "collstats.json"))
    assert(collstats(batchDir) == collstats(outDir))
  }

  test("query over sealed streaming store matches batch build (by url)") {
    val sIdx = IndexStore.open(spark, outDir, 16)
    val bIdx = IndexStore.open(spark, batchDir, 16)
    val parser = new QueryParser(defaultOp = QOp.SUM)
    def topUrls(dir: String, idx: graft.index.ParquetIndex): Seq[(String, Long)] = {
      val e = new Engine(idx, BM25())
      val hits = e.search("obama family tree", 10, parser)
        .select(col("docId")).collect().map(_.getLong(0))
      val urls = spark.read.parquet(s"$dir/docstats")
        .filter(col("docId").isin(hits.toSeq: _*))
        .select("docId", "url").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      hits.map(d => (urls(d), 0L)).toSeq
    }
    // docIds differ (arrival order vs url order) but the retrieved DOCUMENT
    // set must match; scores are docId-independent so the multiset of
    // retrieved urls is identical (ties may reorder within equal scores)
    assert(topUrls(outDir, sIdx).map(_._1).toSet ==
      topUrls(batchDir, bIdx).map(_._1).toSet)
  }

  test("replayed batch is skipped (idempotent recovery)") {
    outDir
    val before = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$outDir/_manifests/minisegs-batch-1.json"))
    import spark.implicits._
    // simulate checkpoint replay of batch 1 with the same data
    val replay = (80L until 160L).map(SyntheticCorpus.page).toDF()
    StreamingIndexer.processBatch(replay, 1L, outDir, conf)
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$outDir/_manifests/minisegs-batch-1.json")) == before)
    // high-water mark unchanged: no docIds leaked
    val hwm = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/_manifests/docid-hwm")).trim.toLong
    assert(hwm == spark.read.parquet(s"$outDir/docmap").count())
  }

  test("a sealed stream store merges with a batch store like one build over all pages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-stream-merge").toString
    // pages [0, 120) streamed in two batches, [120, 240) batch-built
    val source = MemoryStream[Page]
    val q = StreamingIndexer.ingest(source.toDF(), s"$base/stream", conf)
    (0 until 2).foreach { b =>
      source.addData((b * 60L until (b + 1) * 60L).map(SyntheticCorpus.page))
      q.processAllAvailable()
    }
    q.stop()
    StreamingIndexer.seal(spark, s"$base/stream", conf)
    assert(IndexStore.manifestCounter(s"$base/stream", "docmap", "docs") ==
      spark.read.parquet(s"$base/stream/docmap").count())
    IndexStore.build((120L until NumDocs).map(SyntheticCorpus.page).toDF(),
      s"$base/batch", conf)
    IndexStore.mergeStores(spark, s"$base/stream", s"$base/batch",
      s"$base/merged", conf)

    def collstats(dir: String): Set[String] =
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, "collstats.json"))
        .toArray.map(_.toString.trim.stripSuffix(",")).toSet
    assert(collstats(s"$base/merged") == collstats(batchDir))
    def top(dir: String, query: String): Set[(String, Long)] = {
      val hits = new Engine(IndexStore.open(spark, dir, 16), BM25())
        .search(query, 10, new QueryParser(defaultOp = QOp.SUM))
        .select("docId", "score").collect().map(r => r.getLong(0) -> r.getDouble(1))
      val urls = spark.read.parquet(s"$dir/docmap").select("docId", "url")
        .filter(col("docId").isin(hits.map(_._1).toSeq: _*)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      hits.map { case (d, s) => (urls(d), math.round(s * 1e9)) }.toSet
    }
    Seq("obama family tree", "#near/2(obama family)").foreach { query =>
      assert(top(s"$base/merged", query) == top(batchDir, query), query)
    }
  }
}
