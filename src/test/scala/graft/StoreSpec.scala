package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.SyntheticCorpus
import graft.index._
import graft.query._
import graft.streaming.StreamingIndexer
import java.nio.file.{Files, Paths}

/** Persistent store: build → read-back equivalence with the in-memory
  * index, checkpoint/resume semantics, and manifest counters.
  */
class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val NumDocs = 400L
  /** 100-doc buckets: four over the 400 docs, so heavy-term salting and
    * cross-bucket merge/delete stay covered (the default bucket size puts
    * a store this small in one bucket).
    */
  val SmallBuckets = 100L
  lazy val outDir: String = {
    val dir = Files.createTempDirectory("graft-store").toString
    val pages = SyntheticCorpus.pages(spark, NumDocs, 8).toDF()
    IndexStore.build(pages, dir,
      BuildConf(numSlices = 4, numBuckets = 4,
        termBuckets = 16, shufflePartitions = 8, bucketDocs = SmallBuckets))
    dir
  }
  /** The same pages in the default layout: one bucket, so one segment row
    * per (term, field).
    */
  lazy val oneBucketDir: String = {
    val dir = Files.createTempDirectory("graft-store-1b").toString
    IndexStore.build(SyntheticCorpus.pages(spark, NumDocs, 8).toDF(), dir,
      BuildConf(numSlices = 1, numBuckets = 4,
        termBuckets = 16, shufflePartitions = 8))
    dir
  }
  lazy val pIndex: ParquetIndex = IndexStore.open(spark, outDir, 16)

  /** In-memory index over the same (lang=en) pages for cross-checking
    * (docmap doubles as the id-carrying corpus copy).
    */
  lazy val memIndex: DfIndex = {
    val docmap = spark.read.parquet(s"$outDir/docmap")
    IndexBuilder.inMemory(
      IndexBuilder.buildPostings(IndexStore.fieldDocs(docmap)))
  }

  /** docId ranges of a term's segment rows in bucket order: the layout
    * contract is that they ascend and never overlap.
    */
  def assertBucketsOrdered(idx: ParquetIndex, term: String, clue: String): Unit = {
    val ranges = idx.segmentsOf(term, "default").collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("firstDocId"),
        r.getAs[Long]("lastDocId"))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((b1, _, l1), (b2, f2, _)) =>
        assert(b1 < b2 && l1 < f2, s"$clue: $term buckets overlap")
      case _ =>
    }
  }

  def bucketCount(dir: String): Long =
    spark.read.parquet(s"$dir/segments").select("bucket").distinct().count()

  test("stats match in-memory build") {
    assert(pIndex.collStats == memIndex.collStats)
    Seq(("w0", "default"), ("obama", "default"), ("w123", "title"),
      ("zzz", "default")).foreach { case (t, f) =>
      assert(pIndex.termStat(t, f) == memIndex.termStat(t, f), s"($t,$f)")
    }
  }

  test("decoded postings match in-memory postings (incl. salted heavy terms)") {
    Seq("w0", "w1", "obama", "w777").foreach { t =>
      val a = pIndex.postings(t, "default")
        .orderBy("docId").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getSeq[Int](3).toList))
      val b = memIndex.postings(t, "default")
        .orderBy("docId").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getSeq[Int](3).toList))
      assert(a.length == b.length, s"term $t: ${a.length} vs ${b.length}")
      a.zip(b).foreach { case (x, y) => assert(x == y, s"term $t") }
    }
  }

  test("a store opened by file:// URI serves Engine and WAND queries") {
    val byUri = IndexStore.open(spark, s"file://$outDir", 16)
    assert(byUri.collStats == pIndex.collStats)
    val parser = new QueryParser(defaultOp = QOp.SUM)
    def engineTop(idx: ParquetIndex) = new Engine(idx, BM25())
      .search("obama family tree", 10, parser).collect().map(_.toString).toList
    def wandTop(idx: ParquetIndex) = graft.query.Wand.bm25TopK(spark, idx,
      Seq("obama", "family", "w3"), "default", 10).collect().map(_.toString).toList
    assert(engineTop(byUri) == engineTop(pIndex))
    assert(wandTop(byUri) == wandTop(pIndex))
  }

  test("stores written to file:// URIs match their plain-path twins") {
    import spark.implicits._
    val pages = SyntheticCorpus.pages(spark, 200, 4).toDF()
    val median = pages.select("url").orderBy("url").collect()
      .map(_.getString(0)).apply(100)
    val conf = BuildConf(numSlices = 2, numBuckets = 4,
      termBuckets = 16, shufflePartitions = 4)
    def batch(b: Long) = (b * 40L until (b + 1) * 40L).map(SyntheticCorpus.page).toDF()
    // every store step, into `root` given as a plain path or as a URI
    def lifecycle(root: String): Unit = {
      IndexStore.build(pages.filter(col("url") < median), s"$root/a", conf)
      IndexStore.build(pages.filter(col("url") >= median), s"$root/b",
        conf.copy(numSlices = 1))
      IndexStore.mergeStores(spark, s"$root/a", s"$root/b", s"$root/ab", conf)
      IndexStore.deleteDocs(spark, s"$root/ab", s"$root/del",
        pages.filter(col("url") < median).limit(20).select("url"), conf)
      Seq(0L, 1L).foreach(b =>
        StreamingIndexer.processBatch(batch(b), b, s"$root/stream", conf))
      StreamingIndexer.seal(spark, s"$root/stream", conf)
      StreamingIndexer.processBatch(batch(2), 2, s"$root/stream", conf)
      StreamingIndexer.seal(spark, s"$root/stream", conf)
    }
    val base = Files.createTempDirectory("graft-uri").toString
    lifecycle(s"$base/plain")
    lifecycle(s"file://$base/uri")
    val parser = new QueryParser(defaultOp = QOp.SUM)
    Seq("a", "b", "ab", "del", "stream").foreach { store =>
      def top(dir: String) = new Engine(IndexStore.open(spark, dir, 16), BM25())
        .search("obama family tree", 10, parser).collect().map(_.toString).toList
      assert(top(s"file://$base/uri/$store") == top(s"$base/plain/$store"), store)
      // every file of the store sits under its URI, none under the cwd
      assert(Files.readString(Paths.get(base, "uri", store, "collstats.json")) ==
        Files.readString(Paths.get(base, "plain", store, "collstats.json")), store)
    }
    // the re-seal recorded the third batch
    assert(IndexStore.manifestCounter(s"file://$base/uri/stream", "docmap", "docs") ==
      spark.read.parquet(s"$base/uri/stream/docmap").count())
  }

  test("store files on a FileSystem whose rename refuses an existing target") {
    // every store FileSystem but the local one takes the Hadoop path of
    // writeFile/readFile; HdfsLikeFs is a local disk that renames like HDFS
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.hdfslike.impl", classOf[HdfsLikeFs].getName)
    hc.set("fs.AbstractFileSystem.hdfslike.impl", classOf[HdfsLikeAfs].getName)
    val dir = Files.createTempDirectory("graft-hdfslike").toString
    val hwm = s"hdfslike://$dir/_manifests/docid-hwm"
    assert(IndexStore.readFile(hwm).isEmpty)
    IndexStore.writeFile(hwm, "40")
    val refusedBefore = HdfsLikeFs.refused.get
    IndexStore.writeFile(hwm, "80")
    assert(HdfsLikeFs.refused.get > refusedBefore, "the re-write met a refusing rename")
    assert(IndexStore.readFile(hwm).contains("80"))
    IndexStore.stage(s"hdfslike://$dir", "s")(Map("n" -> 1L))
    assert(IndexStore.manifestCounter(s"hdfslike://$dir", "s", "n") == 1L)
    assert(Files.list(Paths.get(dir, "_manifests")).toArray.map(_.toString).sorted.toSeq ==
      Seq(s"$dir/_manifests/docid-hwm", s"$dir/_manifests/s.json"))
  }

  test("a staged build never changes the caller's session conf") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.get(key)
    val dir = Files.createTempDirectory("graft-conf").toString
    // splitBytes > 0 takes the staged path, which reads the docmap with
    // this split size
    val build = Future(IndexStore.build(SyntheticCorpus.pages(spark, 200, 4).toDF(),
      dir, BuildConf(numSlices = 2, numBuckets = 4, termBuckets = 16,
        shufflePartitions = 4, splitBytes = 1L << 20)))
    val seen = scala.collection.mutable.Set(before)
    while (!build.isCompleted) seen += spark.conf.get(key)
    Await.result(build, Duration.Inf)
    assert(seen == Set(before))
    assert(IndexStore.isCommitted(dir, "minisegs-slice-1"))
  }

  test("heavy terms are salted into multiple segments") {
    val segs = pIndex.segmentsOf("w0", "default").collect()
    assert(segs.length > 1, "w0 should be df-heavy and range-bucketed")
    // buckets are docId ranges: non-overlapping and ordered
    assertBucketsOrdered(pIndex, "w0", "full build")
  }

  test("query over ParquetIndex matches query over in-memory index") {
    val parser = new QueryParser(defaultOp = QOp.SUM)
    val eP = new Engine(pIndex, BM25())
    val eM = new Engine(memIndex, BM25())
    Seq("obama family tree", "w0 w1", "#near/2(obama family)").foreach { q =>
      val a = eP.search(q, 20, parser).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toList
      val b = eM.search(q, 20, parser).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toList
      assert(a == b, s"'$q'")
    }
  }

  test("manifests carry counters and all stages commit") {
    val stages = Seq("docmap", "termstats", "segments", "docstats",
      "collstats") ++ (0 until 4).map(i => s"minisegs-slice-$i")
    stages.foreach(s => assert(IndexStore.isCommitted(outDir, s), s))
    val m = IndexStore.readManifest(outDir, "minisegs-slice-0").get
    assert(m.contains("\"postings\"") && m.contains("\"docs\"") &&
      m.contains("\"tokens\""))
    val seg = IndexStore.readManifest(outDir, "segments").get
    assert(seg.contains("\"bytes\"") && seg.contains("\"postings\""))
    // slice doc counters sum to the docmap count (exact, from sentinels)
    val sliceDocs = (0 until 4).map(i =>
      IndexStore.manifestCounter(outDir, s"minisegs-slice-$i", "docs")).sum
    assert(sliceDocs == IndexStore.manifestCounter(outDir, "docmap", "docs"))
    // every stage records its wall time, which the build report lists
    assert(IndexStore.stageWalls(outDir).map(_._1).toSet == stages.toSet)
    assert(IndexStore.stageWalls(outDir).last._1 == "collstats")
  }

  test("resume skips committed slices and reproduces identical output") {
    outDir // force build
    // wipe one slice's manifest + output: rebuild must redo ONLY that work
    val victim = s"$outDir/_manifests/minisegs-slice-2.json"
    val before = Files.getLastModifiedTime(
      Paths.get(s"$outDir/_manifests/minisegs-slice-1.json"))
    val sliceCountBefore = spark.read
      .parquet(s"$outDir/minisegs/slice=2").count()
    Files.delete(Paths.get(victim))
    val pages = SyntheticCorpus.pages(spark, NumDocs, 8).toDF()
    IndexStore.build(pages, outDir,
      BuildConf(numSlices = 4, numBuckets = 4,
        termBuckets = 16, shufflePartitions = 8, bucketDocs = SmallBuckets))
    // untouched slice not recomputed (manifest mtime unchanged)
    assert(Files.getLastModifiedTime(
      Paths.get(s"$outDir/_manifests/minisegs-slice-1.json")) == before)
    // recomputed slice identical (deterministic)
    assert(spark.read.parquet(s"$outDir/minisegs/slice=2").count() ==
      sliceCountBefore)
    assert(IndexStore.isCommitted(outDir, "minisegs-slice-2"))
  }

  test("fused single-slice build produces an identical store") {
    // numSlices = 1 takes the fused path (no minisegs table; doclen
    // sentinels ride into the segments table); every derived table and
    // query result must match the staged build bit-for-bit
    val dir = Files.createTempDirectory("graft-fused").toString
    val pages = SyntheticCorpus.pages(spark, NumDocs, 8).toDF()
    IndexStore.build(pages, dir,
      BuildConf(numSlices = 1, numBuckets = 4,
        termBuckets = 16, shufflePartitions = 8, bucketDocs = SmallBuckets))
    assert(!Files.exists(Paths.get(dir, "minisegs")), "fused build wrote minisegs")
    val fused = IndexStore.open(spark, dir, 16)
    assert(fused.collStats == pIndex.collStats)
    Seq(("w0", "default"), ("obama", "default"), ("w123", "title"),
      ("zzz", "default")).foreach { case (t, f) =>
      assert(fused.termStat(t, f) == pIndex.termStat(t, f), s"($t,$f)")
      val a = fused.postings(t, f).orderBy("docId")
        .collect().map(_.toString).toSeq
      val b = pIndex.postings(t, f).orderBy("docId")
        .collect().map(_.toString).toSeq
      assert(a == b, s"postings diverge for ($t,$f)")
    }
    // sentinel rows never leak into query reads
    assert(fused.segmentsOf("", "default").count() == 0 ||
      fused.postings("w0", "default").filter(col("tf") <= 0).count() == 0)
    val parser = new QueryParser(defaultOp = QOp.SUM)
    val qa = new Engine(fused, BM25()).search("obama family w3", 10, parser)
      .collect().map(_.toString).toSeq
    val qb = new Engine(pIndex, BM25()).search("obama family w3", 10, parser)
      .collect().map(_.toString).toSeq
    assert(qa == qb)
  }

  test("mergeStores of two url-split half stores answers identically to the full build") {
    outDir // force the full build (the comparison target)
    val pages = SyntheticCorpus.pages(spark, NumDocs, 8).toDF()
    // split by url order (all A urls < all B urls): the merged store's
    // dense docId assignment then equals the full build's, so every table
    // must agree with pIndex, not just query results
    val urls = pages.select("url").orderBy("url").collect().map(_.getString(0))
    val median = urls(urls.length / 2)
    // halves in the default one-bucket layout, and in 100-doc buckets (two
    // per half, so B's bucket offset must order its buckets after A's)
    Seq(BuildConf().bucketDocs, SmallBuckets).foreach { bucketDocs =>
      val layout = s"bucketDocs=$bucketDocs"
      val conf = BuildConf(numSlices = 2, numBuckets = 4,
        termBuckets = 16, shufflePartitions = 8, bucketDocs = bucketDocs)
      val base = Files.createTempDirectory("graft-merge").toString
      IndexStore.build(pages.filter(col("url") < median), s"$base/a", conf)
      IndexStore.build(pages.filter(col("url") >= median), s"$base/b", conf)
      if (bucketDocs == SmallBuckets) assert(bucketCount(s"$base/a") > 1, layout)
      else assert(bucketCount(s"$base/a") == 1, layout)
      IndexStore.mergeStores(spark, s"$base/a", s"$base/b", s"$base/ab", conf)
      val merged = IndexStore.open(spark, s"$base/ab", 16)

      assert(merged.collStats == pIndex.collStats, layout)
      Seq(("w0", "default"), ("obama", "default"), ("w123", "title"),
        ("zzz", "default")).foreach { case (t, f) =>
        assert(merged.termStat(t, f) == pIndex.termStat(t, f), s"$layout ($t,$f)")
      }
      // decoded postings bit-identical, including the rebased B half and
      // position runs (rebaseBlob must not disturb anything but the header)
      Seq("w0", "w1", "obama", "w777").foreach { t =>
        val a = merged.postings(t, "default").orderBy("docId")
          .collect().map(_.toString).toSeq
        val b = pIndex.postings(t, "default").orderBy("docId")
          .collect().map(_.toString).toSeq
        assert(a == b, s"$layout: postings diverge for $t")
        assertBucketsOrdered(merged, t, layout)
      }
      val parser = new QueryParser(defaultOp = QOp.SUM)
      Seq("obama family tree", "#near/2(obama family)").foreach { q =>
        val a = new Engine(merged, BM25()).search(q, 20, parser)
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toList
        val b = new Engine(pIndex, BM25()).search(q, 20, parser)
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toList
        assert(a == b, s"$layout: '$q'")
      }
      // WAND over the merged store: exercises the rebased block metadata
      // (blockFirst/blockOff drive decodeBlock skips)
      val wa = graft.query.Wand.bm25TopK(spark, merged,
        Seq("obama", "family", "w3"), "default", 10)
        .orderBy(col("score").desc, col("docId").desc)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toList
      val wb = graft.query.Wand.bm25TopK(spark, pIndex,
        Seq("obama", "family", "w3"), "default", 10)
        .orderBy(col("score").desc, col("docId").desc)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toList
      assert(wa == wb, layout)
      // merged doc count = sum of halves = full build's; re-merge is a no-op
      assert(IndexStore.manifestCounter(s"$base/ab", "docmap", "docs") ==
        IndexStore.manifestCounter(outDir, "docmap", "docs"), layout)
      val mtime = Files.getLastModifiedTime(
        Paths.get(s"$base/ab/_manifests/segments.json"))
      IndexStore.mergeStores(spark, s"$base/a", s"$base/b", s"$base/ab", conf)
      assert(Files.getLastModifiedTime(
        Paths.get(s"$base/ab/_manifests/segments.json")) == mtime, layout)
    }
  }

  test("deleteDocs keeps stable ids and matches a fresh build of the survivors") {
    outDir // force the full build (the delete source)
    val base = Files.createTempDirectory("graft-del").toString
    val fullMap = spark.read.parquet(s"$outDir/docmap").select("url", "docId")
    val delUrls = fullMap.filter(col("docId") % 5 === 2).select("url")

    // semantic target: a FRESH build over the survivor pages (dense
    // re-assigned ids — compare through each store's own url mapping)
    val pages = SyntheticCorpus.pages(spark, NumDocs, 8).toDF()
    IndexStore.build(pages.join(delUrls, Seq("url"), "left_anti"),
      s"$base/fresh", BuildConf(numSlices = 1, numBuckets = 4,
        termBuckets = 16, shufflePartitions = 8))
    val fresh = IndexStore.open(spark, s"$base/fresh", 16)
    val parser = new QueryParser(defaultOp = QOp.SUM)
    def byUrl(idx: ParquetIndex, storeDir: String, t: String) =
      idx.postings(t, "default")
        .join(spark.read.parquet(s"$storeDir/docmap").select("url", "docId"),
          "docId")
        .select("url", "tf", "dl", "positions").orderBy("url")
        .collect().map(_.toString).toSeq
    def topUrls(idx: ParquetIndex, storeDir: String) =
      new Engine(idx, BM25()).search("obama family w3", 15, parser)
        .join(spark.read.parquet(s"$storeDir/docmap").select("url", "docId"),
          "docId")
        .collect().map(r => (r.getAs[String]("url"),
          math.round(r.getAs[Double]("score") * 1e9)))
        .sortBy(_._1).toList

    // sources: 100-doc buckets (rows outside every deleted id's range copy
    // verbatim, the rest re-encode) and the default one-bucket layout
    // (every row of a term with a deleted posting re-encodes); both assign
    // the same docIds (dense by url order)
    assert(bucketCount(oneBucketDir) == 1)
    Seq("small-buckets" -> outDir, "one-bucket" -> oneBucketDir).foreach {
      case (layout, src) =>
        val out = s"$base/del-$layout"
        IndexStore.deleteDocs(spark, src, out, delUrls, BuildConf(termBuckets = 16))
        val del = IndexStore.open(spark, out, 16)

        // survivor docIds are STABLE: the deleted store's docmap is exactly
        // the full docmap minus the deleted urls, ids included
        val a = spark.read.parquet(s"$out/docmap").select("url", "docId")
          .orderBy("docId").collect().map(_.toString).toSeq
        val b = spark.read.parquet(s"$src/docmap").select("url", "docId")
          .join(delUrls, Seq("url"), "left_anti")
          .orderBy("docId").collect().map(_.toString).toSeq
        assert(a == b, layout)

        assert(del.collStats == fresh.collStats, layout)
        Seq(("w0", "default"), ("obama", "default"), ("w123", "title"),
          ("zzz", "default")).foreach { case (t, f) =>
          assert(del.termStat(t, f) == fresh.termStat(t, f), s"$layout ($t,$f)")
        }
        Seq("w0", "w1", "obama", "w777").foreach { t =>
          assert(byUrl(del, out, t) == byUrl(fresh, s"$base/fresh", t),
            s"$layout: postings diverge for $t")
          assertBucketsOrdered(del, t, layout)
        }
        assert(topUrls(del, out) == topUrls(fresh, s"$base/fresh"), layout)
        // repeat is a manifest no-op
        val mtime = Files.getLastModifiedTime(
          Paths.get(s"$out/_manifests/segments.json"))
        IndexStore.deleteDocs(spark, src, out, delUrls, BuildConf(termBuckets = 16))
        assert(Files.getLastModifiedTime(
          Paths.get(s"$out/_manifests/segments.json")) == mtime, layout)
    }
  }
}

/** A local-disk FileSystem under the `hdfslike` scheme whose rename, like
  * HDFS's, refuses an existing target.
  */
class HdfsLikeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  override def getUri: java.net.URI = java.net.URI.create("hdfslike:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst)) { HdfsLikeFs.refused.incrementAndGet(); false }
    else super.rename(src, dst)
}

object HdfsLikeFs {
  val refused = new java.util.concurrent.atomic.AtomicInteger
}

/** [[HdfsLikeFs]] for FileContext, whose rename can overwrite. */
class HdfsLikeAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new HdfsLikeFs, conf,
      "hdfslike", false)
