package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Tokenizer
import graft.model._
import graft.query.expressions.InValues

/** One (docId, field, text) unit to index. A document contributes one row
  * per field (default/title/body/url — reference field layout:
  * yairs/io/FileUtils.scala:38-49).
  */
case class FieldDoc(docId: Long, field: String, text: String)

/** Builds the inverted index the reference consumes but never builds
  * (its `.inv` files came from an external course indexer — see SURVEY.md
  * §1.2 for the contract: per-(term,field) postings sorted by docId with
  * (tf, docLength, positions), plus df, cf and collection stats).
  *
  * Spark shape: one `flatMap` turns each document into per-(term,field)
  * posting rows — term aggregation happens locally inside the document, so
  * the only shuffles downstream are the per-term groupBys for stats and
  * segment building. No token-level rows ever hit the wire.
  */
object IndexBuilder {

  /** Tokenize + aggregate per document. Output columns:
    * term, field, docId, tf, dl, positions.
    */
  def buildPostings(docs: Dataset[FieldDoc]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.flatMap { fd =>
      val tokens = Tokenizer.tokenize(fd.text)
      val dl = tokens.length
      Tokenizer.termVector(tokens).iterator.map { case (t, (tf, pos)) =>
        PostingRow(t, fd.field, fd.docId, tf, dl, pos)
      }
    }.toDF()
  }

  /** The reference's four-field document layout (yairs/io/FileUtils
    * .scala:38-49): default = full extracted text, title = first line,
    * body = rest, url = the page url.
    */
  def fieldsOf(text: String, url: String): Seq[(String, String)] = {
    val nl = text.indexOf('\n')
    val (title, body) =
      if (nl >= 0) (text.substring(0, nl), text.substring(nl + 1))
      else (text, "")
    Seq(("default", text), ("title", title), ("body", body), ("url", url))
  }

  /** Map-side segment build — the scale path of the index pipeline.
    *
    * Input MUST be docId-contiguous per partition run (pages sorted by
    * docId within each parquet file; Spark may pack several files into one
    * scan partition, so a docId regression simply cuts a new mini-segment
    * — runs from different files cover disjoint docId ranges and the merge
    * reorders them by firstDocId).
    *
    * Each task tokenizes its pages and VByte-encodes one mini-segment per
    * (field, term, docId-range bucket) directly — postings never exist as
    * individual rows, so the downstream merge shuffles ~|vocab|·|tasks|
    * pre-encoded rows instead of one row per posting (10²–10³× fewer at
    * web scale). Buckets are docId ranges of `rangeSize` docs: a head term
    * (Zipf skew) is split across buckets, so no reduce task ever sees more
    * than rangeSize postings of one term in one group, and concatenating
    * buckets in bucket order keeps docId order for free. Callers pass
    * `BuildConf.bucketDocs` (streaming) or at least it (batch), so a
    * store of up to `bucketDocs` docs has one bucket per term.
    *
    * Per-field doc lengths ride along as sentinel rows (term = "", one per
    * (field, run): blob = standard encoding of (docId, tf=docLength)) so
    * docstats needs no second tokenize pass.
    */
  def miniSegments(pagesWithId: DataFrame, rangeSize: Long): Dataset[SegmentRow] = {
    import pagesWithId.sparkSession.implicits._
    pagesWithId.select("docId", "text", "url").as[(Long, String, String)]
      .mapPartitions { it =>
        val rows = scala.collection.mutable.ArrayBuffer.empty[SegmentRow]
        val fieldNames = Array("default", "title", "body", "url")
        val dict = new TermDict
        val emptyPos = Array.emptyIntArray

        final class Acc(termId: Int, fieldIdx: Int) {
          private var bucket = -1L
          private var last = -1L
          private var enc: Codec.SegmentEncoder = null
          def flush(): Unit = if (enc != null) {
            val s = enc.finish()
            rows += SegmentRow(if (termId < 0) "" else dict.term(termId),
              fieldNames(fieldIdx), bucket.toInt, s.n, s.firstDocId,
              s.lastDocId, s.cf, s.blob, s.blockFirst, s.blockOff,
              s.blockMaxTf, s.blockMinDl, s.blockN)
            enc = null
          }
          private def ready(docId: Long): Codec.SegmentEncoder = {
            val b = docId / rangeSize
            if (enc == null || b != bucket || docId <= last) {
              flush(); enc = new Codec.SegmentEncoder; bucket = b
            }
            last = docId
            enc
          }
          def addPos(docId: Long, dl: Int, pos: Array[Int], np: Int): Unit =
            ready(docId).addPositions(docId, dl, pos, np)
          def addMerged(docId: Long, dl: Int, a: Array[Int], an: Int,
                        b: Array[Int], bn: Int, off: Int): Unit =
            ready(docId).addPositionsMerged(docId, dl, a, an, b, bn, off)
        }

        // Hot-loop layout (this stage is ~60% of build wall and memory-
        // bandwidth-bound — bandwidth-bound code gets faster by moving
        // fewer bytes, so every per-token allocation is gone):
        //  - tokens intern to dense int ids (TermDict): no per-token String
        //    allocation, no String-keyed map probe per token,
        //  - accumulators are flat arrays indexed by termId,
        //  - per-doc term vectors are generation-stamped primitive position
        //    buffers REUSED across docs (no per-doc map),
        //  - positions encode DIRECTLY into the accumulator's encoder — the
        //    per-(doc, term) intermediate rec byte array is gone too.
        val accArrs = Array.fill(4)(new Array[Acc](1 << 16))
        def acc(f: Int, id: Int): Acc = {
          var arr = accArrs(f)
          if (id >= arr.length) {
            arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, id + 1))
            accArrs(f) = arr
          }
          var a = arr(id)
          if (a == null) { a = new Acc(id, f); arr(id) = a }
          a
        }
        val lenAccs = Array.tabulate(4)(f => new Acc(-1, f))

        final class PosBuf {
          var a = new Array[Int](4)
          var n = 0
          def add(v: Int): Unit = {
            if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
            a(n) = v; n += 1
          }
        }

        /** Per-doc (termId → positions) vector: stamped arrays indexed by
          * id, cleared by a generation bump, touched ids tracked for
          * emission (iteration order differs from the old insertion-order
          * map — irrelevant: adds go to independent per-term accumulators
          * and the final row sort fixes emission order).
          */
        final class DocVec {
          private var stamp = new Array[Int](1 << 16)
          private var bufs = new Array[PosBuf](1 << 16)
          val touched = new IntBuf
          private var gen = 0
          def begin(): Unit = { gen += 1; touched.clear() }
          def buf(id: Int): PosBuf =
            if (id < stamp.length && stamp(id) == gen) bufs(id) else null
          def add(id: Int, pos: Int): Unit = {
            if (id >= stamp.length) {
              val m = math.max(stamp.length * 2, id + 1)
              stamp = java.util.Arrays.copyOf(stamp, m)
              bufs = java.util.Arrays.copyOf(bufs, m)
            }
            var b = bufs(id)
            if (b == null) { b = new PosBuf; bufs(id) = b }
            if (stamp(id) != gen) { stamp(id) = gen; b.n = 0; touched.add(id) }
            b.add(pos)
          }
        }
        val tv = new DocVec
        val bv = new DocVec
        val tIds = new IntBuf
        val bIds = new IntBuf
        val uIds = new IntBuf

        def flushAll(): Unit = {
          accArrs.foreach { arr =>
            var i = 0
            while (i < arr.length) {
              val a = arr(i)
              if (a != null) a.flush()
              i += 1
            }
          }
          lenAccs.foreach(_.flush())
        }

        // docmap docIds are dense, so within one scan run rows are
        // CONSECUTIVE docIds. Spark may pack non-adjacent splits into one
        // task — an ascending docId JUMP (not caught by the per-Acc
        // regression cut) then marks a run boundary, and every open mini
        // must cut there: a mini spanning the gap would interleave with
        // other tasks' minis covering the gap's interior, and the segment
        // merge is a disjoint-range byte concat (SegmentMerger requires
        // strictly ascending ranges).
        var prevDoc = Long.MinValue

        it.foreach { case (docId, text0, url) =>
          if (prevDoc != Long.MinValue && docId != prevDoc + 1) flushAll()
          prevDoc = docId
          // default = title tokens ++ body tokens ('\n' separates)
          val text = if (text0 == null) "" else text0
          val nl = text.indexOf('\n')
          val (title, body) =
            if (nl >= 0) (text.substring(0, nl), text.substring(nl + 1))
            else (text, "")
          dict.tokenizeInto(title, tIds)
          dict.tokenizeInto(body, bIds)
          dict.tokenizeInto(url, uIds)
          tv.begin()
          var i = 0
          while (i < tIds.n) { tv.add(tIds.a(i), i); i += 1 }
          bv.begin()
          i = 0
          while (i < bIds.n) { bv.add(bIds.a(i), i); i += 1 }
          val dl = tIds.n + bIds.n

          // default field: title positions, then body-only terms; shared
          // terms get title positions ++ (body positions + |title|)
          lenAccs(0).addPos(docId, dl, emptyPos, 0) // doclen sentinel (in dl)
          var k = 0
          while (k < tv.touched.n) {
            val id = tv.touched.a(k)
            val t = tv.buf(id)
            val b = bv.buf(id)
            if (b == null) acc(0, id).addPos(docId, dl, t.a, t.n)
            else acc(0, id).addMerged(docId, dl, t.a, t.n, b.a, b.n, tIds.n)
            k += 1
          }
          k = 0
          while (k < bv.touched.n) {
            val id = bv.touched.a(k)
            if (tv.buf(id) == null) {
              val b = bv.buf(id)
              acc(0, id).addMerged(docId, dl, emptyPos, 0, b.a, b.n, tIds.n)
            }
            k += 1
          }
          // title field
          lenAccs(1).addPos(docId, tIds.n, emptyPos, 0)
          k = 0
          while (k < tv.touched.n) {
            val id = tv.touched.a(k)
            val t = tv.buf(id)
            acc(1, id).addPos(docId, tIds.n, t.a, t.n)
            k += 1
          }
          // body field
          lenAccs(2).addPos(docId, bIds.n, emptyPos, 0)
          k = 0
          while (k < bv.touched.n) {
            val id = bv.touched.a(k)
            val b = bv.buf(id)
            acc(2, id).addPos(docId, bIds.n, b.a, b.n)
            k += 1
          }
          // url field (reuses tv — title/default consumed it above)
          tv.begin()
          i = 0
          while (i < uIds.n) { tv.add(uIds.a(i), i); i += 1 }
          lenAccs(3).addPos(docId, uIds.n, emptyPos, 0)
          k = 0
          while (k < tv.touched.n) {
            val id = tv.touched.a(k)
            val t = tv.buf(id)
            acc(3, id).addPos(docId, uIds.n, t.a, t.n)
            k += 1
          }
        }
        flushAll()
        // deterministic emission order (resume reproducibility)
        rows.sortBy(r => (r.field, r.term, r.bucket, r.firstDocId)).iterator
      }
  }

  /** Per-(term,field) document and collection frequencies. */
  def termStats(postings: DataFrame): DataFrame =
    postings.groupBy("term", "field")
      .agg(count(lit(1)).as("df"), sum("tf").cast("long").as("cf"))

  /** Collection stats over one field (the reference reads the analogous
    * numbers from conf/bm25.properties:38-41; we compute them).
    */
  def collStats(postings: DataFrame, field: String = "default"): CollStats = {
    val p = postings.filter(col("field") === field)
    val row = p.agg(
      countDistinct("docId").as("docCount"),
      countDistinct("term").as("vocabSize"),
      sum("tf").cast("long").as("wordCount")).collect()(0)
    val docCount = row.getLong(0)
    val wordCount = row.getLong(2)
    CollStats(
      docCount = docCount,
      avgDocLen = if (docCount == 0) 0.0 else wordCount.toDouble / docCount,
      vocabSize = row.getLong(1),
      wordCount = wordCount)
  }

  /** In-memory index over a postings DataFrame: caches postings, collects
    * term stats lazily with a driver-side memo (query terms are few).
    */
  def inMemory(postings: DataFrame, field: String = "default"): DfIndex = {
    val cached = postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ts = termStats(cached)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new DfIndex(cached, ts, collStats(cached, field))
  }
}

/** Query-side view of an index: postings point-lookups plus stats.
  * Constructing one installs the engine's functions on its session
  * ([[graft.GraftExtensions.install]]), so every query that reads through
  * an index finds them.
  */
abstract class SearchIndex(spark: SparkSession) {
  graft.GraftExtensions.install(spark)

  /** Warm the stat cache for a batch of (term, field) pairs in one pass
    * (default: no-op; ParquetIndex overrides with a single pruned scan so
    * an n-term query costs one stats job, not n).
    */
  def prefetchStats(pairs: Seq[(String, String)]): Unit = ()

  /** Postings of a batch of (term, field) pairs, read in one pass:
    * columns term:string, field:string, docId:long, tf:int, dl:int,
    * positions:array<int>. A missing pair yields no rows, not an error
    * (reference: yairs/model/InvertedList.scala:156-159). The Engine reads
    * the leaf children of one query node with one such call.
    */
  def postings(pairs: Seq[(String, String)]): DataFrame

  /** Postings of one (term, field), read through the batch form: columns
    * docId, tf, dl, positions.
    */
  final def postings(term: String, field: String): DataFrame =
    postings(Seq(term -> field)).select("docId", "tf", "dl", "positions")

  /** (df, cf) of a (term, field); (0, 0) when absent. */
  def termStat(term: String, field: String): (Long, Long)

  /** Collection stats of the scoring (default) field. */
  def collStats: CollStats
}

/** SearchIndex over in-memory cached DataFrames. */
class DfIndex(val postingsDf: DataFrame, val termStatsDf: DataFrame,
              val collStats: CollStats)
    extends SearchIndex(postingsDf.sparkSession) {
  private val statCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]

  /** One stats job for the whole query's leaf set (instead of one collect
    * per leaf — an SDM query references each term ~3×).
    */
  override def prefetchStats(pairs: Seq[(String, String)]): Unit = {
    val missing = pairs.distinct.filterNot(statCache.contains)
    if (missing.isEmpty) return
    val cond = missing.map { case (t, f) =>
      col("term") === t && col("field") === f }.reduce(_ || _)
    val found = termStatsDf.filter(cond)
      .select("term", "field", "df", "cf").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    missing.foreach(p => statCache.put(p, found.getOrElse(p, (0L, 0L))))
  }

  def postings(pairs: Seq[(String, String)]): DataFrame = {
    val ps = pairs.distinct
    // the term set first: it rejects most rows before the pair check
    postingsDf.filter(InValues.column(col("term"), ps.map(_._1).distinct) &&
      InValues.column(struct(col("term"), col("field")), ps))
      .select("term", "field", "docId", "tf", "dl", "positions")
  }

  def termStat(term: String, field: String): (Long, Long) =
    statCache.getOrElseUpdate((term, field), {
      val rows = termStatsDf
        .filter(col("term") === term && col("field") === field)
        .select("df", "cf").collect()
      if (rows.isEmpty) (0L, 0L) else (rows(0).getLong(0), rows(0).getLong(1))
    })
}
