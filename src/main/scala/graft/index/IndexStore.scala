package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._
import graft.query.expressions.{InValues, QueryExpressions}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.control.NonFatal

/** Persistent index layout + staged, resumable build.
  *
  * Layout (Parquet tables in an Iceberg-style directory scheme — no Iceberg
  * runtime jar ships in this sandbox, so snapshot/lineage is our own
  * `_manifests/` JSON protocol behind this seam; see SURVEY.md §7):
  *
  *   out/
  *     docmap/                  (url, docId, text, lang) — dense docIds by
  *                              url order, files sorted by docId, so the
  *                              table double-acts as the docId-contiguous
  *                              input of the mini-segment build stage
  *     minisegs/slice=i/        map-side mini-segments, one row per
  *                              (term, field, docId-range bucket, task run)
  *                              + doclen sentinel rows (term = "")
  *     segments/field=f/tb=h/   merged segments: (term, bucket, n,
  *                              firstDocId, lastDocId, segCf, blob,
  *                              blockFirst, blockOff, blockMaxTf,
  *                              blockMinDl, blockN)
  *     termstats/tb=h/          (term, field, df, cf)
  *     docstats/                (docId, url, len_default, len_title, …)
  *     collstats.json           per-field collection stats
  *     _manifests/<stage>.json  committed stages with counters
  *
  * Resume: every stage (and every minisegs slice) commits a manifest entry
  * AFTER its output is fully written; `build` skips committed work, so an
  * interrupted build restarts without recomputing finished slices and the
  * final index is identical (deterministic input + deterministic stages).
  *
  * Scale shape (north rule): postings NEVER exist as per-posting rows —
  * each map task VByte-encodes its (term, field, bucket) runs directly
  * (IndexBuilder.miniSegments), so the only wide shuffle in the whole
  * build moves pre-encoded blobs, ~|vocab|·|tasks| rows instead of one row
  * per posting. Head-term skew (Zipf) is defused structurally: buckets are
  * fixed docId ranges, so "the" arrives as many bounded mini-segments that
  * byte-concatenate (Codec.SegmentMerger — interior deltas stay valid) on
  * different reduce tasks. A bucket holds `max(ceil(docs / numBuckets),
  * bucketDocs)` docs: the floor keeps small stores at one segment row per
  * (term, field) — the layout a stream-built store has — because every
  * build, merge and delete pays per row; `numBuckets` caps the row size
  * only at web scale. Point lookups prune on (field, tb) partition
  * directories, tb = xxhash64(term) mod termBuckets.
  */
case class BuildConf(
    numSlices: Int = 8,
    /** Cap on the number of docId-range buckets of a batch build. Buckets
      * hold `max(ceil(docs / numBuckets), bucketDocs)` docs, so the cap
      * binds only past `numBuckets × bucketDocs` docs, where it sets the
      * bucket size and with it the most postings one segment row holds.
      */
    numBuckets: Int = 32,
    termBuckets: Int = 64,
    langFilter: Option[String] = Some("en"),
    shufflePartitions: Int = 32,
    /** Docs per docId-range bucket, in both build paths. Streaming stores
      * use it as is (their total doc count is unknown up front; it must
      * stay constant for a store's life); batch builds use it as the
      * floor of their bucket size. A batch and a stream store of up to
      * `numBuckets × bucketDocs` docs therefore share one layout: one
      * segment row per (term, field, bucket).
      */
    bucketDocs: Long = 1L << 16,
    /** Mini-segment scan split size in bytes; 0 derives it from the docmap
      * size and shuffle partitions. Set explicitly when two runs must do
      * IDENTICAL per-row work (the scaling benchmark: task boundaries cut
      * mini-segments, so a split size that varies with cluster size gives
      * the bigger cluster more rows to merge — different work, not a
      * scaling measurement).
      */
    splitBytes: Long = 0L,
    /** Reducer count for the segments merge shuffle; 0 = shufflePartitions.
      * Each merge task buffers its partition through TWO sorts (the
      * shuffle's term-order sort and the partitionBy write's dir-order
      * sort), so partitions must be sized to execution memory — 8
      * partitions of a 3.2 GB merge spilled 3.6 GB per run while 64
      * partitions of ~50 MB spill nothing. Size by data volume, not by
      * cluster size.
      */
    segmentPartitions: Int = 0)

object IndexStore {

  // ------------------------------------------------------------- manifests

  private def manifestDir(out: String) = s"$out/_manifests"

  def isCommitted(out: String, stage: String): Boolean =
    Files.exists(Paths.get(manifestDir(out), s"$stage.json"))

  def commit(out: String, stage: String, counters: Map[String, Long]): Unit = {
    Files.createDirectories(Paths.get(manifestDir(out)))
    val json = counters.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", s""", "stage": "$stage", "committedAtMs": ${System.currentTimeMillis()}}""")
    val tmp = Paths.get(manifestDir(out), s".$stage.json.tmp")
    Files.writeString(tmp, json)
    // rename = atomic commit point
    Files.move(tmp, Paths.get(manifestDir(out), s"$stage.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  def readManifest(out: String, stage: String): Option[String] = {
    val p = Paths.get(manifestDir(out), s"$stage.json")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** One numeric counter out of a committed stage manifest. */
  def manifestCounter(out: String, stage: String, key: String): Long =
    readManifest(out, stage).flatMap { json =>
      (s""""$key":\\s*(-?\\d+)""").r.findFirstMatchIn(json).map(_.group(1).toLong)
    }.getOrElse(sys.error(s"no counter '$key' in manifest $stage at $out"))

  // ---------------------------------------------------------------- stages

  /** Dense docId assignment by global url order without a single-partition
    * sort: range-repartition by url, sort within partitions, then add
    * per-partition offsets (partition counts collected to the driver — one
    * long per partition). Carries (text, lang) through the one text-wide
    * shuffle so the output partitions are docId-contiguous AND hold the
    * tokenizer input — no later join against the corpus.
    *
    * Returns (df, totalDocs, release): totalDocs is known driver-side
    * already (the per-partition counts are summed for the offsets), so
    * callers need no extra count job; call release() after the result is
    * consumed to drop the internal cache (the counted sort would
    * otherwise rescan the input per consumer).
    */
  def assignDocIds(pages: DataFrame, partitions: Int,
                   offset: Long = 0L): (DataFrame, Long, () => Unit) = {
    val spark = pages.sparkSession
    import spark.implicits._
    val slim = pages.select("url", "text", "lang")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sorted = slim.repartitionByRange(partitions, col("url"))
      .sortWithinPartitions("url")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = try sorted.select(spark_partition_id().as("pid"))
      .groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    catch { case NonFatal(e) => sorted.unpersist(); slim.unpersist(); throw e }
    slim.unpersist() // sorted is materialized by the count job
    val offsets = new Array[Long](partitions)
    var acc = offset
    (0 until partitions).foreach { p =>
      offsets(p) = acc; acc += counts.getOrElse(p, 0L)
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val withIds = sorted.as[(String, String, String)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      var i = bc.value(pid)
      it.map { case (url, text, lang) =>
        val r = (url, i, text, lang); i += 1; r
      }
    }.toDF("url", "docId", "text", "lang")
    (withIds, acc - offset, () => { sorted.unpersist(); () })
  }

  /** Pages (+docId) → per-field FieldDocs (the row-level path used by the
    * in-memory index; the persistent build uses IndexBuilder.miniSegments).
    */
  def fieldDocs(pagesWithId: DataFrame): Dataset[FieldDoc] = {
    val spark = pagesWithId.sparkSession
    import spark.implicits._
    pagesWithId.select(col("docId"), col("text"), col("url"))
      .as[(Long, String, String)]
      .flatMap { case (id, text, url) =>
        IndexBuilder.fieldsOf(text, url).map { case (f, t) =>
          FieldDoc(id, f, t)
        }
      }
  }

  /** Counters observed on a minisegs write (shared batch/streaming). */
  private[graft] def miniObs(name: String) = {
    val obs = org.apache.spark.sql.Observation(name)
    val aggs = Seq(
      sum(when(col("term") =!= "", col("n")).otherwise(0)).cast("long").as("postings"),
      sum(when(col("term") =!= "", col("segCf")).otherwise(0)).cast("long").as("tokens"),
      sum(when(col("term") === "" && col("field") === "default", col("n"))
        .otherwise(0)).cast("long").as("docs"))
    (obs, aggs)
  }

  private[graft] def miniCounters(m: Map[String, Any]): Map[String, Long] = Map(
    "postings" -> m("postings").asInstanceOf[Long],
    "tokens" -> m("tokens").asInstanceOf[Long],
    "docs" -> m("docs").asInstanceOf[Long])

  /** Docs per docId-range bucket of a batch build over `totalDocs` docs:
    * `numBuckets` buckets, but never fewer than `bucketDocs` docs each,
    * so a small store gets one segment row per (term, field) instead of
    * many few-posting rows whose per-row cost every rewrite pays again.
    */
  private def bucketSize(totalDocs: Long, conf: BuildConf): Long =
    math.max((totalDocs + conf.numBuckets - 1) / conf.numBuckets,
      math.max(1L, conf.bucketDocs))

  /** Waits for every future, then rethrows the first failure (in `fs`
    * order), so no sibling job still runs when the caller cleans up.
    */
  private def awaitAll(fs: Seq[scala.concurrent.Future[Unit]]): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val failures = fs.flatMap { f =>
      try { Await.result(f, Duration.Inf); None }
      catch { case NonFatal(e) => Some(e) }
    }
    failures.headOption.foreach(throw _)
  }

  /** Full build. Each stage is skipped when already committed. */
  def build(pages: DataFrame, out: String,
            conf: BuildConf = BuildConf()): Unit = {
    val spark = pages.sparkSession
    Files.createDirectories(Paths.get(out))
    val tStart = System.nanoTime()
    var tLast = tStart
    def mark(stage: String): Unit = {
      val now = System.nanoTime()
      if (sys.env.contains("GRAFT_BUILD_TIMING"))
        println(f"[build] $stage%-24s ${(now - tLast) / 1e9}%7.2fs  (total ${(now - tStart) / 1e9}%7.2fs)")
      tLast = now
    }

    val filtered = conf.langFilter
      .map(l => pages.filter(col("lang") === l)).getOrElse(pages)

    // stage 0+1 DEEP-FUSED fast path: with a single slice and derived
    // split sizing (splitBytes == 0), the mini-segment stage's input can
    // be the in-memory docId assignment itself — its partitions are
    // docId-contiguous by construction, exactly what the docmap FILE
    // provided — so the docmap write (pure I/O) runs as a CONCURRENT job
    // (guide §2.6) instead of a write→re-read barrier on the critical
    // path. The scaling bench pins splitBytes > 0 precisely so task
    // boundaries come from file splits (same work at every parallelism
    // level); that path below is byte-for-byte unchanged.
    if (conf.numSlices == 1 && conf.splitBytes == 0L &&
        !isCommitted(out, "docmap") && !isCommitted(out, "minisegs-slice-0") &&
        !isCommitted(out, "segments")) {
      val (ids, totalDocs0, release) =
        assignDocIds(filtered, conf.shufflePartitions)
      val rangeSize0 = bucketSize(totalDocs0, conf)
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDocmap = Future {
        val obs = org.apache.spark.sql.Observation("docmap")
        ids.observe(obs, count(lit(1)).as("docs"))
          .write.mode(SaveMode.Overwrite)
          .option("parquet.block.size", (16L << 20).toString)
          .parquet(s"$out/docmap")
        commit(out, "docmap",
          Map("docs" -> obs.get("docs").asInstanceOf[Long]))
      }
      val fSegs = Future {
        val minis = IndexBuilder.miniSegments(ids, rangeSize0).toDF()
        val (obs, aggs) = miniObs("minisegs-0")
        writeSegments(spark,
          minis.observe(obs, aggs.head, aggs.tail: _*), out, conf,
          keepSentinels = true)
        commit(out, "minisegs-slice-0", miniCounters(obs.get) +
          ("rangeSize" -> rangeSize0, "fused" -> 1L))
      }
      // await BOTH writers before releasing the shared cache, whichever
      // fails: a sibling still running would read an unpersisted input
      try awaitAll(Seq(fDocmap, fSegs)) finally release()
      mark("docmap ∥ minisegs+segments (deep-fused)")
      derivedStages(spark, out, conf, mark)
      return
    }

    // stage 0: docmap (url-sorted pages with dense docIds) -----------------
    if (!isCommitted(out, "docmap")) {
      val (ids, _, release) = assignDocIds(filtered, conf.shufflePartitions)
      val obs = org.apache.spark.sql.Observation("docmap")
      // bounded row groups: the mini-segment scan parallelizes by byte
      // range, but a range only reads row groups whose MIDPOINT it covers —
      // with the parquet default (128 MB) the effective task granularity is
      // one row group no matter what maxPartitionBytes asks for
      ids.observe(obs, count(lit(1)).as("docs"))
        .write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(s"$out/docmap")
      commit(out, "docmap", Map("docs" -> obs.get("docs").asInstanceOf[Long]))
      release()
    }
    mark("docmap")
    val totalDocs = manifestCounter(out, "docmap", "docs")
    val rangeSize = bucketSize(totalDocs, conf)

    // stage 1: mini-segments, one resumable docId-range slice at a time ----
    // The scan's split size gates this stage's parallelism (it is the
    // build's CPU-dominant stage): size splits so one slice yields ~2
    // tasks per core instead of whatever the session default gives — but
    // CAP the split at 64 MB: a task's accumulator live set (per-term
    // encoders + emitted rows) is ~3× its input bytes, so the cap bounds
    // executor memory PER TASK regardless of corpus or cluster size (an
    // uncapped lo-level split at 480k docs reached ~180 MB input ≈ 0.5 GB
    // live and OOM'd a 5 GB executor running 4 such tasks).
    val sliceSize = math.max(1L, (totalDocs + conf.numSlices - 1) / conf.numSlices)
    val docmapBytes = {
      val p = Paths.get(out, "docmap")
      val s = Files.list(p)
      try s.mapToLong(f => Files.size(f)).sum finally s.close()
    }
    val splitTarget =
      if (conf.splitBytes > 0) conf.splitBytes
      else math.min(64L << 20, math.max(1L << 21,
        docmapBytes / conf.numSlices / (conf.shufflePartitions * 2L)))
    val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitTarget.toString)
    try {
      if (conf.numSlices == 1 && !isCommitted(out, "minisegs-slice-0") &&
          !isCommitted(out, "segments")) {
        // Fused fast path: with a single slice the minisegs table buys no
        // resume granularity, so tokenize→encode→shuffle→merge runs as ONE
        // action and the mini-segment parquet round trip (its full byte
        // volume written to and re-read from storage) disappears. Doclen
        // sentinels ride the same shuffle into the segments table
        // (term = ""), where docstats finds them.
        val minis = IndexBuilder.miniSegments(
          spark.read.parquet(s"$out/docmap"), rangeSize).toDF()
        val (obs, aggs) = miniObs("minisegs-0")
        writeSegments(spark,
          minis.observe(obs, aggs.head, aggs.tail: _*), out, conf,
          keepSentinels = true)
        commit(out, "minisegs-slice-0", miniCounters(obs.get) +
          ("rangeSize" -> rangeSize, "fused" -> 1L))
        mark("minisegs+segments (fused)")
      } else (0 until conf.numSlices).foreach { i =>
        val stage = s"minisegs-slice-$i"
        if (!isCommitted(out, stage)) {
          // docmap files are docId-sorted: the range filter prunes row groups
          val slice = spark.read.parquet(s"$out/docmap")
            .filter(col("docId") >= i * sliceSize &&
              col("docId") < (i + 1L) * sliceSize)
          val (obs, aggs) = miniObs(s"minisegs-$i")
          IndexBuilder.miniSegments(slice, rangeSize).toDF()
            .observe(obs, aggs.head, aggs.tail: _*)
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$out/minisegs/slice=$i")
          commit(out, stage, miniCounters(obs.get) +
            ("rangeSize" -> rangeSize))
        }
        mark(stage)
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
    derivedStages(spark, out, conf, mark)
  }

  /** stage 2: segments — merge minis per (term, field, bucket).
    * One shuffle of pre-encoded rows, keyed by the OUTPUT partition
    * (field, tb) so every directory is written by the task that merged it
    * (no second move); within a task groups are streamed in sorted order
    * and byte-concatenated (SegmentMerger). With `keepSentinels` the
    * doclen sentinel rows (term = "") ride the same shuffle into the
    * segments table — the fused single-slice build has no minisegs table
    * for docstats to read otherwise.
    */
  private def writeSegments(spark: SparkSession, minis0: DataFrame,
                            out: String, conf: BuildConf,
                            keepSentinels: Boolean): Unit = {
    import spark.implicits._
    val segCols = Seq("term", "field", "bucket", "n", "firstDocId",
      "lastDocId", "segCf", "blob", "blockFirst", "blockOff",
      "blockMaxTf", "blockMinDl", "blockN")
    val minis =
      if (keepSentinels) minis0 else minis0.filter(col("term") =!= "")
    // shuffle key includes the docId-range bucket: (field, tb) alone is
    // 4×termBuckets coarse keys whose byte weight is wildly skewed (the
    // default field dominates), so reducers straggled; buckets are
    // near-uniform byte slices, giving fields×tb×buckets fine-grained keys
    // that balance. Multiple tasks may then write the same (field, tb)
    // directory — parquet partitionBy handles that (one file per task).
    val segParts =
      if (conf.segmentPartitions > 0) conf.segmentPartitions
      else conf.shufflePartitions
    val merged = minis
      .withColumn("tb", pmod(xxhash64(col("term")), lit(conf.termBuckets)))
      .repartition(segParts, col("field"), col("tb"), col("bucket"))
      .sortWithinPartitions("term", "field", "bucket", "firstDocId")
      .select(segCols.map(col): _*)
      .as[SegmentRow]
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[SegmentRow] {
          def hasNext: Boolean = in.hasNext
          def next(): SegmentRow = {
            val h = in.head
            val (term, field, bucket) = (h.term, h.field, h.bucket)
            val merger = new Codec.SegmentMerger
            while (in.hasNext && {
              val x = in.head
              x.term == term && x.field == field && x.bucket == bucket
            }) {
              val m = in.next()
              try merger.append(Codec.Segment(m.blob, m.n, m.firstDocId,
                m.lastDocId, m.segCf, m.blockFirst, m.blockOff,
                m.blockMaxTf, m.blockMinDl, m.blockN))
              catch { case e: IllegalArgumentException =>
                throw new IllegalStateException(
                  s"merging term='$term' field=$field bucket=$bucket " +
                    s"(mini n=${m.n} first=${m.firstDocId} last=${m.lastDocId}): ${e.getMessage}", e)
              }
            }
            val s = merger.finish()
            SegmentRow(term, field, bucket, s.n, s.firstDocId, s.lastDocId,
              s.cf, s.blob, s.blockFirst, s.blockOff, s.blockMaxTf,
              s.blockMinDl, s.blockN)
          }
        }
      }

    val obs = org.apache.spark.sql.Observation("segments")
    merged.toDF()
      .withColumn("tb", pmod(xxhash64(col("term")), lit(conf.termBuckets)))
      .observe(obs,
        count(when(col("term") =!= "", 1)).cast("long").as("segments"),
        sum(when(col("term") =!= "", length(col("blob"))).otherwise(0))
          .cast("long").as("bytes"),
        sum(when(col("term") =!= "", col("n")).otherwise(0))
          .cast("long").as("postings"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("field", "tb")
      // the blob column IS the compression (docId-delta varints);
      // measured: snappy shrinks the table only ~6% while costing real
      // CPU in the build's one non-scaling stage AND on every query read
      .option("compression", "none")
      .parquet(s"$out/segments")
    val m = obs.get
    commit(out, "segments", Map(
      "segments" -> m("segments").asInstanceOf[Long],
      "bytes" -> m("bytes").asInstanceOf[Long],
      "postings" -> m("postings").asInstanceOf[Long]))
  }

  /** Derived tables (segments, termstats, docstats, collstats) over
    * whatever minisegs slices exist — shared by the batch build and the
    * streaming indexer's seal. Each stage commits/skips via the manifest.
    */
  def derivedStages(spark: SparkSession, out: String, conf: BuildConf,
                    mark: String => Unit = _ => ()): Unit = {
    import spark.implicits._
    val hasMinisegs = Files.exists(Paths.get(out, "minisegs"))

    if (!isCommitted(out, "segments")) {
      writeSegments(spark, spark.read.parquet(s"$out/minisegs"), out, conf,
        keepSentinels = false)
    }
    mark("segments")

    /** Doclen sentinel rows (field, n, blob): from the minisegs table when
      * it exists, else from the segments table (fused build wrote them
      * there under term = "").
      */
    def sentinels: DataFrame =
      if (hasMinisegs)
        spark.read.parquet(s"$out/minisegs").filter(col("term") === "")
      else
        spark.read.parquet(s"$out/segments").filter(col("term") === "")

    // stages 3+4 are independent of each other (termstats reads merged
    // segments, docstats reads minisegs+docmap): run them as concurrent
    // jobs so their driver/scheduling latencies overlap
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // stage 3: termstats from the merged segments (tiny aggregation;
    // partitioned by tb so point lookups prune) ---------------------------
    val fTermstats = Future { if (!isCommitted(out, "termstats")) {
      val obs = org.apache.spark.sql.Observation("termstats")
      spark.read.parquet(s"$out/segments")
        .filter(col("term") =!= "") // fused builds carry sentinels here
        .groupBy("term", "field")
        .agg(sum("n").cast("long").as("df"), sum("segCf").cast("long").as("cf"))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(conf.termBuckets)))
        .repartition(col("tb"))
        .observe(obs, count(lit(1)).as("terms"))
        .write.mode(SaveMode.Overwrite).partitionBy("tb")
        .parquet(s"$out/termstats")
      commit(out, "termstats",
        Map("terms" -> obs.get("terms").asInstanceOf[Long]))
    } }

    // stage 4: docstats from the doclen sentinel rows + collstats ----------
    val fDocstats = Future { if (!isCommitted(out, "docstats")) {
      val doclens = sentinels
        .select("field", "n", "blob").as[(String, Int, Array[Byte])]
        .flatMap { case (f, n, blob) =>
          // sentinel postings carry the doc length in dl (tf = 0)
          Codec.decode(blob, n).map(p => (p.docId, f, p.dl))
        }
        .toDF("docId", "field", "dl")
      val lens = doclens.groupBy("docId").agg(
          max(when(col("field") === "default", col("dl"))).as("len_default"),
          max(when(col("field") === "title", col("dl"))).as("len_title"),
          max(when(col("field") === "body", col("dl"))).as("len_body"),
          max(when(col("field") === "url", col("dl"))).as("len_url"))
        .na.fill(0)
      val docmap = spark.read.parquet(s"$out/docmap").select("url", "docId")
      val obs = org.apache.spark.sql.Observation("docstats")
      lens.join(docmap, "docId")
        .observe(obs, count(lit(1)).as("docs"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/docstats")
      commit(out, "docstats", Map("docs" -> obs.get("docs").asInstanceOf[Long]))
    } }
    Await.result(fTermstats, Duration.Inf)
    mark("termstats")
    Await.result(fDocstats, Duration.Inf)
    mark("docstats")

    writeCollstats(spark, out)
    mark("collstats")
  }

  /** stage 5: collstats.json from the already-built small tables (no
    * postings rescan) — shared by the batch build, the streaming seal,
    * and the store merge.
    */
  private def writeCollstats(spark: SparkSession, out: String): Unit = {
    if (!isCommitted(out, "collstats")) {
      // the two source aggregations read different tables — run them as
      // concurrent jobs (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDc = Future {
        spark.read.parquet(s"$out/docstats").agg(
          sum(when(col("len_default") > 0, 1L).otherwise(0L)),
          sum(when(col("len_title") > 0, 1L).otherwise(0L)),
          sum(when(col("len_body") > 0, 1L).otherwise(0L)),
          sum(when(col("len_url") > 0, 1L).otherwise(0L))).collect()(0)
      }
      val fPf = Future {
        spark.read.parquet(s"$out/termstats")
          .groupBy("field").agg(
            count(lit(1)).as("vocabSize"),
            sum("cf").cast("long").as("wordCount")).collect()
      }
      val dcRow = Await.result(fDc, Duration.Inf)
      val docCounts = Seq("default", "title", "body", "url").zipWithIndex
        .map { case (f, i) => f -> dcRow.getLong(i) }.toMap
      // field order, so equal stores write byte-identical files
      val rows = Await.result(fPf, Duration.Inf).sortBy(_.getString(0)).map { r =>
        val field = r.getString(0)
        val dc = docCounts(field)
        val vocab = r.getLong(1)
        val wc = r.getLong(2)
        s"""  "$field": {"docCount": $dc, "vocabSize": $vocab, "wordCount": $wc, "avgDocLen": ${if (dc == 0) 0.0 else wc.toDouble / dc}}"""
      }
      Files.writeString(Paths.get(out, "collstats.json"),
        rows.mkString("{\n", ",\n", "\n}"))
      commit(out, "collstats", Map("fields" -> rows.length.toLong))
    }
  }

  // ----------------------------------------------------------------- merge

  /** Merge two SEALED stores into a third — the maintenance operation of a
    * long-lived index (each crawl increment builds its own small store;
    * merge compacts them into one without touching the corpus). B's docId
    * space is appended after A's (every B docId += A's doc count), AT THE
    * BYTE LEVEL: [[Codec.rebaseBlob]] rewrites one vlong per segment and
    * copies the rest verbatim, so no posting is decoded and the cost is a
    * single O(bytes) pass. No shuffle either: both input segment tables
    * are already clustered by their (field, tb) output directories, so the
    * partitionBy write reuses the input clustering (each scan task holds
    * rows of one directory). Derived tables merge algebraically — termstats
    * df/cf add per (term, field), docstats/docmap union with the offset,
    * collstats recomputes from the merged small tables. Every stage
    * commits a manifest, so an interrupted or repeated merge resumes /
    * no-ops exactly like the build.
    *
    * Preconditions: both stores sealed (collstats committed), built with
    * the SAME termBuckets (conf.termBuckets must match them — term→tb
    * placement is the store's lookup contract), and disjoint url sets
    * (crawl increments; urls are not deduplicated here — that is
    * [[graft.ops.WebOps.urlDedup]]'s job upstream).
    */
  def mergeStores(spark: SparkSession, aDir: String, bDir: String,
                  out: String, conf: BuildConf = BuildConf()): Unit = {
    import spark.implicits._
    require(isCommitted(aDir, "collstats") && isCommitted(bDir, "collstats"),
      s"mergeStores needs two sealed stores (collstats manifest missing)")
    Files.createDirectories(Paths.get(out))
    val nA = manifestCounter(aDir, "docmap", "docs")
    val nB = manifestCounter(bDir, "docmap", "docs")

    // The four table merges are pairwise independent (docmap, segments,
    // termstats, docstats read only the two INPUT stores); each is a
    // small job whose wall is dominated by driver/scheduling latency, so
    // they run as concurrent jobs (guide §2.6) and only collstats — which
    // reads the merged smalls — waits for them. Resume safety is
    // unchanged: every stage still commits its own manifest.
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global

    val fDocmap = Future { if (!isCommitted(out, "docmap")) {
      // by name: a streamed store's docmap also has its batch= partition
      def docmap(dir: String) =
        spark.read.parquet(s"$dir/docmap").select("url", "docId", "text", "lang")
      docmap(aDir)
        .unionByName(docmap(bDir).withColumn("docId", col("docId") + nA))
        .write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(s"$out/docmap")
      commit(out, "docmap", Map("docs" -> (nA + nB)))
    } }

    val fSegments = Future { if (!isCommitted(out, "segments")) {
      val segCols = Seq("term", "field", "bucket", "n", "firstDocId",
        "lastDocId", "segCf", "blob", "blockFirst", "blockOff",
        "blockMaxTf", "blockMinDl", "blockN")
      def segRows(dir: String) = spark.read.parquet(s"$dir/segments")
        .select(segCols.map(col): _*).as[SegmentRow]
      // Buckets are docId-range ordinals and every rebased B docId is
      // greater than every A docId, so B's buckets order after A's whole
      // range: offset them past A's max (one column-pruned metadata scan).
      val bucketOff = spark.read.parquet(s"$aDir/segments")
        .agg(max("bucket")).collect()(0).getInt(0) + 1
      val rebased = segRows(bDir).map { r =>
        val (blob, shift) = Codec.rebaseBlob(r.blob, nA)
        r.copy(bucket = r.bucket + bucketOff,
          firstDocId = r.firstDocId + nA, lastDocId = r.lastDocId + nA,
          blob = blob,
          blockFirst = r.blockFirst.map(_ + nA),
          // block 0 starts at byte 0 (the rewritten vlong); every later
          // block starts past the old header and shifts with it
          blockOff = r.blockOff.map(o => if (o == 0) 0 else o + shift))
      }
      val obs = org.apache.spark.sql.Observation("merge-segments")
      segRows(aDir).union(rebased).toDF()
        .withColumn("tb", pmod(xxhash64(col("term")), lit(conf.termBuckets)))
        .observe(obs,
          count(when(col("term") =!= "", 1)).cast("long").as("segments"),
          sum(when(col("term") =!= "", length(col("blob"))).otherwise(0))
            .cast("long").as("bytes"),
          sum(when(col("term") =!= "", col("n")).otherwise(0))
            .cast("long").as("postings"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("field", "tb")
        .option("compression", "none")
        .parquet(s"$out/segments")
      val m = obs.get
      commit(out, "segments", Map(
        "segments" -> m("segments").asInstanceOf[Long],
        "bytes" -> m("bytes").asInstanceOf[Long],
        "postings" -> m("postings").asInstanceOf[Long]))
    } }

    val fTermstats = Future { if (!isCommitted(out, "termstats")) {
      val obs = org.apache.spark.sql.Observation("merge-termstats")
      def ts(dir: String) = spark.read.parquet(s"$dir/termstats")
        .select("term", "field", "df", "cf")
      ts(aDir).unionByName(ts(bDir))
        .groupBy("term", "field")
        .agg(sum("df").cast("long").as("df"), sum("cf").cast("long").as("cf"))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(conf.termBuckets)))
        .repartition(col("tb"))
        .observe(obs, count(lit(1)).as("terms"))
        .write.mode(SaveMode.Overwrite).partitionBy("tb")
        .parquet(s"$out/termstats")
      commit(out, "termstats",
        Map("terms" -> obs.get("terms").asInstanceOf[Long]))
    } }

    val fDocstats = Future { if (!isCommitted(out, "docstats")) {
      val obs = org.apache.spark.sql.Observation("merge-docstats")
      spark.read.parquet(s"$aDir/docstats")
        .unionByName(spark.read.parquet(s"$bDir/docstats")
          .withColumn("docId", col("docId") + nA))
        .observe(obs, count(lit(1)).as("docs"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/docstats")
      commit(out, "docstats", Map("docs" -> obs.get("docs").asInstanceOf[Long]))
    } }

    awaitAll(Seq(fDocmap, fSegments, fTermstats, fDocstats))
    writeCollstats(spark, out)
  }

  /** Physically delete documents from a sealed store into a new sealed
    * store — the other index-maintenance half beside [[mergeStores]]
    * (recrawl invalidation, takedowns, right-to-be-forgotten). docIds
    * stay STABLE (no re-densification): readers never require dense ids,
    * and stability means unaffected segment rows copy VERBATIM. The
    * delete set is resolved through the docmap and broadcast as a sorted
    * array (delete batches are small relative to the corpus; the same
    * shape holds at larger scales with a bitmap/Bloom broadcast): each
    * segment row first checks the set against its [firstDocId, lastDocId]
    * range — no overlap, no decode — and only overlapping blobs are
    * decoded, filtered, and re-encoded in place. No shuffle on the
    * postings path (the write reuses the input (field, tb) clustering);
    * docmap/docstats anti-join the url set, termstats recomputes from the
    * new segments, collstats from the merged smalls. Manifest-committed
    * per stage like the build: interrupted deletes resume, repeats no-op.
    */
  def deleteDocs(spark: SparkSession, dir: String, out: String,
                 urls: DataFrame, conf: BuildConf = BuildConf()): Unit = {
    import spark.implicits._
    require(isCommitted(dir, "collstats"),
      "deleteDocs needs a sealed store (collstats manifest missing)")
    Files.createDirectories(Paths.get(out))
    val delUrls = urls.select("url").distinct()

    // Stage dependencies: termstats reads the REWRITTEN segments, but
    // docmap and docstats only read the input store — so the
    // segments→termstats chain and the two url anti-joins run as
    // concurrent jobs (guide §2.6), with collstats last. Manifest
    // commit/skip per stage is unchanged.
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global

    val fSegTerm = Future {
    if (!isCommitted(out, "segments")) {
      val delIds = spark.read.parquet(s"$dir/docmap")
        .join(delUrls, "url").select("docId").as[Long].collect().sorted
      val delB = spark.sparkContext.broadcast(delIds)
      val segCols = Seq("term", "field", "bucket", "n", "firstDocId",
        "lastDocId", "segCf", "blob", "blockFirst", "blockOff",
        "blockMaxTf", "blockMinDl", "blockN")
      val filtered = spark.read.parquet(s"$dir/segments")
        .select(segCols.map(col): _*).as[SegmentRow]
        .mapPartitions { it =>
          val del = delB.value
          def anyIn(first: Long, last: Long): Boolean = {
            var i = java.util.Arrays.binarySearch(del, first)
            if (i < 0) i = -i - 1
            i < del.length && del(i) <= last
          }
          it.flatMap { r =>
            if (!anyIn(r.firstDocId, r.lastDocId)) Iterator.single(r)
            else {
              // doclen sentinel rows (term = "", tf = 0, no positions)
              // re-encode through the same path byte-compatibly
              val enc = new Codec.SegmentEncoder
              Codec.decode(r.blob, r.n).foreach { p =>
                if (java.util.Arrays.binarySearch(del, p.docId) < 0)
                  enc.addPositions(p.docId, p.dl, p.positions,
                    p.positions.length)
              }
              val s = enc.finish()
              if (s.n == 0) Iterator.empty
              else Iterator.single(SegmentRow(r.term, r.field, r.bucket,
                s.n, s.firstDocId, s.lastDocId, s.cf, s.blob, s.blockFirst,
                s.blockOff, s.blockMaxTf, s.blockMinDl, s.blockN))
            }
          }
        }
      val obs = org.apache.spark.sql.Observation("delete-segments")
      filtered.toDF()
        .withColumn("tb", pmod(xxhash64(col("term")), lit(conf.termBuckets)))
        .observe(obs,
          count(when(col("term") =!= "", 1)).cast("long").as("segments"),
          sum(when(col("term") =!= "", length(col("blob"))).otherwise(0))
            .cast("long").as("bytes"),
          sum(when(col("term") =!= "", col("n")).otherwise(0))
            .cast("long").as("postings"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("field", "tb")
        .option("compression", "none")
        .parquet(s"$out/segments")
      val m = obs.get
      commit(out, "segments", Map(
        "segments" -> m("segments").asInstanceOf[Long],
        "bytes" -> m("bytes").asInstanceOf[Long],
        "postings" -> m("postings").asInstanceOf[Long],
        "deletedDocs" -> delIds.length.toLong))
      delB.destroy()
    }
    if (!isCommitted(out, "termstats")) {
      val obs = org.apache.spark.sql.Observation("delete-termstats")
      spark.read.parquet(s"$out/segments")
        .filter(col("term") =!= "")
        .groupBy("term", "field")
        .agg(sum("n").cast("long").as("df"), sum("segCf").cast("long").as("cf"))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(conf.termBuckets)))
        .repartition(col("tb"))
        .observe(obs, count(lit(1)).as("terms"))
        .write.mode(SaveMode.Overwrite).partitionBy("tb")
        .parquet(s"$out/termstats")
      commit(out, "termstats",
        Map("terms" -> obs.get("terms").asInstanceOf[Long]))
    }
    }

    val fDocmap = Future { if (!isCommitted(out, "docmap")) {
      val obs = org.apache.spark.sql.Observation("delete-docmap")
      spark.read.parquet(s"$dir/docmap")
        .join(delUrls, Seq("url"), "left_anti")
        .observe(obs, count(lit(1)).as("docs"))
        .write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(s"$out/docmap")
      commit(out, "docmap", Map("docs" -> obs.get("docs").asInstanceOf[Long]))
    } }

    val fDocstats = Future { if (!isCommitted(out, "docstats")) {
      val obs = org.apache.spark.sql.Observation("delete-docstats")
      spark.read.parquet(s"$dir/docstats")
        .join(delUrls, Seq("url"), "left_anti")
        .observe(obs, count(lit(1)).as("docs"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/docstats")
      commit(out, "docstats", Map("docs" -> obs.get("docs").asInstanceOf[Long]))
    } }

    awaitAll(Seq(fSegTerm, fDocmap, fDocstats))
    writeCollstats(spark, out)
  }

  // ----------------------------------------------------------------- reader

  def open(spark: SparkSession, dir: String,
           termBuckets: Int = 64): ParquetIndex =
    new ParquetIndex(spark, dir, termBuckets)
}

/** One encoded posting segment of a (term, field, bucket). */
case class SegmentRow(term: String, field: String, bucket: Int, n: Int,
                      firstDocId: Long, lastDocId: Long, segCf: Long,
                      blob: Array[Byte], blockFirst: Array[Long],
                      blockOff: Array[Int], blockMaxTf: Array[Int],
                      blockMinDl: Array[Int], blockN: Array[Int])

/** SearchIndex over the persistent store: point lookups prune on
  * (field, tb) directories, then decode segment blobs to posting rows.
  */
class ParquetIndex(spark: SparkSession, dir: String, termBuckets: Int)
    extends SearchIndex {

  private lazy val termstatsDf = spark.read.parquet(s"$dir/termstats")
  /** Stores written before the tb partition column existed stay readable.
    * Detected from the directory layout, NOT the DataFrame schema —
    * forcing `termstatsDf` costs a schema-inference job, and the
    * driver-local stats path exists to schedule zero jobs.
    */
  private lazy val termstatsHasTb: Boolean = try {
    val p = new org.apache.hadoop.fs.Path(s"$dir/termstats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(f =>
      f.isDirectory && f.getPath.getName.startsWith("tb="))
  } catch { case NonFatal(_) => termstatsDf.columns.contains("tb") }
  lazy val segmentsDf: DataFrame = spark.read.parquet(s"$dir/segments")
  /** docId → (url, text, lang); docId-sorted files, so docId range
    * filters prune row groups. The serving path (snippets) joins top-k
    * docIds against this with the result side broadcast.
    */
  lazy val docmapDf: DataFrame = spark.read.parquet(s"$dir/docmap")

  private val statCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]

  lazy val collStats: CollStats = {
    // through the store path's Hadoop FileSystem, like every other read
    // here, so a store opened by URI (file://, a cluster FS) works too
    val p = new org.apache.hadoop.fs.Path(s"$dir/collstats.json")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val json = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    // tiny fixed-shape JSON; parse the "default" object fields
    def field(name: String, obj: String): String = {
      val m = (s""""$name":\\s*([-0-9.eE]+)""").r.findFirstMatchIn(obj)
      m.map(_.group(1)).getOrElse("0")
    }
    val defObj = ("\"default\":\\s*\\{([^}]*)}").r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    CollStats(
      docCount = field("docCount", defObj).toDouble.toLong,
      avgDocLen = field("avgDocLen", defObj).toDouble,
      vocabSize = field("vocabSize", defObj).toDouble.toLong,
      wordCount = field("wordCount", defObj).toDouble.toLong)
  }

  /** term bucket — the writer's pmod(xxhash64(term), termBuckets),
    * computed by evaluating the SAME Catalyst expression driver-side (no
    * Spark job per lookup).
    */
  def tbOf(term: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    Pmod(XxHash64(Seq(Literal(term)), 42L), Literal(termBuckets.toLong))
      .eval(null).asInstanceOf[Long]
  }

  /** Segment rows of a batch of (term, field) pairs in one pruned scan:
    * the (field, tb) directories prune at plan time, the term set pushes
    * into the parquet reader, and the exact pair set filters the rest.
    * Every predicate is an [[InValues]] set, so the generated code does
    * not depend on how many pairs a batch has.
    */
  def segmentsOf(pairs: Seq[(String, String)]): DataFrame = {
    QueryExpressions.prepare(spark)
    val ps = pairs.distinct
    segmentsDf.filter(
      InValues.column(col("field"), ps.map(_._2).distinct) &&
      InValues.column(col("tb").cast("long"), ps.map(p => tbOf(p._1)).distinct) &&
      InValues.column(col("term"), ps.map(_._1).distinct) &&
      InValues.column(struct(col("term"), col("field")), ps))
  }

  def segmentsOf(term: String, field: String): DataFrame =
    segmentsOf(Seq(term -> field))

  def postings(pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    segmentsOf(pairs)
      .select("term", "field", "n", "blob").as[(String, String, Int, Array[Byte])]
      .flatMap { case (t, f, n, blob) =>
        Codec.decode(blob, n).map(p => PostingRow(t, f, p.docId, p.tf, p.dl, p.positions))
      }
      .toDF()
  }

  /** tb partitions already pulled into `statCache` via the driver-local
    * parquet path (a loaded tb means every (term, field) it holds is
    * cached; anything still missing afterwards is genuinely absent).
    */
  private val tbLoaded = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Driver-LOCAL read of one termstats tb partition — a dictionary
    * point-lookup must not cost a Spark job (on a multi-JVM cluster a
    * job is a full scheduler round-trip, and the exact query path paid
    * one per query for its stats). The partition is bounded at
    * vocab/termBuckets rows; `termBuckets` is the build knob that keeps
    * it a few MB at any corpus size (the same knob that bounds segment
    * point reads). Goes through Hadoop FileSystem + parquet-java, so it
    * works against any store filesystem; any surprise (schema drift,
    * unreadable FS) returns false and the caller falls back to the
    * pruned Spark scan.
    */
  private def loadTbLocal(tb: Long): Boolean = {
    if (tbLoaded.contains(tb)) return true
    try {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetReader
      import org.apache.parquet.hadoop.example.GroupReadSupport
      val part = new Path(s"$dir/termstats/tb=$tb")
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = part.getFileSystem(conf)
      if (fs.exists(part)) {
        val files = fs.listStatus(part)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        files.foreach { f =>
          val reader = ParquetReader
            .builder(new GroupReadSupport(), f.getPath).withConf(conf).build()
          try {
            var g = reader.read()
            while (g != null) {
              statCache.putIfAbsent(
                (g.getString("term", 0), g.getString("field", 0)),
                (g.getLong("df", 0), g.getLong("cf", 0)))
              g = reader.read()
            }
          } finally reader.close()
        }
      } // a missing partition dir just means no terms hash there
      tbLoaded.add(tb)
      true
    } catch { case NonFatal(_) => false }
  }

  def termStat(term: String, field: String): (Long, Long) =
    statCache.get((term, field)).getOrElse {
      if (termstatsHasTb && loadTbLocal(tbOf(term)))
        statCache.getOrElseUpdate((term, field), (0L, 0L))
      else statCache.getOrElseUpdate((term, field), {
        val pruned = if (termstatsHasTb)
          termstatsDf.filter(col("tb") === tbOf(term)) else termstatsDf
        val rows = pruned
          .filter(col("term") === term && col("field") === field)
          .select("df", "cf").collect()
        if (rows.isEmpty) (0L, 0L) else (rows(0).getLong(0), rows(0).getLong(1))
      })
    }

  /** Resolve every (term, field) of a batch: driver-local tb partition
    * reads where possible, one pruned Spark scan for the remainder.
    */
  override def prefetchStats(pairs: Seq[(String, String)]): Unit = {
    var missing = pairs.distinct.filterNot(statCache.contains)
    if (missing.isEmpty) return
    if (termstatsHasTb) {
      val ok = missing.map(p => tbOf(p._1)).distinct.forall(loadTbLocal)
      missing = missing.filterNot(statCache.contains)
      if (ok) { // loaded partitions are complete: the rest are absent
        missing.foreach(p => statCache.put(p, (0L, 0L)))
        return
      }
      if (missing.isEmpty) return
    }
    val tbs = missing.map(p => tbOf(p._1)).distinct
    val terms = missing.map(_._1).distinct
    val fields = missing.map(_._2).distinct
    val pruned = if (termstatsHasTb)
      termstatsDf.filter(col("tb").isin(tbs: _*)) else termstatsDf
    val rows = pruned
      .filter(col("term").isin(terms: _*) && col("field").isin(fields: _*))
      .select("term", "field", "df", "cf").collect()
    val found = rows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3))).toMap
    missing.foreach(p => statCache.put(p, found.getOrElse(p, (0L, 0L))))
  }
}
