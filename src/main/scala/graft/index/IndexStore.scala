package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import graft.model._
import graft.query.expressions.InValues
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption}
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
  * Stages: every step of build, merge, delete and the streaming indexer
  * runs through [[stage]]. A stage whose manifest exists is skipped;
  * otherwise its body writes the output and returns its counters, and the
  * manifest commits them with `wall_ms` (the body's wall time) and
  * `committedAtMs` AFTER the output is fully written. So an interrupted
  * build, merge or delete restarts without redoing finished stages, and
  * the final store is identical (deterministic input + deterministic
  * stages). Independent stages run as concurrent Spark jobs through
  * [[concurrently]], which waits for all of them before it rethrows the
  * first failure: nothing a stage started still runs when its caller
  * returns or cleans up.
  *
  * Files: manifests, `collstats.json` and the stream high-water mark go
  * through the Hadoop FileSystem of the store path, like the parquet
  * tables, so a store written to a URI (file://, hdfs://) keeps all of
  * its parts under that URI. A small file is written to `.<name>.tmp`
  * beside it and renamed into place; the commit relies on the rename of
  * one file being atomic, also when it replaces an existing file (a
  * re-seal re-commits, the high-water mark moves per batch): on a local
  * disk (any path the local FileSystem serves) an atomic java.nio move,
  * POSIX rename(2); on HDFS, whose plain rename refuses an existing
  * target, the rename with the OVERWRITE option, a single namenode
  * operation.
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

  // ----------------------------------------------------------- store files

  /** A store path on its Hadoop FileSystem (a plain path is local). */
  private def fsPath(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), p)
  }

  private def exists(path: String): Boolean = {
    val (fs, p) = fsPath(path)
    fs.exists(p)
  }

  /** The local file of a store path on the local FileSystem, else None.
    * Small store files on a local disk go through java.nio: without the
    * Hadoop native library, a Hadoop local create forks a `chmod` for the
    * file and one for its `.crc` side file (~7 ms a file, more on a busy
    * host), and its rename refuses an existing target.
    */
  private def localFile(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    fs match {
      case local: LocalFileSystem => Some(local.pathToFile(p).toPath)
      case _ => None
    }

  /** A small text file of a store, or None when there is none. */
  private[graft] def readFile(path: String): Option[String] = {
    val (fs, p) = fsPath(path)
    try localFile(fs, p) match {
      case Some(f) => Some(Files.readString(f, UTF_8))
      case None =>
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch {
      case _: java.io.FileNotFoundException | _: NoSuchFileException => None
    }
  }

  /** Writes a small text file of a store by temp file + rename (see the
    * header for the atomicity this relies on).
    */
  private[graft] def writeFile(path: String, text: String): Unit = {
    val (fs, p) = fsPath(path)
    localFile(fs, p) match {
      case Some(f) =>
        val tmp = f.resolveSibling(s".${f.getFileName}.tmp")
        Files.createDirectories(f.getParent)
        Files.writeString(tmp, text, UTF_8)
        Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      case None =>
        val tmp = new Path(p.getParent, s".${p.getName}.tmp")
        val o = fs.create(tmp, true)
        try o.write(text.getBytes(UTF_8)) finally o.close()
        if (!fs.rename(tmp, p)) // HDFS: a plain rename refuses an existing target
          FileContext.getFileContext(fs.makeQualified(p).toUri, fs.getConf)
            .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  // ------------------------------------------------------------- manifests

  private def manifest(out: String, stage: String) = s"$out/_manifests/$stage.json"

  def isCommitted(out: String, stage: String): Boolean =
    exists(manifest(out, stage))

  private def commit(out: String, stage: String, counters: Map[String, Long]): Unit =
    writeFile(manifest(out, stage), counters.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", s""", "stage": "$stage", "committedAtMs": ${System.currentTimeMillis()}}"""))

  /** Drops a stage's manifest, so that its next run rebuilds it. */
  private[graft] def uncommit(out: String, stage: String): Unit = {
    val (fs, p) = fsPath(manifest(out, stage))
    fs.delete(p, false)
  }

  def readManifest(out: String, stage: String): Option[String] =
    readFile(manifest(out, stage))

  private def counter(json: String, key: String): Option[Long] =
    (s""""$key":\\s*(-?\\d+)""").r.findFirstMatchIn(json).map(_.group(1).toLong)

  /** One numeric counter out of a committed stage manifest. */
  def manifestCounter(out: String, stage: String, key: String): Long =
    readManifest(out, stage).flatMap(counter(_, key))
      .getOrElse(sys.error(s"no counter '$key' in manifest $stage at $out"))

  /** (stage, wall_ms) of every committed stage of a store, in commit
    * order.
    */
  def stageWalls(out: String): Seq[(String, Long)] = {
    val (fs, dir) = fsPath(s"$out/_manifests")
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.endsWith(".json") => n.stripSuffix(".json") }
      .flatMap(st => readManifest(out, st).map(st -> _))
      .sortBy { case (_, json) => counter(json, "committedAtMs") }
      .flatMap { case (st, json) => counter(json, "wall_ms").map(st -> _) }
  }

  /** Runs one stage of a store unless its manifest is committed: `body`
    * writes the stage's output and returns its counters, which commit
    * with the body's wall time as `wall_ms`.
    */
  private[graft] def stage(out: String, name: String)(
      body: => Map[String, Long]): Unit =
    if (!isCommitted(out, name)) {
      val t0 = System.nanoTime()
      val counters = body
      commit(out, name, counters + ("wall_ms" -> (System.nanoTime() - t0) / 1000000L))
    }

  /** Runs independent bodies as concurrent Spark jobs (their driver and
    * scheduling latencies overlap), waits for every one, then returns
    * their results or rethrows the first failure (in argument order), so
    * no sibling still runs when the caller cleans up. The global pool:
    * use nests (a gate → two builds → their stages), so a fixed pool
    * could deadlock; `Await` marks its wait as blocking, and the pool
    * adds a thread for it.
    */
  private[graft] def concurrently[A](bodies: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // every Throwable goes back to the caller: a fatal error would leave
    // its Future uncompleted and the wait below endless
    val running = bodies.map(b =>
      Future(try Right(b()) catch { case t: Throwable => Left(t) }))
    running.map(Await.result(_, Duration.Inf))
      .map { case Right(a) => a; case Left(t) => throw t }
  }

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
    val obs = Observation(name)
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

  /** tb, the (field, tb) partition of a term's rows in segments and
    * termstats.
    */
  private def termBucket(conf: BuildConf) =
    pmod(xxhash64(col("term")), lit(conf.termBuckets))

  // bounded row groups: the mini-segment scan parallelizes by byte range,
  // but a range only reads row groups whose MIDPOINT it covers — with the
  // parquet default (128 MB) the effective task granularity is one row
  // group no matter what maxPartitionBytes asks for
  private val DocmapOptions = Map("parquet.block.size" -> (16L << 20).toString)

  /** Writes a per-doc table (docmap, docstats); its counter is its row
    * count, "docs".
    */
  private def writeCounted(rows: DataFrame, path: String,
                           options: Map[String, String] = Map.empty): Map[String, Long] = {
    val obs = Observation()
    rows.observe(obs, count(lit(1)).as("docs"))
      .write.mode(SaveMode.Overwrite).options(options).parquet(path)
    Map("docs" -> obs.get("docs").asInstanceOf[Long])
  }

  /** Full build. Each stage is skipped when already committed. */
  def build(pages: DataFrame, out: String,
            conf: BuildConf = BuildConf()): Unit = {
    val spark = pages.sparkSession
    val filtered = conf.langFilter
      .map(l => pages.filter(col("lang") === l)).getOrElse(pages)
    // a single slice runs as one minis → segments action (fusedSegments)
    // unless an earlier run got that far
    val fused = conf.numSlices == 1 && !isCommitted(out, "minisegs-slice-0") &&
      !isCommitted(out, "segments")

    // stage 0+1 DEEP-FUSED fast path: with a single slice and derived
    // split sizing (splitBytes == 0), the mini-segment stage's input can
    // be the in-memory docId assignment itself — its partitions are
    // docId-contiguous by construction, exactly what the docmap FILE
    // provided — so the docmap write (pure I/O) runs as a CONCURRENT job
    // (guide §2.6) instead of a write→re-read barrier on the critical
    // path. The scaling bench pins splitBytes > 0 precisely so task
    // boundaries come from file splits (same work at every parallelism
    // level); that path below is byte-for-byte unchanged.
    if (fused && conf.splitBytes == 0L && !isCommitted(out, "docmap")) {
      val (ids, totalDocs, release) =
        assignDocIds(filtered, conf.shufflePartitions)
      // both writers read the shared cache: release it once both end
      try concurrently(
        () => stage(out, "docmap")(writeCounted(ids, s"$out/docmap", DocmapOptions)),
        () => fusedSegments(ids, bucketSize(totalDocs, conf), out, conf))
      finally release()
    } else {
      // stage 0: docmap (url-sorted pages with dense docIds) ---------------
      stage(out, "docmap") {
        val (ids, _, release) = assignDocIds(filtered, conf.shufflePartitions)
        try writeCounted(ids, s"$out/docmap", DocmapOptions) finally release()
      }
      val totalDocs = manifestCounter(out, "docmap", "docs")
      val rangeSize = bucketSize(totalDocs, conf)

      // stage 1: mini-segments, one resumable docId-range slice at a time --
      // The scan's split size gates this stage's parallelism (it is the
      // build's CPU-dominant stage): size splits so one slice yields ~2
      // tasks per core instead of whatever the session default gives — but
      // CAP the split at 64 MB: a task's accumulator live set (per-term
      // encoders + emitted rows) is ~3× its input bytes, so the cap bounds
      // executor memory PER TASK regardless of corpus or cluster size (an
      // uncapped lo-level split at 480k docs reached ~180 MB input ≈ 0.5 GB
      // live and OOM'd a 5 GB executor running 4 such tasks).
      val sliceSize = math.max(1L, (totalDocs + conf.numSlices - 1) / conf.numSlices)
      val splitTarget =
        if (conf.splitBytes > 0) conf.splitBytes
        else {
          val (fs, p) = fsPath(s"$out/docmap")
          math.min(64L << 20, math.max(1L << 21, fs.getContentSummary(p).getLength
            / conf.numSlices / (conf.shufflePartitions * 2L)))
        }
      // the split size lives in a session of its own, so the caller's
      // conf — and any build or query running on it meanwhile — never
      // sees it
      val splitSession = spark.newSession()
      splitSession.conf.set("spark.sql.files.maxPartitionBytes", splitTarget.toString)
      def docmap = splitSession.read.parquet(s"$out/docmap")
      if (fused) fusedSegments(docmap, rangeSize, out, conf)
      else (0 until conf.numSlices).foreach { i =>
        stage(out, s"minisegs-slice-$i") {
          // docmap files are docId-sorted: the range filter prunes row groups
          val slice = docmap.filter(col("docId") >= i * sliceSize &&
            col("docId") < (i + 1L) * sliceSize)
          val (obs, aggs) = miniObs(s"minisegs-$i")
          IndexBuilder.miniSegments(slice, rangeSize).toDF()
            .observe(obs, aggs.head, aggs.tail: _*)
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$out/minisegs/slice=$i")
          miniCounters(obs.get) + ("rangeSize" -> rangeSize)
        }
      }
    }
    derivedStages(spark, out, conf)
  }

  /** The single-slice chain: with one slice the minisegs table buys no
    * resume granularity, so tokenize→encode→shuffle→merge runs as ONE
    * action and the mini-segment parquet round trip (its full byte volume
    * written to and re-read from storage) disappears. Doclen sentinels
    * ride the same shuffle into the segments table (term = ""), where
    * docstats finds them. Commits segments, then minisegs-slice-0 with the
    * counters observed on the way; callers run it only while neither is
    * committed (a skipped segments stage would never run that action).
    */
  private def fusedSegments(docs: DataFrame, rangeSize: Long, out: String,
                            conf: BuildConf): Unit =
    stage(out, "minisegs-slice-0") {
      val (obs, aggs) = miniObs("minisegs-0")
      val minis = IndexBuilder.miniSegments(docs, rangeSize).toDF()
        .observe(obs, aggs.head, aggs.tail: _*)
      stage(out, "segments")(writeSegmentTable(mergeMinis(minis, conf), out, conf))
      miniCounters(obs.get) ++ Map("rangeSize" -> rangeSize, "fused" -> 1L)
    }

  private val SegCols = Seq("term", "field", "bucket", "n", "firstDocId",
    "lastDocId", "segCf", "blob", "blockFirst", "blockOff",
    "blockMaxTf", "blockMinDl", "blockN")

  private def segRows(spark: SparkSession, dir: String): Dataset[SegmentRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/segments").select(SegCols.map(col): _*).as[SegmentRow]
  }

  /** stage 2: segments — merge minis per (term, field, bucket).
    * One shuffle of pre-encoded rows, keyed by the OUTPUT partition
    * (field, tb) so every directory is written by the task that merged it
    * (no second move); within a task groups are streamed in sorted order
    * and byte-concatenated (SegmentMerger).
    */
  private def mergeMinis(minis: DataFrame, conf: BuildConf): Dataset[SegmentRow] = {
    import minis.sparkSession.implicits._
    // shuffle key includes the docId-range bucket: (field, tb) alone is
    // 4×termBuckets coarse keys whose byte weight is wildly skewed (the
    // default field dominates), so reducers straggled; buckets are
    // near-uniform byte slices, giving fields×tb×buckets fine-grained keys
    // that balance. Multiple tasks may then write the same (field, tb)
    // directory — parquet partitionBy handles that (one file per task).
    val segParts =
      if (conf.segmentPartitions > 0) conf.segmentPartitions
      else conf.shufflePartitions
    minis
      .withColumn("tb", termBucket(conf))
      .repartition(segParts, col("field"), col("tb"), col("bucket"))
      .sortWithinPartitions("term", "field", "bucket", "firstDocId")
      .select(SegCols.map(col): _*)
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
  }

  /** Writes the segments table — for the build, merge and delete alike —
    * and returns its counters over real terms (doclen sentinel rows, which
    * a fused build keeps here, are not counted).
    */
  private def writeSegmentTable(rows: Dataset[SegmentRow], out: String,
                                conf: BuildConf): Map[String, Long] = {
    val obs = Observation()
    val real = col("term") =!= ""
    rows.toDF()
      .withColumn("tb", termBucket(conf))
      .observe(obs,
        count(when(real, 1)).cast("long").as("segments"),
        sum(when(real, length(col("blob"))).otherwise(0)).cast("long").as("bytes"),
        sum(when(real, col("n")).otherwise(0)).cast("long").as("postings"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("field", "tb")
      // the blob column IS the compression (docId-delta varints);
      // measured: snappy shrinks the table only ~6% while costing real
      // CPU in the build's one non-scaling stage AND on every query read
      .option("compression", "none")
      .parquet(s"$out/segments")
    val m = obs.get
    Seq("segments", "bytes", "postings").map(k => k -> m(k).asInstanceOf[Long]).toMap
  }

  /** Writes the termstats table: (term, field) → the sums of `rows`' `df`
    * and `cf` columns, partitioned by tb so point lookups prune.
    */
  private def writeTermstats(rows: DataFrame, df: String, cf: String,
                             out: String, conf: BuildConf): Map[String, Long] = {
    val obs = Observation()
    rows.groupBy("term", "field")
      .agg(sum(df).cast("long").as("df"), sum(cf).cast("long").as("cf"))
      .withColumn("tb", termBucket(conf))
      .repartition(col("tb"))
      .observe(obs, count(lit(1)).as("terms"))
      .write.mode(SaveMode.Overwrite).partitionBy("tb")
      .parquet(s"$out/termstats")
    Map("terms" -> obs.get("terms").asInstanceOf[Long])
  }

  /** stage 3: termstats from the store's own segments table (a tiny
    * aggregation; fused builds carry sentinel rows there, filtered out).
    */
  private def segmentTermstats(spark: SparkSession, out: String,
                               conf: BuildConf): Unit =
    stage(out, "termstats")(writeTermstats(
      spark.read.parquet(s"$out/segments").filter(col("term") =!= ""),
      "n", "segCf", out, conf))

  /** Derived tables (segments, termstats, docstats, collstats) over
    * whatever minisegs slices exist — shared by the batch build and the
    * streaming indexer's seal. Each is a [[stage]]; termstats (reads the
    * merged segments) and docstats (reads minisegs + docmap) are
    * independent and run [[concurrently]].
    */
  def derivedStages(spark: SparkSession, out: String, conf: BuildConf): Unit = {
    import spark.implicits._
    stage(out, "segments")(writeSegmentTable(mergeMinis(
      spark.read.parquet(s"$out/minisegs").filter(col("term") =!= ""), conf), out, conf))
    concurrently(
      () => segmentTermstats(spark, out, conf),
      // stage 4: docstats from the doclen sentinel rows: in the minisegs
      // table when it exists, else in the segments table (the fused build
      // wrote them there under term = "")
      () => stage(out, "docstats") {
        val sentinels = spark.read.parquet(
          if (exists(s"$out/minisegs")) s"$out/minisegs" else s"$out/segments")
          .filter(col("term") === "")
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
        writeCounted(lens.join(docmap, "docId"), s"$out/docstats")
      })
    writeCollstats(spark, out)
  }

  /** stage 5: collstats.json from the already-built small tables (no
    * postings rescan) — shared by the batch build, the streaming seal,
    * and the store merge.
    */
  private def writeCollstats(spark: SparkSession, out: String): Unit =
    stage(out, "collstats") {
      // the two source aggregations read different tables (guide §2.6)
      val Seq(docRow, perField) = concurrently(
        () => spark.read.parquet(s"$out/docstats").agg(
          sum(when(col("len_default") > 0, 1L).otherwise(0L)),
          sum(when(col("len_title") > 0, 1L).otherwise(0L)),
          sum(when(col("len_body") > 0, 1L).otherwise(0L)),
          sum(when(col("len_url") > 0, 1L).otherwise(0L))).collect(),
        () => spark.read.parquet(s"$out/termstats")
          .groupBy("field").agg(
            count(lit(1)).as("vocabSize"),
            sum("cf").cast("long").as("wordCount")).collect())
      val docCounts = Seq("default", "title", "body", "url").zipWithIndex
        .map { case (f, i) => f -> docRow(0).getLong(i) }.toMap
      // field order, so equal stores write byte-identical files
      val rows = perField.sortBy(_.getString(0)).map { r =>
        val field = r.getString(0)
        val dc = docCounts(field)
        val vocab = r.getLong(1)
        val wc = r.getLong(2)
        s"""  "$field": {"docCount": $dc, "vocabSize": $vocab, "wordCount": $wc, "avgDocLen": ${if (dc == 0) 0.0 else wc.toDouble / dc}}"""
      }
      writeFile(s"$out/collstats.json", rows.mkString("{\n", ",\n", "\n}"))
      Map("fields" -> rows.length.toLong)
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
    * collstats recomputes from the merged small tables. The four table
    * merges read only the two input stores, so they run [[concurrently]];
    * collstats, which reads the merged tables, follows. Every table is a
    * [[stage]], so an interrupted or repeated merge resumes / no-ops
    * exactly like the build.
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
    val nA = manifestCounter(aDir, "docmap", "docs")
    concurrently(
      () => stage(out, "docmap") {
        // by name: a streamed store's docmap also has its batch= partition
        def docmap(dir: String) =
          spark.read.parquet(s"$dir/docmap").select("url", "docId", "text", "lang")
        writeCounted(docmap(aDir)
          .unionByName(docmap(bDir).withColumn("docId", col("docId") + nA)),
          s"$out/docmap", DocmapOptions)
      },
      () => stage(out, "segments") {
        // Buckets are docId-range ordinals and every rebased B docId is
        // greater than every A docId, so B's buckets order after A's whole
        // range: offset them past A's max (one column-pruned metadata scan).
        val bucketOff = spark.read.parquet(s"$aDir/segments")
          .agg(max("bucket")).collect()(0).getInt(0) + 1
        val rebased = segRows(spark, bDir).map { r =>
          val (blob, shift) = Codec.rebaseBlob(r.blob, nA)
          r.copy(bucket = r.bucket + bucketOff,
            firstDocId = r.firstDocId + nA, lastDocId = r.lastDocId + nA,
            blob = blob,
            blockFirst = r.blockFirst.map(_ + nA),
            // block 0 starts at byte 0 (the rewritten vlong); every later
            // block starts past the old header and shifts with it
            blockOff = r.blockOff.map(o => if (o == 0) 0 else o + shift))
        }
        writeSegmentTable(segRows(spark, aDir).union(rebased), out, conf)
      },
      () => stage(out, "termstats") {
        def ts(dir: String) = spark.read.parquet(s"$dir/termstats")
          .select("term", "field", "df", "cf")
        writeTermstats(ts(aDir).unionByName(ts(bDir)), "df", "cf", out, conf)
      },
      () => stage(out, "docstats")(writeCounted(
        spark.read.parquet(s"$aDir/docstats")
          .unionByName(spark.read.parquet(s"$bDir/docstats")
            .withColumn("docId", col("docId") + nA)),
        s"$out/docstats")))
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
    * new segments, collstats from the merged smalls. The segments →
    * termstats chain and the two anti-joins read only the input store and
    * run [[concurrently]], collstats last. Every table is a [[stage]] like
    * the build's: interrupted deletes resume, repeats no-op.
    */
  def deleteDocs(spark: SparkSession, dir: String, out: String,
                 urls: DataFrame, conf: BuildConf = BuildConf()): Unit = {
    import spark.implicits._
    require(isCommitted(dir, "collstats"),
      "deleteDocs needs a sealed store (collstats manifest missing)")
    val delUrls = urls.select("url").distinct()
    def survivors(table: String) =
      spark.read.parquet(s"$dir/$table").join(delUrls, Seq("url"), "left_anti")
    concurrently(
      () => {
        stage(out, "segments") {
          val delIds = spark.read.parquet(s"$dir/docmap")
            .join(delUrls, "url").select("docId").as[Long].collect().sorted
          val delB = spark.sparkContext.broadcast(delIds)
          val filtered = segRows(spark, dir).mapPartitions { it =>
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
          try writeSegmentTable(filtered, out, conf) +
            ("deletedDocs" -> delIds.length.toLong)
          finally delB.destroy()
        }
        segmentTermstats(spark, out, conf)
      },
      () => stage(out, "docmap")(
        writeCounted(survivors("docmap"), s"$out/docmap", DocmapOptions)),
      () => stage(out, "docstats")(
        writeCounted(survivors("docstats"), s"$out/docstats")))
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
    extends SearchIndex(spark) {

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

  private val statCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]

  lazy val collStats: CollStats = {
    val json = IndexStore.readFile(s"$dir/collstats.json")
      .getOrElse(sys.error(s"no collstats.json in $dir"))
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
