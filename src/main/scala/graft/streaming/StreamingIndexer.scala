package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.{BuildConf, IndexBuilder, IndexStore}

/** Incremental index ingestion over a Structured Streaming source of pages
  * (same input_hint shape as the batch build).
  *
  * Shape: `foreachBatch` appends one committed postings slice (and docmap
  * shard) per micro-batch. Exactly-once: the slice manifest doubles as the
  * idempotence marker — a replayed batchId (checkpoint recovery) sees its
  * manifest and skips, so reprocessing never duplicates postings. docIds
  * are allocated monotonically from a high-water mark persisted in the
  * manifest dir (arrival order, not global-url order — the only semantic
  * the query side needs is ascending-unique, which holds; documented
  * difference from the batch build's url-sorted dense ids).
  *
  * `seal` commits the docmap manifest and materializes the derived tables
  * (termstats, segments, docstats, collstats) over everything ingested so
  * far; it clears the derived manifests first so re-sealing after more
  * batches rebuilds them. Queries run against the sealed store exactly
  * like a batch-built one, and it merges like one.
  */
object StreamingIndexer {

  private def hwmPath(out: String) = s"$out/_manifests/docid-hwm"

  private def readHwm(out: String): Long =
    IndexStore.readFile(hwmPath(out)).map(_.trim.toLong).getOrElse(0L)

  /** Process one micro-batch: assign docIds from the high-water mark,
    * append docmap shard + minisegs slice, commit the batch manifest.
    * Public so tests and foreachBatch share the exact code path.
    *
    * Buckets use the FIXED conf.bucketDocs range size (total doc
    * count is unknown while ingesting; the value must stay constant for a
    * store's lifetime so bucket ranges never overlap across batches). A
    * batch build of up to numBuckets × bucketDocs docs uses the same
    * size, so the two paths produce the same layout.
    */
  def processBatch(batch: DataFrame, batchId: Long, out: String,
                   conf: BuildConf): Unit =
    // a committed batch is a replay after recovery: skipped
    IndexStore.stage(out, s"minisegs-batch-$batchId") {
      val filtered = conf.langFilter
        .map(l => batch.filter(col("lang") === l)).getOrElse(batch)
      val base = readHwm(out)
      val (ids, n, release) =
        IndexStore.assignDocIds(filtered, conf.shufflePartitions, base)
      val (obs, aggs) = IndexStore.miniObs(s"batch-$batchId")
      // the two writes consume the SAME cached assignment and touch
      // disjoint outputs; the cache goes once both have ended
      try IndexStore.concurrently(
        () => ids.write.mode(SaveMode.Overwrite)
          .parquet(s"$out/docmap/batch=$batchId"),
        () => IndexBuilder.miniSegments(ids, conf.bucketDocs).toDF()
          .observe(obs, aggs.head, aggs.tail: _*)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$out/minisegs/slice=b$batchId"))
      finally release()
      // commit order matters: hwm first, then the manifest that marks the
      // batch done — a crash in between replays the batch onto the same
      // (already-written, overwritten) outputs with a fresh hwm window
      IndexStore.writeFile(hwmPath(out), (base + n).toString)
      IndexStore.miniCounters(obs.get) + ("docIdBase" -> base)
    }

  /** Total docs ingested so far (the docId high-water mark). */
  def ingestedDocs(out: String): Long = readHwm(out)

  /** Start the ingestion query over a streaming pages DataFrame. */
  def ingest(pages: DataFrame, out: String,
             conf: BuildConf = BuildConf()): StreamingQuery =
    pages.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, out, conf)
      }
      .start()

  /** Build/refresh the derived tables over all ingested batches. */
  def seal(spark: SparkSession, out: String,
           conf: BuildConf = BuildConf()): Unit = {
    Seq("termstats", "segments", "docstats", "collstats", "docmap")
      .foreach(IndexStore.uncommit(out, _))
    // the docmap is complete once its batches are: record its size like
    // the batch build does, so a sealed stream store can be merged
    IndexStore.stage(out, "docmap")(Map("docs" -> ingestedDocs(out)))
    IndexStore.derivedStages(spark, out, conf)
  }
}
