package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.{BuildConf, IndexBuilder, IndexStore}
import java.nio.file.{Files, Paths}

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

  private def hwmPath(out: String) = Paths.get(s"$out/_manifests/docid-hwm")

  private def readHwm(out: String): Long =
    if (Files.exists(hwmPath(out))) Files.readString(hwmPath(out)).trim.toLong
    else 0L

  private def writeHwm(out: String, v: Long): Unit = {
    Files.createDirectories(hwmPath(out).getParent)
    Files.writeString(hwmPath(out), v.toString)
  }

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
                   conf: BuildConf): Unit = {
    val stage = s"minisegs-batch-$batchId"
    if (IndexStore.isCommitted(out, stage)) return // replay after recovery
    val filtered = conf.langFilter
      .map(l => batch.filter(col("lang") === l)).getOrElse(batch)
    val base = readHwm(out)
    val (ids, n, release) =
      IndexStore.assignDocIds(filtered, conf.shufflePartitions, base)
    try {
      // the two writes consume the SAME cached assignment and touch
      // disjoint outputs — concurrent jobs (guide §2.6); the hwm/manifest
      // commit point below still happens only after both finish
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDocmap = Future {
        ids.write.mode(SaveMode.Overwrite)
          .parquet(s"$out/docmap/batch=$batchId")
      }
      val (obs, aggs) = IndexStore.miniObs(s"batch-$batchId")
      IndexBuilder.miniSegments(ids, conf.bucketDocs).toDF()
        .observe(obs, aggs.head, aggs.tail: _*)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$out/minisegs/slice=b$batchId")
      Await.result(fDocmap, Duration.Inf)
      // commit order matters: hwm first, then the manifest that marks the
      // batch done — a crash in between replays the batch onto the same
      // (already-written, overwritten) outputs with a fresh hwm window
      writeHwm(out, base + n)
      IndexStore.commit(out, stage,
        IndexStore.miniCounters(obs.get) + ("docIdBase" -> base))
    } finally release()
  }

  /** Total docs ingested so far (the docId high-water mark). */
  def ingestedDocs(out: String): Long = readHwm(out)

  /** Start the ingestion query over a streaming pages DataFrame. */
  def ingest(pages: DataFrame, out: String,
             conf: BuildConf = BuildConf()): StreamingQuery = {
    Files.createDirectories(Paths.get(out))
    pages.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, out, conf)
      }
      .start()
  }

  /** Build/refresh the derived tables over all ingested batches. */
  def seal(spark: SparkSession, out: String,
           conf: BuildConf = BuildConf()): Unit = {
    Seq("termstats", "segments", "docstats", "collstats").foreach { st =>
      val p = Paths.get(s"$out/_manifests/$st.json")
      if (Files.exists(p)) Files.delete(p)
    }
    // the docmap is complete once its batches are: record its size like
    // the batch build does, so a sealed stream store can be merged
    IndexStore.commit(out, "docmap", Map("docs" -> ingestedDocs(out)))
    IndexStore.derivedStages(spark, out, conf)
  }
}
