package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{FieldDoc, IndexBuilder, DfIndex}

/** One driver-gate query: a Spark implementation and (when SQL-expressible)
  * an equivalent DuckDB oracle over the same parquet tables. Column names
  * and rounding must match exactly — the driver sorts columns by name and
  * hashes values.
  */
case class GateQuery(name: String,
                     fn: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

/** Shared per-sfDir state for gate queries: the documents-table inverted
  * index, built once per JVM per scale factor. Fields: `default` = full
  * text, `title` = first 8 tokens, `body` = the rest (the documents table
  * has no native fields; this split is mirrored exactly in the oracle SQL
  * via list slicing).
  */
object IndexCache {
  val TitleTokens = 8

  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, DfIndex]

  def documentsIndex(spark: SparkSession, sfDir: String): DfIndex =
    cache.getOrElseUpdate(sfDir, {
      import spark.implicits._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("docId"), col("text"))
      // Postings built in ONE tokenize pass per doc: the three field token
      // streams are slices of the same tokenize(text) (every token is
      // [a-z0-9]+, so the old mkString(" ")→re-tokenize round trip of the
      // title/body FieldDocs reproduced exactly these slices — rows are
      // identical, the doc is just not tokenized three times). fanOut is
      // CAPPED at 8: the cached postings frame is read by every
      // subsequent IR gate's point lookups, and a full-width 32-partition
      // cache taxed each of those tiny jobs with 32 scheduled tasks per
      // union leg (measured: sdm at 419 tasks, every boolean gate
      // +0.1–0.2 s) — 8 parallelizes the one-time tokenize pass without
      // that per-query tax.
      val postings = graft.ops.TextAnalysis.fanOut(docs, "docId", cap = 8)
        .as[(Long, String)].flatMap { case (id, text) =>
          val toks = graft.analysis.Tokenizer.tokenize(text)
          val (titleToks, bodyToks) = toks.splitAt(TitleTokens)
          Seq(("default", toks), ("title", titleToks), ("body", bodyToks))
            .iterator.flatMap { case (f, tk) =>
              graft.analysis.Tokenizer.termVector(tk).iterator.map {
                case (t, (tf, pos)) =>
                  graft.model.PostingRow(t, f, id, tf, tk.length, pos)
              }
            }
        }.toDF()
      IndexBuilder.inMemory(postings)
    })
}

/** Shared per-sfDir PERSISTENT store over the documents table: the full
  * build pipeline (docmap → mini-segments → VByte segment merge →
  * termstats/docstats/collstats) into a deterministic temp dir, opened as
  * a ParquetIndex — so the driver's oracle also exercises the real
  * north-star artifact, not just the in-memory index. Synthetic urls are
  * zero-padded doc_ids, so the store's url-sorted dense docIds equal the
  * table's doc_ids and oracle SQL can join on them directly. Manifests
  * make the build a no-op when the dir already exists (idempotent across
  * JVMs and driver phases).
  */
object StoreCache {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, graft.index.ParquetIndex]

  /** Full batch build of the documents store into `dir` (fresh dirs give a
    * cold build; the persistent cache dir is manifest-idempotent).
    */
  def buildInto(spark: SparkSession, sfDir: String,
                dir: String): graft.index.ParquetIndex = {
    val pages = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        format_string("doc%08d", col("doc_id")).as("url"),
        lit(null).cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("text"), lit("en").as("lang"))
    graft.index.IndexStore.build(pages, dir, graft.index.BuildConf(
      numSlices = 1, numBuckets = 8, termBuckets = 16,
      shufflePartitions = 8))
    graft.index.IndexStore.open(spark, dir, 16)
  }

  /** Deterministic per-sfDir store dir. Version tag: a stale store from an
    * older BLOB FORMAT must not be reused across rounds (manifests would
    * happily skip the rebuild).
    */
  def dirFor(sfDir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-gate-store-v2-" + math.abs(sfDir.hashCode)).getAbsolutePath

  def documentsStore(spark: SparkSession, sfDir: String): graft.index.ParquetIndex =
    cache.getOrElseUpdate(sfDir, buildInto(spark, sfDir, dirFor(sfDir)))
}

/** Shared per-sfDir DELETED store: IndexStore.deleteDocs of every url with
  * doc_id % 7 == 3 out of the shared full store (StoreCache) — the
  * recrawl-invalidation / takedown shape. docIds stay stable (urls are
  * zero-padded doc_ids, so the survivors keep docId == doc_id) and all
  * collection stats shrink to the remaining corpus, which the oracle
  * mirrors with a WHERE on the documents table.
  */
object DeletedStoreCache {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, graft.index.ParquetIndex]

  def documentsStore(spark: SparkSession, sfDir: String): graft.index.ParquetIndex =
    cache.getOrElseUpdate(sfDir, {
      StoreCache.documentsStore(spark, sfDir) // ensure the source store
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft-gate-delete-v1-" + math.abs(sfDir.hashCode)).getAbsolutePath
      if (!graft.index.IndexStore.isCommitted(out, "collstats")) {
        val urls = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 7 === 3)
          .select(format_string("doc%08d", col("doc_id")).as("url"))
        graft.index.IndexStore.deleteDocs(spark, StoreCache.dirFor(sfDir),
          out, urls, graft.index.BuildConf(termBuckets = 16))
      }
      graft.index.IndexStore.open(spark, out, 16)
    })
}

/** Shared per-sfDir STREAMING store over the documents table: the same
  * corpus ingested as N arrival-ordered micro-batches through
  * StreamingIndexer.processBatch (the exact foreachBatch code path —
  * hwm docId allocation, idempotence manifests), then sealed into the
  * derived tables and opened as a ParquetIndex. Batches are ascending
  * doc_id ranges and urls are zero-padded doc_ids, so the hwm-allocated
  * arrival-order docIds equal the table's doc_ids — the batch store's
  * oracle shape applies unchanged. Manifests make every step a no-op when
  * the store already exists (idempotent across JVMs and driver phases).
  */
object StreamStoreCache {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, graft.index.ParquetIndex]
  val NumBatches = 4

  /** Full streaming ingest (NumBatches micro-batches + seal) into `dir`
    * (fresh dirs give a cold build; manifests make re-runs no-ops).
    */
  def buildInto(spark: SparkSession, sfDir: String,
                dir: String): graft.index.ParquetIndex = {
    val conf = graft.index.BuildConf(numSlices = 1, numBuckets = 8,
      termBuckets = 16, shufflePartitions = 8)
    if (!graft.index.IndexStore.isCommitted(dir, "collstats")) {
      val pages = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          format_string("doc%08d", col("doc_id")).as("url"),
          lit(null).cast("timestamp").as("warc_ts"),
          lit(null).cast("binary").as("html"),
          col("text"), lit("en").as("lang"))
      val maxId = pages.agg(max("doc_id")).collect()(0).getLong(0)
      val span = maxId / NumBatches + 1
      (0 until NumBatches).foreach { b =>
        val batch = pages.filter(col("doc_id") >= b * span &&
          col("doc_id") < (b + 1L) * span).drop("doc_id")
        graft.streaming.StreamingIndexer.processBatch(batch, b, dir, conf)
      }
      graft.streaming.StreamingIndexer.seal(spark, dir, conf)
    }
    graft.index.IndexStore.open(spark, dir, 16)
  }

  def documentsStore(spark: SparkSession, sfDir: String): graft.index.ParquetIndex =
    cache.getOrElseUpdate(sfDir, {
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft-gate-stream-v1-" + math.abs(sfDir.hashCode)).getAbsolutePath
      buildInto(spark, sfDir, dir)
    })
}

/** Shared per-sfDir MERGED store: the documents table split into two
  * halves by doc_id (the daily-crawl-increment shape — urls are
  * zero-padded doc_ids, so the split is by url order), each half built
  * as its own sealed store, then compacted with IndexStore.mergeStores.
  * All half-A urls sort before half-B urls, so the merged store's dense
  * docId space equals a full build's and the full-corpus oracle applies
  * unchanged — the gate certifies byte-level blob rebasing + algebraic
  * stats merging end-to-end through BM25 scoring.
  */
object MergedStoreCache {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, graft.index.ParquetIndex]

  def buildInto(spark: SparkSession, sfDir: String,
                base: String): graft.index.ParquetIndex = {
    val conf = graft.index.BuildConf(numSlices = 1, numBuckets = 8,
      termBuckets = 16, shufflePartitions = 8)
    if (!graft.index.IndexStore.isCommitted(s"$base/ab", "collstats")) {
      val pages = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          format_string("doc%08d", col("doc_id")).as("url"),
          lit(null).cast("timestamp").as("warc_ts"),
          lit(null).cast("binary").as("html"),
          col("text"), lit("en").as("lang"))
      val half = pages.agg(max("doc_id")).collect()(0).getLong(0) / 2 + 1
      // The two half-store builds are independent (disjoint inputs,
      // separate output dirs) — exactly the crawl-increment shape, where
      // each increment builds concurrently. Overlapping them hides each
      // build's driver/scheduling latency behind the other's (guide
      // §2.6); manifest resume semantics are per-store and unchanged.
      graft.index.IndexStore.concurrently(
        () => graft.index.IndexStore.build(
          pages.filter(col("doc_id") < half).drop("doc_id"), s"$base/a", conf),
        () => graft.index.IndexStore.build(
          pages.filter(col("doc_id") >= half).drop("doc_id"), s"$base/b", conf))
      graft.index.IndexStore.mergeStores(spark, s"$base/a", s"$base/b",
        s"$base/ab", conf)
    }
    graft.index.IndexStore.open(spark, s"$base/ab", 16)
  }

  def documentsStore(spark: SparkSession, sfDir: String): graft.index.ParquetIndex =
    cache.getOrElseUpdate(sfDir, {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft-gate-merge-v1-" + math.abs(sfDir.hashCode)).getAbsolutePath
      buildInto(spark, sfDir, base)
    })
}

/** DuckDB SQL building blocks shared by the IR oracle queries. The
  * tokenization must match graft.analysis.Tokenizer bit-for-bit:
  * lower + split on [^a-z0-9]+ with empties dropped.
  */
object OracleSql {
  /** Tokenized postings/stats CTE prelude over the documents table.
    * Field slicing mirrors IndexCache: title = first 8 tokens, body = rest.
    * `post` = (doc_id, term, tf); `dlen` = (doc_id, dl); `stats` = (n,
    * avgdl) over the DEFAULT field (scoring always uses default-field
    * collection stats, like the reference's config-injected N/avgdl);
    * `tstat` = (term, df, cf) for the selected field.
    */
  def prelude(field: String = "default", where: String = ""): String = {
    val slice = field match {
      case "default" => "ts"
      case "title"   => s"ts[1:${IndexCache.TitleTokens}]"
      case "body"    => s"ts[${IndexCache.TitleTokens + 1}:]"
    }
    s"""WITH toksrc AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS ts FROM documents $where
),
ftok AS (
  SELECT doc_id, unnest($slice) AS term FROM toksrc
),
tok AS (SELECT doc_id, term FROM ftok WHERE term <> ''),
dtok AS (
  SELECT doc_id, term FROM (SELECT doc_id, unnest(ts) AS term FROM toksrc) WHERE term <> ''
),
post AS (SELECT doc_id, term, count(*)::INT AS tf FROM tok GROUP BY 1, 2),
dlen AS (SELECT doc_id, count(*)::INT AS dl FROM tok GROUP BY 1),
stats AS (
  SELECT count(*)::DOUBLE AS n, (sum(dl)::DOUBLE / count(*)) AS avgdl
  FROM (SELECT doc_id, count(*) AS dl FROM dtok GROUP BY 1)
),
tstat AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM post GROUP BY 1)"""
  }

  /** BM25 per-posting score (k1 = 1.2, b = 0.75), no (k1+1) numerator, no
    * idf clamp — the reference formula (BM25Retriever.scala:52-57).
    */
  def bm25(tf: String, dl: String, df: String): String =
    s"log10((s.n - $df + 0.5) / ($df + 0.5)) * $tf / ($tf + 1.2 * (0.25 + 0.75 * $dl / s.avgdl))"

  /** Indri two-level smoothing, wordBased prior (IndriRetriever.scala:38-55);
    * W = total default-field words (a literal filled per scale by `wstats`).
    */
  def indri(tf: String, dl: String, cf: String): String =
    s"log10(0.4 * ($tf + 2500.0 * ($cf / w.wc)) / ($dl + 2500.0) + 0.6 * ($cf / w.wc))"

  val wstats = ",\nwstats AS (SELECT count(*)::DOUBLE AS wc FROM dtok)"
}
