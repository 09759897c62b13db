package graft

/** Core data model of the Spark-native rebuild.
  *
  * Shapes mirror what the reference engine consumes, not how it stores it:
  * the reference materializes `InvertedList(term, stem, cf, totalTermCount,
  * df, postings, defaultScore)` rows parsed from one text file per term
  * (reference: core/src/main/scala/yairs/model/InvertedList.scala:15) with
  * postings `(docId, tf, docLength, positions, score)`
  * (reference: core/src/main/scala/yairs/model/Posting.scala:10).
  * Here postings live in Datasets/DataFrames; per-list scalars (df, cf,
  * defaultScore) are driver-side literals resolved from small stats tables.
  */
object model {

  /** One posting of a (term, field) list. docLength is denormalized per
    * posting exactly like the reference `.inv` row format
    * (reference: InvertedList.scala:143-148) so scoring never needs a
    * doc-stats join at query time.
    */
  case class Posting(docId: Long, tf: Int, dl: Int, positions: Array[Int])

  /** Flat postings row, the uncompressed index representation. */
  case class PostingRow(term: String, field: String, docId: Long, tf: Int,
                        dl: Int, positions: Array[Int])

  /** Collection-level statistics the scorers consume. The reference reads
    * these from config (reference: conf/bm25.properties:38-41); we compute
    * them at index-build time over the default field.
    */
  case class CollStats(docCount: Long, avgDocLen: Double, vocabSize: Long,
                       wordCount: Long)

  /** Input page row — exact input_hint shape (url, warc_ts, html, text,
    * lang).
    */
  case class Page(url: String, warc_ts: java.sql.Timestamp,
                  html: Array[Byte], text: String, lang: String)

  /** TREC-format result row; text format `qid\tQ0\tdocid\trank\t%.6f\trunid`
    * (reference: core/src/main/scala/yairs/model/trecLikeResult.scala:10-16).
    */
  case class TrecResult(queryId: String, docId: Long, rank: Int,
                        score: Double, runId: String) {
    def formatted: String =
      s"$queryId\tQ0\t$docId\t$rank\t${String.format(java.util.Locale.ROOT,
        "%.6f", Double.box(score))}\t$runId"
  }

  object TrecResult {
    val header = "QueryID\tQ0\tDocID\tRank\tScore\tRunID"
  }
}
