package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.query._

/** Driver-gate queries covering the IR operator inventory (SURVEY.md §2):
  * S1 scan, F1 stop pruning, F2 field restriction, J1/J2 Boolean AND/OR,
  * J4 SUM, J5 WEIGHT, J6 NEAR, J7 UW, A1/A2/A3 scorers, T1 top-k ranking,
  * S4 TREC shape. All run against the documents table of the given sfDir;
  * index built once per scale via IndexCache.
  *
  * Scores are rounded to 6 decimals on BOTH sides (the reference's own
  * output precision — trecLikeResult.scala:11) so the driver's value-hash
  * compare is robust to sub-ulp FP divergence between JVM and DuckDB libm.
  */
object IrQueries {
  import OracleSql._

  private def engine(spark: SparkSession, sfDir: String, model: Model) =
    new Engine(IndexCache.documentsIndex(spark, sfDir), model)

  private val bm25Parser = new QueryParser(defaultOp = QOp.SUM)
  private val boolParser = new QueryParser(defaultOp = QOp.OR)
  private val indriParser = new QueryParser(defaultOp = QOp.AND)

  /** Parse + prefetch stats (one job for the query's whole leaf set) +
    * lower. Shared by every evaluation-shaped gate.
    */
  private def lowerQ(spark: SparkSession, sfDir: String, model: Model,
                     parser: QueryParser, q: String): DataFrame = {
    val e = engine(spark, sfDir, model)
    val root = parser.parse(q)
    e.index.prefetchStats(e.collectLeaves(root))
    e.lower(root).df
  }

  /** Evaluate `q` and return (doc_id, score6) for every retrieved doc. */
  private def eval(spark: SparkSession, sfDir: String, model: Model,
                   parser: QueryParser, q: String): DataFrame =
    lowerQ(spark, sfDir, model, parser, q)
      .select(col("docId").as("doc_id"), round(col("score"), 6).as("score"))

  /** Top-k with rank (T1 order: score desc, docId desc). */
  private def topk(spark: SparkSession, sfDir: String, model: Model,
                   parser: QueryParser, q: String, k: Int): DataFrame = {
    val e = engine(spark, sfDir, model)
    e.search(q, k, parser)
      .select(col("docId").as("doc_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  val all: Seq[GateQuery] = Seq(

    // S1: leaf inverted-list scan — postings of one term with tf and dl.
    GateQuery("q_ir_scan_term",
      (s, d) => {
        val idx = IndexCache.documentsIndex(s, d)
        idx.postings("spark", "default")
          .select(col("docId").as("doc_id"), col("tf"), col("dl"))
      },
      Some(s"""${prelude()}
SELECT p.doc_id AS doc_id, p.tf AS tf, d.dl AS dl
FROM post p JOIN dlen d USING (doc_id) WHERE p.term = 'spark'""")),

    // J4+A1+T1: BM25 #SUM bag-of-words, top-20 ranked.
    GateQuery("q_ir_bm25_topk",
      (s, d) => topk(s, d, BM25(), bm25Parser, "spark join table", 20),
      Some(s"""${prelude()}
SELECT doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM (
    SELECT p.doc_id AS doc_id, sum(${bm25("p.tf", "d.dl", "t.df")}) AS scoreraw
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('spark', 'join', 'table')
    GROUP BY 1))
WHERE rank <= 20""")),

    // End-to-end through the PERSISTENT store: docmap → mini-segments →
    // VByte merge → ParquetIndex point lookups → BM25 top-20. Same oracle
    // shape as q_ir_bm25_topk; store docIds == table doc_ids by url
    // construction (StoreCache).
    GateQuery("q_ir_store_bm25",
      (s, d) => {
        val e = new Engine(StoreCache.documentsStore(s, d), BM25())
        e.search("key value table", 20, bm25Parser)
          .select(col("docId").as("doc_id"), col("rank"),
            round(col("score"), 6).as("score"))
      },
      Some(s"""${prelude()}
SELECT doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM (
    SELECT p.doc_id AS doc_id, sum(${bm25("p.tf", "d.dl", "t.df")}) AS scoreraw
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('key', 'value', 'table')
    GROUP BY 1))
WHERE rank <= 20""")),

    // End-to-end through a MERGED store (IndexStore.mergeStores): the
    // corpus split into two url-ordered half stores and compacted — byte
    // rebased B blobs, summed termstats, recomputed collstats — then
    // queried like any store. The full-corpus oracle applies unchanged
    // because the merged docId space equals a full build's.
    GateQuery("q_ir_merge_bm25",
      (s, d) => {
        val e = new Engine(MergedStoreCache.documentsStore(s, d), BM25())
        e.search("join stream group", 20, bm25Parser)
          .select(col("docId").as("doc_id"), col("rank"),
            round(col("score"), 6).as("score"))
      },
      Some(s"""${prelude()}
SELECT doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM (
    SELECT p.doc_id AS doc_id, sum(${bm25("p.tf", "d.dl", "t.df")}) AS scoreraw
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('join', 'stream', 'group')
    GROUP BY 1))
WHERE rank <= 20""")),

    // End-to-end through a store with DELETED documents
    // (IndexStore.deleteDocs): every doc_id % 7 == 3 url removed from the
    // full store — range-pruned blob rewrite, recomputed term/coll stats.
    // Survivor docIds stay stable, so the oracle is the same BM25 SQL with
    // the delete predicate pushed onto the documents table (df, cf, N,
    // avgdl all shrink to the remaining corpus on both sides).
    GateQuery("q_ir_delete_bm25",
      (s, d) => {
        val e = new Engine(DeletedStoreCache.documentsStore(s, d), BM25())
        e.search("scan hash part", 20, bm25Parser)
          .select(col("docId").as("doc_id"), col("rank"),
            round(col("score"), 6).as("score"))
      },
      Some(s"""${prelude(where = "WHERE NOT (doc_id % 7 = 3)")}
SELECT doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM (
    SELECT p.doc_id AS doc_id, sum(${bm25("p.tf", "d.dl", "t.df")}) AS scoreraw
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('scan', 'hash', 'part')
    GROUP BY 1))
WHERE rank <= 20""")),

    // trec_eval over an engine-produced run: BM25 top-50 for three
    // single-term queries, judged set = docs containing the term
    // (relevant iff tf >= 2) — fully deterministic from the documents
    // table on both sides. Pins the evaluation half of the reference's
    // workflow (its committed .res.txt results are trec_eval outputs):
    // map, R-prec, bpref, recip_rank, interpolated precision, P@k.
    GateQuery("q_ir_trec_eval",
      (s, d) => {
        val idx = IndexCache.documentsIndex(s, d)
        val e = new Engine(idx, BM25())
        val terms = Seq("spark", "join", "table")
        val run = terms.map { t =>
          e.search(t, 50, bm25Parser)
            .select(lit(t).as("qid"), col("docId").as("doc_id"),
              col("rank"), col("score"))
        }.reduce(_ union _)
        val qrels = idx.postings(terms.map(_ -> "default"))
          .select(col("term").as("qid"), col("docId").as("doc_id"),
            (col("tf") >= 2).cast("int").as("rel"))
        graft.ops.TrecEval.evaluate(run, qrels)
          .select(col("qid"), col("num_ret"), col("num_rel"),
            col("num_rel_ret"),
            round(col("map"), 6).as("map"),
            round(col("r_prec"), 6).as("r_prec"),
            round(col("bpref"), 6).as("bpref"),
            round(col("recip_rank"), 6).as("recip_rank"),
            round(col("p5"), 6).as("p5"),
            round(col("p10"), 6).as("p10"),
            round(col("p100"), 6).as("p100"),
            round(col("ircl_prn_000"), 6).as("ircl_prn_000"),
            round(col("ircl_prn_050"), 6).as("ircl_prn_050"),
            round(col("ircl_prn_100"), 6).as("ircl_prn_100"))
      },
      Some(s"""${prelude()}
, runq AS (
  SELECT qid, doc_id, rank FROM (
    SELECT p.term AS qid, p.doc_id,
           row_number() OVER (PARTITION BY p.term
             ORDER BY ${bm25("p.tf", "d.dl", "t.df")} DESC, p.doc_id DESC) AS rank
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('spark', 'join', 'table'))
  WHERE rank <= 50),
qrels AS (
  SELECT term AS qid, doc_id, CASE WHEN tf >= 2 THEN 1 ELSE 0 END AS rel
  FROM post WHERE term IN ('spark', 'join', 'table')),
totals AS (
  SELECT qid, sum(rel)::BIGINT AS nrel, sum(1 - rel)::BIGINT AS nnj
  FROM qrels GROUP BY 1),
jq AS (
  SELECT r.qid, r.rank, coalesce(q.rel, 0) AS rel,
         CASE WHEN q.rel IS NULL THEN 0 ELSE 1 END AS judged
  FROM runq r LEFT JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id),
rk AS (
  SELECT jq.*, t.nrel, t.nnj,
         sum(rel) OVER w AS cum_rel,
         sum(judged * (1 - rel)) OVER w AS cum_nj
  FROM jq JOIN totals t USING (qid)
  WINDOW w AS (PARTITION BY jq.qid ORDER BY rank)),
met AS (
  SELECT qid,
    count(*)::BIGINT AS num_ret,
    any_value(nrel) AS num_rel,
    sum(rel)::BIGINT AS num_rel_ret,
    CASE WHEN any_value(nrel) > 0 THEN
      coalesce(sum(CASE WHEN rel = 1 THEN cum_rel::DOUBLE / rank END), 0)
        / any_value(nrel) ELSE 0 END AS map,
    CASE WHEN any_value(nrel) > 0 THEN
      sum(CASE WHEN rank <= nrel THEN rel ELSE 0 END)::DOUBLE
        / any_value(nrel) ELSE 0 END AS r_prec,
    CASE WHEN any_value(nrel) > 0 THEN
      coalesce(sum(CASE WHEN rel = 1 THEN
        (CASE WHEN least(nrel, nnj) > 0 THEN
           1.0 - least(cum_nj, least(nrel, nnj))::DOUBLE / least(nrel, nnj)
         ELSE 1.0 END) END), 0) / any_value(nrel) ELSE 0 END AS bpref,
    coalesce(max(CASE WHEN rel = 1 THEN 1.0 / rank END), 0) AS recip_rank,
    sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END) / 5.0 AS p5,
    sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END) / 10.0 AS p10,
    sum(CASE WHEN rank <= 100 THEN rel ELSE 0 END) / 100.0 AS p100,
    coalesce(max(CASE WHEN nrel > 0 THEN cum_rel::DOUBLE / rank END), 0)
      AS iprn0,
    coalesce(max(CASE WHEN nrel > 0 AND cum_rel::DOUBLE / nrel >= 0.5
      THEN cum_rel::DOUBLE / rank END), 0) AS iprn50,
    coalesce(max(CASE WHEN nrel > 0 AND cum_rel::DOUBLE / nrel >= 1.0
      THEN cum_rel::DOUBLE / rank END), 0) AS iprn100
  FROM rk GROUP BY 1)
SELECT qid, num_ret, num_rel, num_rel_ret,
       round(map, 6) AS map, round(r_prec, 6) AS r_prec,
       round(bpref, 6) AS bpref, round(recip_rank, 6) AS recip_rank,
       round(p5, 6) AS p5, round(p10, 6) AS p10, round(p100, 6) AS p100,
       round(iprn0, 6) AS ircl_prn_000, round(iprn50, 6) AS ircl_prn_050,
       round(iprn100, 6) AS ircl_prn_100
FROM met""")),

    // Block-max WAND top-k over the persistent store — the pruning path
    // must be RANK-IDENTICAL to the exhaustive oracle (same BM25 SQL as
    // q_ir_store_bm25): the driver, not just WandSpec, witnesses that
    // skipping blocks by upper bound never changes the answer.
    GateQuery("q_ir_wand_bm25",
      (s, d) => {
        val idx = StoreCache.documentsStore(s, d)
        val top = graft.query.Wand.bm25TopK(s, idx,
          Seq("table", "spark", "plan"), "default", 20)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("docId").desc)
        top.withColumn("rank", row_number().over(w))
          .select(col("docId").as("doc_id"), col("rank"),
            round(col("score"), 6).as("score"))
      },
      Some(s"""${prelude()}
SELECT doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM (
    SELECT p.doc_id AS doc_id, sum(${bm25("p.tf", "d.dl", "t.df")}) AS scoreraw
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('table', 'spark', 'plan')
    GROUP BY 1))
WHERE rank <= 20""")),

    // End-to-end through the STREAMING store: 4 arrival-ordered
    // micro-batches (StreamingIndexer.processBatch — hwm docId allocation,
    // per-batch manifests) → seal → ParquetIndex → BM25 top-20. Streaming
    // docIds are arrival-order; batches ascend by doc_id and urls are
    // zero-padded doc_ids, so docIds == doc_ids (same trick as the batch
    // store gate) and the oracle shape is identical.
    GateQuery("q_ir_stream_bm25",
      (s, d) => {
        val e = new Engine(StreamStoreCache.documentsStore(s, d), BM25())
        e.search("query plan value", 20, bm25Parser)
          .select(col("docId").as("doc_id"), col("rank"),
            round(col("score"), 6).as("score"))
      },
      Some(s"""${prelude()}
SELECT doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM (
    SELECT p.doc_id AS doc_id, sum(${bm25("p.tf", "d.dl", "t.df")}) AS scoreraw
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('query', 'plan', 'value')
    GROUP BY 1))
WHERE rank <= 20""")),

    // F1: stopword pruning — stop leaves skipped at evaluation; oracle
    // simply never mentions them.
    GateQuery("q_ir_bm25_stopprune",
      (s, d) => eval(s, d, BM25(), bm25Parser, "the spark about join all table"),
      Some(s"""${prelude()}
SELECT p.doc_id AS doc_id, round(sum(${bm25("p.tf", "d.dl", "t.df")}), 6) AS score
FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
CROSS JOIN stats s
WHERE p.term IN ('spark', 'join', 'table')
GROUP BY 1""")),

    // J1+A3: Boolean ranked AND — docId intersection, min tf.
    GateQuery("q_ir_bool_and",
      (s, d) => eval(s, d, Bool(ranked = true), boolParser, "#and(key value)"),
      Some(s"""${prelude()}
SELECT doc_id, round(min(tf)::DOUBLE, 6) AS score
FROM post WHERE term IN ('key', 'value')
GROUP BY doc_id HAVING count(DISTINCT term) = 2""")),

    // J2+A3: Boolean ranked OR — docId union, max tf.
    GateQuery("q_ir_bool_or",
      (s, d) => eval(s, d, Bool(ranked = true), boolParser, "#or(key value)"),
      Some(s"""${prelude()}
SELECT doc_id, round(max(tf)::DOUBLE, 6) AS score
FROM post WHERE term IN ('key', 'value') GROUP BY doc_id""")),

    // A3 unranked + T1 unranked order (docId desc, score forced 1).
    GateQuery("q_ir_bool_unranked",
      (s, d) => topk(s, d, Bool(ranked = false), boolParser,
        "#and(key value)", 15),
      Some(s"""${prelude()}
SELECT doc_id, rank, score FROM (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id DESC) AS rank,
         1.0 AS score
  FROM (SELECT doc_id FROM post WHERE term IN ('key', 'value')
        GROUP BY doc_id HAVING count(DISTINCT term) = 2))
WHERE rank <= 15""")),

    // J4+A2: Indri #AND — union-with-defaults merge, Dirichlet/JM mix.
    GateQuery("q_ir_indri_and",
      (s, d) => eval(s, d, Indri(), indriParser, "query plan"),
      Some(s"""${prelude()}$wstats,
qt AS (SELECT term, df, cf FROM tstat WHERE term IN ('query', 'plan')),
cand AS (SELECT DISTINCT doc_id FROM post WHERE term IN ('query', 'plan'))
SELECT c.doc_id AS doc_id,
       round(sum(CASE WHEN p.tf IS NULL
                 THEN ${indri("0.0", "s.avgdl", "q.cf")}
                 ELSE ${indri("p.tf", "d.dl", "q.cf")} END), 6) AS score
FROM cand c CROSS JOIN qt q CROSS JOIN stats s CROSS JOIN wstats w
LEFT JOIN post p ON p.doc_id = c.doc_id AND p.term = q.term
JOIN dlen d ON d.doc_id = c.doc_id
GROUP BY 1""")),

    // J5+A2: Indri #WEIGHT with normalized weights.
    GateQuery("q_ir_indri_weight",
      (s, d) => eval(s, d, Indri(), indriParser, "#weight(0.7 query 0.3 plan)"),
      Some(s"""${prelude()}$wstats,
qt AS (SELECT term, df, cf, CASE term WHEN 'query' THEN 0.7 ELSE 0.3 END AS w
       FROM tstat WHERE term IN ('query', 'plan')),
cand AS (SELECT DISTINCT doc_id FROM post WHERE term IN ('query', 'plan'))
SELECT c.doc_id AS doc_id,
       round(sum(q.w * CASE WHEN p.tf IS NULL
                 THEN ${indri("0.0", "s.avgdl", "q.cf")}
                 ELSE ${indri("p.tf", "d.dl", "q.cf")} END), 6) AS score
FROM cand c CROSS JOIN qt q CROSS JOIN stats s CROSS JOIN wstats w
LEFT JOIN post p ON p.doc_id = c.doc_id AND p.term = q.term
JOIN dlen d ON d.doc_id = c.doc_id
GROUP BY 1""")),

    // RM3 pseudo-relevance feedback (graft.query.Feedback), end-to-end:
    // pass 1 Indri #AND top-5 feedback docs → expansion = 5 most frequent
    // non-stop non-query terms of those docs (integer counts, term-asc
    // ties) → expanded #WEIGHT(0.6/3 per original, 0.4/5 per expansion)
    // → Indri top-20. The oracle replays every stage relationally; the
    // interpolation weights are written as the SAME two IEEE ops the
    // Scala side computes ((0.6/3), ((1.0-0.6)/5)).
    GateQuery("q_ir_rm3", {
      (s, d) =>
        val e = engine(s, d, Indri())
        val docsDf = s.read.parquet(s"$d/documents.parquet")
        Feedback.rm3Search(e, indriParser, docsDf, "spark join table", 20,
          fbDocs = 5, fbTerms = 5, alpha = 0.6)
          .select(col("docId").as("doc_id"), col("rank"),
            round(col("score"), 6).as("score"))
    }, {
      // SQL-escape: the reference stoplist contains "doesn't" (which no
      // [a-z0-9]+ token can ever equal, but the two engines' exclusion
      // lists must stay literally identical)
      val stopIn = graft.analysis.Tokenizer.stopwords.toSeq.sorted
        .map(w => s"'${w.replace("'", "''")}'").mkString(", ")
      Some(s"""${prelude()}$wstats,
oqs AS (SELECT term, cf FROM tstat WHERE term IN ('spark', 'join', 'table')),
cand1 AS (SELECT DISTINCT doc_id FROM post
          WHERE term IN ('spark', 'join', 'table')),
s1 AS (
  SELECT c.doc_id, sum(CASE WHEN p.tf IS NULL
           THEN ${indri("0.0", "s.avgdl", "q.cf")}
           ELSE ${indri("p.tf", "d.dl", "q.cf")} END) AS sc
  FROM cand1 c CROSS JOIN oqs q CROSS JOIN stats s CROSS JOIN wstats w
  LEFT JOIN post p ON p.doc_id = c.doc_id AND p.term = q.term
  JOIN dlen d ON d.doc_id = c.doc_id
  GROUP BY 1),
fb AS (SELECT doc_id FROM s1 ORDER BY sc DESC, doc_id DESC LIMIT 5),
expt AS (
  SELECT p.term FROM post p JOIN fb USING (doc_id)
  WHERE p.term NOT IN ('spark', 'join', 'table')
    AND p.term NOT IN ($stopIn)
  GROUP BY p.term ORDER BY sum(p.tf) DESC, p.term ASC LIMIT 5),
qt AS (
  SELECT term, cf, (0.6::DOUBLE / 3) AS w FROM tstat
  WHERE term IN ('spark', 'join', 'table')
  UNION ALL
  SELECT t.term, t.cf, ((1.0::DOUBLE - 0.6::DOUBLE) / 5) AS w
  FROM expt e JOIN tstat t ON t.term = e.term),
cand AS (SELECT DISTINCT p.doc_id FROM post p JOIN qt q ON p.term = q.term),
sc AS (
  SELECT c.doc_id, sum(q.w * CASE WHEN p.tf IS NULL
           THEN ${indri("0.0", "s.avgdl", "q.cf")}
           ELSE ${indri("p.tf", "d.dl", "q.cf")} END) AS scoreraw
  FROM cand c CROSS JOIN qt q CROSS JOIN stats s CROSS JOIN wstats w
  LEFT JOIN post p ON p.doc_id = c.doc_id AND p.term = q.term
  JOIN dlen d ON d.doc_id = c.doc_id
  GROUP BY 1)
SELECT doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM sc)
WHERE rank <= 20""")
    }),

    // F2: field restriction — BM25 over the title field (df/cf from the
    // title index; N/avgdl stay the default-field collection stats, as in
    // the reference's config-injected scorer constants).
    GateQuery("q_ir_field_title",
      (s, d) => eval(s, d, BM25(), bm25Parser, "key+title value+title"),
      Some(s"""${prelude("title")}
SELECT p.doc_id AS doc_id, round(sum(${bm25("p.tf", "d.dl", "t.df")}), 6) AS score
FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
CROSS JOIN stats s
WHERE p.term IN ('key', 'value')
GROUP BY 1""")),

    // J6: #NEAR/2 positional ordered window. The greedy advance-both kernel
    // is sequential per doc — the oracle runs it as a recursive CTE.
    GateQuery("q_ir_near",
      (s, d) => lowerQ(s, d, BM25(), bm25Parser, "#near/2(key value)")
        .select(col("docId").as("doc_id"), col("tf"),
          round(col("score"), 6).as("score")),
      Some(PositionalSql.nearOracle("key", "value", 2))),

    // J7: #UW/4 unordered window (recursive-CTE oracle, 3 lists).
    GateQuery("q_ir_uw",
      (s, d) => lowerQ(s, d, Indri(), indriParser, "#uw/4(key value table)")
        .select(col("docId").as("doc_id"), col("tf"),
          round(col("score"), 6).as("score")),
      Some(PositionalSql.uwOracle("key", "value", "table", 4))),

    // S2+S4+U2: the multi-query runner path (qid:query lines → per-query
    // ranked top-k, TREC row shape) end-to-end through Engine.searchAll's
    // machinery. Oracle = per-query rank CTEs, unioned.
    GateQuery("q_ir_multi_query",
      (s, d) => {
        val e = engine(s, d, BM25())
        val queries = Seq("1" -> "spark join", "2" -> "key value",
          "3" -> "the about all") // q3 is all-stopwords → zero rows
        // parallelism overlaps the three queries' scheduling latencies
        // (searchAll keeps result order; rows are per-query deterministic)
        val rows = e.searchAll(queries, 10, bm25Parser, "gate",
          parallelism = queries.length)
        import s.implicits._
        // round through the same `round(col, 6)` every other gate uses
        // (half-up like DuckDB — math.rint would be half-even)
        rows.map(r => (r.queryId, r.docId, r.rank, r.score))
          .toDF("qid", "doc_id", "rank", "score")
          .withColumn("score", round(col("score"), 6))
      },
      Some {
        def one(qid: String, terms: Seq[String]) = {
          val inlist = terms.map(t => s"'$t'").mkString(", ")
          s"""SELECT '$qid' AS qid, doc_id, rank, score FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY scoreraw DESC, doc_id DESC) AS rank,
         round(scoreraw, 6) AS score
  FROM (
    SELECT p.doc_id AS doc_id, sum(${bm25("p.tf", "d.dl", "t.df")}) AS scoreraw
    FROM post p JOIN dlen d USING (doc_id) JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ($inlist)
    GROUP BY 1))
WHERE rank <= 10"""
        }
        s"""${prelude()}
${one("1", Seq("spark", "join"))}
UNION ALL
${one("2", Seq("key", "value"))}"""
      }),

    // SDM-shaped nested query (WEIGHT over AND/NEAR/UW).
    GateQuery("q_ir_sdm",
      (s, d) => lowerQ(s, d, Indri(), indriParser,
        SdmGen.expand("key value", nearK = 1, uwK = 8))
        .select(col("docId").as("doc_id"),
          round(col("score"), 6).as("score")),
      Some(PositionalSql.sdmOracle("key", "value")))
  )
}
