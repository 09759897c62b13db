package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal
import graft.index.SearchIndex
import graft.query.expressions.{DoubleParam, QueryExpressions}

/** Query evaluation: lowers the parsed AST to declarative DataFrame plans.
  *
  * Mapping from the reference's iterator merges (all sorted-by-docId
  * single-threaded list merges) to Spark relational ops — semantics proven
  * equivalent in the test oracle suite:
  *
  *  - leaf scan  → postings point-lookup + score column (codegen arithmetic;
  *    per-query doubles enter as DoubleParams, so queries of one shape
  *    share their generated classes)
  *  - Boolean AND (min score, intersection;
  *    yairs/retrieval/BooleanRetriever.scala:150-188) →
  *    union + groupBy(docId) + min(score) having count == nChildren
  *  - Boolean OR (max score, union; BooleanRetriever.scala:84-142) →
  *    union + groupBy(docId) + max(score)
  *  - BM25/Indri AND/SUM/WEIGHT (k-way union-with-defaults merge,
  *    yairs/retrieval/MultimergeSturcturedRetriever.scala:31-87):
  *    score(doc) = Σ_present wᵢ·sᵢ + Σ_absent wᵢ·dᵢ
  *               = Σ_present wᵢ·(sᵢ − dᵢ) + Σ_all wᵢ·dᵢ (constant),
  *    lowered exactly as union → groupBy(docId) → sum(contrib) + lit(C).
  *    No outer join needed; one shuffle for any fan-in.
  *  - #NEAR/k → left-fold of inner joins on docId + nearMatches kernel,
  *    then a two-pass virtual-term rescore (cf/df aggregated first), like
  *    StructuredRetriever.scala:123-171.
  *  - #UW/k → single groupBy(docId) gathering all children (count == n
  *    enforces the all-lists requirement of
  *    MultimergeSturcturedRetriever.scala:117), uwMatches kernel, two-pass
  *    rescore.
  *
  * Every lowered node carries its defaultScore (driver-side Double) — the
  * absent-term correction of the k-way merge.
  */
class Engine(val index: SearchIndex, val model: Model,
             val defaultField: String = "default") extends Serializable {

  val scorer = new Scorer(model, index.collStats)

  /** DataFrames persisted by positional rescoring (rescoreVirtual), pending
    * release. Persisting spans two passes (stats collect, then consumption);
    * callers that materialize results (searchAll, QueryMain) call
    * releaseCaches() afterwards so a long run over many positional queries
    * does not accumulate cache entries (one entry per NEAR/UW node
    * otherwise lives for the session).
    */
  @transient private val pinned =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every DataFrame pinned by positional evaluation since the
    * last release. Safe while downstream plans are still referenced — they
    * recompute instead of reading cache.
    */
  def releaseCaches(): Unit = {
    var df = pinned.poll()
    while (df != null) { df.unpersist(blocking = false); df = pinned.poll() }
  }

  private val postingsSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("dl", IntegerType, nullable = false),
    StructField("positions", ArrayType(IntegerType, containsNull = false))))

  /** A lowered query node: scored postings + the node's default score
    * (what an absent doc would contribute under a weighted merge).
    */
  case class Lowered(df: DataFrame, default: Double)

  private def spark: SparkSession =
    SparkSession.active

  private def emptyLowered: Lowered =
    Lowered(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], postingsSchema), 0.0)

  // ---------------------------------------------------------------- leaves

  private def lowerLeaf(leaf: QLeaf): Lowered = {
    val (df0, cf0) = index.termStat(leaf.term, leaf.field)
    if (df0 == 0L)
      return emptyLowered // missing list: empty, defaultScore 0
                          // (InvertedList.scala:107-110,156-159)
    val p = index.postings(leaf.term, leaf.field)
    val scored = p.select(
      col("docId"),
      scorer.leafScoreCol(cf0, df0, col("tf"), col("dl")).as("score"),
      col("tf"), col("dl"), col("positions"))
    Lowered(scored, scorer.defaultScore(cf0, df0))
  }

  // ------------------------------------------------------- merge operators

  /** Merged postings carry tf = dl = -1 and no positions, like the
    * reference's Posting(docId, score) (yairs/model/Posting.scala:14-16):
    * a positional operator over a merged child silently matches nothing.
    */
  private def opaque(df: DataFrame): DataFrame = df.select(
    col("docId"), col("score"), lit(-1).as("tf"), lit(-1).as("dl"),
    array().cast(ArrayType(IntegerType, containsNull = false)).as("positions"))

  private def boolAnd(children: Seq[Lowered]): Lowered = {
    if (children.length == 1) return children.head
    val n = children.length
    val merged = children.map(_.df.select("docId", "score")).reduce(_ union _)
      .groupBy("docId")
      .agg(min("score").as("score"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === n).drop("cnt")
    Lowered(opaque(merged), 0.0)
  }

  private def boolOr(children: Seq[Lowered]): Lowered = {
    if (children.length == 1) return children.head
    val merged = children.map(_.df.select("docId", "score")).reduce(_ union _)
      .groupBy("docId").agg(max("score").as("score"))
    Lowered(opaque(merged), 0.0)
  }

  /** k-way union-with-defaults merge (BM25/Indri AND, SUM, WEIGHT).
    *
    * Fast path (all defaults finite — every normal configuration):
    * score(doc) = Σ_present wᵢ(sᵢ − dᵢ) + Σ_all wᵢdᵢ — a plain
    * sum-aggregate with map-side partial combine.
    *
    * Exact path (any non-finite default — e.g. k1 = 0 makes the BM25
    * absent-term default 0/0 = NaN, a configuration the reference's sweep
    * runs actually exercise): the algebraic identity would poison present
    * docs with NaN, so instead gather per-child scores and replay the
    * reference's child-order summation per doc
    * (MultimergeSturcturedRetriever.scala:53-71) — absent children
    * contribute wᵢdᵢ, present ones wᵢsᵢ, NaN stays confined to the docs
    * the reference gives NaN to.
    */
  private def weightedMerge(children: Seq[Lowered],
                            weights: Seq[Double]): Lowered = {
    val combined = children.zip(weights).map { case (c, w) => c.default * w }.sum
    val allFinite = children.forall(c => java.lang.Double.isFinite(c.default))

    val merged = if (allFinite) {
      val parts = children.zip(weights).map { case (c, w) =>
        c.df.select(col("docId"),
          ((col("score") - DoubleParam.column(c.default)) * DoubleParam.column(w))
            .as("contrib"))
      }
      parts.reduce(_ union _)
        .groupBy("docId")
        .agg((sum("contrib") + DoubleParam.column(combined)).as("score"))
    } else {
      val ws = weights.toArray
      val ds = children.map(_.default).toArray
      val mergeUdf = udf { (cs: Seq[Row]) =>
        val present = new Array[Double](ws.length)
        val has = new Array[Boolean](ws.length)
        cs.foreach { r =>
          val i = r.getInt(0)
          present(i) = r.getDouble(1)
          has(i) = true
        }
        var total = 0.0
        var i = 0
        while (i < ws.length) {
          total += (if (has(i)) present(i) * ws(i) else ds(i) * ws(i))
          i += 1
        }
        total
      }
      val parts = children.zipWithIndex.map { case (c, i) =>
        c.df.select(col("docId"), lit(i).as("cidx"), col("score"))
      }
      parts.reduce(_ union _)
        .groupBy("docId")
        .agg(collect_list(struct(col("cidx"), col("score"))).as("cs"))
        .select(col("docId"), mergeUdf(col("cs")).as("score"))
    }
    Lowered(opaque(merged), combined)
  }

  /** Two-pass virtual-term construction shared by NEAR and UW: aggregate
    * the virtual cf/df over the matched postings, then score every posting
    * with the term scorer (reference does the same second pass:
    * StructuredRetriever.scala:165-168,
    * MultimergeSturcturedRetriever.scala:154-164).
    */
  private def rescoreVirtual(matched: DataFrame, uwEmptyRule: Boolean): Lowered = {
    val m = matched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val statsRow = m.agg(
      coalesce(sum("tf"), lit(0L)).cast("long").as("cf"),
      count(lit(1)).as("df")).collect()(0)
    val cfV = statsRow.getLong(0)
    val dfV = statsRow.getLong(1)
    if (uwEmptyRule && cfV == 0L) {
      // UW with zero matches returns the empty list with default 0
      // (MultimergeSturcturedRetriever.scala:161-162), NOT the scored
      // default — for Indri those differ (scorer(0,0,0,avgdl) = MIN_VALUE).
      m.unpersist()
      return emptyLowered
    }
    pinned.add(m)
    val scored = m.select(
      col("docId"),
      scorer.termScoreCol(cfV, dfV, col("tf"), col("dl")).as("score"),
      col("tf"), col("dl"), col("positions"))
    Lowered(scored, scorer.defaultScore(cfV, dfV))
  }

  private def near(children: Seq[Lowered], k: Int): Lowered = {
    if (children.length == 1) return children.head // fold pass-through
                                                   // (StructuredRetriever.scala:58-67)
    val matched = children.reduceLeft { (l, r) =>
      val left = l.df.select(col("docId"), col("dl"),
        col("positions").as("pos1"))
      val right = r.df.select(col("docId"), col("positions").as("pos2"))
      val joined = left.join(right, Seq("docId"), "inner")
        .withColumn("mpos", expr(s"near_matches(pos1, pos2, $k)"))
        .filter(size(col("mpos")) > 0)
        // tf = #matches; dl kept from the LEFT posting; positions = matched
        // right-hand positions (StructuredRetriever.scala:139-147)
        .select(col("docId"), lit(0.0).as("score"),
          size(col("mpos")).as("tf"), col("dl"), col("mpos").as("positions"))
      Lowered(joined, 0.0)
    }.df
    rescoreVirtual(matched, uwEmptyRule = false)
  }

  private def uw(children: Seq[Lowered], k: Int): Lowered = {
    val n = children.length
    val parts = children.zipWithIndex.map { case (c, i) =>
      c.df.select(col("docId"), lit(i).as("cidx"), col("dl"), col("positions"))
    }
    val gathered = parts.reduce(_ union _)
      .groupBy("docId")
      .agg(count(lit(1)).as("cnt"),
        sort_array(collect_list(struct(col("cidx"), col("dl"),
          col("positions")))).as("lists"))
      .filter(col("cnt") === n) // doc must appear in ALL lists
                                // (MultimergeSturcturedRetriever.scala:117)
    val matched = gathered.select(
      col("docId"),
      expr(s"uw_matches(transform(lists, x -> x.positions), $k)").as("tf"),
      // dl of the FIRST child's posting
      // (MultimergeSturcturedRetriever.scala:141)
      expr("lists[0].dl").as("dl"))
      .filter(col("tf") > 0)
      .select(col("docId"), lit(0.0).as("score"), col("tf"), col("dl"),
        array().cast(ArrayType(IntegerType, containsNull = false)).as("positions"))
    rescoreVirtual(matched, uwEmptyRule = true)
  }

  // ------------------------------------------------------------- recursion

  /** Lower with per-query leaf memoization: an SDM-shaped query references
    * each term several times (unigram + NEAR + UW branches); without the
    * memo every reference is its own postings scan + stat lookup (the
    * reference re-reads each `.inv` file per reference — SURVEY §4). A leaf
    * referenced more than once is persisted so the scan runs once.
    */
  def lower(node: QNode): Lowered = {
    QueryExpressions.prepare(spark)
    val counts = collectLeaves(node).groupBy(identity).view.mapValues(_.size)
    val memo = scala.collection.mutable.HashMap.empty[(String, String), Lowered]
    def rec(n: QNode): Lowered = n match {
      case l: QLeaf =>
        memo.getOrElseUpdate((l.term, l.field), {
          val lw = lowerLeaf(l)
          if (counts.getOrElse((l.term, l.field), 1) > 1) {
            val p = lw.df.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            pinned.add(p)
            Lowered(p, lw.default)
          } else lw
        })
      case inner: QInner => lowerInner(inner, rec)
    }
    rec(node)
  }

  private def lowerInner(node: QInner, rec: QNode => Lowered): Lowered = {
    val op = node.op
    val prox = node.prox
    val weights = node.weights
    // stop-leaf children pruned at evaluation, not parse
    // (StructuredRetriever.scala:29-33)
    val kept = node.children.filterNot(_.isStopLeaf)
    if (kept.isEmpty) emptyLowered
    else {
      val lowered = kept.map(rec)
      op match {
        case QOp.OR => model match {
          case Bool(_) => boolOr(lowered)
          case _ => throw new UnsupportedOperationException(
            s"$model does not support OR") // MultimergeSturctured…:250-252
        }
        case QOp.AND | QOp.SUM => model match {
          case Bool(_) => boolAnd(lowered)
          case _       => weightedMerge(lowered, List.fill(lowered.length)(1.0))
        }
        case QOp.WEIGHT => model match {
          case Indri(_, _, _) =>
            // Fidelity quirk: the reference prunes stop children but zips
            // the UNPRUNED weights list against the pruned lists (zip
            // truncates, MultimergeSturcturedRetriever.scala:40-44), so
            // after a stop child is dropped the remaining lists take the
            // FIRST n weights positionally — not their own. Reproduced.
            weightedMerge(lowered, weights.take(lowered.length))
          case _ => throw new UnsupportedOperationException(
            s"$model does not support WEIGHT") // BM25Retriever.scala:65-67
        }
        case QOp.NEAR => near(lowered, prox)
        case QOp.UW => model match {
          case Bool(_) => throw new UnsupportedOperationException(
            "Boolean does not support UW") // BooleanRetriever.scala:205-210
          case _ => uw(lowered, prox)
        }
      }
    }
  }

  /** All (term, field) leaves of a query tree in order (stop leaves
    * included — they are pruned at evaluation, prefetching their stats is
    * harmless).
    */
  def collectLeaves(node: QNode): List[(String, String)] = node match {
    case QLeaf(t, f, _)        => List((t, f))
    case QInner(_, _, kids, _) => kids.flatMap(collectLeaves)
  }

  // ------------------------------------------------------------ entry points

  /** Rank the evaluated postings: score desc, ties docId desc when ranked;
    * docId desc with score forced to 1 when unranked (reference total order:
    * yairs/retrieval/Retriever.scala:28-49 — stable sort by -score after
    * sort by -docId). numResults < 0 means all (RetrieverRunner.scala:71).
    */
  def search(queryStr: String, numResults: Int,
             parser: QueryParser): DataFrame =
    searchNode(parser.parse(queryStr), numResults)

  /** [[search]] over an already-built AST — the entry point for callers
    * that construct query trees programmatically (e.g. [[Feedback]]'s
    * expanded #WEIGHT node, whose weights must not round-trip through a
    * query string).
    */
  def searchNode(root: QNode, numResults: Int): DataFrame = {
    val ranked = model match { case Bool(r) => r; case _ => true }
    index.prefetchStats(collectLeaves(root))
    val lowered = lower(root)
    val base = lowered.df.select(col("docId"),
      (if (ranked) col("score") else lit(1.0)).as("score"))
    // NaN placement: Spark sorts NaN as GREATEST (NaN-first under desc);
    // the reference's Scala sort puts NaN last (java.lang.Double.compare).
    // The isnan key restores reference order; no-op for finite scores.
    val ordered =
      if (ranked) base.orderBy(isnan(col("score")).asc, col("score").desc,
        col("docId").desc)
      else base.orderBy(col("docId").desc)
    val top = if (numResults >= 0) ordered.limit(numResults) else ordered
    // rank over the (small) top-k — single partition is fine post-limit
    top.withColumn("rank", row_number().over(
      if (ranked) Window.orderBy(isnan(col("score")).asc, col("score").desc,
        col("docId").desc)
      else Window.orderBy(col("docId").desc)))
  }

  /** TREC run rows for a set of (qid, query) pairs.
    *
    * With parallelism > 1 the per-query Spark jobs are submitted
    * concurrently from a small driver pool — each query's work is tiny
    * relative to job-scheduling latency, so a batch run (the reference's
    * headline metric is the 30-query total wall) overlaps those
    * latencies. Results keep query order; caches pinned by positional
    * rescoring release at batch end (releasing per query could evict
    * another in-flight query's cache mid-run).
    */
  def searchAll(queries: Seq[(String, String)], numResults: Int,
                parser: QueryParser, runId: String,
                parallelism: Int = 1): Seq[graft.model.TrecResult] = {
    // one pruned stats scan resolves every (term, field) of the whole
    // batch up front — each per-query search() then finds the stat cache
    // warm and schedules no stats job (30 queries = 30 fewer tiny jobs;
    // at cluster scale those are pure scheduler round-trips). A query
    // that fails to PARSE is skipped here so the error surfaces inside
    // its own named query, not as a batch-wide prefetch failure.
    index.prefetchStats(queries.flatMap { case (_, q) =>
      try collectLeaves(parser.parse(q))
      catch { case NonFatal(_) => Nil } })
    def rowsOf(qid: String, q: String): Seq[graft.model.TrecResult] =
      search(q, numResults, parser).collect().toSeq.map { r =>
        graft.model.TrecResult(qid, r.getAs[Long]("docId"),
          r.getAs[Int]("rank"), r.getAs[Double]("score"), runId)
      }
    if (parallelism <= 1)
      queries.flatMap { case (qid, q) =>
        try rowsOf(qid, q)
        finally releaseCaches() // positional rescoring pins caches per query
      }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      var wedged = false
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futs = queries.map { case (qid, q) =>
          qid -> scala.concurrent.Future(rowsOf(qid, q))
        }
        // bounded wait: a wedged executor pool must surface as an error
        // naming the stuck query, not hang the driver forever
        futs.flatMap { case (qid, f) =>
          try scala.concurrent.Await.result(f, perQueryTimeout)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              wedged = true
              throw new RuntimeException(
                s"query '$qid' exceeded $perQueryTimeout — executor pool wedged?")
          }
        }
      } finally {
        if (wedged) pool.shutdownNow() else pool.shutdown()
        // on ANY exit — completed, failed, or timed out — the finished
        // queries' pinned positional caches must not outlive the batch
        releaseCaches()
      }
    }
  }

  /** Upper bound on one query's wall inside [[searchAll]]'s parallel path —
    * generous (a cold 100 TB-scale query legitimately runs minutes), but
    * finite, so an executor-pool hang fails loudly instead of blocking
    * `Await` forever. Override via `graft.query.timeout.sec` when a
    * deployment's worst-case query is slower.
    */
  private def perQueryTimeout: scala.concurrent.duration.Duration =
    scala.concurrent.duration.Duration(
      sys.props.getOrElse("graft.query.timeout.sec", "3600").toLong,
      java.util.concurrent.TimeUnit.SECONDS)
}
