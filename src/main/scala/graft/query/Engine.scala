package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal
import graft.index.SearchIndex
import graft.query.expressions.DoubleParam

/** Query evaluation: lowers the parsed AST to declarative DataFrame plans.
  *
  * Mapping from the reference's iterator merges (all sorted-by-docId
  * single-threaded list merges) to Spark relational ops — semantics proven
  * equivalent in the test oracle suite:
  *
  *  - leaves → one postings scan per node for all of its leaf children
  *    (the reference merges a node's lists in one pass too), each row
  *    tagged with its child index and scored by a codegen'd column; the
  *    per-query doubles reach generated code through `references` (a
  *    literal lookup table, DoubleParams), so queries of one shape share
  *    their generated classes whatever their terms, weights or width
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
  *    then a virtual-term rescore, like StructuredRetriever.scala:123-171:
  *    the matches' cf/df aggregate to one row inside the query's own plan,
  *    which is broadcast and joined back to score every match.
  *  - #UW/k → single groupBy(docId) gathering all children (count == n
  *    enforces the all-lists requirement of
  *    MultimergeSturcturedRetriever.scala:117), uwMatches kernel, the same
  *    rescore.
  *
  * Every lowered node carries its defaultScore — the absent-term
  * correction of the k-way merge: a driver-side Double for leaves and
  * merges over them, a column of that stats row for a #NEAR/#UW node and
  * merges over one. Lowering submits no Spark job and caches nothing.
  */
class Engine(val index: SearchIndex, val model: Model,
             val defaultField: String = "default") extends Serializable {

  val scorer = new Scorer(model, index.collStats)

  /** Does nothing: lowering caches no frame, so a query leaves nothing to
    * release. Kept for callers written against the earlier API.
    */
  def releaseCaches(): Unit = ()

  private val postingsSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("dl", IntegerType, nullable = false),
    StructField("positions", ArrayType(IntegerType, containsNull = false))))

  private val postingCols = postingsSchema.fieldNames.toSeq.map(col)

  /** A lowered query node: scored postings + the node's default score
    * (what an absent doc would contribute under a weighted merge).
    */
  case class Lowered(df: DataFrame, default: Default)

  /** A node's default score; `finite` decides a weighted merge's path. */
  sealed trait Default { def finite: Boolean }

  /** A default known on the driver: a leaf's, or a merge's over leaves. */
  case class Known(value: Double) extends Default {
    def finite: Boolean = java.lang.Double.isFinite(value)
  }

  /** A default the query's own plan computes: element 0 of the array
    * column `t` of `row`, a one-row frame (a #NEAR/#UW node's virtual-term
    * stats, or a merge's over such a node). One opaque array, not a struct
    * whose fields the optimizer would prune apart per consumer, so every
    * join of `row` plans the same broadcast and Spark runs it once.
    * `finite` holds for every value the row can take
    * ([[Scorer.defaultsFinite]]), so no job runs to learn it.
    */
  case class Planned(row: DataFrame, finite: Boolean) extends Default

  /** A node's children as one frame of merge input: rows tagged with the
    * child index `cidx` that carry the child's absent-term default `d` and
    * weight `w` ([[childrenSchema]]); `defaults` lists every child's
    * default in child order.
    */
  private case class Children(rows: DataFrame, defaults: Seq[Default])

  private val childrenSchema = StructType(
    postingsSchema.fields.take(1) ++
    Seq(StructField("cidx", IntegerType, nullable = false)) ++
    postingsSchema.fields.tail ++
    Seq(StructField("d", DoubleType, nullable = false),
      StructField("w", DoubleType, nullable = false)))

  private def spark: SparkSession =
    SparkSession.active

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def emptyLowered: Lowered = Lowered(emptyOf(postingsSchema), Known(0.0))

  // ---------------------------------------------------------------- leaves

  /** The leaf children (leaf, cidx, weight) of one node from ONE postings
    * scan: each posting row is matched to its children through a literal
    * table keyed on (term, field) — exploded, so a leaf listed twice yields
    * its rows twice — which also carries each child's doubles (score
    * parameters, default, weight). A literal table reaches generated code
    * through `references`, so the plan's generated classes do not depend
    * on the group's terms, values or size. Returns the rows (none when no
    * leaf has a list) and each leaf's default: a missing list is empty
    * with defaultScore 0 (InvertedList.scala:107-110,156-159).
    */
  private def leafGroup(leaves: Seq[(QLeaf, Int, Double)]): (Option[DataFrame], Seq[Double]) = {
    val stats = leaves.map { case (l, _, _) => index.termStat(l.term, l.field) }
    val defaults = stats.map { case (df, cf) =>
      if (df == 0L) 0.0 else scorer.defaultScore(cf, df) }
    val table = leaves.zip(stats).zip(defaults).collect {
      case (((l, i, w), (df, cf)), d) if df > 0L =>
        val (p1, p2) = scorer.termParams(cf, df)
        LeafKey(l.term, l.field) -> LeafParams(i, p1, p2, d, w)
    }.groupMap(_._1)(_._2)
    if (table.isEmpty) return (None, defaults)
    val rows = index.postings(table.keys.toSeq.map(k => k.term -> k.field))
      .select(col("docId"), col("tf"), col("dl"), col("positions"),
        inline(element_at(typedLit(table), struct(col("term"), col("field")))))
      .select(col("docId"), col("cidx"),
        scorer.leafScoreCol((col("p1"), col("p2")), col("tf"), col("dl")).as("score"),
        col("tf"), col("dl"), col("positions"), col("d"), col("w"))
    (Some(rows), defaults)
  }

  /** Lower `kids` (stop leaves already pruned) as merge input: the leaves
    * as one [[leafGroup]], each inner child lowered and tagged lit(cidx),
    * its default a parameter if Known, else read from its broadcast row.
    */
  private def children(kids: Seq[QNode], weights: Seq[Double]): Children = {
    val leaves = kids.zipWithIndex.collect { case (l: QLeaf, i) => (l, i, weights(i)) }
    val (leafRows, leafDefaults) = leafGroup(leaves)
    val inner = kids.zipWithIndex.collect { case (n: QInner, i) => i -> lowerInner(n) }
    val parts = leafRows.toSeq ++ inner.map { case (i, lw) =>
      val (rows, d) = lw.default match {
        case Known(v)        => (lw.df, DoubleParam.column(v))
        case Planned(row, _) => (lw.df.crossJoin(broadcast(row)), col("t")(0))
      }
      rows.select(col("docId"), lit(i).as("cidx"), col("score"), col("tf"),
        col("dl"), col("positions"), d.as("d"),
        DoubleParam.column(weights(i)).as("w"))
    }
    val defaults = (leaves.map(_._2).zip(leafDefaults.map(Known)) ++
      inner.map { case (i, lw) => i -> lw.default }).sortBy(_._1).map(_._2)
    // The union starts from an empty frame even when the leaf group is the
    // only part: a Union ends whole-stage codegen, so the scan's class is
    // shared by every merge operator instead of fused into each one's
    // aggregation (one class per operator and model, which overflows
    // Spark's codegen cache on a mixed query stream).
    Children(parts.foldLeft(emptyOf(childrenSchema))(_ union _), defaults)
  }

  // ------------------------------------------------------- merge operators

  /** Merged postings carry tf = dl = -1 and no positions, like the
    * reference's Posting(docId, score) (yairs/model/Posting.scala:14-16):
    * a positional operator over a merged child silently matches nothing.
    */
  private def opaque(df: DataFrame): DataFrame = df.select(
    col("docId"), col("score"), lit(-1).as("tf"), lit(-1).as("dl"),
    array().cast(ArrayType(IntegerType, containsNull = false)).as("positions"))

  private def boolAnd(c: Children): Lowered = {
    val merged = c.rows.groupBy("docId")
      .agg(min("score").as("score"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === c.defaults.length).drop("cnt")
    Lowered(opaque(merged), Known(0.0))
  }

  private def boolOr(c: Children): Lowered = {
    val merged = c.rows.groupBy("docId").agg(max("score").as("score"))
    Lowered(opaque(merged), Known(0.0))
  }

  /** k-way union-with-defaults merge (BM25/Indri AND, SUM, WEIGHT).
    *
    * Fast path (all defaults finite — every normal configuration):
    * score(doc) = Σ_present wᵢ(sᵢ − dᵢ) + Σ_all wᵢdᵢ — a plain
    * sum-aggregate with map-side partial combine.
    *
    * Exact path (a default that may be non-finite — e.g. k1 = 0 makes the
    * BM25 absent-term default 0/0 = NaN, a configuration the reference's
    * sweep runs actually exercise): the algebraic identity would poison
    * present docs with NaN, so instead gather per-child scores and replay
    * the reference's child-order summation per doc
    * (MultimergeSturcturedRetriever.scala:53-71) — absent children
    * contribute wᵢdᵢ, present ones wᵢsᵢ, NaN stays confined to the docs
    * the reference gives NaN to.
    *
    * Σ wᵢdᵢ over Planned child defaults is a column of the merged rows,
    * which join each such child's row, and the merge's default is Planned.
    */
  private def weightedMerge(c: Children, weights: Seq[Double]): Lowered = {
    // child i's Planned row joins as `c<i>`: the very frame its node joins
    // too, so Spark broadcasts it once for both
    val planned = c.defaults.zipWithIndex.collect {
      case (Planned(row, _), i) => row.as(s"c$i")
    }
    def withPlanned(df: DataFrame) =
      planned.foldLeft(df)((acc, row) => acc.crossJoin(broadcast(row)))
    val ds = c.defaults.zipWithIndex.map {
      case (Known(v), _) => DoubleParam.column(v)
      case (_, i)        => col(s"c$i.t")(0)
    }
    val (default, combined) = if (planned.isEmpty) {
      val v = c.defaults.collect { case Known(d) => d }
        .zip(weights).map { case (d, w) => d * w }.sum
      (Known(v), DoubleParam.column(v))
    } else {
      val total = ds.zip(weights)
        .map { case (d, w) => d * DoubleParam.column(w) }.reduce(_ + _)
      (Planned(planned.reduce(_ crossJoin _).select(array(total).as("t")),
        c.defaults.forall(_.finite) && weights.forall(java.lang.Double.isFinite)), total)
    }

    val merged = if (c.defaults.forall(_.finite)) {
      val summed = c.rows.groupBy("docId")
        .agg(sum((col("score") - col("d")) * col("w")).as("score"))
      withPlanned(summed).select(col("docId"), (col("score") + combined).as("score"))
    } else {
      val gathered = c.rows.groupBy("docId")
        .agg(map_from_entries(collect_list(struct(col("cidx"), col("score")))).as("s"))
      val (dArr, wArr) = (array(ds: _*), array(weights.map(DoubleParam.column): _*))
      withPlanned(gathered).select(col("docId"),
        aggregate(sequence(lit(0), lit(weights.length - 1)), lit(0.0), (acc, i) =>
          acc + coalesce(col("s")(i), element_at(dArr, i + 1)) *
            element_at(wArr, i + 1)).as("score"))
    }
    Lowered(opaque(merged), default)
  }

  /** Virtual-term construction shared by NEAR and UW: the matches' cf/df
    * aggregate to one row (default, p1, p2) — the scorer's own driver-side
    * functions, run on that row — broadcast and joined back to score every
    * match with the term scorer (the reference's second pass:
    * StructuredRetriever.scala:165-168,
    * MultimergeSturcturedRetriever.scala:154-164). All of it is plan: no
    * job runs and nothing is cached before the query's own action.
    */
  private def rescoreVirtual(matched: DataFrame, uwEmptyRule: Boolean): Lowered = {
    val s = scorer // the function ships the scorer, not the Engine
    val term = udf { (cf: Long, df: Long) =>
      val (p1, p2) = s.termParams(cf, df)
      // UW with zero matches returns the empty list with default 0
      // (MultimergeSturcturedRetriever.scala:161-162), NOT the scored
      // default — for Indri those differ (scorer(0,0,0,avgdl) = MIN_VALUE)
      Seq(if (uwEmptyRule && cf == 0L) 0.0 else s.defaultScore(cf, df), p1, p2)
    }
    val params = matched.agg(term(coalesce(sum("tf"), lit(0L)).cast("long"),
      count(lit(1))).as("t"))
    val scored = matched.crossJoin(broadcast(params)).select(
      col("docId"),
      scorer.termScoreCol((col("t")(1), col("t")(2)), col("tf"), col("dl")).as("score"),
      col("tf"), col("dl"), col("positions"))
    Lowered(scored, Planned(params, scorer.defaultsFinite))
  }

  private def near(children: Seq[Lowered], k: Int): Lowered = {
    if (children.length == 1) return children.head // fold pass-through
                                                   // (StructuredRetriever.scala:58-67)
    val matched = children.map(_.df).reduceLeft { (l, r) =>
      val left = l.select(col("docId"), col("dl"), col("positions").as("pos1"))
      val right = r.select(col("docId"), col("positions").as("pos2"))
      left.join(right, Seq("docId"), "inner")
        .withColumn("mpos", expr(s"near_matches(pos1, pos2, $k)"))
        .filter(size(col("mpos")) > 0)
        // tf = #matches; dl kept from the LEFT posting; positions = matched
        // right-hand positions (StructuredRetriever.scala:139-147)
        .select(col("docId"), lit(0.0).as("score"),
          size(col("mpos")).as("tf"), col("dl"), col("mpos").as("positions"))
    }
    rescoreVirtual(matched, uwEmptyRule = false)
  }

  private def uw(c: Children, k: Int): Lowered = {
    val gathered = c.rows
      .groupBy("docId")
      .agg(count(lit(1)).as("cnt"),
        sort_array(collect_list(struct(col("cidx"), col("dl"),
          col("positions")))).as("lists"))
      .filter(col("cnt") === c.defaults.length) // doc must appear in ALL
                                  // lists (MultimergeSturcturedRetriever.scala:117)
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

  /** Lower a query tree. Every inner node reads its leaf children with one
    * postings scan ([[leafGroup]]) — the reference merges all of a node's
    * lists in one pass too (MultimergeSturcturedRetriever.scala:31-87) —
    * so a flat n-term query plans one scan, not n. A leaf standing alone
    * (the root, or a #NEAR child, whose join fold takes one list at a
    * time) is a group of one.
    */
  def lower(node: QNode): Lowered = node match {
    case l: QLeaf =>
      // a group of one feeds a #NEAR join or the ranking, not a merge: no
      // union, so the planner still sees the scan's size and can
      // broadcast it into the join
      val (rows, defaults) = leafGroup(Seq((l, 0, 1.0)))
      rows.fold(emptyLowered)(r =>
        Lowered(r.select(postingCols: _*), Known(defaults.head)))
    case inner: QInner => lowerInner(inner)
  }

  private def lowerInner(node: QInner): Lowered = {
    // stop-leaf children pruned at evaluation, not parse
    // (StructuredRetriever.scala:29-33)
    val kept = node.children.filterNot(_.isStopLeaf)
    if (kept.isEmpty) return emptyLowered
    val n = kept.length
    // Fidelity quirk: the reference prunes stop children but zips the
    // UNPRUNED weights list against the pruned lists (zip truncates,
    // MultimergeSturcturedRetriever.scala:40-44), so after a stop child is
    // dropped the remaining lists take the FIRST n weights positionally —
    // not their own. Reproduced.
    val weights =
      if (node.op == QOp.WEIGHT) node.weights.take(n) else Seq.fill(n)(1.0)
    def unsupported(what: String) =
      throw new UnsupportedOperationException(s"$model does not support $what")
    node.op match {
      case QOp.NEAR => near(kept.map(lower), node.prox)
      // a one-child Boolean merge passes its child through unmerged
      case QOp.OR | QOp.AND | QOp.SUM if n == 1 && model.isInstanceOf[Bool] =>
        lower(kept.head)
      case op =>
        val c = children(kept, weights)
        op match {
          case QOp.OR => model match {
            case Bool(_) => boolOr(c)
            case _ => unsupported("OR") // MultimergeSturctured…:250-252
          }
          case QOp.AND | QOp.SUM => model match {
            case Bool(_) => boolAnd(c)
            case _       => weightedMerge(c, weights)
          }
          case QOp.WEIGHT => model match {
            case Indri(_, _, _) => weightedMerge(c, weights)
            case _ => unsupported("WEIGHT") // BM25Retriever.scala:65-67
          }
          case QOp.UW => model match {
            case Bool(_) => unsupported("UW") // BooleanRetriever.scala:205-210
            case _ => uw(c, node.prox)
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
    * latencies. Results keep query order. A query's plan holds all of its
    * state, so in-flight queries share nothing but the index.
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
      queries.flatMap { case (qid, q) => rowsOf(qid, q) }
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
      } finally if (wedged) pool.shutdownNow() else pool.shutdown()
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

/** One row of an [[Engine]] leaf group's literal table: the (term, field)
  * key, and per child listing it, its index and doubles — the score
  * parameters ([[Scorer.termParams]]), the absent-term default and the
  * weight.
  */
private[query] case class LeafKey(term: String, field: String)
private[query] case class LeafParams(cidx: Int, p1: Double, p2: Double,
                                     d: Double, w: Double)
